package graft
package contract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.engine.Context.{deleteTree, scratch}
import graft.engine.Tables
import graft.functions.native
import graft.similarity.Ann
import graft.streaming.Streams

import Shared._

/** Structured Streaming queries. */
object StreamingQueries {

  /** Run `body` against a fresh feed directory under the per-process
    * scratch root, then delete the directory. Only for bodies whose
    * RESULT is feed-independent (the streaming contract queries return a
    * detached LocalRelation from the memory sink — see
    * Streams.runToMemory): a bench/verify sweep runs hundreds of these
    * per JVM and must not leak one full table copy of disk per stream
    * query per sweep. Deletion is best-effort
    * ([[graft.engine.Context.deleteTree]]); a JVM stopped by SIGTERM
    * skips the `finally`, and the scratch root's shutdown hook deletes
    * the feed instead. */
  private def withTempFeed(prefix: String)(body: String => DataFrame): DataFrame = {
    val feed = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(scratch("")), prefix)
    try body(feed.toString)
    finally deleteTree(feed)
  }

  /** Shared builder for the streamed-ingest-store queries: trains IVF on
    * the resident 80% of embeddings, writes the `ingest=base` layer,
    * streams the 20% batch through Streams.indexAppend in two
    * exactly-once micro-batches, and returns (store root, driver-local
    * centroids). ONE body for q_stream_index_append and
    * q_stream_index_compact so the two contract paths can never drift. */
  private def buildStreamedIngestStore(s: SparkSession, dir: String,
      feed: String): (String, DataFrame) = {
    val emb = t(s, dir, "embeddings")
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    // driver-local centroids (k rows): per-batch assignment must not
    // re-run the training lineage inside foreachBatch
    val cents = graft.similarity.Ivf.localizeCentroids(
      graft.similarity.Ivf.train(base, k = 8, iters = 1))
    val store = scratch("ivf_stream_store")
    // fresh root per run: stale ingest=b* keys from a prior in-process
    // run (JobProfile re-runs a query) must not leak into this run's
    // probe — batch numbering restarts with the fresh checkpoint, and
    // only ingest=base is overwritten by the base write
    org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(store), true)
    graft.similarity.Ivf.writeIngestStore(base, cents, store)
    val in = s"$feed/in"; new java.io.File(in).mkdirs()
    // phase files: each phase ONE atomically-renamed parquet file
    def phase(p: DataFrame): Unit =
      p.coalesce(1).write.mode("append").parquet(in)
    phase(batch.filter(col("vec_id") % 10 === 0)) // lands before start
    Streams.drive(Streams.indexAppend(Streams.fileStreams(s, 4, in).head,
        cents, store, s"$feed/ckpt"),
      Seq(() => (), () => phase(batch.filter(col("vec_id") % 10 =!= 0))))
    (store, cents)
  }

  /** Twin of the streaming CDC pipeline (q_cdc_stream): replays the same
    * three version-ordered change epochs SEQUENTIALLY over the seeded
    * customer snapshot — latest change per key within an epoch, merged
    * with partial-update + delete semantics, each epoch reading the
    * previous epoch's state. Epoch boundaries must match the date cuts
    * in the Spark query exactly. */
  private val cdcStreamTwin: String = {
    val epochs = Seq(
      "o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'",
      "o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' AND " +
        "o_orderdate < TIMESTAMP '2000-01-01 00:00:00'",
      "o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'")
    val steps = epochs.zipWithIndex.map { case (pred, i) =>
      val n = i + 1
      s"""l$n AS (
           SELECT o_custkey AS k, o_totalprice AS new_bal,
                  (o_orderstatus = 'P') AS del
           FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                 FROM orders WHERE $pred)
           WHERE rn = 1),
         s$n AS (
           SELECT COALESCE(b.c_custkey, l.k) AS c_custkey,
                  b.c_name AS c_name,
                  b.c_mktsegment AS c_mktsegment,
                  CASE WHEN l.k IS NOT NULL
                       THEN COALESCE(l.new_bal, b.c_acctbal)
                       ELSE b.c_acctbal END AS c_acctbal
           FROM s${i} b FULL OUTER JOIN l$n l ON b.c_custkey = l.k
           WHERE l.k IS NULL OR NOT l.del)"""
    }
    s"""WITH s0 AS (
           SELECT c_custkey, c_name, c_mktsegment, c_acctbal
           FROM customer WHERE c_custkey % 7 <> 0),
         ${steps.mkString(",\n         ")}
         SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM s3
         ORDER BY c_custkey"""
  }

  val queries: Seq[ContractQuery] = Seq(
    // streaming exact dedup (dropDuplicatesWithinWatermark) driven as a
    // REAL stream: the events table feeds a file-source stream, the
    // watermarked dedup state keeps one row per (user_id, event_type),
    // and the memory sink materializes the survivors. All files land in
    // the first micro-batch (no trigger cap), so no state is evicted
    // mid-run and the surviving key set is exactly the batch distinct —
    // which row per key survives is engine-arbitrary, so the hashed
    // output aggregates to per-type distinct-user counts. Multi-batch
    // eviction behavior is covered behaviorally in StreamingSpec.
    ContractQuery("q_stream_dedup", (s, dir) => withTempFeed("graft_sdedup") { feed =>
      t(s, dir, "events").select(col("ts"), col("user_id"),
          col("event_type"))
        .write.mode("overwrite").parquet(feed)
      val streamed = Streams.streamingDedup(Streams.fileStreams(s, 4, feed).head,
        Seq("user_id", "event_type"), watermark = "1 hour")
      Streams.runToMemory(streamed, OutputMode.Append())
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_keys"))
        .orderBy("event_type")
    },
      // the watermarked streaming dedup's surviving key set equals batch
      // distinct when everything lands in one micro-batch (see query doc)
      """SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // REAL stream-stream join: click and view FILE-SOURCE streams, BOTH
    // watermarked, joined on user within [ts, ts+10min] — the
    // state-evictable shape (watermark on each side + time-bounded
    // condition) that runs with bounded memory on unbounded input. Inner
    // matches emit eagerly, so a finite stream converges to exactly the
    // batch join; the twin replays it as ordinary SQL.
    ContractQuery("q_stream_join", (s, dir) => withTempFeed("graft_sjoin") { feed =>
      // every 4th user: the stream-stream machinery (dual watermarked
      // state stores, time-bounded eviction) is what's under contract;
      // state volume is not — the un-filtered shape is q_interval_join
      val ev = t(s, dir, "events").filter(col("user_id") % 4 === 0)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"))
      ev.filter(col("event_type") === "click").coalesce(4)
        .write.mode("overwrite").parquet(s"$feed/clicks")
      ev.filter(col("event_type") === "view").coalesce(4)
        .write.mode("overwrite").parquet(s"$feed/views")
      val Seq(clicks, views) =
        Streams.fileStreams(s, 4, s"$feed/clicks", s"$feed/views")
      Streams.runToMemory(Streams.intervalJoin(clicks, views, "10 minutes"),
          OutputMode.Append())
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("user_id")).as("n_users"))
    },
      // the streaming inner interval join on a finite stream equals the
      // batch join — the twin is that batch join, aggregated
      """SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_users
         FROM events c JOIN events v
           ON c.user_id = v.user_id
          AND CAST(v.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
          AND CAST(v.ts AS TIMESTAMP)
              <= CAST(c.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
         WHERE c.event_type = 'click' AND v.event_type = 'view'
           AND c.user_id % 4 = 0 AND v.user_id % 4 = 0"""),

    // STREAMING near-dup candidate generation: the codegen'd SimHash64
    // native expression runs inside micro-batches, docs bucket by
    // 16-bit simhash chunks (the q_dedup_simhash pigeonhole), and the
    // Complete-mode counts converge to the batch bucket census — the
    // shape of an always-on ingest dedup front end. The twin replays
    // the FNV simhash bit-exactly in HUGEINT and rebuilds the chunk
    // values from the bit list
    ContractQuery("q_stream_neardup", (s, dir) => withTempFeed("graft_sneardup") { feed =>
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .coalesce(4).write.mode("overwrite").parquet(feed)
      val src = Streams.fileStreams(s, 4, feed).head
      val chunkVals = array((0 until 4).map(i =>
        shiftrightunsigned(col("sh"), i * 16)
          .bitwiseAND(lit(0xffffL))): _*)
      val buckets = src
        .select(col("doc_id"), native.simhash64(col("text")).as("sh"))
        .select(col("doc_id"), posexplode(chunkVals)
          .as(Seq("chunk_id", "chunk_val")))
        .groupBy("chunk_id", "chunk_val").agg(count(lit(1)).as("c"))
      Streams.runToMemory(buckets, OutputMode.Complete())
        .filter(col("c") > 1L)
        .agg(count(lit(1)).as("n_hot_buckets"),
          sum(col("c") * (col("c") - lit(1L))).as("p2"))
        .select(col("n_hot_buckets"),
          expr("p2 div 2").as("n_candidate_pairs"))
    },
      // streaming-near-dup twin: the q_dedup_simhash bit replay, chunk
      // values rebuilt as Σ bits[16i+j]·2^(j−1) in BIGINT shifts, then
      // the same hot-bucket census; a finite Complete-mode stream equals
      // this batch result exactly
      (simhashBitsCte +
      """,
         ch AS (
           SELECT sh.doc_id, t.i AS chunk_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, 16),
                 j -> CAST(bits[t.i * 16 + j] AS BIGINT)
                   * (CAST(1 AS BIGINT) << (j - 1)))),
               (a, b) -> a + b) AS chunk_val
           FROM sh, unnest(generate_series(0, 3)) AS t(i)),
         g AS (SELECT chunk_id, chunk_val, count(*) AS c
           FROM ch GROUP BY 1, 2)
         SELECT CAST(count(*) AS BIGINT) AS n_hot_buckets,
           CAST(sum(c * (c - 1)) // 2 AS BIGINT) AS n_candidate_pairs
         FROM g WHERE c > 1""")),

    // STREAMING ANN index maintenance: the resident 80% is trained and
    // stored as the `ingest=base` layer (the nightly index), then the
    // 20% batch arrives as a real two-phase file-source stream whose
    // micro-batches are assigned to the FROZEN centroids and written
    // EXACTLY-ONCE under their own ingest=b<batchId> keys
    // (Streams.indexAppend — idempotent overwrite per batch, so a
    // crash-replayed batch cannot double rows). Assignment being a
    // deterministic per-row function, the streamed store holds the same
    // rows as a batch append — so the probe result and the twin are
    // q_ann_incremental's verbatim. The store is overwritten per run
    // under the per-process scratch root; feed + checkpoint are
    // temp-scoped.
    ContractQuery("q_stream_index_append", (s, dir) => withTempFeed("graft_sindex") { feed =>
      val (store, cents) = buildStreamedIngestStore(s, dir, feed)
      graft.similarity.Ivf.ivfTopKFromStore(store,
          Ann.selfQueries(t(s, dir, "embeddings"), 10), cents,
          k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      // the STREAMED append converges to the same store as the batch
      // append (deterministic per-row assignment), so the twin is
      // q_ann_incremental's verbatim
      (kmeansAssignBaseCtes("vec_id % 5 <> 0") + ivfProbeSuffix(10))),

    // index-store COMPACTION (the maintenance step of the always-on
    // ingest lifecycle): the same exactly-once streamed store, folded
    // into a fresh single-base root — every micro-batch adds ~one file
    // per touched cell, so an unbounded feed means unbounded file
    // counts; compaction is one read + one range-clustered rewrite (no
    // centroid work — rows are already assigned). The in-line require
    // gates that compaction actually shrank the file count, and the
    // probe of the COMPACTED store carries the same rows — so the twin
    // is q_ann_incremental's verbatim, shared with the append query
    ContractQuery("q_stream_index_compact", (s, dir) => withTempFeed("graft_sindexc") { feed =>
      val (store, cents) = buildStreamedIngestStore(s, dir, feed)
      val compacted = scratch("ivf_compacted_store")
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(compacted), true)
      val (before, after) =
        graft.similarity.Ivf.compactIngestStore(s, store, compacted)
      require(after < before,
        s"compaction must shrink the store: $before -> $after files")
      graft.similarity.Ivf.ivfTopKFromStore(compacted,
          Ann.selfQueries(t(s, dir, "embeddings"), 10), cents,
          k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      // compacted streamed store: compaction rewrites the same rows, so
      // the probe — and the twin — are the append query's verbatim
      (kmeansAssignBaseCtes("vec_id % 5 <> 0") + ivfProbeSuffix(10))),

    // watermark LATE-DATA accounting, driven as a real two-phase stream:
    // phase 1 feeds on-time rows (even users, hours [0,4)) — the
    // watermark advances to max(ts)-30min and Append mode emits the
    // closed hour windows; phase 2 feeds the stragglers (odd users,
    // same hours) plus hours [4,6). Stragglers whose window closed in
    // phase 1 are DROPPED by the engine; stragglers for the still-open
    // hour-3 window are counted. The twin replays the exact semantics:
    // wm1 from phase-1 data gates which phase-2 rows count, wm2 gates
    // which windows were ever emitted (hour 5 never closes). A hash
    // match makes Spark's watermark drop/eviction rule a verified
    // contract, not a doc claim
    ContractQuery("q_stream_late", (s, dir) => withTempFeed("graft_slate") { feed =>
      val h4 = lit("2024-01-01 04:00:00").cast(TimestampType)
      val h6 = lit("2024-01-01 06:00:00").cast(TimestampType)
      val ev = t(s, dir, "events")
        .select(col("ts"), col("user_id"), col("event_type"))
      // phase-0 feed lands BEFORE the query starts → one deterministic
      // first batch; later phases are single atomically-renamed files
      ev.filter(col("user_id") % 2 === 0 && col("ts") < h4)
        .coalesce(1).write.mode("append").parquet(feed)
      val late = ev.filter(
        (col("user_id") % 2 === 1 && col("ts") < h4) ||
          (col("ts") >= h4 && col("ts") < h6))
      Streams.runToMemory(
          Streams.windowedCounts(Streams.fileStreams(s, 4, feed).head),
          OutputMode.Append(),
          Seq(() => (),
            () => late.coalesce(1).write.mode("append").parquet(feed)))
        .select(col("window.start").as("window_start"),
          col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    },
      // watermark-semantics replay: wm1 = phase-1 max(ts) − 30min decides
      // which phase-2 stragglers the engine DROPPED (window end <= wm1);
      // wm2 = overall max(ts) − 30min decides which windows were ever
      // EMITTED (end <= wm2). Counts sum on-time + surviving-late rows.
      // ts cast to TIMESTAMP (micros) to match the engine's precision.
      // Both watermarks are epoch-guarded: an EMPTY phase subset leaves
      // the engine's watermark at its initial value (drop nothing) — a
      // NULL max(ts) here would instead drop EVERYTHING in c2, a silent
      // data-dependent divergence
      """WITH f1 AS (
           SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
           WHERE user_id % 2 = 0
             AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-01 04:00:00'),
         f2 AS (
           SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
           WHERE (user_id % 2 = 1
               AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-01 04:00:00')
             OR (CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 04:00:00'
               AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-01 06:00:00')),
         w1 AS (SELECT coalesce(max(ts) - INTERVAL 30 MINUTE,
             TIMESTAMP '1970-01-01') AS wm FROM f1),
         w2 AS (SELECT coalesce(max(ts) - INTERVAL 30 MINUTE,
             TIMESTAMP '1970-01-01') AS wm FROM
           (SELECT ts FROM f1 UNION ALL SELECT ts FROM f2)),
         c1 AS (SELECT date_trunc('hour', ts) AS ws, event_type,
             count(*) AS n
           FROM f1 GROUP BY 1, 2),
         c2 AS (SELECT date_trunc('hour', ts) AS ws, event_type,
             count(*) AS n
           FROM f2, w1
           WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > w1.wm
           GROUP BY 1, 2),
         u AS (SELECT ws, event_type, CAST(sum(n) AS BIGINT) AS n
           FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
           GROUP BY 1, 2)
         SELECT u.ws AS window_start, u.event_type, u.n
         FROM u, w2 WHERE u.ws + INTERVAL 1 HOUR <= w2.wm
         ORDER BY 1, 2"""),

    // streaming CDC apply, end-to-end: the SAME merge as q_upsert but
    // maintained by Streams.cdcApply over three bounded, version-ordered
    // change feeds (micro-batch epochs) chained onto one versioned
    // snapshot store seeded with the customer base. The final snapshot
    // equals the one-shot batch upsert — latest-wins converges when
    // batches arrive in version order — so the query shares q_upsert's
    // oracle. Exercises the streaming-maintained table: file-source
    // streams, foreachBatch exactly-once versioning, epoch chaining.
    ContractQuery("q_cdc_stream", (s, dir) => {
      val root = scratch("cdc_stream")
      val hfs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      hfs.delete(new org.apache.hadoop.fs.Path(root), true)
      val base = t(s, dir, "customer")
        .filter(col("c_custkey") % 7 =!= 0)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
      base.write.mode("overwrite").parquet(s"$root/snap/v=0")
      val changes = t(s, dir, "orders").select(
        col("o_custkey").as("c_custkey"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderdate"), col("o_orderkey"),
        (col("o_orderstatus") === "P").as("_is_del"))
      val cuts = Seq(
        col("o_orderdate") < lit("1998-01-01").cast(TimestampType),
        col("o_orderdate") >= lit("1998-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("2000-01-01").cast(TimestampType),
        col("o_orderdate") >= lit("2000-01-01").cast(TimestampType))
      val feeds = cuts.indices.map(i => s"$root/feed$i")
      cuts.zip(feeds).foreach { case (cut, feed) =>
        changes.filter(cut).write.mode("overwrite").parquet(feed)
      }
      // the epochs chain onto one snapshot store, so they run in order
      Streams.fileStreams(s, 4, feeds: _*).zipWithIndex.foreach { case (src, i) =>
        Streams.drive(Streams.cdcApply(src, s"$root/snap", s"$root/ckpt$i",
          "c_custkey", versionCols = Seq("o_orderdate", "o_orderkey"),
          partial = true, deleteCol = Some("_is_del"),
          epoch = (i + 1) * 1000000L))
      }
      val newest = hfs.listStatus(new org.apache.hadoop.fs.Path(s"$root/snap"))
        .map(_.getPath.getName).filter(_.startsWith("v="))
        .map(_.drop(2).toLong).max
      Tables.parquet(s, s"$root/snap/v=$newest").orderBy("c_custkey")
    },
      // the twin REPLAYS the three epochs sequentially — true CDC history
      // semantics differ from the one-shot merge: a key deleted in an early
      // epoch and re-inserted later has lost its base-only columns
      // (c_name/c_mktsegment), which a global latest-wins would resurrect
      cdcStreamTwin),

    // the SELF-DRIVING lifecycle (VERDICT r10 #3): drift repair wired
    // INTO the always-on ingest stream, audited every batch. v=1 trains
    // on the whole current corpus; the stream then feeds two audited
    // micro-batches. Phase 1 is an IN-DISTRIBUTION wave (5 exact copies
    // of every vec_id%10=0 vector under fresh ids): each wave query's
    // true top-5 are its own sibling copies + source, which share its
    // exact assignment cell, so the audit measures recall 1.0
    // STRUCTURALLY (at any SF) and must NOT advance the version. Phase
    // 2 is a SHIFTED wave (vec_id%10=5 re-encoded by reversal — a new
    // encoder's vectors landing in the same store): its queries' true
    // neighbors scatter across cells the frozen quantizer never carved
    // (measured recall@5 0.30-0.48 across sf0.001/0.01/0.1 vs the 0.8
    // floor), so the in-stream reindexIfDrifted retrains on the store's
    // full content and publishes v=2 mid-stream. The requires pin the
    // version trail (held at v1 after phase 1, advanced EXACTLY once
    // after phase 2); the hash-checked result is the post-swap probe.
    // The recall-RECOVERY semantics of the swap are StreamingSpec's
    // designed-cluster twin test (recovery needs real cluster
    // structure, which these isotropic synthetic vectors lack). The
    // twin replays train+probe over the full union corpus — possible
    // because the whole chain is content-deterministic
    ContractQuery("q_stream_reindex", (s, dir) => withTempFeed("graft_sreidx") { feed =>
      val emb = t(s, dir, "embeddings")
      val root = scratch("ivf_stream_reindex")
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      val v1 = graft.similarity.Ivf.writeVersionedIndex(
        emb.select(col("vec_id"), col("embedding")), k = 8, root)
      val w1 = Seq(100000L, 110000L, 120000L, 130000L, 140000L).map(o =>
          emb.filter(pmod(col("vec_id"), lit(10)) === 0)
            .select((col("vec_id") + o).as("vec_id"), col("embedding")))
        .reduce(_ unionByName _)
      // the shifted wave: a PER-ID sign mask (exact in float, so the
      // twin replays it bit-for-bit) — unlike reversal, it decorrelates
      // the wave from the trained quantizer AND from itself, so the
      // audit scatters on ANY corpus geometry (reversed near-dup
      // FAMILIES co-locate and never trip the gate on the densified
      // 10x Stress corpus; masked vectors have no family
      // structure to hide in)
      val w2 = emb.filter(pmod(col("vec_id"), lit(10)) === 5)
        .select((col("vec_id") + 200000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x * when(pmod(graft.functions.Profile.hash32(
                col("vec_id") * 64 + i), lit(2L)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f))).as("embedding"))
      val in = s"$feed/in"; new java.io.File(in).mkdirs()
      def phase(p: DataFrame): Unit =
        p.coalesce(1).write.mode("append").parquet(in)
      phase(w1) // lands before start -> one deterministic first batch
      Streams.drive(Streams.indexAppendAudited(Streams.fileStreams(s, 4, in).head,
          root, s"$feed/ckpt", auditEvery = 1, floor = 0.8, k = 5, nprobe = 2,
          kCents = 8),
        Seq(() => (), () => {
          require(graft.similarity.Ivf.indexVersion(s, root) == v1,
            "the in-distribution wave must not trigger a retrain")
          phase(w2)
        }))
      val v2 = graft.similarity.Ivf.indexVersion(s, root)
      require(v2 == v1 + 1,
        s"the shifted wave must advance the version exactly once: $v1 -> $v2")
      graft.similarity.Ivf.ivfTopKFromVersioned(s, root,
          Ann.selfQueries(emb, 10), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      // in-stream drift repair: v=2 retrained on the store's full content
      // (originals + the 5-copy duplicate wave + the sign-mask re-encoded
      // wave), so the twin is the full train+probe replay over exactly
      // that union corpus — seeds stay the 8 lowest ORIGINAL ids (wave
      // ids are offset far above every corpus id), and the probe queries
      // (vec_id < 10) are original rows
      (kmeansAssignCorpusCtes("TRUE", "TRUE",
        s"""SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           UNION ALL
           SELECT vec_id + o, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings, (VALUES (100000), (110000), (120000),
             (130000), (140000)) AS offs(o)
           WHERE vec_id % 10 = 0
           UNION ALL
           SELECT vec_id + 200000,
             list_transform(CAST(embedding AS DOUBLE[]), (x, i) ->
               x * (CASE WHEN (${hash32Sql("vec_id*64 + i - 1")}) % 2 = 0
                    THEN 1.0 ELSE -1.0 END)) AS v
           FROM embeddings WHERE vec_id % 10 = 5""") + ivfProbeSuffix(10))),

    // the WHOLE always-on lifecycle in ONE job: ingest + per-batch
    // audit + drift retrain + THRESHOLDED compaction + vacuum, all on
    // their cadences inside indexAppendAudited. Three audited batches:
    // two in-distribution 5-copy duplicate waves (audits structurally
    // 1.0, version held; after the second, the compaction cadence
    // fires and folds the three store layers into v=2 — fewer files,
    // single base, the _folded_through marker carrying batch 1), then
    // the sign-mask re-encoded wave whose audit trips the retrain to
    // v=3 — after which the in-stream vacuum (keepN=2) retires v=1.
    // The requires pin the full trail: version 1 -> 2(compact) ->
    // 3(retrain), file count shrank at the fold, exactly {v=2, v=3}
    // directories survive, and the manifest serves v=3. The twin is
    // the full train+probe replay over the union corpus — every stage
    // is content-deterministic
    ContractQuery("q_stream_lifecycle", (s, dir) => withTempFeed("graft_slife") { feed =>
      val emb = t(s, dir, "embeddings")
      val root = scratch("ivf_stream_lifecycle")
      val fs = org.apache.hadoop.fs.FileSystem
        .get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val v1 = graft.similarity.Ivf.writeVersionedIndex(
        emb.select(col("vec_id"), col("embedding")), k = 8, root)
      def dupWave(residue: Int, offs: Seq[Long]): DataFrame = offs.map(o =>
          emb.filter(pmod(col("vec_id"), lit(30)) === residue)
            .select((col("vec_id") + o).as("vec_id"), col("embedding")))
        .reduce(_ unionByName _)
      val w1a = dupWave(0, Seq(100000L, 110000L, 120000L, 130000L, 140000L))
      val w1b = dupWave(10, Seq(150000L, 160000L, 170000L, 180000L, 190000L))
      val w2 = emb.filter(pmod(col("vec_id"), lit(10)) === 5)
        .select((col("vec_id") + 200000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x * when(pmod(graft.functions.Profile.hash32(
                col("vec_id") * 64 + i), lit(2L)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f))).as("embedding"))
      val in = s"$feed/in"; new java.io.File(in).mkdirs()
      def phase(p: DataFrame): Unit =
        p.coalesce(1).write.mode("append").parquet(in)
      phase(w1a) // lands before start -> one deterministic first batch
      def files(v: Long) = fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$root/v=$v/store/ingest=*/centroid_id=*/part-*")).length
      var filesV1 = 0 // v1's store as the first drain left it
      Streams.drive(Streams.indexAppendAudited(Streams.fileStreams(s, 4, in).head,
          root, s"$feed/ckpt", auditEvery = 1, floor = 0.8, k = 5, nprobe = 2,
          kCents = 8, compactEvery = 2, keepVersions = 2),
        Seq(() => (), () => {
          require(graft.similarity.Ivf.indexVersion(s, root) == v1,
            "the first in-distribution wave must hold the version")
          filesV1 = files(v1)
          phase(w1b)
        }, () => {
          val vC = graft.similarity.Ivf.indexVersion(s, root)
          require(vC == v1 + 1,
            s"the compaction cadence must publish v=${v1 + 1}: got $vC")
          require(graft.similarity.Ivf.ingestLayerCount(s, root, vC) == 1,
            "the compacted version must be single-base")
          require(files(vC) < filesV1,
            s"compaction must shrink the store: $filesV1 -> ${files(vC)} files")
          phase(w2)
        }))
      val v3 = graft.similarity.Ivf.indexVersion(s, root)
      require(v3 == v1 + 2,
        s"the re-encoded wave must retrain exactly once: got v=$v3")
      val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .map(_.getPath.getName).filter(_.startsWith("v=")).sorted.toSeq
      require(dirs == Seq(s"v=${v1 + 1}", s"v=${v1 + 2}"),
        s"the in-stream vacuum must keep exactly the newest 2: $dirs")
      graft.similarity.Ivf.ivfTopKFromVersioned(s, root,
          Ann.selfQueries(emb, 10), k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    },
      // the full in-stream lifecycle: v=3 retrained on the store's
      // complete content — originals, BOTH 5-copy duplicate waves
      // (%30=0 and %30=10 slices under their offset blocks; the
      // mid-stream compaction rewrites, never changes, these rows), and
      // the sign-mask re-encoded wave — so the twin is the train+probe
      // replay over exactly that union corpus
      (kmeansAssignCorpusCtes("TRUE", "TRUE",
        s"""SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           UNION ALL
           SELECT vec_id + o, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings, (VALUES (100000), (110000), (120000),
             (130000), (140000)) AS offs(o)
           WHERE vec_id % 30 = 0
           UNION ALL
           SELECT vec_id + o, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings, (VALUES (150000), (160000), (170000),
             (180000), (190000)) AS offs(o)
           WHERE vec_id % 30 = 10
           UNION ALL
           SELECT vec_id + 200000,
             list_transform(CAST(embedding AS DOUBLE[]), (x, i) ->
               x * (CASE WHEN (${hash32Sql("vec_id*64 + i - 1")}) % 2 = 0
                    THEN 1.0 ELSE -1.0 END)) AS v
           FROM embeddings WHERE vec_id % 10 = 5""") + ivfProbeSuffix(10)))
  )
}
