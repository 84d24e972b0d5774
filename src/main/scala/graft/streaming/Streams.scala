package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, StreamingQueryProgress, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._
import java.sql.Timestamp
import graft.engine.Tables

/** Structured Streaming operators over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming at all (SURVEY.md §1.1: its tokio
  * "streams" are pull-based batch iteration) — this module is
  * beyond-reference capability, built on the engine Spark was designed
  * around: the same DataFrame transforms run in batch and incremental
  * modes, so each builder below takes "events" that may come from
  * `spark.read` or `spark.readStream`.
  *
  * Scale notes: watermarks bound state; windowed aggregation state is
  * partitioned by (window, key) across executors; sessionization state by
  * user_id. Nothing here collects to the driver.
  */
object Streams {

  /** Tumbling-window counts/sums per event_type with a watermark for
    * late-data handling. Works on batch input too (window() is an ordinary
    * grouping expression there; the watermark is a no-op in batch). */
  def hourlyTypeCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** Sliding-window per-type rates (window length / slide as args). */
  def slidingCounts(events: DataFrame, length: String = "1 hour",
      slide: String = "15 minutes", watermark: String = "1 hour"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), length, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("event_type"), col("n_events"))
  }

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  /** Open-session accumulator; sum kept as an exact 6-dp scaled long so the
    * result is order-independent and bit-identical to a DECIMAL(18,6) SQL
    * accumulation. */
  case class SessionState(startTs: Long, lastTs: Long, count: Long, sumScaled: Long)
  case class UserSession(user_id: Long, session_start_ms: Long,
      session_end_ms: Long, n_events: Long, sum_value: Double)

  /** Spark's double→DECIMAL(18,6) cast semantics (shortest-string BigDecimal,
    * HALF_UP) so the Scala accumulation matches a SQL decimal sum exactly. */
  private def scaled6(v: Double): Long =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact

  /** Custom stateful sessionization via flatMapGroupsWithState: a per-user
    * session closes when the next event arrives more than `gapMs` after the
    * previous one, and, in streaming, when the event-time WATERMARK passes
    * `lastTs + gapMs` (an event-time timeout — deterministic and data-
    * driven; a processing-time timeout would make the engine spin empty
    * batches while any state is alive). Emits one row per CLOSED session;
    * in batch mode every session is closed at end of input. Demonstrates
    * arbitrary state — the escape hatch for semantics windowed aggs can't
    * express. */
  /** `maxSessionMs` additionally closes a session when an arriving event
    * would stretch its duration past the cap (a user active non-stop —
    * e.g. a bot — would otherwise hold one session open forever, which in
    * streaming means state that never times out). Split decisions are
    * made in arrival order against the current state; a late
    * within-watermark event merges without re-splitting (append-mode
    * output can't retract an already-emitted session). */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "1 hour",
      maxSessionMs: Long = Long.MaxValue): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    if (!events.isStreaming) return sessionizeBatch(events, gapMs, maxSessionMs)
    val src = events.withWatermark("ts", watermark).as[Event]
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evs: Iterator[Event], state: GroupState[SessionState]) =>
          def close(s: SessionState): UserSession =
            UserSession(userId, s.startTs, s.lastTs, s.count,
              new java.math.BigDecimal(
                java.math.BigInteger.valueOf(s.sumScaled), 6).doubleValue)
          if (state.hasTimedOut) {
            val out = state.getOption.map(close).iterator.toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = evs.toArray.sortBy(e => (e.ts.getTime, e.event_id))
            val out = scala.collection.mutable.ArrayBuffer.empty[UserSession]
            var cur = state.getOption.orNull
            sorted.foreach { e =>
              val t = e.ts.getTime; val v = scaled6(e.value)
              if (cur == null)
                cur = SessionState(t, t, 1L, v)
              else if (t - cur.lastTs > gapMs || t - cur.startTs > maxSessionMs) {
                out += close(cur); cur = SessionState(t, t, 1L, v)
              } else
                // A late (within-watermark) event from a later micro-batch
                // may precede the recorded state: never regress the session
                // end (the gap is always measured against the max-so-far
                // timestamp) and extend the start backwards if needed.
                cur = SessionState(math.min(cur.startTs, t),
                  math.max(cur.lastTs, t), cur.count + 1, cur.sumScaled + v)
            }
            if (cur != null) {
              state.update(cur)
              state.setTimeoutTimestamp(cur.lastTs + gapMs)
            }
            out.iterator
          }
      }
  }

  /** Batch sessionization as a SECONDARY SORT: repartition by user, sort
    * within partitions by (user, ts, event_id), then stream every
    * partition's rows through a one-pass accumulator. No per-user
    * materialization anywhere — a degenerate user with a billion events
    * costs one running SessionState, not an in-task array (the streaming
    * path has the same property because its state is one SessionState per
    * user; this keeps the batch path's memory equally flat). */
  private def sessionizeBatch(events: Dataset[Event], gapMs: Long,
      maxSessionMs: Long = Long.MaxValue): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events.repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
      .mapPartitions { it =>
        new Iterator[UserSession] {
          private var out: UserSession = _
          private var have = false
          private var cur: SessionState = null
          private var curUser = 0L
          private def close(u: Long, s: SessionState): UserSession =
            UserSession(u, s.startTs, s.lastTs, s.count,
              new java.math.BigDecimal(
                java.math.BigInteger.valueOf(s.sumScaled), 6).doubleValue)
          private def compute(): Unit = {
            while (!have && it.hasNext) {
              val e = it.next()
              val t = e.ts.getTime; val v = scaled6(e.value)
              if (cur == null) {
                curUser = e.user_id; cur = SessionState(t, t, 1L, v)
              } else if (e.user_id != curUser || t - cur.lastTs > gapMs
                  || t - cur.startTs > maxSessionMs) {
                out = close(curUser, cur); have = true
                curUser = e.user_id; cur = SessionState(t, t, 1L, v)
              } else
                cur = SessionState(cur.startTs, t, cur.count + 1, cur.sumScaled + v)
            }
            if (!have && cur != null) { out = close(curUser, cur); cur = null; have = true }
          }
          override def hasNext: Boolean = { compute(); have }
          override def next(): UserSession = { compute(); have = false; out }
        }
      }
  }

  /** Session windows per user: events within `gap` of each other merge
    * into one session (Spark's session_window — dynamic-length windows;
    * in streaming, state closes when the watermark passes last_ts + gap).
    * Emits (user_id, session_start_ms, n_events). */
  def userSessions(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("w.start")).as("session_start_ms"),
        col("n_events"))
  }

  case class UserTotals(user_id: Long, n_events: Long, sum_value: Double)

  /** Per-user RUNNING totals via `transformWithState` — Spark 4's
    * arbitrary-state API (successor to flatMapGroupsWithState): typed
    * ValueState per key, updated incrementally per micro-batch, optionally
    * with a state TTL so idle users are evicted by the store itself
    * instead of hand-rolled timeout bookkeeping. Each batch emits the
    * updated totals for the users it touched. Requires the RocksDB state
    * store provider (changelog-checkpointed — the large-state backend
    * Spark ships for exactly this API); the sum is an exact 6-dp scaled
    * long, so totals are order-independent and replay-stable.
    *
    * A TTL forces TimeMode.ProcessingTime, whose eviction wake-ups keep
    * the query busy as long as state lives — fine under a real trigger in
    * production, but a `processAllAvailable`-driven harness should pass
    * `stateTtl = None`. */
  def runningUserTotals(events: Dataset[Event],
      stateTtl: Option[java.time.Duration] = None): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    // resolve the state encoder on the DRIVER and close over it — encoder
    // derivation inside init() would run on executors, where touching the
    // session is CANNOT_INVOKE_IN_TRANSFORMATIONS
    val stateEnc: org.apache.spark.sql.Encoder[(Long, Long)] =
      implicitly[org.apache.spark.sql.Encoder[(Long, Long)]]
    val ttlConf = stateTtl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
    class TotalsProcessor extends StatefulProcessor[Long, Event, UserTotals] {
      @transient private var state: ValueState[(Long, Long)] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        state = getHandle.getValueState[(Long, Long)]("totals", stateEnc, ttlConf)
      override def handleInputRows(user: Long, rows: Iterator[Event],
          tv: TimerValues): Iterator[UserTotals] = {
        var (n, s) = if (state.exists()) state.get() else (0L, 0L)
        rows.foreach { e => n += 1; s += scaled6(e.value) }
        state.update((n, s))
        Iterator.single(UserTotals(user, n,
          new java.math.BigDecimal(
            java.math.BigInteger.valueOf(s), 6).doubleValue))
      }
    }
    events.groupByKey(_.user_id)
      .transformWithState(new TotalsProcessor,
        if (stateTtl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Update())
  }

  /** Stream-stream interval join: each left event matched to right events
    * of the same user with r.ts in [l.ts, l.ts + window]. In streaming
    * BOTH sides carry watermarks and the join condition is time-bounded —
    * the two requirements that let Spark evict join state, the only way a
    * stream-stream join runs with bounded memory on unbounded input (state
    * held ≈ watermark + window per side). Batch inputs run the identical
    * condition as an ordinary range join. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      window: String = "10 minutes", watermark: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val l = (if (left.isStreaming) left.withWatermark("ts", watermark) else left)
      .select(col("event_id").as("l_id"), col("ts").as("l_ts"), col("user_id"))
    val r = (if (right.isStreaming) right.withWatermark("ts", watermark) else right)
      .select(col("event_id").as("r_id"), col("ts").as("r_ts"),
        col("user_id").as("r_user"))
    // leftOuter additionally emits unmatched left rows — in streaming,
    // once the watermark proves no in-window right row can still arrive
    l.join(r, col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $window"), joinType)
      .select(col("user_id"), col("l_id"), col("r_id"), col("l_ts"), col("r_ts"))
  }

  /** Stream-static enrichment: join a (possibly unbounded) event stream
    * against a bounded dimension table. The static side is re-read per
    * micro-batch (so a refreshed dimension file is picked up without
    * restarting the query) and is broadcast when small — the streaming
    * side never shuffles for the join, which is the only join shape that
    * keeps per-batch latency flat at production event rates. No watermark
    * needed: a static side holds no join state. Works identically on a
    * batch DataFrame, so the enrichment is testable for stream/batch
    * parity like every other operator here. */
  def enrich(events: DataFrame, dim: DataFrame, keys: Seq[String],
      broadcastDim: Boolean = true): DataFrame =
    events.join(
      if (broadcastDim) broadcast(dim) else dim, keys, "left")

  /** Streaming exact dedup on a key with state bounded by the watermark:
    * duplicates arriving within the watermark horizon are dropped;
    * state for keys older than the horizon is evicted (the only way
    * unbounded streams keep bounded dedup state). Batch input degrades to
    * plain dropDuplicates. */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
    else events.dropDuplicates(keyCols)

  /** Exactly-once file pipeline: the checkpoint persists source offsets
    * per committed batch, and the sink is IDEMPOTENT — each micro-batch
    * overwrites its own `batch_id=N` parquet directory, so replaying the
    * one possibly-uncommitted batch after a crash/restart rewrites
    * identical data instead of duplicating it. Offsets-in-checkpoint +
    * idempotent-by-batchId is Spark's standard exactly-once recipe for
    * file sinks driven through foreachBatch; downstream readers see the
    * result as an ordinary hive-partitioned dataset. */
  def parquetSinkExactlyOnce(streamed: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    streamed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .start()

  /** Streaming CDC apply: maintain a keyed snapshot by running
    * `Relational.upsert` over each micro-batch of changes — the streaming
    * materialized-view / Delta-MERGE pattern without a table format.
    *
    * The snapshot is VERSIONED by batch id (`snapshotDir/v=N`), which
    * buys exactly-once the same way `parquetSinkExactlyOnce` does: a
    * replayed batch reads the newest version *below* its own id (its own
    * possibly-half-written output is ignored) and overwrites
    * deterministically. Old versions double as time travel; compact by
    * deleting all but the newest.
    *
    * `baseCols` is the snapshot schema (default: the change columns minus
    * version/delete bookkeeping). The first batch starts from an empty
    * snapshot (or from a pre-seeded `v=N` directory below the first
    * version id). Per batch this is one upsert = one aggregate + one
    * outer join — the same scale shape as the batch operator.
    *
    * `epoch` offsets the snapshot version ids (`v = epoch + batchId`):
    * separate bounded change feeds — or a restart with a fresh
    * checkpoint — chain onto the SAME snapshot by using strictly
    * increasing epochs, each feed picking up the newest snapshot the
    * previous one wrote. Replay safety is unchanged: a replayed batch
    * still ignores versions at or above its own id.
    */
  def cdcApply(changes: DataFrame, snapshotDir: String, checkpointDir: String,
      key: String, versionCols: Seq[String], partial: Boolean = false,
      deleteCol: Option[String] = None,
      baseCols: Seq[String] = Nil,
      epoch: Long = 0L): StreamingQuery = {
    val cols =
      if (baseCols.nonEmpty) baseCols
      else changes.columns.toSeq.diff(versionCols ++ deleteCol)
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val fs = org.apache.hadoop.fs.FileSystem.get(
          s.sparkContext.hadoopConfiguration)
        val dir = new org.apache.hadoop.fs.Path(snapshotDir)
        val vid = epoch + batchId
        val prev =
          if (fs.exists(dir))
            fs.listStatus(dir).map(_.getPath.getName)
              .filter(_.startsWith("v=")).map(_.drop(2).toLong)
              .filter(_ < vid)
          else Array.empty[Long]
        // schema lookup only on the empty-start path: a PRE-SEEDED
        // snapshot (v=N below the first version id) may carry columns
        // that never appear in the change feed (partial-update CDC)
        val base =
          if (prev.nonEmpty) Tables.parquet(s, s"$snapshotDir/v=${prev.max}")
          else {
            val schema = StructType(cols.map(c => batch.schema(c)))
            s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          }
        val next = graft.operators.Relational.upsert(base, batch, key,
          versionCols, partial, deleteCol.map(batch(_)))
        next.write.mode("overwrite").parquet(s"$snapshotDir/v=$vid")
      }
      .start()
  }

  /** Streaming ANN index maintenance, EXACTLY-ONCE: each micro-batch of
    * new vectors is assigned to the FROZEN centroid set and written under
    * its own `ingest=b<batchId>` key of the store
    * (`Ivf.writeBatchToStore`, mode Overwrite) — the always-on ingest
    * path that keeps a nightly-trained IVF index (the `ingest=base`
    * layer, `Ivf.writeIngestStore`) fresh between retrains. Source
    * offsets live in the checkpoint and the per-batch write is idempotent
    * (a replayed batch overwrites its own directory with byte-identical
    * content — assignment is deterministic), so a crash/restart cannot
    * double rows: the [[parquetSinkExactlyOnce]] recipe, with centroid_id
    * kept as a hive partition column beneath the batch key so probe-time
    * partition pruning is untouched. Assignment being a deterministic
    * per-row function of (vector, centroids), the store a bounded feed
    * converges to is row-identical to batch-appending the same vectors
    * (StreamingSpec asserts it, multiset-strict, and re-fires a batch to
    * prove replay idempotence; q_stream_index_append's twin replays
    * train-on-resident + assign-union). Pass DRIVER-LOCAL centroids
    * (collected and re-created, k rows) so per-batch assignment doesn't
    * re-run the training lineage. */
  def indexAppend(newVectors: DataFrame, centroids: DataFrame,
      storeDir: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): StreamingQuery =
    newVectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.similarity.Ivf.writeBatchToStore(batch, centroids, storeDir,
          batchId, idCol, vecCol)
      }
      .start()

  /** The SELF-DRIVING index lifecycle: [[indexAppend]]'s exactly-once
    * ingest against a VERSIONED root, plus an in-stream drift audit
    * every `auditEvery` batches that retrains and swaps the version
    * when recall falls below `floor` (`Ivf.retrainFromStore` — which
    * also refreshes the PQ serving triple when the version carries one)
    * — drift repair as part of the always-on job rather than a nightly
    * cron someone must remember to run. The out-of-space confidence
    * signal is DEFAULT-ON with the publish-time-calibrated floor
    * (`confidenceFloor = -1.0` sentinel; 0.0 disables), and
    * `workloadEvery > 0` adds the third drift signal: a replay of the
    * `Ivf.logQueries` serving-query log on its own cadence, with
    * `keepLogEpochs > 0` bounding the log itself
    * (`Ivf.vacuumQueryLog` — the retention half of the workload leg,
    * run alongside the version vacuum).
    *
    * Per micro-batch: resolve the CURRENT committed version (the
    * manifest read — a retrain in an earlier batch redirects later
    * appends to the new version's store automatically), assign the
    * batch to that version's frozen centroids, write it under its own
    * `ingest=b<batchId>` key, then — on the audit cadence — measure
    * recall over a query sample drawn from the batch's own lowest-id
    * vectors (the "does the index still serve what's arriving NOW"
    * question; a workload-shifted batch is exactly what drags the
    * audit below the floor) and let `reindexIfDrifted` retrain on the
    * store's full content and publish v+1 when it does.
    *
    * Exactly-once: the batch write is the idempotent keyed overwrite
    * ([[indexAppend]]) — and a retrain is replay-safe through the
    * version's `_folded_through` marker. The hazard (self-review r11):
    * batch N writes `ingest=bN` under v, its audit retrains — folding
    * bN into v+1's BASE — and the process dies before the streaming
    * checkpoint commits N; the replay resolves v+1 and a naive keyed
    * write would land bN's rows a SECOND time next to the base copy.
    * So a repair records the triggering batchId INSIDE the new version
    * directory BEFORE the manifest commit (the directory is invisible
    * until committed, so marker and version become visible atomically
    * together), and [[processAuditedBatch]] skips any batch at or
    * below the resolved version's marker — the replayed batch is a
    * complete no-op. Empty micro-batches (data-less triggers, feed
    * recovery) are also skipped, never failed. Centroids are re-read
    * per batch as a driver-local relation (k rows) so no training
    * lineage re-runs inside foreachBatch. */
  def indexAppendAudited(newVectors: DataFrame, root: String,
      checkpointDir: String, auditEvery: Int = 1, floor: Double = 0.8,
      nAuditQueries: Int = 10, k: Int = 5, nprobe: Int = 2,
      kCents: Int = 8, iters: Int = 1, confidenceFloor: Double = -1.0,
      samplePct: Int = 100, compactEvery: Int = 0, keepVersions: Int = 0,
      workloadEvery: Int = 0, keepLogEpochs: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): StreamingQuery = {
    require(auditEvery >= 1, s"audit cadence must be >= 1: $auditEvery")
    // Per-STREAM cache of each version's driver-localized centroids (k
    // rows per entry, bounded by the retrain count): a committed
    // version's directory is immutable, and every mid-stream publish
    // happens inside THIS foreachBatch — so re-reading the same
    // version's centroids parquet on every micro-batch was a pure
    // per-batch job tax on the always-on path. Scoped to the streaming
    // query (dies with it), never module-level: a rebuilt root reuses
    // version numbers, so a cross-stream memo could serve stale rows.
    val centCache = new java.util.concurrent.ConcurrentHashMap[Long, DataFrame]()
    newVectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        processAuditedBatch(batch.toDF(), batchId, root, auditEvery,
          floor, nAuditQueries, k, nprobe, kCents, iters,
          confidenceFloor, samplePct, compactEvery, keepVersions,
          workloadEvery, keepLogEpochs, idCol, vecCol,
          centCache = centCache)
      }
      .start()
  }

  /** One micro-batch of [[indexAppendAudited]], exposed for the
    * StreamingSpec crash-replay tests (calling it twice with the same
    * batchId IS the replayed-batch schedule). See the scaladoc above
    * for the replay protocol. */
  private[graft] def processAuditedBatch(batch: DataFrame, batchId: Long,
      root: String, auditEvery: Int, floor: Double, nAuditQueries: Int,
      k: Int, nprobe: Int, kCents: Int, iters: Int,
      confidenceFloor: Double, samplePct: Int, compactEvery: Int = 0,
      keepVersions: Int = 0, workloadEvery: Int = 0,
      keepLogEpochs: Int = 0, idCol: String,
      vecCol: String,
      centCache: java.util.concurrent.ConcurrentMap[Long, DataFrame] =
        null): Unit = {
    val s = batch.sparkSession
    // ONE materialization for the several independent actions below
    // (emptiness, the store write, the confidence aggregate, the
    // audit-query sample): each would otherwise re-read the micro-batch
    // source on the always-on hot path (ADVICE r11)
    val persisted = batch
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (persisted.isEmpty) return // a data-less trigger must not kill the job
      val v = graft.similarity.Ivf.indexVersion(s, root)
      require(v > 0, s"no committed index version under $root — " +
        "publish a base version before streaming into it")
      // a crash-replayed batch whose FIRST attempt's fold (retrain or
      // cadence compaction) already moved it into this version's base:
      // complete no-op. ONLY exact equality is a legitimate replay — the
      // streaming checkpoint replays at most the LAST batch, so a
      // batchId strictly BELOW the marker means a RESET/replaced
      // checkpoint against an existing root, where silently skipping
      // would drop every new batch until the ids catch up (self-review
      // r11, second pass): refuse loudly instead.
      val folded = graft.similarity.Ivf.readFoldedThrough(s, root, v)
        .getOrElse(-1L)
      if (batchId == folded) return
      require(batchId > folded, s"batch $batchId is below version $v's " +
        s"_folded_through marker ($folded) — a reset or replaced " +
        "streaming checkpoint against an existing index root would " +
        "silently drop data; resume the original checkpoint or publish " +
        "a fresh root")
      def loadCents(): DataFrame = graft.similarity.Ivf.localizeCentroids(
        Tables.parquet(s, s"$root/v=$v/centroids"))
      val cents =
        if (centCache == null) loadCents()
        else {
          // a version is superseded forever once the stream resolves a
          // newer one (v is monotone within a stream) — prune stale
          // entries so an always-on stream with frequent retrains holds
          // at most ONE k-row entry, not one per published version
          // (ADVICE r12)
          centCache.keySet().removeIf(
            new java.util.function.Predicate[Long] {
              override def test(key: Long): Boolean = key < v
            })
          centCache.computeIfAbsent(v, _ => loadCents())
        }
      // signal 1, EVERY batch: assignment confidence — a batch from a
      // space the quantizer never carved scores ~0 against every
      // centroid (structural, corpus-independent) and must trigger the
      // repair immediately; a recall audit can stay legitimately green
      // on duplicate-heavy corpora a stale index still serves, which is
      // exactly why both signals exist. DEFAULT-ON: the sentinel -1.0
      // resolves the floor the PUBLISH calibrated from the resident
      // corpus's own confidence (Ivf.calibratedConfidenceFloor — half
      // its 5th percentile, stored in the version directory), so the
      // out-of-the-box stream carries the signal with zero hand-set
      // knobs; 0.0 disables it explicitly (VERDICT r11 #6).
      val effectiveFloor =
        if (confidenceFloor < 0.0)
          graft.similarity.Ivf.readConfidenceFloor(s, root, v)
            .getOrElse(0.0) // pre-calibration roots: signal off, never wrong
        else confidenceFloor
      // the batch write and the confidence aggregate are independent
      // reads of the SAME persisted batch against the SAME frozen
      // centroids — overlap them (guide §2.6). Every drift REPAIR below
      // stays strictly after the write: retrainFromStore reads the store
      // and must see this batch's layer, and the recall audit probes the
      // store the batch just landed in.
      val confBox =
        new java.util.concurrent.atomic.AtomicReference[Option[Double]](None)
      graft.engine.Par.run(Seq[() => Unit](
        // raw vectors + (when the version serves an IVFADC triple) the
        // batch's PQ codes, both under idempotent ingest=b<batchId> keys
        () => graft.similarity.Ivf.writeBatchToVersion(s, root, v,
          persisted, batchId, cents, idCol, vecCol),
        () => if (effectiveFloor > 0.0)
          confBox.set(Some(graft.similarity.Ivf.assignmentConfidence(
            persisted.select(persisted(idCol), persisted(vecCol)).toDF(),
            cents, idCol, vecCol)))))
      val outOfSpace = effectiveFloor > 0.0 &&
        confBox.get().exists(_ < effectiveFloor)
      if (outOfSpace) {
        val _ = graft.similarity.Ivf.retrainFromStore(s, root, kCents,
          iters, idCol, vecCol)
      } else if ((batchId + 1) % auditEvery == 0) {
        // signal 2, on the audit cadence: the ground-truth recall audit.
        // The sample rides the batch (bounded: nAuditQueries rows,
        // localized so the audit never re-reads the feed); samplePct
        // bounds its brute-force term (the Ivf.sampledAudit cost knob —
        // repair still retrains on the store's FULL content)
        val qs = graft.similarity.Ivf.localizeCentroids(
          persisted.orderBy(idCol).limit(nAuditQueries)
            .select(persisted(idCol).as("query_id"),
              persisted(vecCol).as("query_vec")).toDF())
        val row = graft.similarity.Ivf.sampledAudit(s, root, qs, k, nprobe,
            samplePct, idCol, vecCol)
          .agg(org.apache.spark.sql.functions.avg(col(s"recall_at_$k")))
          .head()
        require(!row.isNullAt(0), "in-stream audit produced zero recall rows")
        if (row.getDouble(0) < floor) {
          val _ = graft.similarity.Ivf.retrainFromStore(s, root, kCents,
            iters, idCol, vecCol)
        }
      }
      // signal 3, on its own cadence: WORKLOAD drift — replay the
      // logged serving queries (Ivf.logQueries — written by the serving
      // side, not this ingest job) against the current version. The
      // query distribution shifting while the corpus stands still is
      // invisible to the batch-sampled audit above, whose queries ride
      // the ARRIVING data; the log replay completes the drift triad
      // (corpus = recall, space = confidence, workload = THIS).
      if (workloadEvery > 0 && (batchId + 1) % workloadEvery == 0 &&
          graft.similarity.Ivf.hasQueryLog(s, root)) {
        val row = graft.similarity.Ivf.workloadAudit(s, root, k, nprobe,
            samplePct, nAuditQueries, idCol, vecCol)
          .agg(org.apache.spark.sql.functions.avg(col(s"recall_at_$k")))
          .head()
        if (!row.isNullAt(0) && row.getDouble(0) < floor) {
          val _ = graft.similarity.Ivf.retrainFromStore(s, root, kCents,
            iters, idCol, vecCol)
        }
      }
      // TABLE MAINTENANCE on its own cadence — the retention half of the
      // always-on job, so file counts and version directories stay flat
      // without a separate nightly task. Compaction is thresholded (a
      // just-retrained/compacted store is single-base — folding it is a
      // no-op). compactVersion derives the fold marker from the absorbed
      // layer names itself, so this batch's just-written layer is
      // covered and a crash-replay detects the fold exactly as it would
      // a retrain's.
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
        val vNow = graft.similarity.Ivf.indexVersion(s, root)
        if (graft.similarity.Ivf.ingestLayerCount(s, root, vNow) > 1) {
          val _ = graft.similarity.Ivf.compactVersion(s, root, idCol, vecCol)
        }
      }
      if (keepVersions > 0) {
        val _ = graft.similarity.Ivf.vacuumVersions(s, root, keepVersions)
      }
      // the log's retention mirrors the versions': without it the
      // serving-query log grows one epoch per cadence FOREVER (a
      // listing tax on every replay, and an unbounded memory of dead
      // workloads — ids never re-served would keep voting); bounded
      // recency is what a workload audit wants
      if (keepLogEpochs > 0 && graft.similarity.Ivf.hasQueryLog(s, root)) {
        val _ = graft.similarity.Ivf.vacuumQueryLog(s, root, keepLogEpochs)
      }
    } finally persisted.unpersist(blocking = false)
  }

  /** Watermarked tumbling-window counts in the APPEND-mode shape: a
    * window row is emitted exactly once, when the watermark passes its
    * end and its state is evicted — the bounded-state contract that
    * lets this run forever on an unbounded feed. Input rows arriving
    * after their window's state was evicted are DROPPED by the engine;
    * [[drive]] + q_stream_late make that drop rule a
    * hash-checked contract rather than a doc claim. */
  def windowedCounts(events: DataFrame, length: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), length), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** File-source streams over `feeds`, all on ONE session clone whose
    * shuffle width is `width`. State width = the clone's shuffle
    * partitions (one state store per partition per batch), so the clone
    * right-sizes it to a bounded feed without touching the caller's
    * session. At 32 partitions on a tiny feed a micro-batch is mostly
    * per-task overhead (q_stream_dedup on 32 cores ran 4.5x slower than
    * on 8 in the r12 driver data); at production volume this same knob is
    * what you RAISE. Sources that join or chain share the one clone. Each
    * schema is read from the feed's parquet footer ([[Tables.parquet]]),
    * so a feed must hold at least one file before its stream is opened. */
  def fileStreams(spark: SparkSession, width: Int, feeds: String*): Seq[DataFrame] = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", width.toString)
    Tables.parquet(ss, feeds).zip(feeds).map { case (df, feed) =>
      ss.readStream.schema(df.schema).parquet(feed)
    }
  }

  /** The one way a started stream runs: each phase callback lands more
    * input (or checks the state the previous drain left), then the query
    * drains (`processAllAvailable`, which also runs the no-new-data
    * batches that advance the watermark and flush evictions). The query
    * is stopped in a `finally`: a failed phase or a rethrown stream error
    * must not leak a RUNNING query into a session that hosts hundreds.
    *
    * The phase boundary is what makes watermark semantics DETERMINISTIC:
    * within a drain the watermark only moves at batch boundaries, so
    * "what was on time when this batch arrived" is fixed by the phase
    * sequence, not by file-listing races. Callers keep each phase's write
    * to ONE atomically-renamed file (coalesce(1)) so a phase can't
    * straddle two micro-batches.
    *
    * Returns the progress of every batch the query ran, in batch order.
    * `recentProgress` is a bounded ring buffer (100 entries), so it is
    * read after every drain; an idle trigger reports the id of the batch
    * it did not run, so the last report per id (the run's own) wins. */
  def drive(q: StreamingQuery, phases: Seq[() => Unit] = Seq(() => ()))
      : Seq[StreamingQueryProgress] = {
    val byId = scala.collection.mutable.TreeMap.empty[Long, StreamingQueryProgress]
    try phases.foreach { phase =>
      phase()
      q.processAllAvailable()
      q.recentProgress.foreach(p => byId(p.batchId) = p)
    } finally q.stop()
    byId.values.toSeq
  }

  private val sinkIds = new java.util.concurrent.atomic.AtomicLong

  /** [[drive]] `streamed` into a memory sink and return the materialized
    * result. */
  def runToMemory(streamed: DataFrame, mode: OutputMode,
      phases: Seq[() => Unit] = Seq(() => ())): DataFrame = {
    val spark = streamed.sparkSession
    val name = s"graft_sink_${sinkIds.incrementAndGet()}"
    try {
      val _ = drive(streamed.writeStream.outputMode(mode)
        .format("memory").queryName(name).start(), phases)
      // Detach the result from the memory sink: the sink's rows live on
      // the DRIVER for as long as its temp view stays registered, so a
      // long-lived session running many stream queries (a bench sweep
      // hosts hundreds) would accumulate one driver-resident row buffer
      // per run — the collect below adds nothing the sink doesn't already
      // hold, and dropping the view lets the sink be reclaimed. The
      // returned LocalRelation is also independent of the FEED FILES, so
      // callers may delete their temp feed directory immediately.
      val out = spark.table(name)
      val rows = out.collect() // bounded: exactly the sink's driver buffer
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), out.schema)
    } finally {
      // in the finally, not after the collect: a throwing phase or drain
      // must ALSO free the sink's temp view + driver buffer, or a sweep
      // retrying flaky stream queries accumulates orphaned sinks — the
      // exact leak the detach exists to prevent
      // NonFatal only: swallowing a VM error or a thread interrupt here
      // would mask the real failure / lose the interrupt (ADVICE r9)
      try spark.catalog.dropTempView(name)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
