package graft.tools

import scala.util.control.NonFatal
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Context, Stages, Tables}
import graft.streaming.Streams

/** The engine's scale layer: runs named entries over a `factor`x copy of
  * the driver tables and fails the run if any entry breaks a gate that
  * SCALE.md promises at 100 TB. Correctness oracles stay at the driver
  * scale factors; at factor 1 the results are written with
  * `oracle_sql.json` so `tools/check.py` can compare them with DuckDB.
  *
  * Usage: runMain graft.tools.Stress <factor> <name,...> [--rep-cap N]
  *   [--phases N] [--spill] [--dir D]
  *
  *  - The corpus is built once per (sf, factor, rep-cap) under `--dir`,
  *    or under the per-process scratch root (deleted at exit). At factor 1
  *    the source sf dir (`SPARK_GRAFT_SF_DIR`, default sf0.1) is used as
  *    it is.
  *  - An entry is a contract query of `SparkEntry.queries` or one of the
  *    named [[pipelines]]: the library-default (capped) dedup, graph and
  *    ANN spines, which the contract queries run uncapped so their O(n²)
  *    DuckDB twins stay exact, and the phased stream drives.
  *  - `--rep-cap` bounds the near-dup cluster size of the documents copy
  *    (see [[corpus]]); `--phases` splits the stream drives' feed;
  *    `--spill` forces every spillable operator to disk ([[spillConf]]).
  *  - Each entry's construction and action are timed together, because
  *    stored-path queries do their real work eagerly while they are
  *    built. The action writes the result as parquet under
  *    `<dir>/out/<name>`: `count()` would let the optimizer drop a final
  *    sort, and `coalesce(1)` would fold the last stage into one task.
  */
object Stress {
  type Entry = (SparkSession, String) => DataFrame

  final case class Opts(factor: Int, names: Seq[String], repCap: Int,
      phases: Int = 10, spill: Boolean = false, dir: Option[String] = None)

  def parse(args: Array[String]): Opts = {
    def usage = throw new IllegalArgumentException(s"bad arguments " +
      s"${args.mkString(" ")}; usage: Stress <factor> <name,...> " +
      "[--rep-cap N] [--phases N] [--spill] [--dir D]")
    def go(rest: List[String], o: Opts): Opts = rest match {
      case Nil => o
      case "--rep-cap" :: n :: t => go(t, o.copy(repCap = n.toInt))
      case "--phases" :: n :: t => go(t, o.copy(phases = n.toInt))
      case "--spill" :: t => go(t, o.copy(spill = true))
      case "--dir" :: d :: t => go(t, o.copy(dir = Some(d)))
      case _ => usage
    }
    args.toList match {
      case f :: names :: rest if f.toIntOption.exists(_ >= 1) =>
        go(rest, Opts(f.toInt, names.split(",").toSeq, f.toInt))
      case _ => usage
    }
  }

  /** Spill thresholds forced down so that sf0.1 volumes overflow every
    * spillable operator thousands of rows at a time: the sort/aggregate
    * fallback, window and sort-merge-join buffers, and ObjectHashAggregate
    * after 128 keys. Auto-broadcast is off so the TPC-H joins take the
    * sort-merge path whose buffers are under test (explicit broadcast()
    * hints keep their bounded broadcasts). */
  val spillConf: Map[String, String] = Map(
    "spark.shuffle.spill.numElementsForceSpillThreshold" -> "5000",
    "spark.sql.windowExec.buffer.in.memory.threshold" -> "1024",
    "spark.sql.windowExec.buffer.spill.threshold" -> "5000",
    "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "1024",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "5000",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "128",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val work = o.dir.getOrElse(Context.scratch("stress"))
    val entries = resolve(o.names, o.factor, o.phases, work)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Context.session(s"local[${Context.cpus}]", Context.cpus,
      if (o.spill) spillConf else Map.empty)
    val dir = corpus(spark, src, o.factor, o.repCap, work)
    println(f"${"entry"}%-24s ${"wall_s"}%8s ${"rows"}%10s ${"tasks"}%7s " +
      f"${"spill_MB"}%9s  worst stage skew (records, duration)")
    val failures = entries.flatMap { case (n, e) =>
      measure(spark, n, e, dir, s"$work/out", o.spill) }
    if (o.factor == 1) {
      new java.io.File(s"$work/out").mkdirs()
      graft.Verify.writeOracleSql(s"$work/out", o.names.toSet)
    }
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[stress] ${failures.size} gate failure(s)")
      sys.exit(1)
    }
  }

  /** The entries for `names`, in order; an unknown name is an error. */
  def resolve(names: Seq[String], factor: Int, phases: Int,
      work: String): Seq[(String, Entry)] = {
    val all = graft.SparkEntry.queries ++ pipelines(factor, phases, work)
    graft.Verify.requireKnown(names.toSet, all.keySet)
    names.map(n => n -> all(n))
  }

  // ------------------------------------------------------------- corpus

  /** Keys shifted per replica, each by its parent key's max + 1, so that
    * every replicated key stays unique and every join to its parent stays
    * inside the replica. Foreign keys into the dimension tables stay put,
    * so fan-in per dimension key grows with the factor; `user_id` shifts,
    * so session and join keys grow with the feed while each user's own
    * event structure stays the data's. */
  private val shifted: Map[String, Seq[(String, (String, String))]] = Map(
    "orders" -> Seq("o_orderkey" -> ("orders", "o_orderkey")),
    "lineitem" -> Seq("l_orderkey" -> ("orders", "o_orderkey")),
    "events" -> Seq("event_id" -> ("events", "event_id"),
      "user_id" -> ("events", "user_id")),
    "documents" -> Seq("doc_id" -> ("documents", "doc_id")),
    "embeddings" -> Seq("vec_id" -> ("embeddings", "vec_id")))

  /** A letter set whose rotations give 10 distinct mappings (a 5-vowel set
    * would alias shard s with shard s + 5). */
  private val alpha = "aeiousnrtl"

  /** The `factor`x table set for `src`: `src` itself at factor 1, else a
    * directory under `root` built on first use. Replica 0 of every table
    * is the original; dimension tables are copied as they are.
    *
    * Documents: replica r > 0 appends the token `rep<r>`, so each original
    * becomes a near-duplicate cluster. With `repCap` < factor the factor
    * splits into `repCap` near-duplicate replicas x (factor / repCap)
    * content shards whose text is letter-rotated per shard
    * (length-preserving, so `n_chars` stays honest); shingles touching the
    * rotation set differ across shards, so clusters stay `repCap`-sized
    * and candidate-pair volume grows linearly instead of quadratically.
    * Shingles of unrotated characters can still coincide: check the
    * output-row linearity on a new corpus.
    *
    * Embeddings: replica r > 0 adds a deterministic ±0.009 jitter per
    * dimension, small against unit-scale vectors, so each replica stays
    * in its original's cluster region: exact copies would hide recall
    * drift. */
  def corpus(spark: SparkSession, src: String, factor: Int, repCap: Int,
      root: String): String = {
    if (factor == 1) return src
    val shards = factor / repCap
    require(factor % repCap == 0 && shards <= alpha.length,
      s"factor $factor must be rep-cap $repCap times at most ${alpha.length} shards")
    val dir = s"$root/corpus_${new java.io.File(src).getName}_x${factor}_cap$repCap"
    val built = new java.io.File(s"$dir/_BUILT")
    if (built.exists()) return dir
    rm(spark, dir)
    val base = Tables.all.zip(Tables.loadAll(spark, src)).toMap
    val offset = shifted.values.flatten.map(_._2).toSeq.distinct.map {
      case (t, k) => (t, k) -> (base(t).agg(max(col(k))).head().getLong(0) + 1L)
    }.toMap
    val reps = broadcast(spark.range(factor).select(col("id").as("rep")))
    val rep = col("rep")
    def rotated(c: Column) = (1 until shards).foldLeft(when(rep < repCap, c)) {
      (acc, s) => acc.when(rep.between(s * repCap, (s + 1) * repCap - 1),
        translate(c, alpha, alpha.drop(s) + alpha.take(s)))
    }
    for (t <- Tables.all) {
      val out = s"$dir/$t.parquet"
      if (!shifted.contains(t)) {
        new java.io.File(dir).mkdirs()
        java.nio.file.Files.copy(java.nio.file.Paths.get(s"$src/$t.parquet"),
          java.nio.file.Paths.get(out))
      } else {
        val keyed = shifted(t).foldLeft(base(t).crossJoin(reps)) {
          case (df, (k, parent)) => df.withColumn(k, col(k) + rep * offset(parent))
        }
        val marker = rep % repCap
        (t match {
          case "documents" => keyed.withColumn("text",
            when(marker === 0, rotated(col("text")))
              .otherwise(concat(rotated(col("text")), lit(" rep"), marker)))
          case "embeddings" => keyed.withColumn("embedding",
            expr("transform(embedding, (x, i) -> CAST(x + if(rep = 0, 0.0, " +
              "((rep * 37 + i * 11) % 19 - 9) * 0.001) AS FLOAT))"))
          case _ => keyed
        }).drop("rep").repartition(32).write.parquet(out)
      }
    }
    built.createNewFile()
    println(s"[stress] built the ${factor}x table set ($repCap-member " +
      s"near-dup clusters x $shards shards) at $dir")
    dir
  }

  // --------------------------------------------------------------- gates

  /** Task skew of one stage with >= 2 s of task time (stages of tiny tasks
    * say nothing about skew). Record skew (max / median task records) is
    * the 100 TB signal. Shuffle and scan records gate differently: a
    * shuffle partition is the atom of parallelism, so a hot key's rows
    * cannot be split further and shuffle-record skew gates
    * unconditionally; a parquet scan is splittable (at real file sizes
    * Spark carves tasks by maxPartitionBytes), so per-task row variance
    * there is bin-packing of small files and gates only when duration
    * corroborates it, with the max task >= 500 ms. Duration skew alone
    * gates at a median >= 200 ms (faster medians measure scheduler, GC
    * and JIT jitter), plus a straggler rule: one task >= 5 s and >= 20x
    * its median is value-dependent work, which jitter does not produce. */
  private final case class StageSkew(s: Stages.Stage) {
    private def sorted(f: Stages.Task => Long) = s.tasks.map(f).sorted
    private def med(rs: Seq[Long]) = rs(rs.size / 2)
    private def ratio(rs: Seq[Long]) = rs.last.toDouble / math.max(1L, med(rs))
    private val durs = sorted(_.durationMs)
    private val shuffle = sorted(_.shuffleReadRecords)
    private val scan = sorted(_.inputRecords)
    val durSkew: Double = ratio(durs)
    val recSkew: Double = math.max(ratio(shuffle), ratio(scan))
    private def at = s"stage ${s.id} (${s.tasks.size} tasks, " +
      s"${s.name.takeWhile(_ != '\n').take(60)})"
    private def records(kind: String, rs: Seq[Long], corroborated: Boolean) =
      Option.when(corroborated && rs.sum >= 10000 && ratio(rs) > 4.0)(
        f"$at $kind record skew ${ratio(rs)}%.2fx (max ${rs.last} / med " +
          f"${med(rs)} rows) exceeds the 4x gate")
    def failures: Seq[String] = Seq(
      records("shuffle", shuffle, corroborated = true),
      records("scan", scan, durs.last >= 500 && durSkew > 1.5),
      Option.when((med(durs) >= 200 && durSkew > 4.0) ||
          (durs.last >= 5000 && durSkew > 20.0))(
        f"$at duration skew $durSkew%.2fx (max ${durs.last} / med " +
          f"${med(durs)} ms) exceeds the 4x gate")).flatten
  }

  private def heavy(rec: Stages.Record): Seq[StageSkew] =
    rec.stages.filter(_.tasks.map(_.durationMs).sum >= 2000).map(StageSkew)

  /** Every gate an entry's run must pass: rows > 0, the stage skew rule,
    * no unbounded SinglePartition exchange (`singlePartition`, from
    * [[PlanAudit.singlePartitionViolations]]), spill > 0 under `--spill`
    * (a zero means the thresholds lost their teeth), and for a stream
    * drive (`state` = peak and final state rows) watermark eviction: the
    * final state below the peak. */
  def gates(rec: Stages.Record, rows: Long, spill: Boolean,
      state: Option[(Long, Long)] = None,
      singlePartition: Seq[String] = Nil): Seq[String] =
    Seq(
      Option.when(rows == 0)("zero rows"),
      Option.when(spill && rec.spillBytes == 0)("no spill recorded under --spill"),
      state.collect { case (peak, last) if last >= peak =>
        s"final state $last rows is not below peak state $peak rows: the state only grows" }
    ).flatten ++ singlePartition ++ heavy(rec).flatMap(_.failures)

  /** Run one entry, print its line and its gate failures, and return the
    * failures; a non-fatal error is one failure, so the remaining entries
    * still run. */
  def measure(spark: SparkSession, name: String, entry: Entry, dir: String,
      out: String, spill: Boolean): Seq[String] = {
    val failures = try {
      val ((df, wall), rec) = Stages.record(spark) {
        val t0 = System.nanoTime()
        val df = entry(spark, dir)
        df.write.mode("overwrite").parquet(s"$out/$name")
        (df, (System.nanoTime() - t0) / 1e9)
      }
      val back = Tables.parquet(spark, s"$out/$name")
      val small = back.limit(5).collect()
      // a stream drive's one-row summary: gate its feed's output rows
      val summary = small.headOption.filter(_.schema.fieldNames.contains("peak_state"))
      val rows = summary.fold(back.count())(_.getAs[Long]("out_rows"))
      val state = summary.map(r => (r.getAs[Long]("peak_state"), r.getAs[Long]("final_state")))
      val worst = heavy(rec).maxByOption(_.recSkew)
        .fold("no stage >= 2 s")(s => f"${s.recSkew}%5.2fx ${s.durSkew}%5.2fx")
      println(f"$name%-24s $wall%8.2f $rows%10d ${rec.tasks}%7d " +
        f"${rec.spillBytes / 1e6}%9.1f  $worst")
      // small results (summaries, recalls, prices) are the finding itself
      if (small.length < 5) small.foreach(r => println(s"  $r"))
      gates(rec, rows, spill, state,
        PlanAudit.singlePartitionViolations(PlanAudit.physicalPlan(df)))
        .map(f => s"$name: $f")
    } catch { case NonFatal(e) => Seq(s"$name: $e") }
    finally Context.isolate(spark)
    failures.foreach(f => System.err.println(s"[stress] FAIL $f"))
    failures
  }

  // ------------------------------------------------------ stream drives

  private def rm(spark: SparkSession, paths: String*): Unit = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    paths.foreach(p => fs.delete(new Path(p), true))
  }

  /** Drive `mk(stream)` over `events` split into `phases` time-ordered
    * phases. Each phase is a contiguous event-time range, so every drain
    * advances the watermark past the previous phase and old state must be
    * evicted, the shape an unbounded feed has. Output rows are counted in
    * foreachBatch (no driver-resident sink at 10M-row feeds). Returns one
    * row: wall_s, out_rows, peak_state, final_state, wm_dropped. */
  def drive(spark: SparkSession, events: DataFrame, phases: Int, work: String,
      name: String)(mk: DataFrame => DataFrame): DataFrame = {
    val feed = s"$work/feed_$name"
    val ckpt = s"$work/ckpt_$name"
    rm(spark, feed, ckpt)
    val ms = events.withColumn("ts_ms", unix_millis(col("ts")))
    val qs = ms.stat.approxQuantile("ts_ms",
      (1 until phases).map(_.toDouble / phases).toArray, 0.0).map(_.toLong).toSeq
    val bounds = (Long.MinValue +: qs).zip(qs :+ Long.MaxValue)
    def writePhase(i: Int): Unit =
      ms.filter(col("ts_ms") >= bounds(i)._1 && col("ts_ms") < bounds(i)._2)
        .drop("ts_ms").coalesce(4).write.mode("append").parquet(feed)
    val t0 = System.nanoTime()
    writePhase(0)
    val outRows = new java.util.concurrent.atomic.AtomicLong
    val progress = Streams.drive(mk(Streams.fileStreams(spark, 32, feed).head)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], _: Long) => outRows.addAndGet(b.count()); () }
      .start(), (() => ()) +: (1 until phases).map(i => () => writePhase(i)))
    rm(spark, feed, ckpt)
    val states = progress.map(_.stateOperators).filter(_.nonEmpty)
    val peak = states.flatten.map(_.numRowsTotal).maxOption.getOrElse(0L)
    val last = states.lastOption.fold(0L)(_.map(_.numRowsTotal).sum)
    val dropped = states.flatten.map(_.numRowsDroppedByWatermark).sum
    import spark.implicits._
    Seq(((System.nanoTime() - t0) / 1e9, outRows.get, peak, last, dropped))
      .toDF("wall_s", "out_rows", "peak_state", "final_state", "wm_dropped")
  }

  // ---------------------------------------------------------- pipelines

  /** The named pipelines, each a `(session, corpus dir) => result` like a
    * contract query; `work` holds their stores, feeds and checkpoints. */
  def pipelines(factor: Int, phases: Int, work: String): Map[String, Entry] = {
    import graft.dedup.Dedup
    import graft.similarity.{Ivf, Pq}
    def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")
    def emb(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")
    def pairs(s: SparkSession, d: String) =
      Dedup.ngramJaccardPairs(docs(s, d), n = 3, threshold = 0.5)
    /** A graph over the documents' ids: ring + skip + affine edges, the
      * generator family of the contract graph queries. */
    def graph(s: SparkSession, d: String): (DataFrame, DataFrame, Long) = {
      val ds = docs(s, d)
      val n = ds.count()
      val id = col("doc_id")
      val edges = Seq(id + 1, id + 2, id * 7 + 3)
        .map(dst => ds.select(id.as("src"), (dst % n).as("dst"))).reduce(_ union _)
      (ds.select(id.as("node_id")), edges, n)
    }
    def edges(s: SparkSession, d: String) = graph(s, d)._2
    def cells(e: DataFrame) = ((e.count() + 255) / 256).toInt
    /** Centroids trained at ceil(n/256) cells (782 at 200k vectors, which
      * crosses GreatestMaxK and exercises the NearestCentroid kernel),
      * held as a driver-local relation so later stages reuse them. */
    def cents(e: DataFrame) = Ivf.localizeCentroids(Ivf.train(e, k = cells(e), iters = 1))
    def queries(wave: DataFrame) = wave.orderBy("vec_id").limit(10)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
    def stream(name: String)(mk: DataFrame => DataFrame): Entry = (s, d) =>
      drive(s, Tables.load(s, d, "events"), phases, work, name)(mk)
    Map[String, Entry](
      "minhash_verified" -> ((s, d) => Dedup.minhashVerifiedPairs(docs(s, d), threshold = 0.7)),
      // the 100x corpus replicates the base corpus's naturally hot minhash
      // bands (boilerplate sharing whole bands), so in-bucket pair volume
      // grows quadratically; a cap of 64 keeps every true 10-member clique
      // bucket intact while bounding the boilerplate-glued ones
      "minhash_scale64" -> ((s, d) => Dedup.minhashVerifiedPairs(docs(s, d),
        threshold = 0.7, maxBucketSize = 64)),
      "fuzzy_join" -> ((s, d) => Dedup.editDistancePairs(docs(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("k")), "k", "doc_id", maxDist = 2)),
      "dedup_best" -> ((s, d) => Dedup.nearDupSurvivorsBy(docs(s, d), pairs(s, d), col("n_chars"))),
      "dedup_survivors" -> ((s, d) => Dedup.nearDupSurvivors(docs(s, d), pairs(s, d))),
      "incremental_near" -> ((s, d) => Dedup.minhashNewOnly(
        docs(s, d).filter(col("source") === "src0"),
        docs(s, d).filter(col("source") =!= "src0"), threshold = 0.7)),
      // one document cloned 5000x collides on every band: dropHotBuckets
      // must drop those buckets wholesale, so wall and skew stay at
      // minhash_verified's level instead of one straggler task
      // enumerating the clone family's pairs
      "minhash_hotband" -> ((s, d) => {
        val ds = docs(s, d)
        val cols = Seq("text", "lang", "source", "n_chars").map(col)
        val maxId = ds.agg(max(col("doc_id"))).head().getLong(0)
        val clones = ds.orderBy("doc_id").limit(1).select(cols: _*)
          .crossJoin(s.range(5000))
          .select((col("id") + maxId + 1L).as("doc_id") +: cols: _*)
        Dedup.minhashVerifiedPairs(ds.unionByName(clones), threshold = 0.7)
      }),
      "pagerank_3it" -> ((s, d) => {
        val (nodes, es, n) = graph(s, d)
        graft.graph.PageRank.run(nodes, es, n, iters = 3)
      }),
      "trustrank_3it" -> ((s, d) => {
        val (nodes, es, _) = graph(s, d)
        graft.graph.PageRank.personalizedRun(nodes, es,
          nodes.filter(col("node_id") < 2), 2, 3)
      }),
      "bfs_4hop" -> ((s, d) => {
        val (nodes, es, _) = graph(s, d)
        graft.graph.Bfs.hops(es, nodes.filter(col("node_id") < 2), 4)
      }),
      "triangles" -> ((s, d) => graft.graph.Triangles.perNode(edges(s, d))),
      "clustering_coef" -> ((s, d) =>
        graft.graph.Triangles.clusteringCoefficient(edges(s, d))),
      "sorted_neighborhood" -> ((s, d) =>
        Dedup.sortedNeighborhoodPairs(docs(s, d), windowSize = 4)),
      "novelty_rate" -> ((s, d) => graft.functions.Text.noveltyRate(docs(s, d), n = 3)),
      "simhash_calibration" -> ((s, d) =>
        Dedup.simhashCalibration(docs(s, d), maxHamming = 3)),
      "keywords_top3" -> ((s, d) => graft.functions.Text.topTerms(docs(s, d), k = 3)),
      "mean_pool" -> ((s, d) => graft.similarity.Pooling.meanByGroup(emb(s, d),
        "label", "embedding", "vec_id")),
      "trimmed_mean" -> ((s, d) => graft.operators.Analytics
        .trimmedMean(docs(s, d), Seq("lang"), "n_chars", trim = 0.05)),
      "rank_spine" -> ((s, d) => graft.operators.Analytics
        .rankedByGroup(docs(s, d), Nil, "n_chars")),
      "vocab_overlap" -> ((s, d) => {
        val toks = docs(s, d).select(col("source"),
            explode(split(col("text"), "\\s+")).as("tok"))
          .filter(col("tok") =!= "").distinct()
        toks.select(col("source").as("src_a"), col("tok"))
          .join(toks.select(col("source").as("src_b"), col("tok")), Seq("tok"))
          .filter(col("src_a") =!= col("src_b"))
          .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      }),
      // ---- ANN spines over the jittered embeddings
      "ivf_train_scaled" -> ((s, d) => Ivf.train(emb(s, d), k = cells(emb(s, d)), iters = 1)),
      // daily append: the resident 90% written partitioned, the 10% batch
      // assigned to frozen centroids and appended; the result re-reads
      // the merged store as a downstream probe would
      "ivf_append" -> ((s, d) => {
        val e = emb(s, d)
        val store = s"$work/ivf_store"
        val c = cents(e)
        rm(s, store)
        Ivf.writeAssignedStore(e.filter(col("vec_id") % 10 =!= 0), c, store)
        Ivf.appendToStore(e.filter(col("vec_id") % 10 === 0), c, store)
        Tables.parquet(s, store)
      }),
      "pq_encode" -> ((s, d) =>
        Pq.encode(emb(s, d), Pq.trainCodebooks(emb(s, d), m = 4, k = 8, dim = 64))),
      // cells sized from the corpus, pair volume priced before the self-join
      "knn_graph_auto" -> ((s, d) => Ivf.knnGraphAuto(emb(s, d), k = 3,
        targetCellSize = 256, pairBudget = 400000000L, iters = 1)),
      // the recall-drift retrain trigger: an in-distribution wave
      // (duplicates under new ids) must pass the 0.8 floor, and a
      // dimension-reversed wave (a genuine distribution shift the frozen
      // quantizer never carved cells for) must make requireFreshIndex throw
      "ann_drift_gate" -> ((s, d) => {
        val e = emb(s, d)
        val (n, k) = (e.count(), cells(e))
        val in = e.filter(col("vec_id") % 991 === 0)
          .select((col("vec_id") + n * 100).as("vec_id"), col("embedding"))
        val healthy = Ivf.requireFreshIndex(
          Ivf.recallDrift(e, Seq(in), queries(in), k = 5, nprobe = 2, kCents = k),
          k = 5, floor = 0.8)
        val shifted = e.filter(col("vec_id") % 997 === 0)
          .select((col("vec_id") + n * 200).as("vec_id"),
            expr("reverse(embedding)").as("embedding"))
        val drift = Ivf.recallDrift(e, Seq(shifted), queries(shifted), k = 5,
          nprobe = 2, kCents = k)
        val fired =
          try { Ivf.requireFreshIndex(drift, k = 5, floor = 0.8); false }
          catch { case _: IllegalStateException => true }
        require(fired, "shifted wave did not trip the retrain gate")
        import s.implicits._
        Seq((healthy, fired)).toDF("healthy_mean_recall", "trigger_fired")
      }),
      // the stored-index audit at 10/50/100% samples and at the auto-sized
      // pct (10 rows per replica family): wall should scale with the
      // sample, and the auto pct must read the full audit's health
      "ann_drift_sampled" -> ((s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val root = s"$work/ivf_sampled_root"
        rm(s, root)
        Ivf.writeVersionedIndex(e.select(col("vec_id"), col("embedding")), k = cells(e), root)
        // 500 queries so brute force dominates the fixed per-plan cost;
        // one untimed warm-up so the first pass does not absorb codegen
        val qs = graft.similarity.Ann.selfQueries(e, 500)
        Ivf.sampledAudit(s, root, qs, k = 5, nprobe = 2, samplePct = 100).count()
        val n = e.count()
        val auto = Ivf.autoSamplePct(n, minSampleRows = 10L * (n / factor))
        val rows = Seq(10 -> false, 50 -> false, 100 -> false, auto -> true).map {
          case (pct, isAuto) =>
            val t0 = System.nanoTime()
            val mean = Ivf.sampledAudit(s, root, qs, k = 5, nprobe = 2, samplePct = pct)
              .agg(avg(col("recall_at_5"))).head().getDouble(0)
            (pct, (System.nanoTime() - t0) / 1e9, mean, isAuto)
        }
        val (full, autoMean) = (rows(2)._3, rows(3)._3)
        require(math.abs(autoMean - full) < 0.05, f"auto-sized audit (pct=$auto) " +
          f"read $autoMean%.4f but the full audit read $full%.4f")
        rows.toDF("sample_pct", "wall_s", "mean_recall", "auto_sized")
      }),
      "lifecycle_decade" -> ((s, d) => lifecycle(s, emb(s, d), factor, s"$work/ivf_lifecycle", None)),
      "lifecycle_decade_pq" -> ((s, d) => lifecycle(s, emb(s, d), factor,
        s"$work/ivf_lifecycle", Some(graft.similarity.PqSpec(m = 4, k = 16)))),
      // the quadratic shape knnGraphAuto's budget refuses, priced not run:
      // the contract query's fixed 8 cells at this corpus
      "knn_graph_fixed_priced" -> ((s, d) => {
        val e = emb(s, d)
        val (pairs, maxCell) = Ivf.cellCost(Ivf.assign(e, Ivf.train(e, k = 8, iters = 1))
          .select(col("vec_id"), col("centroid_id")))
        import s.implicits._
        Seq((pairs, maxCell)).toDF("pairs", "max_cell")
      }),
      // ---- stream drives over the phased events feed
      "stream_dedup" -> stream("stream_dedup")(src =>
        Streams.streamingDedup(src, Seq("event_id"), watermark = "1 hour")),
      "stream_window" -> stream("stream_window")(src =>
        Streams.windowedCounts(src, length = "1 hour", watermark = "30 minutes")),
      "stream_join" -> stream("stream_join")(src =>
        Streams.intervalJoin(src.filter(col("event_type") === "view"),
          src.filter(col("event_type") === "click"), window = "10 minutes",
          watermark = "30 minutes")),
      "stream_sessionize" -> stream("stream_sessionize")(src =>
        Streams.sessionize(
          src.select("event_id", "ts", "user_id", "event_type", "value")
            .as(org.apache.spark.sql.Encoders.product[Streams.Event]),
          gapMs = 30 * 60 * 1000L, watermark = "30 minutes").toDF()),
      // the exactly-once ingest store (`ingest=b<id>` per batch): the
      // resident 90% written first, the 10% batch streamed in `phases`
      // micro-batches; the result is the merged store
      "index_append" -> ((s, d) => {
        val e = emb(s, d)
        val store = s"$work/ivf_stream_store"
        val (feed, ckpt) = (s"$work/feed_index", s"$work/ckpt_index")
        rm(s, store, feed, ckpt)
        val resident = e.filter(col("vec_id") % 10 =!= 0)
        val c = cents(resident)
        Ivf.writeIngestStore(resident, c, store)
        // the batch's ids are all multiples of 10: phase on vec_id / 10,
        // or every row lands in phase 0 at phases = 10
        def phase(i: Int): Unit = e.filter(col("vec_id") % 10 === 0)
          .filter(pmod(expr("vec_id div 10"), lit(phases)) === i)
          .coalesce(4).write.mode("append").parquet(feed)
        phase(0)
        Streams.drive(Streams.indexAppend(Streams.fileStreams(s, 32, feed).head, c, store, ckpt),
          (() => ()) +: (1 until phases).map(i => () => phase(i)))
        rm(s, feed, ckpt)
        Tables.parquet(s, store)
      })
    )
  }

  /** The index lifecycle at scale: three ingest -> sampled audit ->
    * (retrain on drift) -> compact -> vacuum cycles on a versioned index
    * of the whole corpus. Cycles 1-2 ingest in-distribution waves (corpus
    * duplicates under fresh ids) that must not retrain; cycle 3 ingests
    * the reversed base vectors, one per replica family so the wave has no
    * near-dup structure to hide in, and must retrain. Version directories
    * must stay <= 2 after every vacuum. With a PqSpec the codes ride every
    * publish, ingest and fold, and the ADC probe is timed per cycle. The
    * healthy cycles hold at the production cell geometry (~n/256 cells),
    * not at 10x's 79 cells, hence factor >= 30. */
  private def lifecycle(spark: SparkSession, emb: DataFrame, factor: Int,
      root: String, pq: Option[graft.similarity.PqSpec]): DataFrame = {
    import graft.similarity.Ivf
    import spark.implicits._
    require(factor >= 30, s"the lifecycle needs the >=30x cell geometry: $factor")
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def dirs(p: String, prefix: String) =
      fs.listStatus(new Path(p)).count(_.getPath.getName.startsWith(prefix))
    rm(spark, root)
    val n = emb.count()
    val k = ((n + 255) / 256).toInt
    Ivf.writeVersionedIndex(emb.select(col("vec_id"), col("embedding")), k = k, root, pq = pq)
    val pct = Ivf.autoSamplePct(n, minSampleRows = 10L * (n / factor))
    val rows = (1 to 3).map { c =>
      val t0 = System.nanoTime()
      val wave =
        if (c == 3) emb.filter(col("vec_id") < n / factor).select(
          (col("vec_id") + 300000000L).as("vec_id"), expr("reverse(embedding)").as("embedding"))
        else emb.filter(col("vec_id") % 30 === c)
          .select((col("vec_id") + c * 100000000L).as("vec_id"), col("embedding"))
      val v = Ivf.indexVersion(spark, root)
      Ivf.writeBatchToVersion(spark, root, v, wave, c.toLong,
        Ivf.localizeCentroids(Tables.parquet(spark, s"$root/v=$v/centroids")))
      val qs = Ivf.localizeCentroids(wave.orderBy("vec_id").limit(10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec")).toDF())
      val (after, recall) = Ivf.reindexIfDriftedSampled(spark, root, qs, k = 5,
        nprobe = 2, floor = 0.8, samplePct = pct, kCents = k)
      // compaction is thresholded as in production: only a store with
      // streamed layers is folded
      val (before, folded) =
        if (dirs(s"$root/v=${Ivf.indexVersion(spark, root)}/store", "ingest=") > 1) {
          val (_, b, a) = Ivf.compactVersion(spark, root)
          require(a < b, s"compaction must shrink the store: $b -> $a")
          (b, a)
        } else (0, 0)
      Ivf.vacuumVersions(spark, root, keepN = 2)
      val versions = dirs(root, "v=")
      require(versions <= 2, s"version growth must stay flat under vacuum: $versions dirs")
      val adc = pq.fold(-1.0) { _ =>
        val newest = Ivf.indexVersion(spark, root)
        require(Ivf.readPqSpec(spark, root, newest).nonEmpty, s"v=$newest lost the PQ spec")
        require(dirs(s"$root/v=$newest/codes", "ingest=") ==
          dirs(s"$root/v=$newest/store", "ingest="),
          "code store layers must track the vector store's")
        val tA = System.nanoTime()
        require(Ivf.ivfAdcTopKFromVersioned(spark, root, qs, k = 5, nprobe = 2).count() > 0,
          "the versioned ADC probe must serve")
        (System.nanoTime() - tA) / 1e9
      }
      (c, (System.nanoTime() - t0) / 1e9, recall, after > v, before, folded, versions, adc)
    }
    require(!rows(0)._4 && !rows(1)._4, "in-distribution cycles must not retrain")
    require(rows(2)._4, "the reversed-wave cycle must trip the retrain")
    rows.toDF("cycle", "wall_s", "recall", "retrained", "files_before",
      "files_after", "version_dirs", "adc_probe_s")
  }
}
