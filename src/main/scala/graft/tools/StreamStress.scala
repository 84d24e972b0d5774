package graft.tools

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.engine.{Context, Tables}

/** Second-decade (100x) stress for the STREAMING spines (VERDICT r9
  * item 5) — the dedup/ANN decades, mirrored onto the always-on paths.
  * The contract q_stream_* family tops out at the 10x ContractStress
  * gate; this tool drives the underlying operators with a `factor`x
  * event feed split into `phases` TIME-ORDERED phases (each phase is a
  * contiguous event-time range, so the watermark genuinely ADVANCES per
  * drain and old state must be EVICTED — the shape an unbounded feed
  * has), and records what SCALE.md promises at 100 TB:
  *
  *   - wall seconds across all phases,
  *   - output rows (counted in foreachBatch — no driver-resident memory
  *     sink at 10M-row feeds),
  *   - PEAK state-store rows and FINAL state rows: bounded, watermark-
  *     evicted state shows peak << total keys and final << peak; state
  *     that only grows is the failure this stress exists to catch,
  *   - rows dropped by the watermark (late-data accounting).
  *
  * The 100x feed is the ContractStress replication recipe (key-shifted
  * event_id so dedup keys stay unique; user_id shifted per replica so
  * join/session key cardinality scales with the corpus while per-key
  * fan-in stays the data's own). The index-append spine runs on the
  * ScaleStress jittered-replica embeddings corpus with the store written
  * per-batch (`ingest=b<id>`, the exactly-once layout).
  *
  * Usage: runMain graft.tools.StreamStress [factor] [phases] [name1,...]
  */
object StreamStress {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val phases = if (args.length > 1) args(1).toInt else 10
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val srcDir = "/root/testdata/sf0.1"
    val outDir = "/tmp/graft_streamstress"
    val spark = Context.session(s"local[${Context.cpus}]", Context.cpus)
    spark.sparkContext.setLogLevel("WARN")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)

    // ---- factor-x events corpus (key-shifted replication) ----
    // an index_append-only run must not pay for the event corpus build,
    // its count, or the phase-boundary quantiles (the ScaleStress
    // docsNeeded guard)
    val eventsNeeded = only.forall(_.exists(_.startsWith("stream_")))
    val evOut = s"$outDir/events.parquet"
    val marker = new java.io.File(s"$outDir/.factor_$factor")
    if (eventsNeeded && !marker.exists()) {
      new java.io.File(outDir).mkdirs()
      Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(".factor_")).foreach(_.delete())
      val ev = graft.engine.Tables.load(spark, srcDir, "events")
      val n = ev.agg(max(col("event_id"))).head().getLong(0) + 1L
      val nUsers = ev.agg(max(col("user_id"))).head().getLong(0) + 1L
      ev.crossJoin(broadcast(
          spark.range(factor).select(col("id").as("rep"))))
        .select(
          (col("event_id") + col("rep") * n).as("event_id"),
          col("ts"),
          (col("user_id") + col("rep") * nUsers).as("user_id"),
          col("event_type"), col("value"))
        .repartition(32).write.mode("overwrite").parquet(evOut)
      marker.createNewFile()
      println(s"[stress] built ${factor}x event feed at $evOut")
    }
    lazy val events = spark.read.parquet(evOut)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lazy val total = events.count()

    // time-ordered phase boundaries: contiguous event-time ranges so
    // each drain advances the watermark past the previous phase
    lazy val eventsMs = events.withColumn("ts_ms", unix_millis(col("ts")))
    lazy val bounds: Seq[(Long, Long)] = {
      val qs = eventsMs.stat.approxQuantile("ts_ms",
        (1 until phases).map(_.toDouble / phases).toArray, 0.0)
        .map(_.toLong)
      val lo = Long.MinValue +: qs.toSeq
      val hi = qs.toSeq :+ Long.MaxValue
      lo.zip(hi)
    }

    /** Drive `mk(sourceStream)` through the phased feed; returns
      * (wall_s, outputRows, peakStateRows, finalStateRows, wmDropped). */
    def drive(name: String,
        mk: DataFrame => DataFrame): Unit = {
      if (!only.forall(_.contains(name))) return
      val feed = s"$outDir/feed_$name"
      val ckpt = s"$outDir/ckpt_$name"
      fs.delete(new org.apache.hadoop.fs.Path(feed), true)
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      new java.io.File(feed).mkdirs()
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "32")
      val t0 = System.nanoTime()
      // phase 0 lands before the query starts
      def writePhase(i: Int): Unit = {
        val (lo, hi) = bounds(i)
        eventsMs.filter(col("ts_ms") >= lo && col("ts_ms") < hi)
          .drop("ts_ms")
          .coalesce(4).write.mode("append").parquet(feed)
      }
      writePhase(0)
      val src = ss.readStream.schema(Tables.parquet(ss, feed).schema)
        .parquet(feed)
      val outRows = new java.util.concurrent.atomic.AtomicLong
      val q = mk(src).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          outRows.addAndGet(b.count()); ()
        }
        .start()
      var peakState = 0L; var finalState = 0L; var wmDropped = 0L
      // recentProgress is a BOUNDED ring buffer (default 100 entries):
      // read once at the end, a long run evicts its early batches and
      // under-reports the peak-state metric this tool exists to record
      // (ADVICE r10). Folding after EVERY drain is synchronous and
      // exact: a single drain processes one phase's files (a handful of
      // micro-batches plus no-data watermark ticks — far under the
      // buffer bound); the batchId set de-duplicates entries still in
      // the buffer from earlier drains.
      val seenBatches = scala.collection.mutable.Set.empty[Long]
      def foldProgress(): Unit =
        for (p <- q.recentProgress if seenBatches.add(p.batchId)) {
          val sos = p.stateOperators
          if (sos.nonEmpty) {
            finalState = sos.map(_.numRowsTotal).sum
            for (so <- sos) {
              peakState = math.max(peakState, so.numRowsTotal)
              wmDropped += so.numRowsDroppedByWatermark
            }
          }
        }
      try {
        q.processAllAvailable(); foldProgress()
        for (i <- 1 until phases) {
          writePhase(i); q.processAllAvailable(); foldProgress()
        }
      } finally q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"$name%-22s $wall%8.1f ${outRows.get()}%10d " +
        f"$peakState%11d $finalState%11d $wmDropped%10d")
      fs.delete(new org.apache.hadoop.fs.Path(feed), true)
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    }

    println(f"${"pipeline"}%-22s ${"wall_s"}%8s ${"out_rows"}%10s " +
      f"${"peak_state"}%11s ${"final_state"}%11s ${"wm_dropped"}%10s   " +
      s"(feed $total rows, $phases phases)")

    // 1) watermark dedup: state = keys within the 1h horizon; eviction
    //    must keep peak far under the 100%-unique key count
    drive("stream_dedup", src =>
      graft.streaming.Streams.streamingDedup(src, Seq("event_id"),
        watermark = "1 hour"))

    // 2) windowed aggregation (append mode): state = open windows only
    drive("stream_window", src =>
      graft.streaming.Streams.windowedCounts(src, length = "1 hour",
        watermark = "30 minutes"))

    // 3) stream-stream interval join: both sides watermarked, join state
    //    bounded by watermark + window per side
    drive("stream_join", src => {
      val l = src.filter(col("event_type") === "view")
      val r = src.filter(col("event_type") === "click")
      graft.streaming.Streams.intervalJoin(l, r, window = "10 minutes",
        watermark = "30 minutes")
    })

    // 4) sessionization via flatMapGroupsWithState: state = one row per
    //    OPEN user session, closed by the event-time timeout
    drive("stream_sessionize", src =>
      graft.streaming.Streams.sessionize(
        src.select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[graft.streaming.Streams.Event](
            org.apache.spark.sql.Encoders.product[
              graft.streaming.Streams.Event]),
        gapMs = 30 * 60 * 1000L, watermark = "30 minutes").toDF())

    // ---- index append at the jittered-replica embedding scale ----
    if (only.forall(_.contains("index_append"))) {
      import graft.similarity.Ivf
      val embOut = s"$outDir/embeddings.parquet"
      val embMarker = new java.io.File(s"$outDir/.emb_factor_$factor")
      if (!embMarker.exists()) {
        Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith(".emb_factor_")).foreach(_.delete())
        val base = spark.read.parquet(s"$srcDir/embeddings.parquet")
        val nVec = base.count()
        base.crossJoin(broadcast(
            spark.range(factor).select(col("id").as("rep"))))
          .select((col("vec_id") + col("rep") * nVec).as("vec_id"),
            expr("transform(embedding, (x, i) -> CAST(x + if(rep = 0, " +
              "0.0, ((rep * 37 + i * 11) % 19 - 9) * 0.001) AS FLOAT))")
              .as("embedding"),
            col("label"))
          .repartition(32).write.mode("overwrite").parquet(embOut)
        embMarker.createNewFile()
        println(s"[stress] built ${nVec * factor}-vector corpus at $embOut")
      }
      val emb = spark.read.parquet(embOut)
      val nVec = emb.count()
      val cells = ((nVec + 255) / 256).toInt
      val resident = emb.filter(col("vec_id") % 10 =!= 0)
      val batchAll = emb.filter(col("vec_id") % 10 === 0)
      val trained = Ivf.train(resident, k = cells, iters = 1)
      val cRows = trained.collect()
      val cents = spark.createDataFrame(
        java.util.Arrays.asList(cRows: _*), trained.schema)
      val store = s"$outDir/ivf_stream_store"
      val feed = s"$outDir/feed_index"; val ckpt = s"$outDir/ckpt_index"
      for (p <- Seq(store, feed, ckpt))
        fs.delete(new org.apache.hadoop.fs.Path(p), true)
      new java.io.File(feed).mkdirs()
      val t0 = System.nanoTime()
      Ivf.writeIngestStore(resident, cents, store)
      val baseWall = (System.nanoTime() - t0) / 1e9
      // batchAll ids are all multiples of 10, so phase on vec_id/10 —
      // pmod(vec_id, phases) would land EVERY row in phase 0 at the
      // default phases=10 and measure one bulk append, not incremental
      // ingest (self-review finding)
      def phase(i: Int): Unit =
        batchAll.filter(pmod(expr("vec_id div 10"), lit(phases)) === i)
          .coalesce(4).write.mode("append").parquet(feed)
      phase(0)
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "32")
      val src = ss.readStream.schema(Tables.parquet(ss, feed).schema)
        .parquet(feed)
      val t1 = System.nanoTime()
      val q = graft.streaming.Streams.indexAppend(src, cents, store, ckpt)
      try {
        q.processAllAvailable()
        for (i <- 1 until phases) { phase(i); q.processAllAvailable() }
      } finally q.stop()
      val streamWall = (System.nanoTime() - t1) / 1e9
      val merged = spark.read.parquet(store)
      val nFiles = fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$store/ingest=*/centroid_id=*/part-*")).length
      println(f"index_append           $streamWall%8.1f ${merged.count()}%10d " +
        f"(base write $baseWall%.1f s, $cells cells, $nFiles files, " +
        f"${phases} streamed batches)")
      for (p <- Seq(feed, ckpt)) fs.delete(new org.apache.hadoop.fs.Path(p), true)
    }
    spark.stop()
  }
}
