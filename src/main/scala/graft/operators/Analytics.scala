package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-analytics operators: funnel conversion, cohort retention, and
  * equi-width histograms — the OLAP reporting layer a product/events
  * pipeline runs next to the training-data jobs. The reference engine
  * stops at joins + aggregates (no window/temporal surface at all), so
  * this module is beyond-reference capability expressed as plain
  * aggregate compositions Catalyst plans with partial+final hash
  * aggregation.
  *
  * Scale shape: every operator here reduces to per-key aggregates over
  * hash-partitioned shuffles — no windows over data-sized partitions, no
  * driver-side collection; stage fan-out (funnel) is an explode bounded
  * by the literal step count. */
object Analytics {

  /** Ceiling on distinct groups per range bucket in [[rankedByGroup]]'s
    * heap-resident offsets directory — exceeding it raises an actionable
    * error (scale `parts` with |groups|) instead of an executor OOM. */
  private val MaxGroupsPerBucket = 4000000

  /** Sentinel for NaN group keys: boxed-Double equality (and Scala `==`)
    * says NaN != NaN, but Catalyst's grouping/sort semantics put all NaNs
    * in ONE group — a NaN group column would otherwise reset the local
    * rank on every row and miss its offsets-map entry. A CASE object:
    * the key rides the offsets shuffle, so it must serialize and
    * readResolve back to the singleton for post-deserialize equality. */
  private case object NaNKey

  /** Canonicalize one group-key element for JVM equality so it matches
    * Catalyst's comparison semantics on the SAME rows: binary columns
    * compare by CONTENT (Array[Byte] on an RDD row compares by
    * reference), all NaNs are one key, and -0.0 == 0.0 (Spark normalizes
    * float keys in sort/group — SPARK-26021 — so a -0.0 row and a 0.0 row
    * sort as equal and must rank as one group here too). */
  private def canon(v: Any): Any = v match {
    case b: Array[Byte] =>
      scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case d: java.lang.Double =>
      if (d.isNaN) NaNKey
      else if (d.doubleValue() == 0.0) java.lang.Double.valueOf(0.0) else d
    case f: java.lang.Float =>
      if (f.isNaN) NaNKey
      else if (f.floatValue() == 0.0f) java.lang.Float.valueOf(0.0f) else f
    case x => x
  }

  private def canonKey(r: org.apache.spark.sql.Row, n: Int): Seq[Any] =
    Seq.tabulate(n)(i => canon(r.get(i)))

  /** Range-partition on `sortCols`, sort within partitions, and append
    * (`pidCol` = partition id, `lrnCol` = 1-based local rank) in ONE
    * NARROW pass. A window `partitionBy(pid)` here would re-shuffle the
    * whole dataset to hash-partition it by pid — even though the range
    * shuffle already co-located every pid — because Catalyst cannot see
    * that `spark_partition_id()` is clustered by construction. The
    * per-partition rank is a running counter over the already-sorted
    * iterator (resetting whenever the first `nReset` columns change), so
    * the ONLY data-sized movement is the one range exchange. Returning a
    * LogicalRDD also pins the sampled range boundaries: every consumer
    * branch reads the SAME shuffle (stage-skipped on reuse), so
    * correctness never leans on exchange-reuse canonicalization.
    * Callers must pre-project/pre-filter — nothing pushes through the
    * RDD boundary. */
  private def withLocalRank(df: DataFrame, sortCols: Seq[Column],
      nReset: Int, parts: Int, pidCol: String, lrnCol: String): DataFrame = {
    val spark = df.sparkSession
    val bucketed = df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = bucketed.schema
      .add(pidCol, IntegerType, nullable = false)
      .add(lrnCol, LongType, nullable = false)
    val rdd = bucketed.rdd.mapPartitionsWithIndex { (pid, it) =>
      var lrn = 0L
      var prev: Seq[Any] = null
      it.map { r =>
        if (nReset > 0) {
          val key = canonKey(r, nReset)
          if (prev == null || key != prev) lrn = 0L
          prev = key
        }
        lrn += 1
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ pid :+ lrn)
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Global `row_number` over `sortCols` WITHOUT the single-partition
    * funnel an unpartitioned window plans: range-partition on the sort
    * key (parallel, boundary-sampled), rank locally within each range
    * bucket in one narrow pass ([[withLocalRank]] — no second data-sized
    * shuffle), then add per-bucket prefix offsets computed by a tiny
    * broadcast self-join over a bucket-count table that is ≤ `parts`
    * rows BY CONSTRUCTION — no window in the plan touches more than one
    * range bucket. Exact: range partitioning guarantees bucket p's rows all sort
    * before bucket p+1's, so local-rank + offset IS the global rank
    * (ties in the full sort key may order arbitrarily, as with any
    * row_number). The per-bucket sort spills via ExternalSorter, so
    * memory stays flat at any scale — this is the primitive behind
    * `exactPercentiles` and the Gini/Lorenz rank queries. */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
      rnCol: String = "rn", parts: Int = 32): DataFrame = {
    val ranked = withLocalRank(df, sortCols, nReset = 0, parts,
      "__gr_pid", "__gr_lrn")
    // bucket counts: ≤ parts rows by construction (max local rank = the
    // bucket size). Prefix offsets via a tiny broadcast self-join
    // (≤ parts² comparisons) — a window here, even one keyed by a
    // constant, constant-folds to an unpartitioned window and plans the
    // very Exchange SinglePartition this primitive exists to kill.
    val counts = ranked.groupBy(col("__gr_pid"))
      .agg(max(col("__gr_lrn")).as("__gr_c"))
    val offs = counts.as("ga")
      .join(broadcast(counts.as("gb")),
        col("gb.__gr_pid") < col("ga.__gr_pid"), "left")
      .groupBy(col("ga.__gr_pid").as("__gr_pid"))
      .agg(coalesce(sum(col("gb.__gr_c")), lit(0L)).as("__gr_off"))
    ranked.join(broadcast(offs), "__gr_pid")
      .withColumn(rnCol, (col("__gr_off") + col("__gr_lrn")).cast(LongType))
      .drop("__gr_pid", "__gr_lrn", "__gr_off")
  }

  /** Per-group exact rank table without any O(group) aggregation state:
    * returns groupCols ++ (`__v` = non-null value, `__rn` = 1-based rank
    * of `__v` within the group ascending, `__n` = group size). Rows are
    * range-partitioned on (group, value), sorted and ranked per bucket in
    * one narrow pass ([[withLocalRank]] — the ONLY data-sized shuffle is
    * that range exchange; a window partitioned by (group, pid) would
    * re-shuffle everything a second time); bucket ranks become global
    * ranks by adding prefix offsets from a (group × parts)-row count
    * table. Grouped: the offset window is PARTITIONED BY GROUP (≤ parts
    * rows per partition). Ungrouped: the counts table is ≤ parts rows
    * total, so offsets come from a tiny broadcast self-join — a
    * constant-key window would constant-fold to an unpartitioned window
    * and plan the Exchange SinglePartition this exists to avoid. Ties
    * take arbitrary rank order among equal values (like any row_number),
    * so any consumer that selects by rank sees a deterministic VALUE
    * multiset. The shared spine of exactPercentiles and trimmedMean. */
  def rankedByGroup(df: DataFrame, groupCols: Seq[String],
      valueCol: String, parts: Int = 32): DataFrame = {
    val spark = df.sparkSession
    val g = groupCols.map(col)
    val d = df.filter(col(valueCol).isNotNull)
      .select(g :+ col(valueCol).as("__v"): _*)
    val ranked = withLocalRank(d, g :+ col("__v"), nReset = g.length,
      parts, "__pid", "__lrn")
    // per-(group, bucket) sizes: the max local rank of the run — ≤
    // group × parts rows, computed from the shared ranked frame (the
    // range shuffle is stage-skipped on this second traversal)
    val counts = ranked.groupBy((groupCols :+ "__pid").map(col): _*)
      .agg(max(col("__lrn")).as("__c"))
    val offs =
      if (g.nonEmpty) {
        val wOff = Window.partitionBy(g: _*).orderBy(col("__pid"))
        counts
          .withColumn("__off", coalesce(sum(col("__c")).over(
            wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("__n",
            sum(col("__c")).over(Window.partitionBy(g: _*)))
          .drop("__c")
      } else {
        val totals = counts.agg(sum(col("__c")).as("__n"))
        counts.as("pa")
          .join(broadcast(counts.as("pb")),
            col("pb.__pid") < col("pa.__pid"), "left")
          .groupBy(col("pa.__pid").as("__pid"))
          .agg(coalesce(sum(col("pb.__c")), lit(0L)).as("__off"))
          .crossJoin(broadcast(totals))
      }
    // Attach the offsets by pid-aligned zipPartitions, NOT a join: a
    // join on (group, __pid) re-shuffles the ENTIRE ranked frame a
    // second time unless the planner broadcasts the offsets side — and
    // it reliably does not when the lineage roots in a LogicalRDD
    // (unknown size) or the consumer sits inside a cached subtree where
    // AQE cannot rewrite (measured: the med-spine instance inside
    // madOutliers' persisted frame compiled as a SortMergeJoin). Here
    // only the ≤ (group × parts)-row offsets table moves — shuffled to
    // place each bucket's offsets AT its range bucket — and the ranked
    // rows never leave their partitions, making the scaladoc's "one
    // data-sized shuffle" true unconditionally, at any group count.
    //
    // Task memory: the zip materializes one map entry per DISTINCT group
    // present in its range bucket (~|groups|/parts on average, strictly
    // ≤ the bucket's row count) — unlike the spillable-join alternative
    // this is heap-resident, so at extreme group cardinality `parts`
    // must scale with |groups| (e.g. ≤ ~10^6 distinct groups per bucket
    // keeps the map at tens of MB). That is the deliberate trade: the
    // join attach re-shuffles the whole data-sized frame every call; the
    // map holds only the bucket's group directory.
    val ng = groupCols.length
    val rankedRdd = ranked.rdd
    // RangePartitioner may materialize FEWER partitions than requested
    // (its boundaries come from a sample — tiny or low-cardinality
    // inputs collapse buckets), so the offsets partitioner must match
    // the ACTUAL bucket count; the recorded __pid values are < it by
    // construction.
    val nParts = rankedRdd.getNumPartitions
    val offsRdd = offs
      .select((groupCols.map(col) :+ col("__pid") :+ col("__off") :+
        col("__n")): _*)
      .rdd.map { r =>
        (r.getInt(ng), (canonKey(r, ng), r.getLong(ng + 1),
          r.getLong(ng + 2)))
      }
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = nParts
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
    val outSchema = d.schema
      .add("__n", LongType, nullable = false)
      .add("__rn", LongType, nullable = false)
    val zipped = rankedRdd.zipPartitions(offsRdd,
        preservesPartitioning = true) { (it, offIt) =>
      val byKey = new java.util.HashMap[Seq[Any], (Long, Long)]()
      offIt.foreach { case (_, (key, off, n)) =>
        byKey.put(key, (off, n))
        // the group directory is deliberately heap-resident (see the
        // trade note above); degrade GRACEFULLY at extreme cardinality:
        // fail with the remedy instead of an executor OOM. 4M entries
        // ≈ low hundreds of MB worst-case — under any sane task heap.
        if (byKey.size > MaxGroupsPerBucket)
          throw new IllegalStateException(
            s"rankedByGroup: > $MaxGroupsPerBucket distinct groups in " +
              s"one range bucket (parts=$nParts). Raise `parts` so " +
              "each bucket's group directory fits task memory — " +
              "target parts >= |distinct groups| / 1e6.")
      }
      // groups are contiguous in the ranked partition (sorted by group),
      // so one lookup per group suffices, not one per row
      var curKey: Seq[Any] = null
      var curOff = 0L
      var curN = 0L
      it.map { r =>
        val key = canonKey(r, ng)
        if (curKey == null || key != curKey) {
          val e = byKey.get(key)
          if (e == null) throw new IllegalStateException(
            s"rankedByGroup invariant broken: range bucket holds group " +
              s"$key but its offsets row landed elsewhere")
          curKey = key; curOff = e._1; curN = e._2
        }
        // ranked row = (group..., __v, __pid, __lrn)
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq.dropRight(2) :+ curN :+ (curOff + r.getLong(ng + 2)))
      }
    }
    spark.createDataFrame(zipped, outSchema)
  }

  /** Trimmed mean per group: the mean of the values whose rank lies in
    * (⌊n·trim⌋, n − ⌊n·trim⌋] — the robust location estimate that
    * tolerates outliers without winsorize's clamp. Built on
    * rankedByGroup (flat memory at any group size); the sum accumulates
    * in DECIMAL (order-independent, exact for fixed-point inputs) and
    * the mean is ONE double division, so an oracle replays the bits.
    * Returns groupCols ++ (n_used, mean). */
  def trimmedMean(df: DataFrame, groupCols: Seq[String], valueCol: String,
      trim: Double = 0.05, parts: Int = 32): DataFrame = {
    require(trim >= 0 && trim < 0.5, s"trim must be in [0, 0.5), got $trim")
    val g = groupCols.map(col)
    val cut = floor(col("__n").cast(DoubleType) * lit(trim)).cast(LongType)
    val mid = rankedByGroup(df, groupCols, valueCol, parts)
      .filter(col("__rn") > cut && col("__rn") <= col("__n") - cut)
    (if (g.nonEmpty) mid.groupBy(g: _*) else mid.groupBy())
      .agg(count(lit(1)).as("n_used"),
        sum(col("__v").cast(DecimalType(22, 2))).as("__s"))
      .select(g ++ Seq(col("n_used"),
        (col("__s").cast(DoubleType) / col("n_used").cast(DoubleType))
          .as("mean")): _*)
  }

  /** Exact interpolated percentiles per group by distributed rank
    * selection — the scale-safe replacement for Spark's exact
    * `percentile` aggregate, whose ObjectHashAggregate buffer holds the
    * WHOLE group (an O(group) state that OOMs an executor once one group
    * outgrows its heap). Here nothing ever buffers a group: rows are
    * range-partitioned on (group, value), ranked per bucket with
    * spillable sorts, offset by a (group × parts)-row count table, and
    * only the ≤ 2·|qs| boundary rows per group survive to the final
    * aggregate. Interpolation replicates Spark's Percentile.getPercentile
    * formula — position p = q·(n−1), result = (⌈p⌉−p)·v⌊p⌋ + (p−⌊p⌋)·v⌈p⌉
    * (which DuckDB's quantile_cont matches bit-for-bit) — so twins stay
    * hash-exact. Nulls in `valueCol` are excluded (percentile
    * semantics); a group with only nulls is absent from the output.
    *
    * Returns one row per group: groupCols ++ one double column per
    * (name, q) in `qs`, plus the non-null count as `countCol` if set.
    * `groupCols` may be empty (whole-table percentiles): the offset
    * window then runs over a ≤ `parts`-row table keyed by a constant —
    * bounded by construction, never data-sized. */
  def exactPercentiles(df: DataFrame, groupCols: Seq[String],
      valueCol: String, qs: Seq[(String, Double)],
      countCol: Option[String] = None, parts: Int = 32): DataFrame = {
    require(qs.nonEmpty, "exactPercentiles needs at least one quantile")
    // out-of-range q would find no ⌈p⌉ boundary row and degrade to
    // silent NULLs; Spark's percentile aggregate errors here, so do we
    qs.foreach { case (name, q) =>
      require(q >= 0.0 && q <= 1.0, s"quantile $name=$q outside [0, 1]") }
    val g = groupCols.map(col)
    val ranked = rankedByGroup(df, groupCols, valueCol, parts)
    // keep only the ⌊p⌋/⌈p⌉ boundary rows for any requested quantile
    // (0-based position p = q·(n−1); __rn is 1-based)
    def posOf(q: Double): Column =
      (col("__n") - 1L).cast(DoubleType) * lit(q)
    val isBoundary = qs.map { case (_, q) =>
      val p = posOf(q)
      (col("__rn") - 1L) === floor(p).cast(LongType) ||
        (col("__rn") - 1L) === ceil(p).cast(LongType)
    }.reduce(_ || _)
    val marked = ranked.filter(isBoundary)
      .select(
        g ++ Seq(col("__n")) ++ qs.flatMap { case (name, q) =>
          val p = posOf(q)
          Seq(
            when((col("__rn") - 1L) === floor(p).cast(LongType), col("__v"))
              .as(s"__lo_$name"),
            when((col("__rn") - 1L) === ceil(p).cast(LongType), col("__v"))
              .as(s"__hi_$name"))
        }: _*)
    val agged =
      (if (g.nonEmpty) marked.groupBy(g: _*) else marked.groupBy())
        .agg(max(col("__n")).as("__n"),
          qs.flatMap { case (name, _) => Seq(
            max(col(s"__lo_$name")).as(s"__lo_$name"),
            max(col(s"__hi_$name")).as(s"__hi_$name")) }: _*)
    agged.select(
      g ++ qs.map { case (name, q) =>
        val p = posOf(q)
        val lo = floor(p)
        val hi = ceil(p)
        when(hi === lo, col(s"__lo_$name"))
          .otherwise((hi - p) * col(s"__lo_$name") +
            (p - lo) * col(s"__hi_$name"))
          .as(name)
      } ++ countCol.map(c => col("__n").as(c)).toSeq: _*)
  }

  /** Exact interpolated percentiles from a (group, value, frequency)
    * HISTOGRAM — the right spine when the value column is discrete and
    * heavy-repeat (per-key counts, ratings, integer scores): the
    * histogram is |distinct values| rows per group, orders of magnitude
    * below |rows|, so the cumulative window and the boundary selection
    * run over a bounded table and the only data-sized work was building
    * the histogram (one map-side-combinable groupBy upstream). Same
    * interpolation as [[exactPercentiles]] (p = q·(n−1), boundary values
    * at ⌊p⌋/⌈p⌉, DuckDB quantile_cont-exact): v⌊p⌋ is the first
    * histogram value whose running count exceeds ⌊p⌋ — selected by a
    * conditional MIN, no per-row rank ever materializes. `groupCols`
    * must be non-empty (an ungrouped cumulative window would
    * constant-fold to the Exchange SinglePartition this library bans;
    * ungrouped callers use [[exactPercentiles]]). */
  def percentilesFromHistogram(hist: DataFrame, groupCols: Seq[String],
      valueCol: String, freqCol: String, qs: Seq[(String, Double)],
      countCol: Option[String] = None): DataFrame = {
    require(groupCols.nonEmpty,
      "histogram percentiles need group columns (ungrouped → exactPercentiles)")
    require(qs.nonEmpty, "need at least one quantile")
    qs.foreach { case (name, q) =>
      require(q >= 0.0 && q <= 1.0, s"quantile $name=$q outside [0, 1]") }
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*).orderBy(col(valueCol))
    val cum = hist
      .withColumn("__cum", sum(col(freqCol)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__n", sum(col(freqCol)).over(Window.partitionBy(g: _*)))
    def posOf(q: Double): Column =
      (col("__n") - 1L).cast(DoubleType) * lit(q)
    val agged = cum.groupBy(g: _*).agg(
      max(col("__n")).as("__n"),
      qs.flatMap { case (name, q) =>
        val p = posOf(q)
        Seq(
          min(when(col("__cum").cast(DoubleType) > floor(p), col(valueCol)))
            .as(s"__lo_$name"),
          min(when(col("__cum").cast(DoubleType) > ceil(p), col(valueCol)))
            .as(s"__hi_$name"))
      }: _*)
    agged.select(
      g ++ qs.map { case (name, q) =>
        val p = posOf(q)
        val lo = floor(p)
        val hi = ceil(p)
        when(hi === lo, col(s"__lo_$name"))
          .otherwise((hi - p) * col(s"__lo_$name") +
            (p - lo) * col(s"__hi_$name"))
          .as(name)
      } ++ countCol.map(c => col("__n").as(c)).toSeq: _*)
  }

  /** Ordered-funnel conversion over `steps` (e.g. view → click →
    * purchase): a user reaches stage k when the FIRST occurrence of each
    * of the first k steps happened in strict step order. Returns one row
    * per stage: (step_idx, step, n_users, conversion) where conversion
    * is n_users / stage-1 users.
    *
    * The per-user reduction is one groupBy with a min-timestamp per step
    * (map-side combinable); stage membership then explodes each user
    * into at most |steps| rows, so shuffled volume is ≤ |users|·|steps|
    * regardless of event volume. */
  def funnel(events: DataFrame, steps: Seq[String],
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    val firsts = events.filter(col(typeCol).isin(steps: _*))
      .groupBy(col(userCol))
      .agg(min(when(col(typeCol) === steps.head, col(tsCol))).as("t0"),
        steps.tail.zipWithIndex.map { case (s, i) =>
          min(when(col(typeCol) === s, col(tsCol))).as(s"t${i + 1}")
        }: _*)
    // deepest stage whose first-occurrence chain is strictly increasing
    val stage = steps.indices.reverse.foldLeft(lit(steps.length)) {
      case (deeper, i) =>
        val broken =
          if (i == 0) col("t0").isNull
          else col(s"t$i").isNull || col(s"t$i") <= col(s"t${i - 1}")
        when(broken, lit(i)).otherwise(deeper)
    }
    val counts = firsts.select(stage.as("stage"))
      .filter(col("stage") >= 1)
      .select(explode(sequence(lit(1), col("stage"))).as("step_idx"))
      .groupBy("step_idx").agg(count(lit(1)).as("n_users"))
    val names = steps.zipWithIndex
      .map { case (s, i) => (i + 1, s) }.toDF("step_idx", "step")
    // stage-1 denominator: a 1-row broadcast, never data-sized
    val first = counts.filter(col("step_idx") === 1)
      .select(col("n_users").as("n_first"))
    counts.join(broadcast(names), "step_idx")
      .crossJoin(broadcast(first))
      .select(col("step_idx"), col("step"), col("n_users"),
        round(col("n_users").cast(DoubleType) /
          col("n_first").cast(DoubleType), 6).as("conversion"))
      .orderBy("step_idx")
  }

  /** Weekly cohort retention: cohort = Monday-start week of each user's
    * first event; one output row per (cohort_week, week_offset) with the
    * distinct-user count active that many weeks after their cohort week.
    * Activity is deduped to user-weeks BEFORE the cohort join, so the
    * join and final aggregate move ≤ |users|·|weeks| rows. */
  def cohortRetention(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val cohorts = events.groupBy(col(userCol))
      .agg(date_trunc("week", min(col(tsCol))).as("cohort_week"))
    val active = events
      .select(col(userCol), date_trunc("week", col(tsCol)).as("wk"))
      .distinct()
    active.join(cohorts, userCol)
      .select(col("cohort_week"),
        floor(datediff(col("wk"), col("cohort_week")) / lit(7))
          .cast(LongType).as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users")) // rows are distinct user-weeks
      .orderBy("cohort_week", "week_offset")
  }

  /** Equi-DEPTH histogram: bucket boundaries are the exact
    * (interpolated) quantiles of the column, so each bucket holds ~1/n of
    * the rows — the binning feature engineering actually wants for
    * skewed columns, where equi-width puts everything in two bins. The
    * scale-safe shape: ONE percentile aggregate produces the n-1
    * boundaries (a single broadcast row — never a data-sized global
    * sort/ntile window), then a narrow per-row fold counts boundaries
    * strictly below the value. Rows equal to a boundary go to the lower
    * bucket (count of boundaries < x). Boundaries come from
    * `exactPercentiles` (distributed rank selection), so no task ever
    * buffers the column. */
  def equiDepthHistogram(df: DataFrame, valueCol: String,
      buckets: Int): DataFrame = {
    require(buckets > 1, s"equi-depth needs buckets > 1, got $buckets")
    val probs = (1 until buckets).map(_.toDouble / buckets)
    // boundary quantiles via the flat-memory rank selection (the exact
    // `percentile` aggregate would buffer the whole column in one task's
    // aggregation state); the single-row result broadcasts as before
    val qs = probs.zipWithIndex.map { case (p, i) => (s"__b$i", p) }
    val bounds = exactPercentiles(df, Nil, valueCol, qs)
      .select(array(qs.map(q => col(q._1)): _*).as("bs"))
    df.filter(col(valueCol).isNotNull)
      .crossJoin(broadcast(bounds))
      .select(aggregate(col("bs"), lit(0L),
        (acc, b) => acc + when(col(valueCol) > b, 1L).otherwise(0L))
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  /** Equi-width histogram of `valueCol` over [lo, hi) in `buckets` bins
    * (outliers clamp to the edge bins): (bucket, lo_edge, n). One narrow
    * map + one |buckets|-group aggregate — scan-speed at any scale. The
    * bucket index and edge use one fixed double expression shape so an
    * oracle replays them bit-for-bit. */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      buckets: Int): DataFrame = {
    require(buckets > 0 && hi > lo, "histogram needs hi > lo, buckets > 0")
    val width = (hi - lo) / buckets
    val raw = floor((col(valueCol) - lit(lo)) / lit(width)).cast(LongType)
    val bucket = least(greatest(raw, lit(0L)), lit(buckets - 1L))
    df.filter(col(valueCol).isNotNull)
      .select(bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        (lit(lo) + col("bucket").cast(DoubleType) * lit(width)).as("lo_edge"),
        col("n"))
      .orderBy("bucket")
  }

  /** Classifier reliability table (the data behind a calibration curve):
    * scores clamped into `buckets` equal-width bins over [lo, hi] with
    * the IDENTICAL clamp+floor expression [[histogram]] uses
    * (engine-exact floats), then per-bin example and positive counts and
    * the positive rate (one exact integer division per bin). Reading the
    * table: a well-calibrated quality filter has pos_rate rising
    * monotonically with the bin edge. One grouped aggregate pass —
    * map-side combined, |buckets| result rows. */
  def calibration(df: DataFrame, scoreCol: String, labelCol: String,
      lo: Double, hi: Double, buckets: Int): DataFrame = {
    require(buckets > 0 && hi > lo, "calibration needs hi > lo, buckets > 0")
    val width = (hi - lo) / buckets
    val raw = floor((col(scoreCol) - lit(lo)) / lit(width)).cast(LongType)
    val bucket = least(greatest(raw, lit(0L)), lit(buckets - 1L))
    df.filter(col(scoreCol).isNotNull)
      .select(bucket.as("bucket"), col(labelCol).cast(LongType).as("__y"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("positives"))
      .select(col("bucket"),
        (lit(lo) + col("bucket").cast(DoubleType) * lit(width)).as("lo_edge"),
        col("n"), col("positives"),
        (col("positives").cast(DoubleType) / col("n").cast(DoubleType))
          .as("pos_rate"))
      .orderBy("bucket")
  }

  /** Robust per-group outlier gate by median absolute deviation: returns
    * (group, med, mad, n, n_outliers) where an outlier is
    * dev > k·mad (multiply-only predicate; k = 4.4478 ≈ 3·1.4826 makes
    * it the robust analog of |z| > 3). Three grouped passes (median,
    * MAD, counts), each median from `exactPercentiles` — the flat-memory
    * rank selection whose interpolation matches DuckDB's quantile_cont
    * bit-for-bit, so the whole chain is engine-exact without any
    * O(group) aggregation state. Robust where the z-score gate is not:
    * a heavy tail inflates a stddev but barely moves the MAD. */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k: Double = 4.4478): DataFrame = {
    val med = exactPercentiles(df, Seq(groupCol), valueCol,
      Seq(("med", 0.5)))
    // persist: the deviation frame feeds BOTH the MAD spine and the final
    // count/outlier aggregate — without it each branch re-runs the join
    // and the median spine beneath it. It already carries `med`, so the
    // final aggregate needs no second join against the median table.
    //
    // The stats joins MUST carry explicit broadcast hints: the stats
    // tables are one row per group, but their lineage roots in a
    // LogicalRDD (unknown size → no static broadcast), and the persist
    // puts the first join inside a cached subtree where AQE is not free
    // to convert a planned SortMergeJoin either. Without the hint that
    // SMJ hash-partitions the ENTIRE data side by the group key — with a
    // handful of groups that is a handful of executor-crushing tasks
    // (measured at 10x: 5 tasks × 300,760 rows, 27 idle). Broadcasting is
    // the deliberate contract: madOutliers targets bounded categorical
    // group columns (priority, source, category), so the stats table is
    // |groups| rows — driver-trivial.
    val dev = df.join(broadcast(med), Seq(groupCol))
      .withColumn("dev", abs(col(valueCol) - col("med")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mads = exactPercentiles(dev, Seq(groupCol), "dev",
      Seq(("mad", 0.5)))
    dev.join(broadcast(mads), Seq(groupCol))
      .groupBy(groupCol)
      .agg(max(col("med")).as("med"), max(col("mad")).as("mad"),
        count(lit(1)).as("n"),
        sum(when(col("dev") > lit(k) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Integer-exact exponentially-decayed engagement score per user:
    * among each user's most recent `k` events (ts desc, id desc — total
    * order), a matching event at recency rank r contributes weight
    * 2^(k-r), so the newest event weighs 2^(k-1) and the k-th weighs 1.
    * With alpha fixed at 1/2 the decayed sum is a sum of distinct powers
    * of two — an exact BIGINT — and the reported double score is
    * num / 2^(k-1), exact because the divisor is a power of two. No
    * float ever enters an ordering or a comparison, so any engine
    * reproduces the score bit-for-bit.
    *
    * Scale shape: one window PARTITIONED BY user (bounded partitions),
    * rows cut to k per user before the aggregate, then a map-side
    * combinable groupBy on the same key — the shuffle moves at most
    * k rows per user. Recency-weighted engagement is the standard
    * freshness prior for ranking/curation feeds. */
  def decayedScore(events: DataFrame, eventType: String = "click",
      k: Int = 16, userCol: String = "user_id", tsCol: String = "ts",
      idCol: String = "event_id", typeCol: String = "event_type"): DataFrame = {
    require(k >= 1 && k <= 62, s"k=$k must fit decayed weights in a long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(tsCol).desc, col(idCol).desc)
    events
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(userCol)
      .agg(
        count(lit(1)).as("n_recent"),
        sum(when(col(typeCol) === eventType, 1L).otherwise(0L))
          .as("n_matching"),
        sum(when(col(typeCol) === eventType,
            expr(s"shiftleft(1L, $k - __rn)"))
          .otherwise(0L)).as("decay_num"))
      .withColumn("decay_score",
        col("decay_num").cast(DoubleType) / lit(math.pow(2.0, k - 1)))
  }

  /** Borda rank fusion of heterogeneous per-document quality signals,
    * stratified by a group column: each signal is turned into a
    * row_number rank inside its stratum (value desc, id asc — fully
    * deterministic), ranks are summed, and the `topk` lowest-sum docs
    * per stratum survive. Rank aggregation is the robust way to combine
    * signals on incomparable scales (chars vs tokens vs ratios) without
    * normalizing floats — everything stays in longs end-to-end.
    *
    * Scale shape: the rank windows all partition by the stratum column,
    * so they ride one hash partitioning of bounded per-stratum
    * partitions; the final top-k is another window on the same key. No
    * global window, no collect. `signals` are (name, integer column)
    * pairs — callers supply exact integer signals (counts, integer-scaled
    * ratios) so ties and ranks are engine-independent. */
  def bordaFusion(df: DataFrame, groupCol: String, idCol: String,
      signals: Seq[(String, org.apache.spark.sql.Column)],
      topk: Int = 5): DataFrame = {
    require(signals.nonEmpty, "need at least one signal")
    val withSignals = signals.foldLeft(df) { case (d, (nm, c)) =>
      d.withColumn(nm, c.cast(LongType))
    }
    val ranked = signals.foldLeft(withSignals) { case (d, (nm, _)) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(groupCol).orderBy(col(nm).desc, col(idCol).asc)
      d.withColumn(s"rank_$nm", row_number().over(w).cast(LongType))
    }
    val borda = ranked.withColumn("borda",
      signals.map { case (nm, _) => col(s"rank_$nm") }.reduce(_ + _))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("borda").asc, col(idCol).asc)
    borda.withColumn("final_rank", row_number().over(wTop).cast(LongType))
      .filter(col("final_rank") <= topk)
      .select((Seq(col(groupCol), col(idCol)) ++
        signals.map { case (nm, _) => col(s"rank_$nm") } ++
        Seq(col("borda"), col("final_rank"))): _*)
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * count (event_type → next event_type) transitions, with the next
    * event taken per user in (ts, tiebreak) order via a lead window
    * PARTITIONED BY user (bounded partitions — never a global window).
    * Returns (from_type, to_type, n, total_from, prob): n is the exact
    * transition count, total_from the exact out-count of the source
    * state, prob their per-row IEEE quotient (identical on identical
    * longs in any engine). The sequence-model use: behavioral signatures
    * for bot/spam filtering and next-event priors. */
  def transitionMatrix(events: DataFrame, userCol: String = "user_id",
      typeCol: String = "event_type", tsCol: String = "ts",
      tiebreakCol: String = "event_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(tsCol), col(tiebreakCol))
    val pairs = events
      .select(col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
    val counts = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("from_type")
      .agg(sum(col("n")).as("total_from"))
    counts.join(totals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        col("total_from").cast(LongType).as("total_from"),
        (col("n").cast(DoubleType) / col("total_from").cast(DoubleType))
          .as("prob"))
  }
}
