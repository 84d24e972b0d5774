package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Stages, Tables}
import graft.tools.Stress

/** The scale layer's gates over synthetic stage records, its derived
  * corpus, its stream drive's bounded-state check and its entry table. */
class StressSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  private val sfDir = SparkFixture.sfDir

  /** One stage whose task i ran `durs(i)` ms and read `shuffle(i)` shuffle
    * and `scan(i)` file records. */
  private def stage(durs: Seq[Long], shuffle: Seq[Long] = Nil,
      scan: Seq[Long] = Nil): Stages.Stage =
    Stages.Stage(7, "synthetic", 0L, 0L, 0L, 0L, 0L, durs.indices.map(i =>
      Stages.Task(durs(i), 0L, shuffle.lift(i).getOrElse(0L), scan.lift(i).getOrElse(0L))))

  private def failures(s: Stages.Stage, spill: Boolean = false) =
    Stress.gates(Stages.Record(Nil, Seq(s), 0L), rows = 1L, spill = spill)

  test("the gates fail hot keys, corroborated scan skew, stragglers and lost spill") {
    val even = Seq.fill(20)(300L)
    val hot = Seq.fill(19)(1000L) :+ 50000L
    assert(failures(stage(even, shuffle = Seq.fill(20)(1000L))).isEmpty)
    assert(failures(stage(even, shuffle = hot)).exists(_.contains("shuffle record skew")))
    // scan-record skew gates only when a >= 500 ms task corroborates it
    val slowScan = failures(stage(Seq.fill(19)(150L) :+ 600L, scan = hot))
    assert(slowScan.exists(_.contains("scan record skew")), slowScan)
    assert(failures(stage(Seq.fill(19)(150L) :+ 450L, scan = hot)).isEmpty)
    // a 5 s task at 50x a fast median; 4.9 s is under the straggler floor
    assert(failures(stage(Seq.fill(19)(100L) :+ 5000L)).exists(_.contains("duration skew")))
    assert(failures(stage(Seq.fill(19)(100L) :+ 4900L)).isEmpty)
    // a stage under 2 s of task time says nothing about skew
    assert(failures(stage(Seq.fill(9)(10L) :+ 1900L, shuffle = hot)).isEmpty)
    assert(failures(stage(even), spill = true).exists(_.contains("no spill")))
    assert(failures(stage(even).copy(diskSpilled = 1L), spill = true).isEmpty)
    assert(Stress.gates(Stages.Record(Nil, Nil, 0L), rows = 0L, spill = false) ==
      Seq("zero rows"))
  }

  test("a factor-2 corpus doubles each replicated table; replica 0 is the source") {
    val root = SparkFixture.tempDir("stress").toString
    val dir = Stress.corpus(spark, sfDir, 2, 2, root)
    def both(t: String) = (Tables.load(spark, sfDir, t), Tables.load(spark, dir, t))
    for ((t, key, parent) <- Seq(("orders", "o_orderkey", "o_orderkey"),
        ("lineitem", "l_orderkey", "o_orderkey"), ("events", "event_id", "event_id"),
        ("documents", "doc_id", "doc_id"), ("embeddings", "vec_id", "vec_id"))) {
      val (base, big) = both(t)
      assert(big.count() == 2 * base.count(), t)
      if (t != "lineitem") assert(big.select(key).distinct().count() == big.count(), t)
      val (parentBase, _) = both(if (t == "lineitem") "orders" else t)
      val off = parentBase.agg(max(col(parent))).head().getLong(0) + 1L
      val replica0 = big.filter(col(key) < off)
      assert(replica0.exceptAll(base).isEmpty && base.exceptAll(replica0).isEmpty, t)
    }
    val (events, bigEvents) = both("events")
    assert(bigEvents.select("user_id").distinct().count() ==
      2 * events.select("user_id").distinct().count())
    def joined(d: String) = Tables.load(spark, d, "lineitem")
      .join(Tables.load(spark, d, "orders"), col("l_orderkey") === col("o_orderkey")).count()
    assert(joined(dir) == 2 * joined(sfDir))
    val (customer, bigCustomer) = both("customer")
    assert(bigCustomer.exceptAll(customer).isEmpty && bigCustomer.count() == customer.count())
    val (again, rec) = Stages.record(spark)(Stress.corpus(spark, sfDir, 2, 2, root))
    assert(again == dir && rec.jobs.isEmpty, "a built corpus must be reused")
  }

  test("a stream drive without a watermark fails the bounded-state gate") {
    val work = SparkFixture.tempDir("stress").toString
    def run(name: String, wm: Boolean) = Stress.measure(spark, name, (s, d) =>
      Stress.drive(s, Tables.load(s, d, "events"), 2, work, name)(src =>
        if (wm) graft.streaming.Streams.streamingDedup(src, Seq("event_id"))
        else src.dropDuplicates("event_id")), sfDir, s"$work/out", spill = false)
    val unbounded = run("no_watermark", wm = false)
    assert(unbounded.exists(_.contains("the state only grows")), unbounded)
    assert(run("watermarked", wm = true).isEmpty)
  }

  test("an unknown name is rejected; known names resolve in order") {
    val e = intercept[IllegalArgumentException](
      Stress.resolve(Seq("q_tpch_q1", "no_such_entry"), 2, 5, "unused"))
    assert(e.getMessage.contains("unknown query name(s): no_such_entry"))
    assert(Stress.resolve(Seq("stream_dedup", "q_tpch_q1"), 2, 5, "unused")
      .map(_._1) == Seq("stream_dedup", "q_tpch_q1"))
    assert(Stress.parse("10 a,b --rep-cap 5 --phases 3 --spill --dir d".split(" ")) ==
      Stress.Opts(10, Seq("a", "b"), 5, 3, spill = true, Some("d")))
    intercept[IllegalArgumentException](Stress.parse(Array("a,b")))
  }
}
