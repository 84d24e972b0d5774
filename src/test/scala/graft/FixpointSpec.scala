package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Fixpoint, Stages}

/** The round loop of the iterative operators: change counts, early exit,
  * freeing of earlier rounds, and job descriptions. */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  /** (id, v) for id 0..9 with v = id: each round lowers v by 2, floored at
    * 0, and flags the rows it lowered. */
  private def init: DataFrame =
    spark.range(10).select(col("id"), col("id").as("v"), lit(false).as("c"))
  private def lower(cur: DataFrame, i: Int): DataFrame =
    cur.select(col("id"), greatest(col("v") - 2, lit(0L)).as("v"),
      (col("v") > 0).as("c"))

  test("each round counts its real change and the loop stops after the first unchanged round") {
    val (out, counts) = Fixpoint.iterate("lower", init, 20, col("c"))(lower)
    // the same rounds in plain Scala: the rows each one lowered
    val states = Iterator.iterate((0L until 10L).toVector)(_.map(v => math.max(v - 2, 0L)))
      .take(7).toVector
    val want = states.zip(states.tail).map { case (a, b) =>
      a.zip(b).count { case (x, y) => x != y }.toLong }
    assert(want == Vector(9L, 7L, 5L, 3L, 1L, 0L))
    assert(counts == want)
    assert(out.select("v").collect().forall(_.getLong(0) == 0L))
    // by default a round counts its rows, and an empty round ends the loop
    val (_, all) = Fixpoint.iterate("lower", init, 3, lit(true))(lower)
    assert(all == Seq(10L, 10L, 10L))
    val (_, drained) = Fixpoint.iterate("drain", init, 10, lit(true))(
      (cur, i) => cur.filter(col("id") > 6 + i))
    assert(drained == Seq(2L, 1L, 0L))
  }

  test("maxRounds = 0 returns init without running a step") {
    val start = init
    val (out, counts) = Fixpoint.iterate("none", start, 0) { (_, _) =>
      fail("no round should run") }
    assert((out eq start) && counts.isEmpty)
  }

  test("a round frees the previous round's checkpoint") {
    val sc = spark.sparkContext
    var earlier = Seq.empty[Int]
    val (out, _) = Fixpoint.iterate("free", init, 4) { (cur, i) =>
      if (i > 1) earlier :+= Bridge.checkpointRdd(cur).id
      // by round i, round i - 2's checkpoint is already freed
      if (i > 2) assert(!sc.getPersistentRDDs.contains(earlier(i - 3)))
      lower(cur, i)
    }
    val persisted = sc.getPersistentRDDs.keySet
    assert(earlier.size == 3 && earlier.forall(id => !persisted.contains(id)))
    assert(persisted.contains(Bridge.checkpointRdd(out).id))
  }

  test("rounds carry their label and the caller's description is restored") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val ((_, counts), rec) = Stages.record(spark)(
        Fixpoint.iterate("label", init, 20, col("c"))(lower))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      val labels = rec.jobs.flatMap(_.description).distinct
      assert(labels == counts.indices.map(i => s"label round ${i + 1}"))
    } finally sc.setJobDescription(null)
    Fixpoint.iterate("unset", init, 1)(lower)
    assert(sc.getLocalProperty("spark.job.description") == null)
  }
}
