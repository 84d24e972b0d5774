package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.similarity.{Ann, Pq}

class PqSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def mkVec(seed: Int, dim: Int = 16): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(dim)((r.nextDouble() * 2 - 1).toFloat)
  }
  private def corpus = (0 until 40).map(i => (i.toLong, mkVec(i)))
    .toDF("vec_id", "embedding")

  test("trainCodebooks: m codebooks of k entries, each dim/m wide") {
    val cbs = Pq.trainCodebooks(corpus, m = 4, k = 4, dim = 16)
    assert(cbs.length == 4)
    assert(cbs.forall(_.length == 4))
    assert(cbs.forall(_.forall(_._2.length == 4)))
    // ids are 0..k-1 per subspace
    assert(cbs.forall(_.map(_._1).sorted.sameElements(0 until 4)))
  }

  test("trainCodebooks rejects a dim that does not split evenly") {
    intercept[IllegalArgumentException] {
      Pq.trainCodebooks(corpus, m = 3, k = 4, dim = 16)
    }
  }

  test("encode: codes in [0,k), total, deterministic") {
    val cbs = Pq.trainCodebooks(corpus, m = 4, k = 4, dim = 16)
    val enc = Pq.encode(corpus, cbs)
    val rows = enc.collect()
    assert(rows.length == 40)
    for (mi <- 0 until 4) {
      val codes = rows.map(_.getAs[Int](s"code_$mi"))
      assert(codes.forall(c => c >= 0 && c < 4))
    }
    val again = Pq.encode(corpus, cbs).collect()
      .map(r => (r.getLong(0), (0 until 4).map(mi => r.getAs[Int](s"code_$mi"))))
      .sortBy(_._1)
    val first = rows
      .map(r => (r.getLong(0), (0 until 4).map(mi => r.getAs[Int](s"code_$mi"))))
      .sortBy(_._1)
    assert(again.toSeq == first.toSeq)
  }

  test("adcTopK: k ranked rows per query, scores non-increasing") {
    val cbs = Pq.trainCodebooks(corpus, m = 4, k = 4, dim = 16)
    val codes = Pq.encode(corpus, cbs)
    val got = Pq.adcTopK(codes, Ann.selfQueries(corpus, 3), cbs, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.length == 15)
    got.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._2).sorted == Seq(1L, 2L, 3L, 4L, 5L))
      val dots = rows.sortBy(_._2).map(_._4)
      assert(dots.zip(dots.tail).forall { case (a, b) => a >= b })
      // a query never ranks itself
      assert(!rows.exists(r => r._3 == r._1))
    }
  }

  test("adcTopK score equals the recomputed sum of per-subspace dots") {
    // m=2 so the check exercises the cross-subspace reduce chain
    val cbs = Pq.trainCodebooks(corpus, m = 2, k = 4, dim = 16)
    val codes = Pq.encode(corpus, cbs)
    val codeMap = codes.collect()
      .map(r => r.getLong(0) -> Seq(r.getAs[Int]("code_0"), r.getAs[Int]("code_1")))
      .toMap
    val vecs = corpus.as[(Long, Array[Float])].collect().toMap
    val got = Pq.adcTopK(codes, Ann.selfQueries(corpus, 3), cbs, k = 5)
      .as[(Long, Long, Long, Double)].collect()
    got.foreach { case (qid, _, nid, adc) =>
      val q = vecs(qid)
      val expect = (0 until 2).map { mi =>
        val cent = cbs(mi).find(_._1 == codeMap(nid)(mi)).get._2
        val qs = q.slice(mi * 8, mi * 8 + 8)
        qs.indices.foldLeft(0.0)((acc, i) => acc + qs(i).toDouble * cent(i).toDouble)
      }.sum
      assert(math.abs(adc - expect) < 1e-5, s"q=$qid n=$nid adc=$adc expect=$expect")
    }
  }

  test("ivfAdcTopK probing every list equals the full ADC scan") {
    val cents = graft.similarity.Ivf.train(corpus, k = 4, iters = 1)
    val cbs = Pq.trainCodebooks(corpus, m = 4, k = 4, dim = 16)
    val codes = Pq.encode(corpus, cbs)
    val qs = Ann.selfQueries(corpus, 3)
    val full = Pq.adcTopK(codes, qs, cbs, k = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val ivf = Pq.ivfAdcTopK(corpus, qs, cents, cbs, k = 5, nprobe = 4)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(ivf == full)
  }

  test("stored PQ (codebooks + codes + centroids as parquet) probes identically") {
    val cents = graft.similarity.Ivf.train(corpus, k = 4, iters = 1)
    val cbs = Pq.trainCodebooks(corpus, m = 4, k = 4, dim = 16)
    val qs = Ann.selfQueries(corpus, 3)
    val mem = Pq.ivfAdcTopK(corpus, qs, cents, cbs, k = 5, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val tmp = SparkFixture.tempDir("graft_pqstore").toString
    graft.sources.Sinks.writeParquet(cents, s"$tmp/cents")
    Pq.writeCodebooks(spark, cbs, s"$tmp/cbs")
    Pq.writeIvfAdcStore(corpus, cents, cbs, s"$tmp/codes")
    // codebooks round-trip exactly (floats are parquet-exact)
    val rtCbs = Pq.readCodebooks(spark, s"$tmp/cbs")
    assert(rtCbs.length == cbs.length)
    rtCbs.zip(cbs).foreach { case (a, b) =>
      assert(a.toSeq.map { case (i, v) => (i, v.toSeq) } ==
        b.toSeq.map { case (i, v) => (i, v.toSeq) })
    }
    val stored = Pq.ivfAdcTopKFromStore(s"$tmp/codes", qs,
        spark.read.parquet(s"$tmp/cents"), rtCbs, k = 5, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(stored == mem)
  }

  test("ivfAdcTopK with nprobe=1 only returns neighbors from probed lists") {
    val cents = graft.similarity.Ivf.train(corpus, k = 4, iters = 1)
    val cbs = Pq.trainCodebooks(corpus, m = 4, k = 4, dim = 16)
    val assigned = graft.similarity.Ivf.assign(corpus, cents)
      .select("vec_id", "centroid_id")
      .as[(Long, Int)].collect().toMap
    val got = Pq.ivfAdcTopK(corpus, Ann.selfQueries(corpus, 3), cents, cbs,
        k = 5, nprobe = 1)
      .as[(Long, Long, Long, Double)].collect()
    // with one probed list per query, every neighbor shares that list
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(r => assigned(r._3)).distinct.length == 1)
    }
  }
}
