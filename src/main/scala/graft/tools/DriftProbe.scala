package graft.tools

import org.apache.spark.sql.functions._

/** Sizes q_stream_reindex's audit floor: per-SF recall@5 of the frozen
  * v=1 index audited against (a) the 5-copy duplicate wave's own queries
  * — structurally 1.0 at any SF, each query's true top-5 are its sibling
  * copies + source sharing its exact assignment cell — and (b) the
  * sign-mask re-encoded wave's queries, whose true neighbors scatter
  * across cells the frozen quantizer never carved (the mask decorrelates
  * the wave from ITSELF too, so the scatter is corpus-robust — a
  * reversed wave's near-dup families co-locate on the densified
  * ContractStress corpus and never trip the gate). Measured (2026-08):
  * healthy@5 = 1.0000 at sf0.001/0.01/0.1; masked shifted@5 well below
  * the 0.8 floor at every SF (see SCALE.md round-11 table). */
object DriftProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Context.session("local[8]", 8)
    import graft.similarity.Ivf
    // optional args: explicit table dirs (e.g. the ContractStress corpus)
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("sf0.001", "sf0.01", "sf0.1").map(s => s"/root/testdata/$s")
    for (dir <- dirs) {
      val sf = dir.split("/").last
      val emb = graft.engine.Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val root = s"/tmp/driftprobe_$sf/idx"
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(s"/tmp/driftprobe_$sf"), true)
      Ivf.writeVersionedIndex(emb, k = 8, root)
      val offsets = Seq(100000L, 110000L, 120000L, 130000L, 140000L)
      val w1 = offsets.map(o =>
          emb.filter(pmod(col("vec_id"), lit(10)) === 0)
            .select((col("vec_id") + o).as("vec_id"), col("embedding")))
        .reduce(_ unionByName _)
      val w2 = emb.filter(pmod(col("vec_id"), lit(10)) === 5)
        .select((col("vec_id") + 200000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x * when(pmod(graft.functions.Profile.hash32(
                col("vec_id") * 64 + i), lit(2L)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f))).as("embedding"))
      val cents = Ivf.localizeCentroids(spark.read.parquet(s"$root/v=1/centroids"))
      Ivf.writeBatchToStore(w1, cents, s"$root/v=1/store", 0L)
      val q1 = w1.orderBy("vec_id").limit(10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val (_, r1) = Ivf.reindexIfDrifted(spark, root, q1, k = 5, nprobe = 2,
        floor = 0.0, kCents = 8)
      Ivf.writeBatchToStore(w2, cents, s"$root/v=1/store", 1L)
      val q2 = w2.orderBy("vec_id").limit(10)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val (_, r2) = Ivf.reindexIfDrifted(spark, root, q2, k = 5, nprobe = 2,
        floor = 0.0, kCents = 8)
      println(f"[driftprobe] $sf n=${emb.count()} healthy@5=$r1%.4f shifted@5=$r2%.4f")
    }
    spark.stop()
  }
}
