package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Isolates the q_from_json cost: times variants of the JSON parse over
  * the events table (schema-full from_json vs path-only get_json_object,
  * PERMISSIVE vs FAILFAST, struct reuse) and prints the per-variant wall.
  * Evidence for the PLANS.md inherent-cost entry. */
object JsonCost {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Context.session("local[32]", 32)
    val ev = graft.engine.Tables.load(spark, sfDir, "events")

    def time(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      def once: Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once // warm
      println(f"[jsoncost] $name%-40s ${math.min(once, once)}%.3f s")
    }

    val schema = StructType(Seq(StructField("k", LongType)))
    time("get_json_object $.k") {
      ev.select(col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k_val"))
    }
    time("from_json(schema).k (contract shape)") {
      ev.select(col("event_id"),
        from_json(col("props"), schema).getField("k").as("k_val"))
    }
    time("from_json(schema).k + orderBy") {
      ev.select(col("event_id"),
        from_json(col("props"), schema).getField("k").as("k_val"))
        .orderBy("event_id")
    }
    time("from_json FAILFAST .k") {
      ev.select(col("event_id"),
        from_json(col("props"), schema, Map("mode" -> "FAILFAST"))
          .getField("k").as("k_val"))
    }
    time("from_json full struct out") {
      ev.select(col("event_id"), from_json(col("props"), schema).as("s"))
    }
    val two = StructType(Seq(
      StructField("k", LongType), StructField("missing", StringType)))
    time("from_json 2-field schema, 2 outputs") {
      val s = from_json(col("props"), two)
      ev.select(col("event_id"), s.getField("k").as("k_val"),
        s.getField("missing").as("m_val"))
    }
    time("json_tuple k") {
      ev.select(col("event_id"), json_tuple(col("props"), "k"))
    }
    spark.stop()
  }
}
