package graft.engine

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one query runner of the mains (Bench, Verify, JobProfile, Stress,
  * PlanSnap, PlanAudit). The clock covers a query's build and action
  * together (stored-index and stream queries work while they are built),
  * [[Stages.record]] wraps exactly that body, and [[Context.isolate]] runs
  * after both stop, also when the query throws. A `NonFatal` failure is
  * printed as `[<tag>] <name> failed: <msg>` and returned. */
object Run {
  /** A run that finished: the body's value, the seconds of build and
    * action, and the record of what that span ran. */
  final case class Done[T](value: T, seconds: Double, record: Stages.Record)

  /** A run whose body threw. */
  final case class Failed(name: String, error: Throwable)

  /** Run `body` (build and action of query `name`) timed, recorded and
    * then isolated. */
  def apply[T](spark: SparkSession, tag: String, name: String)(
      body: => T): Either[Failed, Done[T]] =
    try {
      val ((value, seconds), record) = Stages.record(spark) {
        val t0 = System.nanoTime()
        val v = body
        (v, (System.nanoTime() - t0) / 1e9)
      }
      Right(Done(value, seconds, record))
    } catch { case NonFatal(e) =>
      System.err.println(s"[$tag] $name failed: ${e.getMessage}")
      Left(Failed(name, e))
    } finally Context.isolate(spark)

  /** The action of the timing mains: a noop-format write materializes
    * every output column and, unlike `count()`, cannot let the optimizer
    * drop a sort or a projection, so it runs the full declared plan. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The entries of `registry` named in `names`, in list order without
    * repeats. An unknown name is an error raised before anything runs, not
    * a silently shorter run. */
  def resolve[Q](names: Seq[String], registry: Map[String, Q]): Seq[(String, Q)] = {
    val unknown = names.filterNot(registry.contains).distinct
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.sorted.mkString(", ")}")
    names.distinct.map(n => n -> registry(n))
  }

  /** [[resolve]] of a comma-separated name list. */
  def resolve[Q](list: String, registry: Map[String, Q]): Seq[(String, Q)] =
    resolve(list.split(",").toSeq, registry)
}
