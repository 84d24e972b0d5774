package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit, when}
import org.apache.spark.sql.graftx.Bridge

/** The one round loop of the iterative operators (BFS/SSSP, k-core,
  * label propagation, Bradley–Terry). A round is ONE action: the step's
  * frame is observed and eagerly localCheckpointed, so one job cuts the
  * lineage (an unrolled DataFrame loop re-analyzes a plan that grows every
  * round) and delivers the round's change count. Then the previous
  * round's checkpoint blocks are freed, which `Dataset.unpersist` does
  * not do. Cutting only every other round was rejected (r13, on Sssp):
  * the uncut round's shuffles came back as more AQE jobs, 22 → 26. */
object Fixpoint {
  /** Rounds 1..`maxRounds` of `step(cur, i)` from `init`: the last
    * round's frame (`init` when `maxRounds` is 0) and each round's count
    * of output rows matching `changed`. The loop stops after a round with
    * a count of 0 (by default: a round with no rows); the caller
    * guarantees such a round is a fixpoint. Each round's jobs carry the
    * description "<name> round <i>", and the caller's description is
    * restored afterwards. `init` belongs to the caller and is not freed. */
  def iterate(name: String, init: DataFrame, maxRounds: Int,
      changed: Column = lit(true))(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Seq[Long]) = {
    val sc = init.sparkSession.sparkContext
    val callerDescription = sc.getLocalProperty("spark.job.description")
    var (cur, counts) = (init, Vector.empty[Long])
    try while (counts.size < maxRounds && !counts.lastOption.contains(0L)) {
      val i = counts.size + 1
      sc.setJobDescription(s"$name round $i")
      val obs = Observation()
      val next = step(cur, i)
        .observe(obs, count(when(changed, 1)).as("n"))
        .localCheckpoint(eager = true)
      if (i > 1) Bridge.checkpointRdd(cur).unpersist(blocking = false)
      cur = next
      counts :+= obs.get("n").asInstanceOf[Long]
    } finally sc.setJobDescription(callerDescription)
    (cur, counts)
  }
}
