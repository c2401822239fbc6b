package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftShims.{countedCheckpoint, releaseCheckpoint}
import org.apache.spark.sql.functions.lit

/** The one fix-point loop behind the iterative operators
  * ([[TreeDepth.depths]], [[TreeDepth.depthsByDoubling]],
  * [[Components.connectedComponents]]). An operator supplies its setup
  * and its round body; the driver owns the rest:
  *
  *  - rounds: at most `maxIter`. Running out of rounds with progress
  *    left throws `IllegalArgumentException` naming the operator and
  *    `maxIter` — never a silently truncated answer;
  *  - checkpoints: a body passes each frame it materializes to the
  *    [[Checkpoint]] it is handed, so every round plans against O(1)
  *    lineage. One call materializes the frame AND counts the rows the
  *    round's progress is measured on, in one Spark job: a round costs
  *    that job plus the shuffle and broadcast stages of its own plan,
  *    never a second query for the count. TRADE-OFF: the blocks are
  *    unreplicated and the lineage is gone, so on a cluster an
  *    executor loss mid-loop fails the job instead of recomputing;
  *  - release: after each round, every checkpoint the new step does
  *    not keep is released. Setup checkpoints the first step does not
  *    keep are loop inputs, held until the loop ends. On success the
  *    last step's kept frames pass to the caller; on any other exit (a
  *    round throws, or no convergence) every checkpoint made is
  *    released;
  *  - `GRAFT_ITER_DEBUG`: one stderr line per round — operator, round,
  *    progress count and seconds.
  *
  * Jobs per call on FixPointSpec's fixtures (local[4], AQE on): BFS on
  * a 30-deep chain 62 (two per round), pointer doubling on it 11,
  * components on a 64-link chain 30 (three per round).
  */
private[graft] object FixPoint {

  /** What setup and each round hand back: the state the next round
    * reads, the count the loop stops on (0 = fixed point), and the
    * checkpointed frames the state still reads.
    */
  final case class Step[S](state: S, progress: Long, keep: Seq[DataFrame])

  /** A body's only way to materialize a frame
    * ([[org.apache.spark.sql.GraftShims.countedCheckpoint]]): one job
    * stores it and counts it, and the frame is planned at its measured
    * size. With `keys` it is hash-partitioned on them and says so, so
    * a later join or aggregate on those keys does not shuffle it again.
    */
  final class Checkpoint private[FixPoint] (made: mutable.Buffer[DataFrame]) {
    def apply(df: DataFrame, keys: Seq[String] = Nil): DataFrame =
      counted(df, lit(true), keys)._1

    /** The checkpoint, and the number of its rows where `where` holds. */
    def counted(df: DataFrame, where: Column, keys: Seq[String] = Nil): (DataFrame, Long) = {
      val (c, n) = countedCheckpoint(df, where, keys)
      made += c
      (c, n)
    }
  }

  private val debug = sys.env.contains("GRAFT_ITER_DEBUG")

  def run[S](op: String, maxIter: Int)(setup: Checkpoint => Step[S])(
      round: (Checkpoint, S) => Step[S]): S = {
    val made = mutable.ArrayBuffer.empty[DataFrame]
    val cp = new Checkpoint(made)
    def releaseAllBut(keep: Seq[DataFrame]): Unit = {
      val (kept, dropped) = made.partition(f => keep.exists(_ eq f))
      dropped.foreach(releaseCheckpoint(_))
      made.clear(); made ++= kept
    }
    try {
      var step = setup(cp)
      val inputs = made.filterNot(f => step.keep.exists(_ eq f)).toList
      var i = 0
      while (step.progress > 0 && i < maxIter) {
        val t0 = System.nanoTime()
        step = round(cp, step.state)
        releaseAllBut(step.keep ++ inputs)
        i += 1
        if (debug) Console.err.println(s"[graft-iter] $op round=$i " +
          s"progress=${step.progress} secs=${(System.nanoTime() - t0) / 1e9}")
      }
      if (step.progress > 0) throw new IllegalArgumentException(
        s"$op did not converge in maxIter=$maxIter rounds; raise maxIter")
      releaseAllBut(step.keep)
      step.state
    } catch { case e: Throwable => releaseAllBut(Nil); throw e }
  }
}
