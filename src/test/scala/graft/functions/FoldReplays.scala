package graft.functions

/** Driver-local imperative replays of the four sequential fold
  * recurrences exactly as the [[SeriesFunctions]] scaladocs state
  * them, over one series' `v_milli` values in fold order — the
  * independent reference the distributed folds must reproduce.
  */
object FoldReplays {

  private def fdiv(num: Long, den: Int): Long =
    math.floor(num.toDouble / den.toDouble).toLong

  def ewma(vs: Seq[Long], aN: Int, aD: Int): Seq[Long] =
    vs.tail.scanLeft(vs.head)((s, v) => fdiv(aN * v + (aD - aN) * s, aD))

  /** (level, trend) per step. */
  def holt(vs: Seq[Long], aN: Int, aD: Int, bN: Int, bD: Int): Seq[(Long, Long)] =
    vs.tail.scanLeft((vs.head, 0L)) { case ((l, b), v) =>
      val ln = fdiv(aN * v + (aD - aN) * (l + b), aD)
      (ln, fdiv(bN * (ln - l) + (bD - bN) * b, bD))
    }

  /** (level, trend, seasonal, forecast) per step. */
  def holtWinters(vs: Seq[Long], aN: Int, aD: Int, bN: Int, bD: Int,
      gN: Int, gD: Int, m: Int): Seq[(Long, Long, Long, Long)] = {
    val l = Array.ofDim[Long](vs.size)
    val b = Array.ofDim[Long](vs.size)
    val s = Array.ofDim[Long](vs.size)
    vs.zipWithIndex.foreach { case (v, i) =>
      val t = i + 1
      if (t == 1) { l(i) = v; b(i) = 0L; s(i) = 0L }
      else {
        val sp = if (t <= m) 0L else s(t - m - 1)
        l(i) = fdiv(aN * (v - sp) + (aD - aN) * (l(i - 1) + b(i - 1)), aD)
        b(i) = fdiv(bN * (l(i) - l(i - 1)) + (bD - bN) * b(i - 1), bD)
        s(i) = fdiv(gN * (v - l(i)) + (gD - gN) * sp, gD)
      }
    }
    vs.indices.map { i =>
      val t = i + 1
      val sn = if (t + 1 <= m) 0L else s(t + 1 - m - 1)
      (l(i), b(i), s(i), l(i) + b(i) + sn)
    }
  }

  def cusum(vs: Seq[Long], targetMilli: Long, slackMilli: Long): Seq[Long] =
    vs.scanLeft(0L)((c, v) => math.max(0L, c + v - targetMilli - slackMilli)).tail
}
