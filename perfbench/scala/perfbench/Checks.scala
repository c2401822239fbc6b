package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Correctness checks. Each returns None when the output is right and
  * a one-line reason when it is not.
  */
object Checks {

  /** Same multiset of rows (a doubled or a missing row both fail). */
  def sameRows(actual: DataFrame, expected: DataFrame): Option[String] = {
    val cols = expected.columns.toSeq
    val a = actual.select(cols.map(actual.col): _*)
    val extra = a.exceptAll(expected).count()
    val missing = expected.exceptAll(a).count()
    if (extra == 0 && missing == 0) None
    else Some(s"$extra unexpected and $missing missing rows")
  }

  /** Same multiset of collected rows. */
  def sameRows(actual: Seq[Row], expected: Seq[Row]): Option[String] = {
    def counts(rs: Seq[Row]) = rs.groupBy(_.toSeq).map { case (k, v) => k -> v.size }
    val (ca, ce) = (counts(actual), counts(expected))
    if (ca == ce) None
    else {
      val extra = ca.map { case (k, n) => math.max(0, n - ce.getOrElse(k, 0)) }.sum
      val missing = ce.map { case (k, n) => math.max(0, n - ca.getOrElse(k, 0)) }.sum
      Some(s"$extra unexpected and $missing missing rows")
    }
  }

  // ---- step-by-step replays of the series recurrences (SeriesFunctions) ----

  private def fdiv(num: Long, den: Long): Long = math.floor(num.toDouble / den.toDouble).toLong

  def ewma(vs: Seq[Long], aNum: Long, aDen: Long): Seq[Long] =
    vs.tail.scanLeft(vs.head)((s, v) => fdiv(aNum * v + (aDen - aNum) * s, aDen))

  /** (level, trend) per step. */
  def holt(vs: Seq[Long], aNum: Long, aDen: Long, bNum: Long, bDen: Long): Seq[(Long, Long)] =
    vs.tail.scanLeft((vs.head, 0L)) { case ((l, b), v) =>
      val l2 = fdiv(aNum * v + (aDen - aNum) * (l + b), aDen)
      (l2, fdiv(bNum * (l2 - l) + (bDen - bNum) * b, bDen))
    }

  /** (level, trend, seasonal, forecast) per step, seasonal period `m`. */
  def holtWinters(vs: Seq[Long], aNum: Long, aDen: Long, bNum: Long, bDen: Long,
      gNum: Long, gDen: Long, m: Int): Seq[(Long, Long, Long, Long)] = {
    val ls = new Array[Long](vs.size)
    val bs = new Array[Long](vs.size)
    val ss = new Array[Long](vs.size)
    vs.indices.foreach { i =>
      if (i == 0) { ls(0) = vs(0) }
      else {
        val sp = if (i < m) 0L else ss(i - m)
        ls(i) = fdiv(aNum * (vs(i) - sp) + (aDen - aNum) * (ls(i - 1) + bs(i - 1)), aDen)
        bs(i) = fdiv(bNum * (ls(i) - ls(i - 1)) + (bDen - bNum) * bs(i - 1), bDen)
        ss(i) = fdiv(gNum * (vs(i) - ls(i)) + (gDen - gNum) * sp, gDen)
      }
    }
    vs.indices.map { i =>
      val f = if (i + 2 <= m) 0L else ss(i + 1 - m)
      (ls(i), bs(i), ss(i), ls(i) + bs(i) + f)
    }
  }

  def cusum(vs: Seq[Long], offset: Long): Seq[Long] =
    vs.scanLeft(0L)((c, v) => math.max(0L, c + v - offset)).tail
}
