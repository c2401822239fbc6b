package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Self-tests of the benchmark: the percentile rule, and that every
  * correctness check rejects a corrupted result. Prints one line per
  * test and throws on the first failure.
  */
object SelfTest {

  private def expect(name: String)(ok: Boolean): Unit = {
    println(s"[selftest] ${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) throw new AssertionError(s"self-test failed: $name")
  }

  private def failed(checks: Seq[(String, Option[String])], prefix: String): Boolean =
    checks.exists { case (n, r) => n.startsWith(prefix) && r.isDefined }

  private def allPass(checks: Seq[(String, Option[String])]): Boolean = {
    checks.collect { case (n, Some(r)) => println(s"[selftest]   $n: $r") }
    checks.forall(_._2.isEmpty)
  }

  def run(spark: SparkSession, work: String): Unit = {
    percentiles()
    val small = Ingest.Size(nConvs = 20, avgTurns = 10, hotTurns = 100, batchRows = 120)
    ingest(spark, work, small)
    analytics(spark, work)
    println("[selftest] all passed")
  }

  def percentiles(): Unit = {
    val xs = (1 to 200).map(_.toDouble)
    expect("p50 needs 20 samples")(Stats.percentile(xs.take(19), 50).isEmpty &&
      Stats.percentile(xs.take(20), 50).contains(10.0))
    expect("p95 needs 200 samples")(Stats.percentile(xs.take(199), 95).isEmpty &&
      Stats.percentile(xs, 95).contains(190.0))
    expect("median of an even count")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  def ingest(spark: SparkSession, work: String, size: Ingest.Size): Unit = {
    val c = Ingest.corpus(spark, size, 11L, s"$work/selftest/ingest-corpus")
    val s = Ingest.stream(spark, c, s"$work/selftest/ingest-wh", NoTrace, 0L, 3, 11L)
    expect("ingest: checks pass on a clean stream")(allPass(Ingest.check(spark, c, s)))
    expect("ingest: a replay that adds rows is rejected")(
      failed(Ingest.check(spark, c, s.copy(replayRowsAdded = 5)), "replayed"))
    expect("ingest: a raw row count off by one is rejected")(
      failed(Ingest.check(spark, c, s.copy(turns = s.turns + 1)), "raw rows"))
    val i = s.reads.indexWhere(r => r.kind == "lookup" && r.rows.nonEmpty)
    val dropped = s.reads.updated(i, s.reads(i).copy(rows = s.reads(i).rows.tail))
    expect("ingest: a read-back lookup missing one row is rejected")(
      failed(Ingest.check(spark, c, s.copy(reads = dropped)), "read-back lookups"))
    val j = s.reads.indexWhere(r => r.kind == "aggregate" && r.rows.nonEmpty)
    val row = s.reads(j).rows.head
    val bumped = s.reads.updated(j, s.reads(j).copy(rows =
      Row.fromSeq(row.toSeq.updated(2, row.getLong(2) + 1)) +: s.reads(j).rows.tail))
    expect("ingest: a changed read-back aggregate is rejected")(
      failed(Ingest.check(spark, c, s.copy(reads = bumped)), "read-back aggregates"))
    // one tier row committed twice
    def double(t: graft.table.ChronoTable) = t.append(t.read().limit(1).drop("batch_id"))
    double(s.store.tier1m)
    val corrupt = Ingest.check(spark, c, s)
    expect("ingest: a doubled 1m row is rejected")(failed(corrupt, "tier_1m"))
    expect("ingest: 1m points that the 1h chunks do not hold are rejected")(
      failed(corrupt, "1h chunks"))
    double(s.store.tier1h)
    expect("ingest: a doubled 1h row is rejected")(failed(Ingest.check(spark, c, s), "tier_1h"))
    double(s.store.tier1d)
    expect("ingest: a doubled 1d row is rejected")(failed(Ingest.check(spark, c, s), "tier_1d"))
  }

  def analytics(spark: SparkSession, work: String): Unit = {
    val dir = s"$work/selftest/analytics"
    val in = Analytics.prepare(spark,
      Analytics.Size(nConvs = 20, avgTurns = 10, hotTurns = 200, sf = 0.002), 13L, dir)
    val out = s"$dir/out"
    val ps = Analytics.passes(spark, in, out, NoTrace, 0L, 1)
    expect("analytics: every call ran")(ps.failed == 0)
    expect("analytics: replays pass on clean output")(allPass(Analytics.checkSeries(spark, in, out)))
    // one output value of each fold off by one milli, then the clean output back
    Seq("ewma" -> "ewma_milli", "holt" -> "level_milli", "holtwinters" -> "seasonal_milli",
      "cusum" -> "cusum_milli").foreach { case (name, c) =>
      val clean = s"$dir/$name-clean"
      spark.read.parquet(s"$out/$name").write.mode("overwrite").parquet(clean)
      val rows = spark.read.parquet(clean)
      val first = rows.orderBy("conv_id", "turn_idx").limit(1)
      rows.exceptAll(first).unionByName(first.withColumn(c, col(c) + 1))
        .write.mode("overwrite").parquet(s"$out/$name")
      expect(s"analytics: a perturbed $name value is rejected")(
        failed(Analytics.checkSeries(spark, in, out), s"$name replay"))
      spark.read.parquet(clean).write.mode("overwrite").parquet(s"$out/$name")
    }
  }
}
