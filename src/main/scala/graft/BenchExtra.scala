package graft

/** Optimization-round measurement harness (guide §1.4): times declared
  * queries in ISOLATION through the noop sink (computes every column,
  * discards the write) and optionally dumps `.explain("formatted")`
  * per query. Separate from [[Bench]], which is frozen for
  * driver-comparable measurement — numbers from here are cited in
  * OPTIMIZATION_r06.md, never written into BENCH_r*.json.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.BenchExtra q_setsim_join q_tree_depth"
  * Env:
  *   GRAFT_PLAN_DIR   if set, writes <dir>/<query>.txt explain output
  *   GRAFT_RUNS       timed runs per query (default 2, min-of-N)
  *   GRAFT_ACTION     "noop" (default: full-column computation) or
  *                    "count" (the frozen Bench harness's action —
  *                    use for driver-comparable numbers, since count
  *                    lets the optimizer prune unfiltered columns)
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("GRAFT_RUNS", "2").toInt
    val planDir = sys.env.get("GRAFT_PLAN_DIR")
    val spark = GraftSession()
    // GRAFT_STAGES=1: per-stage wall/CPU dump (guide §1.3 — find the
    // straggler stage, not just the slow query)
    if (sys.env.contains("GRAFT_STAGES"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val wall = for {
              s <- si.submissionTime; c <- si.completionTime
            } yield (c - s) / 1e3
            Console.err.println(
              f"[graft-stage] id=${si.stageId}%4d tasks=${si.numTasks}%4d " +
              f"wall=${wall.getOrElse(-1.0)}%7.3f " +
              f"cpu=${si.taskMetrics.executorCpuTime / 1e9}%8.3f " +
              f"run=${si.taskMetrics.executorRunTime / 1e3}%8.3f  ${si.name.take(90)}")
          }
        })

    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    planDir.foreach(d => new java.io.File(d).mkdirs())

    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      planDir.foreach { d =>
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(d, s"$name.txt"),
          txt.getBytes("UTF-8"))
      }
      val times = (1 to runs).map { _ =>
        spark.sparkContext.setJobDescription(s"benchextra:$name")
        val t0 = System.nanoTime()
        if (sys.env.getOrElse("GRAFT_ACTION", "noop") == "count")
          fn(spark, sfDir).count()
        else
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        spark.catalog.clearCache()
        t
      }
      if (times.nonEmpty)
        println(f"[benchextra] $name%-32s min=${times.min}%8.3f  runs=${times.map(t => f"$t%.3f").mkString(",")}")
      else
        println(s"[benchextra] $name plan-only (GRAFT_RUNS=0)")
    }
    spark.stop()
  }
}
