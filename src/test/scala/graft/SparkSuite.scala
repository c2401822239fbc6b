package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One started job: its first stage's name (the short call site), its
    * description, and the SQL execution it ran in (None outside any).
    */
  final case class Job(site: String, description: String, executionId: Option[String]) {
    def inSql: Boolean = executionId.isDefined
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark

  /** The jobs `body` starts, in start order. The listener bus is drained
    * before the listener is added, so no earlier job is counted, and
    * again before it is removed, so none of `body`'s is missed.
    */
  def jobsOf(body: => Any): Seq[SparkSuite.Job] = {
    val jobs = mutable.ArrayBuffer.empty[SparkSuite.Job]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        jobs += SparkSuite.Job(js.stageInfos.headOption.map(_.name).getOrElse(""),
          prop("spark.job.description").getOrElse(""), prop("spark.sql.execution.id"))
      }
    }
    GraftShims.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; GraftShims.drainListeners(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.synchronized(jobs.toList)
  }
}
