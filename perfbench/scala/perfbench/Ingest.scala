package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tier
import graft.plans.TierRouting
import graft.rollup.{Rollup, TranscriptStore}

/** The production write path: each batch runs `ingest(dedupe = true)`,
  * `rollupIncremental` and `publishServing`, and is then read back with
  * a lookup and a `TierRouting`-routed aggregate. The first batch is
  * delivered a second time right after itself.
  */
object Ingest {

  final case class Size(nConvs: Int, avgTurns: Int, hotTurns: Int, batchRows: Int)

  /** Batches under `dir`, and the conversations each batch holds. */
  final case class Corpus(dir: String, batches: Int, convs: IndexedSeq[IndexedSeq[String]])

  /** The replayed batch, delivered again right after itself. */
  val ReplayBatch = 0
  val ReplayAfter = 0

  def corpus(spark: SparkSession, size: Size, seed: Long, dir: String): Corpus = {
    val df = Inputs.turns(spark, size.nConvs, size.avgTurns, size.hotTurns, seed)
    val n = Inputs.writeBatches(df, dir, size.batchRows)
    val byBatch = spark.read.parquet(dir).select("_batch", "conv_id").distinct().collect()
      .groupBy(_.getInt(0)).map { case (b, rs) => b -> rs.map(_.getString(1)).sorted.toIndexedSeq }
    Corpus(dir, n, (0 until n).map(byBatch))
  }

  /** One read issued right after a batch was published. */
  final case class Read(batch: Int, kind: String, key: String, agg: Option[Reads.Agg],
      rows: Seq[Row], ms: Double, planningMs: Double, routed: Boolean, files: Int)

  final case class Stream(store: TranscriptStore, warehouse: String,
      batchesDone: Int, turns: Long, wallS: Double, freshnessS: Seq[Double],
      replayRowsAdded: Long, reads: Seq[Read], attempted: Int, failed: Int,
      errors: Seq[String])

  /** Aggregates read back after each batch, in turn: routable shapes over
    * the raw table, which the published tiers can answer.
    */
  private val readAggs = IndexedSeq(
    Reads.Agg("all-1h", Tier.Hour, None),
    Reads.Agg("all-1d", Tier.Day, None),
    Reads.Agg("conv-1m", Tier.Minute, Some("conv-000000")))

  /** Run batches until `deadlineNs` has passed and at least `minBatches`
    * are done, or the corpus is exhausted. After each batch is published,
    * a lookup of one of its conversations and one routed aggregate read
    * it back; they are timed apart from the batch. With `replay` the
    * replayed batch is delivered again after itself.
    */
  def stream(spark: SparkSession, c: Corpus, warehouse: String, trace: Trace,
      deadlineNs: Long, minBatches: Int, seed: Long, replay: Boolean = true): Stream = {
    val store = new TranscriptStore(spark, warehouse)
    TierRouting.install(spark)
    TierRouting.registerWarehouse(store.raw.root, warehouse)
    val rng = new scala.util.Random(seed)
    val fresh = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Read]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var replayAdded = -1L
    var wall = 0.0
    var b = 0
    def deliver(i: Int, op: String): Double = {
      attempted += 1
      val df = Inputs.batch(spark, c.dir, i)
      val t0 = System.nanoTime()
      trace.span("op", "batch", op) {
        trace.span("rollup", "ingest", op)(store.ingest(df, dedupe = true))
        trace.span("rollup", "rollupIncremental", op)(store.rollupIncremental())
        trace.span("rollup", "publishServing", op)(store.publishServing())
      }
      val t = (System.nanoTime() - t0) / 1e9
      wall += t
      t
    }
    def readBack(i: Int): Unit = {
      // a conversation no live file holds makes readConversation throw
      // (it filters an empty frame), so look up one the batch brought
      val id = c.convs(i)(rng.nextInt(c.convs(i).size))
      attempted += 1
      val t0 = System.nanoTime()
      val lookup = trace.span("op", "lookup", s"lookup-$i") {
        val df = trace.span("rollup", "readConversation", s"lookup-$i")(store.readConversation(id))
        (df, trace.span("exec", "collect", s"lookup-$i")(df.collect().toSeq))
      }
      reads += Read(i, "lookup", id, None, lookup._2, (System.nanoTime() - t0) / 1e6,
        Reads.planningMs(lookup._1), false, store.raw.scanFilesByKey(id, id).size)
      val a = readAggs(i % readAggs.size)
      attempted += 1
      val t1 = System.nanoTime()
      val agg = trace.span("op", "aggregate", s"aggregate-$i") {
        val df = trace.span("plans", "tierAggregate", s"aggregate-$i")(
          Reads.aggregate(store.readTurns(), a))
        (df, trace.span("exec", "collect", s"aggregate-$i")(df.collect().toSeq))
      }
      reads += Read(i, "aggregate", a.name, Some(a), agg._2, (System.nanoTime() - t1) / 1e6,
        Reads.planningMs(agg._1), Reads.routed(agg._1), 0)
    }
    try {
      while (b < c.batches && (b < minBatches || System.nanoTime() < deadlineNs)) {
        fresh += deliver(b, s"batch-$b")
        readBack(b)
        b += 1
        if (replay && b - 1 == ReplayAfter) {
          val before = rawRows(store)
          deliver(ReplayBatch, s"replay-$ReplayBatch")
          replayAdded = rawRows(store) - before
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        errors += s"batch $b: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    }
    Stream(store, warehouse, b, rawRows(store), wall, fresh.toList, replayAdded,
      reads.toList, attempted, errors.size, errors.toList)
  }

  /** Live raw rows from the manifest's footer counts (no Spark job). */
  def rawRows(store: TranscriptStore): Long = store.raw.rowCount.getOrElse(-1L)

  /** Tiers equal `rollupRaw` of the ingested batches; 1h chunks decode
    * to the 1m points; the replayed batch added no rows.
    */
  def check(spark: SparkSession, c: Corpus, s: Stream): Seq[(String, Option[String])] = {
    val ingested = Inputs.batchesBefore(spark, c.dir, s.batchesDone)
    val tiers = Tier.cascade.map { t =>
      s"tier_${t.name} = rollupRaw(ingested)" ->
        Checks.sameRows(s.store.readTier(t), Rollup.rollupRaw(ingested, t))
    }
    val chunks = "1h chunks decode to the 1m points" -> Checks.sameRows(
      s.store.readDecodedPoints(Tier.Hour),
      s.store.readTier(Tier.Minute).select(col("conv_id"), col("bucket_ts"),
        col("text_len_sum").cast("double").as("value")))
    val replay = "replayed batch adds 0 rows" -> (
      if (s.batchesDone <= ReplayAfter) Some("stream ended before the replay")
      else if (s.replayRowsAdded == 0L) None
      else Some(s"replay added ${s.replayRowsAdded} raw rows"))
    val turns = "raw rows = ingested turns" -> {
      val n = ingested.count()
      if (n == s.turns) None else Some(s"raw holds ${s.turns} rows, ingested $n")
    }
    val turnCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
    def firstFailure(rs: Seq[Read])(expect: Read => Seq[Row]): Option[String] =
      rs.iterator.map(r => Checks.sameRows(r.rows, expect(r)).map(e => s"after batch ${r.batch}: $e"))
        .collectFirst { case Some(e) => e }
    val lookups = "read-back lookups return the ingested turns" ->
      firstFailure(s.reads.filter(_.kind == "lookup")) { r =>
        Inputs.batchesBefore(spark, c.dir, r.batch + 1).filter(col("conv_id") === r.key)
          .select(turnCols.map(col): _*).collect().toSeq
      }
    val aggs = "read-back aggregates equal the raw-path answers" ->
      firstFailure(s.reads.filter(_.kind == "aggregate")) { r =>
        Reads.aggregate(Inputs.batchesBefore(spark, c.dir, r.batch + 1), r.agg.get).collect().toSeq
      }
    tiers ++ Seq(chunks, replay, turns, lookups, aggs)
  }

  private def filesUnder(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toList finally st.close()
    }

  /** Bytes on disk: (whole warehouse, data files, snapshot metadata). */
  def storedBytes(warehouse: String): (Long, Long, Long) = {
    val all = filesUnder(Paths.get(warehouse))
    def bytes(ps: Seq[Path]) = ps.map(Files.size).sum
    val tables = Seq("raw_turns", "tier_1m", "tier_1h", "tier_1d", "metrics")
    val data = tables.flatMap(t => filesUnder(Paths.get(warehouse, t, "data")))
      .filter(_.toString.endsWith(".parquet"))
    val meta = tables.flatMap(t => filesUnder(Paths.get(warehouse, t, "snapshots")))
    (bytes(all), bytes(data), bytes(meta))
  }

  /** Chunk bytes per encoded point in the 1h and 1d tiers. */
  def chunkBytesPerPoint(store: TranscriptStore): Double = {
    val perTier = Seq(Tier.Hour, Tier.Day).map { t =>
      val r = store.readTierWithChunks(t)
        .agg(sum(length(col("chunk"))), sum(size(
          graft.compress.ChunkCodec.chunkDecode(col("chunk"))))).head()
      (r.getLong(0), r.getLong(1))
    }
    perTier.map(_._1).sum.toDouble / math.max(1L, perTier.map(_._2).sum)
  }
}
