package graft.rollup

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructType}

import graft.model.{Schemas, Tier}
import graft.plans.TierRouting
import graft.table.ChronoTable

/** The batch-incremental ingest → rollup → retention pipeline over
  * [[ChronoTable]]s (north_rule: "every batch is resumable from an
  * Iceberg-snapshot checkpoint with per-partition lineage rows and
  * rollup-count metrics emitted to a metrics table").
  *
  * Tables (under one warehouse root):
  *   - `raw_turns`   partitioned `ts_day` / `conv_bucket` — the
  *     miniature of Iceberg `days(ts)` + `bucket(N, conv_id)`.
  *   - `tier_1m/1h/1d` partitioned `ts_day` (of the bucket).
  *   - `metrics`     unpartitioned lineage + rollup-count rows.
  *
  * Exactly-once resume: each tier commit stamps the source-snapshot
  * watermark it consumed into the snapshot summary (`consumed_src`),
  * so watermark and data change atomically — a crash between commits
  * re-runs only the uncommitted step and can never double-count
  * (SURVEY.md §7 hard parts, "resumable exactly-once"). Maintenance
  * commits of a tier (retention drops, compactions) carry the
  * watermark forward ([[graft.table.ChronoTable.ConsumedSrcKey]]). The
  * 1m merge folds the new turns, as one-turn tier rows, together with
  * the existing 1m rows of their days in one aggregate and one
  * copy-on-write commit; 1h/1d recompute their affected day partitions
  * from the full (already-merged) finer tier, which is idempotent by
  * construction. Lineage rows are appended once per call: one
  * `metrics` commit for an ingest, one for a whole rollup cascade, one
  * for a retention pass that dropped anything.
  */
final class TranscriptStore(
    val spark: SparkSession,
    val warehouse: String,
    val convBuckets: Int = 8) {

  // conv_id is every table's cluster key: per-file key bounds are
  // recorded at commit time, and clusterAll/compactSorted makes
  // single-conversation reads prune to ~one file per partition
  val raw: ChronoTable = ChronoTable(
    spark, s"$warehouse/raw_turns", Seq("ts_day", "conv_bucket"), Some("ts"),
    clusterCol = Some("conv_id"))
  val tier1m: ChronoTable =
    ChronoTable(spark, s"$warehouse/tier_1m", Seq("ts_day"), Some("bucket_ts"),
      clusterCol = Some("conv_id"))
  val tier1h: ChronoTable =
    ChronoTable(spark, s"$warehouse/tier_1h", Seq("ts_day"), Some("bucket_ts"),
      clusterCol = Some("conv_id"))
  val tier1d: ChronoTable =
    ChronoTable(spark, s"$warehouse/tier_1d", Seq("ts_day"), Some("bucket_ts"),
      clusterCol = Some("conv_id"))
  val metrics: ChronoTable = ChronoTable(spark, s"$warehouse/metrics", Seq.empty)

  def tier(t: Tier): ChronoTable = t match {
    case Tier.Minute => tier1m
    case Tier.Hour => tier1h
    case Tier.Day => tier1d
  }

  private val turnCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  // ------------------------------------------------------------------
  // ingest
  // ------------------------------------------------------------------

  /** Append one batch of turns; returns the raw snapshot id (the
    * current one, unchanged, when the batch adds no row).
    *
    * @param dedupe idempotent re-ingest (the engine analog of the
    *   reference's FileConcat dedup, SURVEY.md domain table): rows
    *   whose (conv_id, turn_idx) already exist in the raw table are
    *   dropped with a LEFT ANTI join, so replaying a batch (at-least-
    *   once upstream delivery) cannot double-count. The anti join is
    *   day-partition-pruned: it reads back the keys of every ts_day
    *   partition the delivery touches (taken from the delivered rows,
    *   duplicates included), not the whole table — O(batch) at any
    *   scale. Duplicates WITHIN the incoming batch (a retried upstream
    *   producer duplicates inside one delivery most of all) are
    *   removed by a keep-first window pinned on ts — the anti join
    *   alone only screens against already-committed rows. The window
    *   runs once, in the write; the day probe needs none of it.
    */
  def ingest(turns: DataFrame, dedupe: Boolean = false): Long = {
    requireUtcSession()
    val base = turns.select(turnCols.map(col): _*)
    val deduped = if (!dedupe) base else {
      // tiebreak: duplicate keys with EQUAL ts but different payloads
      // must keep a deterministic survivor across runs/partitionings —
      // a hash over the payload columns pins one (ADVICE r3). xxhash64,
      // not 32-bit murmur3: at trillions of tied duplicate groups a
      // 32-bit tiebreak collides (birthday bound ~77k groups), and a
      // collision re-opens the exact nondeterminism this pins shut.
      val inBatch = graft.operators.Dedup.exactKeepFirst(
        base, Seq("conv_id", "turn_idx"), "ts",
        xxhash64(col("role"), col("text"), col("tool")))
      if (raw.currentSnapshotId == 0L) inBatch else {
        // a superset of the survivors' days: a key whose dropped copy
        // lies on a day where raw already holds it is still screened
        val days = base.select(date_format(col("ts"), "yyyy-MM-dd"))
          .distinct().collect().map(_.getString(0)).toSet
        val existingKeys = raw.read()
          .filter(col("ts_day").isin(days.toSeq: _*))
          .select(col("conv_id"), col("turn_idx"))
        inBatch.join(existingKeys, Seq("conv_id", "turn_idx"), "left_anti")
      }
    }
    val partitioned = deduped
      .withColumn("ts_day", date_format(col("ts"), "yyyy-MM-dd"))
      .withColumn("conv_bucket", pmod(hash(col("conv_id")), lit(convBuckets)))
    val before = raw.currentSnapshotId
    val sid = raw.append(partitioned, Map("op_detail" -> "ingest"))
    // a batch that adds no row (a deduped replay) commits nothing, so
    // it has no lineage either. Counting the committed rows from the
    // footers spares a second run of the whole dedupe plan
    if (sid != before) {
      val perDay = addedRowsPerDay(raw, sid)
        .map(rows => perDayFrame(rows.map { case (day, n) => (day, n, 0L) }))
        .getOrElse(partitioned.groupBy("ts_day").agg(
          count(lit(1)).as("rows"), lit(0L).as("rollup_rows")))
      appendLineage(Seq(lineage("ingest", "raw", sid, perDay)))
    }
    sid
  }

  /** `ts_day` is formatted in the session zone but the 1d bucket floors
    * at UTC midnight: in any zone but UTC a bucket spans two day
    * partitions and the recomputed days count it twice.
    */
  private def requireUtcSession(): Unit = {
    val zone = spark.conf.get("spark.sql.session.timeZone")
    if (!TierRouting.isUtcZone(zone)) throw new IllegalStateException(
      s"TranscriptStore needs a UTC session time zone, got $zone")
  }

  /** The `ts_day` partition value of a raw or tier file. */
  private def dayOf(f: ChronoTable.FileEntry): String =
    raw.parsePartition(f.partition).getOrElse("ts_day", "")

  /** Rows per `ts_day` that commit `sid` of `t` wrote, from the footer
    * counts of the files it added; None if a footer went unread.
    */
  private def addedRowsPerDay(t: ChronoTable, sid: Long): Option[Seq[(String, Long)]] = {
    val added = t.incrementalFiles(sid - 1, sid)
    if (added.exists(_.rows.isEmpty)) None
    else Some(added.groupBy(dayOf).toSeq.sortBy(_._1)
      .map { case (day, fs) => day -> fs.flatMap(_.rows).sum })
  }

  /** Read raw turns at the current snapshot with the stable
    * (conv_id, turn_idx) ordering contract available to callers.
    */
  def readTurns(): DataFrame =
    raw.read().select(turnCols.map(col): _*)

  /** Serve one conversation's turns: file-prune on the per-file
    * conv_id bounds first ([[graft.table.ChronoTable.scanFilesByKey]]),
    * then row-filter. After [[clusterAll]] this touches ~one file per
    * partition; before it (scattered ingest) it degrades gracefully
    * to the full-scan filter — stats prune files, never rows. An id
    * no live file covers yields an empty frame of the turn columns.
    */
  def readConversation(convId: String): DataFrame =
    if (raw.scanFilesByKey(convId, convId).isEmpty) emptyFrame(Schemas.turns)
    else raw.readKeyRange(convId, convId)
      .filter(col("conv_id") === convId)
      .select(turnCols.map(col): _*)

  private def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  // ------------------------------------------------------------------
  // incremental rollup cascade
  // ------------------------------------------------------------------

  private def consumedSrc(s: Option[ChronoTable.Snapshot]): Long =
    s.flatMap(_.summary.get(ChronoTable.ConsumedSrcKey)).map(_.toLong).getOrElse(0L)

  /** The cascade's one caught-up rule: the data files `src` added in
    * (the source snapshot `dst` consumed, `srcSid`], from the manifest
    * alone. A table is caught up with its source when there are none,
    * so a commit that adds no file (a retention drop, a 0-row batch)
    * never makes a consumer lag, and one that adds files (new data, a
    * compaction) always does.
    */
  private def pending(src: ChronoTable, srcSid: Long, dst: Option[ChronoTable.Snapshot]) =
    src.incrementalFiles(consumedSrc(dst), srcSid)

  private def withDay(df: DataFrame): DataFrame =
    df.withColumn("ts_day", date_format(col("bucket_ts"), "yyyy-MM-dd"))

  private val tierCols = Seq("conv_id", "bucket_ts") ++ Rollup.metricCols

  /** Run the incremental cascade; returns per-tier merged-row counts.
    * A tier that is caught up with its source ([[pending]]) commits
    * nothing, so a call with nothing new returns empty and writes no
    * snapshot. Safe to re-run after a crash at ANY point for the tiers:
    * their data and watermarks change in one commit each. The lineage
    * rows of every tier the call committed are appended once, after the
    * last tier commit, as one `metrics` snapshot; a crash before that
    * append loses this call's lineage rows (the re-run finds the tiers
    * caught up and writes none), never tier data.
    *
    * Bookkeeping comes from the manifests, not from Spark jobs: an
    * increment is its source's pending files, its affected days are
    * those files' `ts_day` partitions (a 1m/1h/1d floor never leaves
    * its source row's day), and a merge's row count is the footer rows
    * of the files it committed.
    */
  def rollupIncremental(): Map[String, Long] = {
    requireUtcSession()
    var report = Map.empty[String, Long]
    var lineageRows = Seq.empty[(String, DataFrame)]

    // bring `dst` up to `src`'s CURRENT: `rows(consumed, srcCur, days)`
    // recomputes the tier rows of the increment's affected days
    def step(src: ChronoTable, dst: ChronoTable, label: String)(
        rows: (Long, Long, Set[String]) => DataFrame): Unit = {
      val (srcCur, dstSnap) = (src.currentSnapshotId, dst.currentSnapshot)
      val days = pending(src, srcCur, dstSnap).map(dayOf).toSet
      if (days.nonEmpty) {
        val (n, lin) = commitTier(dst, label, rows(consumedSrc(dstSnap), srcCur, days),
          days, Map(ChronoTable.ConsumedSrcKey -> srcCur.toString))
        report += label -> n
        lineageRows :+= lin
      }
    }

    // raw → 1m: new turns as one-turn tier rows, folded together with
    // the existing 1m rows of their days in one aggregate
    step(raw, tier1m, "1m") { (after, until, days) =>
      val turns = Rollup.turnRows(raw.readIncremental(after, until),
        Rollup.bucket(col("ts"), Tier.Minute))
      val base = if (!tier1m.liveFiles().exists(f => days(dayOf(f)))) turns
        else tier1m.read().filter(col("ts_day").isin(days.toSeq: _*))
          .select(tierCols.map(col): _*).unionByName(turns)
      Rollup.foldTier(base, Tier.Minute)
    }

    // finer tier → coarser tier: recompute affected day partitions.
    // Besides the algebraic metric folds, each coarser bucket stores a
    // Gorilla chunk of the finer tier's (bucket_ts, text_len_sum)
    // series — the north-star "compressed rolled points as binary
    // chunk columns". Recomputing whole partitions keeps the chunk
    // deterministic (ChunkAgg sorts in finish) and idempotent; the
    // source partitions are fully merged → recompute, don't merge.
    def fold(src: ChronoTable, to: Tier)(days: Set[String]): DataFrame = {
      val aggs = Rollup.foldAggs :+ graft.compress.ChunkCodec.chunkEncode(
        unix_micros(col("bucket_ts")), col("text_len_sum").cast("double")).as("chunk")
      src.read()
        .filter(col("ts_day").isin(days.toSeq: _*))
        .select(tierCols.map(col): _*)
        .groupBy(col("conv_id"), Rollup.bucket(col("bucket_ts"), to).as("bucket_ts"))
        .agg(aggs.head, aggs.tail: _*)
    }

    step(tier1m, tier1h, "1h")((_, _, days) => fold(tier1m, Tier.Hour)(days))
    step(tier1h, tier1d, "1d")((_, _, days) => fold(tier1h, Tier.Day)(days))
    appendLineage(lineageRows)
    report
  }

  /** Replace `dst`'s `days` partitions with `rows` in one commit stamped
    * `stamp`; returns its row count and its lineage rows, which the
    * caller appends. Rows per day are the footer counts the commit
    * recorded, rolled turns per day an observation of the write itself:
    * no second job reads `rows`.
    */
  private def commitTier(dst: ChronoTable, label: String, rows: DataFrame,
      days: Set[String], stamp: Map[String, String]): (Long, (String, DataFrame)) = {
    val sorted = days.toSeq.sorted
    val written = Observation()
    val perDay = sorted.flatMap { d =>
      val on = col("ts_day") === d
      Seq(count(when(on, 1)).as(s"rows_$d"), sum(when(on, col("turn_cnt"))).as(s"turns_$d"))
    }
    val sid = dst.overwritePartitions(p => days.contains(p.getOrElse("ts_day", "")),
      Some(withDay(rows).observe(written, perDay.head, perDay.tail: _*)), op = "merge",
      summary = stamp + ("affected_days" -> sorted.mkString(",")))
    val observed = written.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
    // a footer that went unread leaves the count of the write itself
    val rowsPerDay = addedRowsPerDay(dst, sid)
      .getOrElse(sorted.map(d => d -> observed(s"rows_$d")).filter(_._2 > 0))
    (rowsPerDay.map(_._2).sum, lineage(s"rollup_$label", s"tier_$label", sid,
      perDayFrame(rowsPerDay.map { case (d, n) => (d, n, observed(s"turns_$d")) })))
  }

  /** Read a tier at its current snapshot (metric columns only); a tier
    * with no live files reads as an empty frame of those columns.
    */
  def readTier(t: Tier): DataFrame = readTierAs(t, Schemas.tier)

  /** 1h/1d tiers also carry the Gorilla chunk of the finer tier's
    * (bucket_ts, text_len_sum) points within each coarse bucket.
    */
  def readTierWithChunks(t: Tier): DataFrame = {
    require(t != Tier.Minute, "1m is the finest tier — no chunk column")
    readTierAs(t, Schemas.tier.add("chunk", BinaryType))
  }

  private def readTierAs(t: Tier, schema: StructType): DataFrame =
    if (tier(t).liveFiles().isEmpty) emptyFrame(schema)
    else tier(t).read().select(schema.fieldNames.toSeq.map(col): _*)

  /** SERVE the finer tier's (bucket_ts, text_len_sum) series decoded
    * straight out of tier `t`'s compressed chunks — the north-star
    * read path for cold history: one coarse tier row expands to its
    * finer points without touching the finer tier's files at all.
    * Bit-exact with the finer tier (Gorilla round-trip, asserted in
    * PipelineSpec).
    */
  def readDecodedPoints(t: Tier): DataFrame =
    readTierWithChunks(t)
      .select(col("conv_id"),
        explode(graft.compress.ChunkCodec.chunkDecode(col("chunk"))).as("p"))
      .select(col("conv_id"),
        timestamp_micros(col("p.ts")).as("bucket_ts"),
        col("p.v").as("value"))

  /** Every table by name; a tier's name is its [[Tier]] name. */
  private def tables: Seq[(String, ChronoTable)] =
    Seq("raw" -> raw, "metrics" -> metrics) ++ Tier.cascade.map(t => t.name -> tier(t))

  // ------------------------------------------------------------------
  // retention
  // ------------------------------------------------------------------

  /** TTL retention relative to an explicit `today` (no wall-clock —
    * determinism per FIXTURES.md). Raw keeps `ttlDays("raw")` days,
    * tiers their own budgets; expired `ts_day` partitions are
    * metadata-dropped. Returns per named table the partitions dropped.
    * A table with nothing expired commits nothing. The lineage rows of
    * every table that dropped are appended once, after the last drop,
    * as one `metrics` snapshot; a crash before that append loses this
    * call's lineage rows (a re-run finds nothing expired and writes
    * none), never a drop.
    */
  def retain(ttlDays: Map[String, Int], today: LocalDate): Map[String, Long] = {
    val drops = Seq("raw" -> raw, "1m" -> tier1m, "1h" -> tier1h, "1d" -> tier1d)
      .flatMap { case (name, t) => ttlDays.get(name).map { ttl =>
        val cutoff = today.minusDays(ttl.toLong).toString
        def expired(p: Map[String, String]) = p.get("ts_day").exists(_ < cutoff)
        val n = t.livePartitions.count(expired).toLong
        val lin = if (n == 0L) None else {
          val sid = t.dropPartitions(expired, summary = Map("cutoff" -> cutoff))
          Some(lineage("retention", name, sid, perDayFrame(Seq((cutoff, n, 0L)))))
        }
        (name -> n, lin)
      } }
    appendLineage(drops.flatMap(_._2))
    drops.map(_._1).toMap
  }

  /** Compact multi-file partitions across every table (S11's
    * compaction as a first-class maintenance op); pair with
    * [[vacuum]] to actually reclaim the superseded bytes.
    */
  def compactAll(minFiles: Int = 2): Map[String, Long] =
    tables.map { case (n, t) => n -> t.compact(minFiles = minFiles) }.toMap

  /** Sort-cluster every conv_id-keyed table on its cluster key
    * (Iceberg `rewrite_data_files` with a sort order): after this,
    * per-conversation serving reads prune on the per-file key bounds
    * instead of scanning every file of the partition. The metrics
    * table has no cluster key and is skipped.
    */
  def clusterAll(filesPerPartition: Int = 1): Map[String, Long] =
    tables.collect { case (n, t) if t.clusterCol.isDefined =>
      n -> t.compactSorted(filesPerPartition = filesPerPartition) }.toMap

  /** Reclaim bytes across every table: delete data files referenced
    * by no retained snapshot (run after [[retain]], whose partition
    * drops are metadata-only). The tier snapshots of the last
    * [[publishServing]] are retained too, so routed reads planned
    * against them stay readable. Returns table → (files, bytes) freed.
    */
  def vacuum(retainSnapshots: Int = 1): Map[String, (Long, Long)] = {
    val pins = TierRouting.servingPins(warehouse)
    tables.map { case (n, t) =>
      n -> t.vacuum(retainSnapshots, pins.get(n).map(_.snapshotId).toSet) }.toMap
  }

  // ------------------------------------------------------------------
  // lineage + metrics
  // ------------------------------------------------------------------

  private def perDayFrame(rows: Seq[(String, Long, Long)]): DataFrame =
    spark.createDataFrame(rows).toDF("ts_day", "rows", "rollup_rows")

  /** The lineage rows of one commit, one per affected partition: (job,
    * table, snapshot, partition day, row count, rolled-up turn count),
    * keyed by the job.
    */
  private def lineage(job: String, table: String, sid: Long,
      perDay: DataFrame): (String, DataFrame) =
    job -> perDay.select(
      lit(job).as("job"), lit(table).as("table_name"), lit(sid).as("snapshot_id"),
      col("ts_day").cast("string").as("partition_day"),
      col("rows").cast("long").as("row_cnt"),
      col("rollup_rows").cast("long").as("rolled_turn_cnt"))

  /** Append the lineage rows of the given commits as one `metrics`
    * snapshot (one file), its summary naming their distinct jobs; no
    * commits, no snapshot.
    */
  private def appendLineage(rows: Seq[(String, DataFrame)]): Unit =
    rows.map(_._2).reduceOption(_ unionByName _).foreach { all =>
      metrics.append(all.coalesce(1), Map("job" -> rows.map(_._1).distinct.mkString(",")))
    }

  def readMetrics(): DataFrame = metrics.read()

  /** Publish the tiers to routed reads by pinning their CURRENT
    * snapshots: no data moves. One atomic write (old pins or new, never
    * a mix; [[graft.plans.TierRouting.pinsPath]]) records per tier its
    * snapshot id and the raw snapshot id that snapshot fully reflects:
    * its source's (raw's CURRENT for 1m) when the tier is caught up with
    * its source's pinned snapshot ([[pending]]), else 0. TierRouting
    * plans the pinned snapshot's files and refuses a pin behind the raw
    * table's CURRENT — serving can lag, but a routed query never
    * silently returns stale aggregates; [[vacuum]] keeps the pinned
    * snapshots. Tiers keep their own TTLs: after a raw-only retention
    * they still hold the days raw dropped.
    */
  def publishServing(): Unit = {
    def sid(s: Option[ChronoTable.Snapshot]) = s.fold(0L)(_.id)
    val chain = (raw +: Tier.cascade.map(tier)).map(t => t -> t.currentSnapshot)
    // a tier reflects what its source does while caught up with it
    var reflects = sid(chain.head._2)
    val lines = Tier.cascade.zip(chain.zip(chain.tail)).map { case (t, ((src, s), (_, snap))) =>
      if (pending(src, sid(s), snap).nonEmpty) reflects = 0L
      s"${t.name} ${sid(snap)} $reflects\n"
    }
    ChronoTable.atomicWrite(TierRouting.pinsPath(warehouse), lines.mkString)
  }
}
