package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.GraftPartitionShims
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.table.ChronoTable._

/** A snapshot/manifest table layer with Iceberg mechanics at miniature
  * scale (SURVEY.md §7): partitioned Parquet data files + an atomic
  * JSON snapshot log giving
  *
  *   - snapshot isolation (readers pin a snapshot id),
  *   - atomic commits (write-temp + `ATOMIC_MOVE` rename, both for the
  *     batch data directory and the snapshot json, then the CURRENT
  *     pointer),
  *   - incremental scans between snapshot ids (the rollup job's
  *     checkpoint watermark),
  *   - partition-level retention deletes (metadata-only: a new
  *     snapshot without the expired partitions' files — never
  *     `rm -rf`, unlike the reference's `clear_output`,
  *     /root/reference/jaeger_prometheus_joining/controlflow/
  *     JoinManager.py:189-195),
  *   - rollback (repoint CURRENT at an earlier snapshot).
  *
  * Physical layout under `root`:
  * {{{
  *   data/batch_id=<sid>/<p1>=<v>/.../part-*.parquet
  *   snapshots/v<sid>.json        // live files (partition, addedBy,
  *                                // footer rows, ts/key bounds) and
  *                                // the read schema of those files
  *   CURRENT                      // latest committed snapshot id
  * }}}
  *
  * `batch_id` is written as a partition-style directory so one
  * `spark.read.option("basePath", data/)` over any file subset
  * recovers both the user partition columns and the lineage column
  * `batch_id` — per-row provenance for free.
  *
  * A commit takes each new file's row count and bounds from the file's
  * own footer, with no Spark job, as Iceberg does at write time. So it
  * writes timestamps as INT64 `TIMESTAMP_MICROS`, not Spark's INT96
  * (no footer min/max); Spark reads both alike, and INT96 files of
  * older commits keep the bounds their manifest holds.
  *
  * Each snapshot records the schema that read returns — the data
  * columns (nullable) followed by `batch_id` and the partition columns
  * with their inferred types (e.g. `ts_day` as `DateType`) — worked
  * out at commit time from one footer and the partition directories,
  * with no Spark job. Every read passes it to `.schema(...)`, so no
  * read pays a parquet schema-inference job; a snapshot written
  * without it (older manifests) falls back to inference. Callers that
  * only need bookkeeping facts (emptiness, partition values, row
  * counts) take them from the snapshot's [[ChronoTable.FileEntry]]s
  * rather than from a Spark job.
  *
  * Single-writer per table is assumed (the driver's batch jobs are
  * sequential); on a real cluster the same call sites bind to an
  * `org.apache.iceberg.spark` catalog with the equivalent partition
  * spec (`days(ts)`, `bucket(conv_id)`), which provides optimistic
  * multi-writer commits.
  */
final class ChronoTable private (
    val spark: SparkSession,
    val root: String,
    val partitionCols: Seq[String],
    /** `TimestampType` column whose per-file min/max (Iceberg
      * manifest-stats analog) each commit records, used by
      * [[scanFiles]]/[[readRange]] to prune files a time-range query
      * can never match — at 100 TB the difference between reading a
      * partition and reading a file.
      */
    val statsTsCol: Option[String],
    /** Declared `StringType` cluster column (Iceberg sort-order
      * analog): per-file min/max bounds are recorded at commit, and
      * [[compactSorted]] rewrites partitions range-clustered on it so
      * the bounds become DISJOINT — after which [[readKeyRange]]
      * point/range lookups on the key read one file per partition
      * instead of all of them. Ingest order rarely correlates with
      * the key, so freshly appended files all span the whole key
      * domain; clustering is what makes the recorded stats bite.
      */
    val clusterCol: Option[String] = None) {

  private val mapper = new ObjectMapper()
  private def dataRoot = s"$root/data"
  private def snapDir = Paths.get(root, "snapshots")
  private def currentPtr = Paths.get(root, "CURRENT")

  // ------------------------------------------------------------------
  // snapshot log
  // ------------------------------------------------------------------

  def currentSnapshotId: Long =
    if (Files.exists(currentPtr)) Files.readString(currentPtr).trim.toLong else 0L

  def snapshot(id: Long): Option[Snapshot] = {
    val p = snapDir.resolve(s"v$id.json")
    if (!Files.exists(p)) None
    else {
      val n = mapper.readTree(Files.readString(p))
      val files = n.get("files").elements().asScala.map { f =>
        def opt(k: String) = Option(f.get(k))
        FileEntry(f.get("path").asText, f.get("partition").asText,
          f.get("addedBy").asLong, opt("minTsUs").map(_.asLong),
          opt("maxTsUs").map(_.asLong), opt("rows").map(_.asLong),
          opt("minKey").map(_.asText), opt("maxKey").map(_.asText))
      }.toSeq
      val summary = n.get("summary").properties().asScala
        .map(e => e.getKey -> e.getValue.asText).toMap
      val schema = Option(n.get("schema"))
        .map(j => DataType.fromJson(j.asText).asInstanceOf[StructType])
      Some(Snapshot(n.get("id").asLong, n.get("parentId").asLong,
        n.get("op").asText, files, summary, schema))
    }
  }

  def currentSnapshot: Option[Snapshot] = {
    val id = currentSnapshotId
    if (id == 0) None else snapshot(id)
  }

  def snapshotIds: Seq[Long] =
    if (!Files.exists(snapDir)) Seq.empty
    else {
      val stream = Files.list(snapDir)
      try stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
          s.stripPrefix("v").stripSuffix(".json").toLong }
        .toSeq.sorted
      finally stream.close()
    }

  private def writeSnapshot(s: Snapshot): Unit = {
    val node = mapper.createObjectNode()
    node.put("id", s.id); node.put("parentId", s.parentId); node.put("op", s.op)
    val arr = node.putArray("files")
    s.files.foreach { f =>
      val fn = arr.addObject()
      fn.put("path", f.path); fn.put("partition", f.partition)
      fn.put("addedBy", f.addedBy)
      f.minTsUs.foreach(fn.put("minTsUs", _))
      f.maxTsUs.foreach(fn.put("maxTsUs", _))
      f.rows.foreach(fn.put("rows", _))
      f.minKey.foreach(fn.put("minKey", _))
      f.maxKey.foreach(fn.put("maxKey", _))
    }
    val sm = node.putObject("summary")
    s.summary.foreach { case (k, v) => sm.put(k, v) }
    // a compact JSON string, as Spark's parquet footers and Delta's
    // `schemaString` hold it: pretty-printed it would triple in size
    s.schema.foreach(st => node.put("schema", st.json))
    atomicWrite(snapDir.resolve(s"v${s.id}.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node))
    atomicWrite(currentPtr, s.id.toString)
  }

  // ------------------------------------------------------------------
  // commits
  // ------------------------------------------------------------------

  /** Stage `df` under `_tmp` and atomically rename the batch dir into
    * `data/`. If a previous crashed attempt left an orphaned
    * `batch_id=<sid>` dir (rename done, snapshot json never
    * committed — so nothing references it), it is removed first.
    */
  private def stageBatch(df: DataFrame, sid: Long): Seq[FileEntry] = {
    statsTsCol.foreach(requireType(df, _, TimestampType, "statsTsCol"))
    clusterCol.foreach(requireType(df, _, StringType, "clusterCol"))
    val staging = Paths.get(root, "_tmp", s"batch_id=$sid")
    Files.createDirectories(staging.getParent)
    deleteRecursively(staging)
    val writer = if (partitionCols.nonEmpty)
      df.write.partitionBy(partitionCols: _*) else df.write
    // Spark reads the timestamp encoding from the session, never from
    // a write option: set it for this write, then restore it
    val tsTypeBefore = spark.conf.getAll.get(TsTypeKey) // explicit only
    spark.conf.set(TsTypeKey, "TIMESTAMP_MICROS")
    try writer.mode("overwrite").parquet(staging.toString)
    finally tsTypeBefore.fold(spark.conf.unset(TsTypeKey))(spark.conf.set(TsTypeKey, _))
    val target = Paths.get(dataRoot, s"batch_id=$sid")
    Files.createDirectories(target.getParent)
    deleteRecursively(target) // orphan from a crashed commit of this sid
    Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    listParquet(target).map { p =>
      val rel = target.relativize(p).toString
      val entry = FileEntry(s"batch_id=$sid/$rel",
        Option(Paths.get(rel).getParent).map(_.toString).getOrElse(""), sid)
      footer(p) { r =>
        val ts = statsTsCol.flatMap(bounds(r, _, MicrosTimestamp)(
          _.asInstanceOf[java.lang.Long].longValue))
        val key = clusterCol.flatMap(bounds(r, _, Utf8String)(
          _.asInstanceOf[Binary].toStringUsingUTF8))
        entry.copy(rows = Some(r.getRecordCount),
          minTsUs = ts.map(_._1), maxTsUs = ts.map(_._2),
          minKey = key.map(_._1), maxKey = key.map(_._2))
      }.getOrElse(entry)
    }
  }

  private def requireType(df: DataFrame, c: String, want: DataType, role: String): Unit = {
    val got = df.schema.find(_.name == c).map(_.dataType)
    require(got.contains(want), s"$role `$c` must be ${want.simpleString}, got " +
      got.fold("no such column")(_.simpleString))
  }

  /** Min/max of `c` over all row groups from the footer's chunk stats,
    * in parquet's order (unsigned bytes for strings, as Spark's). Never
    * too narrow: all-null chunks are skipped; None (never pruned) when
    * all values are null, or a chunk with values lacks min/max or is not
    * written as `annotation`.
    */
  private def bounds[A](r: ParquetFileReader, c: String,
      annotation: LogicalTypeAnnotation)(decode: Any => A): Option[(A, A)] = {
    val valued = r.getFooter.getBlocks.asScala.toSeq
      .flatMap(_.getColumns.asScala.find(_.getPath.toDotString == c))
      .filterNot(ch => ch.getStatistics.isNumNullsSet &&
        ch.getStatistics.getNumNulls == ch.getValueCount)
    if (valued.isEmpty || valued.exists(ch => !ch.getStatistics.hasNonNullValue ||
        ch.getPrimitiveType.getLogicalTypeAnnotation != annotation)) None
    else {
      val st = valued.head.getStatistics.copy()
      valued.tail.foreach(ch => st.mergeStatistics(ch.getStatistics))
      Some((decode(st.genericGetMin), decode(st.genericGetMax)))
    }
  }

  /** Direct read of one parquet FOOTER (like Iceberg's manifest
    * metadata), NO Spark job. None if the footer is unreadable — the
    * entry then simply lacks the fact rather than failing the commit.
    * The reader takes its options from the session's Hadoop
    * configuration: `open(InputFile)` alone builds a fresh
    * `Configuration` per footer, re-parsing the Hadoop default XML
    * resources each time.
    */
  private def footer[A](p: Path)(f: ParquetFileReader => A): Option[A] =
    scala.util.Try {
      val conf = spark.sparkContext.hadoopConfiguration
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new HPath(p.toUri), conf)
      val r = ParquetFileReader.open(in, HadoopReadOptions.builder(conf).build())
      try f(r) finally r.close()
    }.toOption

  /** The schema a `basePath`-anchored read of `files` infers, worked out
    * without a Spark job: the Spark schema Spark's writer stores in one footer
    * (inference reads one footer too; a table's files share one data
    * schema) plus Spark's own partition inference over the files'
    * directories. None for no files, or a footer without a Spark
    * schema — reads of such a snapshot fall back to inference.
    */
  private def readSchemaOf(files: Seq[FileEntry]): Option[StructType] =
    files.headOption
      .flatMap(f => footer(Paths.get(dataRoot, f.path))(r => Option(
        r.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))).flatten)
      .map { json =>
        val base = new HPath(dataRoot)
        val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val leafDirs = files.map(f => fs.makeQualified(new HPath(base, f.path)).getParent)
        GraftPartitionShims.readSchema(spark,
          DataType.fromJson(json).asInstanceOf[StructType],
          fs.makeQualified(base), leafDirs.distinct)
      }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try {
        val it = stream.sorted(java.util.Comparator.reverseOrder()).iterator()
        while (it.hasNext) Files.delete(it.next())
      } finally stream.close()
    }

  /** Append `df` as a new snapshot: an overwrite that drops nothing. */
  def append(df: DataFrame, summary: Map[String, String] = Map.empty): Long =
    overwritePartitions(_ => false, Some(df), op = "append", summary = summary)

  /** Copy-on-write overwrite of the partitions matching `drop`:
    * removes their files from the live set and appends `replacement`
    * (may be empty) in ONE commit — the MERGE primitive of the tier
    * tables, and every other commit's body. Returns the snapshot id;
    * one that would drop no file and add none commits nothing and
    * returns the current id. A crash at any point leaves the table
    * readable at its previous snapshot.
    */
  def overwritePartitions(
      drop: Map[String, String] => Boolean,
      replacement: Option[DataFrame],
      op: String = "overwrite",
      summary: Map[String, String] = Map.empty): Long = {
    val sid = currentSnapshotId + 1
    val (dropped, kept) = liveFiles().partition(f => drop(parsePartition(f.partition)))
    val added: Seq[FileEntry] = replacement match {
      case Some(df) => stageBatch(df, sid)
      case None => Seq.empty
    }
    if (dropped.isEmpty && added.isEmpty) {
      // an empty replacement leaves at most an empty staged directory
      deleteRecursively(Paths.get(dataRoot, s"batch_id=$sid"))
      sid - 1
    } else {
      val live = kept ++ added
      writeSnapshot(Snapshot(sid, sid - 1, op, live,
        summary ++ Map("dropped_files" -> dropped.size.toString,
          "added_files" -> added.size.toString), readSchemaOf(live)))
      sid
    }
  }

  /** Retention: metadata-drop every partition whose values satisfy
    * `expired`. Data files stay on disk until [[vacuum]] reclaims
    * whatever the retained snapshots no longer reference. Carries the
    * parent's [[ChronoTable.ConsumedSrcKey]] forward.
    */
  def dropPartitions(expired: Map[String, String] => Boolean,
      summary: Map[String, String] = Map.empty): Long =
    overwritePartitions(expired, None, op = "retention-drop", summary = maintained(summary))

  /** `summary` of a maintenance commit (retention, compaction): it
    * consumes no source, so it keeps the parent's source watermark
    * unless `summary` sets one.
    */
  private def maintained(summary: Map[String, String]): Map[String, String] =
    currentSnapshot.flatMap(_.summary.get(ConsumedSrcKey))
      .fold(summary)(w => Map(ConsumedSrcKey -> w) ++ summary)

  /** Small-file compaction (the third Iceberg maintenance op next to
    * retention and [[vacuum]]): rewrite every partition matching
    * `select` whose live file count exceeds `minFiles` into one file
    * per partition, in a single copy-on-write commit. Rows are
    * byte-identical; only the file layout (and per-row `batch_id`
    * lineage, which coarsens to the compaction's own snapshot id, as
    * in Iceberg's rewrite_data_files) changes; the commit carries the
    * parent's [[ChronoTable.ConsumedSrcKey]] forward. Returns the
    * snapshot id, or the current one when nothing qualifies.
    */
  def compact(select: Map[String, String] => Boolean = _ => true,
      minFiles: Int = 2): Long = {
    val snap = currentSnapshot
    val byPartition = snap.map(_.files).getOrElse(Seq.empty).groupBy(_.partition)
    val targets = byPartition.filter { case (p, fs) =>
      fs.size >= minFiles && select(parsePartition(p))
    }
    if (targets.isEmpty) return currentSnapshotId
    rewrite(snap, targets, "compact", Map("compacted_partitions" -> targets.size.toString))(
      base => if (partitionCols.isEmpty) base.coalesce(1)
        else base.repartition(partitionCols.map(col): _*))
  }

  /** One copy-on-write commit replacing the `targets` partitions of
    * `snap` with their rows (less `batch_id`) laid out by `layout`.
    */
  private def rewrite(snap: Option[Snapshot], targets: Map[String, Seq[FileEntry]],
      op: String, summary: Map[String, String])(layout: DataFrame => DataFrame): Long =
    overwritePartitions(p => targets.keys.exists(k => parsePartition(k) == p),
      Some(layout(readFiles(targets.values.flatten.toSeq, snap.flatMap(_.schema))
        .drop("batch_id"))), op, maintained(summary))

  /** Sort-clustered compaction (Iceberg `rewrite_data_files` with a
    * sort order): rewrite the selected partitions with rows RANGE-
    * clustered on [[clusterCol]] — `filesPerPartition` range splits,
    * each sorted — so per-file cluster-key bounds become (near-)
    * disjoint and [[readKeyRange]] prunes to ~one file per partition
    * instead of scanning them all. Plain [[compact]] fixes the
    * small-file problem; this one fixes key-scatter: freshly ingested
    * files each span the whole key domain, so key-stats pruning
    * cannot bite until a clustering rewrite concentrates each key's
    * rows. Rows are byte-identical; only layout (and `batch_id`
    * lineage, as in compact) changes.
    *
    * At 100 TB this is the standard scheduled maintenance pass: the
    * range-exchange shuffle is confined to the selected partitions
    * (run it per freshly-sealed day, not over the table's history).
    */
  def compactSorted(select: Map[String, String] => Boolean = _ => true,
      filesPerPartition: Int = 1): Long = {
    val c = clusterCol.getOrElse(
      throw new IllegalStateException("compactSorted needs a clusterCol"))
    require(filesPerPartition >= 1, s"filesPerPartition: $filesPerPartition")
    val snap = currentSnapshot
    val targets = snap.map(_.files).getOrElse(Seq.empty).groupBy(_.partition)
      .filter { case (p, _) => select(parsePartition(p)) }
    if (targets.isEmpty) return currentSnapshotId
    // range-partition on (dir-partition cols, key): each output file
    // covers one key range WITHIN one partition dir; the in-file sort
    // additionally gives parquet page-level locality on the key
    val rangeCols = (partitionCols :+ c).map(col)
    val nOut = math.max(1, targets.size * filesPerPartition)
    rewrite(snap, targets, "compact-sorted",
      Map("clustered_partitions" -> targets.size.toString, "cluster_col" -> c))(
      _.repartitionByRange(nOut, rangeCols: _*).sortWithinPartitions(rangeCols: _*))
  }

  /** Live files whose cluster-key bounds overlap [loKey, hiKey]
    * (inclusive, in the bounds' UTF-8 byte order). Files without key
    * stats are kept — pruning may under-prune, never drop data.
    */
  def scanFilesByKey(loKey: String, hiKey: String,
      snapshotId: Long = currentSnapshotId): Seq[FileEntry] =
    liveFiles(snapshotId).filter(keyOverlaps(loKey, hiKey))

  private def keyOverlaps(loKey: String, hiKey: String)(f: FileEntry): Boolean =
    (f.minKey.map(UTF8String.fromString), f.maxKey.map(UTF8String.fromString)) match {
      case (Some(mn), Some(mx)) => mn.compareTo(UTF8String.fromString(hiKey)) <= 0 &&
        mx.compareTo(UTF8String.fromString(loKey)) >= 0
      case _ => true
    }

  /** Cluster-key range read using per-file key-stats pruning: reads
    * ONLY the files [[scanFilesByKey]] keeps. Callers still apply
    * their own row filter (stats bound files, not rows).
    */
  def readKeyRange(loKey: String, hiKey: String): DataFrame =
    readAt(currentSnapshotId)(keyOverlaps(loKey, hiKey))

  /** Repoint CURRENT at an earlier snapshot (time travel / rollback). */
  def rollback(toSnapshotId: Long): Unit = {
    require(snapshot(toSnapshotId).isDefined, s"no snapshot $toSnapshotId")
    atomicWrite(currentPtr, toSnapshotId.toString)
  }

  // ------------------------------------------------------------------
  // reads
  // ------------------------------------------------------------------

  private def listParquet(dir: Path): Seq[Path] = {
    val stream = Files.walk(dir)
    try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .toSeq.sortBy(_.toString)
    finally stream.close()
  }

  def parsePartition(partition: String): Map[String, String] =
    partition.split('/').filter(_.nonEmpty).flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap

  /** Read `files` with `schema` (a snapshot's recorded read schema;
    * None infers it).
    */
  private def readFiles(files: Seq[FileEntry], schema: Option[StructType]): DataFrame =
    if (files.isEmpty) spark.emptyDataFrame
    else schema.fold(spark.read)(spark.read.schema)
      .option("basePath", dataRoot)
      .parquet(files.map(f => s"$dataRoot/${f.path}"): _*)

  /** The files of snapshot `snapshotId` that `keep` selects, read with
    * that snapshot's recorded schema.
    */
  private def readAt(snapshotId: Long)(keep: FileEntry => Boolean): DataFrame =
    snapshot(snapshotId).fold(spark.emptyDataFrame)(s =>
      readFiles(s.files.filter(keep), s.schema))

  /** Live files at `snapshotId` (default: current); none before the
    * first commit.
    */
  def liveFiles(snapshotId: Long = currentSnapshotId): Seq[FileEntry] =
    snapshot(snapshotId).map(_.files).getOrElse(Seq.empty)

  /** Read the table at `snapshotId` (default: current). Includes the
    * lineage column `batch_id`.
    */
  def read(snapshotId: Long = currentSnapshotId): DataFrame =
    readAt(snapshotId)(_ => true)

  /** Files of `untilSnapshotId` added by snapshots in
    * (`afterSnapshotId`, `untilSnapshotId`] — what
    * [[readIncremental]] reads, so callers can learn the increment's
    * emptiness, partitions and row counts from the manifest alone.
    */
  def incrementalFiles(afterSnapshotId: Long,
      untilSnapshotId: Long = currentSnapshotId): Seq[FileEntry] =
    liveFiles(untilSnapshotId).filter(addedIn(afterSnapshotId, untilSnapshotId))

  private def addedIn(after: Long, until: Long)(f: FileEntry): Boolean =
    f.addedBy > after && f.addedBy <= until

  /** Incremental scan: rows added by snapshots in (`afterSnapshotId`,
    * `untilSnapshotId`]. This is the rollup checkpoint watermark —
    * snapshot-id is the streaming analog per SURVEY.md §2.8.
    */
  def readIncremental(afterSnapshotId: Long,
      untilSnapshotId: Long = currentSnapshotId): DataFrame =
    readAt(untilSnapshotId)(addedIn(afterSnapshotId, untilSnapshotId))

  /** Live files whose stats range overlaps [loUs, hiUs] (epoch
    * micros, inclusive). Files without stats are conservatively kept
    * — pruning may under-prune, never drop data.
    */
  def scanFiles(loUs: Long, hiUs: Long,
      snapshotId: Long = currentSnapshotId): Seq[FileEntry] =
    liveFiles(snapshotId).filter(tsOverlaps(loUs, hiUs))

  private def tsOverlaps(loUs: Long, hiUs: Long)(f: FileEntry): Boolean =
    (f.minTsUs, f.maxTsUs) match {
      case (Some(mn), Some(mx)) => mn <= hiUs && mx >= loUs
      case _ => true
    }

  /** Time-range read using per-file min/max stats pruning: reads ONLY
    * the files [[scanFiles]] keeps. Callers still apply their own row
    * filter (stats bound files, not rows).
    */
  def readRange(loUs: Long, hiUs: Long): DataFrame =
    readAt(currentSnapshotId)(tsOverlaps(loUs, hiUs))

  /** Delete data files referenced by NO retained snapshot plus the
    * expired snapshot jsons — the byte-reclaim companion of
    * [[dropPartitions]] (which is metadata-only so time travel keeps
    * working until vacuum). Retains the `retainSnapshots` most recent
    * snapshots up to CURRENT, and every `pinned` snapshot whatever its
    * age (a published reference, as Iceberg's `expire_snapshots` keeps
    * tagged snapshots); other snapshots "after" CURRENT (undone by a
    * rollback) are vacuumed too. Returns (files deleted, bytes
    * reclaimed).
    */
  def vacuum(retainSnapshots: Int = 1, pinned: Set[Long] = Set.empty): (Long, Long) = {
    require(retainSnapshots >= 1, "must retain at least the current snapshot")
    val cur = currentSnapshotId
    if (cur == 0L) return (0L, 0L)
    val keepIds = snapshotIds
      .filter(id => pinned(id) || (id <= cur && id > cur - retainSnapshots)).toSet
    val referenced = keepIds.flatMap(id => liveFiles(id).map(_.path))
    var nFiles = 0L
    var nBytes = 0L
    val dataPath = Paths.get(dataRoot)
    if (Files.exists(dataPath)) {
      val stream = Files.walk(dataPath)
      val all = try stream.iterator().asScala
        .filter(Files.isRegularFile(_)).toSeq finally stream.close()
      all.foreach { p =>
        val rel = dataPath.relativize(p).toString
        if (!referenced.contains(rel)) {
          nBytes += Files.size(p)
          Files.delete(p)
          nFiles += 1
        }
      }
      // sweep now-empty batch/partition dirs
      val dirs = Files.walk(dataPath)
      try dirs.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach { p =>
          if (p != dataPath && Files.isDirectory(p)) {
            val ls = Files.list(p)
            val empty = try !ls.findFirst().isPresent finally ls.close()
            if (empty) Files.delete(p)
          }
        }
      finally dirs.close()
    }
    snapshotIds.filterNot(keepIds).foreach { id =>
      Files.deleteIfExists(snapDir.resolve(s"v$id.json"))
    }
    (nFiles, nBytes)
  }

  /** Live partitions (as parsed key→value maps) at the current snapshot. */
  def livePartitions: Seq[Map[String, String]] =
    liveFiles().map(f => parsePartition(f.partition)).distinct

  /** Total live rows at the current snapshot from manifest-recorded
    * footer counts — O(files) driver-side metadata, NO data scan: what
    * parameter-sizing consumers (e.g. the auto-ANN paths' `nHint`)
    * should pass instead of paying a full `count()` scan of the corpus.
    * None before the first commit, or when any live file predates
    * row-count recording (conservative: a partial sum must not
    * masquerade as the corpus size).
    */
  def rowCount: Option[Long] = currentSnapshot.flatMap { s =>
    if (s.files.exists(_.rows.isEmpty)) None else Some(s.files.flatMap(_.rows).sum)
  }
}

object ChronoTable {
  /** One live data file. `partition` is the relative key=value path
    * (excluding batch_id), e.g. "ts_day=2024-01-03/conv_bucket=2".
    * `minTsUs`/`maxTsUs` are the file's stats-column bounds in epoch
    * micros, from its footer at commit (INT96 files of older commits
    * keep the bounds recorded then); never too narrow, and None — the
    * file is never pruned — when the table has no stats column or the
    * footer gives no bound (e.g. an all-null column).
    * Companion-level (not class-nested) so pattern matches need no
    * unverifiable outer-instance check.
    */
  final case class FileEntry(path: String, partition: String, addedBy: Long,
      minTsUs: Option[Long] = None, maxTsUs: Option[Long] = None,
      /** Footer-recorded row count (None in pre-r5 manifests). */
      rows: Option[Long] = None,
      /** Cluster-key bounds (UTF-8 byte order), from the footer as
        * the ts bounds, with the same None rule.
        */
      minKey: Option[String] = None, maxKey: Option[String] = None)

  /** @param schema what a read of `files` returns (None in manifests
    *   written before schemas were recorded, or with no files).
    */
  final case class Snapshot(
      id: Long,
      parentId: Long,
      op: String,
      files: Seq[FileEntry],
      summary: Map[String, String],
      schema: Option[StructType] = None)

  /** Snapshot-summary key of a derived table's source watermark: the
    * source snapshot id whose rows the commit reflects (a rollup tier's
    * `consumed_src`). Maintenance commits carry it forward, so a
    * retention drop or a compaction never rewinds the consumer.
    */
  val ConsumedSrcKey = "consumed_src"

  /** Footer key under which Spark's parquet writer stores the written
    * Spark schema (JSON) — the schema parquet inference reads back.
    */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The session setting for the parquet encoding of timestamps, and
    * the encodings whose footer min/max a commit takes as bounds.
    */
  private val TsTypeKey = "spark.sql.parquet.outputTimestampType"
  private val MicrosTimestamp =
    LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)
  private val Utf8String = LogicalTypeAnnotation.stringType()

  /** Write-temp + `ATOMIC_MOVE` (creating the parent directory): a
    * reader sees the old content or the new, never a truncated file.
    */
  private[graft] def atomicWrite(target: Path, content: String): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Open (or initialize) a table rooted at `root`. */
  def apply(spark: SparkSession, root: String, partitionCols: Seq[String],
      statsTsCol: Option[String] = None,
      clusterCol: Option[String] = None): ChronoTable = {
    Files.createDirectories(Paths.get(root))
    new ChronoTable(spark, root, partitionCols, statsTsCol, clusterCol)
  }
}
