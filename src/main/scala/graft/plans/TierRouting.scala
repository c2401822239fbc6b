package graft.plans

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, TimestampType}
import org.apache.spark.sql.{Column, GraftShims, SparkSessionExtensions}

import graft.model.Tier
import graft.rollup.{Rollup, TranscriptStore}

/** Continuous-aggregate query routing (SURVEY.md §4 item 3, the
  * optimizer-stretch goal): a logical [[Rule]] that rewrites
  *
  * {{{ raw_turns.groupBy(conv_id, tier_bucket(ts, "1h"))
  *       .agg(count(*), count(tool), sum(length(text)), ...) }}}
  *
  * to an equivalent aggregate over the PRE-COMPUTED tier table —
  * turning a scan of 10^12 raw turns into a scan of the (orders of
  * magnitude smaller) 1h tier. The cascade's algebraic-partials
  * discipline is what makes the rewrite exact: raw count(*) ==
  * sum(turn_cnt), raw sum(length(text)) == sum(text_len_sum), etc.
  *
  * Safety rails (each bails out to the original, always-correct raw
  * plan):
  *
  *  - the path from the Aggregate to the scan must contain ONLY
  *    Project / SubqueryAlias nodes, plus Filters every conjunct of
  *    which is TRANSLATABLE onto the tier scan: predicates on the
  *    grouping key `conv_id`, and `ts >= L` / `ts < L` ranges whose
  *    literal is exactly bucket-aligned (floor bucketing makes the
  *    bound exact on bucket_ts then). Anything else — a Filter on a
  *    pre-aggregated column, an unaligned time bound, Limit, Sample,
  *    ... — cannot be answered by the tier table, so the rule
  *    refuses (a dropped Filter silently returning unfiltered totals
  *    is the classic materialized-view-matching bug).
  *  - the tier must be published AND fresh: `publishServing` pins
  *    each tier's snapshot with the raw-table snapshot it reflects
  *    ([[pinsPath]]; 0 unless the cascade up to it was caught up);
  *    the rule opens the warehouse as a [[TranscriptStore]], compares
  *    the pin against its raw table's CURRENT snapshot, refuses to
  *    serve stale aggregates, and scans the pinned snapshot's live
  *    files. A maintenance commit on raw moves CURRENT, so routing is
  *    off until the next publish (a retention drop adds no file) or
  *    rollup (a compaction adds files).
  *  - when the requested width has no (fresh) tier, the rule folds
  *    the coarsest FINER tier whose width divides the request — a 1d
  *    query with no 1d tier re-buckets the 1h tier, still orders of
  *    magnitude cheaper than raw.
  *
  * Queries use [[TierRouting.tierBucket]] — a custom codegen'd
  * expression that evaluates the same floor-truncation arithmetic as
  * `Rollup.bucket`, so plans are CORRECT WITHOUT the rule and merely
  * faster with it (the grouping key is also the rule's routing
  * marker; recognizing a raw `timestamp_micros(us - pmod(us, w))`
  * tree would be brittle).
  *
  * Registration: `TierRouting.install(spark)` (experimental methods)
  * or `withExtensions(new GraftExtensions)` before session build.
  */
object TierRouting {

  /** Months per bucket when `spec` is a calendar width, None for
    * fixed widths. Delegates to Rollup — ONE grammar authority.
    */
  def calendarMonths(spec: String): Option[Int] = Rollup.calendarMonths(spec)

  /** Calendar floor in epoch micros, in the given zone — the
    * eval/codegen kernel of calendar-width [[TierBucket]]s (also
    * called from generated code via the static forwarder). Same
    * months-since-epoch math as `Rollup.bucketWidth`'s calendar
    * branch, which is session-timezone-based (`year()`/`month()`), so
    * the marker captures the session zone at construction.
    */
  def floorCalendarUs(us: Long, months: Int, zoneId: String): Long =
    floorCalendarUs(us, months, java.time.ZoneId.of(zoneId))

  /** ZoneId overload — the per-row call site: the zone is resolved
    * ONCE (codegen reference object / cached field), never per row
    * (per-row zone lookups are the contention Rollup.bucket's
    * arithmetic form exists to avoid).
    */
  def floorCalendarUs(us: Long, months: Int, zone: java.time.ZoneId): Long = {
    val d = java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L)).atZone(zone)
    val mos = (d.getYear - 1970) * 12 + (d.getMonthValue - 1)
    val floored = mos - Math.floorMod(mos, months)
    java.time.LocalDate.of(
      1970 + Math.floorDiv(floored, 12), Math.floorMod(floored, 12) + 1, 1)
      .atStartOfDay(zone).toEpochSecond * 1000000L
  }

  /** Is the zone UTC-equivalent? Calendar routing is sound only then:
    * the fixed-width 1d tier buckets are UTC days, and month starts
    * align with UTC day starts only in a UTC-offset-zero zone.
    */
  private[graft] def isUtcZone(zoneId: String): Boolean =
    java.time.ZoneId.of(zoneId).normalized() == java.time.ZoneOffset.UTC

  /** Marker + arithmetic: floor `ts` to a bucket of width `spec` —
    * any of the engine's width grammar (`1m`/`1h`/`1d` tier names,
    * arbitrary `<n><s|m|h|d|w>`, calendar `<n><mo|y>`). Fixed widths
    * stay pure inline Long math; calendar widths call the UTC
    * months-floor kernel (still codegen'd — one static call).
    */
  case class TierBucket(child: Expression, spec: String,
      /** Session timezone captured at construction — calendar widths
        * floor in THIS zone, matching Rollup.bucketWidth's
        * year()/month() semantics under the same session.
        */
      timeZoneId: String =
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      extends UnaryExpression {
    private val months: Option[Int] = calendarMonths(spec)
    // validates the spec at construction for fixed widths (calendar
    // specs are validated inside calendarMonths: zero-width throws)
    private val widthUs: Long =
      if (months.isDefined) 0L else Rollup.parseWidthUs(spec)
    // zone resolved once, not per row (transient: ZoneId is not
    // serializable-stable across Spark versions; re-derive on the
    // executor from the captured id)
    @transient private lazy val zone: java.time.ZoneId =
      java.time.ZoneId.of(timeZoneId)
    override def dataType: DataType = TimestampType
    override def nullSafeEval(v: Any): Any = {
      val us = v.asInstanceOf[Long] // TimestampType is epoch micros
      java.lang.Long.valueOf(months match {
        case Some(m) => floorCalendarUs(us, m, zone)
        case None => us - java.lang.Math.floorMod(us, widthUs)
      })
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => months match {
        case Some(m) =>
          // ship the resolved ZoneId as a reference object: one
          // lookup per task, not one per row
          val tz = ctx.addReferenceObj("tierBucketZone",
            java.time.ZoneId.of(timeZoneId), "java.time.ZoneId")
          s"${ev.value} = graft.plans.TierRouting.floorCalendarUs($c, $m, $tz);"
        case None =>
          s"${ev.value} = $c - java.lang.Math.floorMod($c, ${widthUs}L);"
      })
    override def sql: String = s"tier_bucket(${child.sql}, '$spec')"
    override protected def withNewChildInternal(c: Expression): TierBucket =
      copy(child = c)
  }

  def tierBucket(ts: Column, tier: Tier): Column = tierBucket(ts, tier.name)

  /** Width-spec overload: `tierBucket($"ts", "1mo")`, `"2h"`, ... */
  def tierBucket(ts: Column, spec: String): Column =
    GraftShims.column(TierBucket(GraftShims.expression(ts).transformUp {
      // accept NTZ columns like Rollup.bucket's cast does
      case e if e.dataType != TimestampType => Cast(e, TimestampType)
    }, spec))

  /** raw-table path prefix → warehouse root with tier_1m/1h/1d dirs.
    * (A real deployment keys this in the catalog; a TrieMap is the
    * sandbox stand-in.)
    */
  private val catalog = TrieMap.empty[String, String]

  def registerWarehouse(rawPathPrefix: String, warehouse: String): Unit =
    catalog.put(rawPathPrefix, warehouse)

  def clearRegistry(): Unit = catalog.clear()

  /** A published tier: its snapshot and the raw snapshot id it fully reflects. */
  final case class ServingPin(snapshotId: Long, rawSnapshotId: Long)

  /** Written by TranscriptStore.publishServing in one atomic move: a
    * `<tier> <tier snapshot id> <raw snapshot id>` line per tier.
    */
  def pinsPath(warehouse: String): java.nio.file.Path = Paths.get(warehouse, "serve", "PINS")

  /** The pins of the last publish by tier name. A missing file pins
    * nothing, nor does a line of another shape (an old-format one).
    */
  def servingPins(warehouse: String): Map[String, ServingPin] =
    Try(Files.readAllLines(pinsPath(warehouse)).asScala.flatMap(_.split(" ") match {
      case Array(t, sid, raw) => Try(t -> ServingPin(sid.toLong, raw.toLong)).toOption
      case _ => None
    }).toMap).getOrElse(Map.empty)

  object RouteToTier extends Rule[LogicalPlan] {

    /** The scan beneath the aggregate plus all Filter conjuncts met
      * on the way — ONLY through Project / SubqueryAlias / Filter.
      * Any other operator makes the rewrite unsound → None. The
      * conjuncts are validated later by [[translateConjunct]] (which
      * needs the requested bucket width); an untranslatable conjunct
      * bails the whole rewrite.
      */
    private def routableScan(plan: LogicalPlan)
        : Option[(LogicalRelation, Seq[Expression])] =
      plan match {
        case lr @ LogicalRelation(_: HadoopFsRelation, _, _, _, _) =>
          Some((lr, Seq.empty))
        case p: Project => routableScan(p.child)
        case s: SubqueryAlias => routableScan(s.child)
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          routableScan(f.child).map { case (lr, conds) =>
            (lr, splitConjuncts(f.condition) ++ conds)
          }
        case _ => None
      }

    private def splitConjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
      case other => Seq(other)
    }

    private def alignedTs(e: Expression, aligned: Long => Boolean): Boolean =
      e match {
        case Literal(us: java.lang.Long, TimestampType) => aligned(us)
        case _ => false
      }

    /** Attribute `a` IS the raw scan's column of the same name —
      * resolved by exprId, not name. Projects between the Aggregate
      * and the scan pass attributes through with their exprId intact;
      * an alias (`select(col("turn_idx").as("ts"))`) mints a NEW
      * exprId and therefore fails this check — without it, a renamed
      * column would route and silently translate a predicate onto the
      * wrong tier column (the classic view-matching bug).
      */
    private def isRawAttr(a: Attribute, raw: Map[String, ExprId]): Boolean =
      raw.get(a.name).contains(a.exprId)

    private def isTsAttr(e: Expression, raw: Map[String, ExprId]): Boolean = e match {
      case a: Attribute => a.name == "ts" && isRawAttr(a, raw)
      case Cast(a: Attribute, _, _, _) => a.name == "ts" && isRawAttr(a, raw)
      case _ => false
    }

    /** Translate one predicate conjunct onto the tier scan, or None
      * when the tier table cannot answer it (→ bail out of routing):
      *
      *  - references only `conv_id` → same predicate on tier conv_id
      *    (conv_id is a grouping column, partials filter exactly);
      *  - `ts >= L` / `ts < L` with L EXACTLY bucket-aligned to the
      *    requested width → same bound on tier bucket_ts: every raw
      *    row with ts ≥ L lands in a bucket ≥ L, and no row with
      *    ts < L does (floor bucketing + alignment). `<=`/`>` and
      *    unaligned literals are NOT translatable this way — bail.
      */
    private def translateConjunct(e: Expression, aligned: Long => Boolean,
        out: Map[String, Attribute], raw: Map[String, ExprId]): Option[Expression] = e match {
      case c if c.references.nonEmpty &&
          c.references.forall(a => a.name == "conv_id" && isRawAttr(a, raw)) =>
        Some(c.transform { case a: Attribute if a.name == "conv_id" =>
          out("conv_id") })
      // optimizer-inferred null guard: floor bucketing preserves
      // nullness, so isnotnull(ts) ⟺ isnotnull(bucket_ts)
      case IsNotNull(e) if isTsAttr(e, raw) =>
        Some(IsNotNull(out("bucket_ts")))
      case GreaterThanOrEqual(l, r) if isTsAttr(l, raw) && alignedTs(r, aligned) =>
        Some(GreaterThanOrEqual(out("bucket_ts"), r))
      case LessThanOrEqual(l, r) if alignedTs(l, aligned) && isTsAttr(r, raw) =>
        Some(GreaterThanOrEqual(out("bucket_ts"), l)) // L <= ts
      case LessThan(l, r) if isTsAttr(l, raw) && alignedTs(r, aligned) =>
        Some(LessThan(out("bucket_ts"), r))
      case GreaterThan(l, r) if alignedTs(l, aligned) && isTsAttr(r, raw) =>
        Some(LessThan(out("bucket_ts"), l)) // L > ts
      case _ => None
    }

    /** Scheme-stripped path-component prefix match: a scan of
      * `<prefix>` or anything under `<prefix>/` belongs to the
      * registered warehouse. A bare substring test would false-match
      * sibling dirs sharing a name prefix (`/tmp/a` vs `/tmp/ab`) and
      * route a FOREIGN table onto this warehouse's tiers.
      */
    private def underPrefix(path: String, prefix: String): Boolean = {
      val p = path.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:(//)?", "")
        .stripSuffix("/")
      val pre = prefix.stripSuffix("/")
      p == pre || p.startsWith(pre + "/")
    }

    private def rawWarehouse(lr: LogicalRelation): Option[String] =
      lr match {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          val paths = fs.location.rootPaths.map(_.toString)
          catalog.collectFirst {
            case (prefix, wh) if paths.exists(underPrefix(_, prefix)) => wh
          }
        case _ => None
      }

    /** Choose the tier that serves a request of the given width: the
      * coarsest fresh tier whose width DIVIDES the request — exact
      * tier first, else fold-from-finer; calendar widths (months /
      * years) are served by ANY tier because every tier divides a UTC
      * day and months start on day boundaries (no DST in UTC).
      * Freshness = the pin reflects at least the raw table's CURRENT
      * snapshot; the plan reads the pinned snapshot's live files with
      * its recorded schema (a snapshot without files is skipped).
      */
    private def pickServingTier(wh: String, months: Option[Int],
        fixedUs: Long): Option[(LogicalPlan, Tier)] = {
      val store = new TranscriptStore(SparkSession.active, wh)
      val needSid = store.raw.currentSnapshotId
      lazy val pins = servingPins(wh)
      if (needSid <= 0L) None
      else Tier.cascade
        .filter { t =>
          val tUs = t.millis * 1000L
          months.isDefined || (fixedUs >= tUs && fixedUs % tUs == 0)
        }
        .sortBy(-_.millis) // coarsest usable first
        .view
        .flatMap(t => pins.get(t.name).filter(_.rawSnapshotId >= needSid).flatMap(pin =>
          Try(store.tier(t).read(pin.snapshotId).queryExecution.analyzed).toOption
            .filter(_.output.nonEmpty).map(_ -> t)))
        .headOption
    }

    /** Map a raw-side aggregate expression to the tier-side equivalent
      * over the tier columns. None → not routable. A FILTER clause
      * always bails (the tier partials cannot re-apply it); DISTINCT
      * bails except count(DISTINCT conv_id), which maps exactly
      * because the tier is unique per (conv_id, bucket).
      */
    private def mapAgg(ae: AggregateExpression, raw: Map[String, ExprId],
        tierCol: String => Expression): Option[Expression] = {
      if (ae.filter.nonEmpty) return None
      def rawText(e: Expression): Boolean = e match {
        case Length(a: Attribute) => a.name == "text" && isRawAttr(a, raw)
        case Cast(Length(a: Attribute), LongType, _, _) =>
          a.name == "text" && isRawAttr(a, raw)
        case _ => false
      }
      if (ae.isDistinct) ae.aggregateFunction match {
        // count(DISTINCT conv_id): tier rows are unique per
        // (conv_id, bucket) — a plain per-bucket DISTINCT over tier
        // conv_id is exact, and |convs|-bounded instead of raw-bounded
        case Count(Seq(a: Attribute)) if a.name == "conv_id" && isRawAttr(a, raw) =>
          Some(Count(Seq(tierCol("conv_id"))).toAggregateExpression(isDistinct = true))
        case _ => None
      } else ae.aggregateFunction match {
        case Count(Seq(Literal(1, _))) =>
          Some(Sum(tierCol("turn_cnt")).toAggregateExpression())
        case Count(Seq(a: Attribute)) if a.name == "tool" && isRawAttr(a, raw) =>
          Some(Sum(tierCol("tool_cnt")).toAggregateExpression())
        case Sum(e, _) if rawText(e) =>
          Some(Sum(tierCol("text_len_sum")).toAggregateExpression())
        case Min(e) if rawText(e) =>
          Some(Min(tierCol("text_len_min")).toAggregateExpression())
        case Max(e) if rawText(e) =>
          Some(Max(tierCol("text_len_max")).toAggregateExpression())
        // avg(length(text)) = Σ text_len_sum / Σ text_cnt. The divisor
        // is the NON-NULL count partial — raw Average divides by the
        // non-null count, so turn_cnt would silently overcount on any
        // table with null text (ADVICE r3). Cast to double on both
        // sides AND divide in LEGACY mode, both mirroring
        // Average.evaluateExpression: an all-null group gives 0/0 →
        // null. A session-default (ANSI) Divide would instead THROW
        // DIVIDE_BY_ZERO exactly where the unrouted query returns
        // null — the routed plan must never widen the error surface.
        case Average(e, _) if rawText(e) =>
          Some(Divide(
            Cast(Sum(tierCol("text_len_sum")).toAggregateExpression(), DoubleType),
            Cast(Sum(tierCol("text_cnt")).toAggregateExpression(), DoubleType),
            EvalMode.LEGACY))
        case _ => None
      }
    }

    /** TierBucket may sit inline in the grouping list (pre-optimizer
      * shape) or be pulled into a child Project alias by
      * PullOutGroupingExpressions (extraOptimizations run AFTER the
      * main batch). Resolve a grouping expression to a TierBucket
      * through one Project hop.
      */
    private def resolveTierBucket(e: Expression, child: LogicalPlan): Option[TierBucket] =
      e match {
        case t: TierBucket => Some(t)
        case a: Attribute =>
          child.collectFirst {
            case p: Project => p
          }.flatMap(_.projectList.collectFirst {
            case al @ Alias(t: TierBucket, _) if al.exprId == a.exprId => t
          })
        case _ => None
      }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      // 2-key shape: (conv_id, tier_bucket(ts)) — the per-conversation
      // rollup; 1-key shape: tier_bucket(ts) alone — the global
      // dashboard rollup (tier partials fold exactly either way)
      case agg @ Aggregate(groupings, aggExprs, child, _)
          if groupings.nonEmpty && groupings.size <= 2 =>
        val tbOpt = groupings.flatMap(g => resolveTierBucket(g, child)).headOption
        val routed = for {
          tb <- tbOpt
          (scan, keyConds) <- routableScan(child)
          wh <- rawWarehouse(scan)
          // bind raw columns by exprId through the Project chain: an
          // attribute counts as `ts`/`conv_id`/... ONLY if it is the
          // scan's own output attribute (aliases mint new exprIds)
          raw = scan.output.map(a => a.name -> a.exprId).toMap
          // the TierBucket must be computed over the raw ts column
          // ITSELF (bare attribute or a cast of it) — CollapseProject
          // inlines aliases, so tier_bucket(ts + 1h) arrives here with
          // ts in its references but is NOT the tier's bucket key
          if isTsAttr(tb.child, raw)
          // classify each grouping ONCE: bucket marker or raw conv_id
          bucketGroupings = groupings.filter(g =>
            resolveTierBucket(g, child).isDefined)
          tbAttrIds = bucketGroupings.collect { case a: Attribute => a.exprId }.toSet
          convGrouping = groupings.collectFirst {
            case a: Attribute if a.name == "conv_id" && isRawAttr(a, raw) => a }
          // exactly ONE grouping may be a TierBucket (two buckets of
          // different widths would be collapsed to one key and both
          // rewritten to the first width — silently wrong), and every
          // other grouping must be the raw conv_id
          if bucketGroupings.size == 1
          if groupings.forall(g =>
            bucketGroupings.contains(g) || (g match {
              case a: Attribute => convGrouping.exists(_.exprId == a.exprId)
              case _ => false
            }))
          months = calendarMonths(tb.spec)
          fixedUs = months.fold(Rollup.parseWidthUs(tb.spec))(_ => 0L)
          // calendar routing is sound only in a UTC session: the 1d
          // tier's buckets are fixed UTC days, and month starts align
          // with them only at UTC offset zero (DST zones shift)
          if months.isEmpty || isUtcZone(tb.timeZoneId)
          (tierPlan, served) <- pickServingTier(wh, months, fixedUs)
          out = tierPlan.output.map(a => a.name -> a).toMap
          // every Filter conjunct must translate onto the tier scan
          // (conv_id predicates and bucket-aligned ts ranges) or the
          // whole rewrite bails to the raw plan
          aligned = (us: Long) => months match {
            case Some(m) => floorCalendarUs(us, m, tb.timeZoneId) == us
            case None => us % fixedUs == 0
          }
          translated <- {
            val t = keyConds.map(c => translateConjunct(c, aligned, out, raw))
            if (t.forall(_.isDefined)) Some(t.flatten) else None
          }
          filtered = translated.foldLeft(tierPlan) { (p, cond) =>
            org.apache.spark.sql.catalyst.plans.logical.Filter(cond, p)
          }
          // exact tier: its bucket_ts IS the requested bucket; finer
          // tier (incl. every calendar request): re-floor its
          // bucket_ts to the requested width — exact because the
          // served width divides the request
          bucketExpr = if (months.isEmpty && fixedUs == served.millis * 1000L)
            out("bucket_ts")
            else TierBucket(out("bucket_ts"), tb.spec, tb.timeZoneId)
          mapped <- mapAll(aggExprs, tbAttrIds, out, bucketExpr, raw,
            convGrouping.isDefined)
        } yield Aggregate(
          (convGrouping.map(_ => out("conv_id")).toSeq :+ bucketExpr), mapped, filtered)
        routed.getOrElse(agg)
    }

    /** Rewrite the output list; every aggregate must map, grouping
      * refs re-point at tier columns, names/exprIds preserved so
      * parents stay resolved.
      */
    private def mapAll(aggExprs: Seq[NamedExpression], tbAttrIds: Set[ExprId],
        out: Map[String, Attribute], bucketExpr: Expression,
        raw: Map[String, ExprId], hasConvGrouping: Boolean): Option[Seq[NamedExpression]] = {
      val mapped = aggExprs.map {
        case a: Attribute if a.name == "conv_id" && hasConvGrouping =>
          Some(Alias(out("conv_id"), a.name)(exprId = a.exprId))
        case al @ Alias(_: TierBucket, name) =>
          Some(Alias(bucketExpr, name)(exprId = al.exprId))
        case al @ Alias(a: Attribute, name) if tbAttrIds.contains(a.exprId) =>
          Some(Alias(bucketExpr, name)(exprId = al.exprId))
        case al @ Alias(ae: AggregateExpression, name) =>
          mapAgg(ae, raw, n => out(n))
            .map(e => Alias(e, name)(exprId = al.exprId))
        case _ => None
      }
      if (mapped.forall(_.isDefined)) Some(mapped.flatten) else None
    }
  }

  /** Inject into an existing session (sandbox path). */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(RouteToTier))
      spark.experimental.extraOptimizations = cur :+ RouteToTier
  }
}

/** `withExtensions` registration for cluster deployments:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` — the
  * optimizer rule plus the SQL functions
  * ([[graft.functions.GraftFunctions]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => TierRouting.RouteToTier)
    graft.functions.GraftFunctions.all.foreach { case (name, builder, usage) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo("graft", name, usage),
        builder))
    }
  }
}
