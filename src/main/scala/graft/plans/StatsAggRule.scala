package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

import graft.ops.GraftFileIndex

/** AUTOMATIC METADATA-ONLY AGGREGATES — `ManifestTable.fastCount`'s
  * idea moved INSIDE the planner and widened to min/max: a global
  *
  * {{{ ManifestTable.read(spark, path).agg(count("*"), max("ts")) }}}
  *
  * (or the same through `spark.sql`) collapses to a [[LocalRelation]]
  * computed from the manifest's committed footer statistics — zero
  * files opened, zero tasks launched. At 100 TB this answers the
  * commonest observability queries ("how many rows, how fresh is the
  * table") in driver milliseconds instead of a full scan. This is the
  * Delta `OptimizeMetadataOnlyDeltaQuery` shape for this format
  * (Delta cites it for exactly these three aggregates; Spark's own
  * `OptimizeMetadataOnlyQuery` handles only partition-value queries).
  *
  * EXACTNESS BOUNDARY (back off to the unchanged plan on any doubt —
  * a false fast-path answer is a wrong result, so every condition
  * below is load-bearing):
  *
  *   - The aggregate must be GLOBAL (no grouping) and sit over a bare
  *     [[GraftFileIndex]] scan reached through Project-of-attributes /
  *     identity aliases / SubqueryAlias ONLY. The one admissible
  *     Filter family is partition-key selection (`pcol = lit` /
  *     `pcol IN (…)` / `pcol <op> lit` range conjunctions on the
  *     committed partition column), which keeps entries
  *     whole-or-not-at-all, so `count(*) … WHERE day >= '…'` stays
  *     metadata-only (`count(DISTINCT pcol)` also answers — it is the
  *     number of surviving non-empty entry keys); any other
  *     node — other Filters, Union, Join — stops the walk. This is
  *     not just simplicity: the reader composes DV anti-joins,
  *     shared-dir row filters, and MoR appendix unions into the plan
  *     whenever they apply, so "the plan is a bare scan" certifies
  *     "footer stats describe exactly the scan's rows".
  *   - `count(*)` needs every entry's committed `__rowcount`;
  *     `count(col)` additionally needs the column's committed null
  *     count in every entry (a file not storing the column poisons the
  *     null count at write time — additive-evolution honesty is
  *     [[graft.ops.ManifestTable]]'s job, this rule only requires the
  *     count to exist).
  *   - `min/max(col)` answer from numeric zone maps for FIXED-WIDTH
  *     exact types only: byte/short/int/long, date, micros timestamps,
  *     and short decimals. Parquet footers never truncate fixed-width
  *     bounds, so these are exact. STRING bounds are excluded —
  *     writers may truncate binary statistics, which is fine for the
  *     skipping side (supersets only cost a false-positive read) and
  *     fatal here. FLOAT/DOUBLE are excluded — NaN ordering (Spark
  *     sorts NaN above everything; footers omit or mis-order it) and
  *     ±0.0 make footer bounds unreliable as VALUES. An entry whose
  *     rows are all null for the column (committed null count ==
  *     row count) contributes nothing, matching SQL min/max null
  *     semantics; an entry with no zone map and no all-null proof
  *     backs off.
  *   - A join-narrowed index ([[JoinPruneRule]]) never qualifies (its
  *     dir set is only valid under the join), and zone-map bounds are
  *     only trusted when the bound converts EXACTLY to the column's
  *     type.
  *
  * Injected as a PRE-CBO rule like [[JoinPruneRule]]; pure driver-side
  * metadata arithmetic, O(entries), no job. The rewrite keeps the
  * Aggregate's own output attributes (exprIds), so nothing upstream
  * re-resolves. `spark.graft.statsAgg.enabled=false` turns it off;
  * [[StatsAggRule.rewrites]] counts successful rewrites (the spec and
  * gate instrument). */
object StatsAggRule {
  /** Test instrument: how many Aggregates collapsed to metadata. */
  private[graft] val rewrites = new java.util.concurrent.atomic.AtomicInteger

  /** Control-flow signal: a per-key predicate eval could not decide
    * (unparsable key or an ANSI eval error the scan owns) — the whole
    * rewrite backs off instead of crashing the planner. */
  private[plans] object NarrowBackoff extends Exception
      with scala.util.control.NoStackTrace
}

case class StatsAggRule(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    spark.conf.get("spark.graft.statsAgg.enabled", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case a: Aggregate if a.groupingExpressions.isEmpty =>
        rewrite(a).getOrElse(a)
      case a: Aggregate =>
        rewriteGrouped(a).getOrElse(a)
    }

  private def rewrite(a: Aggregate): Option[LogicalPlan] =
    resolveScan(a.child).flatMap { case ResolvedScan(entries, pcol, colOf, aliasOf, wtz) =>
      val values = a.aggregateExpressions.map(ne =>
        valueOf(ne, entries, colOf, aliasOf, pcol, wtz))
      if (values.exists(_.isEmpty)) None
      else {
        StatsAggRule.rewrites.incrementAndGet()
        logInfo(s"graft stats-agg: answered ${a.aggregateExpressions.size} " +
          s"aggregate(s) from ${entries.size} manifest entries (no scan)")
        Some(LocalRelation(a.output,
          Seq(InternalRow.fromSeq(values.map(_.get.orNull)))))
      }
    }

  /** GROUPED metadata-only aggregates — `GROUP BY pcol` or `GROUP BY
    * <deterministic expression of pcol>` (Spark's own
    * `OptimizeMetadataOnlyQuery` shape, widened to this format's
    * footer stats): every row of an entry carries the entry's
    * partition value, so a partition-key grouping is a GROUP PER
    * SURVIVING NON-EMPTY ENTRY, and a deterministic EXPRESSION of the
    * key (`GROUP BY substr(day, 1, 7)` — the month-rollup dashboard
    * query; the analyzer pulls it below the Aggregate as a
    * `_groupingexpression` alias, which [[resolveScan]] carries) is
    * CONSTANT WITHIN each entry — so grouping by it merely MERGES
    * whole entries, and each group's count/count(col)/min/max/sum/avg
    * folds from its member entries' committed metadata exactly as the
    * global rewrite does over all of them: one LocalRelation row per
    * group, zero tasks ("rows per month" at 100 TB in driver
    * milliseconds). The expression evaluates per entry KEY on the
    * driver (same Catalyst eval the scan would run per row); an
    * evaluation error backs off — the scan then raises it itself. The
    * same [[narrow]] filter adjudication applies; the key parses back
    * only for the key-roundtrip-lossless types ([[keyInternal]]) —
    * and min/max OF the partition column itself answer from the
    * member keys even for strings (the key IS the value; footer
    * truncation is not in play). A duplicate key, a keyless (MoR
    * appendix) entry, a missing rowcount, or a non-pcol reference in
    * the grouping backs the whole rewrite off. */
  private def rewriteGrouped(a: Aggregate): Option[LogicalPlan] =
    resolveScan(a.child).flatMap { case ResolvedScan(entries, pcolOpt, colOf, aliasOf, wtz) =>
      for {
        pcol <- pcolOpt
        gs = a.groupingExpressions
        // each grouping, with alias references inlined, as an
        // expression over the bare scan attributes — ALL must be
        // deterministic pcol-only (a multi-column grouping like
        // `GROUP BY substr(day,1,4), substr(day,6,2)` — the
        // year/month rollup — is several expressions of ONE key)
        resolved = gs.map(_.transformUp {
          case ar: AttributeReference if aliasOf.contains(ar.exprId) =>
            aliasOf(ar.exprId)
        })
        if resolved.forall(r => r.deterministic && r.references.nonEmpty &&
          r.references.forall(ref =>
            colOf.get(ref.exprId).exists(_._1 == pcol)))
        pcolDt <- resolved.head.references.headOption.map(_.dataType)
        if entries.forall(en => en.key.isDefined && en.rowCount.isDefined)
        live = entries.filter(_.rowCount.exists(_ > 0))
        if live.map(_.key.get).distinct.size == live.size // one entry per key
        groups <- groupByExpr(live, resolved, pcolDt, wtz)
        rows <- {
          val perGroup = groups.map { case (gvs, ens) =>
            val values = a.aggregateExpressions.map(ne =>
              valueOfGrouped(ne, ens, gs, gvs, colOf, aliasOf, pcol, pcolDt, wtz))
            if (values.exists(_.isEmpty)) None
            else Some(InternalRow.fromSeq(values.map(_.get.orNull)))
          }
          if (perGroup.exists(_.isEmpty)) None else Some(perGroup.flatten)
        }
      } yield {
        StatsAggRule.rewrites.incrementAndGet()
        logInfo(s"graft stats-agg: answered a GROUP BY " +
          s"${gs.map(_.sql).mkString(", ")} aggregate from ${live.size} " +
          s"manifest entries in ${groups.size} group(s) (no scan)")
        LocalRelation(a.output, rows)
      }
    }

  /** Partition `live` entries into groups by the grouping expression
    * evaluated on each entry's parsed-back key (internal values, the
    * same eval the scan runs per row). None = the value type lacks
    * value-based equality, a key does not parse losslessly, or the
    * eval throws (ANSI error — the scan owns it). GROUP EQUALITY runs
    * on the internal values themselves: atomic comparable types only
    * (boxed equality is value-based for numerics — NaN groups with
    * NaN, exactly Spark's grouping — UTF8String, and Decimal;
    * BINARY's byte arrays compare by REFERENCE and would split equal
    * groups, and nested types are out of scope — both back off), with
    * signed float/double zeros normalized the way Spark's own
    * NormalizeFloatingNumbers does for group keys. Groups order
    * deterministically by rendered value, nulls first (SQL groups
    * nulls together). */
  private def groupByExpr(live: Seq[GraftFileIndex.EntryMeta],
                          resolved: Seq[Expression], pcolDt: DataType,
                          writerTz: Option[String])
      : Option[Seq[(Seq[Any], Seq[GraftFileIndex.EntryMeta])]] = {
    if (!resolved.forall(r => groupable(r.dataType))) return None
    val evaluated = live.map { en =>
      keyInternal(en.key.get, pcolDt, writerTz).flatMap { kv =>
        try Some(resolved.map { r =>
          norm(r.transformUp {
            case _: AttributeReference => Literal(kv, pcolDt)
          }.eval(InternalRow.empty))
        })
        catch { case scala.util.control.NonFatal(_) => None }
      }.map(gvs => gvs -> en)
    }
    if (evaluated.exists(_.isEmpty)) None
    else Some(evaluated.flatten
      .groupBy { case (gvs, _) => gvs } // Seq equality is elementwise
      // value-based boxed equality
      .toSeq
      .sortBy { case (gvs, _) =>
        gvs.map(v => Option(v).fold("")("v" + _.toString)).mkString("\u0000") }
      .map { case (gvs, pairs) => (gvs, pairs.map(_._2)) })
  }

  /** One output value of a grouped aggregate, from the group's MEMBER
    * entries' metadata (counts and sums add, min/max combine — the
    * global fold restricted to the group's subset). */
  private def valueOfGrouped(ne: NamedExpression,
                             ens: Seq[GraftFileIndex.EntryMeta],
                             gs: Seq[Expression], groupValues: Seq[Any],
                             colOf: Map[ExprId, (String, DataType)],
                             aliasOf: Map[ExprId, Expression],
                             pcol: String, pcolDt: DataType,
                             writerTz: Option[String]): Option[Option[Any]] = {
    def phys(ar: AttributeReference): Option[(String, DataType)] = colOf.get(ar.exprId)
    def keyFold(dt: DataType, isMin: Boolean): Option[Option[Any]] = {
      // min/max of the KEY column folds over the member keys — exact
      // for any key-lossless type, strings included (the key IS the
      // value); the compare happens on the RAW key text, which orders
      // identically to the internal value for every keyInternal type
      // (integrals zero-trim to numeric compare via parse, ISO dates
      // and ASCII-safe strings compare bytewise)
      val parsed = ens.map(en =>
        keyInternal(en.key.get, dt, writerTz).map(_ => en.key.get))
      if (parsed.exists(_.isEmpty)) None
      else {
        val keys = parsed.flatten
        val pick = dt match {
          case ByteType | ShortType | IntegerType | LongType =>
            val ls = keys.map(_.toLong)
            (if (isMin) ls.min else ls.max).toString
          case StringType => // Spark string order is UTF8 BYTE order
            val us = keys.map(org.apache.spark.unsafe.types.UTF8String.fromString)
            (if (isMin) us.min else us.max).toString
          case TimestampType | TimestampNTZType =>
            // numeric compare on the parsed micros — text order is
            // not certified for renders outside 4-digit years
            val withVals = keys.map(k =>
              k -> keyInternal(k, dt, writerTz).get.asInstanceOf[Long])
            (if (isMin) withVals.minBy(_._2) else withVals.maxBy(_._2))._1
          case _ => if (isMin) keys.min else keys.max // ISO dates: ASCII
        }
        keyInternal(pick, dt, writerTz).map(v => Some(v))
      }
    }
    val e = ne match {
      case Alias(child, _) => child
      case other => other
    }
    def groupIndexOf(e2: Expression): Option[Int] = {
      val i = gs.indexWhere {
        case ga: AttributeReference => e2 match {
          case ar: AttributeReference => ar.exprId == ga.exprId
          case _ => false
        }
        case g => e2.semanticEquals(g)
      }
      if (i >= 0) Some(i) else None
    }
    e match {
      case other if groupIndexOf(other).isDefined =>
        Some(Option(groupValues(groupIndexOf(other).get)))
      case l: Literal => Some(Option(l.value))
      // per-group COUNT(DISTINCT expr-of-pcol): distinct evaluated
      // values over the group's MEMBER keys (bare pcol included —
      // the identity expression)
      case AggregateExpression(Count(Seq(expr)), _, true, None, _) =>
        distinctExprCount(expr, ens, colOf, aliasOf, pcol, writerTz)
      case AggregateExpression(fn, _, false, None, _) => fn match {
        case Count(Seq(l: Literal)) if l.value != null => countStar(ens)
        case Count(Seq(ar: AttributeReference)) =>
          phys(ar).flatMap { case (c, _) => countCol(ens, c) }
        case Min(ar: AttributeReference) =>
          phys(ar).flatMap { case (c, dt) =>
            if (c == pcol) keyFold(dt, isMin = true)
            else bound(ens, c, dt, isMin = true)
          }
        case Max(ar: AttributeReference) =>
          phys(ar).flatMap { case (c, dt) =>
            if (c == pcol) keyFold(dt, isMin = false)
            else bound(ens, c, dt, isMin = false)
          }
        case Sum(ar: AttributeReference, _) =>
          phys(ar).flatMap { case (c, dt) => sumValue(ens, c, dt, fn.dataType) }
        case av @ Average(ar: AttributeReference, _) =>
          phys(ar).flatMap { case (c, dt) =>
            avgValue(ens, c, dt, av.asInstanceOf[Average]) }
        case _ => None
      }
      case _ => None
    }
  }

  /** Internal value types with VALUE-BASED boxed equality — the
    * grouping/distinct adjudication ([[groupByExpr]] /
    * [[distinctExprCount]]): numerics (NaN groups with NaN, exactly
    * Spark's grouping), UTF8String, and Decimal. BINARY's byte arrays
    * compare by REFERENCE and nested types are out of scope — both
    * back off. */
  private def groupable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BooleanType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Signed float/double zeros normalized the way Spark's own
    * NormalizeFloatingNumbers does for group keys. */
  private def norm(v: Any): Any = v match {
    case d: Double if d == 0.0d => 0.0d // -0.0 groups with 0.0
    case f: Float if f == 0.0f => 0.0f
    case other => other
  }

  /** COUNT(DISTINCT <deterministic expression of the partition
    * column>) from metadata: the expression is CONSTANT within each
    * entry (every row carries the entry's key), so its distinct
    * values over the table equal its distinct values over the live
    * entry KEYS — evaluated per key on the driver with the very
    * Catalyst eval the scan runs per row, under the same exactness
    * discipline as [[groupByExpr]] (key-roundtrip-lossless pcol
    * types only, value-based-equality result types only, ±0.0
    * normalized, eval errors back off — ANSI belongs to the scan).
    * NULL results are excluded (SQL count distinct); duplicate keys
    * across entries (shared compacted bins) dedupe — distinctness is
    * a property of the key set, not the entry list. O(live keys)
    * interpreted eval, no job. */
  private def distinctExprCount(expr: Expression,
                                entries: Seq[GraftFileIndex.EntryMeta],
                                colOf: Map[ExprId, (String, DataType)],
                                aliasOf: Map[ExprId, Expression],
                                pcol: String,
                                writerTz: Option[String]): Option[Option[Any]] = {
    val resolved = expr.transformUp {
      case ar: AttributeReference if aliasOf.contains(ar.exprId) =>
        aliasOf(ar.exprId)
    }
    if (!resolved.deterministic || resolved.references.isEmpty ||
        !resolved.references.forall(r =>
          colOf.get(r.exprId).exists(_._1 == pcol)) ||
        !groupable(resolved.dataType)) return None
    val pcolDt = resolved.references.head.dataType
    if (!entries.forall(en => en.key.isDefined && en.rowCount.isDefined))
      return None
    val liveKeys = entries.filter(_.rowCount.exists(_ > 0))
      .flatMap(_.key).distinct
    val vals = liveKeys.map { k =>
      keyInternal(k, pcolDt, writerTz).flatMap { kv =>
        try Some(norm(resolved.transformUp {
          case _: AttributeReference => Literal(kv, pcolDt)
        }.eval(InternalRow.empty)))
        catch { case scala.util.control.NonFatal(_) => None }
      }
    }
    if (vals.exists(_.isEmpty)) None
    else Some(Some(vals.flatten.filter(_ != null).distinct.size.toLong))
  }

  /** The entry key parsed back to the column's INTERNAL value — only
    * for types whose `CAST(value AS STRING)` (the committed dir-key
    * form) round-trips losslessly: integrals, strings (identity),
    * dates (ISO), and — under a zone CERTIFICATE — timestamps.
    * Floats and decimals back off — their string forms are not
    * bijective with the internal value.
    *
    * TIMESTAMP keys (the hourly-partitioned event-pipeline layout,
    * `part = cast(ts_hour …)`): the writer rendered `CAST(ts AS
    * STRING)` in its session zone, recorded on the manifest as
    * [[graft.ops.ManifestTable.PartitionTzProp]] — the certificate
    * that makes parse-back a proof, not an assumption. The key
    * decodes exactly when (a) THIS session's zone equals the
    * recorded writer zone (the text would otherwise decode to a
    * different instant), (b) that zone is FIXED-OFFSET (UTC
    * included) — no DST fold, so the rendering is INJECTIVE at
    * microsecond precision and an entry holds exactly one internal
    * value — and (c) the parsed value renders back to the identical
    * key text via Spark's own cast (a per-key round-trip check, so
    * the bijectivity claim is verified per key rather than trusted).
    * TIMESTAMP_NTZ renders zone-free, so only (c) applies. */
  private def keyInternal(key: String, dt: DataType,
                          writerTz: Option[String]): Option[Any] = dt match {
    case StringType => Some(org.apache.spark.unsafe.types.UTF8String.fromString(key))
    case ByteType => key.toByteOption
    case ShortType => key.toShortOption
    case IntegerType => key.toIntOption
    case LongType => key.toLongOption
    case DateType =>
      try Some(java.time.LocalDate.parse(key).toEpochDay.toInt)
      catch { case _: java.time.format.DateTimeParseException => None }
    case TimestampType =>
      val tz = spark.sessionState.conf.sessionLocalTimeZone
      val fixedOffset =
        try java.time.ZoneId.of(tz).getRules.isFixedOffset
        catch { case scala.util.control.NonFatal(_) => false }
      if (!writerTz.contains(tz) || !fixedOffset) None
      else castRoundTrip(key, dt, tz)
    case TimestampNTZType =>
      castRoundTrip(key, dt, spark.sessionState.conf.sessionLocalTimeZone)
    case _ => None
  }

  /** Parse `key` with Spark's own string→`dt` cast (LEGACY mode:
    * null on unparsable text, never a planner error) and accept the
    * value only if the reverse cast renders the IDENTICAL text. */
  private def castRoundTrip(key: String, dt: DataType, tz: String): Option[Any] = {
    val parsed =
      try Cast(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(key),
        StringType), dt, Some(tz), EvalMode.LEGACY).eval(InternalRow.empty)
      catch { case scala.util.control.NonFatal(_) => null }
    Option(parsed).filter { v =>
      try Cast(Literal(v, dt), StringType, Some(tz), EvalMode.LEGACY)
        .eval(InternalRow.empty).toString == key
      catch { case scala.util.control.NonFatal(_) => false }
    }
  }

  /** A plan resolved to pure manifest metadata: the surviving entry
    * metas (filters already absorbed), the partition column, and the
    * head plan's attribute/alias maps for the Aggregate above. */
  private case class ResolvedScan(entries: Seq[GraftFileIndex.EntryMeta],
                                  pcol: Option[String],
                                  colOf: Map[ExprId, (String, DataType)],
                                  aliasOf: Map[ExprId, Expression],
                                  writerTz: Option[String])

  /** Resolve `p` to metadata — a single branch, or a UNION of
    * branches over the SAME table (the MULTI-BIN COMPACTED read
    * shape: `Union(scan(exclusive), Filter(cast(pcol) IN binKeys,
    * scan(sharedDir)) …)` — routine weekly compaction at 100 TB must
    * not silently demote the zero-scan dashboard answers to scans
    * forever). Union-all folding is ADDITIVE — counts/sums add,
    * min/max combine, per-branch entry metas each describe exactly
    * their branch's rows (a shared dir carries one meta PER KEY,
    * transplanted verbatim from before the compact, and the branch's
    * key filter keeps exactly those keys' rows) — so concatenating
    * the branches' surviving entries is exact even for overlapping
    * branches (a self-union double-counts in both the scan and the
    * fold). Branch schemas must agree positionally by (name, type) —
    * the aggregate references the HEAD branch's attributes — and
    * every branch must share the table root and partition column.
    *
    * Each branch walks ([[ManifestScan]]) to a bare scan, carrying
    * the computed deterministic aliases (the analyzer pulls a
    * computed grouping below the Aggregate as a `_groupingexpression`
    * alias — [[rewriteGrouped]] adjudicates and evaluates them) and
    * the deterministic Filters for [[narrow]] to adjudicate. */
  private def resolveScan(p: LogicalPlan): Option[ResolvedScan] = {
    val branches = p match {
      case u: Union => u.children
      case other => Seq(other)
    }
    val scans = branches.map(ManifestScan.of)
    if (scans.exists(_.isEmpty)) return None
    val ss = scans.flatten
    val shape = branches.head.output.map(a => (a.name, a.dataType))
    if (!branches.forall(_.output.map(a => (a.name, a.dataType)) == shape) ||
        ss.map(_.root).distinct.size != 1 ||
        ss.map(_.index.partitionColName).distinct.size != 1) return None
    val narrowed = ss.map(s => narrow(s.index.entryMetas, s.index.partitionColName,
      s.colOf, s.derived, s.filters, s.index.writerTz))
    if (narrowed.exists(_.isEmpty)) None
    else {
      val head = ss.head
      Some(ResolvedScan(narrowed.flatten.flatten, head.index.partitionColName,
        head.colOf, head.derived, head.index.writerTz))
    }
  }

  /** Absorb the collected filters into an ENTRY subset, or back off.
    * Every row of an entry carries the entry's partition value, so
    * ANY key-decidable predicate keeps entries WHOLE (all rows match)
    * or not at all — `SELECT count(*), max(ts) … WHERE day >= '…'`
    * stays metadata-only. Structural fast paths decide `pcol = lit` /
    * `pcol IN (lits)` / `pcol <op> lit` ranges (equality/IN literals
    * must stringify exactly as the manifest key does —
    * [[GraftFileIndex.strOf]]'s types; ranges on parsed-back integral
    * keys or ASCII strings where Java order == UTF8 byte order), plus
    * the compacted reader's own `cast(pcol as string) IN binKeys`
    * forms; EVERY OTHER deterministic predicate referencing only the
    * partition column falls to the per-key Catalyst EVAL fallback
    * ([[evalPred]] — `substr(day,1,7) = …`, LIKE, OR/NOT, date
    * literals), which is exact for key-roundtrip-lossless pcol types
    * and backs off otherwise. Any entry without a key (a MoR appendix
    * dir) poisons the rewrite. */
  private def narrow(entries: Seq[GraftFileIndex.EntryMeta],
                     pcolOpt: Option[String],
                     colOf: Map[ExprId, (String, DataType)],
                     aliasOf: Map[ExprId, Expression],
                     filters: Seq[Expression],
                     writerTz: Option[String]): Option[Seq[GraftFileIndex.EntryMeta]] = {
    if (filters.isEmpty) return Some(entries)
    val pcol = pcolOpt.getOrElse(return None)
    def isPcol(e: Expression): Boolean = e match {
      case ar: AttributeReference => colOf.get(ar.exprId).exists(_._1 == pcol)
      case _ => false
    }
    // ANY deterministic predicate whose references are (aliases of)
    // the partition column alone is CONSTANT within each entry, so it
    // keeps entries whole-or-not-at-all — evaluate it per entry key
    // with the very Catalyst eval the scan runs per row (the
    // rewriteGrouped machinery): `substr(day,1,7) = '2024-01'`, LIKE
    // prefixes, OR/NOT combinations, date-typed literals all narrow.
    // NULL excludes the entry (SQL WHERE drops null rows; per-entry
    // constant, so all-or-nothing holds). A key that does not parse
    // back losslessly or an eval error (ANSI — the scan owns it)
    // backs the whole rewrite off via [[NarrowBackoff]].
    def evalPred(e: Expression): Option[Either[String => Boolean, Option[String]]] = {
      val resolved = e.transformUp {
        case ar: AttributeReference if aliasOf.contains(ar.exprId) => aliasOf(ar.exprId)
      }
      if (!resolved.deterministic || resolved.references.isEmpty ||
          !resolved.references.forall(r => colOf.get(r.exprId).exists(_._1 == pcol)))
        None
      else Some(scala.Left { (k: String) =>
        val bound = resolved.transformUp {
          case ar: AttributeReference =>
            Literal(keyInternal(k, ar.dataType, writerTz)
              .getOrElse(throw StatsAggRule.NarrowBackoff), ar.dataType)
        }
        val v = try bound.eval(InternalRow.empty)
        catch { case scala.util.control.NonFatal(_) =>
          throw StatsAggRule.NarrowBackoff }
        v == true
      })
    }
    // the reader's own shared-bin row filter: `cast(pcol as string)`
    // — its value IS the manifest key text (dirs are keyed by exactly
    // this cast), so key-set predicates over it keep entries
    // whole-or-not-at-all by exact string identity
    def isPcolKeyText(e: Expression): Boolean = e match {
      case Cast(ar: AttributeReference, StringType, _, _) =>
        colOf.get(ar.exprId).exists(_._1 == pcol)
      case _ => false
    }
    // a key-string predicate for `pcol <cmp> lit`, when the compare
    // domain is exact: integral keys parse back losslessly; ASCII
    // string keys compare identically in Java and UTF8 byte order
    def cmpPred(l: Literal, cmp: Int => Boolean): Option[String => Boolean] =
      if (l.value == null) None
      else l.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          val v = l.value match {
            case b: Byte => b.toLong
            case s: Short => s.toLong
            case i: Int => i.toLong
            case lo: Long => lo
          }
          if (entries.forall(_.key.exists(_.toLongOption.isDefined)))
            Some(k => cmp(k.toLong.compare(v)))
          else None
        case StringType =>
          val s = l.value.toString
          val ascii = (x: String) => x.forall(c => c >= 0x20 && c < 0x7f)
          if (ascii(s) && entries.forall(_.key.exists(ascii)))
            Some(k => cmp(k.compare(s)))
          else None
        case _ => None
      }
    val conjuncts = filters.flatMap(splitConjunctivePredicates)
    type Parsed = Option[Either[String => Boolean, Option[String]]]
    // Left(keyPredicate) narrows; Right(col) is an IS NOT NULL to
    // re-check against the survivors' committed null counts; None
    // backs off. Structural fast paths whose exactness check fails
    // (a literal family strOf/cmpPred has no exact form for, e.g. a
    // DATE literal) FALL THROUGH to the eval fallback before giving up.
    val parsed: Seq[Parsed] = conjuncts.map {
      case e @ EqualTo(k, l: Literal) if isPcol(k) =>
        (GraftFileIndex.strOf(l).map(s =>
          scala.Left((k: String) => k == s)): Parsed).orElse(evalPred(e))
      case e @ EqualTo(l: Literal, k) if isPcol(k) =>
        (GraftFileIndex.strOf(l).map(s =>
          scala.Left((k: String) => k == s)): Parsed).orElse(evalPred(e))
      case e @ In(k, vs) if isPcol(k) && vs.forall(_.isInstanceOf[Literal]) =>
        val ss = vs.map(v => GraftFileIndex.strOf(v.asInstanceOf[Literal]))
        if (ss.exists(_.isEmpty)) evalPred(e)
        else { val set = ss.flatten.toSet; Some(scala.Left(set)) }
      // the shared-bin key filter in its three optimizer forms
      case EqualTo(k, l: Literal) if isPcolKeyText(k) && l.value != null =>
        val s = l.value.toString
        Some(scala.Left((key: String) => key == s))
      case In(k, vs) if isPcolKeyText(k) && vs.forall(v =>
          v.isInstanceOf[Literal] && v.asInstanceOf[Literal].value != null) =>
        val set = vs.map(_.asInstanceOf[Literal].value.toString).toSet
        Some(scala.Left(set))
      case InSet(k, hset) if isPcolKeyText(k) && !hset.contains(null) =>
        val set = hset.map(_.toString)
        Some(scala.Left((key: String) => set.contains(key)))
      case e @ GreaterThan(k, l: Literal) if isPcol(k) =>
        (cmpPred(l, _ > 0).map(scala.Left(_)): Parsed).orElse(evalPred(e))
      case e @ GreaterThan(l: Literal, k) if isPcol(k) =>
        (cmpPred(l, _ < 0).map(scala.Left(_)): Parsed).orElse(evalPred(e))
      case e @ GreaterThanOrEqual(k, l: Literal) if isPcol(k) =>
        (cmpPred(l, _ >= 0).map(scala.Left(_)): Parsed).orElse(evalPred(e))
      case e @ GreaterThanOrEqual(l: Literal, k) if isPcol(k) =>
        (cmpPred(l, _ <= 0).map(scala.Left(_)): Parsed).orElse(evalPred(e))
      case e @ LessThan(k, l: Literal) if isPcol(k) =>
        (cmpPred(l, _ < 0).map(scala.Left(_)): Parsed).orElse(evalPred(e))
      case e @ LessThan(l: Literal, k) if isPcol(k) =>
        (cmpPred(l, _ > 0).map(scala.Left(_)): Parsed).orElse(evalPred(e))
      case e @ LessThanOrEqual(k, l: Literal) if isPcol(k) =>
        (cmpPred(l, _ <= 0).map(scala.Left(_)): Parsed).orElse(evalPred(e))
      case e @ LessThanOrEqual(l: Literal, k) if isPcol(k) =>
        (cmpPred(l, _ >= 0).map(scala.Left(_)): Parsed).orElse(evalPred(e))
      // the analyzer infers `isnotnull(pcol)` next to every pcol
      // predicate; merge refuses null partition values, so it is
      // row-complete (keeps every entry whole) — a no-op here
      case IsNotNull(k) if isPcol(k) => Some(scala.Right(None))
      // IS NOT NULL on any other column is row-complete exactly when
      // the survivors' committed null counts are zero
      case IsNotNull(ar: AttributeReference)
          if colOf.get(ar.exprId).exists(_._1 != pcol) =>
        colOf.get(ar.exprId).map(c => scala.Right(Some(c._1)))
      // the general pcol-expression fallback (see evalPred)
      case other => evalPred(other)
    }
    if (parsed.exists(_.isEmpty)) None
    else try {
      val keyPreds = parsed.flatten.collect { case scala.Left(p) => p }
      val kept =
        if (keyPreds.isEmpty) entries
        else if (entries.exists(_.key.isEmpty)) return None
        else entries.filter(_.key.exists(k => keyPreds.forall(_(k))))
      val notNullCols = parsed.flatten.collect { case scala.Right(Some(c)) => c }
      if (notNullCols.forall(c => kept.forall(_.nullCounts.get(c).contains(0L))))
        Some(kept)
      else None
    } catch { case StatsAggRule.NarrowBackoff => None }
  }

  /** The internal-row value of one aggregate output, if the committed
    * metadata answers it exactly. Outer None = back off the whole
    * rewrite; inner None = a legitimate NULL result (min/max over no
    * non-null rows). */
  private def valueOf(ne: NamedExpression,
                      entries: Seq[GraftFileIndex.EntryMeta],
                      colOf: Map[ExprId, (String, DataType)],
                      aliasOf: Map[ExprId, Expression],
                      pcol: Option[String],
                      writerTz: Option[String]): Option[Option[Any]] = {
    def phys(ar: AttributeReference): Option[(String, DataType)] = colOf.get(ar.exprId)
    val e = ne match {
      case Alias(child, _) => child
      case other => other
    }
    e match {
      // evidence literals gates attach next to the aggregates
      case l: Literal => Some(Option(l.value))
      // COUNT(DISTINCT pcol) = the number of live entry keys — each
      // entry's rows all carry its key, keys are never null, and a
      // key appears in exactly one live entry per manifest; entries
      // must prove non-emptiness (committed rowcount > 0)
      case AggregateExpression(Count(Seq(ar: AttributeReference)), _, true, None, _)
          if phys(ar).map(_._1) == pcol && pcol.isDefined =>
        if (entries.forall(en => en.key.isDefined && en.rowCount.isDefined))
          Some(Some(entries.filter(_.rowCount.exists(_ > 0))
            .flatMap(_.key).distinct.size.toLong))
        else None
      // COUNT(DISTINCT <deterministic expr of pcol>) — "how many
      // distinct months" (`count(DISTINCT substr(day,1,7))`): the
      // expression is constant within each entry, so its distinct
      // values over the table are its distinct values over the LIVE
      // ENTRY KEYS — the groupByExpr eval applied to a distinct-count
      case AggregateExpression(Count(Seq(expr)), _, true, None, _)
          if pcol.isDefined =>
        distinctExprCount(expr, entries, colOf, aliasOf, pcol.get, writerTz)
      case AggregateExpression(fn, _, false, None, _) => fn match {
        case Count(Seq(l: Literal)) if l.value != null =>
          countStar(entries)
        case Count(Seq(ar: AttributeReference)) =>
          phys(ar).flatMap { case (c, _) => countCol(entries, c) }
        case Min(ar: AttributeReference) =>
          phys(ar).flatMap { case (c, dt) => bound(entries, c, dt, isMin = true) }
        case Max(ar: AttributeReference) =>
          phys(ar).flatMap { case (c, dt) => bound(entries, c, dt, isMin = false) }
        case Sum(ar: AttributeReference, _) =>
          phys(ar).flatMap { case (c, dt) => sumValue(entries, c, dt, fn.dataType) }
        case av @ Average(ar: AttributeReference, _) =>
          phys(ar).flatMap { case (c, dt) =>
            avgValue(entries, c, dt, av.asInstanceOf[Average]) }
        case _ => None
      }
      case _ => None
    }
  }

  /** Sum of committed rowcounts — requires every entry to carry one.
    * Entries synthesized for MoR appendix dirs carry none, so a table
    * with pending appendices backs off here (its read plan is not a
    * bare scan anyway — defense in depth). */
  private def countStar(entries: Seq[GraftFileIndex.EntryMeta]): Option[Option[Any]] = {
    val counts = entries.map(_.rowCount)
    if (counts.forall(_.isDefined)) Some(Some(counts.flatten.sum))
    else None
  }

  /** Non-null count: `Σ (rowCount − nullCount(col))` — both required
    * in every entry. */
  private def countCol(entries: Seq[GraftFileIndex.EntryMeta],
                       c: String): Option[Option[Any]] = {
    val counts = entries.map(en =>
      for { r <- en.rowCount; n <- en.nullCounts.get(c) } yield r - n)
    if (counts.forall(_.isDefined)) Some(Some(counts.flatten.sum))
    else None
  }

  private def integralType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Exact folded `sum(col)` from the committed per-entry sums
    * (`merge(sumColumns = …)` — [[graft.ops.ManifestTable]] SumTag):
    * fixed-point addition is associative, so Σ over entries is the
    * scan's sum exactly. Two committed families:
    *
    *   - INTEGRAL input, LONG output (Spark's integral-sum result
    *     type): the committed item is the plain total; a folded total
    *     outside Long range backs off — overflow behavior (ANSI error
    *     or legacy wrap) belongs to the scan, never to a silent
    *     metadata answer.
    *   - DECIMAL(p,s) input, DECIMAL(min(38,p+10),s) output (Spark's
    *     `Sum.resultType`): the committed item is the UNSCALED total
    *     at the column's scale; the fold re-attaches the scale and
    *     must FIT the output precision — the scan's own
    *     CheckOverflowInSum boundary — or back off (past it the scan
    *     ANSI-errors / legacy-nulls; a silent metadata value would
    *     diverge).
    *
    * An entry with no committed sum contributes nothing ONLY when
    * provably all-null for the column (sum ignores nulls); zero
    * contributing entries = NULL result (SQL sum over no non-null
    * rows). A DV fold DROPS the sum items (no conservative
    * direction), so a present item is always from an intact write. */
  private def sumValue(entries: Seq[GraftFileIndex.EntryMeta], c: String,
                       inputDt: DataType, outDt: DataType): Option[Option[Any]] = {
    val decimalShape = (inputDt, outDt) match {
      case (in: DecimalType, out: DecimalType)
          if out.scale == in.scale &&
            out.precision == math.min(38, in.precision + 10) => Some(out)
      case _ => None
    }
    if (decimalShape.isEmpty && (outDt != LongType || !integralType(inputDt)))
      return None
    foldSums(entries, c).flatMap {
      case None => Some(None)
      case Some(t) => decimalShape match {
        case None => if (t.isValidLong) Some(Some(t.toLong)) else None
        case Some(out) =>
          val dec = org.apache.spark.sql.types.Decimal(
            BigDecimal(t, out.scale))
          if (dec.changePrecision(out.precision, out.scale)) Some(Some(dec))
          else None // overflow belongs to the scan
      }
    }
  }

  /** Fold the committed per-entry sums for `c` as raw (unscaled)
    * integers. Outer None = an entry is undecidable (no sum, no
    * all-null proof) — back off; inner None = every entry all-null
    * (SQL NULL sum). */
  private def foldSums(entries: Seq[GraftFileIndex.EntryMeta],
                       c: String): Option[Option[BigInt]] = {
    val per = entries.map { en =>
      en.sums.get(c) match {
        case Some(s) => Some(Some(s))
        case None =>
          (for { r <- en.rowCount; n <- en.nullCounts.get(c) } yield n == r) match {
            case Some(true) => Some(None) // all-null: contributes nothing
            case _ => None
          }
      }
    }
    if (per.exists(_.isEmpty)) None
    else {
      val vals = per.flatten.flatten
      if (vals.isEmpty) Some(None) else Some(Some(vals.sum))
    }
  }

  /** `avg(col)` from metadata under the DOUBLE-EXACTNESS PROOF (the
    * [[MvRewriteRule]] avg argument, metadata-shaped): Spark's
    * Average accumulates `cast(v as double)` per row, so the answer
    * Σsum / Σ(non-null) is bit-identical exactly when every partial
    * sum the scan can form is an exactly-representable integer —
    * guaranteed by `maxAbs(zone maps) × non-null rows ≤ 2⁵³`. Needs
    * per entry: the committed sum (or an all-null proof), rowcount,
    * null count, and the zone map for the bound — all from the same
    * statsful write. The final division replicates Average's own:
    * one IEEE divide of the (exact) double sum by the long count
    * cast to double. */
  private def avgValue(entries: Seq[GraftFileIndex.EntryMeta], c: String,
                       inputDt: DataType, av: Average): Option[Option[Any]] = {
    inputDt match {
      case in: DecimalType => return avgDecimal(entries, c, in, av)
      case _ =>
    }
    if (av.dataType != DoubleType || !integralType(inputDt)) return None
    val parts = entries.map { en =>
      for {
        r <- en.rowCount
        n <- en.nullCounts.get(c)
        part <- if (n == r) Some((BigInt(0), 0L, BigDecimal(0)))
        else for {
          s <- en.sums.get(c)
          (mn, mx) <- en.stats.get(c)
        } yield (s, r - n, mn.abs.max(mx.abs))
      } yield part
    }
    if (parts.exists(_.isEmpty)) return None
    val ps = parts.flatten
    val nonNull = ps.map(_._2).sum
    if (nonNull == 0L) return Some(None)
    val maxAbs = ps.map(_._3).foldLeft(BigDecimal(0))(_ max _)
    if (maxAbs * BigDecimal(nonNull) > BigDecimal(BigInt(1) << 53)) return None
    val s = ps.map(_._1).sum
    Some(Some(s.toDouble / nonNull.toDouble))
  }

  /** `avg(decimal(p,s))` from metadata — EXACT with no 2⁵³ proof
    * needed: the scan's Average accumulates decimals in fixed-point
    * (associative, order-independent) and — probed from the 4.1.2
    * jars — divides the UNCHECKED sum buffer straight into the result
    * type through `DecimalDivideWithOverflowCheck` (no intermediate
    * precision-loss rounding; only the RESULT is overflow-checked,
    * per the plan's own evalMode). Rather than re-derive that, the
    * PLAN'S OWN `Average.evaluateExpression` tree is taken verbatim
    * and its sum/count buffer references substituted with the folded
    * total and non-null count as literals — bit identity by
    * construction for whatever evalMode/flags the plan carries. Needs
    * per entry: the committed sum (or an all-null proof), rowcount,
    * and null count. A total past 38 digits cannot be represented
    * (the scan's own buffer arithmetic is undefined there too) and an
    * eval error (ANSI result overflow) both back off — the scan then
    * owns the behavior. */
  private def avgDecimal(entries: Seq[GraftFileIndex.EntryMeta], c: String,
                         in: DecimalType, av: Average): Option[Option[Any]] = {
    val counts = entries.map(en =>
      for { r <- en.rowCount; n <- en.nullCounts.get(c) } yield r - n)
    if (counts.exists(_.isEmpty)) return None
    val nonNull = counts.flatten.sum
    if (nonNull == 0L) return Some(None)
    foldSums(entries, c).flatMap {
      case None => Some(None) // unreachable: nonNull > 0 ⟹ some sum
      case Some(t) =>
        val dec = org.apache.spark.sql.types.Decimal(BigDecimal(t, in.scale))
        if (!dec.changePrecision(38, in.scale)) None
        else {
          val tree = av.evaluateExpression.transform {
            case ar: AttributeReference if ar.exprId == av.sum.exprId =>
              Literal(dec, av.sumDataType)
            case ar: AttributeReference if ar.exprId == av.count.exprId =>
              Literal(nonNull)
          }
          try Some(Option(tree.eval(InternalRow.empty)))
          catch { case scala.util.control.NonFatal(_) => None }
        }
    }
  }

  /** Exact min or max from the numeric zone maps; entries proven
    * all-null for the column are skipped (SQL min/max ignore nulls);
    * zero contributing entries = NULL result.
    *
    * VALUE-EXACTNESS GUARD: a zone map is trusted as a VALUE only
    * when the entry also carries its committed rowcount. The one
    * path that keeps stats while rows changed is the DV-folding
    * compact — it keeps zone maps as PRUNING SUPERSETS (false keeps
    * only, fine for skipping) but deletes rows, so a deleted extreme
    * would resurrect here; that same fold DROPS the rowcount, which
    * makes rowcount-presence exactly the "stats are from an intact
    * statsful write" certificate (they are recorded together by
    * collectStats and never part separately anywhere else). */
  private def bound(entries: Seq[GraftFileIndex.EntryMeta], c: String,
                    dt: DataType, isMin: Boolean): Option[Option[Any]] = {
    if (!exactType(dt)) return None
    val per = entries.map { en =>
      en.stats.get(c) match {
        case Some((mn, mx)) if en.rowCount.isDefined =>
          Some(Some(if (isMin) mn else mx))
        case Some(_) => None // superset bounds (post-DV-fold): not values
        case None => // no zone map: only safe when provably all-null
          (for { r <- en.rowCount; n <- en.nullCounts.get(c) } yield n == r) match {
            case Some(true) => Some(None) // all-null entry contributes nothing
            case _ => None
          }
      }
    }
    if (per.exists(_.isEmpty)) return None
    val bds = per.flatten.flatten
    if (bds.isEmpty) Some(None)
    else {
      val bd = if (isMin) bds.min else bds.max
      internalOf(bd, dt).map(v => Some(v))
    }
  }

  /** Fixed-width types whose parquet footer bounds are exact values:
    * no truncation (strings), no NaN/±0.0 ordering hazards (floats). */
  private def exactType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** The bound as the column type's INTERNAL value — exact or bust. */
  private def internalOf(bd: BigDecimal, dt: DataType): Option[Any] = try {
    dt match {
      case ByteType => Some(bd.toByteExact)
      case ShortType => Some(bd.toShortExact)
      case IntegerType | DateType => Some(bd.toIntExact)
      case LongType | TimestampType | TimestampNTZType => Some(bd.toLongExact)
      case d: DecimalType =>
        val dec = org.apache.spark.sql.types.Decimal(bd)
        if (dec.changePrecision(d.precision, d.scale)) Some(dec) else None
      case _ => None
    }
  } catch { case _: ArithmeticException => None }
}
