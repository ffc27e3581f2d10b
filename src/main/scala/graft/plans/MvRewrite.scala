package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, DoubleType,
  IntegerType, LongType, ShortType}

import graft.ops.{IncrementalAgg, ManifestTable}

/** MATERIALIZED-VIEW REGISTRY — which [[IncrementalAgg]]-maintained
  * views stand for which base tables. Registration is the explicit
  * opt-in ([[MvRewriteRule]] rewrites nothing unregistered). The
  * registered `groupCols`/`sumCols` MUST match the arguments the view
  * is refreshed with, and [[IncrementalAgg]]'s contracts carry over:
  * group columns non-null, sum columns LONG (integer addition is
  * associative, so the view's sums are bit-equal to a recompute — the
  * property that makes the rewrite an identity rather than an
  * approximation).
  *
  * DURABILITY: `register(durable = true)` additionally persists the
  * definition as a `mv.agg.NNNN` prop ON THE BASE TABLE'S MANIFEST —
  * the catalog entry a warehouse would keep for QUERY_REWRITE. A
  * fresh session's lookup falls through to the manifest on an
  * in-memory miss (memoized per base version), so the rewrite
  * survives a restart with zero re-registration — without this, a
  * restarted pipeline gets correct results 1000× slower and nobody
  * is told. Ordering note: the durable register is itself a manifest
  * commit (bumps the base version), so register BEFORE the view's
  * [[IncrementalAgg.refresh]] — freshness pins the view to the base
  * version the refresh folded. */
object MvRegistry {
  final case class MvDef(basePath: String, aggPath: String,
                         groupCols: Seq[String], sumCols: Seq[String],
                         minMaxCols: Seq[String] = Nil)

  /** `mv.agg.NNNN` prop values are the URL-encoded view path + the
    * three column lists (identifiers — ',' and '|' refused at
    * register); a corrupt prop decodes to None (skipped on lookup,
    * swept on durable unregister). */
  private[plans] val catalog = new DurableDefCatalog[MvDef](
    ManifestTable.MvAggDefPropPrefix,
    d => Seq(DurableDefCatalog.enc(d.aggPath), d.groupCols.mkString(","),
      d.sumCols.mkString(","), d.minMaxCols.mkString(",")).mkString("|"),
    (basePath, value) => try {
      val parts = value.split('|')
      Some(MvDef(basePath, DurableDefCatalog.dec(parts(0)),
        DurableDefCatalog.cols(parts, 1), DurableDefCatalog.cols(parts, 2),
        DurableDefCatalog.cols(parts, 3)))
    } catch { case scala.util.control.NonFatal(_) => None },
    owner = _.basePath, viewOf = _.aggPath)

  /** Declare `aggPath` a maintained aggregate view of `basePath`.
    * A base may carry SEVERAL views (different groupings/measures);
    * the rewrite tries them in REGISTRATION ORDER and takes the first
    * that matches — register the smallest/most-specific view first.
    * Re-registering the same `aggPath` replaces its definition in
    * place (durably too: it keeps its prop slot, so its position in
    * the try order is stable). `minMaxCols` must match the view's
    * refresh arguments — min/max re-aggregate exactly for ANY type
    * (order-independent, no arithmetic), so unlike sums they are not
    * restricted to longs. `durable = true` also commits the
    * definition onto the base manifest (see object doc);
    * `retainVersions` is that commit's retention horizon — pass the
    * table's own setting, exactly as for addConstraint (the catalog
    * write must not silently shorten a 10-version table's history).
    * Registration ORDER vs refresh no longer matters: the freshness
    * check bridges metadata-only commits by data-entry identity. */
  def register(spark: SparkSession, basePath: String, aggPath: String,
               groupCols: Seq[String], sumCols: Seq[String],
               minMaxCols: Seq[String] = Nil,
               durable: Boolean = false,
               retainVersions: Int = 2): Unit = {
    require(groupCols.nonEmpty, "MvRegistry.register: no group columns")
    require((groupCols ++ sumCols ++ minMaxCols)
        .forall(c => !c.contains(',') && !c.contains('|')),
      "MvRegistry.register: column names must not contain ',' or '|'")
    catalog.register(spark, MvDef(basePath, aggPath, groupCols, sumCols, minMaxCols),
      durable, retainVersions)
  }

  /** Drop every view registered for `basePath`. In-memory the entry
    * becomes an EMPTY SHADOW, not an absence — so a session that
    * unregisters a durably-cataloged base really does disable its
    * rewrites locally instead of silently falling through to the
    * manifest catalog. `durable = true` also removes the catalog
    * props for good (and sweeps any corrupt ones). */
  def unregister(spark: SparkSession, basePath: String,
                 durable: Boolean = false,
                 retainVersions: Int = 2): Unit =
    catalog.unregister(spark, basePath, None, durable, retainVersions)

  /** Test hook: fresh-session simulation ([[DurableDefCatalog.clearInMemory]]). */
  private[graft] def clearInMemory(): Unit = catalog.clearInMemory()

  /** Test instrument: successful rewrites. */
  private[graft] def rewrites = catalog.rewrites
}

/** AUTOMATIC MATERIALIZED-VIEW REWRITE — the query side of
  * [[IncrementalAgg]]: a grouped COUNT/SUM over the BASE table
  *
  * {{{ ManifestTable.read(spark, base).groupBy("k").agg(count(lit(1)), sum($"v")) }}}
  *
  * is answered from the maintained view instead — O(groups) read vs
  * O(table) scan — when, and only when, the rewrite is provably an
  * identity. This is the classic MV-rewrite (Calcite / warehouse
  * `QUERY_REWRITE`) specialized to the two re-aggregable functions the
  * view maintains; at 100 TB it turns the dashboard's hourly grouped
  * scan into a read of a few thousand pre-folded rows.
  *
  * A rewrite fires only when ALL of:
  *   - the aggregate sits over a bare, full, un-narrowed
  *     [[GraftFileIndex]] scan of a REGISTERED base (identity
  *     Projects / SubqueryAlias / group-column-only deterministic
  *     Filters between them are absorbed — a group-col filter
  *     re-applies on the view exactly, because view rows partition
  *     the base by group key);
  *   - the scan is CURRENT and COMPLETE: its dir set equals the
  *     latest manifest's ([[ManifestTable.dataDirs]]) — a time-travel
  *     read, a partition-filtered read, a join-narrowed index, or a
  *     pending-MoR plan (DV anti-joins surface as Joins and appendix
  *     dirs as extra index dirs) all fail this and back off;
  *   - the VIEW is FRESH: its committed `agg.base_version` equals the
  *     base's current version (atomic with the view's data — one
  *     manifest rename — so "fresh" is transactional, not advisory);
  *   - every grouping expression is a DETERMINISTIC function of the
  *     registered group columns — bare attrs (subset roll-up) or
  *     expressions (`GROUP BY date_trunc('month', day)` over a
  *     day-grained view): such an expression is constant within each
  *     view row-group, so grouping by it commutes with the view's
  *     pre-aggregation, and the coarser roll-up re-aggregates exactly
  *     (counts and fixed-point sums associative; min-of-mins /
  *     max-of-maxs order-independent for any type). Every aggregate
  *     is `count(*)`, `count(sumCol)` (the maintained non-null count
  *     re-aggregates), `sum(sumCol)` with LONG or DECIMAL result type
  *     (decimal re-aggregation casts back to the scan's own
  *     `decimal(p+10,s)` — the CheckOverflowInSum boundary — and the
  *     maintained count keeps an all-null group's sum SQL NULL),
  *     `avg(sumCol)` over the maintained (sum, count(v)) pair (long
  *     under the 2⁵³ proof, decimal unconditionally — fixed-point is
  *     exact), or `min/max(minMaxCol)` over a registered maintained
  *     bound, no DISTINCT / FILTER clauses, and every output type
  *     matches the view's bit-for-bit.
  *
  * The global (no GROUP BY) count re-folds as `coalesce(sum(n), 0)` —
  * an empty base must still answer 0, not NULL. Injected pre-CBO;
  * the freshness check is one driver-side manifest read per candidate
  * aggregate, no job. `spark.graft.mvRewrite.enabled=false` turns the
  * rule off; [[MvRegistry.rewrites]] counts successes. */
case class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.get("spark.graft.mvRewrite.enabled", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    // no registry-empty fast path any more: a fresh session's registry
    // IS empty, and the durable catalog must still fire — the walk
    // itself is pattern matching, and lookup's manifest probe is
    // memoized per base version
    if (!enabled) plan
    else plan.transformUp {
      case a: Aggregate => rewrite(a).getOrElse(a)
    }

  private def rewrite(a: Aggregate): Option[LogicalPlan] =
    ManifestScan.of(a.child).flatMap { scan =>
      // several views may stand for one base — first match in
      // registration order wins (register most-specific first)
      MvRegistry.catalog.lookup(spark, scan.root).view.flatMap { mv =>
        for {
          (viewVersion, _) <- ManifestScan.fresh(spark, mv.aggPath,
            Seq((mv.basePath, scan, IncrementalAgg.BaseVersionProp)))(_ => true)
          plan <- build(a, mv, scan, viewVersion)
        } yield {
          MvRegistry.rewrites.incrementAndGet()
          logInfo(s"graft mv-rewrite: answered a grouped aggregate over " +
            s"${mv.basePath} from the maintained view ${mv.aggPath}")
          plan
        }
      }.headOption
    }

  /** Construct the replacement: Filter(view) → Aggregate → Project
    * aliasing back to the original output names and exprIds. Any
    * unmappable piece answers None (back off, never fail). */
  private def build(a: Aggregate, mv: MvRegistry.MvDef,
                    scan: ManifestScan, viewVersion: Long): Option[LogicalPlan] = {
    val viewPlan = IncrementalAgg.readAt(spark, mv.aggPath, viewVersion)
      .queryExecution.analyzed
    def viewAttr(name: String): Option[Attribute] = viewPlan.output.find(_.name == name)
    // Translate an expression onto the view: every referenced
    // attribute must map to a REGISTERED GROUP COLUMN (such an
    // expression is constant within each view row-group, so grouping
    // or filtering by it commutes with the view's pre-aggregation —
    // the soundness of both the expression-grouping roll-up, e.g.
    // `GROUP BY date_trunc('month', day)` over a day-grained view,
    // and the filter re-application).
    def translate(e: Expression): Option[Expression] = {
      // expand computed aliases (pulled-out grouping expressions)
      // down to scan-level attrs first, then map those onto the view
      val resolved = scan.resolve(e)
      if (!resolved.deterministic) None
      else ManifestScan.rebind(resolved)(ar =>
        scan.physOf(ar).filter(mv.groupCols.contains).flatMap(viewAttr)
          .filter(_.dataType == ar.dataType))
    }

    // grouping: any deterministic expressions over group columns
    val translatedGroups = a.groupingExpressions.map(translate)
    if (translatedGroups.exists(_.isEmpty)) return None
    val groupAliases = translatedGroups.flatten.zipWithIndex
      .map { case (t, i) => Alias(t, s"__mvg_$i")() }

    // filters: every reference must be a group column
    val translated = scan.filters.map(translate)
    if (translated.exists(_.isEmpty)) return None
    val filtered = translated.flatten
      .foldLeft(viewPlan)((p, c) => Filter(c, p))

    val nAttr = viewAttr("n").getOrElse(return None)
    if (nAttr.dataType != LongType) return None

    // classify each original output; build synthetic agg aliases
    sealed trait Out
    case class GroupOut(i: Int) extends Out
    case class AggOut(alias: Alias, isCount: Boolean) extends Out
    case class AvgOut(sumAl: Alias, cntAl: Alias) extends Out
    // sums re-aggregate alongside their maintained NON-NULL COUNT: a
    // folded sum is SQL NULL exactly when Σcnt = 0 (the view's sum
    // column alone cannot distinguish "all null" from "cancels to
    // zero"), and decimal re-aggregations cast back to the scan's own
    // result type (ANSI errors / legacy nulls at exactly the scan's
    // CheckOverflowInSum boundary)
    case class SumOut(sumAl: Alias, cntAl: Alias, to: DataType) extends Out
    case class AvgDecOut(sumAl: Alias, cntAl: Alias, av: Average) extends Out
    var synths = Vector.empty[Alias]
    val outs: Seq[Option[Out]] = a.aggregateExpressions.map { ne =>
      val (core, origType) = ne match {
        case al @ Alias(c, _) => (c, al.dataType)
        case other => (other, other.dataType)
      }
      core match {
        // an output that IS one of the grouping expressions (bare
        // attr or expression) projects that group's view-side alias
        case e if a.groupingExpressions.exists(_.semanticEquals(e)) =>
          val i = a.groupingExpressions.indexWhere(_.semanticEquals(e))
          if (groupAliases(i).dataType == origType) Some(GroupOut(i)) else None
        // count(DISTINCT groupCol): the view holds EXACTLY one row
        // per group tuple, so the distinct values of a group column
        // on the view are the distinct values on the base — the
        // same count over O(groups) rows instead of O(table). (Any
        // translated group-column filter composes: it keeps whole
        // row-groups on both sides.)
        case AggregateExpression(Count(Seq(ar: AttributeReference)), _, true, None, _) =>
          for {
            c <- scan.physOf(ar)
            if mv.groupCols.contains(c)
            va <- viewAttr(c)
            if va.dataType == ar.dataType && origType == LongType
          } yield {
            val al = Alias(Count(Seq(va)).toAggregateExpression(isDistinct = true),
              s"__mv_${synths.size}")()
            synths :+= al
            AggOut(al, isCount = false)
          }
        case AggregateExpression(fn, _, false, None, _) => fn match {
          case Count(Seq(l: Literal)) if l.value != null =>
            val al = Alias(Sum(nAttr).toAggregateExpression(), s"__mv_${synths.size}")()
            synths :+= al
            Some(AggOut(al, isCount = true))
          // count(col) — the view's maintained per-measure non-null
          // count re-aggregates exactly (long addition)
          case Count(Seq(ar: AttributeReference)) =>
            for {
              c <- scan.physOf(ar)
              if mv.sumCols.contains(c)
              cnt <- viewAttr(s"cnt_$c")
              if cnt.dataType == LongType && origType == LongType
            } yield {
              val al = Alias(Sum(cnt).toAggregateExpression(), s"__mv_${synths.size}")()
              synths :+= al
              AggOut(al, isCount = true) // global: coalesce to 0
            }
          // sum: LONG re-aggregates as itself (associative, exact);
          // DECIMAL re-aggregates at `sum-of-sums` width and CASTS
          // BACK to the scan's own decimal(min(38,p+10),s) — fixed-
          // point addition is associative so the value is exact, and
          // the cast ANSI-errors / legacy-nulls at exactly the
          // boundary where the scan's CheckOverflowInSum does, so
          // overflow behavior stays the scan's. Both ride the
          // maintained non-null count for NULL correctness.
          case Sum(ar: AttributeReference, _) =>
            for {
              c <- scan.physOf(ar)
              if mv.sumCols.contains(c)
              va <- viewAttr(s"sum_$c")
              cnt <- viewAttr(s"cnt_$c")
              if cnt.dataType == LongType
              out <- (ar.dataType, va.dataType, origType) match {
                case (LongType | IntegerType | ShortType | ByteType,
                      LongType, LongType) => Some(LongType: DataType)
                case (in: DecimalType, vd: DecimalType, out: DecimalType)
                    if vd == out && out.scale == in.scale &&
                      out.precision == math.min(38, in.precision + 10) =>
                  Some(out: DataType)
                case _ => None
              }
            } yield {
              val sAl = Alias(Sum(va).toAggregateExpression(), s"__mv_${synths.size}")()
              synths :+= sAl
              val cAl = Alias(Sum(cnt).toAggregateExpression(), s"__mv_${synths.size}")()
              synths :+= cAl
              SumOut(sAl, cAl, out)
            }
          // avg divides by count(v) — exactly Σcnt of the maintained
          // non-null counts, so nulls in the measure need no special
          // proof. avg(longCol) additionally needs the plan-time
          // double-exactness proof ([[avgExactProof]]): Spark's
          // Average accumulates the sum as DOUBLE per row, so the
          // rewrite is bit-identical to the scan exactly when every
          // partial sum any order can produce is an exactly-
          // representable integer. avg(decimalCol) needs NO such
          // bound — decimal accumulation is exact fixed-point — and
          // its value is built as the SAME Catalyst tree Average's
          // own evaluateExpression builds: the re-aggregated sum cast
          // to the scan's internal sum type (the CheckOverflowInSum
          // boundary), one decimal Divide, one cast to the result
          // type — identity by construction.
          case avFn @ Average(ar: AttributeReference, _) =>
            val av = avFn.asInstanceOf[Average]
            for {
              c <- scan.physOf(ar)
              if mv.sumCols.contains(c)
              va <- viewAttr(s"sum_$c")
              cnt <- viewAttr(s"cnt_$c")
              if cnt.dataType == LongType
              decimal <- (ar.dataType, va.dataType) match {
                case (LongType, LongType)
                    if origType == DoubleType && avgExactProof(scan, c) =>
                  Some(false)
                case (_: DecimalType, vd: DecimalType)
                    if vd == av.sumDataType && origType == av.dataType =>
                  Some(true)
                case _ => None
              }
            } yield {
              val sAl = Alias(Sum(va).toAggregateExpression(), s"__mv_${synths.size}")()
              synths :+= sAl
              val cAl = Alias(Sum(cnt).toAggregateExpression(), s"__mv_${synths.size}")()
              synths :+= cAl
              if (decimal) AvgDecOut(sAl, cAl, av) else AvgOut(sAl, cAl)
            }
          // min-of-mins / max-of-maxs are exact for ANY type — no
          // arithmetic, order-independent — when the view maintains
          // the bound (fast-refresh-on-append contract)
          case Min(ar: AttributeReference) =>
            for {
              c <- scan.physOf(ar)
              if mv.minMaxCols.contains(c)
              va <- viewAttr(s"min_$c")
              if va.dataType == origType
            } yield {
              val al = Alias(Min(va).toAggregateExpression(), s"__mv_${synths.size}")()
              synths :+= al
              AggOut(al, isCount = false)
            }
          case Max(ar: AttributeReference) =>
            for {
              c <- scan.physOf(ar)
              if mv.minMaxCols.contains(c)
              va <- viewAttr(s"max_$c")
              if va.dataType == origType
            } yield {
              val al = Alias(Max(va).toAggregateExpression(), s"__mv_${synths.size}")()
              synths :+= al
              AggOut(al, isCount = false)
            }
          case _ => None
        }
        case _ => None
      }
    }
    if (outs.exists(_.isEmpty)) return None

    val agg2 = Aggregate(groupAliases.map(_.child),
      (groupAliases: Seq[NamedExpression]) ++ synths, filtered)

    val projList: Seq[NamedExpression] = a.aggregateExpressions.zip(outs.flatten)
      .map { case (orig, out) =>
        val name = orig.name
        out match {
          case GroupOut(i) => Alias(groupAliases(i).toAttribute, name)(exprId = orig.exprId)
          case AggOut(al, isCount) =>
            val base: Expression =
              if (isCount && a.groupingExpressions.isEmpty)
                Coalesce(Seq(al.toAttribute, Literal(0L)))
              else al.toAttribute
            Alias(base, name)(exprId = orig.exprId)
          // Average's own final step on a non-decimal input is ONE
          // double division of the (double-accumulated) sum by the
          // long count cast to double; under the exactness proof both
          // operands here are the same doubles, so the division is
          // the same IEEE operation (Σcnt IS count(v)). An all-null
          // group or the empty global fold gives NULL/NULL or x/0 →
          // NULL, avg-over-no-non-null-rows in both plans.
          case AvgOut(sAl, cAl) =>
            Alias(new Divide(Cast(sAl.toAttribute, DoubleType),
              Cast(cAl.toAttribute, DoubleType)), name)(exprId = orig.exprId)
          // Σcnt = 0 ⟹ no non-null row survives the filter: SQL NULL
          // sum (the folded sum alone cannot distinguish "all null"
          // from "cancels to zero"); otherwise the exact fold, cast
          // to the scan's own result type.
          case SumOut(sAl, cAl, to) =>
            Alias(If(EqualTo(cAl.toAttribute, Literal(0L)),
              Literal(null, to), Cast(sAl.toAttribute, to)),
              name)(exprId = orig.exprId)
          // Average's decimal evaluate tree VERBATIM — the plan's own
          // `if (count = 0) null else DecimalDivideWithOverflowCheck(
          // sum, …, resultType, evalMode flags)` with the buffer
          // references substituted by the re-aggregated Σsum/Σcnt:
          // identical values in, identical division/rounding/overflow
          // semantics out (the division happens at the RESULT type
          // directly — no intermediate precision-loss rounding, which
          // a hand-built Divide+Cast chain would introduce).
          case AvgDecOut(sAl, cAl, av) =>
            val tree = av.evaluateExpression.transform {
              case a: AttributeReference if a.exprId == av.sum.exprId =>
                sAl.toAttribute
              case a: AttributeReference if a.exprId == av.count.exprId =>
                cAl.toAttribute
            }
            Alias(tree, name)(exprId = orig.exprId)
        }
      }
    Some(Project(projList, agg2))
  }

  /** The plan-time proof that a view-based `avg(c)` is BIT-IDENTICAL
    * to the scan: Spark's Average accumulates `cast(v as double)` row
    * by row, so the rewrite (exact long Σ, one final conversion) is
    * an identity iff every partial sum the scan can form is exactly
    * representable — guaranteed when `maxAbs(c) × totalRows ≤ 2⁵³`
    * (all partial sums are integers bounded by that product; the
    * count side is long-accumulated in BOTH plans, so it needs no
    * bound of its own). The bound, the per-entry null-freedom
    * (avg divides by count(v), the view's n is count(*) — they only
    * agree when the column has NO nulls), and the committed zone
    * maps + rowcounts all come from the scan's own manifest metadata
    * — O(entries) driver arithmetic, no job, the [[StatsAggRule]]
    * machinery applied to an optimizer soundness proof. Any entry
    * missing stats, null counts, or a rowcount fails the proof. */
  private def avgExactProof(scan: ManifestScan, c: String): Boolean = {
    val entries = scan.index.entryMetas
    // NULLS need no clause of their own any more: the view maintains
    // count(v) per group (cnt_<c>), so the divide's denominator is
    // exact, and the bound below only strengthens (non-null rows ≤
    // total rows). An entry proven all-null (no zone map but a
    // rowcount-matching null count) contributes nothing and is fine;
    // an entry with values must carry its zone map for the bound.
    entries.forall(en => en.rowCount.isDefined &&
      (en.stats.contains(c) ||
        (for (r <- en.rowCount; n <- en.nullCounts.get(c)) yield n == r)
          .getOrElse(false))) && {
      val total = BigDecimal(entries.flatMap(_.rowCount).sum)
      val maxAbs = entries.flatMap(_.stats.get(c))
        .map { case (mn, mx) => mn.abs.max(mx.abs) }
        .foldLeft(BigDecimal(0))(_ max _)
      maxAbs * total <= BigDecimal(BigInt(1) << 53)
    }
  }
}
