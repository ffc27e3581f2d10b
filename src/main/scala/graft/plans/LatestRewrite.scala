package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

import graft.ops.{IncrementalLatest, ManifestTable}

/** LATEST-STATE VIEW REGISTRY — which [[IncrementalLatest]]-maintained
  * views stand for which base tables. Registration is the explicit
  * opt-in ([[LatestRewriteRule]] rewrites nothing unregistered); the
  * registered `keys`/`ordCols` MUST match the refresh arguments, and
  * [[IncrementalLatest]]'s contracts carry over: the ord tuple unique
  * per key (determinism), and NON-NULL ord columns (the window form
  * ranks null ords last while `max_by` skips them — the two agree,
  * and the view can stand for both, only when no ord is null; the
  * max_by rewrite ENFORCES this via refresh's validated-at-write
  * [[IncrementalLatest.OrdNonNullProp]] certificate rather than
  * trusting the registration).
  *
  * DURABILITY: `register(durable = true)` persists the definition as
  * a `mv.latest.NNNN` prop on the BASE table's manifest (the
  * [[MvRegistry]] posture) — a fresh session's planner rediscovers
  * the rewrite with no re-registration. */
object LatestRegistry {
  final case class LatestDef(basePath: String, viewPath: String,
                             keys: Seq[String], ordCols: Seq[String])

  private[plans] val catalog = new DurableDefCatalog[LatestDef](
    ManifestTable.MvLatestDefPropPrefix,
    d => Seq(DurableDefCatalog.enc(d.viewPath), d.keys.mkString(","),
      d.ordCols.mkString(",")).mkString("|"),
    (basePath, value) => try {
      val parts = value.split('|')
      val d = LatestDef(basePath, DurableDefCatalog.dec(parts(0)),
        DurableDefCatalog.cols(parts, 1), DurableDefCatalog.cols(parts, 2))
      if (d.keys.isEmpty || d.ordCols.isEmpty) None else Some(d)
    } catch { case scala.util.control.NonFatal(_) => None },
    owner = _.basePath, viewOf = _.viewPath)

  /** Declare `viewPath` a maintained latest-state view of `basePath`.
    * Re-registering the same `viewPath` replaces its definition in
    * place; several views per base try in registration order. */
  def register(spark: SparkSession, basePath: String, viewPath: String,
               keys: Seq[String], ordCols: Seq[String],
               durable: Boolean = false, retainVersions: Int = 2): Unit = {
    require(keys.nonEmpty && ordCols.nonEmpty,
      "LatestRegistry.register: keys and ordCols must be non-empty")
    require((keys ++ ordCols).forall(c => !c.contains(',') && !c.contains('|')),
      "LatestRegistry.register: column names must not contain ',' or '|'")
    require(keys.intersect(ordCols).isEmpty,
      "LatestRegistry.register: keys and ordCols must be disjoint")
    catalog.register(spark, LatestDef(basePath, viewPath, keys, ordCols),
      durable, retainVersions)
  }

  /** Drop every view registered for `basePath` (in-memory an EMPTY
    * SHADOW — the session really disables the rewrite rather than
    * falling through to the durable catalog). */
  def unregister(spark: SparkSession, basePath: String,
                 durable: Boolean = false, retainVersions: Int = 2): Unit =
    catalog.unregister(spark, basePath, None, durable, retainVersions)

  /** Test hook: fresh-session simulation. */
  private[graft] def clearInMemory(): Unit = catalog.clearInMemory()

  /** Test instrument: successful rewrites. */
  private[graft] def rewrites = catalog.rewrites
}

/** AUTOMATIC LATEST-STATE VIEW REWRITE — the query side of
  * [[IncrementalLatest]], covering the reference's HEADLINE view
  * shape (`v_latest_prices`, `sql/views.sql:2-8`). Two plan shapes
  * answer from the maintained view instead of a full scan + key-wide
  * shuffle:
  *
  *   - the WINDOW form ([[graft.ops.Ops.latestPerKey]]):
  *     `Filter(rn = 1, Window(row_number over (partition by keys
  *     order by ordCols desc)))` — the view holds exactly the rn=1
  *     rows, so the rewrite projects the view with `rn` replaced by
  *     the literal 1;
  *   - the AGGREGATE form ([[graft.ops.Ops.latestPerKeyAgg]]):
  *     `Aggregate(keys, max_by(expr, ord))` — the view row IS each
  *     key's argmax row, so `max_by(expr, ord)` is `expr` evaluated
  *     on the view row (and `max(ordCols.head)` is that row's own
  *     leading order value). Requires the registry's non-null-ord
  *     contract (max_by skips null ords; the window form ranks them
  *     last — they agree only when no ord is null).
  *
  * A rewrite fires only when the scan below is a bare, full,
  * un-narrowed [[GraftFileIndex]] read of a REGISTERED base (identity
  * Projects / SubqueryAlias absorbed; deterministic Filters absorbed
  * only when they reference KEY columns alone — a key-only predicate
  * selects whole key groups, so it commutes with per-key argmax and
  * re-applies on the view exactly; any other filter below the window
  * changes which row is latest and DECLINES), the window/aggregate
  * semantics match the registered keys and order columns exactly
  * (each order column DESCENDING NULLS LAST, in order), and the view
  * is transactionally FRESH: scan dirs equal the base's current
  * manifest, the view's committed `latest.base_version` folds exactly
  * that data ([[ManifestTable.sameDataEntries]] bridges metadata-only
  * commits), and the view's committed keys/ord props match the
  * registration (REQUIRED present — this family records them from
  * day one, so absence is a mismatch, never a pass). A
  * [[WindowGroupLimit]] the optimizer inferred below the window is
  * absorbed when its spec matches and its limit keeps rank 1.
  *
  * Injected pre-CBO; freshness is driver-side manifest metadata, no
  * job. `spark.graft.latestRewrite.enabled=false` turns the rule off;
  * [[LatestRegistry.rewrites]] counts successes. */
case class LatestRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.get("spark.graft.latestRewrite.enabled", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case f @ Filter(_, _: Window) => rewriteWindow(f).getOrElse(f)
      case a: Aggregate => rewriteMaxBy(a).getOrElse(a)
    }

  /** The scan below the window/aggregate, through identity Projects
    * only (deterministic Filters are validated against the registered
    * key columns in the builders). */
  private def scanOf(p: LogicalPlan): Option[ManifestScan] =
    ManifestScan.of(p).filter(_.renamesOnly)

  /** Scan complete+current, view folded exactly that data with
    * exactly the registered semantics; returns the pinned view
    * version and its props. */
  private def fresh(d: LatestRegistry.LatestDef,
                    scan: ManifestScan): Option[(Long, Map[String, String])] =
    ManifestScan.fresh(spark, d.viewPath,
        Seq((d.basePath, scan, IncrementalLatest.BaseVersionProp))) { props =>
      props.get(IncrementalLatest.KeysProp).contains(d.keys.mkString(",")) &&
        props.get(IncrementalLatest.OrdProp).contains(d.ordCols.mkString(","))
    }

  /** The view pinned at `viewVersion`, and the translation of a
    * scan-level expression onto it: every reference maps onto the
    * view's same-named, same-typed column. */
  private def onView(d: LatestRegistry.LatestDef, scan: ManifestScan, viewVersion: Long)
      : (LogicalPlan, Expression => Option[Expression]) = {
    val viewPlan = IncrementalLatest.readAt(spark, d.viewPath, viewVersion)
      .queryExecution.analyzed
    (viewPlan, e => ManifestScan.rebind(e)(ar =>
      scan.colOf.get(ar.exprId).flatMap { case (n, dt) =>
        viewPlan.output.find(_.name == n).filter(_.dataType == dt)
      }))
  }

  /** The window's partition/order spec matches the registered def:
    * partition attrs are exactly the key set; order is each ordCol
    * DESCENDING NULLS LAST, in registration order. */
  private def specMatches(d: LatestRegistry.LatestDef, scan: ManifestScan,
                          partitionSpec: Seq[Expression],
                          orderSpec: Seq[SortOrder]): Boolean = {
    val partCols = partitionSpec.map(scan.physOf)
    val ordCols = orderSpec.map {
      case SortOrder(ar: AttributeReference, Descending, NullsLast, _) =>
        scan.physOf(ar)
      case _ => None
    }
    partCols.forall(_.isDefined) && ordCols.forall(_.isDefined) &&
      partCols.flatten.toSet == d.keys.toSet &&
      ordCols.flatten == d.ordCols
  }

  // ---------------------------------------------------------- window

  private def rewriteWindow(f: Filter): Option[LogicalPlan] = {
    val w = f.child.asInstanceOf[Window]
    for {
      (rnAttr, ps, os) <- rowNumberOf(w)
      scan <- walkThroughLimit(w.child, ps, os)
      d <- LatestRegistry.catalog.lookup(spark, scan.root).find(dd =>
        specMatches(dd, scan, ps, os) &&
          scan.filters.forall(keyOnly(dd, scan, _)))
      above <- aboveConjuncts(f.condition, rnAttr)
      (vv, _) <- fresh(d, scan)
      plan <- buildWindow(f, rnAttr, d, scan, above, vv)
    } yield {
      LatestRegistry.rewrites.incrementAndGet()
      logInfo(s"graft latest-rewrite: answered a latest-per-key window over " +
        s"${d.basePath} from the maintained view ${d.viewPath}")
      plan
    }
  }

  /** The window computes exactly one expression: `row_number()` over
    * (partitionSpec, orderSpec) with the rank frame. */
  private def rowNumberOf(w: Window)
      : Option[(Attribute, Seq[Expression], Seq[SortOrder])] =
    w.windowExpressions match {
      case Seq(al @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(ps, os, frame)), _)) =>
        val frameOk = frame match {
          case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) => true
          case UnspecifiedFrame => true
          case _ => false
        }
        if (frameOk) Some((al.toAttribute, ps, os)) else None
      case _ => None
    }

  /** Walk the window's child to the scan, absorbing an optimizer-
    * inferred [[WindowGroupLimit]] when its spec semantically matches
    * the window's and its limit keeps rank 1 (a foreign spec could
    * drop the row the window ranks first — decline). */
  private def walkThroughLimit(p: LogicalPlan, ps: Seq[Expression],
                               os: Seq[SortOrder]): Option[ManifestScan] = {
    val below = p match {
      case wgl: WindowGroupLimit
          if wgl.limit >= 1 &&
            wgl.partitionSpec.length == ps.length &&
            wgl.partitionSpec.zip(ps).forall { case (a, b) => a.semanticEquals(b) } &&
            wgl.orderSpec.length == os.length &&
            wgl.orderSpec.zip(os).forall { case (a, b) => a.semanticEquals(b) } =>
        wgl.child
      case _: WindowGroupLimit => return None
      case other => other
    }
    scanOf(below)
  }

  /** Split the filter into the rank-1 conjunct (required), dropped
    * no-ops, and residual conjuncts to re-apply on the view; None if
    * any conjunct references the rank in another way. */
  private def aboveConjuncts(cond: Expression,
                             rn: Attribute): Option[Seq[Expression]] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    val conjuncts = split(cond)
    def isOne(l: Expression): Boolean = l match {
      case Literal(v: Int, IntegerType) => v == 1
      case _ => false
    }
    def isRank1(e: Expression): Boolean = e match {
      case EqualTo(a: AttributeReference, l) => a.exprId == rn.exprId && isOne(l)
      case EqualTo(l, a: AttributeReference) => a.exprId == rn.exprId && isOne(l)
      case LessThanOrEqual(a: AttributeReference, l) => a.exprId == rn.exprId && isOne(l)
      case GreaterThanOrEqual(l, a: AttributeReference) => a.exprId == rn.exprId && isOne(l)
      case _ => false
    }
    def isNoop(e: Expression): Boolean = e match {
      case IsNotNull(a: AttributeReference) => a.exprId == rn.exprId
      case _ => false
    }
    val (rank, rest0) = conjuncts.partition(isRank1)
    val rest = rest0.filterNot(isNoop)
    if (rank.isEmpty || rest.exists(_.references.exists(_.exprId == rn.exprId))) None
    else Some(rest)
  }

  private def keyOnly(d: LatestRegistry.LatestDef, scan: ManifestScan,
                      e: Expression): Boolean =
    e.deterministic && e.references.nonEmpty &&
      e.references.forall(scan.physOf(_).exists(d.keys.contains))

  private def buildWindow(f: Filter, rnAttr: Attribute,
                          d: LatestRegistry.LatestDef, scan: ManifestScan,
                          above: Seq[Expression], viewVersion: Long): Option[LogicalPlan] = {
    val (viewPlan, translate) = onView(d, scan, viewVersion)
    // below-window KEY filters and residual above-window filters both
    // re-apply on the view verbatim
    val conds = (scan.filters ++ above).map(translate)
    if (conds.exists(_.isEmpty)) return None
    val filtered = conds.flatten.foldLeft(viewPlan)((p, c) => Filter(c, p))
    // the replacement reproduces the Filter node's exact output:
    // every window-child attr from the view, the rank as literal 1
    val projList: Seq[Option[NamedExpression]] = f.output.map { a =>
      if (a.exprId == rnAttr.exprId)
        Some(Alias(Literal(1, IntegerType), a.name)(exprId = a.exprId))
      else translate(a).map(va => Alias(va, a.name)(exprId = a.exprId))
    }
    if (projList.exists(_.isEmpty)) None
    else Some(Project(projList.flatten, filtered))
  }

  // ---------------------------------------------------------- max_by

  private def rewriteMaxBy(a: Aggregate): Option[LogicalPlan] = {
    // cheap structural pre-check before any walk: at least one max_by
    if (!a.aggregateExpressions.exists(_.exists {
      case AggregateExpression(_: MaxBy, _, _, _, _) => true
      case _ => false
    })) return None
    for {
      scan <- scanOf(a.child)
      d <- LatestRegistry.catalog.lookup(spark, scan.root).find { dd =>
        val groups = a.groupingExpressions.map(scan.physOf)
        groups.forall(_.isDefined) && groups.flatten.toSet == dd.keys.toSet &&
          scan.filters.forall(keyOnly(dd, scan, _))
      }
      (vv, props) <- fresh(d, scan)
      // max_by skips null-ordered rows while the maintained view ranks
      // them last — the two agree only when no view row carries a null
      // ord, which is exactly what refresh's validated-at-write
      // certificate attests. An uncertified view (null ords present,
      // or written before the certificate existed) declines to the
      // scan; the window form is null-safe and rewrites regardless.
      if props.get(IncrementalLatest.OrdNonNullProp).contains("true")
      plan <- buildMaxBy(a, d, scan, vv)
    } yield {
      LatestRegistry.rewrites.incrementAndGet()
      logInfo(s"graft latest-rewrite: answered a max_by aggregate over " +
        s"${d.basePath} from the maintained view ${d.viewPath}")
      plan
    }
  }

  /** The aggregate's order argument is the registered comparator: the
    * single ord column, or a struct of the ord columns in exact
    * registration order. */
  private def ordMatches(d: LatestRegistry.LatestDef, scan: ManifestScan,
                         ord: Expression): Boolean = ord match {
    case ar: AttributeReference =>
      d.ordCols.size == 1 && scan.physOf(ar).contains(d.ordCols.head)
    case cns: CreateNamedStruct =>
      val vals = cns.valExprs.map(scan.physOf)
      vals.forall(_.isDefined) && vals.flatten == d.ordCols
    case _ => false
  }

  private def buildMaxBy(a: Aggregate, d: LatestRegistry.LatestDef,
                         scan: ManifestScan, viewVersion: Long): Option[LogicalPlan] = {
    val (viewPlan, translate) = onView(d, scan, viewVersion)
    val outs: Seq[Option[NamedExpression]] = a.aggregateExpressions.map { ne =>
      val (core, name, id) = ne match {
        case al @ Alias(c, n) => (c, n, al.exprId)
        case other => (other: Expression, other.name, other.exprId)
      }
      val built: Option[Expression] = core match {
        // a grouping key passes through as the view's key column
        case e if a.groupingExpressions.exists(_.semanticEquals(e)) =>
          translate(e)
        // max_by(value, registeredOrd): the view row IS the argmax
        // row, so the answer is `value` evaluated on it
        case AggregateExpression(MaxBy(value, ord), _, false, None, _)
            if value.deterministic && ordMatches(d, scan, ord) =>
          translate(value)
        // max(leadingOrdCol): the argmax row's own leading order
        // value (the latest row maximizes the tuple lexicographically,
        // so its first component is the column max)
        case AggregateExpression(Max(ar: AttributeReference), _, false, None, _)
            if scan.physOf(ar).contains(d.ordCols.head) =>
          translate(ar)
        case _ => None
      }
      built.filter(_.dataType == ne.dataType)
        .map(e => Alias(e, name)(exprId = id))
    }
    if (outs.exists(_.isEmpty)) return None
    val conds = scan.filters.map(translate)
    if (conds.exists(_.isEmpty)) return None
    val filtered = conds.flatten.foldLeft(viewPlan)((p, c) => Filter(c, p))
    Some(Project(outs.flatten, filtered))
  }
}
