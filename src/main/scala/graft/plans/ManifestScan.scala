package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DataType

import graft.ops.{GraftFileIndex, ManifestTable}

/** A plan resolved down to a bare, full, un-narrowed [[GraftFileIndex]]
  * scan of one manifest table — the shape every view rewrite
  * ([[LatestRewriteRule]], [[MvRewriteRule]], [[MvJoinRewriteRule]])
  * and [[StatsAggRule]] starts from. A join-narrowed index
  * ([[JoinPruneRule]]) never qualifies: its dir set is only valid
  * under the join.
  *
  * @param colOf       exprId → physical (name, type) for every live id:
  *                    the scan's own output plus each alias-of-attribute
  *                    rename above it (the reader's rename layer is
  *                    `Alias(AttributeReference)`). Renames MERGE rather
  *                    than replace: a Filter below a rename references
  *                    scan-level ids that must stay resolvable (exprIds
  *                    are globally unique, no clashes).
  * @param derived     COMPUTED deterministic aliases, each resolved
  *                    down to scan-level attrs. The optimizer's
  *                    PullOutGroupingExpressions moves a complex
  *                    grouping into a Project below the Aggregate as
  *                    `_groupingexpression#N`; [[resolve]] expands
  *                    those back in one transform. An expression
  *                    referencing any other computed column fails its
  *                    [[colOf]] lookup and backs off.
  * @param filters     deterministic Filter conditions met on the way
  *                    down, outermost first, for the caller to
  *                    adjudicate.
  * @param renamesOnly every Project on the way held attributes and
  *                    alias-of-attribute renames only. */
private[plans] final case class ManifestScan(
    root: Path, index: GraftFileIndex,
    colOf: Map[ExprId, (String, DataType)],
    derived: Map[ExprId, Expression],
    filters: Seq[Expression],
    renamesOnly: Boolean) {

  /** The physical column a bare attribute reads. */
  def physOf(e: Expression): Option[String] = e match {
    case ar: AttributeReference => colOf.get(ar.exprId).map(_._1)
    case _ => None
  }

  /** `e` with computed aliases expanded to scan-level attrs. */
  def resolve(e: Expression): Expression = e.transformUp {
    case ar: AttributeReference if derived.contains(ar.exprId) => derived(ar.exprId)
  }
}

private[plans] object ManifestScan {

  /** Walk `p` to its scan through Projects, deterministic Filters and
    * SubqueryAlias; any other operator answers None. */
  def of(p: LogicalPlan): Option[ManifestScan] = p match {
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case g: GraftFileIndex if !g.isNarrowed && g.rootPaths.nonEmpty =>
          Some(ManifestScan(g.rootPaths.head, g,
            lr.output.map(a => a.exprId -> (a.name, a.dataType)).toMap,
            Map.empty, Nil, renamesOnly = true))
        case _ => None
      }
      case _ => None
    }
    case Project(projList, child) => of(child).map { s =>
      val renames = projList.flatMap {
        case al @ Alias(ar: AttributeReference, _) => s.colOf.get(ar.exprId).map(al.exprId -> _)
        case _ => None // non-alias outputs simply aren't resolvable
      }
      val computed = projList.collect {
        case al @ Alias(e, _) if !e.isInstanceOf[AttributeReference] && e.deterministic =>
          al.exprId -> s.resolve(e)
      }
      s.copy(colOf = s.colOf ++ renames, derived = s.derived ++ computed,
        renamesOnly = s.renamesOnly && projList.forall {
          case _: AttributeReference | Alias(_: AttributeReference, _) => true
          case _ => false
        })
    }
    case f: Filter if f.condition.deterministic =>
      of(f.child).map(s => s.copy(filters = f.condition +: s.filters))
    case SubqueryAlias(_, child) => of(child)
    case _ => None
  }

  /** `e` with every attribute replaced by `f`'s answer; None when any
    * attribute has none (back off, never fail). */
  def rebind(e: Expression)(f: AttributeReference => Option[Expression]): Option[Expression] = {
    var ok = true
    val t = e.transformUp {
      case ar: AttributeReference => f(ar).getOrElse { ok = false; ar }
    }
    if (ok) Some(t) else None
  }

  /** The freshness check every view rewrite runs: each scan is the
    * COMPLETE, CURRENT base (its dir set equals the latest manifest's
    * [[ManifestTable.dataDirs]] — a time-travel read, a
    * partition-filtered read, a join-narrowed index or a pending-MoR
    * plan all fail this), and the view folded exactly that data. Each
    * base is `(path, scan, versionProp)`: the view's committed
    * `versionProp` names the base version its refresh folded, and
    * [[ManifestTable.sameDataEntries]] bridges METADATA-ONLY commits
    * since — a constraint, sort-order or catalog commit (a durable
    * `register` is one) bumps the base version without touching a
    * data entry and must not disarm the rewrite, so registration order
    * vs refresh is irrelevant. `semantics` adjudicates the view's
    * recorded semantic props against the registered definition.
    *
    * The view's latest props are read ONCE, and returned with the
    * version they were read at: the caller reads exactly that view
    * version, so a refresh racing the planner can neither serve an
    * unverified snapshot nor tear between check and read. Driver-side
    * manifest metadata only, no job; any read failure is a back-off. */
  def fresh(spark: SparkSession, viewPath: String,
            bases: Seq[(String, ManifestScan, String)])(
      semantics: Map[String, String] => Boolean): Option[(Long, Map[String, String])] = try {
    val conf = spark.sparkContext.hadoopConfiguration
    def latest(path: String): Option[Long] =
      ManifestTable.versions(new Path(path).getFileSystem(conf), path).lastOption
    val current = bases.map { case (path, scan, _) =>
      latest(path).filter(cur =>
        scan.index.relDirs.toSet == ManifestTable.dataDirs(spark, path, cur))
    }
    for {
      curs <- if (current.forall(_.isDefined)) Some(current.flatten) else None
      vv <- latest(viewPath)
      props = ManifestTable.readPropsAt(spark, viewPath, vv)
      if semantics(props)
      if bases.zip(curs).forall { case ((path, _, versionProp), cur) =>
        props.get(versionProp).exists(folded =>
          ManifestTable.sameDataEntries(spark, path, folded.toLong, cur))
      }
    } yield (vv, props)
  } catch { case scala.util.control.NonFatal(_) => None }
}
