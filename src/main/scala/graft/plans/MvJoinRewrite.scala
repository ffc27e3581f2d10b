package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

import graft.ops.{IncrementalJoin, ManifestTable}

/** JOIN-VIEW REGISTRY — which [[IncrementalJoin]]-maintained
  * enrichment views stand for which `fact ⋈ dim` pairs. Registration
  * is the explicit opt-in; [[IncrementalJoin]]'s contracts carry
  * over: equi-join on a dim-UNIQUE key — single or COMPOSITE — with
  * `inner` or `left_outer` (fact-preserving) semantics; the view is
  * row-per-fact-row in both modes, which is what makes filter
  * re-application on the view an identity. */
object MvJoinRegistry {
  final case class MvJoinDef(factPath: String, dimPath: String, viewPath: String,
                             joinKeys: Seq[String], joinType: String)

  /** `mv.join.NNNN` props on the FACT manifest hold the URL-encoded
    * dim and view paths, the ','-joined key list (ORDER-STABLE — the
    * encoded order is the registered order) and the join type; a
    * 3-part value is an r17-era single-key inner def and decodes as
    * such, so existing catalogs keep working. Corrupt props skip on
    * lookup, sweep on durable unregister. Lookups and unregisters are
    * scoped to the dim. */
  private[plans] val catalog = new DurableDefCatalog[MvJoinDef](
    graft.ops.ManifestTable.MvJoinDefPropPrefix,
    d => Seq(DurableDefCatalog.enc(d.dimPath), DurableDefCatalog.enc(d.viewPath),
      d.joinKeys.mkString(","), d.joinType).mkString("|"),
    (factPath, value) => try {
      val parts = value.split('|')
      val keys = parts(2).split(',').toSeq.filter(_.nonEmpty)
      val jt = if (parts.length >= 4) parts(3) else "inner"
      if (keys.isEmpty || !Set("inner", "left_outer")(jt)) None
      else Some(MvJoinDef(factPath, DurableDefCatalog.dec(parts(0)),
        DurableDefCatalog.dec(parts(1)), keys, jt))
    } catch { case scala.util.control.NonFatal(_) => None },
    owner = _.factPath, viewOf = _.viewPath, scope = d => Some(d.dimPath))

  /** A pair may carry several views (one per key list / join type);
    * the rewrite tries them in registration order. Re-registering the
    * same `viewPath` replaces its definition in place (durably too —
    * it keeps its prop slot). `durable = true` commits the definition
    * as a `mv.join.NNNN` prop on the FACT table's manifest, so a
    * fresh session's lookup rediscovers it with no in-memory
    * state; `retainVersions` is that commit's retention horizon
    * (pass the table's own setting — addConstraint's contract).
    * Registration ORDER vs refresh does not matter: freshness
    * bridges metadata-only commits by data-entry identity. */
  def register(spark: SparkSession, factPath: String, dimPath: String,
               viewPath: String, joinKeys: Seq[String],
               joinType: String = "inner",
               durable: Boolean = false,
               retainVersions: Int = 2): Unit = {
    require(joinKeys.nonEmpty, "MvJoinRegistry.register: no join keys")
    require(joinKeys.forall(k => !k.contains(',') && !k.contains('|')),
      "MvJoinRegistry.register: join keys must not contain ',' or '|'")
    catalog.register(spark, MvJoinDef(factPath, dimPath, viewPath, joinKeys,
      IncrementalJoin.normalizeJoinType(joinType)), durable, retainVersions)
  }

  /** Drop every view registered for the pair. In-memory the pair
    * becomes an EMPTY SHADOW (a session-local disable that does NOT
    * fall through to the manifest catalog — [[MvRegistry.unregister]]'s
    * contract); `durable = true` also removes THIS pair's catalog
    * entries for good (other dims' entries stay; corrupt ones sweep). */
  def unregister(spark: SparkSession, factPath: String, dimPath: String,
                 durable: Boolean = false,
                 retainVersions: Int = 2): Unit =
    catalog.unregister(spark, factPath, Some(dimPath), durable, retainVersions)

  /** Test hook: fresh-session simulation ([[DurableDefCatalog.clearInMemory]]). */
  private[graft] def clearInMemory(): Unit = catalog.clearInMemory()

  /** Test instrument: successful rewrites. */
  private[graft] def rewrites = catalog.rewrites
}

/** AUTOMATIC JOIN-VIEW REWRITE — the query side of
  * [[IncrementalJoin]]: a plain
  *
  * {{{ ManifestTable.read(spark, fact).join(ManifestTable.read(spark, dim), keys) }}}
  *
  * is answered from the maintained enrichment view instead — one
  * pre-joined scan versus a scan + shuffle/broadcast join — when the
  * rewrite is provably an identity:
  *
  *   - the Join is INNER (either orientation) or FACT-PRESERVING
  *     outer — LEFT OUTER with the registered fact on the LEFT, or
  *     its mirror RIGHT OUTER with the fact on the RIGHT (the shape
  *     the view materializes; a dim-preserving outer join is a
  *     different result set and never rewrites), with a deterministic
  *     conjunction of attribute equalities covering EXACTLY the
  *     registered key list — single or COMPOSITE — each conjunct
  *     equating the same-named column on both sides, each side
  *     walking to a bare, full, un-narrowed [[GraftFileIndex]] scan
  *     of the registered fact/dim (identity Projects / SubqueryAlias
  *     / deterministic Filters absorbed — row-per-fact-row makes a
  *     row-level filter commute with the join and re-apply on the
  *     view EXACTLY ... with one outer-join exception: a DIM-side
  *     filter does NOT commute with null-extension (pre-filtering the
  *     dim null-extends MORE fact rows; post-filtering the view
  *     DROPS them), so left_outer declines any dim-side filter);
  *   - both scans are CURRENT and COMPLETE (dir-set identity against
  *     the latest manifests — time travel, partition-filtered reads,
  *     join-narrowed indexes, pending-MoR plans all fail this);
  *   - the view is FRESH: its committed `join.fact_version` /
  *     `join.dim_version` equal both current versions, checked and
  *     then READ at the same pinned view version — and when the view
  *     recorded its semantics (`join.type` / `join.keys`), they must
  *     match the registered definition (defense in depth against a
  *     mis-registered view);
  *   - every join-output column resolves in the view by name with an
  *     identical type. Under INNER both key attrs map to the view's
  *     single key column (value-equal under the equi-join); under
  *     LEFT OUTER the DIM-side key attr is NULL exactly on unmatched
  *     rows, so it maps to the view's null-extended
  *     [[IncrementalJoin.dimKeyCol]] copy instead.
  *
  * Injected BEFORE [[JoinPruneRule]] so a rewritable join never pays
  * the planning-time dim probe; anything the rewrite declines falls
  * through to pruning as before. Driver-side metadata only.
  * `spark.graft.mvRewrite.enabled=false` turns this off together with
  * the aggregate rewrite. */
case class MvJoinRewriteRule(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  private def enabled: Boolean =
    spark.conf.get("spark.graft.mvRewrite.enabled", "true").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    // no registry-empty fast path: the durable catalog must fire in a
    // fresh session (lookup memoizes its manifest probe per version)
    if (!enabled) plan
    else plan.transformUp {
      case j @ Join(_, _, Inner | LeftOuter | RightOuter, Some(cond), _)
          if cond.deterministic =>
        rewrite(j, cond).getOrElse(j)
    }

  private def rewrite(j: Join, cond: Expression): Option[LogicalPlan] = for {
    // every conjunct an attr=attr equality, oriented (left, right)
    pairs <- {
      val oriented = splitConjunctivePredicates(cond).map {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          if (j.left.outputSet.contains(a) && j.right.outputSet.contains(b))
            Some((a, b))
          else if (j.left.outputSet.contains(b) && j.right.outputSet.contains(a))
            Some((b, a))
          else None
        case _ => None
      }
      if (oriented.exists(_.isEmpty)) None else Some(oriented.flatten)
    }
    if pairs.nonEmpty
    left <- ManifestScan.of(j.left)
    right <- ManifestScan.of(j.right)
    plan <- {
      // several views may stand for one pair (one per key list / join
      // type) and either side may be the registered fact — try each
      // candidate in registration order, first match wins. factLeft
      // tracks the orientation for the outer-join adjudication.
      val candidates =
        MvJoinRegistry.catalog.lookup(spark, left.root, Some(right.root))
          .map(m => (m, left, right, pairs, true)) ++
        MvJoinRegistry.catalog.lookup(spark, right.root, Some(left.root))
          .map(m => (m, right, left, pairs.map(_.swap), false))
      candidates.view.flatMap { case (mv, fact, dim, kp, factLeft) =>
        // both outer forms are handled iff they PRESERVE THE FACT —
        // `fact LEFT OUTER dim` and its mirror `dim RIGHT OUTER fact`
        // are the same result set the view materializes
        val leftOuter = j.joinType == LeftOuter || j.joinType == RightOuter
        // the conjuncts must equate the same-named column on both
        // sides and cover the registered key list exactly
        val names = kp.map { case (fa, da) =>
          for {
            (fn, _) <- fact.colOf.get(fa.exprId)
            (dn, _) <- dim.colOf.get(da.exprId)
            if fn == dn
          } yield fn
        }
        val ks = names.flatten
        val keyed = !names.exists(_.isEmpty) &&
          ks.distinct.size == ks.size && ks.toSet == mv.joinKeys.toSet
        val typeOk =
          if (j.joinType == LeftOuter) mv.joinType == "left_outer" && factLeft
          else if (j.joinType == RightOuter) mv.joinType == "left_outer" && !factLeft
          else mv.joinType == "inner"
        // a dim-side filter does not commute with null-extension. The
        // ONE exception is the optimizer's own inferred
        // `isnotnull(<join key>)` on the dim build side — a null dim
        // key never matches, so dropping such rows changes nothing
        // about the outer result; those conjuncts are admitted and
        // EXCLUDED from view translation (applying them on the view
        // would drop exactly the null-extended rows they must spare)
        val filtersOk = !leftOuter ||
          dim.filters.flatMap(splitConjunctivePredicates).forall {
            case IsNotNull(ar: AttributeReference) =>
              dim.colOf.get(ar.exprId).exists(p => mv.joinKeys.contains(p._1))
            case _ => false
          }
        // a non-key NAME shared by both sides would make the by-name
        // view mapping ambiguous (such a view cannot be built anyway)
        val unambiguous = !(fact.colOf.values.map(_._1).toSet -- mv.joinKeys)
          .exists((dim.colOf.values.map(_._1).toSet -- mv.joinKeys))
        if (!keyed || !typeOk || !filtersOk || !unambiguous) None
        else for {
          (viewVersion, _) <- fresh(mv, fact, dim)
          p <- build(j, mv, fact, dim, leftOuter, viewVersion)
        } yield {
          MvJoinRegistry.rewrites.incrementAndGet()
          logInfo(s"graft mv-join-rewrite: answered ${mv.factPath} ⋈ " +
            s"${mv.dimPath} (${mv.joinType}) from the maintained view " +
            s"${mv.viewPath}")
          p
        }
      }.headOption
    }
  } yield plan

  /** Both scans complete+current, view folded exactly that DATA and
    * (when recorded) with exactly the registered SEMANTICS; returns
    * the pinned view version and its props. */
  private def fresh(mv: MvJoinRegistry.MvJoinDef, fact: ManifestScan,
                    dim: ManifestScan): Option[(Long, Map[String, String])] =
    ManifestScan.fresh(spark, mv.viewPath, Seq(
        (mv.factPath, fact, IncrementalJoin.FactVersionProp),
        (mv.dimPath, dim, IncrementalJoin.DimVersionProp))) { props =>
      // Pre-r18 views (built inner/single-key) carry neither prop, so
      // absence is acceptable ONLY for that default shape; a
      // non-default registration (left_outer or composite key) must
      // find the props stamped AND matching, else a mis-registered
      // legacy view would pass freshness and serve the wrong rows.
      props.get(IncrementalJoin.JoinTypeProp)
        .fold(mv.joinType == "inner")(_ == mv.joinType) &&
        props.get(IncrementalJoin.JoinKeysProp)
          .fold(mv.joinKeys.size == 1)(_ == mv.joinKeys.mkString(","))
    }

  /** Filter(view) → Project back to the join's output names/exprIds.
    * Under INNER both key attrs map onto the view's single key
    * column; under LEFT OUTER the dim-side key attrs map onto the
    * view's null-extended [[IncrementalJoin.dimKeyCol]] copies. */
  private def build(j: Join, mv: MvJoinRegistry.MvJoinDef, fact: ManifestScan,
                    dim: ManifestScan,
                    leftOuter: Boolean, viewVersion: Long): Option[LogicalPlan] = {
    val viewPlan = ManifestTable.readVersion(spark, mv.viewPath, viewVersion)
      .queryExecution.analyzed
    def viewAttr(name: String): Option[Attribute] = viewPlan.output.find(_.name == name)

    val keySet = mv.joinKeys.toSet
    def target(id: ExprId): Option[Attribute] = {
      val dimKey = leftOuter &&
        dim.colOf.get(id).exists { case (n, _) => keySet(n) }
      (if (dimKey) dim.colOf.get(id) else fact.colOf.get(id).orElse(dim.colOf.get(id)))
        .flatMap { case (n, dt) =>
          viewAttr(if (dimKey) IncrementalJoin.dimKeyCol(n) else n)
            .filter(_.dataType == dt)
        }
    }

    // under left_outer the admitted dim-side conjuncts are the
    // inferred key-isnotnull no-ops — never re-applied on the view
    val toTranslate = if (leftOuter) fact.filters else fact.filters ++ dim.filters
    val translated = toTranslate.map(ManifestScan.rebind(_)(ar => target(ar.exprId)))
    if (translated.exists(_.isEmpty)) return None
    val filtered = translated.flatten.foldLeft(viewPlan)((p, c) => Filter(c, p))

    val projList: Seq[NamedExpression] = j.output.map { o =>
      target(o.exprId) match {
        case Some(va) => Alias(va, o.name)(exprId = o.exprId)
        case None => return None
      }
    }
    Some(Project(projList, filtered))
  }
}
