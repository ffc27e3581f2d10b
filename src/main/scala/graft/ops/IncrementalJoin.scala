package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL JOIN-VIEW MAINTENANCE over [[ManifestTable]]s — the
  * materialized fact⋈dim enrichment view kept current from MANIFEST
  * DIFFS, the join-shaped sibling of [[IncrementalAgg]]:
  *
  *   - **Fact-side commits** rewrite exactly their own partitions:
  *     the view is partitioned like the fact, so a changed fact
  *     partition's view content is recomputed as
  *     `factPartition ⋈ dim` and lands via replaceTouched.
  *   - **Dim-side commits** resolve to AFFECTED JOIN KEYS through
  *     [[ManifestTable.changes]] (the change data feed — identical
  *     rewritten rows contribute nothing, so a sloppy dim writer that
  *     rewrites whole partitions still yields a tight key set), then
  *     ONE column-pruned scan of the fact (partition col + join keys
  *     only) finds which fact partitions hold those keys; only those
  *     rewrite. The CDF carries dim INSERTS and DELETES too, which is
  *     what makes the LEFT OUTER view maintainable: a fact row whose
  *     key gains (or loses) its dim match flips between enriched and
  *     null-extended, and its partition is exactly one the affected
  *     keys name.
  *   - Both folded-in base versions commit ATOMICALLY with the view
  *     data as manifest properties — the applied-but-unrecorded
  *     double-apply window cannot exist (the [[IncrementalAgg]]
  *     watermark argument).
  *
  * At 100 TB a daily fact batch refresh costs O(batch ⋈ dim), and a
  * dim trickle-update costs O(key-bearing partitions ⋈ dim) — never a
  * full view rebuild. The fall-back (first build, lapsed retention,
  * expired dim intermediates) is the full `fact ⋈ dim` — correct,
  * just not incremental.
  *
  * CONTRACTS: `joinKeys` (single or COMPOSITE) are together UNIQUE in
  * the dim (N:1 enrichment — each fact row matches ≤1 dim row; the
  * view keys stay the fact keys); `joinType` is `inner` (a fact row
  * whose key leaves the dim drops out of the view on the
  * partitions-rewrite path like any other row) or `left_outer` (the
  * dim-enrichment default in a warehouse: every fact row survives,
  * null-extended when unmatched — the view stays row-per-fact-row in
  * BOTH modes, which is what makes fact-side filter re-application on
  * the view an identity). Fact partition values must be stable per
  * fact key ([[ManifestTable]] merge contract). */
object IncrementalJoin {

  val FactVersionProp = "join.fact_version"
  val DimVersionProp = "join.dim_version"
  /** The view's committed semantics, for introspection and the
    * rewrite's defense-in-depth cross-check. */
  val JoinTypeProp = "join.type"
  val JoinKeysProp = "join.keys"

  /** Evidence a [[refresh]] returns. `committed` is false only for
    * the already-current no-op. */
  final case class RefreshResult(partitionsRewritten: Long, full: Boolean,
                                 committed: Boolean)

  private[graft] def normalizeJoinType(joinType: String): String =
    joinType.toLowerCase.replace("_", "") match {
      case "inner" => "inner"
      case "left" | "leftouter" => "left_outer"
      case other => sys.error(
        s"IncrementalJoin: unsupported joinType '$other' — the maintained " +
          "enrichment view is row-per-fact-row, so only inner and left_outer " +
          "(fact-preserving) joins are expressible")
    }

  /** The DIM-SIDE KEY COPY a `left_outer` view carries per join key:
    * the view's own key columns come from the FACT (never null), but
    * a query's dim-side key reference is NULL exactly on unmatched
    * rows — only an explicit null-extended copy can answer it. */
  def dimKeyCol(key: String): String = s"__dim_$key"

  /** The maintained view. */
  def read(spark: SparkSession, viewPath: String): DataFrame =
    ManifestTable.read(spark, viewPath)

  /** Single-key [[refresh]] (inner join) — the original surface. */
  def refresh(spark: SparkSession, factPath: String, dimPath: String,
              viewPath: String, factKeys: Seq[String], joinKey: String,
              factPartitionCol: String): RefreshResult =
    refresh(spark, factPath, dimPath, viewPath, factKeys, Seq(joinKey),
      factPartitionCol)

  /** Single-key [[refresh]] with an explicit retention horizon. */
  def refresh(spark: SparkSession, factPath: String, dimPath: String,
              viewPath: String, factKeys: Seq[String], joinKey: String,
              factPartitionCol: String, retainVersions: Int): RefreshResult =
    refresh(spark, factPath, dimPath, viewPath, factKeys, Seq(joinKey),
      factPartitionCol, retainVersions = retainVersions)

  /** Bring the join view at `viewPath` up to date with the fact and
    * dim tables. No-op if both folded-in versions are current. */
  def refresh(spark: SparkSession, factPath: String, dimPath: String,
              viewPath: String, factKeys: Seq[String], joinKeys: Seq[String],
              factPartitionCol: String, joinType: String = "inner",
              retainVersions: Int = 2): RefreshResult = {
    require(joinKeys.nonEmpty, "IncrementalJoin.refresh: no join keys")
    val jt = normalizeJoinType(joinType)
    val sparkJt = if (jt == "inner") "inner" else "left_outer"
    val hc = spark.sparkContext.hadoopConfiguration
    val factFs = new Path(factPath).getFileSystem(hc)
    val dimFs = new Path(dimPath).getFileSystem(hc)
    val viewFs = new Path(viewPath).getFileSystem(hc)
    val factVs = ManifestTable.versions(factFs, factPath)
    val dimVs = ManifestTable.versions(dimFs, dimPath)
    require(factVs.nonEmpty, s"IncrementalJoin.refresh: no fact table at $factPath")
    require(dimVs.nonEmpty, s"IncrementalJoin.refresh: no dim table at $dimPath")
    val (factCur, dimCur) = (factVs.last, dimVs.last)
    val recorded = ManifestTable.readProps(spark, viewPath)
    // an existing view must carry the SAME semantics — silently
    // refreshing a left_outer view with inner content (or new keys)
    // would serve wrong rows to every rewrite thereafter
    for (t <- recorded.get(JoinTypeProp)) require(t == jt,
      s"IncrementalJoin.refresh: view at $viewPath was built as $t, not $jt")
    for (k <- recorded.get(JoinKeysProp)) require(k == joinKeys.mkString(","),
      s"IncrementalJoin.refresh: view at $viewPath was keyed on $k, " +
        s"not ${joinKeys.mkString(",")}")
    val recF = recorded.get(FactVersionProp).map(_.toLong)
    val recD = recorded.get(DimVersionProp).map(_.toLong)
    if (recF.contains(factCur) && recD.contains(dimCur))
      return RefreshResult(0L, full = false, committed = false)
    val newProps = Map(FactVersionProp -> factCur.toString,
      DimVersionProp -> dimCur.toString,
      JoinTypeProp -> jt, JoinKeysProp -> joinKeys.mkString(","))
    // Two sink tables (e.g. the latest view over `prices` and `assets`)
    // carry their committed partition column under one name; the dim's
    // copy is its layout, not enrichment, so it drops. Any other
    // non-key column both sides share would duplicate in the view.
    val factNonKey = ManifestTable.read(spark, factPath).columns.toSet -- joinKeys
    val dimPart = ManifestTable.partitionColOf(
      ManifestTable.readManifest(dimFs, dimPath, dimCur)).filter(factNonKey)
    val dim0 = ManifestTable.read(spark, dimPath).drop(dimPart.toSeq: _*)
    val clash = dim0.columns.filter(factNonKey)
    require(clash.isEmpty, s"IncrementalJoin.refresh: column(s) " +
      s"${clash.mkString(", ")} exist in both the fact and the dim — rename " +
      "one side (only join keys may be shared)")
    // left_outer views carry a null-extended DIM-SIDE COPY of each key
    // ([[dimKeyCol]]): the join's own key column is the fact's
    val dim =
      if (jt == "inner") dim0
      else dim0.select(col("*") +:
        joinKeys.map(k => col(k).as(dimKeyCol(k))): _*)
    // The N:1 enrichment contract: a duplicate dim key would fan every
    // matching fact row out into duplicate view rows — refuse loudly
    // (one dim-sized aggregate per refresh; the dim is the small side).
    ManifestTable.requireUniqueKeys(dim, joinKeys, "IncrementalJoin dim")

    // Incremental needs: an existing view, both recorded versions
    // still retained, and every dim version in (recorded, current]
    // retained (the changes() contiguity requirement).
    val incremental = ManifestTable.versions(viewFs, viewPath).nonEmpty &&
      recF.exists(factVs.contains) && recD.exists(dimVs.contains) &&
      recD.exists(v => dimVs.count(x => x > v && x <= dimCur) == dimCur - v)

    if (!incremental) {
      val factParts = ManifestTable.partitionKeys(factFs, factPath)
      val full = ManifestTable.read(spark, factPath).join(dim, joinKeys, sparkJt)
      ManifestTable.merge(spark, viewPath, full, keys = factKeys,
        partitionCol = factPartitionCol, retainVersions = retainVersions,
        replaceTouched = true,
        knownTouched = Some(ManifestTable.partitionKeys(viewFs, viewPath) ++ factParts),
        props = newProps)
      return RefreshResult(factParts.size.toLong, full = true, committed = true)
    }

    // Fact-side: changed partitions from the manifest diff.
    val oldF = ManifestTable.partitionDirs(factFs, factPath, recF.get)
    val newF = ManifestTable.partitionDirs(factFs, factPath, factCur)
    val factChanged = (oldF.keySet ++ newF.keySet)
      .filter(k => oldF.get(k) != newF.get(k))

    // Dim-side: affected join keys via the CDF (inserts, deletes and
    // updates alike), then the fact partitions that hold them (one
    // column-pruned scan; a bloom dir-index on the fact's join key
    // would prune it further).
    val extra: Set[String] =
      if (recD.get == dimCur) Set.empty
      else {
        val keys = ManifestTable.changes(spark, dimPath, joinKeys, recD.get, dimCur)
          .select(joinKeys.map(col): _*).distinct()
        ManifestTable.read(spark, factPath)
          .select((factPartitionCol +: joinKeys).map(col): _*)
          .join(broadcast(keys), joinKeys, "left_semi")
          .select(col(factPartitionCol).cast("string").as("__p")).distinct()
          .collect().map(_.getString(0)).toSet
      }

    val touched = factChanged ++ extra
    val readable = touched.intersect(newF.keySet)
    val newContent =
      if (readable.isEmpty)
        // every touched partition vanished from the fact — commit the
        // partition deletes (and the version watermark) with an empty
        // batch shaped by the view's committed schema
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          ManifestTable.read(spark, viewPath).schema)
      else ManifestTable.read(spark, factPath, partitionFilter = readable.contains)
        .join(dim, joinKeys, sparkJt)
    ManifestTable.merge(spark, viewPath, newContent, keys = factKeys,
      partitionCol = factPartitionCol, retainVersions = retainVersions,
      replaceTouched = true, knownTouched = Some(touched), props = newProps)
    RefreshResult(touched.size.toLong, full = false, committed = true)
  }
}
