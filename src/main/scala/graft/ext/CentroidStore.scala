package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{GenPointer, ManifestTable}

/** PERSISTED k-means centroids + assignments — the [[IvfStore]]/
  * [[PqStore]] trainCommit/appendBatch pattern applied to [[Cluster]]
  * (the CURATION k-means: diversity sampling, cluster-balanced
  * mixtures), closing the last "trains per session" gap: at 100 TB
  * the cluster model is a pipeline artifact shared across jobs and
  * days, and assigning a new document batch must not retrain (every
  * committed assignment would go stale) nor re-scan the corpus.
  *
  * Layout under `base/`:
  *   - `centroids/` — (cluster_id, centroid: array<bigint>, the e6
  *     quantized matrix), partitioned+keyed by cluster_id; commit
  *     properties carry k and the trained corpus size (the drift
  *     denominator).
  *   - `assignments/` — (idCol, cluster_id), PARTITIONED BY
  *     cluster_id — the layout the downstream curation ops want: a
  *     per-cluster cap or a cluster's member list is whole
  *     directories — and keyed by idCol (LWW upsert, so re-delivered
  *     batches are idempotent).
  *
  * Because [[Cluster]]'s centroids are INTEGER (e6-quantized with
  * floor-division recomputes), the committed matrix is bit-exact —
  * an assignment against committed centroids reproduces the training
  * session's assignment to the last bit, which is what makes this
  * store's results gateable cross-engine (q190) where a float
  * centroid store would drift in the last ulp.
  *
  * Retrain is BLUE/GREEN ([[retrainCommit]], [[graft.ops.GenStore]]):
  * assignments move wholesale when centroids move. Stale centroids
  * mean a drifted geometry and skewed clusters ([[needsRetrain]]).
  * Erasure ([[eraseKeys]]) removes assignments, not centroids: a
  * (vec_id, cluster) row is per-subject derived data — leaving it
  * keeps the subject in every [[balancedSampleCommitted]] draw.
  */
object CentroidStore extends TrainedStore("centroids", "assignments",
    "cluster_id", "kmeans.trained_rows") {

  val KProp = "kmeans.k"

  def centroidsPath(base: String): String = modelPath(base)
  def assignmentsPath(base: String): String = dataPath(base)

  /** Train on `corpus` ([[Cluster.trainQuantized]]) and commit both
    * tables ATOMICALLY ([[TrainedStore]]'s train commit — assignments
    * without their matrix are uninterpretable). */
  def trainCommit(spark: SparkSession, base: String, corpus: DataFrame,
                  k: Int, iters: Int = 2,
                  idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    commitTrained(spark, base, corpus, idCol, Seq("cluster_id"),
      Map(KProp -> k.toString)) {
      val cents = Cluster.trainQuantized(corpus, k, iters, idCol, vecCol)
      import spark.implicits._
      val centsDf = cents.zipWithIndex
        .map { case (c, i) => (i + 1, c) }.toDF("cluster_id", "centroid")
      (centsDf, Cluster.assignQuantized(corpus, cents, idCol, vecCol))
    }

  /** The committed matrix, 1-based cluster id = position — a bounded
    * k·dim collect (the [[Cluster]] driver-traffic class). */
  def committedCentroids(spark: SparkSession, base: String): Seq[Seq[Long]] = {
    val rows = ManifestTable.read(spark, centroidsPath(resolvedBase(spark, base)))
      .select(col("cluster_id").cast("int"), col("centroid"))
      .collect().sortBy(_.getInt(0))
    require(rows.nonEmpty, s"CentroidStore: no committed centroids under $base")
    require(rows.map(_.getInt(0)).toSeq == (1 to rows.length),
      s"CentroidStore: committed cluster_ids not contiguous 1..${rows.length}")
    rows.map(_.getSeq[Long](1).toSeq).toSeq
  }

  /** Evidence an [[assignBatch]] returns: rows assigned (== the batch
    * — the existing corpus is never re-scanned, the centroids never
    * retrain) and which cluster partitions the merge rewrote
    * (untouched clusters' manifest entries carry forward verbatim —
    * the q190 gate pins that). */
  final case class AppendResult(rowsAssigned: Long, clustersTouched: Set[String])

  /** Assign a NEW batch against the COMMITTED centroids — a pure
    * projection of the batch (centroids ride in as a literal — no
    * join, no shuffle) — and merge it into the assignments table
    * ([[TrainedStore]]'s batch merge). */
  def assignBatch(spark: SparkSession, base: String, batch: DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding"): AppendResult = {
    val root = resolvedBase(spark, base) // current generation's tables
    val cents = committedCentroids(spark, root)
    val (n, clusters) = mergeBatch(spark, root,
      Cluster.assignQuantized(batch, cents, idCol, vecCol), idCol)
    AppendResult(n, clusters)
  }

  /** [[Cluster.balancedSampleFrom]] over the committed assignments —
    * the per-cluster cap reads whole cluster directories. */
  def balancedSampleCommitted(spark: SparkSession, base: String, cap: Int,
                              idCol: String = "vec_id"): DataFrame =
    Cluster.balancedSampleFrom(
      ManifestTable.read(spark,
        assignmentsPath(resolvedBase(spark, base))), cap, idCol)

  /** BLUE/GREEN RETRAIN — [[IvfStore.retrainCommit]]'s contract for
    * the curation k-means pair. Returns the new generation number. */
  def retrainCommit(spark: SparkSession, base: String, corpus: DataFrame,
                    k: Int, iters: Int = 2,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    keepGenerations: Int = 2,
                    vacuumOrphans: Boolean = false,
                    orphanHorizonMs: Long = GenPointer.OrphanHorizonMs): Long =
    rebuild(spark, base, keepGenerations, vacuumOrphans, orphanHorizonMs)(
      trainCommit(spark, _, corpus, k, iters, idCol, vecCol))
}
