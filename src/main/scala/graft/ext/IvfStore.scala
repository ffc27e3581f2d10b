package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{GenPointer, ManifestTable}

/** PERSISTED, INCREMENTALLY MAINTAINED IVF index — the missing piece
  * between [[Ivf]] (which trains per session) and a 100 TB corpus
  * where the index OUTLIVES the job: centroids and the inverted index
  * commit as [[ManifestTable]]s, a NEW document batch is assigned
  * against the committed centroids WITHOUT retraining or re-scanning
  * the existing corpus, and a drift policy decides retraining from
  * O(1) metadata ([[needsRetrain]]).
  *
  * Layout under `base/`:
  *   - `centroids/` — (list_id, centroid), partitioned+keyed by
  *     list_id; commit properties carry k and the trained corpus
  *     size (the drift denominator).
  *   - `index/` — (list_id, idCol, vecCol), PARTITIONED BY list_id
  *     (the physical layout [[Ivf.search]]'s probe wants: a query's
  *     nProbe lists are whole directories) and keyed by idCol.
  *
  * Retrain is BLUE/GREEN ([[retrainCommit]], [[graft.ops.GenStore]]):
  * assignments move wholesale when centroids move, so an in-place
  * retrain would rewrite the whole index table under live readers.
  * Train commit, batch merge, erasure, drift check and keep-set probe
  * are [[TrainedStore]]'s.
  */
object IvfStore extends TrainedStore("centroids", "index", "list_id",
    "ivf.trained_rows") {

  val KProp = "ivf.k"

  def centroidsPath(base: String): String = modelPath(base)
  def indexPath(base: String): String = dataPath(base)

  /** Train on `corpus` and commit centroids + index ATOMICALLY
    * ([[TrainedStore]]'s train commit: generation-blind, refuses a
    * flipped base). */
  def trainCommit(spark: SparkSession, base: String, corpus: DataFrame,
                  k: Int, iters: Int = 3,
                  idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    commitTrained(spark, base, corpus, idCol, Seq("list_id"),
      Map(KProp -> k.toString)) {
      val cents = Ivf.train(corpus, k, iters, idCol, vecCol)
      (cents, Ivf.index(corpus, cents, idCol, vecCol))
    }

  /** Evidence an [[appendBatch]] returns: how many rows were assigned
    * (== the batch — the existing corpus is never re-scanned) and
    * which lists the merge rewrote. */
  final case class AppendResult(rowsAssigned: Long, listsTouched: Set[String])

  /** Assign a NEW batch against the COMMITTED centroids (batch ⨯
    * broadcast(k centroids)) and merge it into the index table
    * ([[TrainedStore]]'s batch merge: only the hit lists rewrite — the
    * q178 gate pins exactly that). */
  def appendBatch(spark: SparkSession, base: String, batch: DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding"): AppendResult = {
    val root = resolvedBase(spark, base) // current generation's tables
    val cents = ManifestTable.read(spark, centroidsPath(root))
    val (n, lists) = mergeBatch(spark, root, Ivf.index(batch, cents, idCol, vecCol), idCol)
    AppendResult(n, lists)
  }

  /** An [[eraseKeys]] result: rows removed and the bloom-pruning
    * evidence ((probed, total) list dirs; zero rewritten). */
  final case class EraseResult(rowsErased: Long, dirsProbed: Long,
                               dirsTotal: Long, dirsRewritten: Long)

  /** [[Ivf.search]] over the committed tables of the CURRENT
    * generation (resolved once, at plan time: a search planned before
    * a concurrent flip serves the old generation to completion — the
    * blue/green contract). */
  def searchCommitted(spark: SparkSession, base: String, queries: DataFrame,
                      k: Int, nProbe: Int = 4,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val root = resolvedBase(spark, base)
    Ivf.search(ManifestTable.read(spark, indexPath(root)),
      ManifestTable.read(spark, centroidsPath(root)), queries, k, nProbe,
      idCol, vecCol)
  }

  /** A [[searchFilteredCommitted]] result: the ranked hits plus the
    * dir-pruning evidence ((probed, total) list dirs). */
  final case class FilteredSearch(df: DataFrame, dirsProbed: Long, dirsTotal: Long)

  /** FILTERED ANN — the retrieval-stack "hybrid search" probe as ONE
    * library call: approximate top-k over ONLY the vectors whose ids
    * survive `keep` (a keyword prefilter, an ACL cut, a dedup
    * verdict…), filtered BEFORE any scoring by [[TrainedStore]]'s
    * keep-set probe. With `nProbe >= k-lists` the result equals
    * brute-force top-k over the kept subset outright. */
  def searchFilteredCommitted(spark: SparkSession, base: String, queries: DataFrame,
                              k: Int, keep: DataFrame, keepCol: String = "vec_id",
                              nProbe: Int = 4,
                              idCol: String = "vec_id", vecCol: String = "embedding",
                              maxKeepKeys: Int = 100000): FilteredSearch =
    searchKept(spark, base, keep, keepCol, idCol, maxKeepKeys) { (root, kept) =>
      Ivf.search(kept, ManifestTable.read(spark, centroidsPath(root)), queries,
        k, nProbe, idCol, vecCol)
    }

  /** BLUE/GREEN RETRAIN — the answer [[needsRetrain]]'s verdict calls
    * for: a FULL [[trainCommit]] of `corpus` into the next generation,
    * then one flip ([[graft.ops.GenStore]]'s rebuild). Returns the new
    * generation number. */
  def retrainCommit(spark: SparkSession, base: String, corpus: DataFrame,
                    k: Int, iters: Int = 3,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    keepGenerations: Int = 2,
                    vacuumOrphans: Boolean = false,
                    orphanHorizonMs: Long = GenPointer.OrphanHorizonMs): Long =
    rebuild(spark, base, keepGenerations, vacuumOrphans, orphanHorizonMs)(
      trainCommit(spark, _, corpus, k, iters, idCol, vecCol))

  /** A drift check: current index size vs the committed training
    * size, and the retrain verdict at `growthFactor`. */
  final case class DriftCheck(indexedRows: Long, trainedRows: Long,
                              metadataOnly: Boolean, retrain: Boolean)
}
