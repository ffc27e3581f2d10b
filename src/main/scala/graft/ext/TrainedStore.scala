package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{GenStore, Intermediates, ManifestTable}

/** THE TRAINED-INDEX CORE of the three "model table + keyed data
  * table" stores ([[IvfStore]], [[PqStore]], [[CentroidStore]]): a
  * whole-corpus model (centroids, codebooks) under `modelTable`, and
  * one row per vector under `dataTable`, keyed by the vector id and
  * partitioned by `partCol`; the model's commit properties carry the
  * trained corpus size under `TrainedRowsProp` (the drift
  * denominator). Each store keeps only its train/encode/assign step,
  * its props and its partition column. */
abstract class TrainedStore(modelTable: String, dataTable: String,
                            partCol: String, val TrainedRowsProp: String)
    extends GenStore(modelTable, dataTable) {

  protected def modelPath(base: String): String = s"$base/$modelTable"
  protected def dataPath(base: String): String = s"$base/$dataTable"

  // statsColumns => per-partition rowcounts => needsRetrain's count
  // stays metadata-only forever (appends re-record on touched
  // partitions, untouched entries carry theirs forward). Blooms on the
  // id so [[eraseKeys]] narrows to the partitions that might hold a
  // subject.
  private def mergeData(spark: SparkSession, root: String, rows: DataFrame,
                        idCol: String, touched: Option[Set[String]]): Unit =
    ManifestTable.merge(spark, dataPath(root), rows,
      keys = Seq(idCol), partitionCol = partCol, statsColumns = Seq(idCol),
      bloomColumns = Seq(idCol), knownTouched = touched)

  /** Train on `corpus` and commit both tables ATOMICALLY (one
    * [[txn]] — a crash between the model and data commits would
    * otherwise leave data rows that reference a model no reader can
    * see, the exact two-table skew the transaction layer exists for).
    * `train` yields (model rows, data rows); the model is keyed by
    * `modelKeys` and partitioned by its first key. One extra bounded
    * count job records the drift denominator. Refuses a flipped
    * `base` ([[requireUnflipped]]). */
  protected def commitTrained(spark: SparkSession, base: String, corpus: DataFrame,
                              idCol: String, modelKeys: Seq[String],
                              props: Map[String, String])
                             (train: => (DataFrame, DataFrame)): Unit = {
    requireUnflipped(spark, base, "trainCommit")
    val nTrained = corpus.count()
    val (model, data) = train
    txn(spark, base) {
      ManifestTable.merge(spark, modelPath(base), model,
        keys = modelKeys, partitionCol = modelKeys.head,
        props = props + (TrainedRowsProp -> nTrained.toString))
      mergeData(spark, base, data, idCol, None)
    }
  }

  /** Merge a NEW batch's rows — already assigned or encoded against
    * the committed model, so no retraining and no corpus re-scan —
    * into `root`'s data table. The rows materialize once (the merge
    * re-references them twice); the merge reads and rewrites only the
    * partitions the batch lands in (untouched partitions' manifest
    * entries carry forward verbatim), and batch ids upsert by key
    * (LWW), so a re-delivered batch is idempotent. Returns the row
    * count and the touched partitions. */
  protected def mergeBatch(spark: SparkSession, root: String, rows: DataFrame,
                           idCol: String): (Long, Set[String]) = {
    val cp = rows.localCheckpoint()
    val touched = cp.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSet // bounded: ≤ partition count
    mergeData(spark, root, cp, idCol, Some(touched))
    val n = cp.count()
    Intermediates.release(cp)
    (n, touched)
  }

  /** ERASE vectors FROM THE DATA TABLE — an indexed vector, code or
    * assignment is derived personal data; erasing the base corpus row
    * alone leaves it servable forever. One bloom-pruned
    * [[ManifestTable.deleteByKeysMoR]] (DV sidecar, zero dirs
    * rewritten); the MODEL stays — a centroid or codebook is an
    * aggregate over the whole training set, not any subject's record
    * (the same reasoning under which a trained model survives an
    * erasure request), and [[needsRetrain]] governs its eventual
    * refresh.
    *
    * SCOPE OF THE DEFAULT: the DV delete makes the rows LOGICALLY
    * unreadable — every read path (search, drift, re-probe) behaves
    * as if they are gone — but their bytes remain in the data files
    * (masked) and in retained prior versions until a rewrite folds
    * the DVs in and retention expires (the caveat Delta documents for
    * deletion vectors + VACUUM). `physical = true` completes removal
    * immediately: [[ManifestTable.purgeDeletes]] rewrites exactly the
    * DV'd dirs and expires prior versions to 1 — bytes gone at the
    * cost of rewriting those dirs and of time travel past this
    * commit. */
  def eraseKeys(spark: SparkSession, base: String, vecIds: Seq[Long],
                retainVersions: Int = 2,
                idCol: String = "vec_id",
                physical: Boolean = false): IvfStore.EraseResult = {
    require(vecIds.nonEmpty, s"$name.eraseKeys: empty vector id list")
    val root = resolvedBase(spark, base) // current generation's tables
    val d = ManifestTable.deleteByKeysMoR(spark, dataPath(root), partCol,
      idCol, vecIds.map(_.toString), retainVersions = retainVersions)
    if (physical) ManifestTable.purgeDeletes(spark, dataPath(root),
      statsColumns = Seq(idCol), bloomColumns = Seq(idCol))
    IvfStore.EraseResult(d.op.rowsDeleted, d.dirsProbed, d.dirsTotal,
      d.op.dirsRewritten)
  }

  /** O(1) DRIFT-TRIGGERED RETRAIN POLICY (the maybeCompact pattern):
    * retrain when the data table has grown past `growthFactor` × the
    * corpus the model was trained on — a stale model fits a geometry
    * the corpus has drifted from. Reads one property plus the
    * metadata-only fastCount of the CURRENT generation; no data file
    * is opened. */
  def needsRetrain(spark: SparkSession, base: String,
                   growthFactor: Double = 1.5): IvfStore.DriftCheck = {
    val root = resolvedBase(spark, base)
    val trained = ManifestTable.readProps(spark, modelPath(root))
      .getOrElse(TrainedRowsProp, sys.error(
        s"$name.needsRetrain: no $TrainedRowsProp property under $base — " +
          s"not a $name-committed model")).toLong
    require(trained > 0, s"$name.needsRetrain: trained_rows = $trained")
    val c = ManifestTable.fastCount(spark, dataPath(root))
    IvfStore.DriftCheck(c.rows, trained, c.metadataOnly,
      c.rows.toDouble / trained > growthFactor)
  }

  /** The KEEP-SET PROBE of a filtered search: the data table of the
    * current generation narrowed to the ids surviving `keep`, BEFORE
    * any scoring, handed with its root to `search`:
    *
    *   - DIR level: the data table's dirs are pruned at planning time
    *     through the committed per-dir id blooms + zone maps
    *     ([[ManifestTable.readJoinPruned]]) — a dir provably holding
    *     none of the kept ids is never read;
    *   - ROW level: a broadcast LEFT SEMI join against the distinct
    *     kept ids drops non-surviving rows — no score is ever computed
    *     for a filtered-out vector (the post-filter alternative both
    *     wastes the scoring work AND under-fills k).
    *
    * ONE evaluation of the (typically expensive) keep plan: the
    * bounded distinct key set collects once and then drives BOTH the
    * planning-time dir probe and the broadcast semi side as a LOCAL
    * frame — the probe's internal collect re-reads only these local
    * rows, never the upstream prefilter pipeline a second time. `keep`
    * must fit the SAME broadcast-small envelope the planning probe
    * needs: `maxKeepKeys` refuses loudly past it (a keep side too big
    * to collect is too big to broadcast). Pruning is conservative
    * (false keeps only), so the narrowed table holds exactly the kept
    * rows. */
  protected def searchKept(spark: SparkSession, base: String, keep: DataFrame,
                           keepCol: String, idCol: String, maxKeepKeys: Int)
                          (search: (String, DataFrame) => DataFrame)
      : IvfStore.FilteredSearch = {
    val root = resolvedBase(spark, base)
    val sel = keep.select(col(keepCol).as(idCol)).distinct()
      .limit(maxKeepKeys + 1)
    val rows = sel.collect()
    require(rows.length <= maxKeepKeys,
      s"$name.searchFilteredCommitted: keep side exceeds $maxKeepKeys " +
        "distinct keys — too large for the planning probe and the broadcast " +
        "semi join; run the plain scored search, or raise maxKeepKeys deliberately")
    val keysDf = spark.createDataFrame(rows.toSeq.asJava, sel.schema)
    val pruned = ManifestTable.readJoinPruned(spark, dataPath(root), idCol,
      keysDf, idCol, maxKeys = maxKeepKeys)
    val kept = pruned.df.join(broadcast(keysDf), Seq(idCol), "left_semi")
    IvfStore.FilteredSearch(search(root, kept), pruned.dirsScanned, pruned.dirsTotal)
  }
}
