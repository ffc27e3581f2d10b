package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{GenPointer, GenStore, ManifestTable}

/** PERSISTED MinHash-LSH DEDUP INDEX — [[IvfStore]]'s pattern for the
  * near-duplicate family: commit a corpus's LSH band index and
  * shingle sets as manifest tables ONCE, then dedup every incoming
  * batch against the full corpus WITHOUT re-reading it. The
  * reference-scale posture ([[Dedup.shingled]]'s "persist this frame
  * next to the corpus" note) made concrete:
  *
  *   - `bands` table: one row per (doc, band) carrying the band's
  *     bucket hash, partitioned by `pmod(bucket, nBuckets)` with zone
  *     maps + blooms on `bucket` — a probe batch's bucket IN-list
  *     prunes whole dirs through the automatic skipping path
  *     ([[graft.ops.GraftFileIndex]]) and row-groups through parquet
  *     pushdown;
  *   - `shingles` table: one row per doc (its shingle set), same
  *     layout on `doc_id` — candidate verification fetches ONLY the
  *     hit docs' shingles, never the corpus;
  *   - both tables commit ATOMICALLY ([[graft.ops.ManifestTxn]] over
  *     `base/_txn`) — a bands/shingles version skew would verify
  *     candidates against missing shingle rows.
  *
  * Probe cost at 100 TB: |batch|·numBands bucket keys (driver-bounded
  * — the batch is the small side by contract), a dir-pruned scan of
  * the hit band partitions, then a dir-pruned shingle fetch of only
  * the candidates. The corpus never shuffles and is never re-scanned.
  * Band parameters are committed as table properties so probes can
  * never mismatch the index's layout. The blue/green generation
  * lifecycle ([[rebandCommit]], [[vacuumGenerations]]) is
  * [[graft.ops.GenStore]]'s.
  */
object MinHashStore extends GenStore("bands", "shingles") {

  val BandsProp = "minhash.bands"
  val RProp = "minhash.r"
  val ShingleNProp = "minhash.shingle_n"
  val BucketsProp = "minhash.buckets"

  def bandsPath(base: String): String = s"$base/bands"
  def shinglesPath(base: String): String = s"$base/shingles"

  private def params(spark: SparkSession, base: String): (Int, Int, Int, Int) = {
    val p = ManifestTable.readProps(spark, bandsPath(base))
    def get(k: String) = p.getOrElse(k, sys.error(
      s"MinHashStore: no $k property under $base — not a MinHashStore index")).toInt
    (get(BandsProp), get(RProp), get(ShingleNProp), get(BucketsProp))
  }

  private def bandRows(sh: DataFrame, numBands: Int, r: Int,
                       nBuckets: Int): DataFrame =
    Dedup.bandedFrame(sh, numBands, r)
      .select(col("__id").as("doc_id"), col("__b.band").as("band"),
        col("__b.bucket").as("bucket"))
      .withColumn("pb", pmod(col("bucket"), lit(nBuckets.toLong)).cast("string"))

  private def shingleRows(sh: DataFrame, nBuckets: Int): DataFrame =
    sh.select(col("__id").as("doc_id"), col("__sh").as("sh"))
      .withColumn("pb", pmod(col("doc_id"), lit(nBuckets.toLong)).cast("string"))

  /** Shingle, sign, band and COMMIT `corpus` as the two index tables
    * (atomic two-table transaction). One corpus pass; parameters are
    * committed so every later probe/append reuses them. Refuses a
    * flipped base, like [[IvfStore.trainCommit]]. */
  def buildCommit(spark: SparkSession, base: String, corpus: DataFrame,
                  numBands: Int = 16, r: Int = 4, shingleN: Int = 3,
                  nBuckets: Int = 16, bloomBits: Int = 1 << 16,
                  textCol: String = "text", idCol: String = "doc_id"): Unit = {
    requireUnflipped(spark, base, "buildCommit")
    val sh = graft.ops.Intermediates.shared(
      Dedup.shingled(corpus, shingleN, textCol, idCol))
    val props = Map(BandsProp -> numBands.toString, RProp -> r.toString,
      ShingleNProp -> shingleN.toString, BucketsProp -> nBuckets.toString)
    commitTables(spark, base, bandRows(sh, numBands, r, nBuckets),
      shingleRows(sh, nBuckets), props, bloomBits, None)
  }

  /** Merge band and shingle rows into `root`'s two tables in ONE
    * transaction; `touched` is the (band, shingle) partitions an
    * append lands in. A probe throws |batch|·numBands keys at every
    * dir's bloom, so the filter must be sized for the PROBE fan-out,
    * not a single lookup: 64 Kbit/dir (`bloomBits`' default) keeps
    * the per-key FP low enough that a whole probe's expected false
    * keeps stay ≪ 1 dir. */
  private def commitTables(spark: SparkSession, root: String, bands: DataFrame,
                           docs: DataFrame, props: Map[String, String], bloomBits: Int,
                           touched: Option[(Set[String], Set[String])]): Unit =
    txn(spark, root) {
      // blooms on `doc_id` too: [[eraseKeys]] narrows to the dirs that
      // might hold a subject's band rows the same way probes narrow on
      // bucket
      ManifestTable.merge(spark, bandsPath(root), bands,
        keys = Seq("doc_id", "band"), partitionCol = "pb", props = props,
        knownTouched = touched.map(_._1),
        statsColumns = Seq("bucket"), bloomColumns = Seq("bucket", "doc_id"),
        bloomBits = bloomBits)
      ManifestTable.merge(spark, shinglesPath(root), docs,
        keys = Seq("doc_id"), partitionCol = "pb", props = props,
        knownTouched = touched.map(_._2),
        statsColumns = Seq("doc_id"), bloomColumns = Seq("doc_id"),
        bloomBits = bloomBits)
    }

  /** A [[probeBatch]] result: the verified near-dup pairs
    * (new_id, corpus_id, jaccard — EXACT jaccard from stored shingle
    * sets, the same verification [[Dedup.nearDupTextAgainst]] runs),
    * the probe's bounded driver footprint, and the dir-pruning
    * evidence of both index scans ((kept, total) off the automatic
    * skipping index). */
  final case class ProbeResult(pairs: DataFrame, bucketKeys: Long, candidates: Long,
                               bandPrune: (Long, Long), shinglePrune: (Long, Long))

  private def pruneOf(df: DataFrame): (Long, Long) = {
    val prunes = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.relation.location
    }.collect { case g: graft.ops.GraftFileIndex => g.lastPrune }.flatten
    (prunes.map(_._1).sum, prunes.map(_._2).sum)
  }

  /** Near-dup `newDocs` against the COMMITTED corpus index: the
    * batch's band buckets probe the bands table (dir-pruned via the
    * committed zone maps/blooms — an IN-list over `bucket`), matching
    * (band, bucket) rows become candidates, and ONLY the candidate
    * docs' shingle rows are fetched for exact-jaccard verification.
    * The corpus text is never touched.
    *
    * Driver footprint is BOUNDED by construction, not by hope: the
    * candidate PAIRS stay distributed (a hot band bucket — stop-gram
    * shingles, boilerplate-heavy corpora — can collide one probe doc
    * with millions of corpus rows, so the pair set is |batch| ×
    * corpus-collision fan-out, NOT batch-bounded). The shingle fetch
    * adapts to the candidate count (one distributed `countDistinct`,
    * never an unbounded collect):
    *   - <= `maxInListDocs` distinct candidates: the ids collect into
    *     an IN-list — whole-dir pruning through the committed doc_id
    *     blooms plus parquet row-group pushdown, the sharpest scan;
    *   - above that (up to `maxCandidateDocs`): the ids STAY
    *     DISTRIBUTED — the scan prunes to the candidate id-hash
    *     partitions (`pb`, a <= nBuckets IN-list) and the candidate
    *     join itself does the row filtering. At 10^5+ candidates the
    *     ids hash into every dir anyway, so the id-level IN-list buys
    *     no pruning — only a multi-megabyte InSet serialized into
    *     every task;
    *   - past `maxCandidateDocs`: loud refusal ([[graft.ops
    *     .ManifestTable.readJoinPruned]]'s maxKeys posture) — split
    *     the probe, rethink the band width, or clean the dominant
    *     shingles; never an unbounded fetch. */
  def probeBatch(spark: SparkSession, base: String, newDocs: DataFrame,
                 threshold: Double = 0.7,
                 textCol: String = "text", idCol: String = "doc_id",
                 maxCandidateDocs: Int = 1 << 20,
                 maxInListDocs: Int = 1 << 16): ProbeResult = {
    val root = resolvedBase(spark, base) // current generation's tables
    val (numBands, r, shingleN, nBuckets) = params(spark, root)
    val sh = graft.ops.Intermediates.shared(
      Dedup.shingled(newDocs, shingleN, textCol, idCol))
    val banded = graft.ops.Intermediates.shared(bandRows(sh, numBands, r, nBuckets))
    // bounded: |batch| * numBands keys — the small side by contract
    val keys = banded.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq
    import spark.implicits._
    val candsPlan =
      if (keys.isEmpty) None
      else Some(ManifestTable.read(spark, bandsPath(root))
        .where(col("bucket").isInCollection(keys)) // dirs prune automatically
        .as("c")
        .join(banded.as("p"),
          col("c.bucket") === col("p.bucket") && col("c.band") === col("p.band"))
        .select(col("p.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
        .dropDuplicates("new_id", "corpus_id"))
    // stash the band scan's file index BEFORE persisting — the
    // CacheManager swaps the physical plan for an InMemoryTableScan,
    // but the index OBJECT (where lastPrune lands at execution) is
    // shared with the cache-fill plan
    val bandIdx = candsPlan.toSeq.flatMap(df =>
      df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.relation.location
      }.collect { case g: graft.ops.GraftFileIndex => g })
    // materialize the pairs DISTRIBUTED — localCheckpoint, NOT a
    // persist: a persisted plan registers in the CacheManager under
    // its ANALYZED shape, and a later probe of the same batch against
    // the (mutated) index would silently reuse the stale pairs; the
    // checkpointed RDD has no plan identity to collide on
    val cands = candsPlan.map(_.localCheckpoint())
    val nCands = cands.map(_.count()).getOrElse(0L)
    val bandPr = bandIdx.flatMap(_.lastPrune)
    val bandPrune = (bandPr.map(_._1).sum, bandPr.map(_._2).sum)
    // candidate-doc count: ONE distributed aggregate (never a collect
    // of the ids themselves), then the regime split documented above
    val nDistinct = cands.map(_.agg(countDistinct(col("corpus_id")))
      .head().getLong(0)).getOrElse(0L)
    require(nDistinct <= maxCandidateDocs,
      s"MinHashStore.probeBatch: over $maxCandidateDocs distinct corpus candidates " +
        "for one probe batch — a hot LSH bucket (boilerplate/stop-gram shingles?) " +
        "is colliding the batch with a huge corpus slice. Split the batch, raise " +
        "maxCandidateDocs explicitly, or clean the dominant shingles; refusing to " +
        "fetch an unbounded candidate set")
    var shinglePrune = (0L, 0L)
    val pairs =
      if (nCands == 0L)
        Seq.empty[(Long, Long, Double)].toDF("new_id", "corpus_id", "jaccard")
      else {
        val corpusSh = (if (nDistinct <= maxInListDocs) {
          // small regime: bounded id IN-list — bloom dir-pruning +
          // row-group pushdown
          val cids = cands.get.select(col("corpus_id")).distinct()
            .collect().map(_.getLong(0)).toSeq
          ManifestTable.read(spark, shinglesPath(root))
            .where(col("doc_id").isInCollection(cids)) // dir-pruned fetch
        } else {
          // large regime: ids stay distributed; prune to the candidate
          // id-hash PARTITIONS (<= nBuckets values) and let the
          // candidate join below do the row filtering
          val hitPbs = cands.get
            .select(pmod(col("corpus_id"), lit(nBuckets.toLong)).cast("string")
              .as("__pb")).distinct()
            .collect().map(_.getString(0)).toSeq // bounded: <= nBuckets
          ManifestTable.read(spark, shinglesPath(root))
            .where(col("pb").isInCollection(hitPbs))
        }).select(col("doc_id").as("corpus_id"), col("sh").as("__shb"))
        // batch shingles broadcast (the small side by contract); the
        // corpus-shingle join shuffles only the candidate slice
        val raw = cands.get
          .join(broadcast(sh.select(col("__id").as("new_id"), col("__sh").as("__sha"))),
            Seq("new_id"))
          .join(corpusSh, Seq("corpus_id"))
          .withColumn("jaccard", Dedup.jaccard(col("__sha"), col("__shb")))
          .filter(col("jaccard") >= threshold)
          .select(col("new_id"), col("corpus_id"), col("jaccard"))
        val mat = raw.localCheckpoint() // executes the shingle scan:
        // evidence is readable and the result no longer references sh
        shinglePrune = pruneOf(raw)
        mat
      }
    cands.foreach(graft.ops.Intermediates.release)
    graft.ops.Intermediates.release(banded)
    graft.ops.Intermediates.release(sh)
    ProbeResult(pairs, keys.size.toLong, nCands, bandPrune, shinglePrune)
  }

  /** An [[eraseKeys]] result: rows removed from each table and the
    * bloom-pruning evidence of both deletes ((probed, total) dirs). */
  final case class EraseResult(bandRowsErased: Long, shingleRowsErased: Long,
                               bandDirsProbed: Long, bandDirsTotal: Long,
                               shingleDirsProbed: Long, shingleDirsTotal: Long,
                               dirsRewritten: Long)

  /** ERASE documents FROM THE INDEX — the Art.-17 path for the store
    * itself: an indexed doc's shingle set and band rows are literal
    * content n-grams (personal data in their own right), and as long
    * as they persist, [[probeBatch]] keeps flagging new docs as dups
    * of a DELETED corpus doc — silently suppressing them from the
    * curated table. Erasing from the BASE table alone is therefore
    * not erasure; this removes the docs' band rows and shingle rows
    * in ONE atomic two-table transaction (a crash between the deletes
    * would leave candidates that verify against missing shingles),
    * each via [[ManifestTable.deleteByKeysMoR]]: bloom-pruned to the
    * dirs that might hold the subjects, DV sidecars, ZERO dirs
    * rewritten. Layout params ride forward automatically (MoR commits
    * carry the previous version's props verbatim). After this, a
    * re-probe of the erased doc's exact text reports NO dup — the
    * band rows are gone, so it never becomes a candidate.
    *
    * SCOPE OF THE DEFAULT: that is LOGICAL erasure — the shingle and
    * band bytes remain physically present in the data dirs (masked by
    * the sidecars) and in retained prior manifest versions until a
    * rewrite folds the DVs in and retention expires (the same caveat
    * Delta documents for deletion vectors + VACUUM). `physical =
    * true` completes removal immediately: after the atomic logical
    * commit, [[ManifestTable.purgeDeletes]] rewrites exactly the
    * DV'd dirs of both tables and expires their prior versions to 1.
    * The purge runs OUTSIDE the two-table transaction — it changes
    * no visible rows (the txn already erased them atomically), and
    * it is idempotent, so a crash between the purges is repaired by
    * re-running `eraseKeys(physical = true)` (the deletes find
    * nothing; the purges finish). Costs: the DV'd dirs rewrite, and
    * time travel past this commit is gone. */
  def eraseKeys(spark: SparkSession, base: String, docIds: Seq[Long],
                retainVersions: Int = 2,
                physical: Boolean = false): EraseResult = {
    require(docIds.nonEmpty, "MinHashStore.eraseKeys: empty doc id list")
    val root = resolvedBase(spark, base) // current generation's tables
    val keys = docIds.map(_.toString)
    val r = txn(spark, root) {
      val b = ManifestTable.deleteByKeysMoR(spark, bandsPath(root), "pb",
        "doc_id", keys, retainVersions = retainVersions)
      val s = ManifestTable.deleteByKeysMoR(spark, shinglesPath(root), "pb",
        "doc_id", keys, retainVersions = retainVersions)
      EraseResult(b.op.rowsDeleted, s.op.rowsDeleted,
        b.dirsProbed, b.dirsTotal, s.dirsProbed, s.dirsTotal,
        b.op.dirsRewritten + s.op.dirsRewritten)
    }
    if (physical) {
      ManifestTable.purgeDeletes(spark, bandsPath(root),
        statsColumns = Seq("bucket"), bloomColumns = Seq("bucket", "doc_id"))
      ManifestTable.purgeDeletes(spark, shinglesPath(root),
        statsColumns = Seq("doc_id"), bloomColumns = Seq("doc_id"))
    }
    r
  }

  /** An [[appendBatch]] result: rows landed in each table and the
    * band partitions the merge touched. */
  final case class AppendResult(bandRows: Long, docRows: Long,
                                bandDirsTouched: Set[String])

  /** Index `newDocs` into the committed tables (after [[probeBatch]]
    * decided what survives): one atomic two-table commit touching
    * only the hit `pmod` partitions; LWW-keyed, so a re-delivered
    * batch is idempotent. */
  def appendBatch(spark: SparkSession, base: String, newDocs: DataFrame,
                  bloomBits: Int = 1 << 16,
                  textCol: String = "text", idCol: String = "doc_id"): AppendResult = {
    val root = resolvedBase(spark, base) // current generation's tables
    val (numBands, r, shingleN, nBuckets) = params(spark, root)
    // the layout params must survive this commit (props are
    // per-commit for non-durable keys) — re-state them
    val props = Map(BandsProp -> numBands.toString, RProp -> r.toString,
      ShingleNProp -> shingleN.toString, BucketsProp -> nBuckets.toString)
    val sh = graft.ops.Intermediates.shared(
      Dedup.shingled(newDocs, shingleN, textCol, idCol))
    val bands = bandRows(sh, numBands, r, nBuckets).localCheckpoint()
    val docs = shingleRows(sh, nBuckets).localCheckpoint()
    def dirs(df: DataFrame) = df.select(col("pb")).distinct()
      .collect().map(_.getString(0)).toSet // bounded <= nBuckets
    val bandDirs = dirs(bands)
    commitTables(spark, root, bands, docs, props, bloomBits, Some((bandDirs, dirs(docs))))
    val out = AppendResult(bands.count(), docs.count(), bandDirs)
    Seq(bands, docs).foreach(graft.ops.Intermediates.release) // `sh` is swept
    out
  }

  /** BLUE/GREEN REBAND — the dedup index's retrain analog
    * ([[IvfStore.retrainCommit]]'s contract): band parameters are
    * fixed at build time, so tightening the near-dup threshold
    * (numBands/r), the shingle width, or the bucket layout means a
    * FULL re-index — which must not take probeBatch down or serve a
    * half-built index: the next generation [[buildCommit]]s whole,
    * then one flip ([[graft.ops.GenStore]]'s rebuild). Returns the new
    * generation number. */
  def rebandCommit(spark: SparkSession, base: String, corpus: DataFrame,
                   numBands: Int = 16, r: Int = 4, shingleN: Int = 3,
                   nBuckets: Int = 16, bloomBits: Int = 1 << 16,
                   textCol: String = "text", idCol: String = "doc_id",
                   keepGenerations: Int = 2,
                   vacuumOrphans: Boolean = false,
                   orphanHorizonMs: Long = GenPointer.OrphanHorizonMs): Long =
    rebuild(spark, base, keepGenerations, vacuumOrphans, orphanHorizonMs)(
      buildCommit(spark, _, corpus, numBands, r, shingleN, nBuckets, bloomBits,
        textCol, idCol))
}
