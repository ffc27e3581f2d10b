package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{GenPointer, ManifestTable}

/** PERSISTED PQ codebooks + codes — [[IvfStore]]'s trainCommit/
  * appendBatch pattern applied to [[Pq]], closing the "PQ trains per
  * session" gap: at 100 TB the codebook is a model artifact that
  * outlives any job, and re-encoding a new document batch must NOT
  * retrain (retraining re-quantizes the whole corpus — every code
  * becomes stale) nor re-scan the existing corpus.
  *
  * Layout under `base/`:
  *   - `codebooks/` — (sub_id, code_id, codeword), partitioned by
  *     sub_id, keyed (sub_id is stable per code_id across commits);
  *     commit properties carry m, k and the trained corpus size (the
  *     drift denominator).
  *   - `codes/` — (idCol, codes: array<int>, __part), the compressed
  *     corpus, partitioned by a small id-hash bucket (`__part =
  *     pmod(hash(id), Parts)`) and keyed by idCol — a new batch
  *     upserts (LWW, so re-delivery is idempotent) touching only the
  *     buckets its ids hash into.
  *
  * Retrain is BLUE/GREEN ([[retrainCommit]], [[graft.ops.GenStore]]):
  * new codebooks invalidate every committed code. Stale codebooks
  * quantize a geometry the corpus has drifted from ([[needsRetrain]]).
  * Erasure ([[eraseKeys]]) removes codes, not codebooks: a PQ code is
  * a lossy but still subject-derived encoding of the erased embedding
  * — leaving it lets [[searchCommitted]] keep shortlisting a deleted
  * doc.
  */
object PqStore extends TrainedStore("codebooks", "codes", "__part",
    "pq.trained_rows") {

  val MProp = "pq.m"
  val KProp = "pq.k"

  /** Id-hash buckets of the codes table — the partition count, not a
    * correctness knob; at real scale this is sized so one bucket is a
    * few hundred MB. */
  val Parts = 8

  def codebooksPath(base: String): String = modelPath(base)
  def codesPath(base: String): String = dataPath(base)

  private def withPart(df: DataFrame, idCol: String): DataFrame =
    df.withColumn("__part", pmod(hash(col(idCol)), lit(Parts)).cast("string"))

  /** Train m×k codebooks on `corpus`, encode it, commit both tables
    * ATOMICALLY ([[TrainedStore]]'s train commit — codes without their
    * codebooks are undecodable). */
  def trainCommit(spark: SparkSession, base: String, corpus: DataFrame,
                  m: Int = 8, k: Int = 16, iters: Int = 3,
                  idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    commitTrained(spark, base, corpus, idCol, Seq("sub_id", "code_id"),
      Map(MProp -> m.toString, KProp -> k.toString)) {
      val books = Pq.train(corpus, m, k, iters, idCol, vecCol)
      (books, withPart(Pq.encode(corpus, books, m, idCol, vecCol), idCol))
    }

  /** Evidence an [[appendBatch]] returns: rows encoded (== the batch;
    * the existing corpus is never re-scanned, the codebooks never
    * retrain) and which id-hash buckets the merge rewrote. */
  final case class AppendResult(rowsEncoded: Long, partsTouched: Set[String])

  /** Encode a NEW batch against the COMMITTED codebooks (the encode
    * plan's only inputs are the batch and the broadcast m·k codebook)
    * and merge it into the codes table ([[TrainedStore]]'s batch
    * merge). */
  def appendBatch(spark: SparkSession, base: String, batch: DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding"): AppendResult = {
    val root = resolvedBase(spark, base) // current generation's tables
    val props = ManifestTable.readProps(spark, codebooksPath(root))
    val m = props.getOrElse(MProp, sys.error(
      s"PqStore.appendBatch: no $MProp property under $base — " +
        "not a PqStore-committed codebook")).toInt
    val books = ManifestTable.read(spark, codebooksPath(root))
    val (n, parts) = mergeBatch(spark, root,
      withPart(Pq.encode(batch, books, m, idCol, vecCol), idCol), idCol)
    AppendResult(n, parts)
  }

  /** [[Pq.search]] (ADC shortlist + exact re-rank) over the committed
    * tables. `corpus` supplies the original vectors for the re-rank —
    * it lives wherever the data lives; only codes/codebooks persist
    * here. */
  def searchCommitted(spark: SparkSession, base: String, corpus: DataFrame,
                      queries: DataFrame, k: Int, shortlist: Int = 50,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val root = resolvedBase(spark, base) // resolved once, at plan time
    Pq.search(ManifestTable.read(spark, codesPath(root)).drop("__part"),
      ManifestTable.read(spark, codebooksPath(root)),
      corpus, queries, k, shortlist, idCol, vecCol)
  }

  /** FILTERED ANN ON THE PQ PATH — [[IvfStore.searchFilteredCommitted]]'s
    * contract for the memory-bounded store: non-surviving codes drop
    * BEFORE the ADC table lookup, so they can never starve the
    * shortlist, and since ADC scans every kept code the result equals
    * [[Pq.search]] over the kept codes outright. `corpus` supplies the
    * original vectors for the exact re-rank, as in [[searchCommitted]]. */
  def searchFilteredCommitted(spark: SparkSession, base: String, corpus: DataFrame,
                              queries: DataFrame, k: Int, keep: DataFrame,
                              keepCol: String = "vec_id", shortlist: Int = 50,
                              idCol: String = "vec_id", vecCol: String = "embedding",
                              maxKeepKeys: Int = 100000): IvfStore.FilteredSearch =
    searchKept(spark, base, keep, keepCol, idCol, maxKeepKeys) { (root, kept) =>
      Pq.search(kept.drop("__part"), ManifestTable.read(spark, codebooksPath(root)),
        corpus, queries, k, shortlist, idCol, vecCol)
    }

  /** BLUE/GREEN RETRAIN — [[IvfStore.retrainCommit]]'s contract for
    * the PQ pair. Returns the new generation number. */
  def retrainCommit(spark: SparkSession, base: String, corpus: DataFrame,
                    m: Int = 8, k: Int = 16, iters: Int = 3,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    keepGenerations: Int = 2,
                    vacuumOrphans: Boolean = false,
                    orphanHorizonMs: Long = GenPointer.OrphanHorizonMs): Long =
    rebuild(spark, base, keepGenerations, vacuumOrphans, orphanHorizonMs)(
      trainCommit(spark, _, corpus, m, k, iters, idCol, vecCol))
}
