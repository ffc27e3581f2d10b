package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{CentroidStore, IvfStore, MinHashStore, PqStore}
import graft.ops.{GenPointer, GenStore, ManifestTable}

/** The blue/green generation lifecycle every index store shares
  * (GenStore), driven through each of the four stores' own entry
  * points: a rebuild flips to generation 1, maintenance lands there
  * and never in the legacy flat layout, the drift check reads it,
  * vacuum retires every legacy dir, and a direct train on a flipped
  * base is refused.
  */
class GenStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Two tight 4-d blobs around 0 and 10; float embeddings. */
  private def blobs(ids: Range): DataFrame =
    ids.map { i =>
      val c = if (i % 2 == 0) 0.0f else 10.0f
      (i.toLong, Array(c + 0.001f * i, c, c - 0.001f * i, c))
    }.toDF("vec_id", "embedding")

  private def docs(ids: Range): DataFrame =
    ids.map { i =>
      (i.toLong, (0 until 30).map(j => s"w${(i * 31 + j * 7) % 997}").mkString(" "))
    }.toDF("doc_id", "text")

  /** One store under test. The gen-0 train covers ids 0 until 30 and
    * the rebuild ids 0 until 40, so the two generations differ in
    * size; `append` adds ids 40 until 44 and `erase` removes id 8.
    * `rows` counts the table the drift check measures (the shingles
    * table for MinHash). */
  private case class StoreCase(name: String, store: GenStore, legacyDirs: Seq[String],
                               train: String => Unit, rebuild: String => Long,
                               append: String => Unit, erase: String => Unit,
                               rows: String => Long,
                               drift: Option[String => IvfStore.DriftCheck])

  private def rowsOf(path: String): Long = ManifestTable.fastCount(spark, path).rows

  private val cases = Seq(
    StoreCase("IvfStore", IvfStore, Seq("centroids", "index", "_txn"),
      b => IvfStore.trainCommit(spark, b, blobs(0 until 30), k = 2),
      b => IvfStore.retrainCommit(spark, b, blobs(0 until 40), k = 2),
      b => IvfStore.appendBatch(spark, b, blobs(40 until 44)),
      b => IvfStore.eraseKeys(spark, b, Seq(8L)),
      r => rowsOf(IvfStore.indexPath(r)),
      Some(b => IvfStore.needsRetrain(spark, b))),
    StoreCase("PqStore", PqStore, Seq("codebooks", "codes", "_txn"),
      b => PqStore.trainCommit(spark, b, blobs(0 until 30), m = 4, k = 4),
      b => PqStore.retrainCommit(spark, b, blobs(0 until 40), m = 4, k = 4),
      b => PqStore.appendBatch(spark, b, blobs(40 until 44)),
      b => PqStore.eraseKeys(spark, b, Seq(8L)),
      r => rowsOf(PqStore.codesPath(r)),
      Some(b => PqStore.needsRetrain(spark, b))),
    StoreCase("CentroidStore", CentroidStore, Seq("centroids", "assignments", "_txn"),
      b => CentroidStore.trainCommit(spark, b, blobs(0 until 30), k = 2),
      b => CentroidStore.retrainCommit(spark, b, blobs(0 until 40), k = 2),
      b => CentroidStore.assignBatch(spark, b, blobs(40 until 44)),
      b => CentroidStore.eraseKeys(spark, b, Seq(8L)),
      r => rowsOf(CentroidStore.assignmentsPath(r)),
      Some(b => CentroidStore.needsRetrain(spark, b))),
    StoreCase("MinHashStore", MinHashStore, Seq("bands", "shingles", "_txn"),
      b => MinHashStore.buildCommit(spark, b, docs(0 until 30), numBands = 8, r = 2),
      b => MinHashStore.rebandCommit(spark, b, docs(0 until 40)),
      b => MinHashStore.appendBatch(spark, b, docs(40 until 44)),
      b => MinHashStore.eraseKeys(spark, b, Seq(8L)),
      r => rowsOf(MinHashStore.shinglesPath(r)),
      None))

  private def freshBase(c: StoreCase): String =
    java.nio.file.Files.createTempDirectory(s"graft_gen_${c.name}").toString + "/s"

  /** Every file under the legacy dirs, with its length and mtime. */
  private def legacyFiles(c: StoreCase, base: String): Set[(String, Long, Long)] = {
    val fs = GenPointer.fsOf(spark, base)
    c.legacyDirs.map(d => new Path(s"$base/$d")).filter(fs.exists).flatMap { p =>
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).toSet
    }.toSet
  }

  cases.foreach { c =>
    test(s"${c.name}: rebuild flips to gen 1, maintenance and drift resolve it, " +
      "vacuum(keep = 1) retires every legacy dir") {
      val base = freshBase(c)
      val fs = GenPointer.fsOf(spark, base)
      c.train(base)
      assert(c.store.currentGeneration(spark, base) == 0L)
      assert(c.rebuild(base) == 1L && c.store.currentGeneration(spark, base) == 1L)
      val g1 = GenPointer.root(base, 1L)
      assert(c.store.resolvedBase(spark, base) == g1)
      assert(c.rows(base) == 30L && c.rows(g1) == 40L)

      val legacy = legacyFiles(c, base)
      c.legacyDirs.foreach(d => assert(fs.exists(new Path(s"$base/$d")),
        s"gen 0 owns $d (the default retention keeps it)"))
      c.append(base)
      assert(c.rows(g1) == 44L, "the append must land under gen-000001")
      c.erase(base)
      assert(c.rows(g1) == 43L, "the erasure must land under gen-000001")
      assert(c.rows(base) == 30L)
      assert(legacyFiles(c, base) == legacy, "nothing may be written to the legacy dirs")

      c.drift.foreach { drift =>
        val dc = drift(base)
        assert(dc.trainedRows == 40L && dc.indexedRows == 43L,
          s"the drift check must read gen 1; got $dc")
      }

      val r = c.store.vacuumGenerations(spark, base, keep = 1)
      assert(r.retired == Seq(0L) && r.orphansDeleted.isEmpty, s"got $r")
      c.legacyDirs.foreach(d => assert(!fs.exists(new Path(s"$base/$d")),
        s"vacuum must delete the legacy $d"))
      assert(c.store.currentGeneration(spark, base) == 1L && c.rows(g1) == 43L,
        "vacuum must leave gen 1 intact")
    }
  }

  cases.foreach { c =>
    test(s"${c.name}: a direct train on a flipped base is refused and writes nothing") {
      val base = freshBase(c)
      val fs = GenPointer.fsOf(spark, base)
      assert(c.rebuild(base) == 1L)
      val e = intercept[IllegalArgumentException](c.train(base))
      assert(e.getMessage.contains(s"${c.name}.") &&
        e.getMessage.contains("flipped to generation 1"), e.getMessage)
      c.legacyDirs.foreach(d => assert(!fs.exists(new Path(s"$base/$d")),
        s"the refused train must not create $base/$d"))
      assert(c.rows(GenPointer.root(base, 1L)) == 40L)
    }
  }
}
