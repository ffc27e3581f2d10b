package graft.plans

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ManifestTable

/** [[DurableDefCatalog]] failure-path contract: a TRANSIENT manifest
  * read failure must degrade one lookup (fall back to the scan —
  * correct by construction) and be RETRIED on the next, never
  * memoized — caching the failure as "no defs" would silently disable
  * every durable MV rewrite for that (base, version) until the
  * version bumps, a long-lived perf regression on a stable table. */
class DurableCatalogSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  test("a transient catalog read failure is not memoized — the next " +
    "lookup retries and re-arms the durable rewrite") {
    val d = java.nio.file.Files.createTempDirectory("graft_cat_retry").toString
    val base = s"$d/base"
    val rows = (1L to 30L).map(i => (i, s"d${i % 3}", s"t${i % 2}", i * 7L))
      .toDF("id", "day", "etype", "v")
    ManifestTable.merge(spark, base, rows, Seq("id"), "day")
    MvRegistry.register(spark, base, s"$d/view", Seq("etype"), Seq("v"),
      durable = true)
    MvRegistry.clearInMemory() // fresh-session simulation: durable path only
    val root = new Path(base)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = fs.listStatus(new Path(s"$base/_manifests"))
      .map(_.getPath.getName).filter(_.startsWith("m"))
      .map(_.drop(1).toLong).max
    val mfile = new Path(f"$base/_manifests/m$v%012d")
    val aside = new Path(f"$base/_manifests/m$v%012d.aside")
    // Simulate a transient failure that versions() cannot see: the
    // manifest FILE becomes a same-named DIRECTORY (open() throws;
    // the version listing still shows m<v>, as a flaky read would).
    assert(fs.rename(mfile, aside))
    assert(fs.mkdirs(mfile))
    try {
      assert(MvRegistry.catalog.lookup(spark, root).isEmpty,
        "the failing lookup itself degrades to no-defs (scan fallback)")
    } finally {
      fs.delete(mfile, true)
      assert(fs.rename(aside, mfile))
    }
    val retried = MvRegistry.catalog.lookup(spark, root)
    assert(retried.nonEmpty && retried.head.aggPath == s"$d/view",
      s"the failure must not be memoized for (base, version): $retried")
    MvRegistry.unregister(spark, base, durable = true)
  }
}
