package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** BLUE/GREEN GENERATION POINTER for the persisted index stores
  * ([[graft.ext.IvfStore]], [[graft.ext.PqStore]],
  * [[graft.ext.CentroidStore]], [[graft.ext.MinHashStore]]), whose
  * one shared lifecycle over it is [[GenStore]].
  *
  * A drift-triggered retrain must not rebuild in place: a live
  * `searchCommitted` would either see a half-built index or lose the
  * index for the duration of training. Instead the store builds the
  * NEW generation side-by-side under `base/gen-NNNNNN/` while every
  * reader keeps resolving the current one, then flips this pointer in
  * ONE compare-and-swap — the same per-filesystem commit primitive
  * manifest versions use ([[ManifestTable.casManifest]]: HDFS rename
  * semantics, or an atomic hard link on local `file://`), so exactly
  * one of two racing retrains wins and a reader NEVER resolves a
  * half-flipped state.
  *
  * Layout: `base/_gen/g<%012d>` marker files; the current generation
  * is the highest marker, and generation 0 (no marker at all) is the
  * legacy flat layout (tables directly under `base/`) — existing
  * tables keep working untouched. Generation data lives under
  * `base/gen-<%06d>/`.
  *
  * Crash analysis: a retrain that dies BEFORE its flip leaves an
  * orphaned gen dir and no pointer change — readers are unaffected
  * and the next retrain numbers PAST the orphan ([[next]] scans dirs
  * as well as markers), so it can never collide with a rival build in
  * progress. A retrain that dies AFTER its flip is simply complete
  * (retention of old generations just hasn't run). */
object GenPointer {

  private def ptrDir(base: String) = s"$base/_gen"

  /** The generation data root: gen 0 = the legacy flat layout. */
  def root(base: String, gen: Long): String =
    if (gen == 0L) base else f"$base/gen-$gen%06d"

  def fsOf(spark: SparkSession, base: String): FileSystem =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The entries of `dir` named `prefix` + exactly `digits` digits,
    * with their numbers. */
  private def numbered(fs: FileSystem, dir: Path, prefix: String,
                       digits: Int): Seq[(Long, FileStatus)] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      val num = n.drop(prefix.length)
      if (n.startsWith(prefix) && num.length == digits && num.forall(_.isDigit))
        Some((num.toLong, st))
      else None
    }

  private def markers(fs: FileSystem, base: String): Seq[Long] =
    numbered(fs, new Path(ptrDir(base)), "g", 12).map(_._1).sorted

  /** The CURRENT generation: highest flipped marker; 0 = legacy. */
  def current(fs: FileSystem, base: String): Long =
    markers(fs, base).lastOption.getOrElse(0L)

  /** `root` of the current generation — what every reader resolves. */
  def resolved(spark: SparkSession, base: String): String =
    root(base, current(fsOf(spark, base), base))

  /** Every `gen-NNNNNN` entry under `base`, flipped or not. */
  private def genDirs(fs: FileSystem, base: String): Seq[(Long, FileStatus)] =
    numbered(fs, new Path(base), "gen-", 6)

  /** The next build number: past every flipped marker AND every
    * existing gen dir (a crashed or rival in-flight build keeps its
    * dir; numbering past it means builds never collide). */
  def next(fs: FileSystem, base: String): Long =
    (markers(fs, base) ++ genDirs(fs, base).map(_._1) :+ 0L).max + 1

  /** CAS-flip the pointer to `gen`. Exactly one of two racing flips
    * to the same number wins; the loser gets an error (its built
    * generation dir survives for inspection). Refuses to flip
    * backwards — a stale retrain must not roll the pointer back. */
  def flip(fs: FileSystem, base: String, gen: Long): Unit = {
    val cur = current(fs, base)
    require(gen > cur,
      s"GenPointer.flip: generation $gen is not past the current $cur")
    val dest = new Path(f"${ptrDir(base)}/g$gen%012d")
    fs.mkdirs(dest.getParent)
    val tmp = new Path(f"${ptrDir(base)}/g$gen%012d-${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(gen.toString.getBytes("UTF-8")) finally out.close()
    if (!ManifestTable.casManifest(fs, dest, tmp)) {
      fs.delete(tmp, false)
      sys.error(s"GenPointer.flip: generation $gen was already flipped by a rival")
    }
  }

  /** RETENTION: delete the data of flipped generations older than the
    * `keep` most recent (markers stay — the pointer history is the
    * audit trail; a deleted generation's marker resolves nothing and
    * [[current]] never returns it because newer markers exist). The
    * legacy generation 0 owns `legacyDirs` table subdirs directly
    * under `base/`, so those are what a retired gen 0 deletes. Never
    * touches un-flipped (in-flight or crashed) builds ABOVE the
    * current pointer. Returns the retired generation numbers.
    *
    * CONCURRENT-READER ORDERING (the [[graft.ops.ManifestTable]]
    * `retainVersions` contract transplanted): a reader RESOLVES its
    * generation once at plan time ([[resolved]]) and then reads that
    * root for the rest of its query. Retention never deletes the
    * CURRENT generation (`keep >= 1`), so the exposure window is a
    * reader that resolved BEFORE a flip and is still scanning when a
    * retire lands AFTER it — exactly the window a version expiry has
    * for a pinned old version. `keep = 2` (the retrain default:
    * current + previous) covers every reader that planned while the
    * previous generation was still current; pass a larger `keep` for
    * longer-running readers, the same dial `retainVersions` gives
    * time travel. */
  def retire(fs: FileSystem, base: String, keep: Int,
             legacyDirs: Seq[String]): Seq[Long] = {
    require(keep >= 1, s"GenPointer.retire: keep must be >= 1, got $keep")
    val flipped = markers(fs, base)
    // gen 0 exists iff any legacy table dir does
    val zero = legacyDirs.exists(d => fs.exists(new Path(s"$base/$d")))
    val all = (if (zero) Seq(0L) else Nil) ++ flipped
    // report only generations whose DATA was actually present — a
    // marker outlives its deleted dir (audit trail), so a second
    // retire must be an idempotent no-op, not a re-report
    val drop = all.dropRight(keep).filter { g =>
      if (g == 0L) zero else fs.exists(new Path(root(base, g)))
    }
    drop.foreach { g =>
      if (g == 0L) legacyDirs.foreach { d =>
        val p = new Path(s"$base/$d")
        if (fs.exists(p)) fs.delete(p, true)
      }
      else fs.delete(new Path(root(base, g)), true)
    }
    drop
  }

  /** [[vacuum]]'s default orphan horizon (24 h). */
  val OrphanHorizonMs: Long = 24L * 3600 * 1000

  /** What a [[vacuum]] removed: flipped generations retired past the
    * `keep` horizon, and un-flipped orphan builds deleted. */
  final case class VacuumResult(retired: Seq[Long], orphansDeleted: Seq[Long])

  /** Touch `gen-N/_heartbeat` — the liveness signal [[vacuum]]'s
    * orphan horizon reads as a FILE mtime. Directory mtimes are a
    * posix/HDFS notion: object stores (S3A and friends) synthesize
    * them and need not bump a parent when a file lands inside, so a
    * slow in-flight build whose only visible activity was directory
    * churn could look idle to [[newestMs]] and be vacuumed before its
    * flip. A build calls this at start ([[GenStore]]'s rebuild
    * does) and may call it again between long phases; after the first
    * manifest commit the manifest files themselves (`<table>/manifest/
    * m*`, within the walk depth) carry file-mtime liveness. Overwrite,
    * not append — one tiny file per build, object-store friendly. */
  def heartbeat(fs: FileSystem, base: String, gen: Long): Unit = {
    val p = new Path(s"${root(base, gen)}/_heartbeat")
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(System.currentTimeMillis().toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** The newest modification time under `dir`, walked to a bounded
    * depth — enough to see a live build's activity as FILE mtimes:
    * the [[heartbeat]] file at the root, and manifest commits at
    * `<table>/manifest/m*` (3 levels) once the build starts landing
    * tables. Directory mtimes are consulted too but are a bonus, not
    * the contract — object stores synthesize them (see [[heartbeat]]).
    * Bounded: an index store is a handful of dirs, never the 100 TB
    * corpus. A path that VANISHES mid-walk (a rival build's task
    * commit renaming files out of `_temporary`) is itself proof of
    * live activity — it reports `now`, so the horizon protects the
    * build instead of the janitor crashing on the very dir it was
    * designed to spare. */
  private def newestMs(fs: FileSystem, dir: Path, depth: Int): Long =
    try {
      val self = fs.getFileStatus(dir).getModificationTime
      if (depth <= 0) self
      else (self +: fs.listStatus(dir).toSeq.map { st =>
        if (st.isDirectory) newestMs(fs, st.getPath, depth - 1)
        else st.getModificationTime
      }).max
    } catch {
      case _: java.io.FileNotFoundException => System.currentTimeMillis()
    }

  /** GC for the blue/green layout — [[retire]] plus the ORPHAN sweep
    * retire cannot do. Two orphan classes, adjudicated differently:
    *
    *   - An un-flipped gen dir BELOW (or at) the current pointer is
    *     DEAD WITH CERTAINTY: [[flip]] refuses non-forward flips, so
    *     no future commit can ever make it live — it is either a
    *     crashed build that a later retrain numbered past, or a
    *     racing build that already lost its CAS. Deleted
    *     unconditionally (a loser still writing just fails its own
    *     build job sooner; no reader ever resolved it).
    *   - An un-flipped dir ABOVE the current pointer may be a RIVAL
    *     BUILD IN FLIGHT that is about to win its flip — deleting it
    *     mid-write would fail a healthy retrain. It is deleted only
    *     when its newest modification time (bounded-depth walk) is
    *     older than `orphanHorizonMs` — no healthy build goes that
    *     long without landing a file. The default horizon (24 h)
    *     dwarfs any real training run; pass `Long.MaxValue` to
    *     protect in-flight builds unconditionally.
    *
    * Without this sweep, every crashed or CAS-losing retrain leaves
    * its full index footprint on disk forever — the one unbounded
    * growth path the flip protocol itself cannot close (the crashed
    * process is gone; only a later janitor can know it never won). */
  def vacuum(fs: FileSystem, base: String, keep: Int,
             legacyDirs: Seq[String],
             orphanHorizonMs: Long = OrphanHorizonMs): VacuumResult = {
    val retired = retire(fs, base, keep, legacyDirs)
    val cur = current(fs, base)
    val flipped = markers(fs, base).toSet
    val now = System.currentTimeMillis()
    val orphans = genDirs(fs, base)
      .collect { case (g, st) if st.isDirectory && !flipped(g) => // un-flipped only
        (g, st.getPath) }
      .filter { case (g, p) =>
        g <= cur || now - newestMs(fs, p, depth = 3) >= orphanHorizonMs
      }
    orphans.foreach { case (_, p) => fs.delete(p, true) }
    VacuumResult(retired, orphans.map(_._1).sorted)
  }
}

/** THE GENERATION LIFECYCLE of a blue/green index store, written once
  * for the four stores that extend it. `tables` are the store's table
  * dirs; with the transaction log `_txn` they are everything one
  * generation owns, and what a retired generation 0 deletes from the
  * legacy flat layout. Every read and maintain entry point resolves
  * the current generation first ([[resolvedBase]]); only the
  * train/build path writes a root verbatim ([[requireUnflipped]]). */
abstract class GenStore(tables: String*) {

  private val ownedDirs = tables :+ "_txn"

  /** The store's name, for error messages. */
  protected val name: String = getClass.getSimpleName.stripSuffix("$")

  /** The generation the readers/maintainers currently resolve —
    * 0 until the first rebuild flip. */
  def currentGeneration(spark: SparkSession, base: String): Long =
    GenPointer.current(GenPointer.fsOf(spark, base), base)

  /** Resolve `base` through the blue/green pointer: the root whose
    * tables are CURRENT. A reader resolves once, at plan time: a
    * search planned before a concurrent flip serves the old
    * generation to completion. */
  def resolvedBase(spark: SparkSession, base: String): String =
    GenPointer.resolved(spark, base)

  /** Run `body` as ONE [[ManifestTxn]] over `root`'s transaction log:
    * the store's tables commit together or not at all. Do not call
    * inside an outer transaction. */
  protected def txn[T](spark: SparkSession, root: String)(body: => T): T =
    ManifestTxn.run(spark, s"$root/_txn")(body)

  /** The train/build path is generation-BLIND: it writes the given
    * root verbatim ([[rebuild]] hands it a new generation dir). On a
    * flipped base that root is the retired legacy layout no reader
    * resolves, so the commit would be silently lost — refuse it. */
  protected def requireUnflipped(spark: SparkSession, base: String,
                                 op: String): Unit = {
    val g = currentGeneration(spark, base)
    require(g == 0L, s"$name.$op: $base has flipped to generation $g — a " +
      "direct commit would land in the retired legacy layout no reader " +
      "resolves; rebuild through the store's blue/green retrain instead")
  }

  /** BLUE/GREEN REBUILD — the answer a drift verdict (or a layout
    * change) calls for, without taking the index down: `build` writes
    * a FULL index into the next generation's root side-by-side
    * (readers keep resolving the current one through every second of
    * training), then ONE [[GenPointer.flip]] CAS cuts all of them
    * over. `keepGenerations` retires older generations' data AFTER the
    * flip ([[GenPointer.retire]]: the default 2 lets searches planned
    * just before the flip finish against intact tables).
    * `vacuumOrphans = true` also runs the [[vacuumGenerations]] orphan
    * sweep right here — the janitor runs where the garbage is created
    * (a crashed or CAS-losing rival's dir), instead of relying on
    * operator discipline; a rival IN FLIGHT above the new pointer
    * stays protected by the `orphanHorizonMs` horizon. The build drops
    * its own [[GenPointer.heartbeat]] before training starts, so a
    * symmetric rival's vacuum can never mistake THIS build for an idle
    * orphan either. Returns the new generation number. */
  protected def rebuild(spark: SparkSession, base: String, keepGenerations: Int,
                        vacuumOrphans: Boolean, orphanHorizonMs: Long)
                       (build: String => Unit): Long = {
    val fs = GenPointer.fsOf(spark, base)
    val next = GenPointer.next(fs, base)
    GenPointer.heartbeat(fs, base, next)
    build(GenPointer.root(base, next))
    GenPointer.flip(fs, base, next)
    if (vacuumOrphans)
      GenPointer.vacuum(fs, base, keepGenerations, ownedDirs, orphanHorizonMs)
    else GenPointer.retire(fs, base, keepGenerations, ownedDirs)
    next
  }

  /** GENERATION GC — [[GenPointer.vacuum]] over this store's dirs:
    * flipped generations beyond `keep` retire, and the orphan builds
    * [[rebuild]]'s in-line retire never touches are swept (orphan
    * adjudication, in-flight horizon and reader ordering: see there). */
  def vacuumGenerations(spark: SparkSession, base: String, keep: Int = 2,
                        orphanHorizonMs: Long = GenPointer.OrphanHorizonMs)
      : GenPointer.VacuumResult =
    GenPointer.vacuum(GenPointer.fsOf(spark, base), base, keep, ownedDirs,
      orphanHorizonMs)
}
