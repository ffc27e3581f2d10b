package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.ops.ManifestTable

/** The view registry [[LatestRegistry]], [[MvRegistry]] and
  * [[MvJoinRegistry]] share, held ONCE. Each registry keeps only its
  * def type, its prop codec and its `register` checks.
  *
  * IN MEMORY, defs are keyed by the qualified `owner` path (the base
  * table; for a join view the fact) plus the qualified `scope` path
  * (the join's dim; none for single-base views), in registration
  * order; re-registering a view path replaces its def in place. They
  * win over the durable catalog, INCLUDING the EMPTY SHADOW an
  * [[unregister]] leaves: a session that unregisters a durably
  * cataloged base really does disable its rewrites locally instead of
  * silently falling through to the manifest catalog.
  *
  * DURABLY, a def is a `<prefix>NNNN` prop on the owner's manifest:
  * zero-padded slot allocation with in-place reuse (the prop-key sort
  * IS the registration try order), the per-(owner, version) decode
  * memo, a TTL'd latest-version probe for the planner path, and
  * corrupt-prop tolerance (an undecodable value is skipped on lookup
  * and swept on remove — never a planner crash). A fresh session's
  * lookup misses in memory and rediscovers the rewrite here with no
  * re-registration.
  *
  * PROBE SEMANTICS: [[lookup]] runs inside the optimizer for every
  * candidate plan shape, so the latest-version listing is cached for
  * [[ProbeTtlMs]]. [[persist]]/[[remove]] invalidate the cache, so a
  * session always reads its own catalog writes immediately; a catalog
  * commit from a FOREIGN process is discovered within the TTL — and a
  * stale probe only delays a rewrite (the query falls back to the
  * scan, correct by construction), never serves stale data (freshness
  * is adjudicated downstream against pinned view versions). */
private[plans] final class DurableDefCatalog[D](
    prefix: String,
    encode: D => String,
    decode: (String, String) => Option[D],
    owner: D => String,
    viewOf: D => String,
    scope: D => Option[String] = (_: D) => None) {

  private val ProbeTtlMs = 10000L
  private val defs =
    new java.util.concurrent.ConcurrentHashMap[(String, Option[String]), Vector[D]]
  private val versionProbe =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Option[Long])]
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Vector[D]]

  /** Test instrument: successful rewrites. */
  private[graft] val rewrites = new java.util.concurrent.atomic.AtomicInteger

  private def qualify(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  private def scopeQ(spark: SparkSession, d: D): Option[String] =
    scope(d).map(qualify(spark, _))

  /** Declare `d`; `durable` also commits it onto the owner's manifest
    * with `retainVersions` as that commit's retention horizon (pass the
    * table's own setting, exactly as for addConstraint — the catalog
    * write must not silently shorten a 10-version table's history). */
  def register(spark: SparkSession, d: D, durable: Boolean, retainVersions: Int): Unit = {
    val ownerQ = qualify(spark, owner(d))
    defs.compute((ownerQ, scopeQ(spark, d)), (_, old) =>
      Option(old).getOrElse(Vector.empty).filterNot(viewOf(_) == viewOf(d)) :+ d)
    if (durable) persist(spark, owner(d), ownerQ, d, retainVersions)
  }

  /** Drop every def for (`ownerPath`, `scopePath`): in memory an empty
    * shadow; `durable` also removes those catalog props for good
    * (other scopes' entries stay; corrupt ones sweep). */
  def unregister(spark: SparkSession, ownerPath: String, scopePath: Option[String],
                 durable: Boolean, retainVersions: Int): Unit = {
    val ownerQ = qualify(spark, ownerPath)
    val sq = scopePath.map(qualify(spark, _))
    defs.put((ownerQ, sq), Vector.empty)
    if (durable)
      remove(spark, ownerPath, ownerQ, d => scopeQ(spark, d) == sq, retainVersions)
  }

  /** In-memory defs win (including the empty shadow); a true miss
    * falls through to the owner manifest's catalog, filtered to the
    * scope actually read. */
  def lookup(spark: SparkSession, ownerRoot: Path,
             scopeRoot: Option[Path] = None): Seq[D] = {
    val ownerQ = qualify(spark, ownerRoot.toString)
    val sq = scopeRoot.map(r => qualify(spark, r.toString))
    Option(defs.get((ownerQ, sq))).getOrElse(
      durableLookup(spark, ownerRoot.toString, ownerQ).filter(scopeQ(spark, _) == sq))
  }

  /** Test hook: a fresh-session simulation — the in-memory registry
    * (shadows included) empties, so every subsequent lookup exercises
    * the durable path. */
  def clearInMemory(): Unit = defs.clear()

  private def ownerProps(spark: SparkSession, owner: String): Map[String, String] =
    try ManifestTable.readProps(spark, owner).filter(_._1.startsWith(prefix))
    catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Commit `d` into its slot on `owner`'s manifest (reusing the slot
    * of an existing def for the same view, so the try order is stable
    * across re-registration). */
  private def persist(spark: SparkSession, owner: String, ownerQ: String, d: D,
                      retainVersions: Int): Unit = {
    val existing = ownerProps(spark, owner)
    val slot = existing.collectFirst {
      case (k, v) if decode(owner, v).exists(viewOf(_) == viewOf(d)) => k
    }.getOrElse {
      val used = existing.keys.flatMap(_.stripPrefix(prefix).toIntOption)
      f"$prefix${if (used.isEmpty) 0 else used.max + 1}%04d"
    }
    ManifestTable.updateMvDefProps(spark, owner,
      adds = Map(slot -> encode(d)), removeKeys = _ == slot,
      retainVersions = retainVersions)
    versionProbe.remove(ownerQ) // read-your-writes for this session
  }

  /** Remove every def on `owner` matching `matches`; an UNDECODABLE
    * prop also drops (remove is the corrupt-entry janitor). */
  private def remove(spark: SparkSession, owner: String, ownerQ: String,
                     matches: D => Boolean, retainVersions: Int): Unit = {
    val drop = ownerProps(spark, owner).collect {
      case (k, v) if decode(owner, v).forall(matches) => k
    }.toSet
    ManifestTable.updateMvDefProps(spark, owner,
      adds = Map.empty, removeKeys = drop, retainVersions = retainVersions)
    versionProbe.remove(ownerQ)
  }

  /** The committed defs at `owner`'s latest version, prop-key order.
    * Only SUCCESSFUL reads are memoized: a transient readPropsAt
    * failure returns empty for THIS call but is retried on the next
    * lookup — caching it would silently disable every durable rewrite
    * for the (owner, version) until the version bumps, a long-lived
    * perf regression on a stable table. */
  private def durableLookup(spark: SparkSession, owner: String,
                            ownerQ: String): Vector[D] =
    latestVersion(spark, owner, ownerQ) match {
      case None => Vector.empty
      case Some(v) =>
        val k = (ownerQ, v)
        val cached = memo.get(k)
        if (cached != null) cached
        else {
          val read =
            try Some(ManifestTable.readPropsAt(spark, owner, v).toVector
              .filter(_._1.startsWith(prefix)).sortBy(_._1)
              .flatMap { case (_, value) => decode(owner, value) })
            catch { case scala.util.control.NonFatal(_) => None }
          read match {
            case Some(defs) =>
              if (memo.size > 512) memo.clear()
              memo.put(k, defs)
              defs
            case None => Vector.empty
          }
        }
    }

  private def latestVersion(spark: SparkSession, owner: String,
                            ownerQ: String): Option[Long] = {
    val now = System.currentTimeMillis()
    val cached = versionProbe.get(ownerQ)
    if (cached != null && now - cached._1 < ProbeTtlMs) cached._2
    else {
      val v =
        try ManifestTable.versions(new Path(owner).getFileSystem(
          spark.sparkContext.hadoopConfiguration), owner).lastOption
        catch { case scala.util.control.NonFatal(_) => None }
      if (versionProbe.size > 1024) versionProbe.clear()
      versionProbe.put(ownerQ, (now, v))
      v
    }
  }
}

private[plans] object DurableDefCatalog {
  def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  /** Field `i` of a '|'-joined prop value as a ','-joined identifier
    * list; an absent or empty field is Nil. */
  def cols(parts: Array[String], i: Int): Seq[String] =
    if (i >= parts.length || parts(i).isEmpty) Nil else parts(i).split(',').toSeq
}
