package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry of materialize-once intermediates, with an
  * explicit per-query sweep — the storage-hygiene layer under the
  * self-join/recompute fixes.
  *
  * The problem it solves: a frame that feeds two consumers of ONE
  * query plan (both sides of a self-join; a tf frame read by its df
  * aggregate and the join) must be materialized once, but the
  * materialization must not outlive the query. The round-4..6 form —
  * `localCheckpoint(eager = false)` — materializes once but frees its
  * blocks only when the ContextCleaner GCs the frame, so a long
  * driver session (Verify/Bench evaluate 78 queries × several passes)
  * accumulates hundreds of orphaned checkpoint RDDs and the storage
  * pool starts evicting the caches that ARE still live (the round-6
  * driver-only q56/q66 bench blowups).
  *
  * [[shared]] persists (MEMORY_AND_DISK) instead of checkpointing and
  * registers the frame under the owning session; the harness calls
  * [[sweep]] after each query's terminal action. Persist (unlike a
  * checkpoint, whose lineage is truncated at materialization) keeps
  * the plan recomputable, so a sweep can never strand a plan some
  * longer-lived consumer still references — e.g. an [[ResultCache]]
  * entry whose cached blocks are later evicted recomputes straight
  * through the swept intermediate, merely slower.
  *
  * [[release]] is the companion for ITERATIVE loops (Ivf/Pq k-means,
  * Dedup.connectedComponents), where eager `localCheckpoint()` is the
  * right tool (the plan must be truncated or iteration N chains
  * 1..N-1 as sub-plans) and iteration N's blocks are provably dead
  * the moment iteration N+1 has materialized: it frees a checkpointed
  * frame's RDD blocks directly. Callers must guarantee the frame is
  * never read again — a released checkpoint cannot be recomputed.
  */
object Intermediates {

  /** Per session: the release action of each registered frame. */
  private val registry = mutable.Map.empty[String, mutable.Buffer[() => Unit]]

  /** One warning per session when the unswept count crosses this —
    * persist pins blocks in the CacheManager (unlike the checkpoints
    * it replaced, which the ContextCleaner freed on unreachability),
    * so a caller that never sweeps accumulates storage until session
    * end. The harness sweeps per query and never comes near this. */
  private val WarnUnswept = 256

  /** Persist `df` (MEMORY_AND_DISK) and register it for the owning
    * session's next [[sweep]]. Returns `df` itself — drop-in where a
    * `localCheckpoint(eager = false)` used to sit.
    *
    * OWNERSHIP: registration pins the blocks until a sweep (or
    * session stop) — embedding callers MUST call [[sweep]] at their
    * request boundaries; dropping every reference does NOT free the
    * storage the way it did for the ContextCleaner-managed
    * checkpoints. */
  def shared(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    register(df)(() => df.unpersist(blocking = false))
  }

  /** Register an eagerly-checkpointed frame a function RETURNS (an
    * iterative loop's final iterate) for [[release]] at the owning
    * session's next [[sweep]] — which runs after the consumer's
    * action, never before. `Dataset.unpersist` cannot reach such a
    * frame, so without this its blocks outlive the query. */
  def releaseOnSweep(df: DataFrame): DataFrame = register(df)(() => release(df))

  private def register(df: DataFrame)(free: () => Unit): DataFrame = {
    val key = ResultCache.sessionKey(df.sparkSession)
    val unswept = registry.synchronized {
      val owned = registry.getOrElseUpdate(key, mutable.Buffer.empty)
      owned += free
      owned.size
    }
    if (unswept == WarnUnswept)
      System.err.println(s"[graft] Intermediates: $unswept unswept intermediates " +
        s"for session $key — call Intermediates.sweep(spark) at request " +
        "boundaries or executor storage will accumulate until session end")
    df
  }

  /** Unpersist (or [[release]], for a checkpoint) every intermediate
    * registered for `spark` since the last sweep; returns how many
    * were released. Harness calls this after each query's terminal
    * action (Bench.runOnce, Verify's per-query write). Long-lived
    * services embedding the library should call it at their own
    * request boundaries. */
  def sweep(spark: SparkSession): Int = {
    val key = ResultCache.sessionKey(spark)
    val owned = registry.synchronized(registry.remove(key))
      .getOrElse(mutable.Buffer.empty)
    owned.foreach(_())
    owned.size
  }

  /** Free the blocks of an eagerly-checkpointed loop iterate that
    * will never be read again. `Dataset.unpersist` can't reach them
    * (a local checkpoint persists the internal RDD directly, not via
    * the CacheManager), so this unpersists the `LogicalRDD`'s RDD.
    * No-op for any other plan shape (e.g. the loop's un-checkpointed
    * seed frame), so loops can call it unconditionally on `prev`. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      lr.rdd.unpersist(blocking = false)
    case _ => ()
  }
}
