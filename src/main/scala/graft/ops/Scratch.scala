package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** The owner of one operator call's scratch blocks: the local
  * checkpoints and cached tables an iterative operator makes on its way
  * to a result. The operator makes them through [[checkpoint]] and
  * [[persist]] inside [[Scratch.scope]], and the owner frees each one
  * once nothing live reads it.
  *
  * When the body returns, the blocks its result reads stay: they belong
  * to the result frame, as the blocks of any `localCheckpoint` result
  * do, and Spark's ContextCleaner drops them with it. Every other block
  * is freed. When the body throws, every block is freed. The owner lives
  * for one call and holds no JVM-global or per-thread state, so
  * operators running concurrently in one session never free each
  * other's blocks.
  */
private[graft] final class Scratch private () {
  private var checkpoints = Map.empty[Int, RDD[_]]
  // a cached table is known by its CacheManager entry's column-buffer builder
  private var cached = List.empty[(AnyRef, DataFrame)]

  /** `df.localCheckpoint(eager)`, owned by this scope. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val c = df.localCheckpoint(eager)
    checkpoints ++= Scratch.rdds(c).map(r => r.id -> r)
    c
  }

  /** `df.persist(level)` (a CacheManager entry), owned by this scope. */
  def persist(df: DataFrame, level: StorageLevel): DataFrame = {
    val p = df.persist(level)
    val entry = p.sparkSession.sharedState.cacheManager
      .lookupCachedData(p.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    cached = entry.map(e => (e.cachedRepresentation.cacheBuilder: AnyRef, p)).toList ::: cached
    p
  }

  /** Frees every owned block that no `live` frame reads. A frame reads a
    * checkpoint through a `LogicalRDD` leaf of its analyzed plan, and a
    * cached table through an `InMemoryRelation` of its cache-substituted
    * plan.
    *
    * The lazy-round rule: call `keep` only when every block the `live`
    * frames read is fully materialized, which is right after an action
    * that scanned every partition of them. A lazy checkpoint
    * (`eager = false`) is persisted partition by partition as an action
    * reads it; until then its partitions are computed from its parent
    * blocks, and those blocks are not recomputable. So a loop that
    * checkpoints each round lazily may free round r−1 only after the
    * action over round r, and a body whose last lazy round no action read
    * must force it (one `count()`) before the scope ends.
    */
  def keep(live: DataFrame*): Unit = {
    val read = live.flatMap(Scratch.rdds).map(_.id).toSet
    val (kept, dead) = checkpoints.partition { case (id, _) => read(id) }
    dead.values.foreach(_.unpersist(blocking = false))
    checkpoints = kept
    if (cached.nonEmpty) {
      val readCached = live.flatMap(_.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r.cacheBuilder: AnyRef
      })
      val (keptCached, deadCached) = cached.partition { case (b, _) => readCached.exists(_ eq b) }
      deadCached.foreach(_._2.unpersist(blocking = false))
      cached = keptCached
    }
  }
}

private[graft] object Scratch {

  /** Runs `body` with a new owner. When the body returns `r`, the owner
    * keeps the blocks the frames `live(r)` read ([[Scratch.keep]]) and
    * frees the rest; when the body throws, it frees every block.
    */
  def scope[T](body: Scratch => T)(live: T => Seq[DataFrame]): T = {
    val s = new Scratch
    var result: Seq[DataFrame] = Nil
    try {
      val r = body(s)
      result = live(r)
      r
    } finally s.keep(result: _*)
  }

  /** Frees the checkpoint blocks `frames` read: every `LogicalRDD` leaf of
    * their analyzed plans. Checkpoint blocks are persisted at the RDD
    * layer, not through the CacheManager, so `Dataset.unpersist` cannot
    * reach them. Only for frames nothing will read again: locally
    * checkpointed blocks are not recomputable.
    */
  def release(frames: DataFrame*): Unit =
    frames.flatMap(rdds).foreach(_.unpersist(blocking = false))

  private def rdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
}
