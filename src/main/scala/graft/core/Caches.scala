package graft.core

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-wide registry of every frame an operator persists for
  * self-join / multi-consumer reuse.
  *
  * Operators persist a staged frame when the SAME plan consumes it two
  * or more times (LSH bucket self-joins, curation prefix reuse, deep
  * express templates). The returned gate plan consumes that cache
  * lazily, so the operator itself has no post-action hook at which it
  * could unpersist — and a persist that nobody releases accumulates
  * for the JVM lifetime: in a 70-query bench run, blocks pinned by
  * early `p_*` queries degrade every query that runs after them (GC
  * pressure + eviction churn), and on a long-lived 100 TB cluster
  * session it is an operational memory leak.
  *
  * The contract: operators stage through [[stage]] instead of calling
  * `persist` directly; the HARNESS (Bench, Verify, a REPL user, a
  * spec) calls [[releaseAll]] once it is done with the frames a query
  * returned. After `releaseAll`, `sc.getPersistentRDDs` is empty —
  * CacheLifecycleSpec pins that for representative heavy gates.
  *
  * `releaseAll` also sweeps blocks this registry never saw: SQL
  * cache-manager entries and `localCheckpoint` block sets (the CC
  * loop's lineage barriers), which otherwise wait for the
  * ContextCleaner's GC-driven reaping. NOTE: unpersisting a
  * localCheckpoint invalidates plans that still reference it (lineage
  * is truncated — the blocks are the only copy), so `releaseAll` is a
  * between-queries operation: call it when frames returned by earlier
  * queries are abandoned, not while one is still in use.
  *
  * A staged frame is sized by its data: graft sessions let AQE
  * coalesce a cached plan's final shuffle ([[graft.Sessions.
  * StagedCoalesce]]), so a frame whose plan ends in a small shuffle is
  * cached in a few partitions, not in 8 × slots. A frame that must
  * keep a hash layout for later joins is repartitioned by number,
  * `repartition(layoutPartitions(spark), key)`, which AQE leaves as is.
  */
object Caches {

  /** Partition count of a staged frame pinned to a hash layout:
    * `spark.sql.shuffle.partitions`. A join whose other side needs a
    * shuffle reuses the cached side's layout only when its partition
    * count is at least this (Spark's `EnsureRequirements`), so a
    * smaller count re-shuffles the cached side every round, and a
    * larger one runs that many tasks per round. Read through
    * `defaultNumShufflePartitions`: under AQE `numShufflePartitions`
    * returns `coalescePartitions.initialPartitionNum` (8 × slots in
    * graft sessions), and a layout of that size runs that many tasks
    * in every per-round join.
    */
  def layoutPartitions(spark: SparkSession): Int =
    spark.sessionState.conf.defaultNumShufflePartitions

  private val live =
    new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Persist `ds` (spillable by default) and register it for the next
    * [[releaseAll]]. Returns the persisted dataset.
    */
  def stage[T](ds: Dataset[T],
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    val p = ds.persist(level)
    live.add(p)
    p
  }

  /** Unpersist every staged frame (non-blocking). Safe to call twice;
    * safe if an operator already unpersisted its frame explicitly.
    */
  def release(): Unit = {
    var d = live.poll()
    while (d != null) {
      try d.unpersist(blocking = false)
      catch { case _: Throwable => () }
      d = live.poll()
    }
  }

  /** Release staged frames, the SQL cache manager, and any remaining
    * persisted RDDs (localCheckpoint blocks included). Postcondition:
    * `spark.sparkContext.getPersistentRDDs` is empty.
    */
  def releaseAll(spark: SparkSession): Unit = {
    release()
    try spark.sharedState.cacheManager.clearCache()
    catch { case _: Throwable => () }
    spark.sparkContext.getPersistentRDDs.values.foreach { r =>
      try r.unpersist(blocking = false)
      catch { case _: Throwable => () }
    }
  }
}
