package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The one SparkSession construction path for every graft entry point
  * (Bench, Verify, the tools mains, specs via SparkSpec). Centralized
  * so the graft plan rules ([[installRules]]) are installed
  * EVERYWHERE: a session built without them explains and
  * profiles different plans than the benched/verified ones.
  */
object Sessions {

  /** Exact-IN parquet pushdown threshold, shared with every caller
    * that chunks id lists to stay under it (Indexes.
    * binaryTopKIndexedPoint) — one constant so lowering the session
    * threshold cannot silently degrade a chunk to an unpruned min/max
    * range filter. 1024 is measurement-backed in both directions
    * (see the .config scaladoc below) and leaves ~4× margin to the
    * ~4096-value StackOverflowError parquet-mr's nested Or tree hits
    * on a default 1 MB task stack — JVMs launched with a smaller
    * -Xss need a proportionally lower threshold.
    */
  val InFilterThreshold = 1024

  /** Local session with graft defaults: shuffle partitions = cores
    * (not Spark's 200 — local mode has `cores` slots), UTC, quiet
    * logs, plan rules installed.
    *
    * Shuffle partitioning is INPUT-SIZE-AWARE via AQE: shuffles start
    * at 8× the slot count and adaptive coalescing folds small ones
    * back to ~the advisory size, so a dimension-scale shuffle still
    * runs in `cores` tasks while a fact-scale one (600M-row keyed
    * fold at sf100) keeps enough partitions that per-task sorts fit
    * memory instead of spilling — the r13 q_rm_rbk attribution's
    * "spill-bound at 32 fixed partitions" profile (measured at sf100:
    * the 600M-row full-fact fold 438.6 s at 32 fixed partitions →
    * 168.7 s with this knob; the q1 scan control unchanged). Results
    * are
    * partitioning-independent by the repo's fold-order contracts
    * (DECIMAL sums, sort_array-pinned folds); the full oracle battery
    * re-verified after the change.
    */
  def local(cores: String =
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession =
    start(builder(cores)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cores.toInt * 8).toString)
      // Exact IN pushdown to parquet up to 1024 values: Spark's
      // default threshold (10) silently degrades a larger IN to a
      // min/max RANGE filter, which prunes nothing when the ids are
      // scattered — the id-keyed point-fetch shape (ANN shortlist
      // re-rank, media/winnow index probes) then re-reads the whole
      // corpus. Measured on a 20 GB id-clustered corpus, 1000
      // scattered ids: 55 s (range fallback, worse than the 12 s full
      // scan) → 5.7 s with exact IN (page/row-group stats pruning).
      // NOT higher: parquet-mr builds the IN as a recursively-nested
      // binary Or tree, and a ~4096-deep tree overflows a default
      // 1 MB task stack (StackOverflowError in the scan iterator —
      // hit by p_winnow_indexed's pushed fingerprint list at 4096).
      // Callers with bigger id lists chunk them (binaryTopKIndexed
      // Point) or pre-cap onto the semi-join path (winnow/media
      // probes' maxProbe* caps).
      .config("spark.sql.parquet.pushdown.inFilterThreshold",
        InFilterThreshold.toString))

  /** Generated classes Spark keeps per JVM (Spark's default is 100).
    * One curation pass (`Dedup.incrementalDupPairsMd5`, `dupGroups`,
    * `LinkGraph.labelProp`, `pagerank`) cycles through 137-145
    * distinct generated classes, and the next pass asks for the same
    * ones in the same order. An LRU cache smaller than a cyclic
    * working set evicts every class before its next use, so at 100
    * entries each pass recompiled all of them (141 compiles per pass
    * in a traced rmbench `curate_iterative` run); at 2000 a
    * steady-state pass compiles none, and the pass's median time fell
    * from 4.96 to 3.61 s (one task slot, 4 cores, 10 interleaved
    * pairs). A class holds about 2 KB of bytecode, so the full cache
    * stays under ~4 MB.
    */
  val CodegenCacheEntries = 2000

  /** The builder every graft session starts from: `local[cores]`, UTC,
    * no UI, the static SQL confs, and [[StagedCoalesce]]. A static conf
    * is read once per JVM: `CodeGenerator` sizes its class cache from
    * the active conf when it first initializes, so the cache size has
    * to be on the builder before the JVM's first query; setting it on
    * a running session is rejected, and a later session's value is
    * ignored.
    */
  private[graft] def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      .config(StagedCoalesce, "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Lets AQE coalesce the final shuffle of a cached plan, so a
    * [[graft.core.Caches.stage]] frame is sized by its data. Spark
    * plans every cached query with this off (its default), so a staged
    * frame whose plan ends in a shuffle kept all
    * `coalescePartitions.initialPartitionNum` (8 × slots) partitions,
    * and every join against it and every checkpoint cut from it
    * inherited that count. A traced rmbench `curate_iterative` pass
    * at one slot on a 4-core host ran 53 stages and 227 tasks, the
    * largest stage 16; with this conf and the pinned edge layouts
    * ([[graft.core.Caches.layoutPartitions]]) it runs 47 stages and 51
    * tasks, the largest 2, and the op's median over ten interleaved
    * untraced pairs fell from 3.97 to 2.47 s.
    *
    * The conf alone is not enough: an edge frame cached by
    * `repartition(col)` then coalesces too, its hash layout no longer
    * has the join's partition count, and under sort-merge join every
    * round re-shuffles it. The iterative operators therefore pin
    * their edge layouts to `spark.sql.shuffle.partitions` by number,
    * which AQE never coalesces. That count is read through
    * `defaultNumShufflePartitions`: under AQE `numShufflePartitions`
    * returns `initialPartitionNum`, and a pass whose layouts used it
    * still ran 212 tasks at one slot. A session configured only through
    * `spark.sql.extensions` ([[GraftExtensions]]) should set this conf
    * itself; it is a runtime conf, so `spark.conf.set` works.
    */
  val StagedCoalesce = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  /** Starts (or joins) the builder's session, quiets its logs and
    * installs [[rules]].
    */
  private[graft] def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    installRules(spark)
    spark
  }

  /** graft's plan rules: the one list every session runs, whether
    * built here, by the specs, or configured with [[GraftExtensions]].
    */
  val rules: Seq[Rule[LogicalPlan]] =
    Seq(graft.plans.SimplifyElementAtArray, graft.plans.UnshredEav)

  /** Install [[rules]] on a running session (experimental batch),
    * idempotently.
    */
  def installRules(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      cur ++ rules.filterNot(cur.contains)
  }
}
