package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.graftglue.ColumnGlue

/** Staged frames are sized by their data, and the iterative operators'
  * edge layouts by `spark.sql.shuffle.partitions`: with AQE starting
  * shuffles at 32 partitions and 4 shuffle partitions, no stage of
  * `Dedup.dupGroups` or `LinkGraph.labelProp` runs more than 4 tasks
  * (`LinkGraph.pagerank`: 5), and under sort-merge join no per-round
  * join re-shuffles the staged edge frame (the r17 layout).
  */
class StagedLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (5L, 6L), (10L, 11L), (12L, 13L), (13L, 14L))

  /** The three operators on small inputs, each with its staged edge
    * frame's columns and the most tasks a stage of it may run: the 4
    * shuffle partitions, plus one for pagerank, whose round unions the
    * contribution join, laid out in the edge frame's 4 partitions,
    * with the zero row of every node, which AQE coalesces to 1
    * partition here; the union's stage runs the tasks of both.
    * Results are collected, so every round runs.
    */
  private def runs: Seq[(String, Set[String], Int, () => DataFrame)] = Seq(
    ("dupGroups", Set("id1", "id2"), 4, () => Dedup.dupGroups(
      spark.range(0, 16).toDF("id"), "id", pairs.toDF("id1", "id2"))),
    ("labelProp", Set("a", "b"), 4, () =>
      LinkGraph.labelProp(pairs.toDF("id1", "id2"), 2)),
    ("pagerank", Set("src", "dst", "w", "out_w"), 5, () => LinkGraph.pagerank(
      pairs.map { case (s, d) => (s, d, s % 3 + 1) }.toDF("src", "dst", "w"),
      3)))

  /** Runs `body` with the given SQL confs set, then restores them. */
  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val wide = Seq(
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "32",
    "spark.sql.shuffle.partitions" -> "4")

  /** The task count of every stage `body` runs, and the physical plan
    * of every query it executes.
    */
  private def observe(body: => Unit): (Seq[Int], Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    val label = s"staged-layout-${java.util.UUID.randomUUID()}"
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val stages = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (Option(s.properties).exists(p =>
            p.getProperty("spark.job.description") == label))
          ours.add(s.stageInfo.stageId)
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (ours.contains(s.stageInfo.stageId))
          tasks.add(s.stageInfo.numTasks)
    }
    val queries = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    ColumnGlue.drainListeners(sc)
    sc.addSparkListener(stages)
    spark.listenerManager.register(queries)
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body
    finally {
      sc.setJobDescription(outer)
      ColumnGlue.drainListeners(sc)
      spark.listenerManager.unregister(queries)
      sc.removeSparkListener(stages)
      graft.core.Caches.releaseAll(spark)
    }
    import scala.jdk.CollectionConverters._
    (tasks.asScala.toSeq, plans.asScala.toSeq)
  }

  /** The plans under `p`, through AQE's wrappers and query stages,
    * reused exchanges and the cached plans of staged frames.
    */
  private def below(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
    case o => o.children
  }

  private def joins(p: SparkPlan): Seq[BaseJoinExec] = (p match {
    case j: BaseJoinExec => Seq(j)
    case _ => Seq.empty
  }) ++ below(p).flatMap(joins)

  /** For each path from `p` down to a scan of the staged frame with
    * columns `edges` that meets no other join: the shuffles on it.
    */
  private def shufflesToEdges(p: SparkPlan, edges: Set[String]): Seq[Int] =
    p match {
      case s: InMemoryTableScanExec if s.output.map(_.name).toSet == edges =>
        Seq(0)
      case _: BaseJoinExec => Seq.empty
      case e: ShuffleExchangeExec =>
        below(e).flatMap(shufflesToEdges(_, edges)).map(_ + 1)
      case o => below(o).flatMap(shufflesToEdges(_, edges))
    }

  test("no stage of the iterative operators runs more tasks than shuffle partitions") {
    withConfs(wide: _*) {
      runs.foreach { case (name, _, maxTasks, op) =>
        val (tasks, _) = observe(op().collect())
        assert(tasks.nonEmpty, name)
        assert(tasks.max <= maxTasks,
          s"$name ran a stage of ${tasks.max} tasks " +
          s"(stages: ${tasks.mkString(",")})")
      }
    }
  }

  test("under sort-merge join no per-round join re-shuffles the staged edges") {
    withConfs(wide :+ ("spark.sql.autoBroadcastJoinThreshold" -> "-1"): _*) {
      runs.foreach { case (name, edges, maxTasks, op) =>
        val (tasks, plans) = observe(op().collect())
        assert(tasks.max <= maxTasks,
          s"$name ran a stage of ${tasks.max} tasks")
        val paths = plans.flatMap(joins).distinct
          .flatMap(_.children.flatMap(shufflesToEdges(_, edges)))
        assert(paths.nonEmpty, s"$name: no join reads the staged edges")
        assert(paths.forall(_ == 0),
          s"$name: a join re-shuffles the staged edges")
      }
    }
  }

  test("dupGroups' components are unchanged by the wide start") {
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 12L, 13L -> 12L, 14L -> 12L)
    val got = withConfs(wide :+ ("spark.sql.autoBroadcastJoinThreshold" -> "-1"): _*) {
      try runs.head._4().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally graft.core.Caches.releaseAll(spark)
    }
    assert(got == (0L until 16L).map(i => i -> expect.getOrElse(i, i)).toMap)
  }
}
