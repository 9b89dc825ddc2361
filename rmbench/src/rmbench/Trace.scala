package rmbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One call the benchmark made into a layer. Times are epoch
  * milliseconds with sub-millisecond resolution, the clock Spark's
  * listener events use.
  *
  * @param sink the call executes a plan to its end (a noop write, a
  *             collect, `RM.eval`); jobs inside other spans are the
  *             eager construction work of a call that returns a frame
  */
final class Span(val id: Int, val parent: Int, val op: Int,
    val layer: String, val name: String, val sink: Boolean,
    val start: Double) {
  var end: Double = Double.NaN
  def wall: Double = end - start
}

/** Spans around the benchmark's calls. Disabled, `span` is a plain
  * call. Enabled, every span is also the Spark job group of the jobs
  * it starts, so [[Recorder]] can attribute jobs, stages and tasks to
  * it. Spans stay in memory until [[Report]] writes them at the end.
  */
final class Tracer(spark: SparkSession) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  var enabled = false
  var op: Int = -1
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  /** (op, counter) -> value, recorded whether or not spans are on. */
  val counters = mutable.LinkedHashMap[(Int, String), Double]()

  def count(key: String, v: Double): Unit =
    counters((op, key)) = counters.getOrElse((op, key), 0.0) + v

  def span[A](layer: String, name: String, sink: Boolean = false)(
      f: => A): A =
    if (!enabled) f
    else {
      val sc = spark.sparkContext
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), op,
        layer, name, sink, nowMs)
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, s"rmbench:$layer:$name")
      try f
      finally {
        s.end = nowMs
        stack = stack.tail
        stack.headOption match {
          case Some(p) =>
            sc.setJobGroup(p.id.toString, s"rmbench:${p.layer}:${p.name}")
          case None => sc.clearJobGroup()
        }
      }
    }
}

/** Spark's own hooks, keyed by span: a SparkListener for jobs, stages,
  * tasks and block updates, and a QueryExecutionListener for Catalyst
  * phase times (QueryPlanningTracker) and the final executed plan.
  * All callbacks arrive on the listener bus thread.
  */
final class Recorder extends SparkListener with QueryExecutionListener {

  final class Job(val id: Int, val group: Int, val start: Long) {
    var end: Long = start
    var stages = 0
    var tasks = 0L
  }

  final class Tasks {
    var n = 0L
    var empty = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var waitMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var result = 0L
    var maxStageTasks = 0
    var stages = 0
  }

  final case class Phase(name: String, start: Long, end: Long)
  final case class Query(phases: Seq[Phase], exchanges: Int, joins: Int,
      aggregates: Int)

  val jobs = mutable.LinkedHashMap[Int, Job]()
  /** Task and stage totals per job group (span id). */
  val byGroup = mutable.HashMap[Int, Tasks]()
  private val stageGroup = mutable.HashMap[Int, (Int, Long)]()
  private val stageJob = mutable.HashMap[Int, Job]()
  val queries = mutable.ArrayBuffer[Query]()
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  private val held = mutable.HashMap[String, Long]()
  private var heldBytes = 0L
  var peakBytes = 0L
  var blocksPut = 0L

  private def groupOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .flatMap(_.toIntOption).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, groupOf(e.properties), e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val info = e.stageInfo
      val g = groupOf(e.properties)
      stageGroup(info.stageId) =
        (g, info.submissionTime.getOrElse(System.currentTimeMillis()))
      val t = byGroup.getOrElseUpdate(g, new Tasks)
      t.stages += 1
      t.maxStageTasks = math.max(t.maxStageTasks, info.numTasks)
      stageJob.get(info.stageId).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (g, submitted) = stageGroup.getOrElse(e.stageId, (-1, 0L))
    val t = byGroup.getOrElseUpdate(g, new Tasks)
    stageJob.get(e.stageId).foreach(_.tasks += 1)
    t.n += 1
    if (submitted > 0) t.waitMs += math.max(0L,
      e.taskInfo.launchTime - submitted)
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.diskBytesSpilled
      t.result += m.resultSize
      val read = m.inputMetrics.recordsRead +
        m.shuffleReadMetrics.recordsRead
      val wrote = m.shuffleWriteMetrics.recordsWritten +
        m.outputMetrics.recordsWritten
      if (read == 0 && wrote == 0) t.empty += 1
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        val size =
          if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val prev = held.getOrElse(key, 0L)
        if (size > 0 && prev == 0) blocksPut += 1
        if (size > 0) held(key) = size else held.remove(key)
        heldBytes += size - prev
        peakBytes = math.max(peakBytes, heldBytes)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    // one Dataset's actions share a QueryExecution: count its phases once
    if (seen.add(qe.tracker)) {
      val phases = qe.tracker.phases.toSeq.collect {
        case (n, p) if Recorder.PhaseNames.contains(n) =>
          Phase(n, p.startTimeMs, p.endTimeMs)
      }
      val nodes = Recorder.planNodes(qe.executedPlan)
      queries += Query(phases,
        nodes.count {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
          case _ => false
        },
        nodes.count(_.isInstanceOf[BaseJoinExec]),
        nodes.count(_.isInstanceOf[BaseAggregateExec]))
    }
  }
}

object Recorder {
  val PhaseNames = Set("analysis", "optimization", "planning")

  /** Every node of the executed plan: the final adaptive plan, query
    * stages' inner plans and subqueries; a reused exchange counts once.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other =>
      other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
