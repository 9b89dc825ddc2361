package rmbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor

/** JVM-global Catalyst rule and codegen counters. */
final case class Counters(ruleRuns: Long, ruleEffective: Long,
    compiles: Long, compileNs: Long) {
  def +(o: Counters): Counters = Counters(ruleRuns + o.ruleRuns,
    ruleEffective + o.ruleEffective, compiles + o.compiles,
    compileNs + o.compileNs)
  def -(o: Counters): Counters = Counters(ruleRuns - o.ruleRuns,
    ruleEffective - o.ruleEffective, compiles - o.compiles,
    compileNs - o.compileNs)
}

object Counters {
  val Zero: Counters = Counters(0, 0, 0, 0)

  def read(): Counters = {
    val m = RuleExecutor.getCurrentMetrics()
    Counters(m.numRuns, m.numEffectiveRuns,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)
  }

  /** Mean size of the classes codegen has generated in this JVM. */
  def meanClassBytes: Double =
    CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getSnapshot.getMean
}

/** Per-layer metrics of a traced run, each a total per op. */
object Report {

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Iterable[(Double, Double)], lo: Double,
      hi: Double): Double = {
    val clipped = iv.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((a, b) <- clipped) {
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = a
        curE = b
      } else curE = math.max(curE, b)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  def layers(tr: Tracer, rec: Recorder,
      counters: Counters): Map[String, Double] = {
    val spans = tr.spans.toIndexedSeq
    val roots = spans.filter(_.parent < 0)
    val nOps = math.max(roots.size, 1).toDouble
    val children = spans.groupBy(_.parent)
    val jobsBySpan = rec.jobs.values.filter(_.group >= 0).groupBy(_.group)
    def jobIv(s: Span) = jobsBySpan.getOrElse(s.id, Nil)
      .map(j => (j.start.toDouble, j.end.toDouble))
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)

    // each Catalyst phase belongs to the innermost span covering its
    // start; a phase outside every span (a check, the warm-up) is dropped
    val sortedByStart = spans.sortBy(_.start)
    def innermost(t: Double): Option[Span] =
      sortedByStart.takeWhile(_.start <= t).filter(_.end >= t)
        .lastOption
    val phases = rec.queries.flatMap(q => q.phases.map(p => (p, q)))
      .flatMap { case (p, q) => innermost(p.start.toDouble)
        .map(s => (s, p, q)) }
    val phasesBySpan = phases.groupBy(_._1.id)

    def selfMs(s: Span): Double = s.wall - covered(
      children.getOrElse(s.id, Nil).map(c => (c.start, c.end)) ++
        jobIv(s) ++
        phasesBySpan.getOrElse(s.id, Nil)
          .map { case (_, p, _) => (p.start.toDouble, p.end.toDouble) },
      s.start, s.end)
    def layerSelf(layer: String): Double =
      spans.filter(_.layer == layer).map(selfMs).sum
    def wallOf(layer: String, names: String*): Double =
      spans.filter(s => s.layer == layer &&
        (names.isEmpty || names.contains(s.name))).map(_.wall).sum

    val langBuild = spans.filter(s => s.layer == "lang" && s.name != "parse")
    val compileMs = langBuild.map(s => s.wall -
      covered(subtree(s).flatMap(jobIv), s.start, s.end)).sum

    val constructSpans = spans.filter(s => !s.sink && s.parent >= 0)
    val constructJobs = constructSpans.flatMap(s =>
      jobsBySpan.getOrElse(s.id, Nil))
    val constructMs = constructSpans.map(s =>
      covered(jobIv(s), s.start, s.end)).sum
    val opMs = roots.map(_.wall).sum

    val groups = spans.flatMap(s => rec.byGroup.get(s.id))
    def gsum(f: rec.Tasks => Long): Double = groups.map(f).sum.toDouble
    val tasks = gsum(_.n)
    val traced = spans.map(_.id).toSet
    val opJobs = rec.jobs.values.count(j => traced.contains(j.group))

    val shredWrites = spans.filter(s =>
      s.layer == "shred" && s.name == "shredWrite")
    val compiles = counters.compiles.toDouble
    def counter(k: String): Double =
      tr.counters.collect { case ((op, key), v) if key == k && op >= 0 => v }
        .sum
    val mb = 1024.0 * 1024.0

    val plan = phases.map(_._3).distinct
    def phaseS(name: String): Double = phases.collect {
      case (_, p, _) if p.name == name => (p.end - p.start).toDouble
    }.sum / 1000.0

    val perRun = Map(
      "catalyst.rule_effective_ratio" ->
        (if (counters.ruleRuns == 0) 0.0
         else counters.ruleEffective.toDouble / counters.ruleRuns),
      "exec.max_stage_tasks" ->
        groups.map(_.maxStageTasks).foldLeft(0)(math.max).toDouble,
      "exec.empty_task_frac" ->
        (if (tasks == 0) 0.0 else gsum(_.empty) / tasks),
      "construct.share" -> (if (opMs == 0) 0.0 else constructMs / opMs),
      "cache.peak_mb" -> rec.peakBytes / mb)

    val totals = Map(
      "lang.parse_s" -> wallOf("lang", "parse") / 1000.0,
      "lang.compile_s" -> compileMs / 1000.0,
      "lang.programs" -> counter("lang.programs"),
      "lang.self_s" -> layerSelf("lang") / 1000.0,
      "construct.s" -> constructMs / 1000.0,
      "construct.jobs" -> constructJobs.size.toDouble,
      "construct.tasks" -> constructJobs.map(_.tasks).sum.toDouble,
      "catalyst.analysis_s" -> phaseS("analysis"),
      "catalyst.optimization_s" -> phaseS("optimization"),
      "catalyst.planning_s" -> phaseS("planning"),
      "catalyst.rule_calls" -> counters.ruleRuns.toDouble,
      "catalyst.plan_exchanges" -> plan.map(_.exchanges).sum.toDouble,
      "catalyst.plan_joins" -> plan.map(_.joins).sum.toDouble,
      "catalyst.plan_aggregates" -> plan.map(_.aggregates).sum.toDouble,
      "codegen.compiles" -> compiles,
      "codegen.compile_s" -> counters.compileNs / 1e9,
      // the histogram keeps a decaying sample, not a sum: estimate the
      // bytes as compiles times the mean class size seen by the run
      "codegen.bytecode_kb" -> compiles * Counters.meanClassBytes / 1024.0,
      "exec.jobs" -> opJobs.toDouble,
      "exec.stages" -> gsum(_.stages),
      "exec.tasks" -> tasks,
      "exec.task_s" -> gsum(_.runMs) / 1000.0,
      "exec.task_cpu_s" -> gsum(_.cpuNs) / 1e9,
      "exec.gc_s" -> gsum(_.gcMs) / 1000.0,
      "exec.task_wait_s" -> gsum(_.waitMs) / 1000.0,
      "exec.shuffle_write_mb" -> gsum(_.shuffleWrite) / mb,
      "exec.shuffle_read_mb" -> gsum(_.shuffleRead) / mb,
      "exec.spill_mb" -> gsum(_.spill) / mb,
      "exec.result_mb" -> gsum(_.result) / mb,
      "exec.sink_self_s" -> layerSelf("exec") / 1000.0,
      "cache.blocks_put" -> rec.blocksPut.toDouble,
      "cache.release_s" -> wallOf("cache") / 1000.0,
      "cache.leaked_rdds" -> counter("cache.leaked_rdds"),
      "sources.read_s" -> wallOf("sources") / 1000.0,
      "sources.rows" -> counter("sources.rows"),
      "sources.self_s" -> layerSelf("sources") / 1000.0,
      "shred.write_s" -> wallOf("shred", "shredWrite") / 1000.0,
      "shred.write_jobs" -> shredWrites.map(s =>
        jobsBySpan.getOrElse(s.id, Nil).size).sum.toDouble,
      "shred.audit_s" -> wallOf("shred", "auditPersisted") / 1000.0,
      "shred.triples" -> counter("shred.triples"),
      // a per-op ratio: its total over ops / ops is the mean ratio
      "shred.bytes_per_input_byte" -> counter("shred.bytes_per_input_byte"),
      "shred.self_s" -> layerSelf("shred") / 1000.0,
      "pipeline.dup_pairs_s" -> wallOf("pipeline", "dup_pairs") / 1000.0,
      "pipeline.dup_groups_s" -> wallOf("pipeline", "dup_groups") / 1000.0,
      "pipeline.label_prop_s" -> wallOf("pipeline", "label_prop") / 1000.0,
      "pipeline.pagerank_s" -> wallOf("pipeline", "pagerank") / 1000.0,
      "pipeline.self_s" -> layerSelf("pipeline") / 1000.0)

    perRun ++ totals.map { case (k, v) => k -> v / nOps }
  }

  /** The trace file: every span and job of the traced ops. */
  def traceJson(tr: Tracer, rec: Recorder): String = {
    val spans = tr.spans.map(s => Json.obj("id" -> s.id,
      "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
      "name" -> s.name, "sink" -> s.sink, "start_ms" -> s.start,
      "end_ms" -> s.end))
    val jobs = rec.jobs.values.filter(_.group >= 0).map(j => Json.obj(
      "job" -> j.id, "span" -> j.group, "start_ms" -> j.start,
      "end_ms" -> j.end, "stages" -> j.stages, "tasks" -> j.tasks))
    s"""{"spans": [${spans.mkString(",\n")}],\n"jobs": [${jobs.mkString(",\n")}]}"""
  }
}
