package rmbench

/** Every metric the harness prints, by name and unit. BENCHMARK.json
  * lists the same names; SelfTest fails when the two drift apart.
  */
object Metrics {

  /** Printed by an untraced run (`--trace 0`). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "ops_per_s" -> "1/s",
    "op_p50_s" -> "s",
    "op_tail_s" -> "s")

  /** Printed by a traced run (`--trace 1`); each is a total per op
    * unless its name says otherwise (`cache.peak_mb`,
    * `exec.max_stage_tasks` and the `trace.*` medians are per run).
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "lang.parse_s" -> "s",
    "lang.compile_s" -> "s",
    "lang.programs" -> "count",
    "lang.self_s" -> "s",
    "construct.s" -> "s",
    "construct.jobs" -> "count",
    "construct.tasks" -> "count",
    "construct.share" -> "ratio",
    "catalyst.analysis_s" -> "s",
    "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "catalyst.rule_calls" -> "count",
    "catalyst.rule_effective_ratio" -> "ratio",
    "catalyst.plan_exchanges" -> "count",
    "catalyst.plan_joins" -> "count",
    "catalyst.plan_aggregates" -> "count",
    "codegen.compiles" -> "count",
    "codegen.compile_s" -> "s",
    "codegen.bytecode_kb" -> "KB",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.max_stage_tasks" -> "count",
    "exec.task_s" -> "s",
    "exec.task_cpu_s" -> "s",
    "exec.gc_s" -> "s",
    "exec.task_wait_s" -> "s",
    "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB",
    "exec.result_mb" -> "MB",
    "exec.empty_task_frac" -> "ratio",
    "exec.sink_self_s" -> "s",
    "cache.blocks_put" -> "count",
    "cache.peak_mb" -> "MB",
    "cache.release_s" -> "s",
    "cache.leaked_rdds" -> "count",
    "sources.read_s" -> "s",
    "sources.rows" -> "count",
    "sources.self_s" -> "s",
    "shred.write_s" -> "s",
    "shred.write_jobs" -> "count",
    "shred.audit_s" -> "s",
    "shred.triples" -> "count",
    "shred.bytes_per_input_byte" -> "ratio",
    "shred.self_s" -> "s",
    "pipeline.dup_pairs_s" -> "s",
    "pipeline.dup_groups_s" -> "s",
    "pipeline.label_prop_s" -> "s",
    "pipeline.pagerank_s" -> "s",
    "pipeline.self_s" -> "s",
    "trace.ops_per_s" -> "1/s",
    "trace.op_p50_s" -> "s",
    "trace.op_tail_s" -> "s")

  /** The result object: the last stdout line of a run. Every metric in
    * `names` must be present in `values`.
    */
  def resultJson(correct: Boolean, attempted: Int, failed: Int,
      names: Seq[(String, String)], values: Map[String, Double]): String = {
    val ms = names.map { case (n, unit) =>
      val v = values.getOrElse(n,
        throw new IllegalStateException(s"metric $n was not measured"))
      s"${Json.str(n)}: {${Json.str("value")}: ${Json.num(v)}, " +
        s"${Json.str("unit")}: ${Json.str(unit)}}"
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Minimal JSON writing for the harness's own records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    if (v.isWhole && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }
      .mkString("{", ", ", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
