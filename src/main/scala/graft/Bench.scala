package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {

  /** Between-queries hygiene: drop every cached block the previous
    * query staged (operators register persists with graft.core.Caches)
    * and give the JVM a GC point, so no query's measurement pays for
    * another query's pinned blocks or accumulated garbage. Runs
    * OUTSIDE the timed region. Round 6 showed why this matters: with
    * session-lifetime caches, the alphabetically-later q_* queries
    * uniformly regressed ~24% while earlier families were fine —
    * cache/GC debt, not plan changes.
    */
  private def hygiene(spark: SparkSession): Unit = {
    graft.core.Caches.releaseAll(spark)
    System.gc()
  }

  /** One pass over a set of gates: the wall seconds of every gate that
    * completed, and the error of every gate that threw. A gate that
    * throws gets no time, so it can neither look fast nor pull a total
    * down.
    */
  private[graft] final case class Pass(
      times: Map[String, Double], failed: Map[String, String])

  /** Builds each gate and runs `action` on its frame, timing both;
    * `cleanup` runs untimed after every gate, so the next one starts
    * with a clean cache. Bench and Verify both drive their gates
    * through this, so a throwing gate is recorded the same way in each.
    */
  private[graft] def runPass(spark: SparkSession, sfDir: String,
      gates: Seq[(String, (SparkSession, String) => DataFrame)],
      cleanup: SparkSession => Unit = hygiene)(
      action: (String, DataFrame) => Unit): Pass = {
    val times = Map.newBuilder[String, Double]
    val failed = Map.newBuilder[String, String]
    gates.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        action(name, fn(spark, sfDir))
        times += name -> (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        failed += name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      cleanup(spark)
    }
    Pass(times.result(), failed.result())
  }

  /** The round-1 bench battery (the 48 queries of BENCH_r01's
    * recording, against which BASELINE.md's 0.50 s/query was set).
    * The regression guard runs on THIS set separately from the full
    * battery: the full battery's s/query drifts every round purely
    * by gate-mix (each round adds extension gates, many of them
    * intrinsically heavier), which was steadily eroding what the 2×
    * bound meant. `core_total` compares like with like.
    */
  private val CoreQueries: Set[String] = Set(
    "f_array", "f_datetime", "f_numeric", "f_object", "f_path_steps",
    "f_regex", "f_rm_expr", "f_rm_query", "f_string", "f_truthy",
    "p_ann_brute", "p_ann_topk", "p_embed_dup", "p_exact_dedup",
    "p_lang_id", "p_llm_extract", "p_minhash", "p_multimodal",
    "p_quality", "p_simhash", "p_text_stats", "q1_agg",
    "q2_filter_project", "q3_join_revenue", "q4_broadcast_join",
    "q6_revenue", "q_anti_semi", "q_approx_distinct", "q_asof",
    "q_case_when", "q_cube", "q_distinct", "q_eav_direct",
    "q_eav_filter", "q_eav_identity", "q_eav_join", "q_eav_pull",
    "q_eav_wildcard", "q_events_hourly", "q_express_map",
    "q_express_map_keys", "q_express_nested", "q_express_reduce",
    "q_rm_e2e", "q_rollup", "q_setops", "q_topk", "q_window_rank")

  /** Warm-up steps, run before any measurement so per-query numbers
    * measure the queries, not first-query JVM startup: the flagship
    * plan, a micro text-frontend program (parser/compiler/JSON-bridge/
    * shred class init), a micro window/json datasource touch, and the
    * dedup/decontamination plan families. Those LSH band/bucket/
    * window/self-join and CC-loop plans are the largest codegen units;
    * without this their compile cost lands in the first measured query
    * of each family. (Warming EVERY query at sf0.001 was tried and
    * rejected: the extra ~60 plans' worth of cached blocks, broadcasts
    * and generated classes made the measured passes 2-3x slower and
    * wildly variable — GC/cleanup debt outweighed the compile savings.)
    */
  private def warmupSteps: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq[(String, (SparkSession, String) => DataFrame)](
      "entry" -> ((s, _) => SparkEntry.entry(s)),
      "rm_program" -> ((s, _) => graft.lang.RM.queryFrame(
        """( $d := [{'k': 'a', 'n': 1}, {'k': 'b', 'n': 2}];
          |  $bs := query(){[?e :k ?k] [?e :n ?n]}($d);
          |  $reduce($bs, express(){{'k': key(?k), 'n': ?n}}) )"""
          .stripMargin, s, Map.empty)),
      "window" -> ((s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag").orderBy("l_orderkey")
        Tables.lineitem(s, d)
          .withColumn("rn", org.apache.spark.sql.functions.row_number.over(w))
      })) ++
      Seq("p_dup_groups", "p_contamination", "p_simhash",
          "q3_join_revenue", "p_kmeans", "p_curate", "p_incr_dedup",
          "q_eav_join", "q_reduce_step", "q_express_deep",
          "f_path_steps").map(q => q -> SparkEntry.queries(q))

  /** Counts each warm-up step over the tables in `sfDir` through
    * [[runPass]]: a step that throws is recorded as failed, under
    * `warmup:<step>`, and the steps after it still run.
    */
  private[graft] def warmUp(spark: SparkSession, sfDir: String,
      steps: Seq[(String, (SparkSession, String) => DataFrame)] =
        warmupSteps): Pass =
    runPass(spark, sfDir,
      steps.map { case (n, f) => s"warmup:$n" -> f })((_, df) => df.count())

  /** One run of a timing control (by default the q1 scan control)
    * through [[runPass]]: a control that throws is recorded as failed
    * and gets no time.
    */
  private[graft] def control(spark: SparkSession, sfDir: String,
      name: String,
      gate: (SparkSession, String) => DataFrame =
        SparkEntry.queries("q1_agg")): Pass =
    runPass(spark, sfDir, Seq(name -> gate))((_, df) => df.count())

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Self-check the guard: a renamed/removed core query must fail the
    // bench loudly, not silently shrink core_total and soften the 2×
    // judgment while still claiming to be BENCH_r01's exact list.
    val missingCore = CoreQueries -- SparkEntry.queries.keySet
    require(missingCore.isEmpty,
      s"core guard queries missing from the registry: " +
        missingCore.toSeq.sorted.mkString(", "))
    val spark = Sessions.local()
    // the warm-up reads the sf0.001 tables next to the measured SF
    val warm = warmUp(spark,
      java.nio.file.Paths.get(sfDir).resolveSibling("sf0.001").toString)
    // Cache-state marker (VERDICT r14 item 8): the q1 scan control
    // measured TWICE at the record's own SF before the battery.
    // cold ≈ warm ⇒ the round's data was already page-cached and
    // absolute seconds are comparable to other warm records;
    // cold ≫ warm ⇒ cold-IO state — compare within-record decade
    // ratios only (r14 vs r13 differed 2-5× on identical data+code
    // for exactly this reason). Runs before the battery, so every
    // record's first measured query starts from the same
    // post-control cache state.
    val q1ColdPass = control(spark, sfDir, "control:q1_cold")
    val q1WarmPass = control(spark, sfDir, "control:q1_warm")
    val q1Cold = q1ColdPass.times.get("control:q1_cold")
    val q1Warm = q1WarmPass.times.get("control:q1_warm")
    val gates = SparkEntry.queries.toSeq.sortBy(_._1)
    val countPass = runPass(spark, sfDir, gates)((_, df) => df.count())
    val results = countPass.times
    // Secondary FULL-evaluation pass through the noop sink: count()
    // lets Catalyst prune projection expressions and final sorts, so
    // it under-measures projection-heavy queries — and for gates
    // assembled as a left join onto group-by-unique keys (p_winnow,
    // p_bloom_seen, p_er) it ELIMINATES the join entirely, i.e. the
    // operator never runs (caught at sf10: p_winnow "took" 0.3 s
    // while doing nothing). The noop write evaluates every output
    // column. `value` stays count-based for comparability with
    // BASELINE's first recording; `full_total` is the honest
    // end-to-end throughput number — gate regression judgments on it.
    val fullPass = runPass(spark, sfDir, gates)((_, df) =>
      df.write.mode("overwrite").format("noop").save())
    val full = fullPass.times
    // every warm-up step, control and gate that threw, with a gate's
    // count-pass error when it threw in both passes
    val failed = warm.failed ++ q1ColdPass.failed ++ q1WarmPass.failed ++
      fullPass.failed ++ countPass.failed
    // leaked_rdds: persisted blocks still pinned after the final
    // hygiene pass — 0 proves no query ran against another's cache.
    val leaked = spark.sparkContext.getPersistentRDDs.size
    // Values rounded to ms and BOTH per-query maps printed on their
    // OWN lines: the harness records only a ~2 KB output tail and
    // parses the final JSON line, so that line must stay tiny
    // (~100 bytes) — r4 embedded the ~1.3 KB queries map in it and
    // the driver recorded parsed:null.
    def r3(v: Double) = math.round(v * 1000) / 1000.0
    // a control that threw has no time
    def r3opt(v: Option[Double]) = v.map(r3(_).toString).getOrElse("null")
    def js(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    val total = r3(results.values.sum)
    val fullTotal = r3(full.values.sum)
    // the two guard series: r1 core (vs BASELINE's 0.50 s/q, 2×
    // bound) and everything added since (extension gates, no r1
    // baseline — tracked round-over-round instead)
    val coreTotal = r3(results.collect {
      case (n, v) if CoreQueries(n) => v }.sum)
    val coreFullTotal = r3(full.collect {
      case (n, v) if CoreQueries(n) => v }.sum)
    val extTotal = r3(results.collect {
      case (n, v) if !CoreQueries(n) => v }.sum)
    val extFullTotal = r3(full.collect {
      case (n, v) if !CoreQueries(n) => v }.sum)
    val nCore = results.keys.count(CoreQueries)
    val nExt = results.size - nCore
    // JVM/GC provenance, so a builder-local vs driver-recorded delta
    // (r6: 33 s vs 79 s for the same suite) is diagnosable from the
    // two records instead of being a mystery.
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    import scala.jdk.CollectionConverters._
    val jvmArgs = rt.getInputArguments.asScala.mkString(" ")
    val heapMax = Runtime.getRuntime.maxMemory()
    val env = Seq(
      "\"java\":" + jstr(System.getProperty("java.version")),
      "\"jvm_args\":" + jstr(jvmArgs),
      "\"heap_max_bytes\":" + heapMax,
      "\"cpus\":" + Runtime.getRuntime.availableProcessors(),
      "\"leaked_rdds\":" + leaked,
      "\"q1_cold\":" + r3opt(q1Cold),
      "\"q1_warm\":" + r3opt(q1Warm)).mkString("{", ",", "}")
    println(s"""{"metric":"env","env":$env}""")
    println(s"""{"metric":"full_detail","full":${js(full)}}""")
    println(s"""{"metric":"query_detail","queries":${js(results)}}""")
    println(s"""{"metric":"core_vs_ext","core_total":$coreTotal,""" +
      s""""core_full_total":$coreFullTotal,"n_core":$nCore,""" +
      s""""ext_total":$extTotal,"ext_full_total":$extFullTotal,""" +
      s""""n_ext":$nExt}""")
    // Tail-survivable per-query record (round 18, VERDICT r17 item 1):
    // the harness keeps only the LAST ~2000 bytes of stdout, so the
    // single 171-entry query_detail line above is cut mid-line and the
    // driver's PERF per_query came back empty (PERF_r17 n_common=0).
    // Re-emit the same count-pass seconds as SMALL independent JSON
    // lines, chunked, sorted ASCENDING by time so the heaviest (most
    // judgeable) queries sit nearest the end of stdout and survive the
    // tail cut; the env/detail lines above were moved out of the tail
    // region for the same reason. Additions-only: query_detail /
    // full_detail are unchanged and the final total line stays the
    // one-line contract.
    results.toSeq.sortBy { case (n, v) => (v, n) }.grouped(12).foreach {
      chunk =>
        println(
          s"""{"metric":"per_query","queries":${js(chunk.toMap)}}""")
    }
    // failed gates by name on stdout (their errors go to stderr and
    // BENCH_LOCAL.json), so the line stays small in the output tail
    val failedNames = failed.keys.toSeq.sorted
    val failedJs = failedNames
      .map(n => jstr(n) + ":" + jstr(failed(n))).mkString("{", ",", "}")
    failedNames.foreach(n =>
      System.err.println(s"[bench] $n failed: ${failed(n)}"))
    println(s"""{"metric":"failed","n_failed":${failed.size},""" +
      s""""gates":${failedNames.map(jstr).mkString("[", ",", "]")}}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","full_total":$fullTotal,"core_total":$coreTotal,"ext_total":$extTotal,"n_failed":${failed.size},"q1_cold":${r3opt(q1Cold)},"q1_warm":${r3opt(q1Warm)},"sf":"$sfDir"}""")
    // belt-and-braces: the machine-readable record also lands in a
    // file, immune to any stdout capture/prefix/truncation issues
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_LOCAL.json"),
      (s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""queries":${js(results)},"full":${js(full)},""" +
        s""""env":$env,""" +
        s""""core_total":$coreTotal,"core_full_total":$coreFullTotal,""" +
        s""""ext_total":$extTotal,"ext_full_total":$extFullTotal,""" +
        s""""full_total":$fullTotal,"n_failed":${failed.size},""" +
        s""""failed":$failedJs,"sf":"$sfDir"}""").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
