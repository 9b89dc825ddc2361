package rmbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The closed loop: one client thread runs ops back to back. */
object Loop {

  final case class Result(latencies: Seq[Double], attempted: Int,
      failed: Int, opSeconds: Double, errors: Seq[String]) {
    def completed: Int = attempted - failed
    /** Completed ops per second of time spent in ops (checks excluded). */
    def opsPerS: Double = if (opSeconds == 0) 0.0 else completed / opSeconds
  }

  /** Runs ops 0, 1, 2, ... until `seconds` have passed. An op that
    * throws or fails its check counts as failed and its time is never
    * recorded as a latency.
    */
  def run(seconds: Double, op: Int => Check,
      after: Int => Unit = _ => ()): Result = {
    val lat = mutable.ArrayBuffer[Double]()
    val errors = mutable.ArrayBuffer[String]()
    var failed = 0
    var opNs = 0L
    var i = 0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val s = System.nanoTime()
      val check = try Right(op(i)) catch {
        case e: Exception => Left(s"op $i threw ${e.toString.take(300)}")
      }
      val dt = System.nanoTime() - s
      opNs += dt
      val outcome = check.flatMap(c =>
        try c().toLeft(()) catch {
          case e: Exception => Left(s"op $i check threw ${e.toString.take(300)}")
        })
      outcome match {
        case Right(()) => lat += dt / 1e9
        case Left(msg) =>
          failed += 1
          if (errors.size < 5) errors += msg
      }
      after(i)
      i += 1
    }
    Result(lat.toSeq, i, failed, opNs / 1e9, errors.toSeq)
  }
}

final case class Args(workload: String = "", seed: Long = 0,
    seconds: Int = 0, trace: Boolean = false, work: File = new File("."),
    out: File = new File("."), selfTest: Boolean = false,
    benchmarkJson: File = new File("BENCHMARK.json"),
    train: Seq[String] = Nil)

object Args {
  def parse(argv: Array[String]): Args = {
    def go(a: Args, rest: List[String]): Args = rest match {
      case Nil => a
      case "--self-test" :: t => go(a.copy(selfTest = true), t)
      case "--train" :: v :: t => go(a.copy(train = v.split(',').toSeq), t)
      case "--workload" :: v :: t => go(a.copy(workload = v), t)
      case "--seed" :: v :: t => go(a.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(a.copy(seconds = v.toInt), t)
      case "--trace" :: v :: t => go(a.copy(trace = v == "1"), t)
      case "--work" :: v :: t => go(a.copy(work = new File(v)), t)
      case "--out" :: v :: t => go(a.copy(out = new File(v)), t)
      case "--benchmark-json" :: v :: t =>
        go(a.copy(benchmarkJson = new File(v)), t)
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }
    go(Args(), argv.toList)
  }
}

/** One run: set up [[SetupReps]] times, then measure one workload. */
object Bench {

  /** Set-ups per run; `setup_s` is their median. A set-up is a Spark
    * session start plus the workload's seeded input generation and
    * staging; the first also pays JVM class loading.
    */
  val SetupReps = 7

  /** Task slots of the local session: one. The ops are dominated by
    * per-job and per-task fixed costs, so more slots make them no
    * faster (curation passes ran about 6% slower with two, ingest ops
    * the same), while every extra busy thread on a shared 4-core host makes
    * the latency follow the neighbours' load (see "Task slots" in
    * README.md). With one slot every task's fixed cost is on the op's
    * critical path, so a cut in task count shows in full.
    */
  val slots: Int = 1

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Lets the JIT drain the compile queue the warm-up filled (until
    * its compilation time stops growing for 300 ms, at most 5 s) and
    * starts timing from a collected heap. Returns the seconds waited.
    */
  private def quiesce(): Double = {
    val t0 = System.nanoTime()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    var last = -1L
    var idle = 0
    while (idle < 3 && System.nanoTime() - t0 < 5e9) {
      val now = jit.getTotalCompilationTime
      if (now == last) idle += 1 else idle = 0
      last = now
      Thread.sleep(100)
    }
    System.gc()
    (System.nanoTime() - t0) / 1e9
  }

  /** One set-up and the first warm-up op of a workload, unmeasured: it
    * loads the classes the launcher's class-data archive is made from.
    */
  def train(a: Args): Unit = {
    val spark = graft.Sessions.local(slots.toString)
    try {
      val dir = new File(a.work, a.workload)
      dir.mkdirs()
      val wl = Workloads.make(a.workload, Ctx(spark, new Tracer(spark),
        a.seed, dir))
      wl.setup()
      val w = wl.warmupOps.head
      wl.op(w)()
      wl.afterOp(w)
    } finally stopSession(spark)
  }

  def run(a: Args): (String, String) = {
    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var wl: Workload = null
    var tr: Tracer = null
    for (rep <- 0 until SetupReps) {
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = graft.Sessions.local(slots.toString)
      tr = new Tracer(spark)
      val dir = new File(a.work, s"setup$rep")
      dir.mkdirs()
      wl = Workloads.make(a.workload, Ctx(spark, tr, a.seed, dir))
      wl.setup()
      setups += (System.nanoTime() - t0) / 1e9
    }
    // warm-up runs once, on the last session: it warms the JVM (JIT,
    // codegen cache), which a session restart does not undo
    val w0 = System.nanoTime()
    for (w <- wl.warmupOps) {
      val failure = wl.op(w)()
      wl.afterOp(w)
      failure.foreach(m => throw new IllegalStateException(
        s"warm-up op $w failed: $m"))
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val quiesceS = quiesce()

    val rec = if (a.trace) Some(new Recorder) else None
    rec.foreach { r =>
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
    }
    // Catalyst and codegen counters are JVM-global: sum them over the
    // ops only, so the checks' own queries stay out
    var delta = Counters.Zero
    val timedOp: Int => Check =
      if (!a.trace) wl.op
      else { i =>
        tr.op = i
        val c0 = Counters.read()
        try tr.span("op", a.workload)(wl.op(i))
        finally delta = delta + (Counters.read() - c0)
      }
    tr.enabled = a.trace
    val loop = Loop.run(a.seconds.toDouble, timedOp, wl.afterOp)
    tr.enabled = false

    val tail = Stats.tail(if (loop.latencies.isEmpty) Seq(0.0)
                          else loop.latencies)
    val p50 = if (loop.latencies.isEmpty) 0.0 else Stats.median(loop.latencies)
    val e2e = Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "ops_per_s" -> loop.opsPerS,
      "op_p50_s" -> p50,
      "op_tail_s" -> tail.value)
    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values
      .map(_._1).sum / (1024.0 * 1024.0)

    val (names, values, traceFile) = rec match {
      case None => (Metrics.EndToEnd, e2e, None)
      case Some(r) =>
        org.apache.spark.RmbenchBus.flush(spark.sparkContext)
        val layers = Report.layers(tr, r, delta)
        val traced = Map("trace.ops_per_s" -> e2e("ops_per_s"),
          "trace.op_p50_s" -> e2e("op_p50_s"),
          "trace.op_tail_s" -> e2e("op_tail_s"))
        a.out.mkdirs()
        val f = new File(a.out, s"trace_${a.workload}_seed${a.seed}.json")
        Files.write(f.toPath,
          Report.traceJson(tr, r).getBytes(StandardCharsets.UTF_8))
        (Metrics.PerLayer, layers ++ traced, Some(f.getPath))
    }
    stopSession(spark)

    val record = Json.obj(
      "record" -> "rmbench",
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "slots" -> slots,
      "storage_memory_mb" -> storageMb,
      "attempted" -> loop.attempted, "failed" -> loop.failed,
      "failed_frac" -> loop.failed.toDouble / math.max(loop.attempted, 1),
      "op_tail_percentile" -> tail.level, "op_tail_n" -> tail.n,
      "op_tail_supported" -> tail.supported,
      "latencies_s" -> loop.latencies,
      "setup_samples_s" -> setups.toSeq, "warmup_s" -> warmupS,
      "quiesce_s" -> quiesceS,
      "inputs" -> wl.inputs,
      "errors" -> loop.errors,
      "trace_file" -> traceFile.getOrElse(""),
      "end_to_end" -> e2e)
    val result = Metrics.resultJson(loop.failed == 0 && loop.attempted > 0,
      math.max(loop.attempted, 1), loop.failed, names, values)
    (record, result)
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val code = try {
      val a = Args.parse(argv)
      if (a.selfTest) SelfTest.run(a)
      else if (a.train.nonEmpty) {
        a.train.foreach(w => Bench.train(a.copy(workload = w)))
        0
      } else {
        require(Workloads.Names.contains(a.workload),
          s"unknown workload ${a.workload}")
        require(a.seconds >= 1, "need --seconds >= 1")
        val (record, result) = Bench.run(a)
        println(record)
        println(result)
        0
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }
}
