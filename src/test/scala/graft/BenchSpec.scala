package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class BenchSpec extends SparkSpec {

  test("a throwing gate is recorded as failed, not fast") {
    val gates: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "ok" -> ((s, _) => s.range(10).toDF()),
      // throws while the frame is built
      "build_throws" -> ((_, _) => throw new IllegalStateException("boom")),
      // builds fine, throws once the action evaluates its column
      "run_throws" -> ((s, _) =>
        s.range(3).select(raise_error(lit("late boom")).as("x"))))
    var cleanups = 0
    val pass = Bench.runPass(spark, "unused", gates,
      cleanup = _ => cleanups += 1)((_, df) => df.collect())
    assert(pass.times.keySet == Set("ok"))
    assert(pass.times("ok") > 0.0)
    assert(pass.failed.keySet == Set("build_throws", "run_throws"))
    assert(pass.failed("build_throws").contains("boom"))
    assert(pass.failed("run_throws").contains("late boom"))
    assert(cleanups == gates.size, "cleanup runs after every gate")
  }

  test("a throwing warm-up step is counted, and the later steps still run") {
    var ran = Seq.empty[String]
    def step(n: String): (SparkSession, String) => DataFrame =
      (s, _) => { ran :+= n; s.range(3).toDF() }
    val pass = Bench.warmUp(spark, "unused", Seq(
      "first" -> step("first"),
      "boom" -> ((_, _) => throw new IllegalStateException("warm boom")),
      "last" -> step("last")))
    assert(ran == Seq("first", "last"))
    assert(pass.times.keySet == Set("warmup:first", "warmup:last"))
    assert(pass.failed.keySet == Set("warmup:boom"))
    assert(pass.failed("warmup:boom").contains("warm boom"))
  }

  test("a throwing q1 control is recorded as failed, with no time") {
    val pass = Bench.control(spark, "unused", "control:q1_cold",
      (_, _) => throw new IllegalStateException("no q1"))
    assert(pass.times.isEmpty)
    assert(pass.failed.keySet == Set("control:q1_cold"))
    assert(pass.failed("control:q1_cold").contains("no q1"))
    val ok = Bench.control(spark, "unused", "control:q1_warm",
      (s, _) => s.range(3).toDF())
    assert(ok.failed.isEmpty && ok.times.keySet == Set("control:q1_warm"))
  }

  private def noCleanup(s: SparkSession): Unit = ()

  test("a gate that runs two actions records at least 2 jobs") {
    val pass = Bench.runPass(spark, "unused", Seq[(String,
        (SparkSession, String) => DataFrame)](
      "two" -> ((s, _) => { s.range(10).collect(); s.range(5).toDF() })),
      noCleanup)((_, df) => df.collect())
    assert(pass.jobs("two").size >= 2)
    assert(pass.jobs("two").forall(_.ms >= 0))
  }

  test("a broadcast job is counted for its gate, not for the next one") {
    val bcast: (SparkSession, String) => DataFrame = (s, _) =>
      s.range(1000).join(
        broadcast(s.range(10).withColumnRenamed("id", "k")),
        col("id") === col("k"))
    val next: (SparkSession, String) => DataFrame =
      (s, _) => s.range(5).toDF()
    assert(bcast(spark, "unused").queryExecution.executedPlan.toString
      .contains("BroadcastExchange"))
    val alone = Bench.runPass(spark, "unused", Seq("next" -> next),
      noCleanup)((_, df) => df.collect()).jobs("next").size
    // every job the pass starts, with its description and tags, seen
    // by a listener of the spec's own
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add((js.jobId,
          js.properties.getProperty("spark.job.description"),
          Option(js.properties.getProperty("spark.job.tags")).getOrElse("")))
    }
    spark.sparkContext.addSparkListener(listener)
    val pass = try Bench.runPass(spark, "unused",
        Seq("bcast" -> bcast, "next" -> next), noCleanup)(
        (_, df) => df.collect())
      finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val jobs = seen.asScala.toSeq
    val broadcastJobs = jobs.filter(_._3.contains("broadcast exchange"))
    assert(broadcastJobs.nonEmpty, "the join broadcasts in its own job")
    assert(broadcastJobs.forall(_._2 == "graft:bcast"))
    assert(pass.jobs("bcast").map(_.id).toSet ==
      jobs.filter(_._2 == "graft:bcast").map(_._1).toSet)
    assert(broadcastJobs.map(_._1).toSet
      .subsetOf(pass.jobs("bcast").map(_.id).toSet))
    assert(pass.jobs("next").size == alone)
  }

  test("repeat mode interleaves the gates and counts a throwing gate as failed") {
    var order = Vector.empty[String]
    def gate(n: String): (SparkSession, String) => DataFrame =
      (s, _) => { order :+= n; s.range(3).toDF() }
    val rounds = Bench.repeat(spark, "unused", Seq(
      "a" -> gate("a"),
      "boom" -> ((_, _) => { order :+= "boom"
        throw new IllegalStateException("repeat boom") }),
      "b" -> gate("b")), 2, noCleanup)
    assert(order == Vector("a", "boom", "b", "a", "boom", "b"))
    assert(rounds.size == 2)
    assert(rounds.forall(_.times.keySet == Set("a", "b")))
    assert(rounds.forall(_.failed.keySet == Set("boom")))
    val failed = rounds.flatMap(_.failed).toMap
    val rec = org.json4s.jackson.JsonMethods.parse(
      Bench.repeatRecord("unused", rounds, failed))
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    assert((rec \ "n_failed").extract[Int] == 1)
    assert((rec \ "failed" \ "boom").extract[String].contains("repeat boom"))
    assert((rec \ "queries" \ "a" \ "iters").extract[Seq[Double]].size == 2)
    assert((rec \ "queries" \ "boom") == org.json4s.JNothing)
  }

  test("each gate's codegen compiles are counted, and a repeat compiles none") {
    // literals no other spec uses, so the first round misses the
    // generated-class cache
    val gate: (SparkSession, String) => DataFrame = (s, _) =>
      s.range(10).select((col("id") * 7919 + 104729).as("x"))
    val rounds = Bench.repeat(spark, "unused", Seq("g" -> gate), 2, noCleanup)
    val first = rounds.head.compiles("g")
    assert(first >= 1)
    assert(rounds(1).compiles("g") == 0)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val rep = org.json4s.jackson.JsonMethods.parse(
      Bench.repeatRecord("unused", rounds, Map.empty))
    assert((rep \ "queries" \ "g" \ "compiles").extract[Seq[Long]] ==
      Seq(first, 0L))
    val local = org.json4s.jackson.JsonMethods.parse(
      Bench.localRecord(rounds.head, rounds.head, Map.empty, "{}", "sf"))
    assert((local \ "jobs" \ "g" \ "compiles").extract[Long] == first)
  }

  test("the record of a pass parses when a gate's error spans lines") {
    val msg = "first line\n\tsecond \"quoted\" \\ line\r\u0001"
    val pass = Bench.runPass(spark, "unused", Seq[(String,
        (SparkSession, String) => DataFrame)](
      "ok" -> ((s, _) => s.range(3).toDF()),
      "bad" -> ((_, _) => throw new IllegalStateException(msg))),
      noCleanup)((_, df) => df.collect())
    val rec = org.json4s.jackson.JsonMethods.parse(
      Bench.localRecord(pass, pass, pass.failed, "{}", "sf\tdir"))
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    assert((rec \ "failed" \ "bad").extract[String] ==
      s"IllegalStateException: $msg")
    assert((rec \ "n_failed").extract[Int] == 1)
    assert((rec \ "sf").extract[String] == "sf\tdir")
    assert((rec \ "jobs" \ "ok" \ "n").extract[Int] >= 1)
  }
}
