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
}
