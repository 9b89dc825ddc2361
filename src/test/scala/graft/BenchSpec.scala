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
}
