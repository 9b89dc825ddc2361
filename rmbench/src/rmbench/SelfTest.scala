package rmbench

import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The harness's own tests: `python3 rmbench/run.py --self-test`.
  * No Spark session; exits non-zero when any test fails.
  */
object SelfTest {

  private def sha(parts: Seq[String]): String = MessageDigest
    .getInstance("SHA-256").digest(parts.mkString("\u0000").getBytes("UTF-8"))
    .map("%02x".format(_)).mkString

  /** Every generated input of a seed, as text. */
  def inputs(seed: Long): Seq[String] = {
    val small = new SmallPrograms.Stream(seed)
    val docs = Gen.docs(seed, 50, 200)
    val corpus = Gen.corpus(seed, 300, 20, 3)
    val slice = Gen.slice(seed, corpus, 7, 40)
    val batch = Gen.batch(seed, 1, 100, 20)
    (0 until 200).map(i => small(i).src) ++
      SmallPrograms.warmup(seed).map(_.src) ++
      docs.customers ++ docs.orders ++ corpus.texts ++
      corpus.edges.map(_.toString) ++ slice.docs.map(_.toString) ++
      slice.edges.map(_.toString) ++ Seq(batch.ordersJson, batch.customersXml)
  }

  /** The tail level by counting samples above each percentile. */
  private def bruteTailLevel(n: Int): Int = {
    val xs = (1 to n).map(_.toDouble)
    Stats.TailLevels.find(p =>
      xs.count(_ > Stats.percentile(xs, p)) >= Stats.TailSupport)
      .getOrElse(50)
  }

  private val tests: Seq[(String, Args => Option[String])] = Seq(
    "same seed gives byte-identical inputs" -> { _ =>
      Check.expect(sha(inputs(42)) == sha(inputs(42)), "digests differ")
    },
    "another seed gives different inputs" -> { _ =>
      val a = inputs(42)
      val b = inputs(43)
      Check.expect(a.indices.count(i => a(i) != b(i)) > a.size / 2,
        "fewer than half of the inputs changed")
    },
    "tail percentile rule at small and large n" -> { _ =>
      val levels = Map(1 -> 50, 5 -> 50, 19 -> 50, 20 -> 50, 100 -> 90,
        150 -> 90, 200 -> 95, 400 -> 95, 1000 -> 99, 5000 -> 99)
      val wrong = levels.collect {
        case (n, want) if Stats.tail((1 to n).map(_.toDouble)).level != want =>
          s"n=$n"
      } ++ (1 to 1200).collect {
        case n if Stats.tail((1 to n).map(_.toDouble)).level !=
            bruteTailLevel(n) => s"n=$n (brute force)"
      }
      val small = Stats.tail((1 to 19).map(_.toDouble))
      val at20 = Stats.tail((1 to 20).map(_.toDouble))
      Check.expect(wrong.isEmpty, s"wrong level at ${wrong.take(5)}")
        .orElse(Check.expect(!small.supported && small.value == 10.0,
          s"n=19 should fall back to an unsupported median, got $small"))
        .orElse(Check.expect(at20.supported && at20.value == 10.5,
          s"n=20 should give a supported median, got $at20"))
        .orElse(Check.expect(math.abs(
          Stats.tail((1 to 1000).map(_.toDouble)).value - 990.01) < 1e-9,
          "p99 of 1..1000 should interpolate to 990.01"))
    },
    "an op that throws or fails its check is failed, not fast" -> { _ =>
      val r = Loop.run(0.3, { i =>
        if (i % 3 == 0) { Thread.sleep(20); throw new RuntimeException("boom") }
        else if (i % 3 == 1) { Thread.sleep(20); () => Some("wrong output") }
        else Check.Ok
      })
      val failedOps = (0 until r.attempted).count(_ % 3 != 2)
      Check.expect(r.failed == failedOps && r.failed > 0,
        s"failed ${r.failed} of ${r.attempted}, want $failedOps")
        .orElse(Check.expect(r.latencies.size == r.completed,
          "latencies recorded for failed ops"))
        .orElse(Check.expect(r.latencies.forall(_ < 0.015),
          s"a failed op's time was recorded: ${r.latencies.max}"))
        .orElse(Check.expect(r.opSeconds >= 0.02 * r.failed &&
          r.opsPerS == r.completed / r.opSeconds,
          s"failed ops' time left out of ops_per_s (${r.opsPerS})"))
    },
    "printed metric names match BENCHMARK.json" -> { a =>
      val root = new ObjectMapper().readTree(a.benchmarkJson)
      def named(key: String): Seq[(String, String)] =
        root.get(key).elements().asScala.map(m =>
          m.get("name").asText -> Option(m.get("unit")).fold("")(_.asText))
          .toSeq
      val workloads = root.get("workloads").elements().asScala
        .map(_.get("name").asText).toSeq
      val printed = Metrics.resultJson(true, 1, 0, Metrics.EndToEnd,
        Metrics.EndToEnd.map(_._1 -> 1.5).toMap)
      val printedNames = new ObjectMapper().readTree(printed).get("metrics")
        .fieldNames().asScala.toSeq
      Check.expect(named("end_to_end") == Metrics.EndToEnd,
        s"end_to_end: ${named("end_to_end")} vs ${Metrics.EndToEnd}")
        .orElse(Check.expect(named("per_layer") == Metrics.PerLayer,
          "per_layer differs: " + (named("per_layer").toSet
            .diff(Metrics.PerLayer.toSet) ++
            Metrics.PerLayer.toSet.diff(named("per_layer").toSet))))
        .orElse(Check.expect(workloads.nonEmpty &&
          workloads.forall(Workloads.Names.contains),
          s"workloads: $workloads, harness knows ${Workloads.Names}"))
        .orElse(Check.expect(printedNames == Metrics.EndToEnd.map(_._1),
          s"result object prints $printedNames"))
    })

  def run(a: Args): Int = {
    val failures = tests.flatMap { case (name, t) =>
      val r = try t(a) catch { case e: Exception => Some(e.toString) }
      println(s"${if (r.isEmpty) "ok  " else "FAIL"} $name${r.fold("")(": " + _)}")
      r
    }
    println(s"${tests.size - failures.size}/${tests.size} self-tests passed")
    if (failures.isEmpty) 0 else 1
  }
}
