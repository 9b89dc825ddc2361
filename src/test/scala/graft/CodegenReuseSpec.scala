package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.{Dedup, LinkGraph}

/** Repeating an operator on identical inputs reuses its generated
  * classes: a repeat compiles nothing. Two things break this:
  * a generated-class cache smaller than the classes one pass cycles
  * through (an LRU then evicts each class before its next use), and a
  * plan whose generated source differs on every call (a Local/Global
  * limit names its row counter from a JVM-global sequence).
  */
class CodegenReuseSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** `body`'s result and the number of classes codegen compiled for it. */
  private def compiling[T](body: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  private val words = "alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliet kilo lima mike november oscar papa quebec romeo"

  /** One curation pass over fixed inputs, as the iterative benchmark
    * runs it: incremental MinHash pairs, their components, label
    * propagation and PageRank, each collected.
    */
  private def curationPass(): Seq[Set[Row]] = {
    import spark.implicits._
    val corpus = Seq(1L -> words, 2L -> s"$words sierra",
      3L -> "one two three four five six seven eight nine ten eleven",
      4L -> "red orange yellow green blue indigo violet black white grey")
      .toDF("doc_id", "text")
    val incoming = Seq(5L -> s"$words tango", 6L -> "nothing like the rest")
      .toDF("doc_id", "text")
    val pairs = Dedup.incrementalDupPairsMd5(incoming, "doc_id", corpus,
        "doc_id", "text")
      .select(col("new_id"), col("corpus_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the found pairs plus a chain, so dupGroups also runs its
    // pointer-doubling rounds before it converges
    val pairsDf = (pairs ++ Seq(10L -> 11L, 11L -> 12L, 12L -> 13L,
      13L -> 14L, 14L -> 15L)).toDF("id1", "id2")
    val ids = corpus.select("doc_id").union(incoming.select("doc_id"))
      .union((10L to 15L).toDF("doc_id"))
    val links = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 2L), (4L, 1L, 1L),
      (5L, 4L, 3L)).toDF("src", "dst", "w")
    try Seq(pairs.map(Row.fromTuple).toSet,
      Dedup.dupGroups(ids, "doc_id", pairsDf).collect().toSet,
      LinkGraph.labelProp(pairsDf, 2).collect().toSet,
      LinkGraph.pagerank(links, 2).collect().toSet)
    finally graft.core.Caches.releaseAll(spark)
  }

  test("repeated curation passes compile nothing once settled, same results") {
    val first = curationPass()
    assert(first.head.nonEmpty, "the inputs hold near-duplicate pairs")
    // AQE numbers whole-stage-codegen stages in the order it creates
    // query stages, which follows the order earlier stages finished, so
    // a repeat can meet a numbering (new class names) it has not
    // compiled yet. Each numbering compiles once; a thrashing cache or
    // a per-call class compiles on every pass.
    val later = (1 to 4).map(_ => compiling(curationPass()))
    assert(later.forall(_._1 == first))
    assert(later.exists(_._2 == 0),
      s"every repeated pass compiled classes: ${later.map(_._2)}")
  }

  test("dupGroups' convergence check plans no Local/GlobalLimit") {
    import spark.implicits._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution,
          ns: Long): Unit = plans.add(fn -> qe)
      override def onFailure(fn: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val pairs = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 7L -> 8L).toDF("id1", "id2")
    val ids = (1L to 9L).toDF("id")
    spark.listenerManager.register(listener)
    val comps = try Dedup.dupGroups(ids, "id", pairs).collect()
      finally {
        ColumnGlue.drainListeners(spark.sparkContext)
        spark.listenerManager.unregister(listener)
        graft.core.Caches.releaseAll(spark)
      }
    import scala.jdk.CollectionConverters._
    val ran = plans.asScala.toSeq
    assert(ran.exists(_._1 == "count"), "the check ran as an action")
    ran.foreach { case (fn, qe) =>
      val limits = collect(qe.executedPlan) {
        case l: LocalLimitExec => l
        case l: GlobalLimitExec => l
      }
      assert(limits.isEmpty, s"$fn plans a limit:\n${qe.executedPlan}")
    }
    assert(comps.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 6L,
        7L -> 7L, 8L -> 7L, 9L -> 9L))
  }

  test("a repeated RM index step over a frame compiles no class") {
    // a frame with no exchange under the index step's capped collect:
    // AQE drops a limit only once a shuffle stage has counted its rows
    import spark.implicits._
    val src = spark.sparkContext.parallelize(Seq("n0", "n1", "n2"))
      .toDF("name")
    def step() = graft.lang.RM.evalWithSources("$src.name[1]", spark,
      Map("src" -> src))
    val first = step()
    assert(first.contains("n1"))
    val (again, n) = compiling(step())
    assert(again == first)
    assert(n == 0, s"the repeated index step compiled $n classes")
  }
}
