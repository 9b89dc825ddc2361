package rmbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload sees of its run. `work` is a scratch directory
  * inside the checkout that the launcher deletes afterwards.
  */
final case class Ctx(spark: SparkSession, tr: Tracer, seed: Long,
    work: File)

/** The result of one op's output check: None when it passed. */
trait Check { def apply(): Option[String] }

object Check {
  val Ok: Check = () => None
  def expect(ok: Boolean, msg: => String): Option[String] =
    if (ok) None else Some(msg)
}

/** One closed-loop workload: a seeded set-up, then ops. */
abstract class Workload(val ctx: Ctx) {
  val spark: SparkSession = ctx.spark
  val tr: Tracer = ctx.tr

  /** Generate the inputs from the seed and stage them in the session. */
  def setup(): Unit

  /** Op `i` (i >= 0 measured; warm-up ops use negative i). The work
    * runs here; the returned check runs after the op is timed.
    */
  def op(i: Int): Check

  /** Untimed clean-up after op `i`'s check. */
  def afterOp(i: Int): Unit = ()

  /** Ops run once after set-up, each checked, to warm the JIT and
    * codegen before timing starts.
    */
  def warmupOps: Seq[Int] = Seq(-1)

  /** Input sizes, recorded with the results. */
  def inputs: Map[String, Any]

  /** Releases what the op's graft calls cached, inside a `cache` span,
    * and returns the persisted RDDs left behind (must be none).
    */
  protected def release(): Int = {
    tr.span("cache", "releaseAll")(graft.core.Caches.releaseAll(spark))
    val left = spark.sparkContext.getPersistentRDDs.size
    tr.count("cache.leaked_rdds", left)
    left
  }

  protected def noop(df: DataFrame): Unit = tr.span("exec", "noop",
    sink = true)(df.write.format("noop").mode("overwrite").save())
}

/** Order-insensitive content fingerprint of a frame: the sum of a
  * 60-bit md5 prefix of each row's JSON, modulo 2^60.
  */
object Fingerprint {
  def agg(df: DataFrame): Column = {
    val row = to_json(struct(df.columns.map(c => col(s"`$c`")).toSeq: _*))
    val h60 = conv(substring(md5(row), 1, 15), 16, 10)
      .cast("decimal(38,0)")
    (coalesce(sum(h60), lit(0).cast("decimal(38,0)")) %
      lit(1L << 60)).cast("long").as("fp")
  }

  /** (fingerprint, rows) in one aggregate. */
  def of(df: DataFrame): (Long, Long) = {
    val r = df.agg(agg(df), count(lit(1)).as("n")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}

object Workloads {
  val Names: Seq[String] =
    Seq("rm_small", "rm_docs", "curate_iterative", "ingest_persist")

  def make(name: String, ctx: Ctx): Workload = name match {
    case "rm_small" => new RmSmall(ctx)
    case "rm_docs" => new RmDocs(ctx)
    case "curate_iterative" => new CurateIterative(ctx)
    case "ingest_persist" => new IngestPersist(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${Names.mkString(", ")})")
  }
}

/** `rm_small`: one op is `RM.eval` of one short generated program. */
final class RmSmall(ctx: Ctx) extends Workload(ctx) {
  private val programs = new SmallPrograms.Stream(ctx.seed)
  private val warm = SmallPrograms.warmup(ctx.seed)

  def setup(): Unit = ()

  override def warmupOps: Seq[Int] = warm.indices.map(j => -1 - j)

  def op(i: Int): Check = {
    val p = if (i >= 0) programs(i) else warm(-1 - i)
    if (tr.enabled) tr.span("lang", "parse")(graft.lang.Parser.parse(p.src))
    tr.count("lang.programs", 1)
    val got = tr.span("lang", "eval", sink = true)(
      graft.lang.RM.eval(p.src, spark))
    val leaked = release()
    () => {
      val want = SmallPrograms.canon(p.expected, p.ordered)
      val have = SmallPrograms.canon(got, p.ordered)
      Check.expect(want == have && leaked == 0,
        s"${p.template}: got $have, want $want, leaked $leaked")
    }
  }

  def inputs: Map[String, Any] = Map(
    "programs_per_block" -> SmallPrograms.Block,
    "heavy_share" -> 1.0 / SmallPrograms.Block,
    "repeat_share" -> SmallPrograms.RepeatShare,
    "literal_elements_max" -> 63)
}
