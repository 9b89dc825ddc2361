package graft.lang

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.core.Finalize
import graft.core.Finalize.Container
import Compiler._

/** `processRM` equivalent (reference `builtin.cljc:2915-2954`):
  * source text → parse → compile to a Column plan → execute → jflatten
  * finalization. Literal programs run on a one-row carrier frame;
  * `evalCol` compiles an expression against a real DataFrame's columns
  * for distributed use.
  */
object RM {

  /** One-row LOCAL carrier for evaluating closed expressions:
    * Project-over-LocalRelation constant-folds, so the collect is
    * driver-local — no Spark job (round 18; `spark.range(1)` paid one
    * cluster job per top-level eval).
    */
  private def carrier(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(0).toDF("__c")
  }

  /** Evaluate a standalone expression to a JSON-like Scala value
    * (Map/Seq/Long/Double/String/Boolean/null wrapped in Option —
    * None = JSONata "no match").
    */
  def eval(src: String, spark: SparkSession): Option[Any] =
    evalWithSources(src, spark, Map.empty)

  /** Graph $get result object → data members as a map (function
    * members are executables, not renderable — same as the reference
    * printing a fn).
    */
  private def objValue(spark: SparkSession, o: CObj): Map[String, Any] = {
    val ds = o.fields.collect { case (k, d: CD) => k -> d }
    if (ds.isEmpty) Map.empty
    else {
      val row = carrier(spark)
        .select(ds.map { case (k, d) => d.col.as(k) }: _*).collect()(0)
      ds.zipWithIndex.map { case ((k, _), i) =>
        k -> normalize(row.get(i))
      }.toMap
    }
  }

  /** Evaluate a program with named DataFrames bound as `$name` — text
    * `query{}` over real (warehouse-scale) tables runs fully
    * distributed; only the final result is collected.
    */
  def evalWithSources(src: String, spark: SparkSession,
      sources: Map[String, DataFrame]): Option[Any] =
    Compiler.sparkCtx.withValue(spark) {
      val env: Compiler.Env =
        sources.map { case (n, df) => n -> (CTab(df): Compiler.CV) }
      Compiler.compile(Parser.parse(src), env) match {
        case d: CD =>
          val raw = carrier(spark).select(d.col.as("v")).collect()(0).get(0)
          Finalize.jflatten(shape(raw, d.kind)).map(normalize)
        case CTab(df) =>
          // frame results: express doc/value columns unwrap; binding
          // sets stay maps even with a single qvar
          val unwrap = df.columns.toSeq == Seq("doc") ||
            df.columns.toSeq == Seq("value")
          val vals: Seq[Any] = df.collect().toSeq.map { r =>
            if (unwrap) r.get(0) else r
          }
          Finalize.jflatten(Container(vals)).map(normalize)
        case o: CObj => Some(objValue(spark, o))
        case _ => Compiler.fail("top-level value is a function")
      }
    }

  /** Text query over DataFrames returning the binding/table frame —
    * nothing collected; the plan composes with further Spark ops.
    */
  def queryFrame(src: String, spark: SparkSession,
      sources: Map[String, DataFrame]): DataFrame =
    Compiler.sparkCtx.withValue(spark) {
      val env: Compiler.Env =
        sources.map { case (n, df) => n -> (CTab(df): Compiler.CV) }
      Compiler.compile(Parser.parse(src), env) match {
        case CTab(df) => df
        case _ => Compiler.fail("expected a query/express frame result")
      }
    }

  /** Compile an expression over a DataFrame's rows: the expression's
    * bare identifiers resolve against the frame's columns (the
    * distributed path — full Catalyst optimization applies).
    */
  def evalCol(src: String, df: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    val ast = Parser.parse(src)
    val st = df.schema
    val ctx = CD(org.apache.spark.sql.functions.struct(
      st.fieldNames.map(df(_)): _*), st, KScalar)
    // "" = `$` (rebound by steps), "$" = `$$` root (never rebound)
    val cv = Compiler.compile(ast, Map("" -> ctx, "$" -> ctx))
    val d = cv match {
      case x: CD => x
      case _ => Compiler.fail("expression must be a value")
    }
    df.select(keep.map(df(_)) :+ d.col.as("value"): _*)
  }

  /** Wrap the collected value according to its sequence kind so the
    * jflatten rules see containers vs explicit arrays.
    */
  private def shape(v: Any, kind: Kind): Any = kind match {
    case KScalar => v
    case KJson => v // Seq stays an explicit array
    case KSeq => v match {
      case null => Container(Nil)
      case s: scala.collection.Seq[_] => Container(s.toSeq)
      case other => Container(Seq(other))
    }
    case KNested(jsonInner) => v match {
      case null => Container(Nil)
      case s: scala.collection.Seq[_] =>
        if (jsonInner) Container(s.toSeq) // inner arrays stay explicit
        else Container(s.toSeq.map {
          case inner: scala.collection.Seq[_] => Container(inner.toSeq)
          case x => x
        })
      case other => Container(Seq(other))
    }
  }

  /** Canonical output: integral doubles render as longs (JSONata
    * number printing), rows as maps, recursively.
    */
  private def normalize(v: Any): Any = v match {
    case d: Double if d.isWhole && math.abs(d) < 1e15 => d.toLong
    case f: Float if f.isWhole => f.toLong
    case s: scala.collection.Seq[_] => s.toSeq.map(normalize)
    case m: Map[_, _] =>
      m.map { case (k, x) => normalize(k) -> normalize(x) }
    case r: Row =>
      r.schema.fieldNames.zipWithIndex.flatMap { case (n, i) =>
        Option(r.get(i)).map(x => n -> normalize(x))
      }.toMap
    case vv: org.apache.spark.unsafe.types.VariantVal =>
      // heterogeneous-sequence channel (Compiler.variantOf): restore
      // the plain value from the variant's JSON form
      normalize(jsonToScala(
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(vv.toJson(java.time.ZoneId.of("UTC")))))
    case other => other
  }

  private def jsonToScala(
      n: com.fasterxml.jackson.databind.JsonNode): Any = {
    import scala.jdk.CollectionConverters._
    if (n == null || n.isNull) null
    else if (n.isTextual) n.asText
    else if (n.isBoolean) n.asBoolean
    else if (n.isIntegralNumber) n.asLong
    else if (n.isNumber) n.asDouble
    else if (n.isArray) n.elements.asScala.map(jsonToScala).toSeq
    else if (n.isObject)
      n.fields.asScala.map(e => e.getKey -> jsonToScala(e.getValue)).toMap
    else n.asText
  }
}
