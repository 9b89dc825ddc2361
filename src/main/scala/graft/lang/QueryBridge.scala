package graft.lang

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.shred.Shred
import graft.query.QueryCompiler
import graft.query.QueryCompiler.{C, Pattern, V}
import graft.express.Express
import graft.express.Express._
import Ast._
import Compiler._

/** Text-surface query{}/express{} execution.
  *
  * `query{}` application takes one route, as in the reference
  * (`db-for!`, then `query-fn-aux`, builtin.cljc:1737-1759): each data
  * argument becomes a database through Shred.dbFor — program literals
  * first cross a driver-side JSON bridge (literal → JSON →
  * `spark.read.json`) — and QueryCompiler.plan runs the query once. Its
  * regroup tier reads shredded documents back directly when every
  * pattern resolves over them, and returns the qvar types it proved.
  * When any argument is a program literal, binding sets come back
  * typed: the proven types, and one runtime type-facts aggregate for
  * the other columns, restore value types like the reference's
  * unboxing (`util.cljc:299-322` + `builtin.cljc:2041-2061`),
  * including non-string express keys.
  */
object QueryBridge {

  /** Program-literal value → DataFrame (rows = array elements).
    *
    * The carrier is a one-row LOCAL relation, and the array case
    * renders per-element JSON with a `transform` HOF instead of an
    * explode: Project-over-LocalRelation constant-folds
    * (ConvertToLocalRelation), so the literal→JSON rendering collects
    * driver-locally with NO Spark job — the old `spark.range(1)` +
    * explode carrier paid one cluster job per literal (round-18
    * q_rm_mixed job attribution). The read.json schema-inference pass
    * stays (it defines the bridge's type normalization).
    */
  def cdToDf(spark: SparkSession, d: CD): DataFrame = {
    import spark.implicits._
    val carrier = Seq(0).toDF("__c")
    val json: Seq[String] = d.kind match {
      case KScalar =>
        carrier.select(to_json(d.col)).as[String].collect().toSeq
      case _ =>
        // a NULL array collects as a null element: no rows
        carrier.select(transform(d.col, x => to_json(x)).as("j"))
          .as[Seq[String]].collect().toSeq
          .flatMap(Option(_).getOrElse(Seq.empty))
    }
    spark.read.json(json.toDS())
  }

  /** Run a query def against positional data arguments. Every source
    * becomes a database the way `$db` makes one (Shred.dbFor: literal
    * program data through the JSON bridge, then the shred; DataFrame
    * arguments bound via RM.evalWithSources stay fully distributed),
    * and QueryCompiler plans the query once. Binding sets come back
    * typed when any argument is a program literal (the typed restore),
    * else as canonical strings.
    */
  def runQuery(spark: SparkSession, q: QueryDef,
      paramSubst: Map[String, Any], dataArgs: Seq[CV]): CTab = {
    val allTables = dataArgs.forall(_.isInstanceOf[CTab])
    val dfs = dataArgs.map {
      case CTab(df) => df
      case d: CD => cdToDf(spark, d)
      case _ => Compiler.fail("query data argument must be a value")
    }
    // positional source naming: patterns with explicit $DB names bind
    // in order of first appearance; unnamed patterns use the first arg.
    // "default" is bound only when some pattern is unnamed: every
    // source is a frame the planner inspects (a persisted shred's
    // sidecar read, listings and schema job), so an alias nothing
    // reads would inspect the first frame a second time.
    val named = q.patterns.flatMap(_.src).distinct
    val unnamed =
      if (q.patterns.exists(_.src.isEmpty)) Map("default" -> dfs.head)
      else Map.empty[String, DataFrame]
    val sources: Map[String, DataFrame] = (named.zip(dfs).toMap ++ unnamed)
      .map { case (n, df) => n -> Shred.dbFor(df) }
    val pats = q.patterns.map { p =>
      val v = p.v match {
        case QvarRef(n) => V(n)
        case StrLit(s) => C(s)
        case NumLit(n) => C(n)
        case BoolLit(b) => C(b)
        case VarRef(n) => paramSubst.get(n) match {
          case Some(value) => C(value)
          case None => Compiler.fail(s"unbound query parameter $$$n")
        }
        case other => Compiler.fail(s"pattern value $other")
      }
      Pattern(V(p.e),
        p.attr.fold(role => C(role), qv => V(qv)),
        v, p.src.getOrElse("default"))
    }
    // predicate patterns: [($match(?str, /re/))] — compile with qvars
    // restored to NATIVE types (the reference binds Datahike's typed
    // values, so `[(?n = 5)]` matches a numeric ?n without $number).
    // The planner's proven types type the column exactly; without a
    // provable type the boxed (v, vt) pair restores per row through
    // the variant channel, whose `=`/comparisons/arithmetic already
    // carry reference semantics (type-strict, numeric across
    // encodings).
    def predFns(types: Map[String, Set[org.apache.spark.sql.types
        .DataType]]) = q.preds.map { p =>
      (bound: Map[String, org.apache.spark.sql.Column]) =>
        graft.functions.Jsonata.boolean(
          materialize(Compiler.compile(p, typedPredEnv(bound, types))).col)
    }
    // the reference parses arbitrary <|k: v|> maps but EXECUTES only
    // keepDBid (builtin.cljc:1753 is the sole consumer) — anything
    // else must error loudly here: silently ignoring an option the
    // user wrote is worse than rejecting it
    val unknownOpts = q.options.keySet - "keepDBid"
    if (unknownOpts.nonEmpty)
      Compiler.fail(s"unknown query option(s): " +
        s"${unknownOpts.toSeq.sorted.mkString(", ")} (supported: keepDBid)")
    val keepDBid = q.options.get("keepDBid").contains("true")

    val QueryCompiler.Planned(boxed, types) =
      QueryCompiler.plan(sources, pats, Nil, keepDBid, predFns)
    if (allTables) // canonical string bindings, like QueryCompiler.run
      CTab(boxed.select(boxed.columns.toSeq
        .map(c => boxed(c).getField("v").as(c)): _*))
    else
      CTab(typedBsets(spark, boxed, types))
  }

  /** Native-typed predicate environment from the boxed binding columns:
    * all-integral types restore longs, all-numeric doubles, all-boolean
    * booleans, any all-non-numeric atomic set the canonical string
    * (strings, refs, dates); mixed or unknown kinds restore per-row as
    * variants (Compiler.variantOfBoxed).
    */
  private def typedPredEnv(bound: Map[String, org.apache.spark.sql.Column],
      hints: Map[String, Set[org.apache.spark.sql.types.DataType]]): Env = {
    import org.apache.spark.sql.types._
    bound.map { case (n, s) =>
      val v = s.getField("v")
      val cd = hints.get(n) match {
        case Some(dts) if dts.nonEmpty && dts.forall {
            case ByteType | ShortType | IntegerType | LongType => true
            case _ => false
          } => CD(v.cast(LongType), LongType, KScalar)
        case Some(dts) if dts.nonEmpty &&
            dts.forall(_.isInstanceOf[NumericType]) =>
          CD(v.cast(DoubleType), DoubleType, KScalar)
        case Some(dts) if dts.nonEmpty && dts.forall(_ == BooleanType) =>
          CD(v.cast(BooleanType), BooleanType, KScalar)
        case Some(dts) if dts.nonEmpty && dts.forall(dt =>
            !dt.isInstanceOf[NumericType] && dt != BooleanType) =>
          CD(v, StringType, KScalar)
        case _ => CD(Compiler.variantOfBoxed(s),
          org.apache.spark.sql.types.VariantType, KScalar)
      }
      ("?" + n) -> (cd: CV)
    }
  }

  /** Boxed (v, vt) binding frame → typed frame, fully distributed.
    *
    * The result schema needs one runtime fact per column — the set of
    * value-kind tags (and, for numbers, whether every value is
    * integral). That is ONE tiny aggregate job (map-side partial
    * `collect_set` over ≤4 tags per column); the binding data itself is
    * never collected, so a query mixing a literal lookup list with a
    * full-size table stays distributed end-to-end. Typing then is a
    * per-column `cast` in the plan — same result as the previous
    * JSON-render-and-infer bridge (num → long when all integral else
    * double, bool → boolean, str/ref pass through, all-null columns
    * dropped), minus the driver materialization.
    */
  private def typedBsets(spark: SparkSession, boxed: DataFrame,
      hints: Map[String, Set[org.apache.spark.sql.types.DataType]])
      : DataFrame = {
    import org.apache.spark.sql.types._
    val cols = boxed.columns
    if (cols.isEmpty) return boxed

    // Columns with proven static types (the regroup tier) skip the
    // runtime type-facts job entirely: integral numerics are long,
    // booleans boolean, strings/refs/mixed pass through. Fractional
    // numerics still need the runtime all-integral check to match the
    // reference's unboxing (an all-integral number column restores as
    // integers — util.cljc:299-322).
    sealed trait Plan
    case object AsLong extends Plan
    case object AsBool extends Plan
    case object AsStr extends Plan
    case object Runtime extends Plan
    val plans: Map[String, Plan] = cols.map { c =>
      c -> (hints.get(c) match {
        case Some(dts) if dts.nonEmpty =>
          if (dts.forall(dt => dt match {
            case ByteType | ShortType | IntegerType | LongType => true
            case _ => false
          })) AsLong
          else if (dts.forall(_ == BooleanType)) AsBool
          // any all-numeric hint set (all-fractional OR mixed
          // integral+fractional) defers to the runtime all-integral
          // check, matching the EAV path's unboxing (an all-integral
          // number column restores as longs — util.cljc:299-322);
          // only genuinely mixed KINDS (string/ref/bool with num)
          // take the canonical-string form
          else if (dts.forall(_.isInstanceOf[NumericType])) Runtime
          else AsStr // strings, refs, or statically mixed kinds
        case _ => Runtime // no static info: full runtime facts
      })
    }.toMap

    val runtimeCols = cols.filter(plans(_) == Runtime)
    val facts: Option[org.apache.spark.sql.Row] =
      if (runtimeCols.isEmpty) None
      else {
        // the facts aggregate and the returned select both consume the
        // joined frame — stage (persist + register) so the join runs
        // once (spillable storage; binding frames are join outputs,
        // typically far smaller than their inputs). Unpersisting after
        // the facts head() would force the final select to recompute
        // the join — exactly the double-run this cache prevents — so
        // the blocks live until the harness's Caches.releaseAll
        graft.core.Caches.stage(boxed)
        val aggs = runtimeCols.flatMap { c =>
          Seq(
            collect_set(col(c).getField("vt")).as(s"${c}__vt"),
            min(when(col(c).getField("vt") === "num",
              col(c).getField("v").rlike("^-?\\d+$").cast("int")))
              .as(s"${c}__int"))
        }
        Some(boxed.agg(aggs.head, aggs.tail: _*).head())
      }
    val out = cols.flatMap { c =>
      val v = col(c).getField("v")
      plans(c) match {
        case AsLong => Some(v.cast("long").as(c))
        case AsBool => Some(v.cast("boolean").as(c))
        case AsStr => Some(v.as(c))
        case Runtime =>
          val f = facts.get
          val vts = f.getAs[scala.collection.Seq[String]](s"${c}__vt").toSet
          if (vts.isEmpty) None // all-null column: same as the JSON bridge
          else {
            val typed =
              if (vts == Set("num"))
                if (f.getAs[Int](s"${c}__int") == 1) v.cast("long")
                else v.cast("double")
              else if (vts == Set("bool")) v.cast("boolean")
              else v
            Some(typed.as(c))
          }
      }
    }
    if (out.isEmpty) spark.emptyDataFrame else boxed.select(out.toSeq: _*)
  }

  /** Any query/express data value as a DataFrame (tables pass through,
    * program literals go through the JSON bridge).
    */
  def dataFrameOf(spark: SparkSession, cv: CV): DataFrame = cv match {
    case CTab(df) => df
    case d: CD => cdToDf(spark, d)
    case _ => Compiler.fail("$qIdent/$eIdent argument must be a value")
  }

  /** The shape `$qIdent`/`$eIdent` derive from: struct-typed program
    * literals give their schema directly (preserving the literal's
    * field order, which fixes qvar numbering); tables their schema;
    * anything else goes through the JSON bridge.
    */
  def identSchemaOf(spark: SparkSession, cv: CV)
      : org.apache.spark.sql.types.StructType = cv match {
    case CTab(df) => df.schema
    case CD(_, st: org.apache.spark.sql.types.StructType, _) => st
    case cd: CD => dataFrameOf(spark, cd).schema
    case _ => Compiler.fail("$qIdent/$eIdent argument must be a value")
  }

  /** `$qIdent`/`$eIdent` (builtin.cljc:2264-2311): the identity query
    * patterns and express template for a shape, with the reference's
    * positional naming — entities ?e1..?eN, scalars ?v1..?vN, both
    * counters advancing in one depth-first field walk (the generated
    * forms in query_test.cljc:1066-1076). The two derivations share the
    * walk so the query's qvars line up with the template's.
    */
  def identPair(schema: org.apache.spark.sql.types.StructType)
      : (Seq[QPattern], XObj) = {
    import org.apache.spark.sql.types._
    var eN = 1
    var vN = 0
    val pats = Seq.newBuilder[QPattern]
    def walk(entity: String, st: StructType): XObj =
      XObj(st.fields.toSeq.map { f =>
        f.dataType match {
          case sub: StructType =>
            eN += 1; val subE = s"e$eN"
            pats += QPattern(None, entity, Left(f.name), QvarRef(subE))
            XField(KLit(f.name), walk(subE, sub))
          case ArrayType(sub: StructType, _) =>
            eN += 1; val subE = s"e$eN"
            pats += QPattern(None, entity, Left(f.name), QvarRef(subE))
            XField(KLit(f.name), XArr(walk(subE, sub)))
          case ArrayType(_, _) =>
            vN += 1; val v = s"v$vN"
            pats += QPattern(None, entity, Left(f.name), QvarRef(v))
            XField(KLit(f.name), XArrVal(v))
          case _ =>
            vN += 1; val v = s"v$vN"
            pats += QPattern(None, entity, Left(f.name), QvarRef(v))
            XField(KKey(f.name, v), XLit(null))
        }
      })
    val tmpl = walk("e1", schema)
    (pats.result(), tmpl)
  }

  /** express{} template AST → Express.XObj; `subst` carries bound
    * `$param` literals (`express-sub`, builtin.cljc:1930-1938).
    */
  def templateOf(e: Expr, subst: Map[String, Any] = Map.empty): XObj =
    e match {
      case ObjLit(pairs) =>
        XObj(pairs.map {
          case (QvarRef(q), v) => XField(KVar(q), valueOf(v, subst))
          case (StrLit(k), Apply(Ident("key"), Seq(QvarRef(q)))) =>
            XField(KKey(k, q), XLit(null))
          case (StrLit(k), v) => XField(KLit(k), valueOf(v, subst))
          case (k, _) => Compiler.fail(s"express key $k")
        })
      case other =>
        Compiler.fail(s"express template must be an object: $other")
    }

  private def valueOf(e: Expr, subst: Map[String, Any]): XValue = e match {
    case QvarRef(q) => XVar(q)
    case StrLit(s) => XLit(s)
    case NumLit(n) => XLit(n)
    case BoolLit(b) => XLit(b)
    case VarRef(n) => subst.get(n) match {
      case Some(v) => XLit(v)
      case None => Compiler.fail(s"unbound express parameter $$$n")
    }
    case o: ObjLit => templateOf(o, subst)
    case ArrLit(Seq(o: ObjLit)) => XArr(templateOf(o, subst))
    case ArrLit(Seq(QvarRef(q))) => XArrVal(q)
    case other => Compiler.fail(s"express template value: $other")
  }

  /** $reduce(bsets, express) → merged document(s). */
  def reduce(spark: SparkSession, bsets: CV, tmpl: XObj): CV = {
    val df = bsetsDf(spark, bsets)
    CTab(Express.reduceBsets(df, tmpl))
  }

  /** $map(bsets, express) → one document per binding set. */
  def mapEx(spark: SparkSession, bsets: CV, tmpl: XObj): CV = {
    val df = bsetsDf(spark, bsets)
    CTab(Express.mapBsets(df, tmpl))
  }

  private def bsetsDf(spark: SparkSession, bsets: CV): DataFrame =
    bsets match {
      case CTab(df) => df
      case d: CD => cdToDf(spark, d) // hand-written bset literals
      case _ => Compiler.fail("$reduce/$map: first argument must be " +
        "binding sets")
    }
}
