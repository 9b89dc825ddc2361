package graft.lang

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Jsonata
import Ast._

/** AST → Column compiler (the analog of the reference's rewrite.cljc,
  * but emitting Catalyst plans through the public Column API instead of
  * s-expressions; SURVEY.md §3.1 lifecycle mapping).
  *
  * Value model: every expression compiles to a typed column `CD(col,
  * dt, kind)` where `kind` tracks the JSONata sequence distinctions the
  * flattening rules depend on:
  *   - KScalar — a single value (dt = its type)
  *   - KJson   — an explicit JSON array (col: array<dt>)
  *   - KSeq    — a path-produced sequence (col: array<dt>)
  *   - KNested — per-parent grouped sequence (col: array<array<dt>>);
  *     jsonInner marks value-step results whose inner arrays are
  *     explicit JSON (not spliced by jflatten)
  * Functions compile to `CF` closures over compile-time values.
  *
  * Static type propagation (no runtime reflection): field access reads
  * the StructType, lambdas are compiled inside Spark's higher-order
  * builders, so everything stays inside whole-stage codegen.
  */
object Compiler {

  sealed trait Kind
  case object KScalar extends Kind
  case object KJson extends Kind
  case object KSeq extends Kind
  final case class KNested(jsonInner: Boolean) extends Kind

  sealed trait CV
  final case class CD(col: Column, dt: DataType, kind: Kind) extends CV
  final case class CF(arity: Int, fn: Seq[CV] => CV) extends CV
  /** a real DataFrame value (binding sets / express output) */
  final case class CTab(df: org.apache.spark.sql.DataFrame) extends CV
  /** an express{} template */
  final case class CE(tmpl: graft.express.Express.XObj) extends CV
  /** Object with mixed value/function members — graph `$get` results,
    * whose `fn_exe` member is an executable (reference
    * builtin_test.cljc:965-967: `$get([...,'fn/exe']).fn_exe`).
    */
  final case class CObj(fields: Seq[(String, CV)]) extends CV

  type Env = Map[String, CV]

  /** Session for the query/express JSON bridge, set by RM.eval. */
  private[lang] val sparkCtx =
    new scala.util.DynamicVariable[org.apache.spark.sql.SparkSession](null)

  /** Depth guard for knot-tied (`:=`-bound) recursion. Compile-time
    * recursion follows the DATA (constant arguments), so the bound only
    * needs to separate "legitimately deep" from "non-terminating";
    * 512 keeps $fact(50)-class and deep $shape walks working while the
    * unguarded shape still fails fast with a diagnostic.
    */
  private[lang] val MaxRecursionDepth = 512

  def compile(e: Expr, env: Env = Map.empty): CV = e match {
    case NumLit(v) =>
      // whole literals stay integral (JSONata numbers print without
      // ".0"; `/` still promotes to double explicitly)
      if (v.isWhole && math.abs(v) < 1e15)
        CD(lit(v.toLong), LongType, KScalar)
      else CD(lit(v), DoubleType, KScalar)
    case StrLit(v) => CD(lit(v), StringType, KScalar)
    case BoolLit(v) => CD(lit(v), BooleanType, KScalar)
    case NullLit => CD(lit(null).cast(StringType), StringType, KScalar)
    case RegexLit(p) => CD(lit(p), StringType, KScalar) // carrier for fns

    case ArrLit(items) =>
      val cvs = items.map {
        case BinOp("..", a, b) => // range splices into the array
          val (ca, cb) = (scalar(compile(a, env)), scalar(compile(b, env)))
          CD(sequence(ca.col.cast(LongType), cb.col.cast(LongType)),
            LongType, KSeq)
        case it => compile(it, env)
      }
      if (cvs.isEmpty) CD(array(), NullType, KJson)
      else if (cvs.size == 1 && cvs.head.isInstanceOf[CD] &&
        cvs.head.asInstanceOf[CD].kind == KSeq &&
        items.size == 1 && items.head.isInstanceOf[BinOp] &&
        items.head.asInstanceOf[BinOp].op == "..") {
        val r = cvs.head.asInstanceOf[CD]
        CD(r.col, r.dt, KJson) // [a..b] is an explicit array
      } else {
        val ds = cvs.map { case d: CD => d
          case _ => fail("function in array literal") }
        val homogeneous: Option[CD] =
          try {
            if (ds.forall(_.kind == KScalar)) {
              val dt = unifyType(ds.map(_.dt))
              Some(CD(array(ds.map(d => d.col.cast(dt)): _*), dt, KJson))
            } else if (ds.forall(d => d.kind != KScalar)) {
              // array of arrays: [[1,2,3],[4]]
              val dt = unifyType(ds.map(_.dt))
              Some(CD(array(ds.map(d => d.col.cast(ArrayType(dt))): _*),
                ArrayType(dt), KJson))
            } else None
          } catch { case _: IllegalArgumentException => None }
        homogeneous.getOrElse {
          // heterogeneous sequence (mixed kinds, or element types
          // Spark's arrays can't unify — the reference's dynamic model
          // allows them freely, builtin_test.cljc:18-42): VariantType
          // channel. Each element becomes a variant; RM's finalizer
          // restores plain values, so jflatten sees ordinary nesting.
          CD(array(ds.map(variantOf): _*), VariantType, KJson)
        }
      }

    case ObjLit(pairs) =>
      val fields = pairs.map {
        case (StrLit(k), v) =>
          val cv = compile(v, env)
          k -> materialize(cv)
        case (QvarRef(k), v) => // hand-written binding-set literal
          k -> materialize(compile(v, env))
        case (k, _) => fail(s"object keys must be string literals, got $k")
      }
      val st = StructType(fields.map { case (k, d) =>
        StructField(k, colType(d)) })
      CD(struct(fields.map { case (k, d) => d.col.as(k) }: _*), st, KScalar)

    case VarRef(name) =>
      env.getOrElse(name, fail(
        if (name.isEmpty) "no context value ($) bound here"
        else s"unbound variable $$$name"))

    case Ident(name) =>
      // bare field: navigate from the context
      compile(PathStep(VarRef(""), Ident(name)), env)

    case Neg(x) =>
      val d = scalar(compile(x, env)); CD(-d.col, DoubleType, KScalar)
    case Not(x) =>
      CD(Jsonata.not(scalar(compile(x, env)).col), BooleanType, KScalar)

    case BinOp(":=", VarRef(n), v) =>
      // expression-valued assignment (parse.cljc:926-942)
      compile(Block(Seq(n -> v), VarRef(n)), env)

    case BinOp(op, l, r) => binop(op, l, r, env)

    case Ternary(c, t, f) =>
      // sequence truthiness (empty = false), same rule as filters
      val cond = Jsonata.boolean(materialize(compile(c, env)).col)
      // partial evaluation: a compile-time-constant condition picks
      // its branch NOW and the other branch is never compiled — the
      // reference interpreter's evaluate-only-the-taken-branch
      // semantics, and the termination argument for knot-tied
      // recursion behind a base case ($fact/$fib, ShapeMatchSpec)
      constEval(cond) match {
        case Some(v) =>
          if (v == true) compile(t, env) else compile(f, env)
        case None =>
      {
        val (ct, cf2) = (materialize(compile(t, env)),
          materialize(compile(f, env)))
        CD(when(cond, ct.col).otherwise(cf2.col), ct.dt,
          if (ct.kind == KScalar && cf2.kind == KScalar) KScalar
          else ct.kind)
      }
      }

    case PathStep(src, step) => pathStep(compile(src, env), step, env)

    case Filter(src, pred) => filterStep(compile(src, env), pred, env)

    case Parens(b) => splice(compile(b, env))

    case FnCall("$merge", Seq(ArrLit(objs))) if objs.nonEmpty && {
      // static struct merge applies when every argument compiles to a
      // struct-typed scalar — object literals, bound variables holding
      // them, $assoc results, etc.
      objs.forall(o => try compile(o, env) match {
        case d: CD => d.kind == KScalar && d.dt.isInstanceOf[StructType]
        case _ => false
      } catch { case _: IllegalArgumentException => false })
    } =>
      // compile-time merge: objects of different shapes can't share an
      // array type, but their field lists concatenate with last-wins
      // values and first-occurrence key order — exactly the
      // reference's merge semantics (builtin.cljc:1117-1120)
      val ds = objs.map(o => compile(o, env).asInstanceOf[CD])
      val all: Seq[(String, (Column, DataType))] = ds.flatMap { d =>
        d.dt.asInstanceOf[StructType].fields.toSeq
          .map(f => f.name -> ((d.col.getField(f.name), f.dataType)))
      }
      val order = all.map(_._1).distinct
      val byKey = all.toMap // toMap keeps the LAST occurrence per key
      CD(struct(order.map(k => byKey(k)._1.as(k)): _*),
        StructType(order.map(k => StructField(k, byKey(k)._2))), KScalar)

    case FnCall(name, args) =>
      // user-bound function variables shadow builtins ($q := query…)
      env.get(name.stripPrefix("$")) match {
        case Some(CF(_, fn)) => fn(args.map(compile(_, env)))
        case Some(CE(tmpl)) => // express fn applied to bsets
          QueryBridge.mapEx(sparkCtx.value,
            compile(args.head, env), tmpl)
        case _ =>
          // context threading: short-arity string/regex calls take `$`
          // as their implicit first argument (builtin_macros.cljc
          // threading rules), e.g. `zipcode[$match(/re/)]`
          val threaded =
            if (env.contains("") && contextThreads(name, args)) {
              VarRef("") +: args
            } else args
          Builtins(name, threaded.map(compile(_, env)), threaded)
      }

    case Lambda(params, body) =>
      CF(params.size, args =>
        compile(body, env ++ params.zip(args) + ("" -> args.head)))

    case Apply(fnExpr, args) =>
      compile(fnExpr, env) match {
        case CF(_, fn) => fn(args.map(compile(_, env)))
        case CE(tmpl) => // express fn applied to bsets = $map form
          QueryBridge.mapEx(sparkCtx.value,
            compile(args.head, env), tmpl)
        case _ => fail(s"cannot apply non-function $fnExpr")
      }

    case Block(bindings, result) =>
      val env2 = bindings.foldLeft(env) { case (e2, (n, v)) =>
        val cv = v match {
          case Lambda(params, body) if n.nonEmpty =>
            // knot-tied closure: a `:=`-bound function sees ITSELF in
            // scope, so data-dependent recursion works (the
            // reference's $shape, builtin_test.cljc:744-752 — its
            // Clojure letfn-like emission gives the same). Each
            // application compiles the body fresh with concrete
            // argument values, so recursion depth follows the DATA
            // (and terminates when, e.g., a child frame comes back
            // empty), not the static plan. The depth guard turns the
            // non-terminating shape — a recursive call whose guard
            // condition is NOT compile-time-constant (e.g. the fn
            // mapped over a column) — into a diagnostic instead of a
            // StackOverflowError.
            var depth = 0
            lazy val cf: CF = CF(params.size, args => {
              depth += 1
              // 512 is far above any terminating reference program
              // ($shape walks are schema-depth, $fact(50) is 50) but
              // well below the JVM stack limit for these frames; the
              // non-terminating shape (a guard that is NOT
              // compile-time-constant) still dies with the diagnostic
              // instead of a StackOverflowError.
              if (depth > Compiler.MaxRecursionDepth)
                fail(s"recursion in $$$n exceeded depth " +
                  s"${Compiler.MaxRecursionDepth} — a recursive " +
                  "function needs a base case decidable at compile " +
                  "time (constant arguments; not values of table " +
                  "columns)")
              try compile(body, e2 + (n -> (cf: CV))
                ++ params.zip(args) + ("" -> args.head))
              catch {
                // the JVM stack can run out before the depth guard
                // (each language-level application costs many compile
                // frames); by the time a catch frame runs the stack
                // has unwound, so building the message is safe. At a
                // SHALLOW depth the overflow may be an unrelated
                // engine SOE (a pathologically deep expression tree
                // built inside the call) — say so instead of flatly
                // blaming user recursion.
                case _: StackOverflowError if depth > 1 =>
                  val hint =
                    if (depth >= 8)
                      "a recursive function needs a base case " +
                        "decidable at compile time (constant " +
                        "arguments; not values of table columns)"
                    else
                      "recursion was only this shallow, so this may " +
                        "be an engine stack overflow on a very deep " +
                        "expression inside the call rather than " +
                        "runaway recursion — raise -Xss if the " +
                        "program is correct"
                  fail(s"compile stack exhausted inside recursive " +
                    s"$$$n (depth $depth) — $hint")
              }
              finally depth -= 1
            })
            cf
          case _ => compile(v, e2)
        }
        // `$ := $get('doc.json')` — rebinding the CONTEXT to a loaded
        // frame collapses it to a document value so bare paths
        // (`Account.Order...`) use the full CD step semantics
        // (reference design battery, builtin_test.cljc:592-599).
        // Loaded single documents are driver-sized by usage; the
        // round trip is one small collect + a literal from_json.
        val bound = cv match {
          case CTab(df) if n == "" => tabToDoc(df)
          case other => other
        }
        e2 + (n -> splice(bound))
      }
      splice(compile(result, env2))

    case q0: QueryDef =>
      val spark = sparkCtx.value
      if (spark == null) fail("query{} needs RM.eval (no session bound)")
      // identity body: derive patterns from the argument's shape NOW
      // (query-construction time, like the reference's rewrite)
      val q = q0.identArg match {
        case Some(arg) =>
          val schema = QueryBridge.identSchemaOf(spark,
            materialize(compile(arg, env)))
          q0.copy(patterns = QueryBridge.identPair(schema)._1,
            identArg = None)
        case None => q0
      }
      if (q.params.isEmpty)
        CF(-1, args => QueryBridge.runQuery(spark, q, Map.empty, args))
      else
        CF(q.params.size, pargs => {
          val subst = q.params.zip(pargs.map(literalOf)).toMap
          CF(-1, args => QueryBridge.runQuery(spark, q, subst, args))
        })

    case ExpressDef(_, _, opts) if opts.nonEmpty =>
      // the reference parses an express options map but consults none
      // of its keys (rewrite.cljc:195); rejecting beats silently
      // ignoring something the user wrote (same stance as query's
      // unknown-option check)
      fail(s"unknown express option(s): ${opts.keys.mkString(", ")} " +
        "(the reference admits an options map on express but no key " +
        "has any effect; remove it)")

    case ExpressDef(Nil, FnCall("$eIdent", Seq(arg)), _) =>
      // identity template: express{$eIdent($data)}
      val spark = sparkCtx.value
      if (spark == null) fail("express{} needs RM.eval (no session bound)")
      CE(QueryBridge.identPair(QueryBridge.identSchemaOf(spark,
        materialize(compile(arg, env))))._2)

    case ExpressDef(Nil, t, _) => CE(QueryBridge.templateOf(t))
    case ExpressDef(params, t, _) =>
      // parameterized template: substitute literal args, then compile
      CF(params.size, pargs =>
        CE(QueryBridge.templateOf(t,
          params.zip(pargs.map(literalOf)).toMap)))

    case QvarRef(n) =>
      // bound inside query predicate patterns (canonical string view)
      env.getOrElse("?" + n,
        fail(s"?$n is only meaningful inside query/express/binding-set " +
          "contexts"))
  }

  /** Functions that thread the context when called one argument short
    * of their minimum arity.
    */
  private def contextThreads(name: String, args: Seq[Expr]): Boolean =
    name match {
      // $contains threads whenever one argument short — string OR
      // regex pattern (`list_content[$contains('elena')]`,
      // builtin_test.cljc:512)
      case "$contains" => args.size == 1
      case "$match" | "$split" | "$replace" =>
        args.headOption.exists(_.isInstanceOf[RegexLit])
      case "$uppercase" | "$lowercase" | "$trim" | "$length" |
           "$string" | "$number" => args.isEmpty
      case _ => false
    }

  /** Driver-side value of a column whose tree references no input
    * row — Catalyst ANALYSIS of a one-row plan plus interpreted eval,
    * never a Spark job. None when the tree reads attributes, is
    * non-deterministic ($random conditions must stay runtime), or
    * can't be interpreted. Spark 4 columns convert to UNRESOLVED
    * trees (so `foldable` alone is always false); analysis resolves
    * them first.
    */
  private[lang] def constEval(c: Column): Option[Any] = {
    val spark = sparkCtx.value
    if (spark == null || hasFreeLambdaVar(c)) return None
    try {
      // Dataset construction runs ANALYSIS only (no job); the session
      // converter resolves Spark 4's lazy ColumnNode wrappers, which
      // a hand-built Project over the raw expression would not
      val analyzed = spark.range(1).select(c.as("c"))
        .queryExecution.analyzed
      val pe = analyzed
        .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
        .projectList.head
      // row-bound (references survive analysis), plan-bound
      // (subqueries), or non-deterministic ($random conditions must
      // stay runtime) trees are not constants
      if (!pe.deterministic || pe.references.nonEmpty ||
          pe.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
        None
      else Some(pe.eval(org.apache.spark.sql.catalyst.InternalRow.empty))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Does `c` read a lambda variable outside the lambda that binds
    * it (a higher-order function body compiled before its lambda
    * wraps it)? Such a tree is row-bound and cannot be analyzed on
    * its own: the failed analysis would surface as an ERROR from
    * Spark's listener bus, not only as constEval's None.
    */
  private def hasFreeLambdaVar(c: Column): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Expression,
      LambdaFunction, UnresolvedNamedLambdaVariable}
    def free(e: Expression, bound: Set[Seq[String]]): Boolean = e match {
      case LambdaFunction(body, args, _) =>
        free(body, bound ++ args.collect {
          case v: UnresolvedNamedLambdaVariable => v.nameParts })
      case v: UnresolvedNamedLambdaVariable => !bound(v.nameParts)
      case _ => e.children.exists(free(_, bound))
    }
    free(org.apache.spark.sql.graftglue.ColumnGlue.resolvedExpression(c),
      Set.empty)
  }

  /** Driver-side literal of a (constant) scalar argument. Local
    * one-row carrier: the Project constant-folds over LocalRelation,
    * so the collect runs on the driver with no Spark job (round 18).
    */
  private def literalOf(cv: CV): Any = {
    val spark = sparkCtx.value
    val d = scalar(cv)
    import spark.implicits._
    Seq(0).toDF("__c").select(d.col).collect()(0).get(0)
  }

  // ---------- path semantics ----------

  private def pathStep(src: CV, step: Expr, env: Env): CV = {
    src match {
      // member access on a mixed value/function object ($get results)
      case CObj(fields) =>
        val name = step match {
          case Ident(n) => n
          case other => fail(s"object member step must be a name: $other")
        }
        return fields.collectFirst { case (k, v) if k == name => v }
          .getOrElse(fail(s"no member '$name' in object " +
            s"(${fields.map(_._1).mkString(", ")})"))
      // paths over FRAMES (query results etc.): a qvar or field step
      // selects that column, keeping the plan distributed — the
      // reference's `$qFn($db).?sdo` shape (query_test some-async).
      // The column lands as `value` so eval's unwrap returns a plain
      // sequence.
      case CTab(df) =>
        val name = step match {
          case QvarRef(n) => n
          case Ident(n) => n
          case other => fail(s"frame path step must be a column: $other")
        }
        if (df.columns.contains(name))
          return CTab(df.select(df(name).as("value")))
        // chained navigation into a document frame: a prior step left
        // one `value` column; struct fields keep pathing
        // ($get('doc.json').a.b — reference read-local documents)
        df.schema.fields.toSeq match {
          case Seq(f) if f.dataType.isInstanceOf[StructType] &&
            f.dataType.asInstanceOf[StructType].fieldNames
              .contains(name) =>
            return CTab(df.select(
              df(f.name).getField(name).as("value")))
          case _ =>
            fail(s"no column '$name' in frame " +
              s"(${df.columns.mkString(", ")})")
        }
      case _ => ()
    }
    val s = src match { case d: CD => d; case _ => fail("path over function") }
    step match {
      case Ident(name) => s.kind match {
        case KScalar => s.dt match {
          case st: StructType =>
            // absent field / non-object → "no match" (reference
            // get-step is Clojure `get` → nil, builtin.cljc:246-263)
            st.find(_.name == name).fold(
              CD(lit(null), NullType, KScalar): CD) { f =>
              f.dataType match {
                case ArrayType(et, _) =>
                  CD(s.col.getField(name), et, KJson)
                case dt => CD(s.col.getField(name), dt, KScalar)
              }
            }
          case VariantType =>
            // field of a mixed value: null (no match) for non-objects
            CD(try_variant_get(s.col, s"$$.$name", "variant"),
              VariantType, KScalar)
          case _ => CD(lit(null), NullType, KScalar) // non-object
        }
        case KJson | KSeq => s.dt match {
          case st: StructType =>
            st.find(_.name == name).fold {
              // no element can match: statically empty sequence
              CD(array(), NullType, KSeq): CD
            } { f =>
              val mapped = filter(
                transform(s.col, _.getField(name)), _.isNotNull)
              f.dataType match {
                case ArrayType(et, _) => CD(mapped, et, KNested(false))
                case dt => CD(mapped, dt, KSeq)
              }
            }
          case VariantType =>
            // heterogeneous elements: non-objects and absent fields
            // drop (no match); array-valued fields splice like the
            // typed path (each parent contributes its own sequence)
            val picked = filter(transform(s.col,
              e => try_variant_get(e, s"$$.$name", "variant")),
              _.isNotNull)
            CD(transform(picked, v => coalesce(
              try_variant_get(v, "$", "array<variant>"), array(v))),
              VariantType, KNested(false))
          case _ =>
            // primitive elements: no element can match the field —
            // statically empty sequence (reference cmap get → nils)
            CD(array(), NullType, KSeq)
        }
        case KNested(_) =>
          pathStep(CD(flatten(s.col), s.dt, KSeq), step, env)
      }

      case VarRef("") => s.kind match {
        // `.$` maps identity and splices one level
        case KJson | KSeq => s.dt match {
          case ArrayType(et, _) => CD(flatten(s.col), et, KSeq)
          case VariantType =>
            // mixed elements: each parent becomes its own sequence
            // (array variants unpack, scalars become singletons), so
            // subsequent [i] filters index per parent — the reference
            // "today" battery's `[[1,2,3], 4].$[1]` → 2
            CD(transform(s.col, p => coalesce(
              try_variant_get(p, "$", "array<variant>"), array(p))),
              VariantType, KNested(false))
          case _ => CD(s.col, s.dt, KSeq)
        }
        case KNested(_) => CD(flatten(s.col), s.dt, KSeq)
        case KScalar => CD(array(s.col), s.dt, KSeq)
      }

      case Parens(body) => s.kind match {
        case KScalar =>
          compile(body, env + ("" -> CD(s.col, s.dt, KScalar)))
        case KJson | KSeq =>
          var outDt: DataType = null
          var outSeqy = false
          val mapped = transform(s.col, x => {
            val cv = materialize(compile(body,
              env + ("" -> CD(x, s.dt, KScalar))))
            outDt = cv.dt
            outSeqy = cv.kind != KScalar
            cv.col
          })
          if (outSeqy) CD(mapped, outDt, KNested(false))
          else CD(filter(mapped, _.isNotNull), outDt, KSeq)
        case KNested(_) =>
          pathStep(CD(flatten(s.col), s.dt, KSeq), step, env)
      }

      case ArrLit(items) => s.kind match {
        // value-step: each element → the literal array's value
        case KJson | KSeq =>
          var innerDt: DataType = null
          val mapped = transform(s.col, x => {
            val cv = compile(ArrLit(items),
              env + ("" -> CD(x, s.dt, KScalar)))
            val d = cv.asInstanceOf[CD]
            innerDt = d.dt
            d.col
          })
          CD(mapped, innerDt, KNested(true))
        case KScalar =>
          val cv = compile(ArrLit(items),
            env + ("" -> CD(s.col, s.dt, KScalar)))
          cv
        case KNested(_) =>
          pathStep(CD(flatten(s.col), s.dt, KSeq), step, env)
      }

      case fc @ FnCall(name, args) =>
        // per-element function application: x.$f(...) with $ = element
        s.kind match {
          case KScalar =>
            Builtins(name,
              CD(s.col, s.dt, KScalar) +: args.map(compile(_, env)),
              NullLit +: args)
          case KNested(_) =>
            pathStep(CD(flatten(s.col), s.dt, KSeq), step, env)
          case _ =>
            // sequence: the call evaluates once per element with `$`
            // bound to it — context-independent calls replicate their
            // value (`['a','b','c'].$sum([50,50])` → [100,100,100],
            // reference design battery builtin_test.cljc:553-555)
            var outDt: DataType = null
            val mapped = transform(s.col, x => {
              val cv = scalar(materialize(compile(fc,
                env + ("" -> CD(x, s.dt, KScalar)))))
              outDt = cv.dt
              cv.col
            })
            CD(mapped, outDt, KSeq)
        }

      case ReduceExp(pairs) =>
        // JSONata object grouping (reference parse.cljc:834-839, its
        // conformance case builtin_test.cljc:610-615): group elements
        // by the key expression; each value expression evaluates once
        // per GROUP with `$` bound to the group sequence — so
        // `$sum(Price)` aggregates the group and `$.(Price*Quantity)`
        // maps over it. Elements whose key is null contribute nothing.
        // Sequence-valued groups apply JSONata singleton collapse
        // ([x] → x), which mixes array and scalar values in one map —
        // carried as map<string, variant>.
        val xs = s.kind match {
          case KScalar => array(s.col)
          case KNested(_) => flatten(s.col)
          case _ => s.col
        }
        // FAST PATH for the dominant aggregate-grouping shape
        // `seq{key : $sum(field)}` over a struct sequence with a
        // string key and numeric field: one codegen'd hash pass
        // (graft.functions.GroupSumMap) instead of the interpreted
        // HOF cascade below — same keys (first occurrence, null keys
        // drop), same values (field path drops nulls; $sum([]) = 0.0,
        // DoubleType). ReduceStepSpec pins equivalence against the
        // general lowering; any other body falls through unchanged.
        val fastSum = pairs match {
          case Seq((Ident(kf), FnCall("$sum", Seq(Ident(vf))))) =>
            s.dt match {
              case st: org.apache.spark.sql.types.StructType =>
                val ki = st.fieldNames.indexOf(kf)
                val vi = st.fieldNames.indexOf(vf)
                if (ki < 0 || vi < 0) None
                else (st(ki).dataType, st(vi).dataType) match {
                  case (org.apache.spark.sql.types.StringType, vt) =>
                    import graft.functions.GroupAggNative._
                    val code = vt match {
                      case org.apache.spark.sql.types.IntegerType =>
                        Some(VInt)
                      case org.apache.spark.sql.types.LongType =>
                        Some(VLong)
                      case org.apache.spark.sql.types.DoubleType =>
                        Some(VDouble)
                      case org.apache.spark.sql.types.FloatType =>
                        Some(VFloat)
                      case _ => None
                    }
                    code.map(c => CD(
                      org.apache.spark.sql.graftglue.ColumnGlue.column(
                        graft.functions.GroupSumMap(
                          org.apache.spark.sql.graftglue.ColumnGlue
                            .expression(xs), ki, vi, c, st.size)),
                      MapType(StringType, DoubleType), KScalar))
                  case _ => None
                }
              case _ => None
            }
          case _ => None
        }
        if (fastSum.isDefined) return fastSum.get
        val built = pairs.map { case (kExpr, vExpr) =>
          def keyOf(x: Column): Column =
            materialize(compile(kExpr,
              env + ("" -> CD(x, s.dt, KScalar)))).col.cast("string")
          var valueDt: DataType = null
          var valueSeqy = false
          // pair each element with its key ONCE: the distinct-key list
          // and every group-membership test read the precomputed key.
          // The previous shape re-evaluated the compiled key
          // expression per (element x key) pair inside interpreted
          // lambdas — O(n-squared) key evals per row, the dominant cost
          // of q_reduce_step under the full sink.
          val kv = transform(xs, x =>
            struct(keyOf(x).as("k"), x.as("x")))
          val keys = filter(
            array_distinct(transform(kv, _.getField("k"))), _.isNotNull)
          val entries = transform(keys, k => {
            val g = transform(
              filter(kv, p => p.getField("k") === k), _.getField("x"))
            val v = materialize(compile(vExpr,
              env + ("" -> CD(g, s.dt, KSeq))))
            valueDt = v.dt
            valueSeqy = v.kind != KScalar
            val value =
              if (valueSeqy) {
                // singleton collapse via the variant channel: a
                // one-element group value becomes the element itself
                val one = variantOf(CD(element_at(v.col, 1),
                  valueDt, KScalar))
                val many = variantOf(CD(v.col, ArrayType(valueDt), KScalar))
                when(size(v.col) === 1, one).otherwise(many)
              } else v.col
            struct(k.as("key"), value.as("value"))
          })
          (entries, valueDt, valueSeqy)
        }
        val (dts, seqys) = (built.map(_._2).distinct, built.map(_._3).distinct)
        if (seqys.size > 1 || (!seqys.head && dts.size > 1))
          fail("reduce-step value expressions must agree in type")
        val vt = if (seqys.head) VariantType else dts.head
        CD(map_from_entries(built.map(_._1).reduceLeft(concat(_, _))),
          MapType(StringType, vt), KScalar)

      case QvarRef(n) =>
        // binding-set literal fields path like plain fields:
        // `[{?parent : 2}].?parent` (reference today battery)
        pathStep(src, Ident(n), env)

      case other => fail(s"unsupported path step $other")
    }
  }

  private def containsContextRef(e: Expr): Boolean = e match {
    case Ident(_) | VarRef("") => true
    case BinOp(_, l, r) =>
      containsContextRef(l) || containsContextRef(r)
    case Neg(x) => containsContextRef(x)
    case Not(x) => containsContextRef(x)
    case Ternary(c, t, f) => Seq(c, t, f).exists(containsContextRef)
    case PathStep(s2, _) => containsContextRef(s2)
    case Filter(s2, p) => containsContextRef(s2) || containsContextRef(p)
    case Parens(b) => containsContextRef(b)
    case FnCall(_, args) => args.exists(containsContextRef)
    case Apply(f, args) => (f +: args).exists(containsContextRef)
    case _ => false
  }

  private def containsQvarRef(e: Expr): Boolean = e match {
    case QvarRef(_) => true
    case BinOp(_, l, r) => containsQvarRef(l) || containsQvarRef(r)
    case Neg(x) => containsQvarRef(x)
    case Not(x) => containsQvarRef(x)
    case Ternary(c, t, f) => Seq(c, t, f).exists(containsQvarRef)
    case PathStep(s2, st) => containsQvarRef(s2) || containsQvarRef(st)
    case Filter(s2, p) => containsQvarRef(s2) || containsQvarRef(p)
    case Parens(b) => containsQvarRef(b)
    case FnCall(_, args) => args.exists(containsQvarRef)
    case Apply(f, args) => (f +: args).exists(containsQvarRef)
    case ArrLit(items) => items.exists(containsQvarRef)
    case ObjLit(pairs) => pairs.exists(p => containsQvarRef(p._2))
    case Lambda(_, body) => containsQvarRef(body)
    case Block(bs, res) =>
      bs.exists(b => containsQvarRef(b._2)) || containsQvarRef(res)
    case _ => false
  }

  /** Frame → CD for path/index semantics: a single `value` column
    * collapses to the plain values (so `.?name[0]` yields the name,
    * not `{value: name}`); anything else to row structs — the same
    * driver round trip as [[tabToDoc]], sized by the interactive
    * query-result shapes that reach it.
    */
  private def tabToValues(df: org.apache.spark.sql.DataFrame): CD = {
    // same driver-collect cap as Builtins' frame HOFs: a corpus-scale
    // frame must not silently OOM the driver on an index step. One
    // capped collect serves both the check and the conversion — not a
    // count() job followed by a second full collect. The limit is the
    // root of the collected plan, so it plans as CollectLimit: a limit
    // under toJSON's map plans as Local/GlobalLimit, whose row counter
    // takes a JVM-global name and compiles a new class on every call.
    val json = df.toJSON.take(65537)
    if (json.length > 65536)
      fail("indexing a frame with more than 65536 rows collects it " +
        "to the driver — aggregate or filter the frame first")
    val base = docFromJson(json, df.schema)
    if (df.columns.toSeq != Seq("value")) base
    else {
      val vdt = df.schema("value").dataType
      base.kind match {
        case KScalar => CD(base.col.getField("value"), vdt, KScalar)
        case _ => CD(transform(base.col, _.getField("value")), vdt, KJson)
      }
    }
  }

  private def filterStep(src: CV, pred: Expr, env: Env): CV = {
    src match {
      case CTab(df) =>
        // filter over a query-result FRAME. A qvar/context predicate
        // compiles against the frame's columns and stays a DataFrame
        // filter — the reference's `$spc[?parent = $p]` (match-test,
        // builtin_test.cljc:744-752) runs distributed, the plan never
        // collects. A plain numeric index collapses the (small,
        // interactive-shaped) frame to a document first.
        if (containsQvarRef(pred) || containsContextRef(pred)) {
          val qenv = df.schema.fields.foldLeft(env) { (e2, f2) =>
            e2 + (("?" + f2.name) -> (CD(df(f2.name), f2.dataType,
              KScalar): CV))
          }
          val ctx: CD =
            if (df.columns.toSeq == Seq("value"))
              CD(df("value"), df.schema("value").dataType, KScalar)
            else CD(struct(df.columns.toSeq.map(df(_)): _*),
              StructType(df.schema.fields), KScalar)
          val keep = Jsonata.boolean(materialize(
            compile(pred, qenv + ("" -> (ctx: CV)))).col)
          return CTab(df.filter(keep))
        } else return filterStep(tabToValues(df), pred, env)
      case _ => ()
    }
    val s = src match { case d: CD => d; case _ => fail("filter on fn") }
    val isIndex = !containsContextRef(pred) && {
      // a pred that only compiles WITH a context (e.g. a threaded
      // $match or $contains) is a predicate, not an index
      try compile(pred, env) match {
        case CD(_, dt, KScalar) => dt.isInstanceOf[NumericType]
        case _ => false
      } catch { case scala.util.control.NonFatal(_) => false }
    }
    if (isIndex) {
      // floor of non-integers, also for negatives (builtin.cljc:213-243)
      val idx = floor(scalar(compile(pred, env)).col).cast(IntegerType)
      s.kind match {
        case KJson | KSeq =>
          s.dt match {
            case ArrayType(et, _) =>
              CD(Jsonata.aref(s.col, idx), et, KJson)
            case _ => CD(Jsonata.aref(s.col, idx), s.dt, KScalar)
          }
        case KNested(json) =>
          // NON-COMPOSITIONAL: index each parent's sequence. The
          // result keeps the per-parent shape (each hit wrapped as a
          // singleton sequence, misses as empty) so CHAINED index
          // filters also apply per parent — `$v.$[0][0]` → [1, 4]
          // (reference today battery); finalization splices the
          // singletons and drops the empties, so single-index output
          // is unchanged.
          if (json) CD(transform(s.col, p => Jsonata.aref(p, idx)),
            s.dt, KSeq)
          else CD(
            transform(s.col, p =>
              filter(array(Jsonata.aref(p, idx)), _.isNotNull)),
            s.dt, KNested(false))
        case KScalar =>
          // `1[0]` — scalars are singletons
          CD(when(idx === 0 || idx === -1, s.col), s.dt, KScalar)
      }
    } else {
      val base = s.kind match {
        case KNested(_) => CD(flatten(s.col), s.dt, KSeq)
        case _ => s
      }
      // truthiness of the whole predicate value: an empty sequence
      // (e.g. a no-match $match) is falsy, non-empty with any truthy
      // element is truthy — materialize keeps the array form
      base.kind match {
        case KJson | KSeq =>
          CD(filter(base.col, x => Jsonata.boolean(
            materialize(compile(pred,
              env + ("" -> CD(x, base.dt, KScalar)))).col)),
            base.dt, KSeq)
        case KScalar =>
          val keep = Jsonata.boolean(materialize(compile(pred,
            env + ("" -> CD(base.col, base.dt, KScalar)))).col)
          CD(when(keep, base.col), base.dt, KScalar)
        case _ => fail("unreachable")
      }
    }
  }

  // ---------- operators ----------

  private def binop(op: String, l: Expr, r: Expr, env: Env): CV = {
    lazy val cl = scalar(compile(l, env))
    lazy val cr = scalar(compile(r, env))
    // arithmetic requires numbers (JSONata T2001/T2002): a variant
    // operand (heterogeneous data) is checked per ROW — numeric
    // elements compute, anything else raises the JSONata-style error
    // instead of a Spark analysis exception
    def nl = numSide(cl, "left", op)
    def nr = numSide(cr, "right", op)
    // order comparisons accept numbers OR strings: coerce a variant
    // side toward the typed side (numeric unless the other is string)
    def cmp2(f: (Column, Column) => Column) = {
      val wantStr = cl.dt == StringType || cr.dt == StringType
      def side(d: CD, nm: String) =
        if (d.dt != VariantType) d
        else if (wantStr) CD(variantString(d.col), StringType, KScalar)
        else numSide(d, nm, op)
      CD(f(side(cl, "left").col, side(cr, "right").col),
        BooleanType, KScalar)
    }
    op match {
      case "+" => CD(nl.col + nr.col, num2(nl, nr), KScalar)
      case "-" => CD(nl.col - nr.col, num2(nl, nr), KScalar)
      case "*" => CD(nl.col * nr.col, num2(nl, nr), KScalar)
      case "/" =>
        CD(nl.col.cast(DoubleType) / nr.col.cast(DoubleType),
          DoubleType, KScalar) // `/` always double (builtin.cljc:147)
      case "%" => CD(nl.col % nr.col, num2(nl, nr), KScalar)
      case "&" =>
        // genuine strings concatenate untouched; numerics (and the
        // variant channel's stringly-stored numbers) render
        // canonically (Jsonata.stringTyped)
        def catSide(d: CD): Column = d.dt match {
          case StringType => d.col
          case VariantType => Jsonata.string(variantText(d.col))
          case dt => Jsonata.stringTyped(d.col, dt)
        }
        CD(concat(catSide(cl), catSide(cr)), StringType, KScalar)
      case "=" => eqOp(l, r, env, negate = false)
      case "!=" => eqOp(l, r, env, negate = true)
      case "<" => cmp2(_ < _)
      case "<=" => cmp2(_ <= _)
      case ">" => cmp2(_ > _)
      case ">=" => cmp2(_ >= _)
      case "and" | "or" =>
        // VALUE-returning with CLOJURE truthiness, exactly what the
        // reference executes (rewrite.cljc:30-31 emits bare Clojure
        // and/or): only nil/false are falsy — 0, '' and [] are
        // truthy values and flow through, so `$lookup($m, 'count')
        // or -1` keeps a legitimate 0. `or` yields the first truthy
        // operand else the second; `and` the first falsy else the
        // second. A JSONata no-match (our null) is nil — falsy.
        // Downstream contexts (filters, ? :) still apply their own
        // $boolean truthiness to the returned VALUE, as the
        // reference's do.
        val lv = materialize(compile(l, env))
        def cljTruthy(d: CD): Column = d.dt match {
          case BooleanType => coalesce(d.col, lit(false))
          case NullType => lit(false)
          case VariantType =>
            // variant null and variant false are the only falsy ones
            !to_json(d.col).isin("null", "false")
          case _ => d.col.isNotNull
        }
        // short-circuit at compile time when the left side is a
        // constant (same partial evaluation as Ternary): Clojure
        // and/or never evaluate the right side once the left decides,
        // so a recursion guarded by `or`/`and` terminates too
        constEval(cljTruthy(lv)) match {
          case Some(t) =>
            val decided = (t == true) == (op == "or")
            return (if (decided) lv else materialize(compile(r, env)))
          case None => ()
        }
        val rv = materialize(compile(r, env))
        val lt = cljTruthy(lv)
        def pick(t: Column, f: Column) =
          if (op == "or") when(lt, t).otherwise(f)
          else when(lt, f).otherwise(t)
        if (lv.dt == NullType && lv.kind == KScalar)
          // no-match left side: falsy — `or` is the right side,
          // `and` stays no-match
          (if (op == "or") rv else lv)
        else if (rv.dt == NullType && rv.kind == KScalar)
          CD(pick(lv.col, lit(null).cast(colType(lv))), lv.dt, lv.kind)
        else if (lv.dt == rv.dt && lv.kind == rv.kind)
          CD(pick(lv.col, rv.col), lv.dt, lv.kind)
        else
          // mixed shapes box through variant (heterogeneous result,
          // e.g. map-or-default)
          CD(pick(variantOf(lv), variantOf(rv)), VariantType, KScalar)
      case "in" =>
        val arr = compile(r, env) match {
          case d @ CD(_, _, KJson | KSeq) => d
          case d: CD => CD(array(d.col), d.dt, KJson)
          case _ => fail("in: rhs")
        }
        val res =
          if (arr.dt == VariantType || cl.dt == VariantType) {
            // mixed membership: per-element variant equality (numbers
            // numeric, everything else canonical JSON) — Spark's
            // array_contains cannot compare variants
            val needle = variantOf(cl)
            val elems =
              if (arr.dt == VariantType) arr.col
              else transform(arr.col, e => variantOf(CD(e, arr.dt,
                KScalar)))
            coalesce(exists(elems, e => variantEqCols(e, needle)),
              lit(false))
          } else if (dtKind(arr.dt) != dtKind(cl.dt))
            lit(false) // type-strict like `=`: 1 in ['1'] is false
          else array_contains(arr.col, cl.col)
        CD(res, BooleanType, KScalar)
      case ".." =>
        CD(sequence(cl.col.cast(LongType), cr.col.cast(LongType)),
          LongType, KSeq)
      case other => fail(s"operator $other")
    }
  }

  /** `=` is deep equality post-flatten (SURVEY §2.1). */
  private def eqOp(l: Expr, r: Expr, env: Env, negate: Boolean): CV = {
    val (a, b) = (materialize(compile(l, env)),
      materialize(compile(r, env)))
    // JSONata/reference `=` is TYPE-STRICT structural equality
    // (Clojure `=`, builtin.cljc:152): '5' = 5 is false, never a
    // cast — Spark's implicit coercions would cast (or throw), so
    // statically mismatched kinds fold to a literal instead of
    // comparing columns
    val (ta, tb) = (colType(a), colType(b))
    val e =
      if (a.dt == VariantType || b.dt == VariantType) variantEq(a, b)
      else if (ta == NullType && tb == NullType) lit(true)
      else if (dtKind(ta) == 0 || dtKind(tb) == 0) lit(false)
      else if (dtKind(ta) != dtKind(tb)) lit(false)
      else if (ta == tb || dtKind(ta) == 1) a.col === b.col
      else if (dtKind(ta) >= 4)
        // same container kind, different concrete types (e.g.
        // array<void> vs array<long>): compare the JSON rendering
        to_json(struct(a.col.as("v"))) === to_json(struct(b.col.as("v")))
      else a.col === b.col
    CD(if (negate) !e else e, BooleanType, KScalar)
  }

  private def num2(a: CD, b: CD): DataType =
    if (a.dt == DoubleType || b.dt == DoubleType) DoubleType
    else if (a.dt == LongType && b.dt == LongType) LongType
    else DoubleType

  // ---------- variant (heterogeneous) operand support ----------

  /** Type "kind" for strict equality/membership: 0 null, 1 number,
    * 2 string, 3 boolean, 4 array, 5 object, 6 other.
    */
  private def dtKind(dt: DataType): Int = dt match {
    case NullType => 0
    case _: NumericType => 1
    case StringType => 2
    case BooleanType => 3
    case _: ArrayType => 4
    case _: StructType | _: MapType => 5
    case _ => 6
  }

  private def numericSchema(s: Column): Column =
    s.rlike("^(BIGINT|INT|SMALLINT|TINYINT|DOUBLE|FLOAT|DECIMAL)")

  /** Arithmetic operand. Typed operands pass through (Spark's numeric
    * coercion already matches the reference); a VARIANT operand — an
    * element of a heterogeneous sequence — is checked per ROW: numeric
    * values compute (as double), anything else raises the JSONata
    * T2001/T2002-style error instead of surfacing a Spark analysis
    * exception (reference arithmetic is plain Clojure `+` which throws
    * the analogous cast error, builtin.cljc:143-151).
    */
  private def numSide(d: CD, side: String, op: String): CD = d.dt match {
    case VariantType =>
      CD(variantNumber(d.col,
        s"The $side side of the '$op' operator"), DoubleType, KScalar)
    case _ => d
  }

  /** Per-row numeric coercion of a variant: numeric values compute (as
    * double), null stays null, anything else raises the JSONata-style
    * "must evaluate to a number" error with the offending type. Shared
    * by arithmetic operands (numSide) and the numeric builtins'
    * argument positions ($floor/$abs/... of a variant binding).
    */
  private[lang] def variantNumber(c: Column, what: String): Column = {
    val sch = schema_of_variant(c)
    when(c.isNull, lit(null).cast(DoubleType))
      .when(numericSchema(sch), try_variant_get(c, "$", "double"))
      .otherwise(raise_error(concat(
        lit(s"$what must evaluate to a number, got "), sch))
        .cast(DoubleType))
  }

  /** Order-comparison string coercion: a STRING variant yields its raw
    * string; any other kind is a type error (JSONata T2009 — both
    * sides of a comparison must be the same type).
    */
  private def variantString(c: Column): Column =
    when(schema_of_variant(c) === "STRING",
      try_variant_get(c, "$", "string"))
      .otherwise(raise_error(lit("The expressions on either side of " +
        "a comparison operator must be of the same type"))
        .cast(StringType))

  /** Text rendering of a variant: string variants yield their raw
    * text, anything else its canonical JSON — the same coercion the
    * typed path gets from Spark's implicit cast-to-string (used by `&`
    * operands, `$string`-family argument positions, and `$number`,
    * whose string parse then applies).
    */
  private[lang] def variantText(c: Column): Column =
    when(schema_of_variant(c) === "STRING",
      try_variant_get(c, "$", "string"))
      .otherwise(to_json(c))

  /** Boxed EAV binding struct<v: canonical string, vt: type tag> →
    * native-typed value, per ROW, via the variant channel: numbers and
    * booleans parse from their canonical encoding (`parse_json("5")` →
    * variant 5), strings/refs stay string variants. This is how text
    * predicates see reference-typed qvars (`[(?n = 5)]` matches a
    * numeric ?n — the reference binds Datahike's native values,
    * builtin.cljc:1695-1838) when no static type is provable.
    */
  private[lang] def variantOfBoxed(s: Column): Column = {
    val v = s.getField("v")
    when(s.getField("vt").isin("num", "bool"), parse_json(v))
      .otherwise(variant_get(parse_json(to_json(struct(v.as("s")))),
        "$.s", "variant"))
  }

  /** Equality with a variant side: numbers compare numerically across
    * encodings (1 = 1.0); everything else on the canonical JSON
    * rendering, which is type-strict ("1" never equals 1) — the
    * reference's `eq` is structural equality over parsed JSON
    * (builtin.cljc:152).
    */
  private def variantEq(a: CD, b: CD): Column = {
    def canon(d: CD): Column = d.dt match {
      case VariantType if d.kind == KScalar => d.col
      case _ => variantOf(d)
    }
    variantEqCols(canon(a), canon(b))
  }

  /** Variant = variant at the Column level (shared by `=`/`in`). */
  private def variantEqCols(va: Column, vb: Column): Column = {
    val (sa, sb) = (schema_of_variant(va), schema_of_variant(vb))
    when(numericSchema(sa) && numericSchema(sb),
      try_variant_get(va, "$", "double") ===
        try_variant_get(vb, "$", "double"))
      .otherwise(to_json(va) === to_json(vb))
  }

  /** `$type` of a variant value, classified per row from the variant's
    * own schema (the static JsonataType expression cannot see through
    * VariantType).
    */
  private[lang] def variantJType(c: Column): Column = {
    val sch = schema_of_variant(c)
    when(c.isNull || sch === "VOID", lit("null"))
      .when(sch === "STRING", lit("string"))
      .when(sch === "BOOLEAN", lit("boolean"))
      .when(sch.startsWith("ARRAY"), lit("array"))
      .when(sch.startsWith("OBJECT") || sch.startsWith("STRUCT") ||
        sch.startsWith("MAP"), lit("object"))
      .otherwise(lit("number"))
  }

  // ---------- helpers ----------

  private[lang] def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"graft.lang: $msg")

  /** Collapse sequence kinds to a scalar column where a scalar is
    * required (singleton collapse typed statically: runtime singleton
    * via element_at).
    */
  private[lang] def scalar(cv: CV): CD = cv match {
    case d @ CD(_, _, KScalar) => d
    case CD(c, dt, KSeq) => CD(try_element_at(c, lit(1)), dt, KScalar)
    case CD(c, dt, KJson) => CD(c, ArrayType(dt), KScalar)
    case CD(c, dt, KNested(_)) =>
      CD(try_element_at(flatten(c), lit(1)), dt, KScalar)
    case _ => fail("expected a value, got a function")
  }

  /** A value leaving a group or a binding: a per-parent sequence is
    * spliced into one, as finalization does, so a later `[i]` indexes
    * the whole sequence (`($v := a.b[0]; $v[0])` is the first hit, not
    * every parent's); every other value is unchanged.
    */
  private def splice(cv: CV): CV = cv match {
    case CD(c, dt, KNested(false)) => CD(flatten(c), dt, KSeq)
    case other => other
  }

  /** Render a CV as one column for embedding in structs/arrays:
    * sequences keep array form.
    */
  private[lang] def materialize(cv: CV): CD = cv match {
    case d @ CD(_, _, KScalar) => d
    case d @ CD(_, _, (KJson | KSeq)) => d
    case CD(c, dt, KNested(false)) => CD(flatten(c), dt, KSeq)
    case CD(c, dt, KNested(true)) => CD(c, ArrayType(dt), KJson)
    case _ => fail("expected a value, got a function")
  }

  private[lang] def colType(d: CD): DataType = d.kind match {
    case KScalar => d.dt
    case KJson | KSeq => ArrayType(d.dt)
    case KNested(_) => ArrayType(ArrayType(d.dt))
  }

  /** Frame → document CD: one row becomes a scalar struct, many rows
    * an explicit array of structs — rendered back through a literal
    * from_json so the value composes with every Column path step.
    */
  private def tabToDoc(df: org.apache.spark.sql.DataFrame): CD =
    docFromJson(df.toJSON.collect(), df.schema)

  private def docFromJson(json: Array[String],
      schema: StructType): CD = {
    val st = StructType(schema.fields)
    if (json.length == 1)
      CD(from_json(lit(json(0)), st), st, KScalar)
    else
      CD(from_json(lit(json.mkString("[", ",", "]")), ArrayType(st)),
        st, KJson)
  }

  /** Arbitrary typed column → VariantType. Scalars box through a
    * one-field struct (to_json can't render bare scalars); arrays and
    * maps go straight through the JSON round trip. The rendering is
    * plan-side only — no driver evaluation.
    */
  private[lang] def variantOf(d: CD): Column = d.dt match {
    case VariantType if d.kind == KScalar => d.col
    // a NullType SCALAR is JSON null; a NullType-element SEQUENCE is
    // an (empty or all-null) ARRAY — the old unconditional null case
    // silently turned `[]` elements of mixed literals into nulls
    case NullType if d.kind == KScalar => parse_json(lit("null"))
    case _ =>
      // to_json cannot render void-typed members (empty `[]` literals
      // and all-null arrays type as array<void>): cast NullType slots
      // to string first — such slots hold only nulls/empties, so the
      // JSON rendering is unchanged
      val shape = colType(d)
      val clean = denull(shape)
      val c = if (clean == shape) d.col else d.col.cast(clean)
      variant_get(parse_json(to_json(struct(c.as("v")))), "$.v",
        "variant")
  }

  /** Replace NullType with StringType recursively (cast shim for JSON
    * rendering of void-typed slots).
    */
  private def denull(dt: DataType): DataType = dt match {
    case NullType => StringType
    case ArrayType(et, n) => ArrayType(denull(et), n)
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = denull(f.dataType))))
    case MapType(k, v, n) => MapType(denull(k), denull(v), n)
    case other => other
  }

  private def unifyType(ts: Seq[DataType]): DataType =
    ts.reduce { (a, b) =>
      if (a == b) a
      else if (a.isInstanceOf[NumericType] && b.isInstanceOf[NumericType])
        DoubleType
      else if (a == NullType) b
      else if (b == NullType) a
      else fail(s"cannot unify array element types $a vs $b")
    }
}
