package graft.lang

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Jsonata
import Compiler._

/** `$function` dispatch for the text frontend — every entry delegates
  * to the Column combinators in graft.functions.Jsonata (one semantics,
  * two surfaces).
  */
/** litStr's "argument is not a compile-time string" signal — a
  * DISTINCT type so $lookup's computed-key fallthrough only catches
  * the genuinely-computed case while fail()'s wrong-type diagnostics
  * (plain IllegalArgumentException) stay loud. Subclasses IAE so
  * existing non-catching call sites keep their error contract.
  */
private[lang] final class NotCompileTimeString(msg: String)
  extends IllegalArgumentException(msg)

object Builtins {

  def apply(name: String, args: Seq[CV],
      argExprs: Seq[Ast.Expr] = Nil): CV = {
    def litStr(i: Int): String = argExprs.lift(i) match {
      case Some(Ast.StrLit(s)) => s
      case Some(Ast.RegexLit(r)) => r
      case other =>
        // not a source literal, but possibly a compile-time CONSTANT
        // value (a function parameter bound to a driver value — the
        // reference's `$lookup($x, $c)` inside $shape): constEval is
        // driver-side interpreted evaluation, never a Spark job.
        // Non-string constants fail loudly rather than coining a
        // garbage key via toString; column-bound trees fall through
        // to the original diagnostic.
        args.lift(i) match {
          case Some(cd: CD) if cd.kind == Compiler.KScalar =>
            Compiler.constEval(cd.col) match {
              case Some(s: org.apache.spark.unsafe.types.UTF8String) =>
                return s.toString
              case Some(null) | None =>
                throw new NotCompileTimeString(
                  s"graft.lang: $name: argument ${i + 1} must be a " +
                    s"string literal or constant, got $other")
              case Some(v) =>
                fail(s"$name: argument ${i + 1} must be a STRING, " +
                  s"got constant $v")
            }
          case _ =>
            throw new NotCompileTimeString(
              s"graft.lang: $name: argument ${i + 1} must be a string " +
                s"or regex literal, got $other")
        }
    }
    def litInt(i: Int): Int = argExprs.lift(i) match {
      case Some(Ast.NumLit(n)) => n.toInt
      case Some(Ast.Neg(Ast.NumLit(n))) => -n.toInt
      case other => fail(s"$name: argument ${i + 1} must be a numeric " +
        s"literal, got $other")
    }
    def d(i: Int): CD = args(i) match {
      case x: CD => x
      case _ => fail(s"$name: argument ${i + 1} must be a value")
    }
    def f(i: Int): CF = args(i) match {
      case x: CF => x
      case _ => fail(s"$name: argument ${i + 1} must be a function")
    }
    def sc(i: Int): Column = scalar(d(i)).col
    /** argument as an array column (scalars become singletons). */
    def arr(i: Int): CD = d(i) match {
      case x @ CD(_, _, KJson | KSeq) => x
      case CD(c, dt, KScalar) => CD(array(c), dt, KJson)
      case CD(c, dt, KNested(_)) => CD(flatten(c), dt, KSeq)
      case _ => fail("unreachable")
    }
    /** string-argument position: variants (heterogeneous elements /
      * typed predicate bindings) coerce the way the typed path does —
      * string variants pass their raw text, anything else its JSON
      * rendering (Spark's implicit cast-to-string analog).
      */
    def str(i: Int): Column = {
      val dd = scalar(d(i))
      if (dd.dt == VariantType) Compiler.variantText(dd.col) else dd.col
    }
    /** numeric-argument position: typed operands pass through (Spark's
      * numeric coercion matches the reference); a variant binding — an
      * EAV-path predicate qvar, a heterogeneous element — coerces per
      * row like the arithmetic operators' numSide, raising the JSONata
      * "must evaluate to a number" error on non-numbers instead of a
      * Spark analysis error on VARIANT.
      */
    def num(i: Int): Column = {
      val dd = scalar(d(i))
      if (dd.dt == VariantType)
        Compiler.variantNumber(dd.col, s"Argument ${i + 1} of $name")
      else dd.col
    }
    /** result dtype for builtins that preserve their argument's type:
      * a variant argument computes as double. */
    def numDt(i: Int): DataType = {
      val t = scalar(d(i)).dt
      if (t == VariantType) DoubleType else t
    }
    def sseq(c: Column, dt: DataType): CV = CD(c, dt, KSeq)
    def sval(c: Column, dt: DataType): CV = CD(c, dt, KScalar)
    /** frame-argument position (the EAV/schema builtins): a bound
      * DataFrame passes through; program-literal data goes over the
      * JSON bridge (driver-side, small by construction).
      */
    def frameArg(i: Int, who: String): org.apache.spark.sql.DataFrame =
      args.lift(i) match {
        case Some(CTab(df)) => df
        case Some(dd: CD) =>
          val spark = Compiler.sparkCtx.value
          if (spark == null) fail(s"$who needs a bound session")
          QueryBridge.cdToDf(spark, dd)
        case other =>
          fail(s"$who: argument ${i + 1} must be data or a frame, " +
            s"got $other")
      }

    name match {
      // frame-level forms FIRST: query-result frames thread through
      // $distinct/$sort/$count as DataFrame ops, keeping the plan
      // distributed (reference `$qFn($db).?sdo ~> $distinct() ~>
      // $sort()`, query_test some-async)
      case "$distinct" if args.headOption.exists(_.isInstanceOf[CTab]) =>
        CTab(args.head.asInstanceOf[CTab].df.distinct())
      case "$sort" if args.headOption.exists(_.isInstanceOf[CTab]) =>
        val df = args.head.asInstanceOf[CTab].df
        CTab(df.orderBy(df.columns.toSeq.map(df(_)): _*))
      case "$count" if args.headOption.exists(_.isInstanceOf[CTab]) =>
        CD(lit(args.head.asInstanceOf[CTab].df.count()), LongType, KScalar)

      // aggregation over sequences (§2.4)
      case "$sum" => sval(Jsonata.sumArr(arr(0).col), DoubleType)
      case "$max" => sval(Jsonata.maxArr(arr(0).col), arr(0).dt)
      case "$min" => sval(Jsonata.minArr(arr(0).col), arr(0).dt)
      case "$average" => sval(Jsonata.averageArr(arr(0).col), DoubleType)
      case "$count" => sval(Jsonata.countArr(arr(0).col)
        .cast(LongType), LongType)
      case "$distinct" =>
        val a = arr(0)
        if (a.dt == VariantType) {
          // variants have no ordering for array_distinct: first-
          // occurrence dedup on the canonical JSON rendering (the
          // reference is Clojure `distinct` via `=`, so 1 and 1.0
          // stay distinct — JSON "1" vs "1.0" matches that)
          val js = transform(a.col, v => to_json(v))
          sseq(org.apache.spark.sql.functions.filter(a.col, (x, i) =>
            array_position(js, to_json(x)) === (i + 1).cast(LongType)),
            a.dt)
        } else sseq(Jsonata.distinctArr(a.col), a.dt)

      // arrays (§2.6)
      case "$append" =>
        sseq(Jsonata.append(arr(0).col, arr(1).col
          .cast(ArrayType(arr(0).dt))), arr(0).dt)
      case "$reverse" => sseq(Jsonata.reverseArr(arr(0).col), arr(0).dt)
      case "$sort" =>
        if (args.size > 1) {
          val cmp = f(1)
          sseq(Jsonata.sortArrBy(arr(0).col, (l, r) =>
            Jsonata.boolean(scalar(materialize(cmp.fn(Seq(
              sval(l, arr(0).dt), sval(r, arr(0).dt))))).col)), arr(0).dt)
        } else sseq(Jsonata.sortArr(arr(0).col), arr(0).dt)
      case "$shuffle" => sseq(Jsonata.shuffleArr(arr(0).col), arr(0).dt)
      case "$zip" =>
        sseq(Jsonata.zip(args.indices.map(i => arr(i).col): _*),
          ArrayType(arr(0).dt))

      // express dispatch (reference builtin.cljc:1462-1468): $map with
      // an express template runs the template compiler — must precede
      // the generic HOF form, which would reject the template arg
      case "$map" if args.lift(1).exists(_.isInstanceOf[CE]) =>
        QueryBridge.mapEx(Compiler.sparkCtx.value, args(0),
          args(1).asInstanceOf[CE].tmpl)

      // $map/$filter of a user FUNCTION over a query-result frame:
      // driver-side like the frame $reduce below (and capped the same
      // way) — binding sets are plain data in the reference; the
      // distributed twins are $map(bsets, express{}) and frame filter
      // steps
      case "$map" if args.headOption.exists(_.isInstanceOf[CTab]) &&
          args.lift(1).exists(_.isInstanceOf[CF]) =>
        val fn = f(1)
        val out = frameValues(args.head.asInstanceOf[CTab].df)
          .zipWithIndex.map { case (v, i) =>
            materialize(
              if (fn.arity >= 2) fn.fn(Seq(v,
                CD(lit(i.toDouble), DoubleType, KScalar)))
              else fn.fn(Seq(v)))
          }
        packSeq(out)
      case "$filter" if args.headOption.exists(_.isInstanceOf[CTab]) &&
          args.lift(1).exists(_.isInstanceOf[CF]) =>
        val fn = f(1)
        val spark = Compiler.sparkCtx.value
        if (spark == null) fail("$filter over a query frame needs a " +
          "bound session")
        val elems = frameValues(args.head.asInstanceOf[CTab].df)
        val keeps = elems.zipWithIndex.map { case (v, i) =>
          Jsonata.boolean(scalar(materialize(
            if (fn.arity >= 2) fn.fn(Seq(v,
              CD(lit(i.toDouble), DoubleType, KScalar)))
            else fn.fn(Seq(v)))).col)
        }
        // elements are literals: constEval decides each driver-side
        // (analysis only, zero jobs) when the frame is small; past 64
        // elements the per-element Catalyst analyses cost more than
        // one job, so decide EVERYTHING in the single one-row job —
        // never a job (or an analysis) per element at frame scale
        val decided: Seq[Option[Boolean]] =
          if (keeps.size > 64) keeps.map(_ => None)
          else keeps.map(Compiler.constEval(_).map(_ == true))
        val undecidedIdx = decided.zipWithIndex.collect {
          case (None, i) => i }
        val fallback: Map[Int, Boolean] =
          if (undecidedIdx.isEmpty) Map.empty
          else {
            val row = spark.range(1)
              .select(undecidedIdx.map(i => keeps(i)): _*).collect()(0)
            undecidedIdx.zipWithIndex.map { case (orig, j) =>
              orig -> (!row.isNullAt(j) && row.getBoolean(j)) }.toMap
          }
        val kept = elems.zipWithIndex.collect {
          case (v, i) if decided(i).getOrElse(fallback(i)) =>
            materialize(v)
        }
        packSeq(kept)

      // higher-order (§2.9)
      case "$map" =>
        val fn = f(1)
        var outDt: DataType = null
        val mapped = transform(arr(0).col, (x, i) => {
          val res = materialize(
            if (fn.arity >= 2)
              fn.fn(Seq(sval(x, arr(0).dt), sval(i.cast(DoubleType),
                DoubleType)))
            else fn.fn(Seq(sval(x, arr(0).dt))))
          outDt = colType(res)
          res.col
        })
        sseq(mapped, outDt)
      case "$filter" =>
        val fn = f(1)
        sseq(filter(arr(0).col, (x, i) =>
          Jsonata.boolean(scalar(materialize(
            if (fn.arity >= 2)
              fn.fn(Seq(sval(x, arr(0).dt),
                sval(i.cast(DoubleType), DoubleType)))
            else fn.fn(Seq(sval(x, arr(0).dt))))).col)), arr(0).dt)
      // express dispatch (reference builtin.cljc:1462-1468): $reduce
      // with an express template runs the template compiler
      case "$reduce" if args.lift(1).exists(_.isInstanceOf[CE]) =>
        QueryBridge.reduce(Compiler.sparkCtx.value, args(0),
          args(1).asInstanceOf[CE].tmpl)

      // $reduce of a user FUNCTION over a query-result frame: a
      // driver-side fold (the reference's recursive $shape pattern,
      // builtin_test.cljc:744-752). Collecting the (small,
      // metadata-shaped) frame is what makes DATA-DEPENDENT recursion
      // inside the function terminate: each level's children are
      // known values before the next application compiles. Corpus-
      // scale folds belong in $reduce(bsets, express{}) — the
      // distributed form above.
      case "$reduce" if args.headOption.exists(_.isInstanceOf[CTab]) &&
          args.lift(1).exists(_.isInstanceOf[CF]) =>
        val df = args.head.asInstanceOf[CTab].df
        val fn = f(1)
        val elems: Seq[CV] = frameValues(df)
        val init: CV = args.lift(2).getOrElse(
          if (elems.nonEmpty) elems.head
          else fail("$reduce over an empty frame needs an init value"))
        val rest = if (args.size > 2) elems else elems.drop(1)
        rest.foldLeft(init)((acc, x) => fn.fn(Seq(acc, x)))

      // the DISTRIBUTED twin of the driver frame fold (VERDICT r12
      // item 4): $reduceByKey(frame, 'key' [, 'val'], fn [, init])
      // folds a value column per key group entirely in-plan —
      // groupBy(key) + collect_list + the codegen'd `aggregate` HOF
      // applying the compiled user function, i.e. the declarative
      // equivalent of mapGroups without the typed-Encoder round trip.
      // The value column may be named explicitly (query frames carry
      // entity vars alongside the data columns) or inferred when the
      // frame has exactly one non-key column. Group values fold in
      // ASCENDING VALUE ORDER (sort_array): a distributed fold must
      // not depend on partitioning, so the order is pinned;
      // commutative-associative functions (the sane distributed-fold
      // contract) are order-free anyway. Numeric accumulator
      // (DoubleType), mirroring array $reduce. Returns a (key, value)
      // frame. Scale: one shuffle on the key; each GROUP's values
      // materialize as one array (bounded per key, never per corpus)
      // — the shape that replaces the 65536-row driver collect for
      // corpus-scale folds.
      case "$reduceByKey" =>
        val df = args.head match {
          case CTab(t) => t
          case _ => fail("$reduceByKey: argument 1 must be a query " +
            "frame")
        }
        val key = litStr(1)
        if (!df.columns.contains(key))
          fail(s"$$reduceByKey: frame has no column '$key' " +
            s"(columns: ${df.columns.mkString(", ")})")
        // 4-arg form names the value column; 3-arg form infers it
        val explicitVal = args.lift(2).exists(!_.isInstanceOf[CF])
        val fn = if (explicitVal) f(3) else f(2)
        val vcol =
          if (explicitVal) {
            val v = litStr(2)
            if (!df.columns.contains(v))
              fail(s"$$reduceByKey: frame has no column '$v' " +
                s"(columns: ${df.columns.mkString(", ")})")
            v
          } else {
            val others = df.columns.filterNot(_ == key).toSeq
            if (others.size != 1)
              fail("$reduceByKey: name the value column " +
                "($reduceByKey(frame, 'key', 'val', fn)) — the frame " +
                s"has several candidates: ${others.mkString(", ")}")
            others.head
          }
        val vdt = df.schema(vcol).dataType
        def kstep(acc: Column, x: Column): Column =
          scalar(materialize(fn.fn(Seq(sval(acc, DoubleType),
            sval(x, vdt))))).col.cast(DoubleType)
        val grouped = df.groupBy(col(key))
          .agg(sort_array(collect_list(col(vcol))).as("__vs"))
        val initIdx = if (explicitVal) 4 else 3
        val folded =
          if (args.size > initIdx)
            aggregate(col("__vs"), sc(initIdx).cast(DoubleType), kstep)
          else
            // try_element_at: collect_list drops nulls, so a key group
            // whose values are ALL null folds over an empty array —
            // the group's result is null (ANSI element_at would throw
            // INVALID_ARRAY_INDEX instead)
            aggregate(
              slice(col("__vs"), lit(2),
                greatest(size(col("__vs")) - 1, lit(0))),
              try_element_at(col("__vs"), lit(1)).cast(DoubleType), kstep)
        CTab(grouped.select(col(key), folded.as("value")))

      case "$reduce" =>
        val a = arr(0)
        val fn = f(1)
        def step(acc: Column, x: Column): Column =
          scalar(materialize(fn.fn(Seq(sval(acc, DoubleType),
            sval(x, a.dt))))).col.cast(DoubleType)
        if (args.size > 2)
          sval(aggregate(a.col, sc(2).cast(DoubleType), step), DoubleType)
        else
          // no init: first element seeds the fold (try_element_at so
          // an EMPTY array yields null — the reference's undefined —
          // instead of an ANSI INVALID_ARRAY_INDEX error)
          sval(aggregate(
            slice(a.col, lit(2), greatest(size(a.col) - 1, lit(0))),
            try_element_at(a.col, lit(1)).cast(DoubleType), step), DoubleType)
      case "$single" =>
        sval(Jsonata.single(arr(0).col, x =>
          Jsonata.boolean(scalar(materialize(f(1).fn(
            Seq(sval(x, arr(0).dt))))).col)), arr(0).dt)

      // strings (§2.2)
      case "$string" => d(0) match {
        // structures render as JSON text (reference: $string of
        // objects/arrays yields their JSON serialization)
        case CD(_, _: StructType | _: MapType, _) |
             CD(_, _, KJson | KSeq | KNested(_)) =>
          sval(to_json(materialize(d(0)).col), StringType)
        // identity on genuine strings (JSONata); the variant channel
        // (stringly-stored EAV numbers) keeps canonicalization
        case CD(_, StringType, _) => sval(sc(0), StringType)
        case CD(_, VariantType, _) =>
          sval(Jsonata.string(str(0)), StringType)
        case _ => sval(Jsonata.string(sc(0)), StringType)
      }
      case "$length" => sval(Jsonata.strLength(str(0)), IntegerType)
      case "$uppercase" => sval(Jsonata.uppercase(str(0)), StringType)
      case "$lowercase" => sval(Jsonata.lowercase(str(0)), StringType)
      case "$trim" => sval(Jsonata.trim(str(0)), StringType)
      case "$substring" =>
        sval(Jsonata.substring(str(0), sc(1).cast(IntegerType),
          if (args.size > 2) Some(sc(2).cast(IntegerType)) else None),
          StringType)
      case "$substringBefore" =>
        sval(Jsonata.substringBefore(str(0), str(1)), StringType)
      case "$substringAfter" =>
        sval(Jsonata.substringAfter(str(0), str(1)), StringType)
      case "$pad" =>
        sval(Jsonata.pad(str(0), litInt(1),
          if (args.size > 2) litStr(2) else " "), StringType)
      case "$contains" => argExprs.lift(1) match {
        // literal substring vs regex form (reference builtin.cljc:349-362)
        case Some(Ast.RegexLit(r)) =>
          sval(Jsonata.containsRegex(str(0), r), BooleanType)
        case _ => sval(Jsonata.containsStr(str(0), sc(1)), BooleanType)
      }
      case "$split" =>
        // string separators are LITERAL; only /re/ separators are regex
        val sep = argExprs.lift(1) match {
          case Some(Ast.RegexLit(r)) => r
          case _ => java.util.regex.Pattern.quote(litStr(1))
        }
        sseq(Jsonata.split(str(0), sep,
          if (args.size > 2) Some(litInt(2)) else None), StringType)
      case "$join" =>
        sval(Jsonata.join(arr(0).col,
          if (args.size > 1) litStr(1) else ""), StringType)
      case "$replace" => (argExprs.lift(1), args.lift(2)) match {
        case (Some(Ast.RegexLit(r)), Some(fn: CF)) =>
          // replacement FUNCTION form (builtin_test.cljc:120-124):
          // the lambda receives each match object {match,index,groups};
          // unmatched segments stitch around its results. Pure Column
          // fold over the $match array — no UDF.
          val s0 = str(0)
          val matchDt = DataType.fromDDL(
            "`match` string, `index` int, `groups` array<string>")
          val ms = Jsonata.rmatch(s0, r)
          val out = aggregate(ms,
            struct(lit("").as("out"), lit(0).as("pos")),
            (acc, m) => {
              val repl = scalar(materialize(fn.fn(Seq(
                CD(m, matchDt, KScalar))))).col.cast("string")
              struct(
                concat(acc.getField("out"),
                  s0.substr(acc.getField("pos") + 1,
                    m.getField("index") - acc.getField("pos")),
                  repl).as("out"),
                (m.getField("index") + length(m.getField("match")))
                  .as("pos"))
            },
            acc => concat(acc.getField("out"),
              s0.substr(acc.getField("pos") + 1,
                length(s0) - acc.getField("pos"))))
          sval(out, StringType)
        case (Some(Ast.RegexLit(r)), _) =>
          sval(Jsonata.replaceRegex(str(0), r, litStr(2)), StringType)
        case _ => // literal pattern: replace all occurrences verbatim
          sval(Jsonata.replaceStr(str(0), sc(1), sc(2)), StringType)
      }
      case "$match" =>
        val limit =
          if (args.size > 2) litInt(2) else Int.MaxValue
        val m = Jsonata.rmatch(str(0), litStr(1), limit)
        sseq(m, StructType(Seq(
          StructField("match", StringType),
          StructField("index", IntegerType),
          StructField("groups", ArrayType(StringType)))))
      case "$base64encode" =>
        sval(Jsonata.base64encode(str(0)), StringType)
      case "$base64decode" =>
        sval(Jsonata.base64decode(str(0)), StringType)
      case "$encodeUrl" => sval(Jsonata.encodeUrl(str(0)), StringType)
      case "$decodeUrl" => sval(Jsonata.decodeUrl(str(0)), StringType)
      case "$encodeUrlComponent" =>
        sval(Jsonata.encodeUrlComponent(str(0)), StringType)
      case "$decodeUrlComponent" =>
        sval(Jsonata.decodeUrlComponent(str(0)), StringType)

      // numerics (§2.3)
      // str(0) so variant inputs parse from their text form
      // ($number of a numeric variant reads its canonical JSON)
      case "$number" => sval(Jsonata.number(str(0)), DoubleType)
      case "$abs" => sval(Jsonata.abs(num(0)), numDt(0))
      case "$floor" => sval(Jsonata.floor(num(0)), LongType)
      case "$ceil" => sval(Jsonata.ceil(num(0)), LongType)
      case "$round" =>
        sval(Jsonata.round(num(0),
          if (args.size > 1) litInt(1) else 0), DoubleType)
      case "$power" => sval(Jsonata.power(num(0), num(1)), DoubleType)
      case "$sqrt" => sval(Jsonata.sqrt(num(0)), DoubleType)
      case "$random" => sval(Jsonata.random(), DoubleType)
      case "$formatBase" =>
        sval(Jsonata.formatBase(num(0).cast(LongType),
          if (args.size > 1) litInt(1) else 10), StringType)
      case "$formatNumber" =>
        sval(Jsonata.formatNumber(num(0), litStr(1)), StringType)
      case "$formatInteger" =>
        sval(Jsonata.formatInteger(num(0).cast(LongType), litStr(1)),
          StringType)
      case "$parseInteger" =>
        sval(Jsonata.parseInteger(str(0), litStr(1)), LongType)

      // booleans (§2.5)
      case "$boolean" => sval(Jsonata.boolean(materialize(d(0)).col),
        BooleanType)
      case "$not" => sval(Jsonata.not(materialize(d(0)).col), BooleanType)
      case "$exists" => sval(Jsonata.exists(sc(0)), BooleanType)

      // objects (§2.7) over struct values
      case "$merge" => d(0).dt match {
        // struct-typed args are handled statically in the compiler;
        // this is the dynamic form over an array of maps (query-path
        // attribute maps etc.) — last wins via LAST_WIN map_concat
        case ArrayType(mt: MapType, _) =>
          val spark = Compiler.sparkCtx.value
          if (spark != null)
            spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
          sval(aggregate(scalar(d(0)).col,
            map().cast(mt), (acc, m) => map_concat(acc, m)), mt)
        case other => fail(s"$$merge over $other")
      }
      case "$keys" => d(0).dt match {
        case st: StructType =>
          sseq(array(st.fieldNames.map(lit(_)): _*), StringType)
        case _: MapType =>
          sseq(Jsonata.keys(scalar(d(0)).col), StringType)
        case other => fail(s"$$keys over $other")
      }
      case "$lookup" => d(0).dt match {
        case st: StructType =>
          // NotCompileTimeString ONLY: a wrong-TYPE constant key
          // (fail()'s plain IllegalArgumentException, e.g. a numeric
          // literal) must keep failing loudly, not get string-coerced
          // into a map lookup that silently misses.
          val constKey = try Some(litStr(1)) catch {
            case _: NotCompileTimeString => None
          }
          constKey match {
            case Some(k) =>
              // absent key → no match (reference: Clojure `get` →
              // nil, builtin.cljc:1116-1123), NOT an analysis error
              st.find(_.name == k) match {
                case Some(fld) => sval(scalar(d(0)).col.getField(k),
                  fld.dataType)
                case None => sval(lit(null), NullType)
              }
            case None =>
              // COMPUTED key over an object literal (the scott
              // fixture's $CropClassLookup: $lookup(table,
              // $lowercase($key)) inside a mapped function): struct
              // field access is static, so lower to a map lookup —
              // try_element_at (null on miss, ANSI-safe) over the
              // struct's entries. Needs uniform value types, which
              // lookup-table objects have by construction.
              val vts = st.fields.map(_.dataType).toSeq.distinct
              val vt = vts match {
                case Seq(one) => one
                case _ => fail("$lookup with a computed key needs " +
                  s"uniform object value types, got $vts")
              }
              val s0 = scalar(d(0)).col
              val entries = st.fields.toSeq.flatMap(fld =>
                Seq(lit(fld.name), s0.getField(fld.name).cast(vt)))
              sval(try_element_at(map(entries: _*), str(1)), vt)
          }
        case NullType => sval(lit(null), NullType) // get on nil → nil
        case _ => sval(Jsonata.lookup(scalar(d(0)).col, sc(1)),
          d(0).dt.asInstanceOf[MapType].valueType)
      }
      // object HOFs over struct values (static field walk; value types
      // unify to the common Spark type)
      case "$each" => d(0).dt match {
        case st: StructType =>
          val fn = f(1)
          val results = st.fields.toSeq.map { fld =>
            materialize(fn.fn(Seq(
              sval(scalar(d(0)).col.getField(fld.name), fld.dataType),
              sval(lit(fld.name), StringType))))
          }
          val dt = results.map(r => Compiler.colType(r))
            .reduce((a, b) => if (a == b) a else DoubleType)
          sseq(array(results.map(_.col.cast(dt)): _*), dt)
        case other => fail(s"$$each over $other")
      }
      case "$spread" => d(0).dt match {
        case st: StructType =>
          val s0 = scalar(d(0)).col
          val vt = st.fields.map(_.dataType).toSeq.distinct match {
            case Seq(one) => one
            case _ => StringType
          }
          sseq(array(st.fields.toSeq.map(fld =>
            map(lit(fld.name), s0.getField(fld.name).cast(vt))): _*),
            MapType(StringType, vt))
        case other => fail(s"$$spread over $other")
      }
      case "$sift" => d(0).dt match {
        case st: StructType =>
          val fn = f(1)
          val s0 = scalar(d(0)).col
          val vt = st.fields.map(_.dataType).toSeq.distinct match {
            case Seq(one) => one
            case _ => StringType
          }
          val entries = st.fields.toSeq.map { fld =>
            val v = s0.getField(fld.name)
            val keep = Jsonata.boolean(scalar(materialize(fn.fn(Seq(
              sval(v, fld.dataType), sval(lit(fld.name), StringType))))).col)
            when(keep, struct(lit(fld.name).as("key"),
              v.cast(vt).as("value")))
          }
          sval(map_from_entries(filter(array(entries: _*), _.isNotNull)),
            MapType(StringType, vt))
        case other => fail(s"$$sift over $other")
      }
      case "$reduceKV" => d(2).dt match {
        case st: StructType =>
          val fn = f(0)
          val s2 = scalar(d(2)).col
          val init = scalar(d(1))
          sval(st.fields.foldLeft(init.col) { (acc, fld) =>
            scalar(materialize(fn.fn(Seq(
              sval(acc, init.dt), sval(lit(fld.name), StringType),
              sval(s2.getField(fld.name), fld.dataType))))).col
          }, init.dt)
        case other => fail(s"$$reduceKV over $other")
      }
      case "$assoc" => d(0).dt match {
        case st: StructType =>
          val k = litStr(1)
          val v = materialize(d(2))
          val s0 = scalar(d(0)).col
          val kept = st.fields.toSeq.filterNot(_.name == k)
            .map(fld => s0.getField(fld.name).as(fld.name))
          val fields = kept :+ v.col.as(k)
          sval(struct(fields: _*), StructType(
            st.fields.toSeq.filterNot(_.name == k).map(f2 =>
              StructField(f2.name, f2.dataType)) :+
              StructField(k, Compiler.colType(v))))
        case NullType =>
          // assoc on nil → {k: v} (reference: Clojure assoc,
          // builtin.cljc:2320-2322)
          val k = litStr(1)
          val v = materialize(d(2))
          sval(struct(v.col.as(k)),
            StructType(Seq(StructField(k, Compiler.colType(v)))))
        case other => fail(s"$$assoc over $other")
      }

      case "$update" => d(0).dt match {
        // one field's value via fn (static struct walk); a MISSING
        // key is INSERTED with fn(null) — reference: Clojure update
        // (builtin.cljc:2324-2326), the recursive-$shape insert path
        case st: StructType =>
          val k = litStr(1)
          val fn = f(2)
          val s0 = scalar(d(0)).col
          val present: Seq[(String, CD)] = st.fields.toSeq.map { fld =>
            if (fld.name == k)
              fld.name -> materialize(fn.fn(Seq(
                sval(s0.getField(k), fld.dataType).asInstanceOf[CD])))
            else fld.name ->
              CD(s0.getField(fld.name), fld.dataType, KScalar)
          }
          val fields =
            if (st.fieldNames.contains(k)) present
            else present :+ (k -> materialize(fn.fn(Seq(
              sval(lit(null), NullType).asInstanceOf[CD]))))
          sval(struct(fields.map { case (n, c) => c.col.as(n) }: _*),
            StructType(fields.map { case (n, c) =>
              StructField(n, Compiler.colType(c)) }))
        case NullType =>
          // update on nil → {k: fn(null)}
          val k = litStr(1)
          val v = materialize(f(2).fn(Seq(
            CD(lit(null), NullType, Compiler.KScalar))))
          sval(struct(v.col.as(k)),
            StructType(Seq(StructField(k, Compiler.colType(v)))))
        case other => fail(s"$$update over $other")
      }
      case "$mapObject" => d(0).dt match {
        // fn(v, k) → new value; keys preserved (the key-rewrite form
        // would need dynamic keys → map output)
        case st: StructType =>
          val fn = f(1)
          val s0 = scalar(d(0)).col
          val fields: Seq[(String, CD)] = st.fields.toSeq.map { fld =>
            fld.name -> materialize(fn.fn(Seq(
              sval(s0.getField(fld.name), fld.dataType),
              sval(lit(fld.name), StringType))))
          }
          sval(struct(fields.map { case (n, c) => c.col.as(n) }: _*),
            StructType(fields.map { case (n, c) =>
              StructField(n, Compiler.colType(c)) }))
        case other => fail(s"$$mapObject over $other")
      }

      case "$type" =>
        val m = materialize(d(0))
        // variant values carry no static type — classify per row from
        // the variant's own schema (JsonataType would see VariantType
        // and misreport every element as "string")
        if (m.dt == VariantType && m.kind == KScalar)
          sval(Compiler.variantJType(m.col), StringType)
        else sval(Jsonata.jtype(m.col), StringType)
      case "$error" => sval(Jsonata.error(sc(0)), NullType)
      case "$assert" =>
        sval(Jsonata.jassert(sc(0), "assertion failed"), NullType)

      // datetime (§2.10)
      case "$now" =>
        if (args.isEmpty)
          sval(date_format(current_timestamp(),
            "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"), StringType)
        else sval(Jsonata.now(litStr(0)), StringType)
      case "$millis" => sval(Jsonata.millis(), LongType)
      case "$fromMillis" =>
        if (args.size > 1)
          sval(Jsonata.fromMillis(sc(0).cast(LongType), litStr(1)),
            StringType)
        else sval(Jsonata.fromMillis(sc(0).cast(LongType)), StringType)
      case "$toMillis" =>
        if (args.size > 1)
          sval(Jsonata.toMillis(sc(0), litStr(1)), LongType)
        else sval(Jsonata.toMillis(sc(0)), LongType)

      // `$get`/`$put` graph forms (reference builtin.cljc:1555-1624):
      // [ident-type, ident-val] + out-props resolve through the
      // Graph.resolver seam (recorded fixtures here; HTTP in prod).
      // `fn/exe` members compile fn_src to an executable, so
      // `$get([['library/fn','f'],['fn/exe']]).fn_exe` is applicable.
      case "$get" if argExprs.headOption.exists(_.isInstanceOf[Ast.ArrLit]) =>
        def strs(e: Ast.Expr): Seq[String] = e match {
          case Ast.ArrLit(items) => items.map {
            case Ast.StrLit(s) => s
            case other => fail(s"$$get: expected string literal, $other")
          }
          case other => fail(s"$$get: expected array literal, $other")
        }
        val (ident, props) = argExprs.head match {
          // nested form: $get([[type, val], [props...]])
          case Ast.ArrLit(Seq(id: Ast.ArrLit, pr: Ast.ArrLit)) =>
            (strs(id), strs(pr))
          // flat form: $get([type, val], [props...]?)
          case flat: Ast.ArrLit =>
            (strs(flat), argExprs.lift(1).map(strs).getOrElse(Nil))
        }
        val Seq(identType, identVal) = ident
        val m = graft.sources.Graph.resolver.get(identType, identVal, props)
        val wantExe = props.exists(p => p.replace('/', '_') == "fn_exe")
        val wantSrc = props.exists(p => p.replace('/', '_') == "fn_src")
        val data = m.toSeq.sortBy(_._1)
          .filterNot { case (k, _) => k == "fn_src" && wantExe && !wantSrc }
          .map {
            case (k, v: String) => k -> (CD(lit(v), StringType, KScalar): CV)
            case (k, vs: Seq[_]) => // list-valued props (list_content)
              k -> (CD(array(vs.map(x => lit(x.toString)): _*),
                StringType, KJson): CV)
            case (k, v) => k -> (CD(lit(v.toString), StringType,
              KScalar): CV)
          }
        val exe: Seq[(String, CV)] =
          if (wantExe && m.contains("fn_src"))
            Seq("fn_exe" -> Compiler.compile(
              Parser.parse(m("fn_src").toString)))
          else Nil
        CObj(data ++ exe)

      case "$put" =>
        val ident = argExprs.headOption match {
          case Some(Ast.ArrLit(Seq(Ast.StrLit(t), Ast.StrLit(v)))) => (t, v)
          case other => fail(s"$$put: first argument must be " +
            s"[ident-type, ident-val] string literals, got $other")
        }
        val obj = argExprs.lift(1) match {
          case Some(Ast.ObjLit(pairs)) => pairs.map {
            case (Ast.StrLit(k), Ast.StrLit(v)) => k -> v
            case (k, v) => fail(s"$$put: object members must be string " +
              s"literals, got $k : $v")
          }.toMap
          case other => fail(s"$$put: second argument must be an object " +
            s"literal, got $other")
        }
        CD(lit(graft.sources.Graph.resolver.put(ident._1, ident._2, obj)),
          StringType, KScalar)

      // `$get`/`$read` — file ingestion (reference builtin.cljc:
      // 1555-1624; the REST/graph forms are server infrastructure,
      // out of engine scope)
      case "$get" | "$read" =>
        val spark = Compiler.sparkCtx.value
        if (spark == null) fail(s"$name needs RM.eval (no session bound)")
        val path = litStr(0)
        val df =
          if (path.endsWith(".json")) graft.sources.Ingest.readJson(spark, path)
          else if (path.endsWith(".xml")) graft.sources.Ingest.readXml(spark, path)
          else if (path.endsWith(".edn")) graft.sources.Ingest.readEdn(spark, path)
          else if (path.endsWith(".csv") || path.endsWith(".xlsx"))
            graft.sources.Ingest.readSpreadsheet(spark, path)
          else if (path.endsWith(".parquet")) spark.read.parquet(path)
          else fail(s"$name: unsupported extension in $path")
        CTab(df)

      // `$getSpreadsheet(file, sheet, invert?)` — reference
      // builtin.cljc:1658-1675 (docjure there; self-contained zip+XML
      // reader here, sources/Ingest.readXlsx)
      // `$llmExtract(src, seek)` (reference builtin.cljc:2703-2738).
      // Frame form: batched executor-side extraction over a text
      // column (the 100 TB path). Scalar form: per-value extraction
      // through the same client, as the reference does per call.
      case "$llmExtract" => args.head match {
        case CTab(df) =>
          CTab(graft.llm.Llm.extract(df, litStr(1), litStr(2)))
        case _ =>
          val seek = litStr(1)
          val client = new graft.llm.Llm.ReplayClient
          val ex = org.apache.spark.sql.functions.udf((t: String) =>
            if (t == null) null
            else client.complete(Seq(s"$seek\nTEXT: $t")).head)
          sval(ex(sc(0)), StringType)
      }

      // `$llmMatch(src, tar)` (reference builtin.cljc:2533-2626,
      // default asFn?=true): derive a target←source field mapping and
      // return it as an EXECUTABLE projection function over frames.
      case "$llmMatch" =>
        val srcDf = args.head match {
          case CTab(df) => df
          case d0: CD => d0.dt match {
            case st: StructType =>
              val spark = Compiler.sparkCtx.value
              spark.range(1).select(st.fieldNames.toSeq.map(n =>
                d0.col.getField(n).as(n)): _*)
            case other => fail(s"$$llmMatch: source must be a frame " +
              s"or object, got $other")
          }
          case _ => fail("$llmMatch: source must be a frame or object")
        }
        val targets = argExprs.lift(1) match {
          case Some(Ast.ArrLit(items)) => items.map {
            case Ast.StrLit(f2) => f2
            case other => fail(s"$$llmMatch: target fields must be " +
              s"string literals, got $other")
          }
          case Some(Ast.ObjLit(pairs)) => pairs.map {
            case (Ast.StrLit(k), _) => k
            case (k, _) => fail(s"$$llmMatch: target keys must be " +
              s"string literals, got $k")
          }
          case other => fail(s"$$llmMatch: target shape must be an " +
            s"array or object literal, got $other")
        }
        // optional third arg (reference builtin.cljc:2537,2618-2623):
        // {'asFn?': true} (the 2-arg default) returns the executable
        // mapping; {'asFn?': false} returns the mapping as data
        // (target → source), the match-post-set-paths shape
        val asFn = argExprs.lift(2) match {
          case None => true
          case Some(Ast.ObjLit(pairs)) =>
            val opts = pairs.map {
              case (Ast.StrLit(k), v) => k -> v
              case (k, _) => fail(s"$$llmMatch: option keys must be " +
                s"string literals, got $k")
            }
            opts.collectFirst {
              case (k, _) if k != "asFn?" =>
                fail(s"$$llmMatch: unknown option '$k' (only asFn?)")
            }
            // the value must be a boolean LITERAL — a string 'false'
            // silently coercing to the default would hand the user a
            // function where they asked for mapping-as-data
            opts.collectFirst { case ("asFn?", v) => v } match {
              case Some(Ast.BoolLit(b)) => b
              case Some(other) => fail("$llmMatch: asFn? must be a " +
                s"boolean literal, got $other")
              case None => true
            }
          case Some(other) => fail(s"$$llmMatch: options must be an " +
            s"object literal, got $other")
        }
        val mapping = graft.llm.Llm.matchShapes(srcDf, targets)
        if (!asFn)
          CObj(mapping.map { case (t, s) =>
            t -> sval(org.apache.spark.sql.functions.lit(s), StringType)
          })
        else CF(1, fnArgs => fnArgs.head match {
          case CTab(df) => CTab(graft.llm.Llm.applyMapping(df, mapping))
          case _ => fail("$llmMatch mapping applies to a frame")
        })

      case "$getSpreadsheet" =>
        val spark = Compiler.sparkCtx.value
        if (spark == null)
          fail("$getSpreadsheet needs RM.eval (no session bound)")
        val invert = argExprs.lift(2) match {
          case Some(Ast.BoolLit(b)) => b
          case None => false
          case other => fail(s"$$getSpreadsheet: invert must be a " +
            s"boolean literal, got $other")
        }
        CTab(graft.sources.Ingest.readSpreadsheet(spark, litStr(0),
          if (args.size > 1) litStr(1) else "", invert))

      // `$eval` — driver-side re-entry into the compiler (reference
      // builtin.cljc:1541-1553; no executor eval, per SURVEY §7.4)
      case "$eval" =>
        val spark = Compiler.sparkCtx.value
        if (spark == null) fail("$eval needs RM.eval (no session bound)")
        RM.eval(litStr(0), spark) match {
          case None => sval(lit(null).cast(StringType), StringType)
          case Some(v) => literalCV(v)
        }

      // ---- EAV / schema surface (reference parse.cljc:83 rm-fns) ----
      // $db (builtin.cljc:1682-1685): data → database. Ours is the
      // triple frame (Shred.dbFor, which query{} application also
      // uses, so a database passes through it unchanged). Binding
      // values from queries over tables only, $db results included,
      // carry the canonical string encoding (the Scala-API
      // QueryCompiler.run contract); a literal argument makes them typed.
      case "$db" =>
        CTab(graft.shred.Shred.dbFor(frameArg(0, "$db")))

      // $pull (builtin.cljc:1677-1680): all data about one entity.
      // Driver-side by design (ONE entity's attributes — the
      // interactive companion of the distributed unshredFlat);
      // values restore their boxed types (vt), card-many attributes
      // come back as arrays sorted (numeric, then canonical string)
      // since EAV stores sets, refs stay sub-entity id strings.
      case "$pull" =>
        val spark = Compiler.sparkCtx.value
        if (spark == null) fail("$pull needs a bound session")
        val id = args.head match {
          case dd: CD =>
            val r = spark.range(1)
              .select(scalar(dd).col.cast(StringType)).collect()(0)
            if (r.isNullAt(0)) fail("$pull: entity id is null")
            r.getString(0)
          case CTab(df) =>
            // limit(2): validate the exactly-one contract at constant
            // driver cost even when the id query matched millions
            val vals = df.distinct().limit(2).collect()
            if (vals.length != 1 || vals(0).length != 1)
              fail(s"$$pull: id frame must hold exactly one value, " +
                s"got ${if (vals.isEmpty) "no" else "multiple"} value(s)")
            String.valueOf(vals(0).get(0))
          case _ => fail("$pull: first argument must be an entity id")
        }
        val trip = graft.shred.Shred.dbFor(frameArg(1, "$pull"))
        val rows = trip.filter(col("e") === lit(id))
          .select("a", "v", "vt", "vn").collect()
        if (rows.isEmpty) sval(lit(null).cast(StringType), StringType)
        else {
          def restore(r: org.apache.spark.sql.Row): Any =
            if (r.isNullAt(1)) null // pre-existing triple frames may carry null v
            else r.getString(2) match {
              case "num" =>
                val v = r.getString(1)
                // integral-but-wider-than-Long (decimal(38,0) sources)
                // restores as double rather than NumberFormatException
                if (v.matches("-?\\d+"))
                  try v.toLong catch { case _: NumberFormatException => v.toDouble }
                else v.toDouble
              case "bool" => r.getString(1).toBoolean
              case _ => r.getString(1) // str and ref
            }
          val byAttr = rows.groupBy(_.getString(0)).toSeq
            .sortBy(_._1)
            .map { case (a, rs) =>
              val sorted = rs.sortBy(r =>
                (if (r.isNullAt(3)) (1, 0.0d, r.getString(1))
                 else (0, r.getDouble(3), r.getString(1))))
              a -> (if (sorted.length == 1) restore(sorted.head)
                    else sorted.map(restore).toSeq)
            }
          literalCV(scala.collection.immutable.ListMap(byAttr: _*))
        }

      // $schemaFor (builtin.cljc:1688-1692): learned schema of the
      // data, as the engine's schema JSON (Spark StructType.json —
      // the form $addSchema consumes).
      case "$schemaFor" =>
        sval(lit(graft.sources.Ingest.schemaFor(frameArg(0,
          "$schemaFor"))), StringType)

      // $addSchema (builtin.cljc:2219-2226): overlay known schema
      // onto learned — here a pure merge of two schema JSONs (right
      // wins on conflicts); the reference's model-context bookkeeping
      // is server-side, out of engine scope (Ingest.addSchema doc).
      case "$addSchema" =>
        def schemaOf(i: Int): StructType = {
          val spark = Compiler.sparkCtx.value
          if (spark == null) fail("$addSchema needs a bound session")
          val r = spark.range(1)
            .select(scalar(d(i)).col.cast(StringType)).collect()(0)
          if (r.isNullAt(0)) fail(s"$$addSchema: argument ${i + 1} is null")
          DataType.fromJson(r.getString(0)) match {
            case st: StructType => st
            case other => fail(s"$$addSchema: not a struct schema: $other")
          }
        }
        sval(lit(graft.sources.Ingest
          .addSchema(schemaOf(0), schemaOf(1)).json), StringType)

      // $identities (builtin.cljc:2305-2311): {'query': …,
      // 'express': …} — runnable body strings, reference-numbered
      // (?e1/?v1 depth-first).
      case "$identities" =>
        val (q, e) = graft.shred.Identities.identitiesText(
          frameArg(0, "$identities").schema)
        CD(struct(lit(q).as("query"), lit(e).as("express")),
          StructType(Seq(StructField("query", StringType),
            StructField("express", StringType))), KScalar)

      case other => fail(s"unknown function $other")
    }
  }

  /** Rendered elements → one explicit array CD: uniform shapes keep
    * their type (element type = the rendered column type — scalars
    * their dt, sequence elements array<dt>); mixed shapes box through
    * variant. Shared by the frame $map/$filter driver forms.
    */
  private def packSeq(out: Seq[CD]): CV =
    if (out.isEmpty) CD(array(), NullType, KJson)
    else if (out.map(Compiler.colType).distinct.size == 1)
      CD(array(out.map(_.col): _*), Compiler.colType(out.head), KJson)
    else CD(array(out.map(Compiler.variantOf): _*), VariantType, KJson)

  /** Driver-side HOF safety cap: folds/maps of user FUNCTIONS over a
    * frame collect it (that is what bounds data-dependent recursion),
    * which is only sane for interactive/metadata-shaped results. A
    * corpus-scale frame must use the distributed forms — $reduce/$map
    * with express{}, or frame filter steps — so the collect refuses
    * loudly instead of OOMing the driver.
    */
  private val MaxDriverFoldRows = 65536

  /** Collect a (small) frame's rows as literal CVs for driver-side
    * HOFs: a single `value` column yields the plain values; binding
    * sets yield one map per row keyed by column name.
    */
  private def frameValues(df: org.apache.spark.sql.DataFrame): Seq[CV] = {
    val cols = df.columns.toSeq
    val rows = df.limit(MaxDriverFoldRows + 1).collect().toSeq
    if (rows.size > MaxDriverFoldRows)
      fail(s"driver-side fold over a frame with more than " +
        s"$MaxDriverFoldRows rows — use the distributed forms " +
        "($reduceByKey(frame, 'key', fn) for keyed folds, " +
        "$reduce/$map with express{}, or a frame filter step) " +
        "for corpus-scale data")
    rows.map { r =>
      if (cols == Seq("value")) literalCV(normalizeVal(r.get(0)))
      else literalCV(cols.zipWithIndex.collect {
        case (c, i) if !r.isNullAt(i) => c -> normalizeVal(r.get(i))
      }.toMap)
    }
  }

  private def normalizeVal(v: Any): Any = v match {
    case r: org.apache.spark.sql.Row =>
      r.schema.fieldNames.toSeq.zipWithIndex.collect {
        case (n, i) if !r.isNullAt(i) => n -> normalizeVal(r.get(i))
      }.toMap
    case s: Seq[_] => s.map(normalizeVal)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k -> normalizeVal(x) }.toMap
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case f: Float => f.toDouble
    case d: java.math.BigDecimal => d.doubleValue
    case other => other // incl. null, Timestamp/Date (literalCV lits them)
  }

  /** Driver value → literal column value ($eval results and the
    * frame HOFs' collected elements).
    */
  private def literalCV(v: Any): CV = v match {
    case null => CD(lit(null), NullType, KScalar) // no-match
    case n: Long => CD(lit(n), LongType, KScalar)
    case n: Double => CD(lit(n), DoubleType, KScalar)
    case s: String => CD(lit(s), StringType, KScalar)
    case b: Boolean => CD(lit(b), BooleanType, KScalar)
    case t: java.sql.Timestamp => CD(lit(t), TimestampType, KScalar)
    case d: java.sql.Date => CD(lit(d), DateType, KScalar)
    case t: java.time.Instant => CD(lit(t), TimestampType, KScalar)
    case d: java.time.LocalDate => CD(lit(d), DateType, KScalar)
    case s: Seq[_] =>
      val elems = s.map(literalCV(_).asInstanceOf[CD])
      val dt = elems.headOption.map(_.dt)
        .getOrElse(StringType)
      CD(array(elems.map(_.col.cast(dt)): _*), dt, KJson)
    case m: Map[_, _] =>
      val fields = m.toSeq.map { case (k, x) =>
        k.toString -> literalCV(x).asInstanceOf[CD]
      }
      CD(struct(fields.map { case (k, d) => d.col.as(k) }: _*),
        StructType(fields.map { case (k, d) =>
          StructField(k, Compiler.colType(d)) }), KScalar)
    case other => fail(s"cannot re-inject driver value $other " +
      s"(${other.getClass.getSimpleName}) as a literal")
  }

}
