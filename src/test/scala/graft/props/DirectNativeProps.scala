package graft.props

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{classify, forAll}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.query.{QueryCompiler, QueryReference}
import graft.query.QueryCompiler.{C, DocSource, Pattern, V, W}

/** Generative differential test for the r14 native-typed direct path:
  * on ARBITRARY flat frames (random column types incl. int/long/
  * float/double/decimal/date/timestamp/string/bool, nulls, small
  * value pools forcing join hits and duplicate binding sets; long OR
  * string entity-id columns) and ARBITRARY constant-attribute pattern
  * conjunctions (1–2 sources, shared value vars, deliberate
  * repeated-qvar-within-a-group cases, constants, wildcards),
  * [[QueryReference.runDocsNative]] — whenever it engages — must
  * return row-for-row and schema-for-schema exactly what the boxed
  * authority [[QueryReference.runDocsBoxedOpt]] returns. When it declines
  * (mixed integral+fractional vars, mixed decimal scales etc.), the
  * boxed form must still evaluate — the caller's fallback is always
  * sound.
  *
  * Budget: `GRAFT_PROP_N` (default 24) — raise it for a soak run.
  * Classification labels surface how often each eligibility branch
  * engages, so a vacuous run is visible in the report.
  */
object DirectNativeProps extends Properties("graft.query.native") {

  private lazy val spark = graft.SparkSpec.session

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    PropBudget(p, 24)

  private val dec2 = DecimalType(12, 2)
  private val dec0 = DecimalType(10, 0)
  private val colTypes: Seq[DataType] =
    Seq(LongType, IntegerType, DoubleType, FloatType, dec2, dec0,
      DateType, TimestampType, StringType, BooleanType)

  private def bd(s: String) = new java.math.BigDecimal(s)

  // small pools force cross-row duplicates (distinct has work to do)
  // and cross-source join hits; numeric pools overlap integrally so a
  // long column and a double/decimal column CAN carry equal canonical
  // values (the decimal+integral widened travel of r15)
  private def valueGen(dt: DataType): Gen[Any] = {
    val g: Gen[Any] = dt match {
      case LongType => Gen.oneOf(1L, 2L, 3L, 4L)
      case IntegerType => Gen.oneOf(1, 2, 3)
      case DoubleType => Gen.oneOf(1.0d, 2.0d, 2.5d, -3.25d)
      case FloatType => Gen.oneOf(1.0f, 2.0f, 2.5f, -3.25f)
      case `dec2` => Gen.oneOf(bd("1.00"), bd("2.00"), bd("2.50"),
        bd("5.25"))
      case `dec0` => Gen.oneOf(bd("1"), bd("2"), bd("3"))
      case DateType => Gen.oneOf(
        java.sql.Date.valueOf("2020-01-01"),
        java.sql.Date.valueOf("2020-01-02"),
        java.sql.Date.valueOf("2020-01-03"))
      case TimestampType => Gen.oneOf(
        java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2020-01-01 00:00:01"),
        java.sql.Timestamp.valueOf("2020-01-02 12:30:00"))
      case StringType => Gen.oneOf("a", "b", "2", "")
      case BooleanType => Gen.oneOf(true, false)
      case other => sys.error(s"unexpected $other")
    }
    Gen.frequency(5 -> g, 1 -> Gen.const(null))
  }

  private case class Src(name: String, schema: StructType,
    rows: Seq[Row])

  private val attrPool = Seq("p", "q", "r")

  private def srcGen(name: String): Gen[Src] = for {
    nAttrs <- Gen.choose(1, 3)
    attrs = attrPool.take(nAttrs)
    // sometimes all attrs share one type, so the repeated-var-in-group
    // case co-occurs with NATIVE engagement (mixed types force the
    // fallback and would leave that branch untested on the native side)
    uniform <- Gen.frequency(2 -> false, 1 -> true)
    dts <- if (uniform) Gen.oneOf(colTypes).map(t => attrs.map(_ => t))
      else Gen.sequence[Seq[DataType], DataType](
        attrs.map(_ => Gen.oneOf(colTypes)))
    stringId <- Gen.frequency(3 -> false, 1 -> true)
    nRows <- Gen.choose(1, 12)
    rows <- Gen.sequence[Seq[Row], Row]((1 to nRows).map { i =>
      val id: Any = if (stringId) i.toString else i.toLong
      Gen.sequence[Seq[Any], Any](dts.map(valueGen))
        .map(vs => Row.fromSeq(id +: vs))
    })
  } yield Src(name,
    StructType(StructField("rid",
      if (stringId) StringType else LongType, nullable = false) +:
      attrs.zip(dts).map { case (a, dt) =>
        StructField(a, dt, nullable = true) }),
    rows)

  /** Pattern conjunction: per source one entity var, 1–attrs patterns
    * with distinct attrs; value positions draw vars from a SHARED
    * small pool (cross-source joins), constants, or wildcards. With
    * probability ~1/4 ALL value positions of a source collapse onto
    * one var — the deliberate repeated-qvar-WITHIN-a-group case (the
    * bug class the r14 run caught incidentally).
    */
  private def patsGen(srcs: Seq[Src]): Gen[(Seq[Pattern], Boolean)] =
    Gen.sequence[Seq[(Seq[Pattern], Boolean)], (Seq[Pattern], Boolean)](
      srcs.zipWithIndex.map { case (s, si) =>
        val attrs = s.schema.fields.drop(1).map(_.name).toSeq
        for {
          n <- Gen.choose(1, attrs.size)
          chosen = attrs.take(n)
          collapse <- Gen.frequency(3 -> false, 1 -> true)
          vterms <- Gen.sequence[Seq[QueryCompiler.Term],
            QueryCompiler.Term](chosen.map { a =>
              val dt = s.schema(a).dataType
              if (collapse) Gen.const(V("x"))
              else Gen.frequency[QueryCompiler.Term](
                5 -> Gen.oneOf("x", "y", "z").map(V(_)),
                2 -> valueGen(dt).retryUntil(_ != null).map(C(_)),
                1 -> Gen.const(W))
            })
        } yield (chosen.zip(vterms).map { case (a, vt) =>
          Pattern(V(s"e$si"), C(a), vt, s.name)
        }, collapse && n >= 2)
      }).map(ps => (ps.flatMap(_._1), ps.exists(_._2)))

  private def render(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // schemas must agree modulo NULLABILITY: the product plan's explode
  // of a null-gated collect_set legitimately narrows v to non-null on
  // the native route (stronger, value-identical)
  private def norm(st: StructType): DataType =
    StructType(st.fields.map(f => f.copy(nullable = true,
      dataType = f.dataType match {
        case s: StructType => norm(s)
        case d => d
      })))

  property("native == boxed on arbitrary frames and conjunctions") =
    forAll(Gen.choose(1, 2).flatMap(k =>
      Gen.sequence[Seq[Src], Src]((0 until k).map(i => srcGen(s"s$i")))
        .flatMap(ss => patsGen(ss).map { case (ps, rep) =>
          (ss, ps, rep) }))) {
      case (srcs, pats, repeatInGroup) =>
        val sources = srcs.map(s => s.name -> DocSource(
          spark.createDataFrame(
            spark.sparkContext.parallelize(s.rows, 2), s.schema),
          "rid")).toMap
        val boxed = QueryReference.runDocsBoxedOpt(sources, pats).get
        val planned = QueryCompiler.planDocs(sources, pats, Nil,
          keepDBid = false, _ => Nil, boxed = false)
        val nativeOpt = planned.map(_.bsets)
        // the qvar types the planner proved for the native build
        val travelKinds = planned.map(_.varTypes.values
          .map(_.map(_.getClass.getSimpleName).toSeq.sorted
            .mkString("+")).toSet.mkString(",")).getOrElse("")
        // classify so a vacuous run (native never engaging, or the
        // repeated-var / decimal-mix branches never exercised) is
        // VISIBLE in the report, not silently green
        classify(nativeOpt.isDefined, "native", "fallback") {
          classify(repeatInGroup, "repeatedVarInGroup", "distinctVars") {
            classify(travelKinds.contains("Decimal"), "hasDecimal",
              "noDecimal") {
              nativeOpt match {
                case Some(native) =>
                  val (ns, bs) = (render(native), render(boxed))
                  val ok = ns == bs &&
                    norm(native.schema) == norm(boxed.schema)
                  if (!ok) println(s"MISMATCH pats=$pats\n native=$ns\n " +
                    s"boxed=$bs")
                  ok
                case None => // fallback: the authority must still evaluate
                  render(boxed); true
              }
            }
          }
        }
    }
}
