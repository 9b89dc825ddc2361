package graft.props

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{classify, forAll}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.query.{QueryCompiler, QueryReference}
import graft.query.QueryCompiler.{C, Pattern, V, W}
import graft.shred.Shred

/** Generative differential for the round-16 regrouping semantics: on
  * ARBITRARY documents — flat and struct-nested columns, nullable
  * values, and deliberately DUPLICATED entity ids (small id pools) —
  * and ARBITRARY constant-attribute conjunctions (roots, struct-ref
  * chains, wildcard entities, constants, repeated qvars), the public
  * `runBoxed` (shred-aware regrouping → fused or per-entity-product
  * plans → typed-EAV fallback) must return exactly what the
  * canonical-string EAV authority returns, both for an explicit
  * user idCol shred (duplicates possible → product plans) and for the
  * content-derived-id shred (fused plans).
  *
  * This is the pin for the two round-16 bug classes: row-local fusion
  * silently zipping what Datalog cross-products under duplicate ids,
  * and kind-mismatched value constants matching on the canonical
  * string alone.
  *
  * Budget: `GRAFT_PROP_N` (default 24) — raise it for a soak run.
  */
object EavRegroupProps extends Properties("graft.query.regroup") {

  private lazy val spark = graft.SparkSpec.session

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    PropBudget(p, 24)

  private def valueGen(dt: DataType): Gen[Any] = {
    val g: Gen[Any] = dt match {
      case LongType => Gen.oneOf(1L, 2L, 3L)
      // 1e20 and NaN: no long round-trip (the try-cast canon branch)
      case DoubleType =>
        Gen.oneOf(1.0d, 2.0d, 2.5d, -3.25d, 0.0d, 1e20d, Double.NaN)
      case StringType => Gen.oneOf("a", "b", "2", "")
      case BooleanType => Gen.oneOf(true, false)
      case DateType => Gen.oneOf(java.sql.Date.valueOf("2020-01-01"),
        java.sql.Date.valueOf("2020-01-02"))
      case TimestampType => Gen.oneOf(
        java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2020-01-01 00:00:00.5"))
      case other => sys.error(s"unexpected $other")
    }
    Gen.frequency(4 -> g, 1 -> Gen.const(null))
  }

  private val leafTypes: Seq[DataType] = Seq(LongType, DoubleType,
    StringType, BooleanType, DateType, TimestampType)

  // schema: 1-2 flat leaf columns (p, q) + optionally a struct `s`
  // with 1-2 leaves (u, w), sometimes nested one level deeper (`t.z`)
  private case class Doc(schema: StructType, rows: Seq[Row])

  private def rowGen(schema: StructType, idPool: Int): Gen[Row] = {
    def fieldGen(dt: DataType): Gen[Any] = dt match {
      case st: StructType =>
        Gen.frequency(
          4 -> Gen.sequence[Seq[Any], Any](
            st.fields.toSeq.map(f => fieldGen(f.dataType)))
            .map(Row.fromSeq),
          1 -> Gen.const(null))
      case ArrayType(et, _) =>
        Gen.frequency(
          4 -> Gen.choose(0, 3).flatMap(k =>
            Gen.sequence[Seq[Any], Any](
              (0 until k).map(_ => Gen.frequency(
                4 -> fieldGen(et), 1 -> Gen.const(null))))),
          1 -> Gen.const(null))
      case d => valueGen(d)
    }
    for {
      id <- Gen.choose(1, idPool)
      vs <- Gen.sequence[Seq[Any], Any](
        schema.fields.toSeq.drop(1).map(f => fieldGen(f.dataType)))
    } yield Row.fromSeq(id.toLong +: vs)
  }

  private def docGen: Gen[Doc] = for {
    pDt <- Gen.oneOf(leafTypes)
    qDt <- Gen.oneOf(leafTypes)
    withStruct <- Gen.frequency(2 -> true, 1 -> false)
    uDt <- Gen.oneOf(leafTypes)
    wDt <- Gen.oneOf(leafTypes)
    deep <- Gen.frequency(1 -> true, 2 -> false)
    structType = {
      val leaves = Seq(StructField("u", uDt), StructField("w", wDt))
      val all = if (deep)
        leaves :+ StructField("t",
          StructType(Seq(StructField("z", LongType))))
      else leaves
      StructType(all)
    }
    withArr <- Gen.frequency(1 -> true, 1 -> false)
    schema = StructType(
      StructField("rid", LongType, nullable = false) +:
        (Seq(StructField("p", pDt), StructField("q", qDt)) ++
          (if (withStruct) Seq(StructField("s", structType)) else Nil) ++
          (if (withArr) Seq(
            StructField("arr", ArrayType(
              StructType(Seq(StructField("m", LongType),
                StructField("o", StringType))))),
            StructField("tags", ArrayType(StringType))) else Nil)))
    // idPool < nRows forces duplicate entity ids
    nRows <- Gen.choose(1, 10)
    idPool <- Gen.choose(1, 4)
    rows <- Gen.sequence[Seq[Row], Row](
      (1 to nRows).map(_ => rowGen(schema, idPool)))
  } yield Doc(schema, rows)

  /** Conjunction over one source: root patterns on p/q, and (when the
    * struct exists) a chain [?e :s ?s0] plus patterns on ?s0's leaves,
    * sometimes one level deeper through t. Entity terms mix the root
    * var, wildcards, and constants.
    */
  private def patsGen(doc: Doc): Gen[Seq[Pattern]] = {
    val hasStruct = doc.schema.fieldNames.contains("s")
    val structType = if (hasStruct)
      doc.schema("s").dataType.asInstanceOf[StructType] else null
    def vTerm(dt: DataType): Gen[QueryCompiler.Term] =
      Gen.frequency[QueryCompiler.Term](
        5 -> Gen.oneOf("x", "y", "z").map(V(_)),
        2 -> valueGen(dt).retryUntil(_ != null).map(C(_)),
        // deliberate KIND mismatches: a constant of another type
        1 -> Gen.oneOf(leafTypes).flatMap(d =>
          valueGen(d).retryUntil(_ != null).map(C(_))),
        1 -> Gen.const(W))
    for {
      eTerm <- Gen.frequency[QueryCompiler.Term](
        5 -> Gen.const(V("e")), 1 -> Gen.const(W),
        1 -> Gen.choose(1, 4).map(i => C(i.toLong)))
      nFlat <- Gen.choose(0, 2)
      flat <- Gen.sequence[Seq[Pattern], Pattern](
        Seq("p", "q").take(nFlat).map { a =>
          vTerm(doc.schema(a).dataType).map(v => Pattern(eTerm, C(a), v))
        })
      arrChain <- if (!doc.schema.fieldNames.contains("arr"))
          Gen.const(Seq.empty[Pattern])
        else Gen.frequency(
          2 -> Gen.const(Seq.empty[Pattern]),
          1 -> Gen.oneOf[Seq[Pattern]](
            Seq(Pattern(eTerm, C("arr"), V("a0")),
              Pattern(V("a0"), C("m"), V("am"))),
            Seq(Pattern(eTerm, C("arr"), V("a0")),
              Pattern(V("a0"), C("m"), V("am")),
              Pattern(V("a0"), C("o"), V("ao"))),
            Seq(Pattern(eTerm, C("tags"), V("tg"))),
            Seq(Pattern(eTerm, C("tags"), C("a"))),
            Seq(Pattern(eTerm, C("tags"), W))))
      chain <- if (!hasStruct) Gen.const(Seq.empty[Pattern])
        else for {
          useChain <- Gen.frequency(2 -> true, 1 -> false)
          res <- if (!useChain) Gen.const(Seq.empty[Pattern]) else for {
            nSub <- Gen.choose(0, 2)
            subs <- Gen.sequence[Seq[Pattern], Pattern](
              Seq("u", "w").take(nSub).map { a =>
                vTerm(structType(a).dataType)
                  .map(v => Pattern(V("s0"), C(a), v))
              })
            deepPat <- if (structType.fieldNames.contains("t") &&
                subs.size < 2)
              Gen.frequency(
                1 -> Gen.const(Seq(Pattern(V("s0"), C("t"), V("t0")),
                  Pattern(V("t0"), C("z"), V("zz")))),
                2 -> Gen.const(Seq.empty[Pattern]))
            else Gen.const(Seq.empty[Pattern])
          } yield Pattern(eTerm, C("s"), V("s0")) +: (subs ++ deepPat)
        } yield res
      pats = flat ++ chain ++ arrChain
      if pats.nonEmpty
    } yield pats
  }

  private def render(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  property("runBoxed == canonical authority under duplicate ids and chains") =
    forAll(docGen.flatMap(d => patsGen(d).map(p => (d, p)))) {
      case (doc, pats) =>
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(doc.rows, 2), doc.schema)
        val dupIds = doc.rows.groupBy(_.getLong(0))
          .exists(_._2.size > 1)
        val hasChain = pats.exists(p =>
          p.v == V("s0") || p.v == V("a0") ||
            (p.a == C("tags")))
        classify(dupIds, "dupIds", "uniqueIds") {
          classify(hasChain, "chain", "flat") {
            // explicit idCol: duplicates possible → product plans
            val srcs = Map("default" -> Shred.shred(df, Some("rid")))
            val got = render(QueryCompiler.runBoxed(srcs, pats))
            val want = render(QueryReference.runBoxedCanonical(srcs, pats))
            // content-derived ids: fused row-local plans
            val srcs2 = Map("default" -> Shred.shred(df))
            val got2 = render(QueryCompiler.runBoxed(srcs2, pats))
            val want2 = render(QueryReference.runBoxedCanonical(srcs2, pats))
            // r17: the VERIFIED entry point — unique ids license the
            // fused plan from the write-time proof, duplicate ids fail
            // the proof and keep the product plan; triples (and so the
            // authority) are identical to the plain idCol shred either
            // way
            val srcs3 = Map("default" -> Shred.shredAttrsVerifiedAll(
              Seq((df, "rid", df.columns.toSeq))).head)
            val got3 = render(QueryCompiler.runBoxed(srcs3, pats))
            val ok = got == want && got2 == want2 && got3 == want
            if (!ok) println(s"MISMATCH pats=$pats\n idCol got= $got\n " +
              s"idCol want=$want\n hash got= $got2\n hash want=$want2\n " +
              s"verified got=$got3")
            ok
          }
        }
    }
}
