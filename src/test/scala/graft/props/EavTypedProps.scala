package graft.props

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.query.{QueryCompiler, QueryReference}
import graft.query.QueryCompiler.{C, Pattern, V, W}

/** Generative differential test for the r15 typed EAV route: on
  * ARBITRARY triple frames — adversarial canonical strings ("05",
  * " 5", "5.0", "-0", "", "NaN", huge integers), null v, null/garbage
  * vt tags, numeric-looking entity ids — and ARBITRARY pattern
  * conjunctions (wildcard + variable attr positions, entity/value
  * constants, vars shared across patterns, vars repeated WITHIN a
  * pattern, entity-var-as-value-var collisions, keepDBid), the typed
  * execution [[QueryCompiler.runBoxed]] must return row-for-row and
  * schema-for-schema exactly what the canonical-string authority
  * [[QueryReference.runBoxedCanonical]] returns. This pins the
  * TypedEnc bijection END-TO-END, including Spark's struct-field null
  * equality (null fields join/distinct as equal), which the typed
  * route must reproduce through its null bits.
  */
object EavTypedProps extends Properties("graft.query.eavtyped") {

  private lazy val spark = graft.SparkSpec.session

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    PropBudget(p, 12)

  private val tripleSchema = StructType(Seq(
    StructField("e", StringType), StructField("a", StringType),
    StructField("v", StringType), StructField("vt", StringType),
    StructField("vn", DoubleType)))

  // small pools force duplicates (distinct work) and join hits;
  // values are chosen to attack the long-channel round-trip ("5" vs
  // "05"/" 5"/"5.0"/"-0"), the bool channel ("true"/"banana"), and
  // the null bits (null v, null vt, garbage vt)
  private val ePool = Seq("1", "2", "e1", "05", null)
  private val aPool = Seq("p", "q", "r")
  private val vPool = Seq("5", "05", " 5", "5.0", "-0", "", "true",
    "false", "NaN", "9223372036854775807", "12345678901234567890",
    "a", null)
  private val vtPool = Seq("str", "num", "bool", "ref", "weird", "", null)

  private def rowGen: Gen[Row] = for {
    e <- Gen.oneOf(ePool)
    a <- Gen.oneOf(aPool)
    v <- Gen.oneOf(vPool)
    vt <- Gen.frequency(6 -> Gen.oneOf(Seq("str", "num", "bool", "ref")),
      1 -> Gen.oneOf(vtPool))
  } yield Row(e, a, v, vt, null)

  private def framesGen(k: Int): Gen[Seq[Seq[Row]]] =
    Gen.sequence[Seq[Seq[Row]], Seq[Row]]((0 until k).map { _ =>
      Gen.choose(1, 15).flatMap(n =>
        Gen.sequence[Seq[Row], Row](Seq.fill(n)(rowGen)))
    })

  private val varPool = Seq("x", "y", "z")

  private def termGen(pool: Seq[Any]): Gen[QueryCompiler.Term] =
    Gen.frequency[QueryCompiler.Term](
      5 -> Gen.oneOf(varPool).map(V(_)),
      2 -> Gen.oneOf(pool.filter(_ != null)).map(C(_)),
      1 -> Gen.const(W))

  private def patGen(srcNames: Seq[String]): Gen[Pattern] = for {
    src <- Gen.oneOf(srcNames)
    e <- Gen.frequency[QueryCompiler.Term](
      4 -> Gen.oneOf(varPool ++ Seq("e0", "e1")).map(V(_)),
      1 -> Gen.oneOf(ePool.filter(_ != null)).map(C(_)))
    a <- Gen.frequency[QueryCompiler.Term](
      5 -> Gen.oneOf(aPool).map(C(_)),
      1 -> Gen.oneOf(varPool).map(V(_)),
      1 -> Gen.const(W))
    v <- termGen(Seq("5", "true", "a", 5, 2.5))
  } yield Pattern(e, a, v, src)

  private def render(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  property("typed == canonical on arbitrary triples and conjunctions") =
    forAll(for {
      k <- Gen.choose(1, 2)
      frames <- framesGen(k)
      names = (0 until k).map(i => s"s$i")
      nPats <- Gen.choose(1, 3)
      pats <- Gen.sequence[Seq[Pattern], Pattern](
        Seq.fill(nPats)(patGen(names)))
      keep <- Gen.oneOf(true, false)
    } yield (names.zip(frames), pats, keep)) {
      case (frames, pats0, keep) =>
        // every pattern's src must exist; default the first
        val pats = pats0.map(p => p.copy(src =
          if (frames.exists(_._1 == p.src)) p.src else frames.head._1))
        val sources = frames.map { case (n, rows) =>
          n -> spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 2), tripleSchema)
        }.toMap
        val typed = QueryCompiler.runBoxed(sources, pats,
          keepDBid = keep)
        val canon = QueryReference.runBoxedCanonical(sources, pats,
          keepDBid = keep)
        val (ts, cs) = (render(typed), render(canon))
        // names+types must agree; nullability may not (legacy lit("ref")
        // tag fields are non-nullable, the typed decode is a when-chain)
        def norm(dt: DataType): DataType = dt match {
          case st: StructType => StructType(st.fields.map(f =>
            StructField(f.name, norm(f.dataType), nullable = true)))
          case other => other
        }
        def shape(df: org.apache.spark.sql.DataFrame) =
          df.schema.fields.toSeq.map(f => (f.name, norm(f.dataType)))
        val ok = ts == cs && shape(typed) == shape(canon)
        if (!ok) println(s"MISMATCH pats=$pats keep=$keep\n typed=$ts\n" +
          s" canon=$cs")
        ok
    }
}
