package graft.props

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._

/** Generative differential tests for the EAV shred core: random
  * nested documents (mixed scalars, nulls, card-many arrays with null
  * elements, nested objects, arrays of objects, cross-doc schema
  * merge) must satisfy
  *
  *  1. shredExpr == shred — the expression-form witness and the
  *     generator form are bit-identical on ARBITRARY structures, not
  *     just the handwritten ShredSpec fixtures (round 12 found a
  *     hand-reachable divergence on null array elements; this pins
  *     the space).
  *  2. triple well-formedness — no stored triple carries a null
  *     e/a/v/vt; vt ∈ {str,num,bool,ref}; vn is non-null iff
  *     vt = num, and reparses to v's numeric value.
  *  3. unshredFlat round-trip — scalar attributes reassemble to the
  *     canonical string encoding a driver-side replay predicts.
  *
  * Cases PACK (the AnalyticsProps discipline): each property
  * invocation renders ~tens of generated docs into ONE json frame and
  * runs one Spark job pair, not a job per case.
  */
object ShredProps extends Properties("graft.shred") {

  private lazy val spark = graft.SparkSpec.session

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    PropBudget(p, 5)

  // ---- random JSON documents ------------------------------------

  private sealed trait JV
  private case class JStr(s: String) extends JV
  private case class JLong(l: Long) extends JV
  private case class JDouble(d: Double) extends JV
  private case class JBool(b: Boolean) extends JV
  private case object JNull extends JV
  private case class JArr(vs: List[JV]) extends JV
  private case class JObj(fs: List[(String, JV)]) extends JV

  // small name pool FORCES cross-doc schema merges (the same field
  // appearing with different types across docs)
  private val nameGen: Gen[String] =
    Gen.oneOf("a", "b", "c", "dd", "ee", "f_g")

  private val strGen: Gen[JStr] = Gen.oneOf(
    Gen.alphaNumStr.map(s => JStr(s.take(8))),
    Gen.oneOf("", "x y", "å∫", "0", "-3", "true").map(JStr))

  private val scalarGen: Gen[JV] = Gen.oneOf(
    strGen,
    Gen.choose(-1000000L, 1000000L).map(JLong),
    Gen.choose(-99999L, 99999L).map(m => JDouble(m / 100.0)),
    Gen.oneOf(true, false).map(JBool),
    Gen.const(JNull))

  private def arrGen(inner: Gen[JV]): Gen[JArr] =
    Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, inner)).map(JArr)

  private def objGen(depth: Int): Gen[JObj] = for {
    n <- Gen.choose(1, 5)
    names <- Gen.listOfN(n, nameGen)
    vals <- Gen.listOfN(n, valueGen(depth))
  } yield JObj(names.distinct.zip(vals))

  private def valueGen(depth: Int): Gen[JV] =
    if (depth <= 0) scalarGen
    else Gen.frequency(
      5 -> scalarGen,
      2 -> arrGen(scalarGen),
      2 -> Gen.lzy(objGen(depth - 1)),
      1 -> Gen.lzy(arrGen(objGen(depth - 1))))

  private def render(v: JV): String = v match {
    case JStr(s) => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case JLong(l) => l.toString
    case JDouble(d) => d.toString
    case JBool(b) => b.toString
    case JNull => "null"
    case JArr(vs) => vs.map(render).mkString("[", ",", "]")
    case JObj(fs) => fs.map { case (k, x) => s""""$k":${render(x)}""" }
      .mkString("{", ",", "}")
  }

  private val docsGen: Gen[List[JObj]] =
    Gen.choose(5, 30).flatMap(n => Gen.listOfN(n, objGen(2)))

  private def frameOf(docs: List[JObj]) = {
    import spark.implicits._
    // stable per-doc id so triple comparison keys on it
    val lines = docs.zipWithIndex.map { case (o, i) =>
      render(JObj(("id", JLong(i.toLong)) :: o.fs.filterNot(_._1 == "id")))
    }
    spark.read.json(spark.createDataset(lines))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        if (r.isNullAt(4)) null else r.getDouble(4).toString)
    }.sortBy(t => (t._1, t._2, String.valueOf(t._3), t._4))
      .toSeq

  // ---- properties -------------------------------------------------

  property("shredExpr == shred on arbitrary nested documents") =
    forAll(docsGen) { docs =>
      val df = frameOf(docs)
      val a = rows(graft.shred.Shred.shredExpr(df, Some("id")))
      val b = rows(graft.shred.Shred.shred(df, Some("id")))
      a == b
    }

  property("triples are well-formed: typed, null-free, vn iff num") =
    forAll(docsGen) { docs =>
      val t = graft.shred.Shred.shred(frameOf(docs), Some("id"))
      val bad = t.filter(
        col("e").isNull || col("a").isNull || col("v").isNull ||
          !col("vt").isin("str", "num", "bool", "ref") ||
          (col("vt") === "num" && col("vn").isNull) ||
          (col("vt") =!= "num" && col("vn").isNotNull) ||
          (col("vt") === "num" &&
            abs(col("v").cast("double") - col("vn")) > lit(1e-9)))
      bad.isEmpty
    }

  property("unshredFlat reassembles scalar attrs to canonical strings") =
    forAll(docsGen) { docs =>
      // scalar-only projection: card-many/struct attrs aside, every
      // (e, a) is unique so the attrs map is well-defined
      val df = frameOf(docs)
      val scalarCols = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
          || f.dataType == org.apache.spark.sql.types.StringType
          || f.dataType == org.apache.spark.sql.types.BooleanType => f.name
      }
      val flat = df.select(scalarCols.map(col).toSeq: _*)
      val attrs = graft.shred.Shred
        .unshredFlat(graft.shred.Shred.shred(flat, Some("id")))
        .collect()
        .map(r => r.getString(0) ->
          r.getMap[String, String](1).toMap).toMap
      val expected = flat.collect().flatMap { r =>
        val id = canonOf(r.get(flat.columns.indexOf("id")))
        Option(id).map { i =>
          i -> flat.columns.zipWithIndex.flatMap { case (c, j) =>
            Option(r.get(j)).map(v => c -> canonOf(v))
          }.toMap
        }
      }.toMap
      attrs == expected
    }

  /** Driver-side replay of Shred's canonical string encoding. */
  private def canonOf(v: Any): String = v match {
    case d: java.lang.Double =>
      if (d == d.longValue.toDouble) d.longValue.toString else d.toString
    case other => String.valueOf(other)
  }

  // ---- content fingerprint: Sum60 over Md5Fold60 ------------------

  private val fpRowsGen: Gen[(List[Option[String]], Int)] = for {
    n <- Gen.choose(0, 40)
    rows <- Gen.listOfN(n, Gen.frequency(
      6 -> KernelProps.foldTextGen.map(Option(_)), 1 -> Gen.const(None)))
    parts <- Gen.choose(1, 4)
  } yield (rows, parts)

  property("Sum60 of md5 folds == the decimal fold, at any partitioning") =
    forAll(fpRowsGen) { case (rows, parts) =>
      import spark.implicits._
      import graft.functions.{Md5Fold60, Sum60}
      val df = rows.toDF("s").repartition(parts)
      val chain = conv(substring(md5(col("s")), 1, 15), 16, 10)
      val old = (coalesce(sum(chain.cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")) % lit(1L << 60)).cast("long")
      val r = df.agg(Sum60(Md5Fold60(col("s"))), old,
        sum(when(Md5Fold60(col("s")) <=> chain.cast("long"), 0)
          .otherwise(1))).head()
      r.getLong(0) == r.getLong(1) && r.isNullAt(2) == rows.isEmpty &&
        (rows.isEmpty || r.getLong(2) == 0L) &&
        r.getLong(0) == df.coalesce(1).agg(Sum60(Md5Fold60(col("s"))))
          .head().getLong(0)
    }
}
