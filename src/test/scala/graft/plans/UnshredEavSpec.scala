package graft.plans

import graft.SparkSpec
import graft.shred.Shred
import graft.query.{QueryCompiler, QueryReference}
import graft.query.QueryCompiler.{C, Pattern, V}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The EAV-unshred optimizer rule (SURVEY §4 item 7): every test is
  * differential against the expression-form shred (`Shred.shredExpr`,
  * an Explode the rule cannot match), which ShredProps pins to the
  * generator's triples — so the rule can only pass by reproducing
  * ShredGenerator's triples exactly, including null walks, canon
  * encodings, and ref-entity id minting.
  */
class UnshredEavSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Run `q` over the generator shred of `d` (which the rule may
    * rewrite) and over its expression-form shred; require identical
    * bags.
    */
  private def differential(d: DataFrame, idCol: Option[String] = Some("id"))(
      q: DataFrame => DataFrame): DataFrame = {
    val df = q(Shred.shred(d, idCol))
    assert(rows(df) == rows(q(Shred.shredExpr(d, idCol))),
      "rule-rewritten and expression-form rows diverge")
    df
  }

  private def plan(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString.toLowerCase

  /** id, name, age, score, city (top-level), addr struct with its own
    * city + zip + nested geo struct; d3 has a null addr, d4 null zip.
    */
  private def docs: DataFrame =
    Seq(
      ("d1", "alice", 10L, 2.0, "NYC",
        Some(("NYC", "10001", 40.7)), Seq("a", "b")),
      ("d2", "bob", 11L, 2.5, "LA",
        Some(("LA", "90001", 34.0)), Seq("c")),
      ("d3", "carol", 12L, 3.0, "SF", None, Seq()),
      ("d4", "dan", 13L, 4.0, "NYC",
        Some((null.asInstanceOf[String], null.asInstanceOf[String], 0.0)),
        Seq("d")))
      .toDF("id", "name", "age", "score", "city", "addrRaw", "tags")
      .select($"id", $"name", $"age", $"score", $"city", $"tags",
        when($"addrRaw".isNotNull,
          struct($"addrRaw._1".as("acity"), $"addrRaw._2".as("zip"),
            struct($"addrRaw._3".as("lat")).as("geo"))).as("addr"))
      .drop("addrRaw")

  test("contradictory attribute pins bail to the (empty) generator") {
    // CombineFilters merges the stacked filters into one conjunction;
    // taking just the first a-literal would return all name triples —
    // the correct result is empty
    val df = differential(docs)(
      _.filter($"a" === "name").filter($"a" === "age"))
    assert(df.count() == 0)
    // redundant duplicate pins of the SAME attribute still rewrite
    val dup = differential(docs)(
      _.filter($"a" === "name").filter($"a" === "name"))
    assert(!plan(dup).contains("shredgenerator"), plan(dup))
    assert(dup.count() == 4)
  }

  test("top-level scalar filter collapses to a projection") {
    val df = differential(docs)(_.filter($"a" === "name"))
    assert(!plan(df).contains("shredgenerator"), plan(df))
    assert(df.count() == 4)
  }

  test("struct-nested scalar collapses with the sub-entity id") {
    val df = differential(docs)(_.filter($"a" === "zip"))
    assert(!plan(df).contains("shredgenerator"), plan(df))
    // d3 (null addr) and d4 (null zip) emit nothing
    val es = df.select("e").as[String].collect().sorted
    assert(es.toSeq == Seq("d1/addr", "d2/addr"))
  }

  test("doubly-nested scalar minting the full path id") {
    val df = differential(docs)(_.filter($"a" === "lat"))
    assert(!plan(df).contains("shredgenerator"), plan(df))
    assert(df.select("e").as[String].collect().sorted.toSeq ==
      Seq("d1/addr/geo", "d2/addr/geo", "d4/addr/geo"))
  }

  test("ref attribute reproduces the generator's ref triples") {
    val df = differential(docs)(_.filter($"a" === "addr"))
    assert(!plan(df).contains("shredgenerator"), plan(df))
    val r = df.select("e", "v", "vt").collect().map(_.toString).sorted
    assert(r.toSeq == Seq("[d1,d1/addr,ref]", "[d2,d2/addr,ref]",
      "[d4,d4/addr,ref]"))
  }

  test("same name at two sites unions both projections") {
    // "city" exists top-level; rename addr's field to city too
    val two = docs.withColumn("addr",
      when($"addr".isNotNull,
        struct($"addr.acity".as("city"), $"addr.zip", $"addr.geo")))
    val df = differential(two)(_.filter($"a" === "city"))
    assert(!plan(df).contains("shredgenerator"), plan(df))
    assert(plan(df).contains("union"), plan(df))
    assert(df.count() == 6) // 4 top-level + d1 d2 nested (d4 acity null)
  }

  test("array sites keep the generator") {
    val df = differential(docs)(_.filter($"a" === "tags"))
    assert(plan(df).contains("shredgenerator"), plan(df))
    // and a name hiding under an array-of-structs bails the rewrite
    val nested = docs.withColumn("exts", array(struct($"city".as("zip"))))
    val df2 = differential(nested)(_.filter($"a" === "zip"))
    assert(plan(df2).contains("shredgenerator"), plan(df2))
  }

  test("date and timestamp sites rewrite to the generator's canon") {
    // the generator renders both exactly like Cast (ShredSpec), so the
    // rule rewrites them; the string Cast it builds after analysis
    // must carry the session time zone
    val dated = docs
      .withColumn("day", to_date(lit("2024-01-02")))
      .withColumn("at", timestamp_micros(lit(1704164645500000L)))
    def at(): Seq[String] = {
      for (a <- Seq("day", "at")) {
        val df = differential(dated)(_.filter($"a" === a))
        assert(!plan(df).contains("shredgenerator"), plan(df))
        assert(df.count() == 4)
      }
      differential(dated)(_.filter($"a" === "at"))
        .select("v", "vt").distinct().collect().map(_.toString).toSeq
    }
    assert(at() == Seq("[2024-01-02 03:04:05.5,str]"))
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try assert(at() == Seq("[2024-01-01 19:04:05.5,str]"))
    finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("binary sites keep the generator") {
    val bin = docs.withColumn("raw", $"name".cast("binary"))
    val df = differential(bin)(_.filter($"a" === "raw"))
    assert(plan(df).contains("shredgenerator"), plan(df))
  }

  test("doubles and decimals outside the long range render, not overflow") {
    // the rule's canon once cast to long in ANSI mode and threw
    // CAST_OVERFLOW on these; the generator prints them as Cast does
    val wide = spark.sql(
      """SELECT * FROM VALUES
        |  ('d1', 1e20D, CAST('1e23' AS DECIMAL(38,0)),
        |    CAST('1e30' AS DECIMAL(38,2))),
        |  ('d2', CAST('NaN' AS DOUBLE), CAST(7 AS DECIMAL(38,0)),
        |    CAST('2.50' AS DECIMAL(38,2))),
        |  ('d3', 2.0D, CAST('-1e23' AS DECIMAL(38,0)),
        |    CAST('-4' AS DECIMAL(38,2)))
        |  AS t(id, x, big, money)""".stripMargin)
    for (a <- Seq("x", "big", "money")) {
      val df = differential(wide)(_.filter($"a" === a))
      assert(!plan(df).contains("shredgenerator"), plan(df))
      assert(df.count() == 3)
    }
    val vs = differential(wide)(_.filter($"a".isin("x", "big", "money")))
      .orderBy("e", "a").select("v").as[String].collect().toSeq
    assert(vs == Seq(
      "100000000000000000000000", "1000000000000000000000000000000",
      "1.0E20",
      "7", "2.50", "NaN",
      "-100000000000000000000000", "-4", "2"), vs)
    // query{}: the typed-EAV and canonical tiers filter the triples
    // per pattern, so the rule rewrites their scans too
    val pats = Seq(
      Pattern(V("e"), C("x"), V("d")),
      Pattern(V("e"), C("big"), V("b")))
    val want = rows(QueryReference.runBoxedCanonical(
      Map("default" -> Shred.shredExpr(wide, Some("id"))), pats))
    val srcs = Map("default" -> Shred.shred(wide, Some("id")))
    assert(rows(QueryReference.runBoxedCanonical(srcs, pats)) == want)
    assert(rows(QueryCompiler.runBoxedEav(srcs, pats)) == want)
    assert(rows(QueryCompiler.runBoxed(srcs, pats)) == want)
    assert(want.size == 3 &&
      want.contains("[[1.0E20,num],[100000000000000000000000,num]]"), want)
  }

  test("absent attribute becomes an empty relation") {
    val df = differential(docs)(_.filter($"a" === "nope"))
    assert(!plan(df).contains("shredgenerator"), plan(df))
    assert(plan(df).contains("localrelation"), plan(df))
    assert(df.count() == 0)
  }

  test("numeric canon parity: integral doubles and vn") {
    val df = differential(docs)(_.filter($"a" === "score"))
    assert(!plan(df).contains("shredgenerator"), plan(df))
    val v = df.orderBy("e").select("v").as[String].collect().toSeq
    assert(v == Seq("2", "2.5", "3", "4")) // canon drops ".0"
    assert(df.filter($"vt" =!= "num" || $"vn".isNull).count() == 0)
  }

  test("extra conjuncts survive above the rewrite") {
    val df = differential(docs)(_.filter($"a" === "age" && $"v" === "11"))
    assert(!plan(df).contains("shredgenerator"), plan(df))
    assert(df.select("e").as[String].collect().toSeq == Seq("d2"))
  }

  test("derived (content-hash) entity ids rewrite too") {
    val df = differential(docs.select("name", "age"), None)(
      _.filter($"a" === "age"))
    assert(!plan(df).contains("shredgenerator"), plan(df))
    assert(df.count() == 4)
  }

  test("a full nested query{} chain matches the generator path") {
    val df = differential(docs)(t => QueryCompiler.run(
      Map("default" -> t),
      Seq(
        Pattern(V("c"), C("name"), V("n")),
        Pattern(V("c"), C("addr"), V("p")),
        Pattern(V("p"), C("acity"), V("city")))))
    assert(!plan(df).contains("shredgenerator"), plan(df))
    assert(df.count() == 2) // d1, d2 (d4's acity is null)
  }

  test("the scan narrows to the referenced columns") {
    val df = Shred.shred(spark.read.parquet(s"${sf()}/customer.parquet"),
      Some("c_custkey")).filter($"a" === "c_mktsegment")
    val physical = df.queryExecution.executedPlan.toString
    val read = physical.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("c_mktsegment") && !read.contains("c_name"), read)
  }
}
