package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PrivacySpec extends SparkSpec {

  test("l-diversity: distinct and recursive verdicts on known classes") {
    import spark.implicits._
    // class A: counts 5,1,1 — 3 distinct but dominated by one value
    // class B: counts 2,2,2 — balanced
    // class C: one value only
    val rows =
      Seq.fill(5)(("A", "x")) ++ Seq(("A", "y"), ("A", "z")) ++
      Seq(("B", "x"), ("B", "x"), ("B", "y"), ("B", "y"),
        ("B", "z"), ("B", "z")) ++
      Seq.fill(4)(("C", "x"))
    val df = rows.toDF("q", "s")
    val out = Privacy.lDiversityClasses(df, Seq(col("q")), col("s"),
        l = 2, c = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("A")
    assert(a.getLong(1) == 7 && a.getLong(2) == 3)   // size, distinct
    assert(a.getLong(3) == 5 && a.getLong(4) == 2)   // r1, tail(l=2)
    assert(a.getBoolean(5) && !a.getBoolean(6))      // distinct ok, rec fails
    val b = out("B")
    assert(b.getLong(3) == 2 && b.getLong(4) == 4)
    assert(b.getBoolean(5) && b.getBoolean(6))
    val cC = out("C")
    assert(cC.getLong(2) == 1 && cC.getLong(4) == 0)
    assert(!cC.getBoolean(5) && !cC.getBoolean(6))
  }

  test("l-diversity: tail is the full class when l = 1") {
    import spark.implicits._
    val df = Seq(("A", "x"), ("A", "x"), ("A", "y")).toDF("q", "s")
    val r = Privacy.lDiversityClasses(df, Seq(col("q")), col("s"),
      l = 1, c = 1).head
    assert(r.getLong(4) == 3)          // tail includes r1
    assert(r.getBoolean(5))            // any non-empty class has ≥1
    assert(r.getBoolean(6))            // 2 < 1·3
  }

  test("NULL quasi values form their own (joinable) class") {
    import spark.implicits._
    val df = Seq((1, Some("a")), (2, Some("a")), (3, None),
      (4, None), (5, None)).toDF("id", "q")
    val classes = Privacy.kAnonymityClasses(df, Seq(col("q")), 3)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getBoolean(2))).toSet
    assert(classes == Set((Some("a"), 2L, false), (None, 3L, true)))
  }

  test("t-closeness: exact variation distance against hand-computed " +
      "fractions") {
    import spark.implicits._
    // global: x:6 y:2 z:2 (N=10)
    // class A (n=4): x:3 y:1 → TVD = ½(|3/4−.6|+|1/4−.2|+|0−.2|) = .2
    //   num = |3·10−6·4| + |1·10−2·4| + 4·(10−8) = 6+2+8 = 16, den 80
    // class B (n=6): x:3 y:1 z:2 → ½(.1+.0333..+.1333..) → num
    //   = |30−36|+|10−12|+|20−12| + 0 = 16, den 120
    val df = (Seq.fill(3)(("A", "x")) ++ Seq(("A", "y")) ++
      Seq.fill(3)(("B", "x")) ++ Seq(("B", "y")) ++
      Seq.fill(2)(("B", "z"))).toDF("q", "s")
    val out = Privacy.tCloseness(df, Seq(col("q")), col("s"),
        tNum = 1, tDen = 5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap
    assert(out("A") == ((4L, 16L, 80L, true)))   // 0.2 ≤ 0.2
    assert(out("B") == ((6L, 16L, 120L, true)))  // 0.1333 ≤ 0.2
    // homogeneous rare-value class: the attack l-diversity misses
    val df2 = (Seq.fill(9)(("A", "flu")) ++ Seq(("B", "cancer")))
      .toDF("q", "s")
    val out2 = Privacy.tCloseness(df2, Seq(col("q")), col("s"),
        tNum = 1, tDen = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // B: |1·10−1·1| + 1·(10−1) = 18, den 20 → 0.9 > 0.5
    assert(out2("B") == ((18L, 20L, false)))
    // a class distributed exactly like the table has distance 0
    val df3 = (Seq(("A", "x"), ("A", "y"), ("B", "x"), ("B", "y")))
      .toDF("q", "s")
    Privacy.tCloseness(df3, Seq(col("q")), col("s"), 0, 1)
      .collect().foreach(r => assert(r.getLong(2) == 0 && r.getBoolean(4)))
  }

  test("t-closeness ordered: EMD ranks classes the categorical form " +
      "cannot tell apart") {
    import spark.implicits._
    // sensitive domain 1<2<3, global uniform g=(2,2,2) (N=6, m=3);
    // three 2-row classes U={1,2}, V={1,3}, W={2,3}. Every class has
    // the SAME variation distance (each misses exactly one value:
    // present |1·6−2·2|·2 = 4, absent 2·(6−4) = 4 → 8/24 = 1/3), but
    // EMD separates them by ORDER: cum of (n·6 − 2·2) over (1,2,3):
    //   U: 2, 4, 0 → 6/24 = 1/4   (mass concentrated low)
    //   V: 2, −2, 0 → 4/24 = 1/6  (straddles like the global)
    //   W: −4, −2, 0 → 6/24 = 1/4 (mass concentrated high)
    val df = Seq(("U", 1), ("U", 2), ("V", 1), ("V", 3),
      ("W", 2), ("W", 3)).toDF("q", "s")
    val ord = Privacy.tClosenessOrdered(df, Seq(col("q")), col("s"),
        tNum = 1, tDen = 5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap
    assert(ord("U") == ((2L, 6L, 24L, false)))  // 1/4 > 1/5
    assert(ord("V") == ((2L, 4L, 24L, true)))   // 1/6 ≤ 1/5
    assert(ord("W") == ((2L, 6L, 24L, false)))
    val tvd = Privacy.tCloseness(df, Seq(col("q")), col("s"), 1, 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(tvd == Map("U" -> ((8L, 24L, true)), "V" -> ((8L, 24L, true)),
      "W" -> ((8L, 24L, true))))
  }

  test("t-closeness: NULL sensitive values carry their mass " +
      "(null-safe domain join)") {
    import spark.implicits._
    // global: x:2, NULL:2 (N=4); class A = {x,x}, class B = {NULL,NULL}
    // each misses the other half: num = |2·4−2·2| + 2·(4−2) = 8, den 16
    val df = Seq(("A", Some("x")), ("A", Some("x")),
      ("B", None), ("B", None)).toDF("q", "s")
    val tvd = Privacy.tCloseness(df, Seq(col("q")), col("s"), 1, 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(tvd == Map("A" -> ((8L, 16L, true)), "B" -> ((8L, 16L, true))))
    // ordered: domain (x, NULL) with NULLS LAST — both classes one
    // step from uniform: cum |±(2·4−2·2)| = 4, den = 2·4·1 = 8
    val ord = Privacy.tClosenessOrdered(df, Seq(col("q")), col("s"), 1, 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(ord == Map("A" -> ((4L, 8L, true)), "B" -> ((4L, 8L, true))))
  }

  test("t-closeness: single-value domain and m=1 guard") {
    import spark.implicits._
    val df = Seq(("A", "x"), ("B", "x")).toDF("q", "s")
    // every class matches the degenerate global distribution exactly
    Privacy.tCloseness(df, Seq(col("q")), col("s"), 0, 1)
      .collect().foreach(r => assert(r.getLong(2) == 0 && r.getBoolean(4)))
    Privacy.tClosenessOrdered(df, Seq(col("q")), col("s"), 0, 1)
      .collect().foreach { r =>
        assert(r.getLong(2) == 0 && r.getBoolean(4))
        assert(r.getLong(3) > 0, "m=1 must not zero the denominator")
      }
  }
}
