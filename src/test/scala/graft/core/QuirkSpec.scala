package graft.core

import graft.SparkSpec
import graft.functions.Jsonata
import graft.lang.RM
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** Port of the reference's path/flattening quirk battery
  * (builtin_test.cljc:318-481). Path, filter, map and value steps run
  * through the compiler's path steps (RM.eval: parse → compile →
  * Catalyst → jflatten); the plain navigation, aref, concat, $match
  * and fold cases are Column-level. Cases whose arrays are
  * heterogeneous at the type level (`[[1,2,3], 4]`) are TodaySpec's.
  */
class QuirkSpec extends SparkSpec {

  private def eval1(c: Column): Any =
    spark.range(1).select(c.as("v")).collect()(0).get(0)
  private def seq1(c: Column): Seq[Any] =
    eval1(c).asInstanceOf[scala.collection.Seq[Any]].toSeq
  private def run(src: String, expected: Any): Unit = {
    val got = RM.eval(src, spark)
    assert(got.contains(expected),
      s"""RM "$src" => $got, expected Some($expected)""")
  }

  private val objArr = "[{'a' : 1}, {'a' : 2}, {'a' : 3}]"

  test("simple mapping: [{'a':1},{'a':2},{'a':3}].a = [1,2,3]") {
    run(s"$objArr.a", Seq(1L, 2L, 3L))
  }

  test("simple mapping (2): .(a + 1) = [2,3,4]") {
    run(s"$objArr.(a + 1)", Seq(2L, 3L, 4L))
  }

  test("simple navigation: {'a':{'b':111}}.a.b = 111") {
    val doc = struct(struct(lit(111).as("b")).as("a"))
    assert(eval1(doc.getField("a").getField("b")) == 111)
  }

  test("navigation with arithmetic: .(a.b.c + a.b.f) = 33") {
    val doc = struct(struct(struct(lit(30).as("c"), lit(3).as("f"))
      .as("b")).as("a"))
    val b = doc.getField("a").getField("b")
    assert(eval1(b.getField("c") + b.getField("f")) == 33)
  }

  test("navigation with aref: a + b.e * c[1] + d = 525") {
    val doc = struct(lit(5).as("a"),
      struct(lit(2).as("e")).as("b"),
      array(lit(0), lit(10)).as("c"), lit(500).as("d"))
    assert(eval1(doc.getField("a") +
      doc.getField("b").getField("e") *
        Jsonata.aref(doc.getField("c"), lit(1)) +
      doc.getField("d")) == 525)
  }

  private val numsArr = "[{'nums' : [1, 2]}, {'nums' : [3, 4]}]"

  test("quirk 2a: .nums merges = [1,2,3,4]") {
    run(s"$numsArr.nums", Seq(1L, 2L, 3L, 4L))
  }

  test("quirk 2b: .nums[1] is per-parent = [2,4]") {
    run(s"$numsArr.nums[1]", Seq(2L, 4L))
  }

  test("number[2] on a JSON array indexes directly = 33") {
    run("{'number' : [11, 22, 33, 44]}.number[2]", 33L)
  }

  test("simple filter singleton-collapses: letter[$='b'] = 'b'") {
    run("{'letter' : ['a', 'b', 'c', 'd']}.letter[$ = 'b']", "b")
  }

  test("filter on mapped structs: .num[x = 2] keeps duplicates") {
    run("[{'num' : {'x' : 1}}, {'num' : {'x' : 2}}, " +
      "{'num' : {'x' : 2}}, {'num' : {'x' : 3}}].num[x = 2]",
      Seq(Map("x" -> 2L), Map("x" -> 2L)))
  }

  private val numXs =
    "[{'num' : {'x' : 1}}, {'num' : {'x' : 2}}, {'num' : {'x' : 3}}]"

  test("row filter [num.x = 2] singleton-collapses to the object") {
    // the finalizer renders the singleton row as a document map
    run(s"$numXs[num.x = 2]", Map("num" -> Map("x" -> 2L)))
  }

  test("value-step .[num.x = 2] = [[false],[true],[false]]") {
    run(s"$numXs.[num.x = 2]", Seq(Seq(false), Seq(true), Seq(false)))
  }

  test("string concat with number stringification: 1 & 2 & 'abc'") {
    assert(eval1(concat(Jsonata.string(lit(1)), Jsonata.string(lit(2)),
      lit("abc"))) == "12abc")
  }

  test("$match goldens from the battery") {
    val m1 = seq1(Jsonata.rmatch(lit("bbfoovar"), "foo"))
    val r1 = m1.head.asInstanceOf[Row]
    assert(r1.getString(0) == "foo" && r1.getInt(1) == 2 &&
      r1.getSeq[String](2).isEmpty)
    val m2 = seq1(Jsonata.rmatch(lit("foobarxababy"), "\\d*x(ab)+y"))
    val r2 = m2.head.asInstanceOf[Row]
    assert(r2.getString(0) == "xababy" && r2.getInt(1) == 6 &&
      r2.getSeq[String](2) == Seq("ab"))
  }

  test("reduce battery: [1..5] fold, one-arg, one-arg+init") {
    val r15 = sequence(lit(1), lit(5))
    assert(eval1(aggregate(r15, lit(0), (a, x) => a + x)) == 15)
    assert(eval1(aggregate(array(lit(3)), lit(0), (a, x) => a + x)) == 3)
    assert(eval1(aggregate(array(lit(3)), lit(2), (a, x) => a + x)) == 5)
  }

  test("thread into reverse: [1..5] ~> $reverse() = [5,4,3,2,1]") {
    run("[1..5] ~> $reverse()", Seq(5L, 4L, 3L, 2L, 1L))
  }

  test("scalar treated as singleton: 1[0] = 1") {
    // reference: "RADmapper doesn't mind" — scalars index as singletons
    run("1[0]", 1L)
  }
}
