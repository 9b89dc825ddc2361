package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Golden-value tests for the JSONata function surface, values mirrored
  * from the reference semantics (test/rad_mapper/builtin_test.cljc).
  */
class JsonataFnsSpec extends SparkSpec {

  /** Evaluate a constant Column expression and return the single value. */
  private def eval1(c: Column): Any = {
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    spark.range(1).select(c.as("v")).collect()(0).get(0)
  }
  private def seq1(c: Column): Seq[Any] =
    eval1(c).asInstanceOf[scala.collection.Seq[Any]].toSeq

  import Jsonata._

  // ---- strings (builtin_test.cljc:46-143) ----
  test("base64 round trip") {
    assert(eval1(base64encode(lit("myString"))) == "bXlTdHJpbmc=")
    assert(eval1(base64decode(lit("bXlTdHJpbmc="))) == "myString")
  }
  test("contains string + regex") {
    assert(eval1(containsStr(lit("abracadabra"), lit("bra"))) == true)
    assert(eval1(containsRegex(lit("abracadabra"), "a.*a")) == true)
    assert(eval1(containsRegex(lit("hello"), "a.*a")) == false)
  }
  test("url encoding: component vs full-URI forms") {
    assert(eval1(encodeUrlComponent(lit("?x=test"))) == "%3Fx%3Dtest")
    assert(eval1(encodeUrl(lit("https://e.com/?a=1&b=x y"))) ==
      "https://e.com/?a=1&b=x+y" ||
      eval1(encodeUrl(lit("https://e.com/?a=1&b=x y"))) ==
      "https://e.com/?a=1&b=x%20y")
    assert(eval1(decodeUrlComponent(lit("%3Fx%3Dtest"))) == "?x=test")
  }

  test("join") {
    assert(eval1(join(array(lit("a"), lit("b"), lit("c")), "-")) == "a-b-c")
  }
  test("length/case") {
    assert(eval1(strLength(lit("Hello World"))) == 11)
    assert(eval1(lowercase(lit("Hello"))) == "hello")
    assert(eval1(uppercase(lit("Hello"))) == "HELLO")
  }
  test("pad does not truncate and pads either side") {
    assert(eval1(pad(lit("foo"), 5)) == "foo  ")
    assert(eval1(pad(lit("foo"), -5)) == "  foo")
    assert(eval1(pad(lit("foo"), -1)) == "foo")
    assert(eval1(pad(lit("foo"), 8, "#")) == "foo#####")
  }
  test("replace regex with group refs replaces all") {
    assert(eval1(replaceRegex(lit("John Smith and John Jones"),
      lit("John"), lit("Mr"))) == "Mr Smith and Mr Jones")
    assert(eval1(replaceRegex(lit("265USD"), "([0-9]+)USD", "$$$1")) == "$265")
  }
  test("split with and without limit") {
    assert(seq1(split(lit("so many words"), " ")) ==
      Seq("so", "many", "words"))
    assert(seq1(split(lit("so many words"), " ", Some(2))) ==
      Seq("so", "many"))
    assert(seq1(split(lit("too much, punctuation. hard; to read"),
      "\\s*[,;.]\\s*")) == Seq("too much", "punctuation", "hard", "to read"))
  }
  test("string prints integral doubles without .0") {
    assert(eval1(string(lit(5.0d))) == "5")
    assert(eval1(string(lit(5.5d))) == "5.5")
    assert(eval1(string(lit("already"))) == "already")
  }
  test("substring with negative start") {
    assert(eval1(substring(lit("Hello World"), lit(3))) == "lo World")
    assert(eval1(substring(lit("Hello World"), lit(3), Some(lit(5)))) == "lo Wo")
    assert(eval1(substring(lit("Hello World"), lit(-4))) == "orld")
    assert(eval1(substring(lit("Hello World"), lit(-4), Some(lit(2)))) == "or")
  }
  test("substringBefore/After use FIRST occurrence") {
    assert(eval1(substringBefore(lit("Hello World"), lit(" "))) == "Hello")
    assert(eval1(substringAfter(lit("Hello World"), lit(" "))) == "World")
    assert(eval1(substringAfter(lit("abcabc"), lit("b"))) == "cabc")
    assert(eval1(substringBefore(lit("abc"), lit("x"))) == "abc")
    assert(eval1(substringAfter(lit("abc"), lit("x"))) == "abc")
  }
  test("trim collapses internal whitespace") {
    assert(eval1(trim(lit("  Hello    \n World  "))) == "Hello World")
  }
  test("match returns match/index/groups structs") {
    val rows = seq1(rmatch(lit("ababbabbcc"), "a(b+)"))
    val r = rows.map(_.asInstanceOf[Row])
    assert(r.map(x => (x.getString(0), x.getInt(1))) ==
      Seq(("ab", 0), ("abb", 2), ("abb", 5)))
    assert(r.head.getSeq[String](2) == Seq("b"))
    assert(seq1(rmatch(lit("ababbabbcc"), "a(b+)", 2)).size == 2)
  }

  // ---- numerics (builtin_test.cljc:152-209) ----
  test("abs/ceil/floor/sqrt/power") {
    assert(eval1(Jsonata.abs(lit(-5.5d))) == 5.5d)
    assert(eval1(Jsonata.ceil(lit(3.2d))) == 4L)
    assert(eval1(Jsonata.floor(lit(-3.2d))) == -4L)
    assert(eval1(Jsonata.sqrt(lit(16.0d))) == 4.0d)
    assert(eval1(power(lit(2), lit(10))) == 1024.0d)
  }
  test("formatBase lowercase + negative") {
    assert(eval1(formatBase(lit(100), 2)) == "1100100")
    assert(eval1(formatBase(lit(255), 16)) == "ff")
    assert(eval1(formatBase(lit(-100), 2)) == "-1100100")
  }
  test("number casts strings and booleans") {
    assert(eval1(number(lit("5"))) == 5.0d)
    assert(eval1(number(lit(true))) == 1.0d)
    assert(eval1(number(lit(false))) == 0.0d)
  }
  test("round is HALF_EVEN with negative precision") {
    assert(eval1(Jsonata.round(lit(123.456d), 2)) == 123.46d)
    assert(eval1(Jsonata.round(lit(123.456d))) == 123.0d)
    assert(eval1(Jsonata.round(lit(125.0d), -1)) == 120.0d)   // banker's
    assert(eval1(Jsonata.round(lit(135.0d), -1)) == 140.0d)
    assert(eval1(Jsonata.round(lit(2.5d))) == 2.0d)
  }
  test("formatNumber picture") {
    assert(eval1(formatNumber(lit(12345.6789d), "#,###.00")) == "12,345.68")
    assert(eval1(formatNumber(lit(0.14d), "0.0%")) == "14.0%")
  }
  test("formatInteger / parseInteger pictures") {
    assert(eval1(formatInteger(lit(2789), "w")) ==
      "two thousand, seven hundred and eighty-nine")
    assert(eval1(formatInteger(lit(1999), "I")) == "MCMXCIX")
    assert(eval1(formatInteger(lit(27), "a")) == "aa")
    assert(eval1(formatInteger(lit(12), "0000")) == "0012")
    assert(eval1(parseInteger(lit("twelve thousand, four hundred and seventy-six"),
      "w")) == 12476L)
    assert(eval1(parseInteger(lit("MCMXCIX"), "I")) == 1999L)
    assert(eval1(parseInteger(lit("aa"), "a")) == 27L)
  }

  // ---- booleans / truthiness (builtin_test.cljc:211-227) ----
  test("truthiness table") {
    assert(eval1(boolean(lit(""))) == false)
    assert(eval1(boolean(lit("x"))) == true)
    assert(eval1(boolean(lit(0))) == false)
    assert(eval1(boolean(lit(7.2d))) == true)
    assert(eval1(boolean(lit(null).cast("string"))) == false)
    assert(eval1(boolean(array())) == false)
    assert(eval1(boolean(array(lit(0), lit(0)))) == false)
    assert(eval1(boolean(array(lit(0), lit(3)))) == true)
    assert(eval1(Jsonata.not(lit(""))) == true)
    assert(eval1(exists(lit(null).cast("int"))) == false)
  }

  // ---- arrays (builtin_test.cljc:229-241) ----
  test("append/reverse/sort/zip/distinct/aref") {
    assert(seq1(append(array(lit(1), lit(2)), array(lit(3)))) == Seq(1, 2, 3))
    assert(seq1(reverseArr(array(lit(1), lit(2), lit(3)))) == Seq(3, 2, 1))
    assert(seq1(sortArr(array(lit(3), lit(1), lit(2)))) == Seq(1, 2, 3))
    assert(seq1(sortArrBy(array(lit(1), lit(3), lit(2)), (l, r) => l < r)) ==
      Seq(3, 2, 1))
    assert(seq1(distinctArr(array(lit(1), lit(2), lit(1), lit(3)))) ==
      Seq(1, 2, 3))
    val z = seq1(zip(array(lit(1), lit(2), lit(3)), array(lit(4), lit(5))))
    assert(z.map(_.asInstanceOf[scala.collection.Seq[Any]].toSeq) ==
      Seq(Seq(1, 4), Seq(2, 5)))
    assert(eval1(aref(array(lit(10), lit(20), lit(30)), lit(1))) == 20)
    assert(eval1(aref(array(lit(10), lit(20), lit(30)), lit(-1))) == 30)
    assert(eval1(aref(array(lit(10), lit(20)), lit(9))) == null)
    assert(eval1(sumArr(array(lit(1), lit(2), lit(3)))) == 6.0d)
    assert(eval1(averageArr(array(lit(2), lit(4)))) == 3.0d)
    assert(eval1(maxArr(array(lit(2), lit(4)))) == 4)
  }

  // ---- objects (builtin_test.cljc:243-313) ----
  private def m2: Column = map(lit("a"), lit(1), lit("b"), lit(2))
  test("keys/lookup/merge/assoc/update") {
    assert(seq1(keys(m2)).toSet == Set("a", "b"))
    assert(eval1(lookup(m2, lit("b"))) == 2)
    assert(eval1(lookup(m2, lit("zz"))) == null)
    assert(eval1(element_at(merge(m2, map(lit("b"), lit(9))), "b")) == 9)
    assert(eval1(element_at(assoc(m2, lit("c"), lit(3)), "c")) == 3)
    assert(eval1(element_at(update(m2, lit("a"), v => v * 10), "a")) == 10)
  }
  test("sift/each/mapObject/reduceKV/spread") {
    assert(seq1(map_keys(sift(m2, (v, _) => v > 1))) == Seq("b"))
    assert(seq1(each(m2, (v, k) => concat(k, lit("="), v.cast("string")))) ==
      Seq("a=1", "b=2"))
    val mo = mapObject(m2, (k, v) => (upper(k), v * 100))
    assert(eval1(element_at(mo, "A")) == 100)
    assert(eval1(reduceKV(m2, lit(0), (acc, _, v) => acc + v)) == 3)
    val sp = seq1(spread(m2))
    assert(sp.size == 2)
  }
  test("jtype names") {
    assert(eval1(jtype(lit("s"))) == "string")
    assert(eval1(jtype(lit(1.5d))) == "number")
    assert(eval1(jtype(lit(true))) == "boolean")
    assert(eval1(jtype(array(lit(1)))) == "array")
    assert(eval1(jtype(m2)) == "object")
    assert(eval1(jtype(lit(null).cast("string"))) == "null")
  }

  // ---- HOFs (builtin_test.cljc:465-481) ----
  test("map/filter/reduce/single over arrays") {
    // $map/$filter/$reduce lower to Spark's transform/filter/aggregate
    // in the compiler (Builtins); they run through the text frontend
    def rm(src: String): Option[Any] = graft.lang.RM.eval(src, spark)
    assert(rm("$map([1, 2, 3], function($x){ $x * 2 })") ==
      Some(Seq(2L, 4L, 6L)))
    assert(rm("$map([10, 20], function($v, $i){ $i })") == Some(Seq(0L, 1L)))
    assert(rm("$filter([1, 2, 3, 4], function($x){ $x % 2 = 0 })") ==
      Some(Seq(2L, 4L)))
    assert(rm("$reduce([1, 2, 3, 4], function($acc, $x){ $acc * $x }, 1)") ==
      Some(24L))
    assert(eval1(single(array(lit(1), lit(4), lit(3)), x => x > 3)) == 4)
  }

  // ---- dates (builtin_test.cljc:262-270) ----
  test("fromMillis/toMillis with pictures") {
    val ms = 1521801216617L // 2018-03-23T10:33:36.617Z
    assert(eval1(fromMillis(lit(ms), "[Y0001]-[M01]-[D01]")) == "2018-03-23")
    assert(eval1(fromMillis(lit(ms), "[H01]:[m01]")) == "10:33")
    assert(eval1(toMillis(lit("2018-03-23T10:33:36.617"))) == ms)
    assert(eval1(fromMillis(lit(ms))) == "2018-03-23T10:33:36.617Z")
    assert(eval1(toMillis(lit("23/03/2018"), "[D01]/[M01]/[Y0001]")) ==
      1521763200000L)
  }
  test("date picture translator") {
    assert(DatePictures.toSparkPattern("[Y0001]-[M01]-[D01]T[H01]:[m01]:[s01]") ==
      "yyyy-MM-dd'T'HH:mm:ss")
    assert(DatePictures.toSparkPattern("[MNn] [D1], [Y0001]") ==
      "MMMM d, yyyy")
  }
}
