package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.pipeline.{Dedup, TextFns}

/** The native codegen'd text hashes must be bit-identical to the
  * Column-HOF reference forms they replaced — checked over the whole
  * real documents table (sf0.01, every text shape the generator emits)
  * plus hand-picked edge shapes.
  */
class TextHashNativeSpec extends SparkSpec {

  /** 64 ±1 contributions from the first 16 hex digits of an md5 hex
    * string (4 bits per digit, LSB first within each digit).
    */
  private def md5BitSigns(m: Column): Column =
    flatten(transform(sequence(lit(0), lit(15)), d => {
      val v = conv(m.substr(d + 1, lit(1)), 16, 10).cast("int")
      array(Seq(1, 2, 4, 8).map(mask =>
        when(v.bitwiseAND(mask) =!= 0, 1).otherwise(-1)): _*)
    }))

  /** Column-expression (interpreted-HOF) form of [[Dedup.simhashMd5]]:
    * one md5 + a 64-lane sign aggregate per token — the executable
    * spec the native kernel must match.
    */
  private def simhashMd5Cols(text: Column): Column = {
    val hashes = transform(Dedup.tokens(text), t => md5(t))
    val sums = aggregate(hashes, array_repeat(lit(0), 64),
      (acc, m) => zip_with(acc, md5BitSigns(m), (a, c) => a + c))
    array_join(transform(sums, s => when(s > 0, "1").otherwise("0")), "")
  }

  private def edgeDf = {
    import spark.implicits._
    Seq(
      "",
      "   ",
      "\t\n  mixed\tWS   runs \r\n",
      "short",
      "ONE two THREE one two three",
      "punct!!!and---separators___ok 123abc",
      "unicode: Ünïcødé ÉLAN straße ÇA 日本語 emoji 🙂 done",
      "a",
      "exactly8",
      "exactly8x",
      "repeat repeat repeat repeat repeat repeat repeat repeat"
    ).toDF("text")
  }

  test("native simhashMd5 == Column form on documents + edges") {
    val doc = Tables.documents(spark, sf("sf0.01")).select(col("text"))
      .union(edgeDf)
    val diff = doc.select(
        Dedup.simhashMd5(col("text")).as("n"),
        simhashMd5Cols(col("text")).as("c"))
      .filter(not(col("n") <=> col("c")))
      .count()
    assert(diff == 0)
  }

  test("native fingerprintMd5 == Column form on documents + edges") {
    val doc = Tables.documents(spark, sf("sf0.01")).select(col("text"))
      .union(edgeDf)
    val diff = doc.select(
        TextFns.fingerprintMd5(col("text")).as("n"),
        TextFns.fingerprintMd5Cols(col("text")).as("c"))
      .filter(not(col("n") <=> col("c")))
      .count()
    assert(diff == 0)
  }

  test("native hammingBits == Column form on fingerprint pairs") {
    val fp = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), Dedup.simhashMd5(col("text")).as("fp"))
    val l = fp.as("l")
    val r = fp.select(col("doc_id").as("rid"), col("fp").as("rfp"))
    val diff = l.join(r, col("doc_id") % 97 === col("rid") % 97)
      .select(
        Dedup.hammingBits(col("fp"), col("rfp")).as("n"),
        Dedup.hammingBitsCols(col("fp"), col("rfp")).as("c"))
      .filter(not(col("n") <=> col("c")))
      .count()
    assert(diff == 0)
  }

  test("native == Column on randomized unicode strings") {
    import spark.implicits._
    // deterministic pseudo-random strings over a deliberately nasty
    // alphabet: whitespace runs, combining marks, case-folding
    // letters, supplementary plane, digits, punctuation
    val alphabet = ("abcXYZ012 \t\n\r.,;!?-_@#" +
      "äÖüßİıΣσς日本語🙂́ ").toCharArray
    val rnd = new scala.util.Random(20260812L)
    val strings = Seq.fill(300) {
      val len = rnd.nextInt(80)
      String.valueOf(Array.fill(len)(alphabet(rnd.nextInt(alphabet.length))))
    }
    val df = strings.toDF("text")
    val diff = df.select(
        Dedup.simhashMd5(col("text")).as("sn"),
        simhashMd5Cols(col("text")).as("sc"),
        TextFns.fingerprintMd5(col("text")).as("fn"),
        TextFns.fingerprintMd5Cols(col("text")).as("fc"),
        Shingles(col("text"), 3).as("gn"),
        Dedup.shingles(col("text"), 3).as("gc"),
        ShingleHashes(col("text"), 3).as("hn"),
        array_distinct(transform(Dedup.shingles(col("text"), 3),
          Dedup.shingleHash _)).as("hc"),
        MinhashBandBuckets(col("text"), 3, 32, 8).cast("string").as("bn"),
        Dedup.bandsMd5(Dedup.signatureOfHashes(
          transform(Dedup.shingles(col("text"), 3), Dedup.shingleHash _),
          32), 8, 4).cast("string").as("bc"))
      .filter(not(col("sn") <=> col("sc")) ||
        not(col("fn") <=> col("fc")) ||
        not(col("gn") <=> col("gc")) ||
        not(col("hn") <=> col("hc")) ||
        not(col("bn") <=> col("bc")))
      .count()
    assert(diff == 0)
  }

  test("null text stays null through the native expressions") {
    import spark.implicits._
    val df = Seq(Option.empty[String], Some("x")).toDF("text")
    val rows = df.select(
      Dedup.simhashMd5(col("text")).isNull.as("a"),
      TextFns.fingerprintMd5(col("text")).isNull.as("b"))
      .collect()
    assert(rows.map(r => (r.getBoolean(0), r.getBoolean(1))).toSeq ==
      Seq((true, true), (false, false)))
  }
}
