package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.pipeline.{BpeReference, Importance, TextFns}

/** The round-7 native kernels (DSIR grams, BPE, char grams, positional
  * gram hashes) must be bit-identical to Column reference forms over
  * the whole real documents table plus the unicode/whitespace edge
  * battery — the TextHashNativeSpec discipline for the new kernels.
  */
class ImportanceNativeSpec extends SparkSpec {

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
      "ab",
      "tata tab table tables ta",
      "repeat repeat repeat repeat repeat repeat repeat repeat"
    ).toDF("text")
  }

  private def corpus = Tables.documents(spark, sf("sf0.01"))
    .select(col("text")).union(edgeDf)

  test("native DsirScore/GramBuckets == Column forms on documents + edges") {
    val dim = 64
    val ratios = Array.tabulate(dim)(b => (b * 2654435761L) % 1000 - 500)
    val colScore = aggregate(Importance.gramSeq(col("text"), 2), lit(0L),
      (acc, g) => acc + element_at(lit(ratios),
        (Importance.bucketOf(g, dim) + 1).cast("int")))
    val colBuckets = transform(Importance.gramSeq(col("text"), 2),
      g => Importance.bucketOf(g, dim))
    val diff = corpus.select(
        DsirScore(col("text"), 2, dim, ratios).as("ns"),
        colScore.as("cs"),
        GramBuckets(col("text"), 2, dim).as("nb"),
        colBuckets.as("cb"))
      .filter(not(col("ns") <=> col("cs")) ||
        not(col("nb") <=> col("cb")))
      .count()
    assert(diff == 0)
  }

  test("native BpeEncode == literal replace chain on documents + edges") {
    val merges = Seq(("t", "a"), ("ta", "b"), ("e", "r"), ("a", "a"),
      ("s", "t"), ("th", "e"), ("t", "h"))
    val diff = corpus.select(
        TextFns.bpeEncode(col("text"), merges).as("n"),
        BpeReference.encodeChain(col("text"), merges).as("c"))
      .filter(not(col("n") <=> col("c")))
      .count()
    assert(diff == 0)
  }

  test("native char-gram kernels == Column window model on documents + edges") {
    val dim = 64
    val n = 3
    // Column model of foreachCharGram: code-point windows over the
    // normalized text (substring counts code points), whole-text
    // fallback under n
    def charGrams(text: Column): Column = {
      val norm = graft.pipeline.Dedup.normalize(text)
      when(length(norm) < n, array(norm))
        .otherwise(transform(sequence(lit(1), length(norm) - (n - 1)),
          i => substring(norm, i, lit(n))))
    }
    def bucketCol(g: Column): Column =
      conv(substring(md5(g), 1, 15), 16, 10).cast("long") % dim
    val colBuckets = transform(charGrams(col("text")), bucketCol(_))
    val tables = Array.tabulate(2 * dim)(i =>
      (i * 40503L) % 777 - 388)
    val colScores = array(
      aggregate(charGrams(col("text")), lit(0L), (acc, g) =>
        acc + element_at(lit(tables.slice(0, dim)),
          (bucketCol(g) + 1).cast("int"))),
      aggregate(charGrams(col("text")), lit(0L), (acc, g) =>
        acc + element_at(lit(tables.slice(dim, 2 * dim)),
          (bucketCol(g) + 1).cast("int"))))
    val diff = corpus.select(
        CharGramBuckets(col("text"), n, dim).as("nb"),
        colBuckets.as("cb"),
        CharGramScores(col("text"), n, dim, tables, 2).as("nsc"),
        colScores.as("csc"))
      .filter(not(col("nb") <=> col("cb")) ||
        not(col("nsc") <=> col("csc")))
      .count()
    assert(diff == 0)
  }

  test("native GramHashSeq == Column window model on documents + edges") {
    val n = 5
    val toks = graft.pipeline.Dedup.tokens(col("text"))
    val colHashes = when(size(toks) < n,
        array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n), i =>
        conv(substring(md5(array_join(
          slice(toks, i + 1, lit(n)), " ")), 1, 15), 16, 10)
          .cast("long")))
    val diff = corpus.select(
        GramHashSeq(col("text"), n).as("nh"),
        colHashes.as("ch"))
      .filter(not(col("nh") <=> col("ch")))
      .count()
    assert(diff == 0)
  }
}
