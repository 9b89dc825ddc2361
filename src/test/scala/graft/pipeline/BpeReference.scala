package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference forms of the BPE tokenizer, kept as the executable
  * specifications the native kernels and the distinct-word trainer are
  * differentially pinned against (PipelineSpec, ImportanceNativeSpec,
  * TokenizerSpec). Never run on a real corpus.
  */
object BpeReference {

  /** The Column-composed form of [[TextFns.bpeEncode]]: ~13 literal
    * `replace`/regex passes over a marker-inflated copy of the text.
    * Every symbol renders wrapped in start/end markers (U+0001 c
    * U+0002), words joined by a bare space, and each merge (a, b) is
    * one literal `replace` of S·a·E·S·b·E with S·ab·E.
    */
  def encodeChain(text: Column, merges: Seq[(String, String)]): Column = {
    val S = "\u0001"; val E = "\u0002"
    val base = array_join(Dedup.tokens(text), " ")
    val marked = replace(
      regexp_replace(base, "(.)", S + "$1" + E), lit(S + " " + E),
      lit(" "))
    val folded = merges.foldLeft(marked) { case (s, (a, b)) =>
      replace(s, lit(S + a + E + S + b + E), lit(S + a + b + E))
    }
    filter(split(regexp_replace(folded, "[" + S + E + "]", " "), " "),
      t => length(t) > 0)
  }

  /** The corpus-scan trainer [[TextFns.bpeTrain]]'s distinct-word
    * rewrite replaced: each merge round re-reads full document text
    * (O(merges × corpus)).
    */
  def trainCorpusScan(df: DataFrame, textCol: String,
      nMerges: Int): Seq[(String, String, Long)] = {
    require(nMerges > 0, "nMerges must be positive")
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    var k = 0
    var dry = false
    while (k < nMerges && !dry) {
      val merges = out.toSeq.map { case (a, b, _) => (a, b) }
      val best = df.select(explode(
          graft.functions.BpeAdjPairs(col(textCol), merges)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1)
        .collect()
      if (best.isEmpty) dry = true // every word is one symbol
      else {
        val p = best(0).getString(0)
        val sp = p.indexOf(' ')
        out += ((p.substring(0, sp), p.substring(sp + 1),
          best(0).getLong(1)))
      }
      k += 1
    }
    out.toSeq
  }
}
