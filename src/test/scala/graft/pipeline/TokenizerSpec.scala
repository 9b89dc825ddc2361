package graft.pipeline

import graft.SparkSpec

/** The equivalence pin for [[TextFns.bpeTrain]]'s distinct-word
  * rewrite: BPE pair statistics are word-internal, so training over
  * the staged (distinct word, count) frame must replay the EXACT
  * merge trajectory of the pre-rewrite corpus-scan trainer
  * ([[BpeReference.trainCorpusScan]], kept only as this witness) —
  * same merges, same order, same counts-at-selection.
  */
class TokenizerSpec extends SparkSpec {
  import spark.implicits._

  // multi-word, multi-doc fixture: repeated words across docs (the
  // cnt-weighting path), a word repeated within one doc, punctuation
  // the tokenizer strips, and a one-letter word that dries out early
  private val docs = Seq(
    "the cat sat on the mat",
    "the bat sat, the cat! a cat",
    "mat hat bat that hatter",
    "a the that that").toDF("text")

  test("bpeTrain replays the corpus-scan merge trajectory exactly") {
    val fast = TextFns.bpeTrain(docs, "text", nMerges = 8)
    val slow = BpeReference.trainCorpusScan(docs, "text", nMerges = 8)
    assert(fast == slow,
      s"distinct-word and corpus-scan trajectories diverged:\n" +
        s"  fast: $fast\n  slow: $slow")
    assert(fast.nonEmpty && fast.size <= 8)
    // counts at selection are occurrence-weighted (word counts, not
    // distinct words): 'at' occurs in cat×3 sat×2 mat×2 bat×2 hat×1
    // that×3 hatter×1 = 14 — the count must reflect every word
    // OCCURRENCE, which is exactly what the distinct-word rewrite
    // reconstructs via the cnt-weighted sum
    assert(fast.head == (("a", "t", 14L)), s"first merge: $fast")
  }

  test("single-symbol corpus dries out identically in both forms") {
    val tiny = Seq("a a b", "b a").toDF("text")
    val fast = TextFns.bpeTrain(tiny, "text", nMerges = 4)
    val slow = BpeReference.trainCorpusScan(tiny, "text", nMerges = 4)
    assert(fast == slow)
    assert(fast.isEmpty, "one-letter words have no adjacent pairs")
  }
}
