package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Train/eval contamination detection: which evaluation documents
  * share enough word n-grams with a training document to suggest
  * leakage — the standard decontamination pass before training.
  *
  * Shape (100 TB): both corpora explode to (id, shingle-hash) rows —
  * the md5-derived 60-bit hash, not the shingle text, so the shuffle
  * carries 8 bytes per gram — and meet in ONE equi-join on the hash
  * (an inverted index, never a doc×doc comparison). Per-pair common
  * counts are a map-side-combinable aggregation. Boilerplate grams
  * (train-side frequency > maxShingleFreq) are dropped before the
  * join, exactly like LSH's maxBucket skew cap, which bounds the
  * join's fan-out at corpus scale.
  *
  * SCALE CLAIM, qualified: linearity in the train corpus holds for
  * the PRODUCTION shape — a FIXED eval suite (benchmarks don't grow
  * with the corpus) and n ≥ 8 grams (prose 8-gram density collapses;
  * n = 3 makes every gram boilerplate). Measured at that shape
  * (fixed 250-doc eval, n = 8, gates p_contamination/_frac,
  * BENCH_sf10_r12.json): 0.75 s at sf0.1 → 2.2 s at sf1 → 10.6 s at
  * sf10 — 14× over 100× data, tracking the q1 scan control
  * (0.27 → 0.61 → 2.4 s). If BOTH sides grow with the corpus the
  * OUTPUT pair set itself can grow super-linearly (shared grams ×
  * shared grams) and no join strategy changes that — that cost is
  * the answer's size, not the operator's; cap it upstream with
  * `minCommon`, the boilerplate caps, or an eval-side budget.
  */
object Decontam {

  /** (test_id, train_id, n_common) for pairs sharing ≥ `minCommon`
    * distinct word `n`-grams.
    *
    * `maxShingleFrac`: RELATIVE boilerplate cap — drop grams present
    * in more than this fraction of train documents (effective cap =
    * min(maxShingleFreq, ceil(frac·|train|)), computed lazily
    * in-plan from the train count; `ceil` means a gram unique to one
    * train document ALWAYS survives, at any corpus size). The
    * absolute `maxShingleFreq` alone stops protecting as the corpus
    * grows: at 100× the data the same boilerplate gram has 100× the
    * count and sails under any fixed threshold — the sf10 rehearsal
    * measured the join fan-out going quadratic exactly this way
    * (p_curate 550.8 → 11.6 s with the relative cap; ROADMAP round-9
    * sf10 notes). A gram shared by a constant fraction of the corpus
    * is boilerplate at every scale, so the fraction is the
    * scale-stable form of the guard and 0.001 is the DEFAULT
    * production posture — running `contamination()` with default
    * arguments at warehouse scale must not hit the quadratic cliff.
    * Pass 1.0 to disable (the legacy absolute-cap-only behavior,
    * which also skips the in-plan train count entirely).
    *
    * ORDERING CAVEAT the default cap assumes: dedup runs BEFORE
    * decontamination (as [[graft.queries.PipelineQueries.pCurate]]
    * composes them, and as every production curation pipeline
    * orders them). On a small or un-deduplicated train corpus the
    * relative cap is tight — ceil(0.001·N) is 1 below 1 000 docs —
    * so a document leaked INTO TRAIN MORE THAN ceil(frac·N) TIMES
    * has its grams classified as boilerplate and escapes detection.
    * That is the cap's semantics (a gram in a corpus-constant
    * fraction of documents carries no contamination signal), but on
    * duplicate-heavy input it is a false-negative source: dedup
    * first, or raise `maxShingleFrac` toward 1.0 for small corpora.
    */
  def contamination(train: DataFrame, trainId: String,
      test: DataFrame, testId: String, textCol: String,
      n: Int = 8, minCommon: Int = 2,
      maxShingleFreq: Int = 1000,
      maxShingleFrac: Double = 0.001): DataFrame = {
    require(maxShingleFrac > 0 && maxShingleFrac <= 1.0,
      s"maxShingleFrac must be in (0, 1], got $maxShingleFrac")
    // per-document hash dedup happens INSIDE the row (the native
    // expression returns distinct hashes), so no shuffle-distinct is
    // needed before the join — (id, h) rows are unique by construction
    def grams(df: DataFrame, id: String, as: String): DataFrame =
      Dedup.spread(df.select(col(id).as(as), col(textCol).as("__t")))
        .select(col(as),
          explode(graft.functions.ShingleHashes(col("__t"), n)).as("h"))
    val te = grams(test, testId, "test_id")
    val tr0 = grams(train, trainId, "train_id")
    val cap: Column = if (maxShingleFrac >= 1.0) lit(maxShingleFreq)
      else least(lit(maxShingleFreq.toLong),
        ceil(lit(maxShingleFrac) *
          col("__n_train")).cast("long"))
    // Boilerplate cap as ONE window over the gram stream — measured
    // A/B at sf10 (ROADMAP round-10) against the "obvious"
    // improvement (groupBy(h).count → broadcast anti-join of the
    // offending grams): window 189 s vs 243–302 s for the whole gate.
    // The groupBy shape looks scale-right (partial agg before the
    // exchange) but buys nothing: real n-gram streams are
    // high-entropy (probe: 17.6 M distinct of 19.8 M rows at n=8),
    // so the freq aggregate's partial states ARE the gram stream and
    // both shapes shuffle the same volume — the anti-join variant
    // then pays the extra cache materialization and second pass on
    // top. For trillion-gram corpora the direction is an APPROXIMATE
    // guard (a guard tolerates over-dropping where a result cannot):
    // e.g. uniform gram sampling at rate p with cap p·frac·N — an
    // expected-(p·df) binomial count concentrates tightly at
    // boilerplate df — or the [[CountMin]] sharded-candidate shape.
    // Neither is wired in because the exact window WON the A/B at
    // every measured scale and the approximate forms change results
    // (gate hashes); revisit when a profiled corpus makes the gram
    // exchange itself the bottleneck.
    val tr1 = if (maxShingleFrac >= 1.0) tr0
      else tr0.crossJoin(broadcast(
        train.agg(count(lit(1)).as("__n_train"))))
    val tr = tr1
      .withColumn("__freq", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("__freq") <= cap)
      .drop("__freq", "__n_train")
    te.join(tr, "h")
      .groupBy("test_id", "train_id")
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
  }

  /** Persist a [[SeenSet]] Bloom filter over an eval corpus's
    * distinct shingles — decontamination as a reusable ARTIFACT, the
    * Bloom tier in front of the exact [[contamination]] join. The eval
    * side is written ONCE — benchmark suites change rarely — and every
    * later training batch screens against the artifact
    * ([[suspiciousGrams]]) without the eval sets even being readable
    * anymore. Keys are the shingle STRINGS (the portable md5
    * contract), so the filter replays in SQL.
    */
  def writeEvalFilter(eval: DataFrame, textCol: String, path: String,
      n: Int = 3, mBits: Int = 1 << 20, nHashes: Int = 4,
      nShards: Int = 1): Unit =
    SeenSet.write(
      // the NATIVE shingle kernel (spec-pinned == Dedup.shingles): the
      // HOF Column form's transform/slice lambdas run interpreted and
      // dominated this operator's cost at sf0.1 (~6 s of an 8 s gate)
      eval.select(explode(
          graft.functions.Shingles(col(textCol), n)).as("g"))
        .distinct(),
      "g", path, mBits, nHashes, nShards)

  /** Per-document suspicion screen against a persisted
    * [[writeEvalFilter]] artifact: (doc, n_grams, n_suspicious) where
    * n_suspicious counts this doc's distinct shingles the filter
    * cannot rule out of the eval corpus. NO FALSE NEGATIVES: a doc
    * with n_suspicious = 0 PROVABLY shares no n-gram with the eval
    * sets and needs no further check; the small false-positive mass
    * only routes extra docs into the exact [[contamination]] pass.
    * One scan of the batch, a broadcast of the filter, no eval-side
    * I/O at all — the cheap front of a two-tier decontamination.
    */
  def suspiciousGrams(train: DataFrame, idCol: String,
      textCol: String, seen: DataFrame, n: Int = 3): DataFrame = {
    val g = train.select(col(idCol).as("doc_id"),
      explode(graft.functions.Shingles(col(textCol), n)).as("g"))
    SeenSet.probe(g, "g", seen)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("maybe_seen"), 1L).otherwise(0L))
          .as("n_suspicious"))
  }
}
