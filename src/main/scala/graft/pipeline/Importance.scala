package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style importance weighting for data selection (Xie et al.
  * 2023, arXiv:2302.03169): score every raw-corpus document by how
  * much more likely its hashed n-gram features are under a TARGET
  * distribution (the domain you want more of) than under the RAW
  * distribution, then resample proportionally (compose with
  * [[Sampling.weighted]] on the exponentiated weight, or simply keep
  * the top slice by score).
  *
  * Scale shape (100 TB): two histogram scans (raw + target) each
  * reduce to at most `dim` (bucket, count) rows via hash aggregation
  * with map-side partials — only those `dim` cells reach the driver
  * (the k-row footprint pattern of [[Cluster.kmeans]]). The log-ratio
  * table then rides into the scoring plan as a literal array (the
  * broadcast-as-literal pattern of the hyperplane matrices), so
  * scoring is ONE scan-local projection: no joins, no shuffle, no
  * state. Like Decontam's Bloom option, the histogram collect runs
  * EAGERLY at plan-construction time — building the frame executes
  * the two histogram scans.
  *
  * Determinism: bucket counts are exact longs; each bucket's
  * smoothed log ratio ln((t_b+1)/(T+dim)) − ln((r_b+1)/(R+dim)) is
  * floored to 2^20 fixed point ONCE on the driver, and a document's
  * score is the exact long sum of its grams' fixed ratios — so the
  * score is independent of partitioning/evaluation order and
  * replayable by any engine with an IEEE ln (PipelineQueries
  * p_dsir mirrors it in DuckDB).
  */
object Importance {

  /** Fixed-point scale for the per-bucket log ratios (2^20, the
    * [[Cluster.FixScale]] convention). A gram contributes at most
    * |ln(smoothed ratio)| ≤ ~ln(corpus size) ≈ 40, so scores stay
    * far inside long range for any document length.
    */
  val FixScale: Double = 1048576.0d

  /** Word n-gram OCCURRENCES (not distinct — frequency matters for a
    * likelihood ratio), over the same normalized tokens as
    * [[Dedup.shingles]]; documents shorter than `n` tokens contribute
    * their whole text as one gram, like the dedup shape does.
    */
  def gramSeq(text: Column, n: Int): Column = {
    val toks = Dedup.tokens(text)
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** Portable md5-derived feature bucket of a gram (the hex-fold every
    * oracle mirrors; see Dedup.shingleHash).
    */
  def bucketOf(g: Column, dim: Int): Column =
    conv(substring(md5(g), 1, 15), 16, 10).cast("long") % dim

  /** Bucket histogram of a corpus: at most `dim` cells, computed in
    * one scan and collected (the dim-bounded driver footprint). The
    * per-gram bucket runs in the native [[graft.functions.GramBuckets]]
    * kernel (one codegen'd call/row), not the interpreted
    * `transform`+`md5` Column tree.
    */
  private def histogram(df: DataFrame, textCol: String, n: Int,
      dim: Int): Array[Long] = {
    val h = Array.fill(dim)(0L)
    df.select(explode(
        graft.functions.GramBuckets(col(textCol), n, dim)).as("b"))
      .groupBy("b")
      .agg(count(lit(1)).as("c"))
      .collect()
      .foreach(r => h(r.getLong(0).toInt) = r.getLong(1))
    h
  }

  /** Per-bucket fixed-point log ratios from two histograms (add-one
    * smoothing, so unseen buckets are defined on both sides).
    */
  def fixedRatios(ht: Array[Long], hr: Array[Long]): Array[Long] = {
    require(ht.length == hr.length)
    val dim = ht.length
    val tt = ht.sum + dim
    val tr = hr.sum + dim
    Array.tabulate(dim) { b =>
      val lt = math.log((ht(b) + 1).toDouble / tt)
      val lr = math.log((hr(b) + 1).toDouble / tr)
      math.floor((lt - lr) * FixScale).toLong
    }
  }

  /** CCNet-style language-model quality signal (Wenzek et al. 2020,
    * arXiv:1911.00359): per-document cross-entropy under an add-one
    * unigram LM trained on a REFERENCE corpus (CCNet trains KenLM on
    * Wikipedia and buckets documents by perplexity; the unigram form
    * keeps the whole model in `vocabSize`+1 driver cells).
    *
    * Scale shape: training is one reference scan reduced to a top-V
    * count table (plus its total) — the dim-bounded driver footprint
    * again; scoring bakes the vocab→fixed-log-prob table into the
    * plan as a MAP LITERAL, so it is one scan-local projection per
    * document: TokenCounts fold + map lookups, no explode, no join,
    * no shuffle (PlanSpec pins it). Like [[importanceWeights]], the
    * training scan runs eagerly at plan construction.
    *
    * Determinism: token counts are exact; each symbol's
    * ln((c+1)/(T+V+1)) is floored to 2^20 fixed point ONCE on the
    * driver; a document's ce_fix is the exact long sum cnt·lp over
    * its tokens (OOV tokens share the one smoothed OOV cell), and
    * cross_entropy = −ce_fix / (n · 2^20) is a single correctly-
    * rounded IEEE division — all replayed by PipelineQueries
    * p_perplexity.
    */
  /** Train the unigram LM: top-`vocabSize` (token, count) table by
    * (count DESC, token) plus the total token count — the whole model
    * is `vocabSize`+1 driver cells, ready to bake into any plan via
    * [[crossEntropyCol]].
    */
  def trainUnigram(ref: DataFrame, textCol: String,
      vocabSize: Int): (Seq[(String, Long)], Long) = {
    require(vocabSize > 0, "vocabSize must be positive")
    val counts = graft.core.Caches.stage(
      ref.select(explode(Dedup.tokens(col(textCol))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c")))
    val top = counts.orderBy(col("c").desc, col("t"))
      .limit(vocabSize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val total = counts.agg(sum(col("c"))).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    (top, total)
  }

  /** Scan-local cross-entropy struct<ce_fix, n_tokens, cross_entropy>
    * of `text` under a trained unigram model — a pure projection (map
    * literal + TokenCounts fold), usable in any projection.
    */
  def crossEntropyCol(text: Column, vocab: Seq[(String, Long)],
      total: Long): Column = {
    val denom = (total + vocab.length + 1).toDouble
    def lpFix(c: Long): Long =
      math.floor(math.log((c + 1).toDouble / denom) * FixScale).toLong
    val lpOov = lit(lpFix(0))
    def lpOf(tok: Column): Column =
      if (vocab.isEmpty) lpOov // empty reference: everything is OOV
      else coalesce(element_at(map(vocab.flatMap { case (t, c) =>
        Seq(lit(t), lit(lpFix(c))) }.toIndexedSeq: _*), tok), lpOov)
    val tcs = graft.functions.TokenCounts(text)
    val ceFix = aggregate(tcs, lit(0L), (acc, x) =>
      acc + x.getField("cnt").cast("long") * lpOf(x.getField("token")))
    val n = aggregate(tcs, lit(0L),
      (acc, x) => acc + x.getField("cnt"))
    // bind ce/n once through a singleton-array lambda (the
    // linearQualityCol idiom) so the fold trees aren't re-evaluated
    // per consuming field
    element_at(transform(array(struct(ceFix.as("c"), n.as("n"))), s =>
      struct(s.getField("c").as("ce_fix"),
        s.getField("n").as("n_tokens"),
        when(s.getField("n") === 0, lit(null).cast("double"))
          .otherwise(-s.getField("c") /
            (s.getField("n") * lit(FixScale)))
          .as("cross_entropy"))), 1)
  }

  def unigramCrossEntropy(raw: DataFrame, ref: DataFrame,
      idCol: String, textCol: String,
      vocabSize: Int = 1024): DataFrame = {
    val (vocab, total) = trainUnigram(ref, textCol, vocabSize)
    val ce = crossEntropyCol(col(textCol), vocab, total)
    raw.select(col(idCol), ce.as("__ce"))
      .select(col(idCol), col("__ce.ce_fix").as("ce_fix"),
        col("__ce.n_tokens").as("n_tokens"),
        col("__ce.cross_entropy").as("cross_entropy"))
  }

  /** Train ONE unigram LM per language with a single corpus scan:
    * token counts keyed by (lang, token), per-language top-`vocabSize`
    * via a partitioned rank — the driver holds |langs|·(V+1) cells,
    * the multi-model generalization of [[trainUnigram]]'s bounded
    * footprint. Returns (lang → (vocab, total)) sorted by lang.
    */
  def trainUnigramPerLang(docs: DataFrame, langCol: String,
      textCol: String, vocabSize: Int)
      : Seq[(String, (Seq[(String, Long)], Long))] = {
    import org.apache.spark.sql.expressions.Window
    require(vocabSize > 0, "vocabSize must be positive")
    val counts = graft.core.Caches.stage(
      docs.select(col(langCol).as("l"),
          explode(Dedup.tokens(col(textCol))).as("t"))
        .groupBy("l", "t").agg(count(lit(1)).as("c")))
    val w = Window.partitionBy("l").orderBy(col("c").desc, col("t"))
    val top = counts
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= vocabSize)
      .orderBy("l", "rk")
      .select("l", "t", "c").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val totals = counts.groupBy("l").agg(sum(col("c")).as("tc"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    top.groupBy(_._1).toSeq.sortBy(_._1).map { case (lg, rows) =>
      lg -> (rows.map(r => (r._2, r._3)).toSeq -> totals(lg))
    }
  }

  /** Scan-local per-language cross-entropy: a CASE over the trained
    * models, each branch a [[crossEntropyCol]] map-literal fold — the
    * matched branch alone evaluates. Documents in a language with no
    * trained model score null.
    */
  def ccnetScoreCol(text: Column, lang: Column,
      models: Seq[(String, (Seq[(String, Long)], Long))]): Column = {
    require(models.nonEmpty, "no trained language models")
    val (lg0, (v0, tot0)) = models.head
    models.tail.foldLeft(
      when(lang === lit(lg0), crossEntropyCol(text, v0, tot0))) {
      case (acc, (lg, (v, tot))) =>
        acc.when(lang === lit(lg), crossEntropyCol(text, v, tot))
    }
  }

  /** CCNet's defining step (Wenzek et al. 2020 §3.4): score every
    * document under ITS OWN language's reference LM and split each
    * language into perplexity tertiles — head/middle/tail, head the
    * most reference-like. Training is the one-scan multi-model
    * histogram ([[trainUnigramPerLang]]); scoring is one scan-local
    * CASE projection (no join — the models ride as literals); the
    * tertile split is ntile(3) over ONE exchange keyed by language,
    * ordered by (cross_entropy, id) so ties and empty documents
    * (null entropy → tail end) break deterministically. The tertile
    * boundary is a global per-language statistic, so incremental
    * scoring must score with [[crossEntropyCol]] and bucket against
    * frozen boundaries instead.
    */
  def ccnetBuckets(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, vocabSize: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val models = trainUnigramPerLang(docs, langCol, textCol, vocabSize)
    val scored = docs.select(col(idCol), col(langCol).as("lang"),
        ccnetScoreCol(col(textCol), col(langCol), models).as("__ce"))
      .select(col(idCol), col("lang"),
        col("__ce.ce_fix").as("ce_fix"),
        col("__ce.n_tokens").as("n_tokens"),
        col("__ce.cross_entropy").as("cross_entropy"))
    val w = Window.partitionBy("lang")
      .orderBy(col("cross_entropy").asc_nulls_last, col(idCol))
    scored.withColumn("bucket", element_at(
      lit(Array("head", "middle", "tail")), ntile(3).over(w)))
  }

  /** Score `raw` against `target`: returns (idCol, score_fix,
    * log_weight) — `score_fix` the exact fixed-point sum (the gate
    * column), `log_weight` its IEEE rendering score_fix / 2^20
    * (exact: a long of this magnitude divided by a power of two).
    */
  def importanceWeights(raw: DataFrame, target: DataFrame,
      idCol: String, textCol: String, dim: Int = 256,
      gram: Int = 2): DataFrame = {
    require(dim > 0 && dim <= (1 << 20), s"dim out of range: $dim")
    val fixed = fixedRatios(
      histogram(target, textCol, gram, dim),
      histogram(raw, textCol, gram, dim))
    scoreWith(raw, fixed, idCol, textCol, dim, gram)
  }

  /** The common composition — target is a predicate SLICE of the raw
    * corpus (DSIR's "domain you want more of") — computed with ONE
    * histogram scan instead of two: conditional aggregation counts
    * every gram occurrence into (raw, target) cells simultaneously.
    * At 100 TB this halves the dominant cost (the corpus passes);
    * scoring is the same single scan-local projection.
    */
  def importanceWeightsSliced(docs: DataFrame, targetCond: Column,
      idCol: String, textCol: String, dim: Int = 256,
      gram: Int = 2): DataFrame =
    scoreWith(docs, trainDsir(docs, targetCond, textCol, dim, gram),
      idCol, textCol, dim, gram)

  /** Train the DSIR model alone: the one-scan dual histogram reduced
    * to the `dim`-cell fixed-point ratio table — ready to bake into
    * any plan, the trainUnigram/crossEntropyCol split.
    */
  def trainDsir(docs: DataFrame, targetCond: Column, textCol: String,
      dim: Int = 256, gram: Int = 2): Array[Long] = {
    require(dim > 0 && dim <= (1 << 20), s"dim out of range: $dim")
    val ht = Array.fill(dim)(0L)
    val hr = Array.fill(dim)(0L)
    docs.select(targetCond.as("__t"), explode(
        graft.functions.GramBuckets(col(textCol), gram, dim)).as("b"))
      .groupBy("b")
      .agg(count(lit(1)).as("cr"), count_if(col("__t")).as("ct"))
      .collect()
      .foreach { r =>
        val b = r.getLong(0).toInt
        hr(b) = r.getLong(1)
        ht(b) = r.getLong(2)
      }
    fixedRatios(ht, hr)
  }

  /** Train an n-gram language-ID model (the CLD/textcat shape:
    * per-language character-n-gram profiles; Cavnar & Trenkle 1994):
    * for each label in `langs`, a `dim`-cell fixed-point log-prob
    * table ln((c_b+1)/(T_l+dim)) over hashed char-gram features of
    * that label's slice — add-one smoothing, so every bucket is
    * defined for every language.
    *
    * Scale shape: ONE corpus scan (native CharGramBuckets kernel)
    * reduced by conditional aggregation to |langs| × dim cells — the
    * dim-bounded driver footprint again; the model re-enters the
    * scoring plan as a reference object. The label set is explicit
    * (not discovered) so train/score/replay agree on the class list;
    * rows with other labels contribute nothing.
    */
  def trainLangId(docs: DataFrame, langCol: String, textCol: String,
      langs: Seq[String], dim: Int = 256,
      gram: Int = 3): Array[Long] = {
    require(langs.nonEmpty && langs == langs.sorted.distinct,
      s"langs must be sorted and distinct, got $langs")
    require(dim > 0 && dim <= (1 << 20), s"dim out of range: $dim")
    val counts = Array.fill(langs.length, dim)(0L)
    val aggs = langs.map(l =>
      count_if(col("__l") === l).as(s"c_$l"))
    docs.select(col(langCol).as("__l"), explode(
        graft.functions.CharGramBuckets(col(textCol), gram, dim))
        .as("b"))
      .groupBy("b").agg(aggs.head, aggs.tail: _*)
      .collect()
      .foreach { r =>
        val b = r.getLong(0).toInt
        var l = 0
        while (l < langs.length) {
          counts(l)(b) = r.getLong(l + 1)
          l += 1
        }
      }
    val flat = new Array[Long](langs.length * dim)
    var l = 0
    while (l < langs.length) {
      val t = (counts(l).sum + dim).toDouble
      var b = 0
      while (b < dim) {
        flat(l * dim + b) = math.floor(
          math.log((counts(l)(b) + 1).toDouble / t) * FixScale).toLong
        b += 1
      }
      l += 1
    }
    flat
  }

  /** Classify with a trained [[trainLangId]] model: all |langs|
    * scores in one kernel pass, argmax with ties to the
    * lexicographically smallest label (langs are sorted and
    * array_position takes the FIRST maximum). One scan-local
    * projection — streams unchanged.
    */
  def langIdModel(docs: DataFrame, flat: Array[Long],
      langs: Seq[String], idCol: String, textCol: String,
      dim: Int = 256, gram: Int = 3): DataFrame = {
    require(langs.nonEmpty && flat.length == langs.length * dim,
      "model size must be |langs| * dim")
    docs.select(col(idCol),
        graft.functions.CharGramScores(col(textCol), gram, dim, flat,
          langs.length).as("__s"))
      .select(col(idCol),
        element_at(lit(langs.toArray),
          array_position(col("__s"), array_max(col("__s")))
            .cast("int")).as("pred_lang"),
        array_max(col("__s")).as("score_fix"))
  }

  /** Scoring pass: one scan-local projection; the per-document exact
    * long sum runs in the native [[graft.functions.DsirScore]] kernel
    * with the ratio table riding the plan as a reference object.
    */
  private def scoreWith(docs: DataFrame, fixed: Array[Long],
      idCol: String, textCol: String, dim: Int,
      gram: Int): DataFrame =
    docs.select(col(idCol),
        graft.functions.DsirScore(col(textCol), gram, dim, fixed)
          .as("score_fix"))
      .select(col(idCol), col("score_fix"),
        (col("score_fix") / lit(FixScale)).as("log_weight"))
}
