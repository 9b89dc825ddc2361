package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Hybrid-retrieval fusion: combine independently produced ranked
  * candidate lists (lexical BM25, vector ANN, …) into one ranking.
  *
  * The training-data angle: retrieval-based dedup/decontamination and
  * RAG-corpus curation both end with "merge the lexical and the
  * embedding shortlist", and rank fusion is the standard way to do it
  * without score calibration across heterogeneous scorers.
  */
object Retrieval {

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * given N ranked lists with columns (query_id, doc_id, rank),
    * `score(q, d) = Σ_lists 1 / (kConst + rank_list(d))` — documents
    * absent from a list contribute nothing — then re-rank per query by
    * the fused score. `kConst = 60` is the paper's constant.
    *
    * Scale shape: inputs are top-k lists, so the unioned frame is
    * |queries| × k × N rows regardless of corpus size; ONE shuffle on
    * query_id covers both the fusion aggregate and the re-rank window
    * (the aggregate's (query_id, doc_id) hash partitioning satisfies
    * the window's query_id clustering only if Spark plans them on the
    * same key set — it does not, so this is one exchange per step with
    * AQE-coalesced tiny partitions; both frames are shortlist-sized,
    * never corpus-sized).
    *
    * The per-addend decimal rounding (`Tables.dsum`) keeps the fused
    * score independent of Spark's reduction order, so an SQL oracle
    * replays it exactly.
    */
  def rrf(lists: Seq[DataFrame], kConst: Int = 60, topK: Int = 10,
      scale: Int = 12): DataFrame = {
    require(lists.nonEmpty, "rrf needs at least one ranked list")
    val uni = lists.map(_.select(col("query_id"), col("doc_id"),
      col("rank").cast("int").as("rank"))).reduce(_ unionAll _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    uni.groupBy("query_id", "doc_id")
      .agg(graft.Tables.dsum(lit(1.0d) / (lit(kConst) + col("rank")),
          scale).as("rrf"),
        count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "rank", "doc_id", "rrf", "n_lists")
  }

  /** Contrastive-pair mining for embedding-model training: for each
    * anchor, the `nPos` nearest SAME-label vectors (positives) and
    * the `nNeg` nearest DIFFERENT-label vectors — the hard negatives
    * that actually move a contrastive/triplet loss, as opposed to
    * random negatives a batch sampler would draw.
    *
    * This exact-scoring form broadcasts the anchor set over one
    * corpus scan (anchors ≪ corpus, the mining norm) and takes both
    * per-anchor top lists in ONE window pass partitioned by (anchor,
    * polarity). At billion-vector scale the scoring stage swaps for
    * an ANN shortlist ([[Ann.ivfPqTopK]] / [[Ann.binaryTopK]]) with
    * this same ranking tail — the join topology is unchanged.
    */
  def hardNegatives(anchors: DataFrame, corpus: DataFrame,
      aId: String, cId: String, vecCol: String, labelCol: String,
      nPos: Int = 3, nNeg: Int = 3): DataFrame = {
    // unlabeled rows are excluded from mining on BOTH sides: a NULL
    // label can certify neither a positive nor a (safe) negative, and
    // without the filter the three-valued === would route NULL-label
    // candidates through the negative branch as a third window
    // partition
    val a = anchors.filter(col(labelCol).isNotNull)
      .select(col(aId).as("anchor_id"),
        col(vecCol).cast("array<double>").as("av"),
        col(labelCol).as("anchor_label"))
    val c = corpus.filter(col(labelCol).isNotNull)
      .select(col(cId).as("cand_id"),
        col(vecCol).cast("array<double>").as("cv"),
        col(labelCol).as("cand_label"))
    val w = Window.partitionBy("anchor_id", "is_positive")
      .orderBy(col("cos").desc, col("cand_id"))
    c.join(broadcast(a), col("anchor_id") =!= col("cand_id"))
      .withColumn("cos", Dedup.cosine(col("av"), col("cv")))
      .withColumn("is_positive",
        col("cand_label") === col("anchor_label"))
      .withColumn("rank", row_number().over(w))
      .filter(when(col("is_positive"), col("rank") <= nPos)
        .otherwise(col("rank") <= nNeg))
      .select("anchor_id", "is_positive", "rank", "cand_id",
        "cand_label")
  }

  /** nDCG discount 1/log2(rank+1) for ranks 1..k, computed ONCE on
    * the driver and embedded as literals in the plan (and in oracle
    * SQL), so no engine's `ln` implementation — whose last ulp is
    * library-defined — enters the comparison.
    */
  def dcgGains(k: Int): Seq[Double] =
    (1 to k).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))

  /** Ideal DCG at each reference-list length 1..k (cumulative
    * [[dcgGains]] prefix sums through DECIMAL, like the DCG itself) —
    * the per-query nDCG denominators. `idcgAt(k).last` is the
    * full-length denominator. */
  def idcgAt(k: Int): Seq[Double] = {
    val dec = dcgGains(k).map(g =>
      BigDecimal(g).setScale(12, BigDecimal.RoundingMode.HALF_UP))
    dec.scanLeft(BigDecimal(0))(_ + _).tail.map(_.toDouble)
  }

  /** Ranking-evaluation metrics for an approximate retriever against
    * an exact reference — the numbers every ANN recall claim in this
    * library should be (and now can be) measured with in-engine.
    *
    * Inputs are ranked lists (query_id, doc_id/neighbor_id, rank);
    * relevance is binary membership in the reference top-k. Per
    * query: `recall@k`, `mrr` (1/rank of the first relevant hit, 0
    * if none), and `ndcg@k` with the [[dcgGains]] literal discounts
    * (DCG reduced through DECIMAL so summation order is immaterial).
    * Recall and nDCG normalize by the query's ACTUAL reference-list
    * length (≤ k), not k itself ([[idcgAt]]), so a truncated
    * reference can still score 1.0.
    *
    * Scale shape: both inputs are top-k lists (|queries| × k rows);
    * one broadcast-able equi-join on (query_id, doc_id) marks hits
    * and one aggregation keyed by query_id produces the report — no
    * corpus data is touched.
    */
  def rankMetrics(approx: DataFrame, exact: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val gains = dcgGains(k)
    val idcgs = idcgAt(k)
    val gainCol = (1 to k).foldRight(lit(0.0d): Column) { (r, acc) =>
      when(col("rank") === r, lit(gains(r - 1))).otherwise(acc)
    }
    val a = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        col("rank").cast("int").as("rank"))
    val e = exact.filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), lit(1).as("__rel"))
    // per-query reference-list LENGTH is the normalization base: a
    // reference shorter than k (corpus smaller than k+1, truncated
    // exact list) must still be able to score recall/nDCG = 1.0 — a
    // hardcoded /k and idcg@k silently deflate both whenever the
    // exactly-k-reference-rows assumption breaks
    val refs = e.groupBy("query_id")
      .agg(count(lit(1)).cast("int").as("__n_ref"))
    val idcgCol = (1 until k).foldRight(lit(idcgs.last): Column) {
      (n, acc) => when(col("__n_ref") === n, lit(idcgs(n - 1)))
        .otherwise(acc)
    }
    val perQuery = a.join(e, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("rank"),
        coalesce(col("__rel"), lit(0)).as("hit"))
      .groupBy("query_id")
      .agg(
        sum(col("hit")).cast("long").as("n_hit"),
        coalesce(lit(1.0d) /
            min(when(col("hit") === 1, col("rank"))),
          lit(0.0d)).as("mrr"),
        graft.Tables.dsum(when(col("hit") === 1, gainCol)
            .otherwise(lit(0.0d)), 12).as("__dcg"))
    // a query the retriever returned NOTHING for must score zero, not
    // vanish (a silent drop inflates any aggregate over the report) —
    // every query in the reference gets a row
    refs.join(perQuery, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("__n_ref")).as("recall"),
        coalesce(col("mrr"), lit(0.0d)).as("mrr"),
        (coalesce(col("__dcg"), lit(0.0d)) / idcgCol).as("ndcg"))
  }

  /** Bitext margin mining (Artetxe & Schwenk, ACL 2019): align a
    * source-language embedding set with a target-language one by the
    * MARGIN criterion rather than raw cosine —
    * `margin(x, y) = cos(x, y) / ((avgK_fwd(x) + avgK_bwd(y)) / 2)` —
    * which normalizes away hubness (a target that is everyone's
    * near-neighbor gets a high denominator and stops winning every
    * source). Returns the best target per source by margin.
    *
    * Determinism across engines: the top-k averages are computed as
    * an EXPLICIT fixed-association sum over the rank-pivoted values
    * ((c1+c2)+…)/n — never an engine `avg`, whose reduction order is
    * partition-dependent — so the DuckDB oracle replays the same IEEE
    * operations in the same order (gate p_bitext).
    *
    * Scale shape: this exact form is the RECALL ORACLE — it scores
    * every (src, tgt) pair and is quadratic by definition; run it on
    * samples. The production path at corpus scale feeds the same
    * margin arithmetic from the binary-index shortlists both
    * directions ([[graft.pipeline.Indexes.binaryTopKIndexed]]), the
    * standard LASER/CCMatrix layout.
    */
  def marginMine(src: DataFrame, tgt: DataFrame, srcId: String,
      tgtId: String, vecCol: String, k: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val s0 = src.select(col(srcId).as("src_id"),
      col(vecCol).cast("array<double>").as("sv"))
    val t0 = tgt.select(col(tgtId).as("tgt_id"),
      col(vecCol).cast("array<double>").as("tv"))
    val pairs = graft.core.Caches.stage(
      s0.crossJoin(t0)
        .withColumn("cos", Dedup.cosine(col("sv"), col("tv")))
        .select(col("src_id"), col("tgt_id"), col("cos")))
    def sideAvg(key: String, other: String): DataFrame = {
      val w = Window.partitionBy(key)
        .orderBy(col("cos").desc, col(other))
      fixedAssocAvg(
        pairs.withColumn("__r", row_number().over(w))
          .filter(col("__r") <= k),
        key, k, s"__avg_$key")
    }
    bestByMargin(pairs, sideAvg("src_id", "tgt_id"),
      sideAvg("tgt_id", "src_id"))
  }

  /** [[marginMine]] fed from 1-bit-index shortlists both directions —
    * the corpus-scale path the exact form's docstring names (the
    * LASER/CCMatrix layout). Forward and backward k-NN come from
    * [[Ann.binaryTopK]] (the persisted-artifact twin
    * `Indexes.binaryTopKIndexed` has the same output shape and drops
    * in); the margin arithmetic — fixed-association averages, the
    * same denominator — is IDENTICAL, so the only approximation is
    * shortlist recall (BitextSpec pins full agreement with the exact
    * form on the fixture corpus).
    *
    * src and tgt are DIFFERENT corpora, so the shortlists run with
    * `selfExclude = false`: id spaces may overlap (both 0-based is
    * common) and the exact form scores a pair whose ids happen to
    * coincide — the self-search exclusion would silently drop it
    * (BitextSpec pins the overlapping-id-space agreement).
    */
  def marginMineApprox(src: DataFrame, tgt: DataFrame, srcId: String,
      tgtId: String, vecCol: String, k: Int = 4, shortlist: Int = 50,
      dim: Int = 64): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"need 1 <= k <= shortlist, got k=$k shortlist=$shortlist")
    // candidates = the WHOLE forward shortlist, margin-reranked (the
    // LASER practice): margin can promote a pair from below the
    // cosine top-k once the hub denominator bites, so restricting
    // candidates to k would silently re-introduce the hubness bias
    val fwd = graft.core.Caches.stage(
      Ann.binaryTopK(src, tgt, srcId, tgtId, vecCol, shortlist,
          shortlist, dim, selfExclude = false)
        .select(col("query_id").as("src_id"),
          col("neighbor_id").as("tgt_id"),
          col("rank").as("__r"), col("cos")))
    val bwd = Ann.binaryTopK(tgt, src, tgtId, srcId, vecCol, k,
        shortlist, dim, selfExclude = false)
      .select(col("query_id").as("tgt_id"),
        col("rank").as("__r"), col("cos"))
    bestByMargin(fwd.select("src_id", "tgt_id", "cos"),
      fixedAssocAvg(fwd.filter(col("__r") <= k), "src_id", k,
        "__avg_src_id"),
      fixedAssocAvg(bwd, "tgt_id", k, "__avg_tgt_id"))
  }

  /** Fixed-association top-k cosine average over a ranked frame
    * (columns `key`, __r in 1..k, cos): ((c1+c2)+…)/n — never an
    * engine `avg`, whose reduction order is partition-dependent and
    * would diverge from the SQL oracle in the last ulp.
    */
  private def fixedAssocAvg(ranked: DataFrame, key: String, k: Int,
      out: String): DataFrame = {
    val pivots = (1 to k).map(i =>
      max(when(col("__r") === i, col("cos"))).as(s"__c$i"))
    val sum = (1 to k).map(i => coalesce(col(s"__c$i"), lit(0.0d)))
      .reduce(_ + _)
    val n = (1 to k).map(i =>
      when(col(s"__c$i").isNotNull, 1).otherwise(0)).reduce(_ + _)
    ranked.groupBy(key).agg(pivots.head, pivots.tail: _*)
      .select(col(key), (sum / n).as(out))
  }

  /** Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998):
    * greedily re-rank a per-query candidate shortlist balancing
    * relevance against redundancy — pick argmax of
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` k times. The
    * training-data use is diversity-aware selection: a nearest-
    * neighbor shortlist full of near-duplicates wastes its slots, and
    * MMR is the standard fix (RAG context packing, eval-set
    * construction, demonstration selection).
    *
    * Inputs are SHORTLISTS, not corpora: `shortlist` carries
    * (query_id, cand_id, rel) from any retriever — exact cosine,
    * [[Ann.binaryTopK]], [[Ann.ivfPqTopK]], BM25 — and `vecs` the
    * candidate vectors for the redundancy term. Every frame in the
    * loop is |queries|·shortlist rows (pairwise sims:
    * |queries|·shortlist²) — corpus size never enters.
    *
    * Determinism/portability: rel and sim are [[Dedup.cosine]]
    * (ordered-fold IEEE arithmetic an external engine replays
    * bit-for-bit), the marginal score is two literal multiplies and a
    * subtract, ties break on cand_id — so the whole greedy trajectory
    * is engine-portable (λ as integer percent to keep the literals
    * exact).
    *
    * Plan shape (optimization round 17): the greedy trajectory runs
    * PER QUERY inside one row. A query's entire state is its ≤
    * |shortlist| candidates (ids, rel, vectors) — corpus size never
    * enters — so the k-round driver loop of join + window +
    * lineage-cut barriers this used to run (4+ jobs and 3 exchanges
    * per step, a global barrier across ALL queries each round) is
    * replaced by one groupBy(query_id) collecting the candidate
    * structs and one HOF fold over steps 2..k that replays the exact
    * same argmax arithmetic (score `λ·rel − (1−λ)·max_sel sim` with
    * [[Dedup.cosine]] sims, ties on cand_id ascending). Two exchanges
    * total, no barriers, and queries never wait for each other — the
    * shape that scales to millions of queries.
    *
    * Contract: `vecs` must cover every shortlist cand_id — the inner
    * join to vecs drops uncovered candidates before step 1 (a
    * candidate without a vector cannot be diversity-scored), so a
    * caller with partial vector coverage should left-fill or
    * pre-filter its shortlist explicitly.
    *
    * @return (query_id, step, cand_id), step = 1..k in selection order
    */
  def mmr(shortlist: DataFrame, vecs: DataFrame, k: Int,
      lambdaPct: Int = 70): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(lambdaPct >= 0 && lambdaPct <= 100,
      s"lambdaPct must be in [0,100], got $lambdaPct")
    val lam = lit(lambdaPct / 100.0d)
    val oneMinus = lit((100 - lambdaPct) / 100.0d)
    val cand = shortlist.select("query_id", "cand_id", "rel")
      .join(vecs.select(col("cand_id"),
        col("v").cast("array<double>").as("v")), "cand_id")
    val grouped = cand.groupBy("query_id")
      .agg(collect_list(struct(col("cand_id"), col("rel"), col("v")))
        .as("cs"))
    // argmax of array<struct<score, c>> by (score desc, cand_id asc)
    // — a left fold seeded with the first element, exactly the
    // row_number()-over-(score desc, cand_id) pick of the loop form.
    def argmax(scored: Column): Column = aggregate(
      slice(scored, lit(2), greatest(size(scored) - 1, lit(0))),
      get(scored, lit(0)),
      (b, x) => when(
        x.getField("score") > b.getField("score") ||
          (x.getField("score") === b.getField("score") &&
            x.getField("c").getField("cand_id") <
              b.getField("c").getField("cand_id")), x).otherwise(b))
    // one selection step: drop already-selected candidates, score the
    // rest against the selected set, append the argmax (no-op once
    // every candidate is selected — k may exceed the shortlist).
    def step(sel: Column, cs: Column): Column = {
      val remaining = filter(cs, c =>
        !exists(sel, s =>
          s.getField("cand_id") === c.getField("cand_id")))
      val scored = transform(remaining, c => struct(
        (lam * c.getField("rel") - oneMinus *
          array_max(transform(sel, s =>
            Dedup.cosine(c.getField("v"), s.getField("v")))))
          .as("score"),
        c.as("c")))
      val p = argmax(scored)
      concat(sel, filter(array(p.getField("c")), e => e.isNotNull))
    }
    val first = {
      val scored = transform(col("cs"), c =>
        struct(c.getField("rel").as("score"), c.as("c")))
      val p = argmax(scored)
      filter(array(p.getField("c")), e => e.isNotNull)
    }
    // steps 2..k as a fold over the step numbers: the selected-set
    // state is a lambda variable, so the expression tree stays O(k)
    // (chaining step() calls directly would duplicate the state
    // subtree multiplicatively per step)
    val sel =
      if (k == 1) first
      else aggregate(sequence(lit(2), lit(k)), first,
        (s, _) => step(s, col("cs")))
    grouped.select(col("query_id"), posexplode(sel))
      .select(col("query_id"), (col("pos") + 1).as("step"),
        col("col").getField("cand_id").as("cand_id"))
  }

  /** Convenience form of [[mmr]]: exact-cosine shortlist from a
    * corpus (the recall-oracle posture — at scale swap the shortlist
    * stage for an ANN probe; the greedy tail is identical).
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, qId: String,
      cId: String, vecCol: String, k: Int = 5, shortlist: Int = 20,
      lambdaPct: Int = 70): DataFrame = {
    val short = Ann.bruteForceTopK(queries, corpus, qId, cId, vecCol,
        shortlist)
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        col("cos").as("rel"))
    val vecs = corpus.select(col(cId).as("cand_id"),
      col(vecCol).cast("array<double>").as("v"))
    mmr(short, vecs, k, lambdaPct)
  }

  private def bestByMargin(pairs: DataFrame, avgS: DataFrame,
      avgT: DataFrame): DataFrame =
    pairs
      .join(avgS, "src_id")
      .join(avgT, "tgt_id")
      .withColumn("margin",
        col("cos") / ((col("__avg_src_id") + col("__avg_tgt_id")) / 2))
      .withColumn("__mr", row_number().over(
        Window.partitionBy("src_id")
          .orderBy(col("margin").desc, col("tgt_id"))))
      .filter(col("__mr") === 1)
      .select(col("src_id"), col("tgt_id"), col("margin"))
}
