package graft.queries

import graft.SparkSpec
import graft.SparkEntry

/** Physical-plan regression checks: lock in the scale-critical plan
  * properties (pushdown, pruning, broadcast, top-k, generator-free
  * direct queries) so refactors can't silently regress them.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val qe = SparkEntry.queries(name)(spark, sf("sf0.001")).queryExecution
    // splice in cached-relation subplans: a persist() inside an
    // operator (express deep-reduce, LSH candidates) must not hide
    // the pushdown/broadcast properties these tests pin
    val cached = qe.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cachedPlan.toString
    }
    (qe.executedPlan.toString +: cached).mkString("\n--- cached ---\n")
  }

  test("q6: all filters reach the parquet scan") {
    val p = plan("q6_revenue")
    assert(p.contains("PushedFilters: [IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual(l_discount,0.05)"),
      s"missing pushed filters:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_discount:double>"))
  }

  test("q1: column pruning and partial aggregation") {
    val p = plan("q1_agg")
    assert(p.contains("l_returnflag") && !p.contains("l_orderkey"),
      "scan should read only referenced columns")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expect partial + final hash aggregation")
  }

  test("q3: dimension joins broadcast; top-k avoids global sort") {
    val p = plan("q3_join_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_topk plans as TakeOrderedAndProject") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("direct query compilation stays generator-free") {
    val p = plan("q_eav_direct")
    assert(!p.contains("Generate"), s"unexpected explode:\n$p")
  }

  test("q_eav_nested: the regroup tier reads the shred's documents") {
    val qe = SparkEntry.queries("q_eav_nested")(spark, sf("sf0.001"))
      .queryExecution
    val shreds = qe.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
          if g.generator.isInstanceOf[graft.shred.ShredGenerator] => g
    }
    assert(shreds.isEmpty, qe.optimizedPlan.toString)
    // typed-EAV binding columns print as "n#t#<exprId>"
    assert(!qe.executedPlan.toString.contains("#t#"), qe.executedPlan)
  }

  test("mixed literal+table query streams from the parquet scan") {
    val p = plan("q_rm_mixed")
    assert(p.contains("parquet"),
      s"customer side must stream from files (no driver collect):\n$p")
    assert(p.contains("Join"), s"expected a distributed join:\n$p")
  }

  test("llm extract dedups and re-joins on the content hash") {
    val p = plan("p_llm_extract")
    assert("Join \\[__h#\\d+\\], \\[__h#\\d+\\]".r.findFirstIn(p).isDefined,
      s"answer re-join must key on md5(text), not the text:\n$p")
    assert(!"Join \\[__text".r.findFirstIn(p).isDefined, p)
  }

  test("anti/semi classification is a single join") {
    val p = plan("q_anti_semi")
    assert("Join".r.findAllIn(p).size == 1,
      s"expected one outer join, not union-of-two-joins:\n$p")
  }

  test("deep express reduce: pushdown and broadcast survive the cascade") {
    val p = plan("q_express_deep")
    assert(p.contains("GreaterThan(c_acctbal,9900"),
      s"customer filter must reach the parquet scan:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "dimension joins should broadcast at every cascade level")
    // the persisted binding frame materializes exactly the template's
    // columns, so orders prunes to (key, okey) — not the full table
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>"),
      "orders scan should prune to the binding-frame columns")
  }

  test("function queries prune the scan") {
    val p = plan("f_string")
    assert(!p.contains("p_retailprice") && !p.contains("p_size"),
      "f_string should not read unreferenced part columns")
  }

  test("p_doc_freq: one scan, one explode, one agg, bounded top-n") {
    val p = plan("p_doc_freq")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expect partial + final hash aggregation:\n$p")
    assert("Generate".r.findAllIn(p).size == 1,
      s"tf and df come from ONE explode of row-local token counts:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"single-branch plan needs no tf-df join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "top-N must not be a global sort")
    assert(!p.contains("doc_id"),
      "the vocabulary pass never reads document ids")
  }

  test("p_keywords: vocabulary broadcasts; ranking is the only wide op") {
    val p = plan("p_keywords")
    assert(p.contains("BroadcastHashJoin"),
      s"df vocabulary should broadcast onto the token explode:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    // ONE tokenization: both the ranking side and the df vocabulary
    // read the staged (InMemoryRelation) explode — the executed plan
    // outside the cache must contain NO Generate of its own, and both
    // consumers must scan the cache. (The cached subtree's own string
    // repeats per consumer in the printed tree, so counting "Generate"
    // over the spliced text would overcount the single explode.)
    val qe = SparkEntry.queries("p_keywords")(spark, sf("sf0.001"))
      .queryExecution
    val outsideCache = qe.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(outsideCache.isEmpty,
      s"tokenization must live only inside the staged cache:\n" +
        qe.optimizedPlan)
    val cacheScans = qe.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cacheScans.size >= 2,
      s"both vocab and ranking branches should read the staged explode:\n" +
        qe.optimizedPlan)
    graft.core.Caches.releaseAll(spark)
  }

  test("p_kmeans: assignment is a scan-local projection, no joins") {
    val p = plan("p_kmeans")
    assert(!p.contains("Join"),
      s"centroids are plan literals — assignment must not join:\n$p")
    assert(p.contains("embedding"),
      "assignment reads the embedding column")
  }

  test("q_quantiles: histogram order statistic, no per-group collect") {
    val p = plan("q_quantiles")
    assert(!p.contains("collect_list"),
      s"exact branch must not hold a group's values in one buffer:\n$p")
    assert(p.contains("Window"),
      s"cumulative counts come from a window over the histogram:\n$p")
    // the window's input must be the aggregated (group, value, cnt)
    // histogram, never the raw scan: HashAggregate below the Window
    val wIdx = p.indexOf("Window")
    assert(p.indexOf("HashAggregate", wIdx) > 0,
      s"window must run over the aggregated histogram:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the approx branch attaches via a tiny broadcast join:\n$p")
  }

  test("p_dsir: scoring is one scan-local projection, no joins") {
    // the histogram scans run eagerly at construction; the RETURNED
    // plan is the scoring pass only — ratio table as literals, no
    // join, no explode (grams fold inside the projection)
    val spark0 = spark
    val doc = graft.Tables.documents(spark0, sf("sf0.001"))
    val p = graft.pipeline.Importance.importanceWeights(
        doc, doc.filter(org.apache.spark.sql.functions
          .col("lang") === "en"), "doc_id", "text", dim = 64, gram = 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"scoring must not join:\n$p")
    assert(!p.contains("Generate"), s"scoring must not explode:\n$p")
    assert(!p.contains("Exchange"), s"scoring must not shuffle:\n$p")
  }

  test("p_perplexity: scoring is one scan-local projection, no joins") {
    val doc = graft.Tables.documents(spark, sf("sf0.001"))
    val p = graft.pipeline.Importance.unigramCrossEntropy(
        doc, doc.filter(org.apache.spark.sql.functions
          .col("lang") === "en"), "doc_id", "text", vocabSize = 64)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"vocab is a map literal, no join:\n$p")
    assert(!p.contains("Generate"), s"scoring must not explode:\n$p")
    assert(!p.contains("Exchange"), s"scoring must not shuffle:\n$p")
  }

  test("p_domain_cap: the cap plans as partial+final WindowGroupLimit") {
    val p = plan("p_domain_cap")
    // map tasks emit at most cap rows per key BEFORE the shuffle —
    // the property that keeps a mega domain off a single reducer
    assert(p.contains("WindowGroupLimit") && p.contains("Partial") &&
      p.contains("Final"),
      s"expect the partial/final window-group-limit pair:\n$p")
    assert(!p.contains("Join"), s"cap must not join:\n$p")
  }

  test("p_postings: per-token cap is a WindowGroupLimit; df broadcasts") {
    val p = plan("p_postings")
    // a stopword's postings never all cross the wire: map tasks emit
    // at most cap rows per token before the exchange
    assert(p.contains("WindowGroupLimit") && p.contains("Partial") &&
      p.contains("Final"),
      s"expect the partial/final window-group-limit pair:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded vocab header attaches by broadcast:\n$p")
  }

  test("p_curate: quality filter runs before the dedup shuffle") {
    val p = plan("p_curate")
    // the quality predicate is a Filter below the first Exchange —
    // cheap scan-local scoring prunes rows before any wide stage
    val exchangeIdx = p.indexOf("Exchange")
    val filterIdx = p.indexOf("Filter")
    assert(exchangeIdx > 0 && filterIdx > 0,
      s"expect both a Filter and an Exchange:\n$p")
    assert(p.lastIndexOf("Filter") > exchangeIdx,
      s"quality Filter should appear below (after in text) an Exchange:\n$p")
  }

  /** The unpivot/tokenize Generate must live ONLY inside the staged
    * cache, with both consumer branches reading it — the one-scan
    * contract of p_profile and p_heavy. */
  private def pinStagedGenerate(name: String): Unit = {
    val qe = SparkEntry.queries(name)(spark, sf("sf0.001"))
      .queryExecution
    // data-driven Generates only: a literal explode (e.g. the CMS
    // depth fan-out over [0..3]) is O(depth) per row, not a re-scan
    val outsideCache = qe.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
          if g.generator.children.exists(c =>
            !c.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.Literal]) => g
    }
    assert(outsideCache.isEmpty,
      s"$name: data Generates must live only inside the staged cache:\n" +
        qe.optimizedPlan)
    val cacheScans = qe.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cacheScans.size >= 2,
      s"$name: both branches should read the staged frame:\n" +
        qe.optimizedPlan)
    graft.core.Caches.releaseAll(spark)
  }

  test("p_profile: one unpivot, both branches read the staged counts") {
    pinStagedGenerate("p_profile")
  }

  test("p_heavy: one tokenization; candidate cap is a WindowGroupLimit") {
    val p = plan("p_heavy")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial") &&
      p.contains("Final"),
      s"per-shard candidate cap should plan partial+final:\n$p")
    pinStagedGenerate("p_heavy")
  }

  test("p_reservoir: per-key quota is a partial+final WindowGroupLimit") {
    val p = plan("p_reservoir")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial") &&
      p.contains("Final"),
      s"expect the partial/final window-group-limit pair:\n$p")
  }

  test("q_hist_quantiles: windows run over the sketch, no joins") {
    val p = plan("q_hist_quantiles")
    assert(!p.contains("Join"), s"merge must be an aggregation:\n$p")
    assert(p.contains("Window"), s"cumulative read needs a window:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"one events scan feeds the sharded build:\n$p")
  }

  test("p_checks: the whole suite is one scan") {
    val p = plan("p_checks")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"all checks must share one scan:\n$p")
    // the single countDistinct plans as a doc_id-keyed partial-agg
    // chain (no Expand needed for one distinct group), still one scan
    assert(p.contains("partial_count(distinct"),
      s"the uniqueness check rides the same aggregation:\n$p")
    assert(!p.contains("Join"), s"no joins in a check suite:\n$p")
  }

  test("p_manifest: one partial-agg scan, no wide ops beyond the agg") {
    val p = plan("p_manifest")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"the manifest is one scan:\n$p")
    assert(!p.contains("Join") && !p.contains("WindowGroupLimit"),
      s"count/sum/fingerprint all partial-aggregate:\n$p")
  }

  test("p_drift: two snapshot branches, no joins, window on the counts") {
    val p = plan("p_drift")
    assert(!p.contains("Join"),
      s"totals ride a window over the count frame, not a join:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 2,
      s"exactly the two snapshot scans:\n$p")
  }

  test("p_ann_pq: query LUTs broadcast; corpus scan reads codes input only") {
    val p = plan("p_ann_pq")
    // non-equi (self-exclusion) join against the 20-row query side
    // must be a broadcast nested loop, never a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin"), p)
    // corpus side reads only the id + embedding (encode input)
    assert(p.contains("ReadSchema: struct<vec_id:bigint," +
      "embedding:array<float>>"), p)
    // top-k is a partial+final WindowGroupLimit, not a full sort
    assert(p.contains("row_number(), 5, Partial") &&
      p.contains("row_number(), 5, Final"), p)
  }

  test("p_ann_binary: broadcast bit scan; shortlist and rerank are " +
      "group-limits") {
    val p = plan("p_ann_binary")
    // Hamming stage: 20-row query bits broadcast against the corpus
    // bit scan — never a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("ShuffledHashJoin"), p)
    // shortlist (50) and cosine rerank (5) both run as partial+final
    // WindowGroupLimit, not full sorts
    assert(p.contains("row_number(), 50, Partial") &&
      p.contains("row_number(), 50, Final"), p)
    assert(p.contains("row_number(), 5, Final"), p)
    // the rerank join builds on the SHORTLIST side unconditionally
    // (rerankShortlist's broadcast hint): at corpus scale the planner
    // would otherwise estimate the windowed shortlist as huge and
    // sort-merge-join it — sorting the corpus's full vectors
    // (measured ~40 GB spill at 20M × 256-dim). The price here is a
    // second exchange, but of SHORTLIST-sized rows (≤ |queries| × 50),
    // vs r14's single-exchange shape that broadcast the corpus —
    // fine at gate scale, catastrophic at warehouse scale.
    assert(p.contains("BroadcastHashJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"shortlist window + bounded rerank window shuffles only:\n$p")
  }

  test("p_rrf: fusion is a partial+final aggregate with a group-limit " +
      "rerank") {
    val p = plan("p_rrf")
    // at minimum the Final group-limit (the Partial disappears when
    // the fusion aggregate already clustered the frame on query_id)
    assert(p.contains("row_number(), 10, Final"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p_bm25_multi: one corpus tokenization; broadcast stats; " +
      "group-limit top-k") {
    val p = plan("p_bm25_multi")
    // the documents table is tokenized exactly once (the staged lens
    // frame): every corpus scan in the MAIN plan sits under an
    // InMemoryRelation (whose printed string embeds its build scan),
    // i.e. there is no uncached tokenization left
    val main = p.split("--- cached ---").head
    assert("Scan parquet".r.findAllIn(main).size ==
      "InMemoryRelation".r.findAllIn(main).size,
      s"uncached corpus scan in main plan:\n$p")
    assert(main.contains("InMemoryTableScan"), p)
    assert(p.contains("row_number(), 10, Final"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p_ann_ivfpq: the probe is a broadcast EQUI-join on the list id") {
    val p = plan("p_ann_ivfpq")
    assert(p.contains("BroadcastHashJoin"),
      s"centroid probe must be an equi hash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("p_pack_strict: one shard exchange feeds the sequential fill") {
    val p = plan("p_pack_strict")
    // exactly one hash exchange (the shard repartition); the trailing
    // range exchange is the gate's presentation orderBy
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"strict packing must shuffle once, on shard:\n$p")
    assert(p.contains("MapPartitions"),
      s"the O(1)-state sequential fill runs as mapPartitions:\n$p")
    assert(!p.contains("Window"),
      s"no window pass belongs in the strict fill:\n$p")
  }

  test("p_tag_keywords, p_sq_encode, p_wordpiece: scan-local, no joins") {
    Seq("p_tag_keywords", "p_sq_encode", "p_wordpiece").foreach { g =>
      val p = plan(g)
      assert(!p.contains("Join"), s"$g must not join:\n$p")
      assert("Scan parquet".r.findAllIn(p).size == 1,
        s"$g is one corpus scan:\n$p")
      // the only exchange is the gate's presentation orderBy
      assert(!p.contains("Exchange hashpartitioning"),
        s"$g must not shuffle beyond the final sort:\n$p")
    }
  }

  test("p_ann_indexed: prebuilt bits scan — no corpus encode, no corpus exchange") {
    val p = plan("p_ann_indexed")
    assert(p.contains("graft_idx_") && p.contains("cb:array<int>"),
      s"corpus side must scan the persisted bit index:\n$p")
    // at most ONE encode site in the probe plan — the 20-row query
    // side (a broadcast input; since the null filter moved below the
    // encode projection it is a visible Project, no longer elided
    // inside TakeOrderedAndProject's projection string). The corpus
    // bits come from disk, so a second site would mean the corpus is
    // being re-encoded — the contrast test pins that the recompute
    // twin DOES show two encode sites.
    assert("binEncode expects".r.findAllIn(p).size <= 1,
      s"the sign encode must not touch corpus rows:\n$p")
    // no spread/repartition below the probe join — the index scan
    // feeds the broadcast join directly
    assert(!p.toLowerCase.contains("roundrobin"),
      s"no corpus-side exchange in the indexed probe:\n$p")
  }

  test("p_ann_binary (contrast): the recompute twin encodes both sides") {
    val p = plan("p_ann_binary")
    assert("binEncode expects".r.findAllIn(p).size >= 2, p)
  }

  test("p_bm25_indexed: pushed token filter, corpus never tokenized") {
    val p = plan("p_bm25_indexed")
    assert(p.contains("In(token, ["),
      s"query vocabulary must reach the postings scan as a pushed filter:\n$p")
    val lp = p.toLowerCase
    assert(!lp.contains("tokenpostings") && !lp.contains("tokencounts"),
      s"no tokenization kernel belongs in the indexed probe:\n$p")
    assert(!p.contains("documents.parquet"),
      s"the corpus itself must never be scanned:\n$p")
  }

  test("p_ann_ivfpq_idx: probe reads only its list directories, codes only") {
    val p = plan("p_ann_ivfpq_idx")
    assert(p.contains("graft_idx_") &&
      p.contains("codes:array<int>"), s"code-only index scan:\n$p")
    assert(p.contains("PartitionFilters") && p.contains("INSET"),
      s"probed list ids must prune partitions statically:\n$p")
    val lp = p.toLowerCase
    assert(!lp.contains("pqcodes"),
      s"corpus-side PQ encode must not run at query time:\n$p")
    // centroid kernel survives only as the query-side probe list
    // (Generate + its projection = 2 prints; the recompute twin shows
    // 4, paying corpus-side assignment too)
    assert("centroidrank".r.findAllIn(lp).size <= 2,
      s"corpus-side coarse assignment must come from the layout:\n$p")
  }

  test("p_incr_indexed: corpus bands come from the artifact") {
    val p = plan("p_incr_indexed")
    assert(p.contains("graft_idx_"), s"persisted band index scan:\n$p")
    // the signature kernel runs for the INCOMING batch only (the
    // recompute twin pays it on both sides)
    assert("minhashbandbuckets".r.findAllIn(p.toLowerCase).size == 1,
      s"corpus signatures must not be recomputed at probe time:\n$p")
  }

  test("p_winnow_indexed: pushed fingerprint filter, corpus never " +
      "fingerprinted") {
    val p = plan("p_winnow_indexed")
    assert(p.contains("In(h, ["),
      s"batch fingerprints must reach the index scan as a pushed filter:\n$p")
    assert(p.contains("graft_idx_"),
      s"persisted fingerprint index scan expected:\n$p")
    // the decisive pin: every documents scan in the probe carries the
    // batch filter — the corpus rows are never READ at probe time,
    // let alone fingerprinted (their fingerprints come from the
    // artifact)
    val docScans = p.split('\n').filter(_.contains("documents.parquet"))
    assert(docScans.nonEmpty && docScans.forall(_.contains("% 2) = 1")),
      s"a corpus-side documents scan leaked into the indexed probe:\n$p")
  }

  test("p_image_indexed: pushed key filter, corpus never decoded") {
    val p = plan("p_image_indexed")
    assert(p.contains("In(key, ["),
      s"batch keys must reach the index scan as a pushed filter:\n$p")
    assert(p.contains("graft_idx_"),
      s"persisted media index scan expected:\n$p")
    // the decisive pin: the dHash kernel runs for the BATCH side only
    // — every documents scan carries the batch filter, and the kernel
    // appears exactly once outside the cached batch frame
    val docScans = p.split('\n').filter(_.contains("documents.parquet"))
    assert(docScans.nonEmpty && docScans.forall(_.contains("% 5) = 0")),
      s"a corpus-side documents scan leaked into the indexed probe:\n$p")
    // the helper splices each cached subplan once more, so the pin is
    // per-section: the batch signature projection computes the kernel
    // ONCE (an inferred-filter regression shows 3 in one section)
    p.split("--- cached ---").foreach(sec =>
      assert("dhashwords".r.findAllIn(sec.toLowerCase).size <= 1,
        s"corpus signatures must come from the artifact, and the " +
          s"batch kernel must run once per row:\n$sec"))
    assert(p.toLowerCase.contains("dhashwords"),
      s"the batch side must compute the kernel somewhere:\n$p")
    graft.core.Caches.releaseAll(spark)
  }

  test("p_unigram_train: rounds iterate on the staged words frame") {
    val p = plan("p_unigram_train")
    assert(p.toLowerCase.contains("unigramsegment"),
      s"the Viterbi kernel must appear as a native expression:\n$p")
    assert(p.contains("InMemoryRelation") ||
      p.contains("InMemoryTableScan"),
      s"the distinct-words frame must be staged, not re-derived:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"usage counting must be partial+final:\n$p")
    graft.core.Caches.releaseAll(spark)
  }
}
