package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language identification, fingerprinting. All pure
  * Column expressions (codegen'd; no UDFs), so they run inside the scan
  * projection at full width.
  */
object TextFns {

  /** The whitespace class of the text-pipeline contract: RE2's \s
    * ({\t \n \f \r ' '}), written explicitly because Java's \s
    * ALSO matches \x0B vertical tab while the DuckDB/RE2 oracles'
    * '\s' does not — one scraped \x0B would otherwise flip token
    * counts, normalize() content hashes, and chunk boundaries
    * between the engines. (The JSONata $trim surface keeps Java \s:
    * reference semantics, oracle-exempt.)
    */
  val WsRe: String = "[\t\n\f\r ]+"

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(filter(split(text, WsRe), t => length(t) > 0)).cast("long")

  /** Punctuation character count (explicit class — portable). */
  def punctCount(text: Column): Column =
    (length(text) -
      length(regexp_replace(text, "[.,;:!?'\"()\\[\\]{}-]", ""))).cast("long")

  private[graft] val stopwordsEn = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "are", "was", "it", "that", "this", "for", "with", "on",
    "as", "at", "by", "be")
  private val stopwordsDe = Seq("der", "die", "das", "und", "oder", "zu",
    "in", "ist", "sind", "war", "es", "dass", "für", "mit", "auf", "als",
    "bei", "ein", "eine", "von", "den")
  private val stopwordsFr = Seq("le", "la", "les", "et", "ou", "de", "à",
    "en", "est", "sont", "était", "il", "que", "ce", "pour", "avec", "sur",
    "comme", "par", "un", "une", "des")

  private def lowerTokens(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}0-9]+"), t => length(t) > 0)

  /** Fraction of tokens that are English stopwords — a standard
    * quality / language signal.
    */
  def stopwordRatio(text: Column): Column = {
    val toks = lowerTokens(text)
    when(size(toks) > 0,
      size(filter(toks, t => t.isin(stopwordsEn: _*))).cast("double") /
        size(toks))
      .otherwise(lit(0.0d))
  }

  /** Composite quality score in [0,1]: sigmoid-ish blend of length,
    * mean word length sanity, punctuation ratio, and stopword ratio —
    * the shape used by C4/Gopher-style heuristic filters.
    */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nToks = tokenCount(text).cast("double")
    val meanWord = when(nToks > 0, nChars / nToks).otherwise(lit(0.0d))
    val punctRatio = when(nChars > 0,
      punctCount(text).cast("double") / nChars).otherwise(lit(0.0d))
    val lengthScore = least(nToks / 100.0, lit(1.0d))
    val wordScore = when(meanWord >= 3 && meanWord <= 12, 1.0d)
      .otherwise(0.3d)
    val punctScore = when(punctRatio <= 0.1, 1.0d).otherwise(0.5d)
    val stopScore = least(stopwordRatio(text) * 4, lit(1.0d))
    round(lengthScore * 0.3 + wordScore * 0.3 + punctScore * 0.2 +
      stopScore * 0.2, 6)
  }

  /** N-gram/stopword language-ID heuristic over en/de/fr: the language
    * whose stopword list hits the most tokens; "und" when nothing hits
    * ("undetermined", reference-free).
    */
  def languageId(text: Column): Column = {
    val toks = lowerTokens(text)
    def score(sw: Seq[String]): Column =
      size(filter(toks, t => t.isin(sw: _*)))
    val (en, de, fr) = (score(stopwordsEn), score(stopwordsDe),
      score(stopwordsFr))
    when(greatest(en, de, fr) === 0, "und")
      .when(en >= de && en >= fr, "en")
      .when(de >= fr, "de")
      .otherwise("fr")
  }

  /** Content-defined fingerprint: min-hash over character 8-gram hashes
    * of the normalized text (winnowing-lite). Equal fingerprints ⇒
    * near-identical content robust to small edits at the end.
    */
  /** Hostname of a URL, lowercased, leading `www.` stripped — the
    * per-domain key of web curation (domain caps, domain stats).
    * Hostname-level by design: registered-domain (eTLD+1) grouping
    * needs the public-suffix list, a data dependency the caller can
    * layer on top. Non-URLs and bare paths yield '' (regexp_extract's
    * no-match), so malformed rows group together instead of erroring.
    */
  def urlDomain(url: Column): Column =
    regexp_replace(
      regexp_extract(lower(url), "^[a-z][a-z0-9+.-]*://([^/?#:]+)", 1),
      "^www\\.", "")

  /** Query parameters dropped by [[canonicalizeUrl]]: tracking
    * decorations that vary per click but never change the resource —
    * the reason one page shows up as thousands of "distinct" URLs in
    * a crawl frontier. The generic `ref` is deliberately NOT here:
    * unlike `ref_src` (Twitter's tracking decoration) it is semantic
    * on real sites (GitHub's `?ref=branch` selects a different
    * resource), and a canonicalizer must never merge distinct
    * resources — callers curating a corpus where `ref` is known to be
    * referrer tracking can pass their own list to [[canonicalizeUrl]].
    */
  val TrackingParams: String =
    "utm_[a-zA-Z0-9_]*|gclid|fbclid|msclkid|mc_eid|igshid|ref_src"

  /** Crawl-frontier URL canonicalization — the URL-level dedup key
    * (one fetch per resource, not per tracking decoration). A
    * deterministic RE2-compatible rule chain, exactly replayable by
    * the oracle:
    *   1. drop the fragment (never sent to the server),
    *   2. lowercase scheme and host[:port] — only those are
    *      case-insensitive per RFC 3986 §3.2.2/§6.2.2.1; the PATH and
    *      any userinfo (`user:pass@`) keep their case,
    *   3. strip default ports (:80 http, :443 https),
    *   4. collapse duplicate slashes in the path and strip a trailing
    *      slash (bare authority → '/'),
    *   5. drop `trackingParams` ([[TrackingParams]] by default) and
    *      empty params, SORT the remainder (param order is almost
    *      never semantic; sorting merges permutations) — an empty
    *      result drops the '?'.
    * Scan-local; non-URLs pass through the regex chain unchanged
    * enough to group as themselves (no errors on malformed rows).
    */
  def canonicalizeUrl(url: Column,
      trackingParams: String = TrackingParams): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag,
      "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag,
      "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    val authRaw = regexp_extract(rest, "^([^/?]+)", 1)
    // userinfo (through the LAST '@' — the host itself cannot contain
    // one) is case-SENSITIVE; only host[:port] lowercases
    val auth0 = concat(regexp_extract(authRaw, "^(.*@)", 1),
      lower(regexp_replace(authRaw, "^.*@", "")))
    val auth = when(scheme === "http",
        regexp_replace(auth0, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth0, ":443$", ""))
      .otherwise(auth0)
    val pathq = regexp_replace(rest, "^[^/?]+", "")
    val path0 = regexp_replace(
      regexp_replace(regexp_extract(pathq, "^([^?]*)", 1),
        "/{2,}", "/"),
      "/+$", "")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query = regexp_extract(pathq, "\\?(.*)$", 1)
    val params = filter(split(query, "&"), p =>
      p =!= "" && !p.rlike(s"^(?:$trackingParams)(?:=|$$)"))
    val sorted = array_join(array_sort(params), "&")
    when(scheme === "", url)  // not a URL: leave untouched
      .otherwise(concat(scheme, lit("://"), auth, path,
        when(sorted === "", lit("")).otherwise(concat(lit("?"),
          sorted))))
  }

  /** Content fingerprint: min over md5 hex strings of the character
    * `gram`-grams of the normalized text — content-defined (case and
    * whitespace do not change it) and oracle-computable (lexicographic
    * min of md5 strings is engine-independent). Native codegen'd
    * expression; [[fingerprintMd5Cols]] is the Column form it is
    * equivalence-tested against.
    */
  def fingerprintMd5(text: Column, gram: Int = 8): Column =
    graft.functions.FingerprintMd5(text, gram)

  /** Column-expression form of [[fingerprintMd5]] (equivalence spec —
    * the |norm| md5 lambdas evaluate interpreted, so the native
    * expression replaces this in the hot path).
    */
  def fingerprintMd5Cols(text: Column, gram: Int = 8): Column = {
    val norm = Dedup.normalize(text)
    val grams = when(length(norm) < gram, array(norm))
      .otherwise(transform(sequence(lit(1), length(norm) - (gram - 1)),
        i => substring(norm, i, lit(gram))))
    array_min(transform(grams, g => md5(g)))
  }

  /** Exact content hash of normalized text (md5 — portable across
    * engines for oracle checks).
    */
  def contentHash(text: Column): Column = md5(Dedup.normalize(text))

  /** Overlapping token-window chunks for training: windows of `size`
    * whitespace tokens starting every `size - overlap` tokens (the
    * standard context-window packing precursor). Returns
    * array<struct<idx, chunk, n_tokens>> — explode it for one row per
    * chunk. Pure Column expressions: the chunking runs inside the
    * scan projection; the explode is Spark's Generate (no shuffle).
    * Short documents yield exactly one chunk.
    */
  /** Rule-based sentence segmentation: maximal runs of
    * non-terminator characters with their trailing `[.!?]+`
    * attached, trimmed, empties dropped. Deliberately a single
    * RE2-compatible extraction (no lookbehind — RE2 has none — and
    * no abbreviation dictionary): deterministic, engine-replayable,
    * and the shape crawl pipelines actually use before chunking.
    */
  def sentences(text: Column): Column =
    filter(transform(
        regexp_extract_all(text, lit("[^.!?]+[.!?]*"), lit(0)),
        s => trim(s)),
      // a sentence carries at least one letter/digit — stray
      // terminator runs ("  !!") are noise, not sentences
      s => s.rlike("[\\p{L}\\p{N}]"))

  /** Sentence-aware chunk ids (one per sentence) under a whitespace
    * token `budget` — greedy next-fit per document, boundaries on
    * sentence ends (graft.functions.SentenceChunks kernel).
    */
  def sentenceChunks(sentences: Column, budget: Int): Column =
    graft.functions.SentenceChunks(sentences, budget)

  def chunks(text: Column, size: Int, overlap: Int): Column = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val step = size - overlap
    val toks = filter(split(text, WsRe), t => length(t) > 0)
    val n = org.apache.spark.sql.functions.size(toks)
    // window starts: 0, step, 2*step ... while start < n (at least one).
    // greatest() IGNORES null operands, so without the outer null guard
    // a null text would produce one phantom empty chunk (lastStart
    // null→0) instead of null — ChunkHashes/ChunkSizes return null, and
    // ChunkExprsSpec pins the equivalence.
    val lastStart = greatest(ceil((n - size).cast("double") / step)
      .cast("int"), lit(0))
    when(text.isNull, lit(null)).otherwise(
    transform(sequence(lit(0), lastStart), w => {
      val start = w * step
      val slice_ = slice(toks, start + 1, lit(size))
      struct(w.cast("long").as("idx"),
        concat_ws(" ", slice_).as("chunk"),
        org.apache.spark.sql.functions.size(slice_).cast("long")
          .as("n_tokens"))
    }))
  }

  /** Greedy sequence packing: assign consecutive chunks to training
    * bins of at most `maxTokens` tokens — the context-window packing
    * pass between chunking and batch assembly. A chunk opens a new bin
    * when it no longer fits; an oversize chunk gets a bin of its own.
    * Returns array<struct<idx, n_tokens, bin>> aligned with
    * [[chunks]] (overlap 0 — packing overlapped windows would double-
    * count tokens). Row-local (the greedy scan runs inside the scan
    * projection per document); bins are per-document, so downstream
    * global batch assembly groups on (doc_id, bin) with one shuffle.
    */
  def packChunks(text: Column, window: Int, maxTokens: Int): Column = {
    require(maxTokens >= window,
      s"maxTokens ($maxTokens) must fit at least one window ($window)")
    // sizes-only native chunking: packing reads idx/n_tokens, never
    // the chunk text, so don't build it (see ChunkNative)
    val cs = graft.functions.ChunkSizes(text, window, 0)
    val packed = aggregate(
      cs,
      struct(lit(0L).as("bin"), lit(0L).as("acc"),
        array().cast("array<bigint>").as("bins")),
      (st, c) => {
        val nt = c.getField("n_tokens")
        val opens = st.getField("acc") > 0 &&
          st.getField("acc") + nt > maxTokens
        val bin = when(opens, st.getField("bin") + 1L)
          .otherwise(st.getField("bin"))
        val acc = when(opens, nt).otherwise(st.getField("acc") + nt)
        struct(bin.as("bin"), acc.as("acc"),
          concat(st.getField("bins"), array(bin)).as("bins"))
      },
      st => st.getField("bins"))
    zip_with(cs, packed, (c, b) => struct(
      c.getField("idx").as("idx"),
      c.getField("n_tokens").as("n_tokens"),
      b.as("bin")))
  }

  /** Duplicate n-gram fraction — the Gopher-style within-document
    * repetition signal: 1 − distinct/total over ALL n-gram
    * occurrences (not the distinct shingle set dedup uses). Row-local
    * Column expressions; < n tokens → 0.0. Rounded to 6 for
    * engine-portable comparisons.
    */
  def dupGramFrac(text: Column, n: Int): Column = {
    require(n >= 2, s"need n >= 2, got $n")
    val toks = Dedup.tokens(text)
    val sz = org.apache.spark.sql.functions.size(toks)
    // sequence(1, 0) would COUNT DOWN in Spark, so guard short docs
    val grams = when(sz >= n,
      transform(sequence(lit(1), sz - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(array().cast("array<string>"))
    val total = org.apache.spark.sql.functions.size(grams)
    when(total > 0, round(lit(1.0d) -
        org.apache.spark.sql.functions.size(array_distinct(grams))
          .cast("double") / total, 6))
      .otherwise(lit(0.0d))
  }

  /** Most-frequent-token fraction (top token occurrences / total
    * tokens) — the companion repetition signal; one row-local
    * TokenCounts pass feeds both the max and the total.
    */
  def topTokenFrac(text: Column): Column = {
    val cnts = transform(graft.functions.TokenCounts(text),
      _.getField("cnt"))
    val tot = aggregate(cnts, lit(0L), _ + _)
    when(tot > 0,
        round(array_max(cnts).cast("double") / tot, 6))
      .otherwise(lit(0.0d))
  }

  /** Adjacent-token ("merge pair") frequency statistics — the counting
    * kernel of a BPE/WordPiece vocabulary-training round: every
    * consecutive token pair in the corpus, counted, heaviest first.
    * Row-local pair construction (zip_with over two slices of the
    * token array — no index loop, no second tokenization), ONE
    * map-side-combined aggregation, bounded TakeOrdered top-N — the
    * same one-scan shape as [[docFrequency]], so a vocab-training
    * driver can run it per merge round at corpus scale.
    */
  def bpePairStats(df: org.apache.spark.sql.DataFrame, textCol: String,
      topN: Int = 50): org.apache.spark.sql.DataFrame = {
    val toks = Dedup.tokens(col(textCol))
    val n = org.apache.spark.sql.functions.size(toks)
    val pairs = zip_with(
      slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
      (a, b) => concat(a, lit(" "), b))
    df.select(explode(when(n >= 2, pairs)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(topN)
  }

  /** Cross-document batch assembly — the packing step AFTER
    * [[packChunks]]'s per-document bins: assign every chunk in the
    * corpus to a capacity-bounded training batch. Chunks shard by
    * `doc_id % shards` (deterministic, engine-portable); within a
    * shard they take the (doc_id, idx) order and the batch id is
    * `floor(tokens-before-this-chunk / capacity)` — a streaming
    * prefix-sum assignment (a batch can exceed `capacity` by at most
    * one chunk, the standard approximation for sequence packing;
    * exact greedy would serialize the corpus). One exchange on shard;
    * parallelism = `shards`, so size shards to the cluster (the
    * per-shard window is a running sum, not a sort-the-world).
    * Batches are shard-local — (shard, bin) is the batch key — which
    * is also the loader-affinity layout a trainer wants.
    */
  def assembleBatches(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int, capacity: Int,
      shards: Int): org.apache.spark.sql.DataFrame = {
    require(capacity >= window, s"capacity ($capacity) must fit at " +
      s"least one window ($window)")
    import org.apache.spark.sql.expressions.Window
    val cs = df.select(col(idCol).as("doc_id"),
        explode(graft.functions.ChunkSizes(col(textCol), window, 0))
          .as("c"))
      .select(col("doc_id"), col("c.idx").as("idx"),
        col("c.n_tokens").as("n_tokens"))
      .withColumn("shard", (col("doc_id") % shards).cast("int"))
    val w = Window.partitionBy("shard").orderBy("doc_id", "idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    cs.withColumn("bin",
      floor(coalesce(sum("n_tokens").over(w), lit(0L)) / capacity)
        .cast("long"))
  }

  /** Strict (capacity-respecting) batch assembly: unlike
    * [[assembleBatches]]'s prefix-sum approximation, a chunk that
    * would push the open batch past `capacity` CLOSES it and starts
    * the next one (next-fit), so no batch ever exceeds `capacity` —
    * the semantics of a fixed-size training buffer that cannot split
    * a sequence. With `bySize = true` chunks take size-descending
    * order inside the shard (next-fit-decreasing, the streaming
    * member of the classic bin-packing family): the short tail chunks
    * pack together instead of each truncating a batch of full
    * windows, which is what cuts padding waste (PipelineSpec measures
    * it; ROADMAP records the numbers).
    *
    * Scale shape (100 TB): strict packing is a non-associative scan
    * (the running fill RESETS at each overflow), so no window
    * expresses it. This runs it as ONE exchange on `shard` followed by
    * a sorted per-partition pass with O(1) state per shard (open-bin
    * fill level) — no shard buffering, no driver involvement; the
    * deliberate `mapPartitions` exception the survey reserves for
    * genuinely sequential per-partition logic. Determinism:
    * `repartition(shard)` + `sortWithinPartitions` fixes the visit
    * order regardless of input partitioning; shards never split
    * across partitions, and state resets at each shard boundary.
    */
  def assembleBatchesStrict(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, window: Int, capacity: Int,
      shards: Int, bySize: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    require(capacity >= window, s"capacity ($capacity) must fit at " +
      s"least one window ($window)")
    val spark = df.sparkSession
    import spark.implicits._
    val cs = df.select(col(idCol).as("doc_id"),
        explode(graft.functions.ChunkSizes(col(textCol), window, 0))
          .as("c"))
      .select(col("doc_id"), col("c.idx").as("idx"),
        col("c.n_tokens").as("n_tokens"))
      .withColumn("shard", (col("doc_id") % shards).cast("int"))
    val ordering =
      if (bySize) Seq(col("shard"), col("n_tokens").desc,
        col("doc_id"), col("idx"))
      else Seq(col("shard"), col("doc_id"), col("idx"))
    cs.repartition(col("shard"))
      .sortWithinPartitions(ordering: _*)
      .as[(Long, Long, Long, Int)]
      .mapPartitions { it =>
        var shard = Int.MinValue
        var bin = 0L
        var fill = 0L
        it.map { case (docId, idx, n, sh) =>
          if (sh != shard) { shard = sh; bin = 0L; fill = 0L }
          else if (fill + n > capacity) { bin += 1; fill = 0L }
          fill += n
          (docId, idx, n, sh, bin)
        }
      }
      .toDF("doc_id", "idx", "n_tokens", "shard", "bin")
  }

  /** Apply a learned BPE merge list to text — the tokenizer-encode
    * step a training pipeline runs over the whole corpus. Merges apply
    * sequentially in rank order, each replacing ALL its occurrences
    * left-to-right (the subword-nmt / apply-BPE convention for a
    * well-formed merge list).
    *
    * Implementation is pure codegen'd string ops — no UDF, no HOF
    * lambda, no per-word loop: every symbol renders wrapped in its own
    * start/end markers (U+0001 c U+0002), words joined by a bare
    * space, and each merge (a, b) is ONE literal `replace` of
    * S·a·E·S·b·E with S·ab·E. Both markers are load-bearing: the
    * end marker stops a pattern from matching a PREFIX of a longer
    * symbol (t, ab must not fire (t, a)), the start marker stops
    * suffix matches (xt, y must not fire (t, y)), per-symbol marker
    * pairs keep adjacent matches from consuming a shared boundary
    * ("tata" → ta, ta), and the unmarked space keeps merges inside
    * one word. The whole encode is one scan-local chain of |merges|
    * replaces.
    *
    * @return array of subword tokens in document order
    */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column = {
    requireBpeSymbols(merges)
    graft.functions.BpeEncode(text, merges)
  }

  /** Gopher-style rule filter (Rae et al. 2021, arXiv:2112.11446
    * §A1.1): the standard pre-training document-quality rule battery
    * — word-count bounds, mean-word-length bounds, symbol-to-word
    * ratio, alphabetic-word fraction, bullet/ellipsis line ratios,
    * and stopword presence — composed scan-local, with every ratio
    * test expressed in INTEGER arithmetic (10·bullets ≤ 9·lines, not
    * bullets/lines ≤ 0.9), so the flags are exact and engine-
    * replayable: no float rounding at the thresholds.
    *
    * Words = whitespace tokens (punctuation attached, the Gopher
    * convention); `alpha` counts words containing an ASCII letter;
    * stopword presence asks for >= 2 DISTINCT hits from the Gopher
    * list over the alnum tokens.
    *
    * @return struct<n_words, ok_words, ok_mean_len, ok_symbols,
    *         ok_alpha, ok_bullets, ok_ellipsis, ok_stopwords, keep>
    */
  def gopherRules(text: Column, minWords: Int = 50,
      maxWords: Int = 100000): Column = {
    val ws = filter(split(text, WsRe), t => length(t) > 0)
    val n = size(ws).cast("long")
    // sum of word lengths == length with all whitespace removed
    val sumLen = length(regexp_replace(text, WsRe, "")).cast("long")
    val okWords = n >= minWords && n <= maxWords
    // 3 <= sumLen/n <= 10, integer form
    val okMean = n > 0 && sumLen >= n * 3 && sumLen <= n * 10
    // (hash + ellipsis) / words <= 0.1 in integer form: tripleDiff is
    // 3× the '...' count, so multiplying the inequality by 3 gives
    // 30·hash + 10·tripleDiff <= 3·words
    val hashCnt =
      (length(text) - length(replace(text, lit("#"), lit("")))).cast("long")
    val tripleDiff =
      (length(text) - length(replace(text, lit("..."), lit("")))).cast("long")
    val okSymbols = hashCnt * 30 + tripleDiff * 10 <= n * 3
    val alphaWords = size(filter(ws, w => w.rlike("[a-zA-Z]")))
      .cast("long")
    val okAlpha = alphaWords * 5 >= n * 4
    val lines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    val nl = size(lines).cast("long")
    val bullets = size(filter(lines, l => {
      val t = ltrim(l)
      t.startsWith("- ") || t.startsWith("* ") || t.startsWith("•")
    })).cast("long")
    val ellipsis = size(filter(lines, l =>
      rtrim(l).endsWith("...") || rtrim(l).endsWith("…")))
      .cast("long")
    val okBullets = bullets * 10 <= nl * 9
    val okEllipsis = ellipsis * 10 <= nl * 3
    val okStops = size(array_intersect(Dedup.tokens(text),
      lit(GopherStopwords.toArray))) >= 2
    val keep = okWords && okMean && okSymbols && okAlpha &&
      okBullets && okEllipsis && okStops
    struct(n.as("n_words"), okWords.as("ok_words"),
      okMean.as("ok_mean_len"), okSymbols.as("ok_symbols"),
      okAlpha.as("ok_alpha"), okBullets.as("ok_bullets"),
      okEllipsis.as("ok_ellipsis"), okStops.as("ok_stopwords"),
      keep.as("keep"))
  }

  /** Gopher's stopword-presence list (Rae et al. 2021 §A1.1). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Train a BPE merge list in-engine (Sennrich et al. 2016,
    * arXiv:1508.07909): `nMerges` rounds of "count adjacent symbol
    * pairs within words, merge the most frequent everywhere" — the
    * vocabulary-induction loop between [[bpePairStats]] (one round's
    * stats) and [[bpeEncode]] (applying the result).
    *
    * Scale shape: BPE statistics are WORD-INTERNAL (pairs never cross
    * a word boundary), so the corpus is scanned exactly ONCE — into
    * the staged (distinct word, count) frame, the same frame
    * [[unigramTrain]] trains on (Zipf: |distinct words| ≪ corpus) —
    * and every merge round scans only THAT frame: the native
    * BpeAdjPairs kernel replays the current merges per distinct word
    * (not per occurrence), pair counts are the cnt-weighted sums
    * (map-side combined), and a single argmax row reaches the driver;
    * the merges re-enter round k+1 as plan literals. Per-round cost
    * is ∝ |distinct words|, independent of corpus size — the
    * difference between trainable and unusable at a real vocab
    * (30k merges) over 100 TB, where re-scanning full text per round
    * multiplies the corpus read by the merge count. Bit-identical to
    * the corpus-scan form (BpeNative tokenizes text and then works
    * word-by-word, so pairs-of(text) = ⋃ pairs-of(word) with
    * occurrence multiplicity = word count; TokenizerSpec pins
    * equality against the corpus-scan form; the sf1 A/B recorded
    * in BENCH_sf1_r12.json asserted trajectory equality at scale).
    * Measured A/B (warm medians, within-rep order alternated,
    * BENCH_sf1_r12.json `bpe_ab` records): sf1 4 merges
    * 1.96 → 0.52 s (3.8×), sf1 16 merges 8.07 → 1.66 s (4.9×) — the
    * gap widens with merge count exactly as the cost model predicts.
    *
    * Determinism: counts are exact longs (sums of per-word products);
    * the argmax tie-breaks on the pair string (ASCII: tokens are
    * [a-z0-9], engine-portable ordering) — so whole training runs
    * replay exactly (p_bpe_train unrolls the rounds in DuckDB).
    *
    * @return (a, b, count-at-selection) per round, rank order
    */
  def bpeTrain(df: org.apache.spark.sql.DataFrame, textCol: String,
      nMerges: Int): Seq[(String, String, Long)] = {
    require(nMerges > 0, "nMerges must be positive")
    // TokenCounts = the SAME tokenizer BpeNative.adjPairs applies
    // internally, so re-tokenizing a word yields the word itself and
    // the per-word kernel sees exactly the symbols the corpus-scan
    // form saw
    val words = graft.core.Caches.stage(
      df.select(explode(
          graft.functions.TokenCounts(col(textCol))).as("t"))
        .groupBy(col("t.token").as("w"))
        .agg(sum(col("t.cnt")).as("cnt")))
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    var k = 0
    var dry = false
    while (k < nMerges && !dry) {
      val merges = out.toSeq.map { case (a, b, _) => (a, b) }
      val best = words.select(explode(
          graft.functions.BpeAdjPairs(col("w"), merges)).as("pair"),
          col("cnt"))
        .groupBy("pair").agg(sum("cnt").as("cnt"))
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

  /** Dictionary keyword tagging (topic/blocklist/PII-term tagging):
    * every dictionary keyword occurring in the normalized text with
    * its occurrence count (overlaps counted) — ONE Aho–Corasick pass
    * per row regardless of dictionary size
    * (graft.functions.KeywordTags), where per-keyword `contains`
    * scans cost |dict| passes; at a 10k-term blocklist over 100 TB
    * that factor is the whole job. Matching is over
    * [[Dedup.normalize]]d text (lowercase, collapsed whitespace) so
    * phrase keywords span line breaks.
    *
    * @return array<struct<keyword, n>> of the keywords present
    */
  def tagKeywords(text: Column, dict: Seq[String]): Column =
    // the dictionary goes through the SAME normalization as the text
    // (a natural-casing blocklist entry could otherwise never match),
    // deduped so case variants don't emit twin rows
    graft.functions.KeywordTags(Dedup.normalize(text),
      dict.map(k => k.toLowerCase(java.util.Locale.ROOT).trim
        .replaceAll("\\s+", " ")).distinct)

  /** Unigram-LM-shape tokenizer training (the SentencePiece family,
    * Kudo 2018, arXiv:1804.10959), in the deterministic hard-EM form
    * that replays in an external oracle: seed a candidate vocabulary
    * with the corpus's weightiest substrings, then alternate
    *   E-step: Viterbi-segment every distinct word into the FEWEST
    *           pieces (single chars always valid — the implicit base
    *           alphabet — multi-char pieces must be in the vocab;
    *           ties break on the space-joined piece string, so the
    *           segmentation is a total deterministic function), and
    *   M-step: count piece usage (word count × occurrences) and prune
    *           the multi-char vocab to the top `vocabSize` by usage.
    * Integer costs replace SentencePiece's float EM likelihoods —
    * same fixed-point structure, but exactly replayable (the DuckDB
    * oracle runs the identical DP as a recursive CTE, p_unigram_train).
    *
    * Scale shape (100 TB): the corpus is scanned ONCE, into the
    * distinct-words frame (Zipf: |distinct| ≪ |tokens|), which is
    * staged and reused by seeding and every round; each round is one
    * scan of THAT frame with the vocab baked in as plan literals
    * (graft.functions.UnigramSegment — one O(len·maxPieceLen) integer
    * DP per word, codegen'd) and one map-side-combined usage count;
    * only `vocabSize` rows ever reach the driver per round — the
    * bpeTrain / k-means iteration pattern.
    *
    * @return final-round piece usage: (piece, usage), every piece the
    *         trained tokenizer emits on this corpus with its weight
    */
  def unigramTrain(df: org.apache.spark.sql.DataFrame, textCol: String,
      seedSize: Int = 120, vocabSize: Int = 80, rounds: Int = 2,
      maxPieceLen: Int = 4): org.apache.spark.sql.DataFrame = {
    require(rounds >= 1, "rounds must be positive")
    require(maxPieceLen >= 2, "maxPieceLen must be at least 2")
    val words = graft.core.Caches.stage(
      df.select(explode(Dedup.tokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt")))
    // seed: substring occurrences weighted by word count; bounded
    // TakeOrdered, ties on the piece string
    var vocab = words
      .select(explode(graft.functions.WordSubstrings(col("w"), 2,
        maxPieceLen)).as("piece"), col("cnt"))
      .groupBy("piece").agg(sum("cnt").as("wt"))
      .orderBy(col("wt").desc, col("piece"))
      .limit(seedSize)
      .collect().map(_.getString(0))
    var usage: org.apache.spark.sql.DataFrame = null
    var r = 1
    while (r <= rounds) {
      usage = words
        .select(explode(graft.functions.UnigramSegment(col("w"), vocab,
          maxPieceLen)).as("piece"), col("cnt"))
        .groupBy("piece").agg(sum("cnt").as("usage"))
      if (r < rounds) {
        vocab = usage.filter(length(col("piece")) >= 2)
          .orderBy(col("usage").desc, col("piece"))
          .limit(vocabSize)
          .collect().map(_.getString(0))
      }
      r += 1
    }
    usage
  }

  /** Apply a trained unigram vocab to text: tokenize, then Viterbi-
    * segment each word with the same shortest-segmentation DP as
    * training — the corpus-encode pass. Scan-local, vocab as plan
    * literals.
    *
    * @return array of subword pieces in document order
    */
  def unigramEncode(text: Column, vocab: Seq[String],
      maxPieceLen: Int = 4): Column =
    flatten(transform(Dedup.tokens(text), w =>
      graft.functions.UnigramSegment(w, vocab.toArray, maxPieceLen)))

  /** WordPiece greedy longest-match-first encode (Wu et al. 2016 /
    * BERT): per word, repeatedly the longest vocab piece at the
    * cursor ("##"-prefixed after the first), the whole word collapsing
    * to `[UNK]` when no piece matches — completing the tokenizer trio
    * next to [[bpeEncode]] (merge replay) and [[unigramEncode]]
    * (fewest-pieces DP). Scan-local over a plan-baked vocab.
    */
  def wordpieceEncode(text: Column, vocab: Seq[String],
      maxPieceLen: Int = 6): Column = {
    // a piece longer than maxPieceLen would be silently unmatchable
    // (every word containing it collapses to [UNK]); surface the dead
    // vocab entry at plan build instead
    val tooLong = vocab.filter(p =>
      (if (p.startsWith("##")) p.length - 2 else p.length) >
        maxPieceLen)
    require(tooLong.isEmpty,
      s"vocab pieces exceed maxPieceLen=$maxPieceLen: " +
        tooLong.take(5).mkString(", "))
    flatten(transform(Dedup.tokens(text), w =>
      graft.functions.WordpieceSegment(w, vocab.toArray, maxPieceLen)))
  }

  private def requireBpeSymbols(merges: Seq[(String, String)]): Unit =
    require(merges.forall { case (a, b) =>
      (a + b).forall(ch => ch != '\u0001' && ch != '\u0002' && ch != ' ')
    }, "merge symbols must not contain the marker characters or spaces")

  /** fastText/CCNet-style linear quality classifier over hashing-trick
    * bag-of-tokens features: bucket(t) = portable 60-bit token hash mod
    * `dim`, feature x_b = (Σ cnt of tokens in b) / doc_length, and
    *
    *   margin = bias + Σ_b x_b · w_b
    *
    * — the raw decision margin (monotone under sigmoid, so thresholding
    * margin > 0 IS the classifier decision; no transcendental in the
    * oracle path). `weights` carries a trained model as a LITERAL array
    * (codegen'd scan-local indexing, the k-means literal-centroid
    * idiom); without it each w_b derives from a seeded md5 — not a
    * trained model, but a deterministic engine-replayable stand-in
    * with the same plan shape (the oracle-gated form).
    *
    * Scale shape: one tokenization explode and ONE doc-key shuffle for
    * the margin sum (DECIMAL-reduced, so partition/summation order
    * cannot perturb scores); weights are row-local expressions — no
    * join, nothing broadcast but the plan itself.
    */
  def linearQuality(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, dim: Int = 64, seed: Int = 7,
      weights: Option[Seq[Double]] = None,
      bias: Double = 0.0): org.apache.spark.sql.DataFrame = {
    val m = linearQualityCol(col(textCol), dim, seed, weights, bias)
    df.select(col(idCol).as("doc_id"), m.as("__m"))
      .select(col("doc_id"),
        col("__m.margin").as("margin"),
        col("__m.n_tokens").as("n_tokens"))
      .withColumn("keep", col("margin") > 0)
  }

  /** Row-local form of [[linearQuality]]: struct<margin, n_tokens> as
    * ONE scan-local expression — no explode, no shuffle, usable inside
    * any projection. Per-token terms round to DECIMAL scale 15 and then
    * accumulate as exact scaled LONGS (|term| ≤ tf/dl sums to ≤ 1, so
    * the running sum is bounded by ±10^15 — far inside long range and
    * double-exact), so this computes bit-identical margins to the
    * grouped DECIMAL sum in any order — one oracle serves both
    * shapes. The doc length binds once through a singleton-array
    * lambda (embedding it directly in the fold lambda would
    * re-evaluate the length aggregate per element).
    */
  def linearQualityCol(text: Column, dim: Int = 64, seed: Int = 7,
      weights: Option[Seq[Double]] = None,
      bias: Double = 0.0): Column = {
    require(dim > 0, "dim must be positive")
    require(weights.forall(_.size == dim), s"weights must have size $dim")
    // the fixed-point design needs every per-token term (tf/dl)·w —
    // and hence the margin, since Σ tf/dl = 1 — inside decimal(20,15)'s
    // 5 integral digits and the scaled-long running sum; a huge weight
    // would overflow the cast to NULL (non-ANSI) and silently poison
    // the whole fold. Trained quality weights are O(1); reject early.
    require(weights.forall(_.forall(w =>
        !w.isNaN && !w.isInfinite && math.abs(w) <= 1000.0)),
      "weights must be finite with |w| <= 1000 (fixed-point margin bound)")
    val tcs = graft.functions.TokenCounts(text)
    def wOf(tok: Column): Column = {
      val bucket = graft.functions.Md5Fold60(tok) % dim
      weights match {
        case Some(ws) =>
          element_at(lit(ws.toArray), (bucket + 1).cast("int"))
        case None =>
          graft.functions.Md5Fold60(
              concat(lit(s"w:$seed:"), bucket.cast("string")))
            .cast("double") / 1152921504606846976.0d * 2 - 1
      }
    }
    // scale-15 fixed point: (term → decimal(20,15)) × 10^15 is an
    // exactly-integral decimal(37,15) → long. Summing those longs is
    // the same exact arithmetic as summing the decimals.
    val tenPow15 = lit(new java.math.BigDecimal(
      java.math.BigInteger.TEN.pow(15)))
    val dl = aggregate(tcs, lit(0L), (acc, x) => acc + x.getField("cnt"))
    element_at(transform(array(dl), dlv =>
      struct(
        (aggregate(tcs, lit(0L), (acc, x) =>
          acc + (((x.getField("cnt") / dlv) *
            wOf(x.getField("token"))).cast("decimal(20,15)") * tenPow15)
            .cast("long"))
          .cast("double") / 1.0e15d + bias).as("margin"),
        dlv.as("n_tokens"))), 1)
  }

  /** Batch-gradient logistic training for [[linearQuality]] — the
    * in-engine counterpart of training a fastText/CCNet-style quality
    * classifier: `iters` full-batch gradient steps over hashed
    * (tf/dl) token features, returning the (weights, bias) that
    * [[linearQuality]]/[[linearQualityCol]] then apply.
    *
    * Scale shape (100 TB): each step is the [[Cluster.kmeans]]
    * pattern — the current weights ride into the plan as literals, ONE
    * corpus scan computes per-document residuals, and the gradient
    * reduces to at most `dim`+2 driver-side cells (per-bucket sums,
    * the bias sum, the row count) through hash aggregation with
    * map-side partials. The per-document prefix (residual + token
    * counts, no text) is staged once per step for its two consumers
    * and released by the harness. Nothing but the dim-bounded
    * gradient ever reaches the driver.
    *
    * Determinism: residual·feature terms are floored to 2^20 fixed
    * point per (doc, bucket) and summed as exact longs, so gradients
    * are partitioning/retry-independent; the weight update is one
    * IEEE multiply-divide on the driver. The only transcendental is
    * the sigmoid's exp, pre-floored per term — the same replayability
    * envelope as the kmeans and DSIR oracles (PipelineQueries
    * p_quality_train mirrors whole training steps in DuckDB).
    */
  def trainLinearQuality(df: org.apache.spark.sql.DataFrame,
      textCol: String, label: Column, dim: Int = 32, iters: Int = 2,
      lr: Double = 0.5): (Array[Double], Double) = {
    require(dim > 0 && iters >= 1 && lr > 0, "bad training params")
    val fix = lit(1048576.0d) // 2^20, Cluster.FixScale convention
    var w = Array.fill(dim)(0.0d)
    var bias = 0.0d
    var it = 0
    while (it < iters) {
      val m = linearQualityCol(col(textCol), dim, 0,
        Some(w.toIndexedSeq), bias)
      val perDoc = graft.core.Caches.stage(
        df.select(label.cast("double").as("y"),
            m.getField("margin").as("mg"),
            m.getField("n_tokens").as("dl"),
            graft.functions.TokenCounts(col(textCol)).as("tcs"))
          .withColumn("r",
            lit(1.0d) / (lit(1.0d) + exp(-col("mg"))) - col("y")))
      val bucket = graft.functions.Md5Fold60(col("tc.token")) % dim
      // ONE action per iteration (r17): the bias gradient and the doc
      // count ride the same grouped aggregate as the weight buckets —
      // a per-doc synthetic bucket −1 row unioned under the exploded
      // token rows (both branches read the staged perDoc cache). Two
      // collects per iteration became one; the sums are unchanged.
      val gw = Array.fill(dim)(0L)
      var gb = 0L
      var n = 0L
      perDoc.select(col("r"), col("dl"), explode(col("tcs")).as("tc"))
        .select(bucket.as("b"),
          floor(col("r") * (col("tc.cnt") / col("dl")) * fix)
            .cast("long").as("g"),
          lit(0L).as("one"))
        .unionAll(perDoc.select(lit(-1L).as("b"),
          floor(col("r") * fix).cast("long").as("g"),
          lit(1L).as("one")))
        .groupBy("b").agg(sum("g").as("s"), sum("one").as("cnt"))
        .collect()
        .foreach { row =>
          val b = row.getLong(0)
          if (b == -1L) { gb = row.getLong(1); n = row.getLong(2) }
          else gw(b.toInt) = row.getLong(1)
        }
      w = Array.tabulate(dim)(b => w(b) - lr * gw(b) / (n * 1048576.0d))
      bias = bias - lr * gb / (n * 1048576.0d)
      it += 1
    }
    (w, bias)
  }

  /** BM25 keyword search over the corpus: score every document
    * containing at least one query term and return the top `topK`.
    *
    *   score(D) = Σ_t idf(t) · tf(t,D)(k1+1) /
    *                    (tf(t,D) + k1(1 − b + b·|D|/avgdl))
    *
    * `logIdf = true` (default) is textbook Lucene BM25
    * (idf = ln((N−df+0.5)/(df+0.5) + 1)); `logIdf = false` uses the
    * raw odds ratio (N−df+0.5)/(df+0.5) — same per-term monotonicity,
    * but every arithmetic step is an exactly-rounded IEEE op, so the
    * scores are bit-portable across engines (the oracle-gated form;
    * ln's last ulp is library-defined). Per-document term scores
    * reduce through DECIMAL so summation order cannot perturb the
    * total.
    *
    * Scale shape: tokenization is ONE scan (TokenCounts staged per
    * row); the query-term filter runs inside that scan, so only
    * matching (doc, term) rows — |terms| per doc at most — ever
    * shuffle. Corpus stats (N, avgdl) and per-term dfs are tiny
    * aggregates broadcast back; the final top-k is a
    * TakeOrderedAndProject, never a full sort.
    */
  def bm25(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, topK: Int = 100,
      logIdf: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    // doc length + query-term postings in ONE codegen'd kernel call
    // (TokenPostings — no interpreted aggregate/filter lambdas in the
    // scan). STAGED (persist, harness-released): three consumers
    // (stats, dfs, postings) would otherwise each re-tokenize the
    // corpus — three full text scans — and none of them shares an
    // exchange for ReusedExchange to latch onto. The staged frame is
    // narrow (id, length, ≤|terms| postings — no text), so the cache
    // is a small fraction of corpus size.
    val base = df.select(col(idCol).as("doc_id"),
      graft.functions.TokenPostings(col(textCol),
        terms.map(_.toLowerCase).toArray).as("__tp"))
    val lens = graft.core.Caches.stage(base.select(col("doc_id"),
      col("__tp").getField("dl").as("dl"),
      col("__tp").getField("q").as("__q")))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val matched = lens.select(col("doc_id"), col("dl"),
        explode(col("__q")).as("t"))
      .select(col("doc_id"), col("dl"),
        col("t.token").as("token"), col("t.cnt").as("tf"))
    val dfs = matched.groupBy("token").agg(count(lit(1)).as("df"))
    val idfOdds = (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)
    val idf = if (logIdf) log(idfOdds + 1.0) else idfOdds
    val score = idf * (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * (col("dl") /
        col("avgdl"))))
    matched.join(broadcast(dfs), "token")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), score.as("__sc"))
      .groupBy("doc_id")
      .agg(graft.Tables.dsum(col("__sc"), 12).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Multi-query BM25: score a whole QUERY TABLE (query_id, terms
    * array) against the corpus in ONE tokenization scan — the
    * production retrieval shape ([[bm25]] is the single-query
    * special case and shares its arithmetic exactly, including the
    * DECIMAL-reduced per-document sum).
    *
    * Scale shape: the distinct query vocabulary (driver-small by the
    * retrieval contract; guarded) bakes into the tokenization scan's
    * posting filter, so only query-relevant (doc, token, tf) rows
    * leave the ONE staged corpus pass; document frequencies and
    * corpus stats are tiny aggregates broadcast back, the
    * term→query fan-out joins the broadcast query-term frame, and
    * the per-query top-k is a partial+final WindowGroupLimit, never
    * a global sort. A corpus-sized query side would instead want the
    * [[postings]] inverted index materialized once and joined.
    */
  def bm25Queries(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queries: org.apache.spark.sql.DataFrame,
      qIdCol: String, termsCol: String, k1: Double = 1.2,
      b: Double = 0.75, topK: Int = 100,
      logIdf: Boolean = true): org.apache.spark.sql.DataFrame = {
    val (qt, vocab) = queryVocab(queries, qIdCol, termsCol,
      "materialize TextFns.postings and join against it instead")
    val base = df.select(col(idCol).as("doc_id"),
      graft.functions.TokenPostings(col(textCol), vocab).as("__tp"))
    val lens = graft.core.Caches.stage(base.select(col("doc_id"),
      col("__tp").getField("dl").as("dl"),
      col("__tp").getField("q").as("__q")))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val matched = lens.select(col("doc_id"), col("dl"),
        explode(col("__q")).as("t"))
      .select(col("doc_id"), col("dl"),
        col("t.token").as("token"), col("t.cnt").as("tf"))
    val dfs = matched.groupBy("token").agg(count(lit(1)).as("df"))
    bm25QueryTail(matched, dfs, stats, qt, k1, b, topK, logIdf)
  }

  /** Query-side term normalization + bounded vocabulary collect,
    * shared by [[bm25Queries]] and [[graft.pipeline.Indexes]]'
    * indexed twin so the two paths can never tokenize or bound
    * differently (their scores are promised bit-identical).
    * DISTINCT after lowercasing: duplicate terms in a query's array
    * (or case variants of one term) must score once, matching the
    * single-query form's set semantics and the oracle's DISTINCT.
    * The query VOCABULARY is driver-small by the retrieval contract;
    * baking it into the scan filter keeps the corpus side to one
    * pass/pushed posting read (bounded collect, guarded — the
    * `alternative` names each caller's corpus-sized escape hatch).
    */
  private[pipeline] def queryVocab(
      queries: org.apache.spark.sql.DataFrame, qIdCol: String,
      termsCol: String, alternative: String)
      : (org.apache.spark.sql.DataFrame, Array[String]) = {
    val qt = queries.select(col(qIdCol).as("query_id"),
        explode(col(termsCol)).as("__t"))
      .select(col("query_id"), lower(col("__t")).as("token"))
      .distinct()
    val vocab = qt.select("token").distinct().limit(65537).collect()
      .map(_.getString(0))
    require(vocab.length <= 65536,
      "query vocabulary too large to bake into the scan filter; " +
        alternative)
    (qt, vocab)
  }

  /** Scoring/ranking tail shared by [[bm25Queries]] and the
    * persisted-index form ([[Indexes.bm25QueriesIndexed]]): per-term
    * BM25 over (doc_id, dl, token, tf) postings with broadcast dfs /
    * corpus stats / query-term frames, DECIMAL-reduced per-document
    * sums, per-query WindowGroupLimit top-k. Shared CODE, not just
    * shared semantics — the indexed path's scores are bit-identical
    * because this is literally the same arithmetic.
    */
  private[pipeline] def bm25QueryTail(matched: org.apache.spark.sql.DataFrame,
      dfs: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame,
      qt: org.apache.spark.sql.DataFrame, k1: Double, b: Double,
      topK: Int, logIdf: Boolean): org.apache.spark.sql.DataFrame = {
    val idfOdds = (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)
    val idf = if (logIdf) log(idfOdds + 1.0) else idfOdds
    val score = idf * (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * (col("dl") /
        col("avgdl"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    matched.join(broadcast(dfs), "token")
      .crossJoin(broadcast(stats))
      .join(broadcast(qt), "token")
      .select(col("query_id"), col("doc_id"), score.as("__sc"))
      .groupBy("query_id", "doc_id")
      .agg(graft.Tables.dsum(col("__sc"), 12).as("score"),
        count(lit(1)).as("n_terms"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "rank", "doc_id", "score", "n_terms")
  }

  /** Corpus vocabulary statistics: per-token total occurrences (tf)
    * and document frequency (df) — the vocabulary/idf-building pass of
    * a training-data pipeline. The per-document counting happens
    * row-locally (native TokenCounts: one pass builds the distinct
    * tokens with their in-document counts), so the corpus pass is ONE
    * scan → ONE explode of the distinct tokens per document → ONE hash
    * aggregation with map-side partial agg (`sum(cnt)` = tf, `count` =
    * df). No `count(distinct)` Expand, no second scan, no join. Top-N
    * by (df desc, token) keeps the result bounded (TakeOrdered, no
    * global sort) at any corpus size.
    */
  def docFrequency(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topN: Int = 200): org.apache.spark.sql.DataFrame =
    df.select(explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .select(col("tc.token").as("token"), col("tc.cnt").as("cnt"))
      .groupBy("token")
      .agg(sum("cnt").as("tf"), count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token"))
      .limit(topN)

  /** Per-document distinctive keywords: rank each document's tokens by
    * in-document frequency over corpus document frequency (an exact
    * tf-idf-style score that stays engine-portable — tf/df is one IEEE
    * division of two integers, no transcendental idf), keep the top
    * `perDoc`. The in-document tf is row-local (TokenCounts), the df
    * vocabulary is a bounded aggregate BROADCAST back to the explode —
    * so the only full shuffle is the per-document ranking window.
    * Ties break toward the lexicographically smaller token.
    */
  def keywords(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, perDoc: Int = 3,
      minDf: Int = 1): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE tokenization: the df vocabulary is derived from the same
    // exploded frame the ranking consumes, never from a second
    // TokenCounts pass over the corpus (the previous shape tokenized
    // the corpus twice — half of p_keywords' cost). The exploded frame
    // is staged (persist, harness-released) because the broadcast
    // vocab branch carries no exchange for ReusedExchange to latch
    // onto.
    val tc = graft.core.Caches.stage(df.select(col(idCol).as("doc_id"),
        explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .select(col("doc_id"), col("tc.token").as("token"),
        col("tc.cnt").as("tf")))
    // tokens are distinct within a document (TokenCounts), so df is a
    // plain row count per token; a minDf-filtered vocabulary is
    // bounded → broadcast (no shuffle of the exploded tokens)
    val vocab = broadcast(tc.groupBy("token")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf))
    val w = Window.partitionBy("doc_id")
      .orderBy((col("tf").cast("double") / col("df")).desc, col("token"))
    tc.join(vocab, "token")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perDoc)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        col("df"))
  }

  /** Inverted-index (postings) materialization: for every vocabulary
    * token with document frequency >= `minDf`, the top-`cap` posting
    * rows (doc_id, tf) by (tf DESC, doc_id) plus the exact df and
    * collection frequency — the retrieval-index build behind BM25 /
    * keyword search, transposed from [[keywords]] (top DOCS per token,
    * not top tokens per doc).
    *
    * Scale shape (100 TB): ONE tokenization scan feeds both branches
    * (staged like keywords'). The per-token cap plans
    * as Spark 4's partial+final WindowGroupLimit pair, so a stopword
    * appearing in every document ships at most `cap` rows per map
    * task across the exchange — the per-token skew guard; df/cf are
    * exact counts over the UNCAPPED frame (a plain token groupBy with
    * map-side partials), attached by broadcast since a minDf-filtered
    * vocabulary is bounded.
    */
  def postings(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, cap: Int = 5,
      minDf: Int = 1): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tc = graft.core.Caches.stage(df.select(col(idCol).as("doc_id"),
        explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .select(col("doc_id"), col("tc.token").as("token"),
        col("tc.cnt").as("tf")))
    val vocab = broadcast(tc.groupBy("token")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      .filter(col("df") >= minDf))
    val w = Window.partitionBy("token")
      .orderBy(col("tf").desc, col("doc_id"))
    tc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .join(vocab, "token")
      .select(col("token"), col("df"), col("cf"),
        col("rk").cast("int").as("rk"), col("doc_id"), col("tf"))
  }

  /** HTML→text extraction rule chain — the crawl-pipeline step
    * between WARC record splitting ([[graft.sources.Ingest]]) and the
    * quality/dedup operators. Deliberately a DETERMINISTIC ordered
    * regex chain, not a DOM parse: the semantics (strip comments,
    * script/style subtrees, tag-to-newline block boundaries, the six
    * core entities, whitespace collapse) are what C4/CCNet-style
    * pipelines actually apply, and a rule chain replays identically
    * in any RE2-compatible engine — readability-style link-density
    * block scoring needs a DOM and is out of scope by design.
    * Order is part of the contract (`&amp;` decodes LAST so decoded
    * `&lt;` cannot re-form a tag; block tags become newlines BEFORE
    * generic tag stripping).
    */
  val HtmlRules: Seq[(String, String)] = Seq(
    "(?s)<!--.*?-->" -> "",
    "(?is)<head[^>]*>.*?</head>" -> "",
    "(?is)<script[^>]*>.*?</script>" -> "",
    "(?is)<style[^>]*>.*?</style>" -> "",
    ("(?i)<(?:br|hr)\\b[^>]*>|(?i)</(?:p|div|h[1-6]|li|tr|ul|ol|" +
      "table|blockquote)\\b[^>]*>") -> "\n",
    "<[^>]*>" -> "",
    "&nbsp;" -> " ",
    "&lt;" -> "<",
    "&gt;" -> ">",
    "&quot;" -> "\"",
    "&#39;" -> "'",
    "&apos;" -> "'",
    "&amp;" -> "&",
    "[ \\t\\r]+" -> " ",
    " *\\n *" -> "\n",
    "\\n{3,}" -> "\n\n",
    "^\\n+|\\n+$" -> "")

  /** Extract readable text from HTML markup by the [[HtmlRules]]
    * chain. Pure codegen'd regexp_replace chain inside the scan
    * projection — no shuffle, no UDF, scan-local at any scale.
    */
  def htmlToText(html: Column): Column =
    trim(HtmlRules.foldLeft(html) { case (c, (p, r)) =>
      regexp_replace(c, p, r)
    })

  /** Absolute outlink extraction from raw HTML — the crawl-graph
    * front end: `array<string>` of double-quoted http(s) href values,
    * `&amp;`-unescaped (the one entity that legally appears inside a
    * URL's query string). Deliberately a regex, not a DOM (the
    * [[htmlToText]] posture — what CommonCrawl-class link extraction
    * does at scale): scan-local, codegen'd, RE2-safe. Relative links
    * are excluded by construction — resolving them needs the page's
    * base URL, a caller-side join, not a kernel concern. Compose with
    * [[canonicalizeUrl]] for frontier keys and
    * [[graft.pipeline.LinkGraph.pagerank]] for authority.
    */
  def extractLinks(html: Column): Column =
    regexp_extract_all(
      regexp_replace(html, "&amp;", "&"),
      lit("[hH][rR][eE][fF]=\"(https?://[^\"]+)\""), lit(1))

  /** Compliance patterns for [[redact]]/[[piiCount]] — kept
    * RE2-compatible (no backrefs or lookarounds, ASCII classes only)
    * so every engine with linear-time regexes applies them
    * identically; Java and RE2 agree on \b, \d, and these classes.
    * Order matters and is part of the contract: earlier replacements
    * can consume text later patterns would otherwise match.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}-\\d{3}-\\d{4}\\b" -> "<PHONE>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>")

  /** PII-style scrubbing: replace each pattern's matches with its
    * typed placeholder, in order — the pre-training redaction pass.
    * Pure codegen'd regexp_replace chain inside the scan projection;
    * no shuffle, no UDF.
    */
  def redact(text: Column,
      patterns: Seq[(String, String)] = PiiPatterns): Column =
    patterns.foldLeft(text) { case (c, (re, tag)) =>
      regexp_replace(c, re, tag)
    }

  /** Count of PII matches across the patterns, counted in the same
    * left-to-right order redaction applies them (each pattern counts
    * on the text AFTER the previous replacements, so overlapping
    * matches aren't double-counted).
    */
  def piiCount(text: Column,
      patterns: Seq[(String, String)] = PiiPatterns): Column = {
    val (counts, _) = patterns.foldLeft(
      (List.empty[Column], text)) { case ((acc, t), (re, tag)) =>
      (regexp_count(t, lit(re)) :: acc, regexp_replace(t, re, tag))
    }
    counts.reduce(_ + _).cast("long")
  }

  private def substring(c: Column, pos: Column, len: Column): Column =
    c.substr(pos, len)

  /** PMI collocation mining (Church & Hanks 1990): the top-k
    * adjacent-token bigrams ranked by pointwise mutual information —
    * the vocabulary-curation signal for multi-word terms ("new york",
    * "machine learning") that single-token statistics miss.
    *
    * Ranking is by the exact rational (c_xy·N)/(c_x·c_y) (monotone in
    * PMI = its log). Both operands stay exact integers; the ONE
    * IEEE division of two exact int64s is correctly rounded and
    * therefore bit-identical in any engine — the only float the
    * operator ever produces (sums would be order-dependent; a single
    * division is not). Exact to 2^53 ≈ 9·10^15 per operand:
    * c_xy·N and c_x·c_y both clear that with room at 10^7-token
    * corpora per aggregation scope; shard the corpus beyond it.
    *
    * Shape (100 TB): ONE corpus scan staged with BOTH fused kernels
    * (unigram + bigram occurrence counts per row); two partial-agg
    * shuffles off the cache (token, bigram); the joins run on
    * aggregated vocabulary frames, and `minCount` prunes the bigram
    * tail before they start.
    *
    * @return top-k rows (bigram, c_xy, c_x, c_y, n_uni, pmi_ratio),
    *         ties broken by bigram for determinism
    */
  def collocations(df: org.apache.spark.sql.DataFrame, textCol: String,
      minCount: Long = 5, k: Int = 50): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, "minCount must be positive")
    require(k >= 1, "k must be positive")
    val tok = graft.core.Caches.stage(df.select(
      graft.functions.TokenCounts(col(textCol)).as("uc"),
      graft.functions.BigramCounts(col(textCol)).as("bc")))
    val uni = tok.select(explode(col("uc")).as("t"))
      .groupBy(col("t.token").as("token"))
      .agg(sum(col("t.cnt")).as("c"))
    val total = uni.select(col("c").as("__c2"))
      .agg(sum(col("__c2")).as("n_uni"))
    val bi = tok.select(explode(col("bc")).as("t"))
      .groupBy(col("t.token").as("bigram"))
      .agg(sum(col("t.cnt")).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    bi
      .withColumn("__x", split(col("bigram"), " ").getItem(0))
      .withColumn("__y", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("token").as("__x"), col("c").as("c_x")),
        Seq("__x"))
      .join(uni.select(col("token").as("__y"), col("c").as("c_y")),
        Seq("__y"))
      .crossJoin(broadcast(total))
      .withColumn("pmi_ratio",
        (col("c_xy") * col("n_uni")).cast("double") /
          (col("c_x") * col("c_y")).cast("double"))
      .orderBy(col("pmi_ratio").desc, col("bigram"))
      .limit(k)
      .select("bigram", "c_xy", "c_x", "c_y", "n_uni", "pmi_ratio")
  }
}
