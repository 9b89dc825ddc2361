package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftglue.ColumnGlue

/** The Spark-native integration point for the graft function library:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or on a live session:
  *   graft.GraftExtensions.registerFunctions(spark)
  * }}}
  *
  * Injects the graft optimizer rules ([[graft.Sessions.rules]]) and
  * registers the pipeline's scalar functions in the session's
  * FunctionRegistry so plain `spark.sql` — and therefore every
  * SQL-speaking client of a cluster configured with the extension —
  * can call them:
  *
  * {{{
  *   SELECT graft_simhash(text), graft_token_counts(text) FROM docs
  * }}}
  *
  * Every function resolves to the same codegen'd expressions the
  * DataFrame API uses (one plan, one semantics, whichever surface).
  *
  * A session configured only through `spark.sql.extensions` keeps
  * Spark's 100-entry generated-class cache: an extension cannot set a
  * static conf. One pass of the iterative operators (`Dedup.dupGroups`,
  * `LinkGraph.labelProp`, `LinkGraph.pagerank`) cycles through more
  * classes than that, so at 100 entries every pass recompiles all of
  * them. Pass the size [[graft.Sessions]] uses at submit time:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions \
  *     --conf spark.sql.codegen.cache.maxEntries=2000 ...
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.Sessions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        GraftExtensions.info(name, usage), builder))
    }
  }
}

object GraftExtensions {
  import graft.functions._
  import graft.pipeline.{Dedup, TextFns}

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "",
      "", "built-in")

  /** Evaluate a foldable argument to Int (SQL literal parameters). */
  private def intArg(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case i: Int => i
      case l: Long =>
        // no silent truncation: graft_fingerprint(text, 4294967297)
        // must error, not quietly become gram=1 with wrong results
        if (l < Int.MinValue || l > Int.MaxValue)
          throw new IllegalArgumentException(
            s"$what must fit in an Int, got $l")
        l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }

  /** Evaluate a foldable argument to Long (SQL literal parameters). */
  private def longArg(e: Expression, what: String): Long = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }

  /** Evaluate a foldable argument to Double (SQL literal parameters). */
  private def dblArg(e: Expression, what: String): Double = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case d: Double => d
      case f: Float => f.toDouble
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case d: java.math.BigDecimal => d.doubleValue()
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$what must be a numeric literal, got $other")
    }
  }

  /** Evaluate a foldable argument to String (SQL literal parameters). */
  private def strArg(e: Expression, what: String): String = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"$what must be a string literal, got $other")
    }
  }

  /** "a b|ta b|tab le" → ranked merge pairs for graft_bpe_encode. */
  private def parseMerges(s: String): Seq[(String, String)] =
    s.split("\\|").toSeq.map(_.trim).filter(_.nonEmpty).map { m =>
      m.split("\\s+") match {
        case Array(a, b) => (a, b)
        case _ => throw new IllegalArgumentException(
          s"merges: each pipe-separated entry must be 'left right', " +
            s"got '$m'")
      }
    }

  private def arity(name: String, args: Seq[Expression],
      ns: Int*): Unit =
    require(ns.contains(args.size),
      s"$name expects ${ns.mkString(" or ")} arguments, got ${args.size}")

  /** Wrap a Column→Column pipeline function as an expression builder
    * (the Column tree IS an expression tree — one semantics for the
    * SQL and DataFrame surfaces).
    */
  private def viaColumn(f: org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column)(e: Expression): Expression =
    ColumnGlue.resolvedExpression(f(ColumnGlue.column(e)))

  /** (name, usage, builder) for every registered function. */
  val functions: Seq[(String, String,
      Seq[Expression] => Expression)] = Seq(
    ("graft_simhash",
      "graft_simhash(text) - portable 64-bit SimHash as a bit string",
      (args: Seq[Expression]) => {
        arity("graft_simhash", args, 1)
        SimhashMd5(args.head)
      }),
    ("graft_fingerprint",
      "graft_fingerprint(text[, gram]) - min-md5 content fingerprint",
      (args: Seq[Expression]) => {
        arity("graft_fingerprint", args, 1, 2)
        FingerprintMd5(args.head,
          if (args.size > 1) intArg(args(1), "gram") else 8)
      }),
    ("graft_hamming",
      "graft_hamming(fp1, fp2) - Hamming distance of bit strings",
      (args: Seq[Expression]) => {
        arity("graft_hamming", args, 2)
        HammingBits(args(0), args(1))
      }),
    ("graft_token_counts",
      "graft_token_counts(text) - per-row token frequency vector",
      (args: Seq[Expression]) => {
        arity("graft_token_counts", args, 1)
        TokenCounts(args.head)
      }),
    ("graft_shingles",
      "graft_shingles(text[, n]) - distinct word n-gram shingles",
      (args: Seq[Expression]) => {
        arity("graft_shingles", args, 1, 2)
        Shingles(args.head,
          if (args.size > 1) intArg(args(1), "n") else 3)
      }),
    ("graft_shingle_hashes",
      "graft_shingle_hashes(text[, n]) - distinct 60-bit gram hashes",
      (args: Seq[Expression]) => {
        arity("graft_shingle_hashes", args, 1, 2)
        ShingleHashes(args.head,
          if (args.size > 1) intArg(args(1), "n") else 3)
      }),
    ("graft_minhash_bands",
      "graft_minhash_bands(text, n, k, b) - LSH band buckets",
      (args: Seq[Expression]) => {
        arity("graft_minhash_bands", args, 4)
        val coeffs = Dedup.permCoeffs(intArg(args(2), "k"))
          .flatMap { case (a, b) => Seq(a, b) }.toArray
        MinhashBandBuckets(args.head, intArg(args(1), "n"), coeffs,
          intArg(args(3), "b"))
      }),
    ("graft_hyperplane_buckets",
      "graft_hyperplane_buckets(vec, planes, tables, dim, seed) - " +
        "LSH bucket ids per table",
      (args: Seq[Expression]) => {
        arity("graft_hyperplane_buckets", args, 5)
        ColumnGlue.resolvedExpression(HyperplaneBuckets(
          ColumnGlue.column(args.head), intArg(args(1), "planes"),
          intArg(args(2), "tables"), intArg(args(3), "dim"),
          intArg(args(4), "seed")))
      }),
    ("graft_html_text",
      "graft_html_text(html) - extract readable text from HTML markup",
      (args: Seq[Expression]) => {
        arity("graft_html_text", args, 1)
        viaColumn(graft.pipeline.TextFns.htmlToText)(args.head)
      }),
    ("graft_wordpiece",
      "graft_wordpiece(text, vocab_csv[, maxPieceLen]) - WordPiece " +
        "greedy encode with a comma-separated vocab",
      (args: Seq[Expression]) => {
        arity("graft_wordpiece", args, 2, 3)
        val vocab = strArg(args(1), "vocab_csv").split(',').toSeq
        val maxLen = if (args.size > 2) intArg(args(2), "maxPieceLen")
          else 6
        viaColumn(c => graft.pipeline.TextFns.wordpieceEncode(c, vocab,
          maxLen))(args.head)
      }),
    ("graft_cosine",
      "graft_cosine(a, b) - cosine similarity of two vectors",
      (args: Seq[Expression]) => {
        arity("graft_cosine", args, 2)
        ColumnGlue.resolvedExpression(graft.functions.CosineSim(
          ColumnGlue.column(args.head), ColumnGlue.column(args(1))))
      }),
    ("graft_minhash_sig",
      "graft_minhash_sig(text, n, k) - full k-permutation MinHash " +
        "signature",
      (args: Seq[Expression]) => {
        arity("graft_minhash_sig", args, 3)
        val n = intArg(args(1), "n")
        val k = intArg(args(2), "k")
        viaColumn(c =>
          graft.functions.MinhashSignature(c, n, k))(args.head)
      }),
    ("graft_winnow",
      "graft_winnow(text, k, w) - winnowed fingerprint selections " +
        "as array<struct<pos,h>>",
      (args: Seq[Expression]) => {
        arity("graft_winnow", args, 3)
        val k = intArg(args(1), "k")
        val w = intArg(args(2), "w")
        viaColumn(c =>
          graft.pipeline.Dedup.winnow(c, k, w))(args.head)
      }),
    ("graft_zvalue",
      "graft_zvalue(x, y, xmin, xmax, ymin, ymax, bits) - exact " +
        "2-d Morton interleave for z-order layouts",
      (args: Seq[Expression]) => {
        arity("graft_zvalue", args, 7)
        val bounds = (2 to 5).map(i => longArg(args(i),
          Seq("xmin", "xmax", "ymin", "ymax")(i - 2)))
        val bits = intArg(args(6), "bits")
        ColumnGlue.resolvedExpression(graft.sources.Layout.zvalue(
          Seq(ColumnGlue.column(args.head), ColumnGlue.column(args(1))),
          Seq(bounds(0), bounds(2)), Seq(bounds(1), bounds(3)), bits))
      }),
    ("graft_dhash",
      "graft_dhash(payload) - perceptual image dHash as 4x16-bit words",
      (args: Seq[Expression]) => {
        arity("graft_dhash", args, 1)
        graft.functions.DHashWords(args.head)
      }),
    ("graft_audio_fp",
      "graft_audio_fp(payload) - acoustic frame-energy fingerprint " +
        "as 4x16-bit words",
      (args: Seq[Expression]) => {
        arity("graft_audio_fp", args, 1)
        graft.functions.AudioFpWords(args.head)
      }),
    ("graft_bigram_counts",
      "graft_bigram_counts(text) - adjacent-token bigram occurrence " +
        "counts as array<struct<token,cnt>>",
      (args: Seq[Expression]) => {
        arity("graft_bigram_counts", args, 1)
        graft.functions.BigramCounts(args.head)
      }),
    ("graft_video_fp",
      "graft_video_fp(payload, frame_len) - per-frame perceptual " +
        "fingerprints as array<struct<f,hi,lo>>",
      (args: Seq[Expression]) => {
        arity("graft_video_fp", args, 2)
        graft.functions.VideoFpHashes(args.head,
          intArg(args(1), "frame_len"))
      }),
    ("graft_sentences",
      "graft_sentences(text) - rule-based sentence segmentation",
      (args: Seq[Expression]) => {
        arity("graft_sentences", args, 1)
        viaColumn(graft.pipeline.TextFns.sentences)(args.head)
      }),
    ("graft_sentence_chunks",
      "graft_sentence_chunks(sentences, budget) - greedy " +
        "sentence-preserving chunk ids under a token budget",
      (args: Seq[Expression]) => {
        arity("graft_sentence_chunks", args, 2)
        val budget = intArg(args(1), "budget")
        viaColumn(c => graft.pipeline.TextFns.sentenceChunks(c,
          budget))(args.head)
      }),
    ("graft_nfc",
      "graft_nfc(text) - Unicode NFC normalization",
      (args: Seq[Expression]) => {
        arity("graft_nfc", args, 1)
        NfcNormalize(args.head)
      }),
    ("graft_sample_hash",
      "graft_sample_hash(id[, seed]) - seeded uniform sampling hash",
      (args: Seq[Expression]) => {
        arity("graft_sample_hash", args, 1, 2)
        val seed = if (args.size > 1) intArg(args(1), "seed") else 42
        viaColumn(c => graft.pipeline.Sampling.sampleHash(c, seed))(
          args.head)
      }),
    ("graft_hist_bin",
      "graft_hist_bin(value, width) - fixed-width histogram bin index",
      (args: Seq[Expression]) => {
        arity("graft_hist_bin", args, 2)
        val width = dblArg(args(1), "width")
        require(width > 0, s"width must be positive, got $width")
        viaColumn(c => graft.pipeline.HistSketch.bin(c, width))(
          args.head)
      }),
    ("graft_quality",
      "graft_quality(text) - heuristic quality score in [0,1]",
      (args: Seq[Expression]) => {
        arity("graft_quality", args, 1)
        viaColumn(TextFns.qualityScore)(args.head)
      }),
    ("graft_lang_id",
      "graft_lang_id(text) - stopword-argmax language guess",
      (args: Seq[Expression]) => {
        arity("graft_lang_id", args, 1)
        viaColumn(TextFns.languageId)(args.head)
      }),
    ("graft_redact",
      "graft_redact(text) - scrub email/phone/IP PII",
      (args: Seq[Expression]) => {
        arity("graft_redact", args, 1)
        viaColumn(c => TextFns.redact(c))(args.head)
      }),
    ("graft_token_count",
      "graft_token_count(text) - whitespace token count",
      (args: Seq[Expression]) => {
        arity("graft_token_count", args, 1)
        viaColumn(TextFns.tokenCount)(args.head)
      }),
    ("graft_normalize",
      "graft_normalize(text) - lowercase + whitespace collapse",
      (args: Seq[Expression]) => {
        arity("graft_normalize", args, 1)
        viaColumn(Dedup.normalize)(args.head)
      }),
    ("graft_cosine",
      "graft_cosine(vec1, vec2) - cosine similarity",
      (args: Seq[Expression]) => {
        arity("graft_cosine", args, 2)
        ColumnGlue.resolvedExpression(Dedup.cosine(
          ColumnGlue.column(args(0)), ColumnGlue.column(args(1))))
      }),
    ("graft_chunks",
      "graft_chunks(text, size, overlap) - overlapping token windows",
      (args: Seq[Expression]) => {
        arity("graft_chunks", args, 3)
        ColumnGlue.resolvedExpression(TextFns.chunks(
          ColumnGlue.column(args.head), intArg(args(1), "size"),
          intArg(args(2), "overlap")))
      }),
    ("graft_jaccard",
      "graft_jaccard(text1, text2[, n]) - exact n-gram Jaccard",
      (args: Seq[Expression]) => {
        arity("graft_jaccard", args, 2, 3)
        ColumnGlue.resolvedExpression(Dedup.jaccard(
          ColumnGlue.column(args(0)), ColumnGlue.column(args(1)),
          if (args.size > 2) intArg(args(2), "n") else 3))
      }),
    ("graft_chunk_hashes",
      "graft_chunk_hashes(text, size, overlap) - chunk window md5s " +
        "without materializing chunk text",
      (args: Seq[Expression]) => {
        arity("graft_chunk_hashes", args, 3)
        graft.functions.ChunkHashes(args.head,
          intArg(args(1), "size"), intArg(args(2), "overlap"))
      }),
    ("graft_chunk_sizes",
      "graft_chunk_sizes(text, size, overlap) - chunk window token " +
        "counts without materializing chunk text",
      (args: Seq[Expression]) => {
        arity("graft_chunk_sizes", args, 3)
        graft.functions.ChunkSizes(args.head,
          intArg(args(1), "size"), intArg(args(2), "overlap"))
      }),
    ("graft_url_domain",
      "graft_url_domain(url) - lowercased hostname, www. stripped " +
        "(the per-domain curation key)",
      (args: Seq[Expression]) => {
        arity("graft_url_domain", args, 1)
        ColumnGlue.resolvedExpression(
          graft.pipeline.TextFns.urlDomain(ColumnGlue.column(args.head)))
      }),
    ("graft_quality_margin",
      "graft_quality_margin(text[, dim[, seed]]) - linear-classifier " +
        "quality margin over hashed token features",
      (args: Seq[Expression]) => {
        arity("graft_quality_margin", args, 1, 2, 3)
        ColumnGlue.resolvedExpression(
          graft.pipeline.TextFns.linearQualityCol(
            ColumnGlue.column(args.head),
            if (args.size > 1) intArg(args(1), "dim") else 64,
            if (args.size > 2) intArg(args(2), "seed") else 7)
            .getField("margin"))
      }),
    ("graft_bpe_encode",
      "graft_bpe_encode(text, merges) - BPE subword tokens; merges " +
        "is a literal like 't a|ta b|tab le' (rank order, " +
        "pipe-separated pairs)",
      (args: Seq[Expression]) => {
        arity("graft_bpe_encode", args, 2)
        ColumnGlue.resolvedExpression(
          graft.pipeline.TextFns.bpeEncode(ColumnGlue.column(args.head),
            parseMerges(strArg(args(1), "merges"))))
      }),
    ("graft_unigram_encode",
      "graft_unigram_encode(text, vocab) - unigram-tokenizer subword " +
        "pieces (fewest-pieces Viterbi); vocab is a literal of " +
        "pipe-separated multi-char pieces like 'th|ing|tion' " +
        "(single chars are always valid)",
      (args: Seq[Expression]) => {
        arity("graft_unigram_encode", args, 2)
        val vocab = strArg(args(1), "vocab").split("\\|").toSeq
          .map(_.trim).filter(_.nonEmpty)
        ColumnGlue.resolvedExpression(
          graft.pipeline.TextFns.unigramEncode(
            ColumnGlue.column(args.head), vocab))
      }),
    ("graft_bpe_pairs",
      "graft_bpe_pairs(text, merges) - within-word adjacent symbol " +
        "pairs after applying the merge list (one BPE training " +
        "round's counting kernel); merges as in graft_bpe_encode",
      (args: Seq[Expression]) => {
        arity("graft_bpe_pairs", args, 2)
        ColumnGlue.resolvedExpression(
          graft.functions.BpeAdjPairs(ColumnGlue.column(args.head),
            parseMerges(strArg(args(1), "merges"))))
      }),
    ("graft_gram_hash_seq",
      "graft_gram_hash_seq(text, n) - positional 60-bit token n-gram " +
        "hashes (span-dedup primitive; empty for texts shorter than " +
        "n tokens)",
      (args: Seq[Expression]) => {
        arity("graft_gram_hash_seq", args, 2)
        ColumnGlue.resolvedExpression(
          graft.functions.GramHashSeq(ColumnGlue.column(args.head),
            intArg(args(1), "n")))
      }),
    ("graft_gopher",
      "graft_gopher(text[, min_words[, max_words]]) - Gopher rule " +
        "battery struct (per-rule flags + keep)",
      (args: Seq[Expression]) => {
        arity("graft_gopher", args, 1, 2, 3)
        ColumnGlue.resolvedExpression(
          graft.pipeline.TextFns.gopherRules(
            ColumnGlue.column(args.head),
            if (args.size > 1) intArg(args(1), "min_words") else 50,
            if (args.size > 2) intArg(args(2), "max_words")
            else 100000))
      }),
    ("graft_dup_gram_frac",
      "graft_dup_gram_frac(text[, n]) - duplicate n-gram fraction " +
        "(within-document repetition signal)",
      (args: Seq[Expression]) => {
        arity("graft_dup_gram_frac", args, 1, 2)
        ColumnGlue.resolvedExpression(
          graft.functions.RepSignals(ColumnGlue.column(args.head),
            if (args.size > 1) intArg(args(1), "n") else 3)
            .getField("dup_frac"))
      }),
    ("graft_top_token_frac",
      "graft_top_token_frac(text) - most-frequent-token fraction",
      (args: Seq[Expression]) => {
        arity("graft_top_token_frac", args, 1)
        ColumnGlue.resolvedExpression(
          graft.functions.RepSignals(ColumnGlue.column(args.head), 2)
            .getField("top_frac"))
      }),
    ("graft_curate_signals",
      "graft_curate_signals(text) - fused curation kernel: " +
        "struct<quality, key> (quality score + md5-of-normalized " +
        "dedup key) in one pass over the text",
      (args: Seq[Expression]) => {
        arity("graft_curate_signals", args, 1)
        viaColumn(graft.functions.CurateSignals.apply)(args.head)
      }))

  /** Register the same functions (and the optimizer rules) on an
    * already-running session — the REPL/notebook path where
    * spark.sql.extensions wasn't set at startup.
    */
  def registerFunctions(spark: SparkSession): Unit = {
    graft.Sessions.installRules(spark)
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, usage, builder) =>
      reg.registerFunction(FunctionIdentifier(name), info(name, usage),
        builder)
    }
  }
}
