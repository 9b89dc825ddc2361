package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}
import java.sql.Timestamp

/** Structured Streaming operators (SURVEY.md §2.12 green-field: the
  * reference has no streaming; these are the streaming shapes of the
  * batch operators so a pipeline can run over `readStream` unchanged).
  *
  * All transforms take and return streaming DataFrames; sources/sinks
  * stay with the caller (`readStream.parquet/kafka` → `writeStream`).
  */
object EventStreams {

  /** Tumbling-window event rollup with a watermark — the streaming twin
    * of RelationalQueries.qEventsHourly. Late data beyond the watermark
    * is dropped; state is bounded.
    */
  def hourlyRollup(events: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming twin of the `$reduceByKey` keyed fold
    * ([[graft.lang.Builtins]]): per (tumbling window, key), the
    * values collected within the watermark horizon are sorted
    * ascending and folded with the caller's Column kernel under the
    * batch operator's exact seeding rule — explicit `init`, else the
    * first element via try_element_at (so an all-null group folds to
    * null, never an ANSI error). Fold order is pinned by the sort,
    * making the result partitioning- and arrival-order-independent
    * within a window: a closed window's rows equal the batch
    * `$reduceByKey` on the same slice (StreamingSpec pins it).
    * State per open (window, key) is the value list — bounded by the
    * watermark horizon like every windowed aggregation here.
    */
  def reduceByKeyStream(events: DataFrame, keyCol: String,
      valCol: String,
      fold: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column,
      init: Option[org.apache.spark.sql.Column] = None,
      windowDur: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    def step(a: org.apache.spark.sql.Column,
        x: org.apache.spark.sql.Column) = fold(a, x).cast("double")
    val folded = init match {
      case Some(z) => aggregate(col("__vs"), z.cast("double"), step)
      case None => aggregate(
        slice(col("__vs"), lit(2),
          greatest(size(col("__vs")) - 1, lit(0))),
        try_element_at(col("__vs"), lit(1)).cast("double"), step)
    }
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur).as("w"), col(keyCol))
      .agg(sort_array(collect_list(col(valCol))).as("__vs"))
      .select(col("w.start").as("window_start"), col(keyCol),
        folded.as("value"))
  }

  /** Streaming exact dedup on a key with bounded state: duplicates
    * within the watermark horizon are dropped (the streaming form of
    * Dedup.exactDedup).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  final case class ChunkIn(doc_id: Long, idx: Long, n_tokens: Long,
    shard: Int)
  final case class PackState(bin: Long, fill: Long)
  final case class PackOut(doc_id: Long, idx: Long, n_tokens: Long,
    shard: Int, bin: Long)

  /** Streaming twin of TextFns.assembleBatchesStrict (doc-order
    * form): per-shard next-fit batch assembly with the open bin's
    * (id, fill) carried across micro-batches — a continuously fed
    * trainer never sees a batch over `capacity`. State is O(1) PER
    * SHARD (two longs), regardless of stream length — the smallest
    * state bound in this module. Chunks sort by (doc_id, idx) within
    * each micro-batch; stream == batch when chunks arrive in doc
    * order across batches (StreamingSpec pins it), which a file/queue
    * source emitting chunker output in order provides.
    */
  def packStream(chunks: Dataset[ChunkIn],
      capacity: Int): Dataset[PackOut] = {
    import chunks.sparkSession.implicits._
    def update(shard: Int, it: Iterator[ChunkIn],
        state: GroupState[PackState]): Iterator[PackOut] = {
      var s = state.getOption.getOrElse(PackState(0L, 0L))
      val out = it.toSeq.sortBy(c => (c.doc_id, c.idx)).map { c =>
        // the batch twin cannot receive an oversized chunk (ChunkSizes
        // bounds n_tokens ≤ window and assembleBatchesStrict requires
        // capacity ≥ window); an arbitrary stream input could, which
        // would silently emit an over-capacity "strict" batch AND
        // diverge from the batch assignment — fail it instead
        require(c.n_tokens <= capacity,
          s"chunk (${c.doc_id}, ${c.idx}) has ${c.n_tokens} tokens " +
            s"> capacity $capacity; strict packing cannot hold it")
        var bin = s.bin
        var fill = s.fill
        if (fill + c.n_tokens > capacity) { bin += 1; fill = 0L }
        fill += c.n_tokens
        s = PackState(bin, fill)
        PackOut(c.doc_id, c.idx, c.n_tokens, shard, bin)
      }
      state.update(s)
      out.iterator
    }
    chunks.groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(update)
  }

  final case class SessionEvent(user_id: Long, ts: Timestamp,
    value: Double)
  final case class SessionState(start: Long, end: Long, n: Long,
    sum: Double)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long, sum_value: Double)

  /** Sessionization with custom state (`flatMapGroupsWithState`): a
    * session closes after `gapMs` of inactivity per user; closed
    * sessions emit, open ones live in versioned state with an event-time
    * timeout — state stays bounded by active users.
    */
  def sessionize(events: Dataset[SessionEvent],
      gapMs: Long = 30 * 60 * 1000L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    def update(userId: Long, it: Iterator[SessionEvent],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      def out(s: SessionState) = SessionOut(userId,
        new Timestamp(s.start), new Timestamp(s.end), s.n, s.sum)
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(out(s))
      } else {
        val sorted = it.toSeq.sortBy(_.ts.getTime)
        var closed = List.empty[SessionOut]
        var cur = state.getOption
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.end <= gapMs =>
              cur = Some(SessionState(s.start, math.max(s.end, t),
                s.n + 1, s.sum + e.value))
            case Some(s) =>
              closed ::= out(s)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.end + gapMs)
        }
        closed.reverseIterator
      }
    }
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  final case class FunnelEvent(user_id: Long, ts: Timestamp,
    etype: String)
  final case class FunnelBuf(buf: List[(Int, Long)])
  final case class FunnelOut(user_id: Long, steps_reached: Int,
    t0: Timestamp)

  /** Streaming twin of [[graft.operators.Funnel.funnel]]: per-user
    * step-typed events buffer in state until the event-time watermark
    * passes t0 + window (or one window past the latest buffered event
    * while step 1 hasn't arrived), then the SAME earliest-chain
    * verdict the batch operator computes emits once and the state
    * clears. Buffering (rather than incremental chain state) is what
    * makes the verdict exact under out-of-order arrival: a late
    * earlier `view` re-anchors t0, which invalidates every later
    * chain decision — only the buffered replay gets that right. State
    * is bounded per user: once step 1 anchors, only the anchor and
    * events inside its window survive the per-batch prune (one window
    * of step-typed events); before it anchors, only events a future
    * anchor could still admit survive (the watermark horizon) and the
    * verdict waits until the user goes quiet for a window. The
    * non-step firehose is filtered before grouping.
    *
    * Contract: emits one verdict per user with ≥ 1 step-typed event
    * (the batch operator also rows users who never hit any step —
    * a streaming no-data verdict would need a trigger, not an event).
    * Chain arithmetic runs in epoch micros, mirroring the batch
    * operator's unix_micros comparisons. A step event arriving AFTER
    * the user's verdict emitted (past the window but above the
    * watermark) starts a FRESH funnel and can emit a second verdict
    * row — the bounded-state trade: a tombstone per closed user would
    * grow with distinct users forever. Batch over the same union
    * anchors on the global earliest step-1 event instead; consumers
    * reconcile by taking the first verdict per user.
    */
  def funnelStream(events: Dataset[FunnelEvent], steps: Seq[String],
      windowMs: Long, watermark: String = "1 hour"): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty, "need at least one funnel step")
    require(steps.distinct.size == steps.size,
      "funnel steps must be distinct event types")
    val idx = steps.zipWithIndex.toMap
    val windowUs = windowMs * 1000L
    def us(t: Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    def verdict(buf: List[(Int, Long)]): (Int, Option[Long]) = {
      val byStep = buf.groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).sorted }
      val t0 = byStep.get(0).map(_.head)
      var prev = t0
      var reached = if (t0.isDefined) 1 else 0
      var i = 1
      while (i < steps.length && prev.isDefined) {
        prev = byStep.get(i).flatMap(
          _.find(t => t > prev.get && t - t0.get <= windowUs))
        if (prev.isDefined) reached += 1
        i += 1
      }
      (reached, t0)
    }
    def tsOf(u: Long): Timestamp = {
      val t = new Timestamp(u / 1000L)
      t.setNanos((u % 1000000L * 1000L).toInt)
      t
    }
    def update(userId: Long, it: Iterator[FunnelEvent],
        state: GroupState[FunnelBuf]): Iterator[FunnelOut] = {
      if (state.hasTimedOut) {
        val (reached, t0) = verdict(state.get.buf)
        state.remove()
        Iterator.single(FunnelOut(userId, reached,
          t0.map(tsOf).orNull))
      } else {
        val merged = state.getOption.map(_.buf).getOrElse(Nil) ++
          it.map(e => (idx(e.etype), us(e.ts)))
        val t0 = merged.filter(_._1 == 0).map(_._2).minOption
        // bound the buffer: an event stays admissible iff it can still
        // serve SOME chain — the current anchor's window, or a FUTURE
        // anchor's (a late step-1 event must lie above the watermark,
        // and chain members must be strictly after it, so everything
        // above the watermark stays; an event at or before the current
        // anchor can still be replayed under a later-arriving EARLIER
        // anchor — dropping those broke exact re-anchoring, caught in
        // review). Both cases stay bounded: window span + watermark
        // horizon.
        val wmUs = state.getCurrentWatermarkMs * 1000L
        val buf = t0 match {
          case Some(a) => merged.filter(e =>
            (e._1 == 0 && e._2 == a) ||
              (e._2 > a && e._2 - a <= windowUs) ||
              e._2 > wmUs)
          case None => merged.filter(_._2 > wmUs)
        }
        state.update(FunnelBuf(buf))
        val horizonUs =
          t0.getOrElse(buf.map(_._2).maxOption.getOrElse(wmUs)) +
            windowUs
        // ceil to ms and stay strictly above the current watermark
        // (setTimeoutTimestamp rejects past timestamps)
        state.setTimeoutTimestamp(math.max(
          (horizonUs + 999L) / 1000L, state.getCurrentWatermarkMs + 1L))
        Iterator.empty
      }
    }
    events.filter(col("etype").isin(steps: _*))
      .as[FunnelEvent]
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** Stream-stream event-time interval join (the click↔impression
    * shape): both sides watermarked and the join condition bounds the
    * event-time distance, so join state on BOTH sides is bounded and
    * purged by the watermark — the only stream-stream join form that
    * survives unbounded inputs.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      within: String = "15 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r, expr(
      s"""l.$key = r.$key AND
         |r.ts >= l.ts AND r.ts <= l.ts + interval $within""".stripMargin))
  }

  /** Stream-static enrichment: broadcast the dimension to every
    * micro-batch — no streaming state at all.
    */
  def enrich(stream: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Stateless streaming text curation: the scan-local pipeline
    * operators (quality score, language id, PII scrub, content hash)
    * apply to a readStream unchanged — pure projections, no state, no
    * watermark. The streaming twin of the batch curation front-end.
    */
  def curateStream(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import graft.pipeline.TextFns
    docs
      .withColumn("quality", TextFns.qualityScore(col(textCol)))
      // model-based margin beside the heuristic score: linearQualityCol
      // is scan-local (no shuffle, no state), so it runs unchanged
      // under readStream — same values as the batch operator
      .withColumn("cls_margin",
        TextFns.linearQualityCol(col(textCol)).getField("margin"))
      .withColumn("lang_guess", TextFns.languageId(col(textCol)))
      .withColumn("clean_text", TextFns.redact(col(textCol)))
      .withColumn("chash", TextFns.contentHash(col(textCol)))
  }

  /** Streaming crawl-ingestion front-end: HTML→text extraction
    * ([[graft.pipeline.TextFns.htmlToText]]) plus token / WordPiece
    * length accounting as a stateless readStream projection — the
    * WARC tail of the pipeline running continuously. Same kernels as
    * the batch operators, no state, no watermark (stream == batch
    * pinned by StreamingSpec).
    */
  def extractStream(docs: DataFrame, htmlCol: String = "html",
      wpVocab: Seq[String] = Nil,
      urlCol: Option[String] = None): DataFrame = {
    import graft.pipeline.TextFns
    val base0 = docs
      .withColumn("text", TextFns.htmlToText(col(htmlCol)))
      .withColumn("n_tokens", TextFns.tokenCount(col("text")))
    // the crawl front-end's URL half: canonical fetch key + domain,
    // also stateless projections
    val base = urlCol.fold(base0)(u => base0
      .withColumn("canon_url", TextFns.canonicalizeUrl(col(u)))
      .withColumn("domain", TextFns.urlDomain(col(u))))
    if (wpVocab.isEmpty) base
    else base.withColumn("n_pieces",
      size(TextFns.wordpieceEncode(col("text"), wpVocab)))
  }

  /** LM quality scoring under readStream: apply a PRE-TRAINED unigram
    * model (Importance.trainUnigram on a batch reference corpus) as
    * the scan-local cross-entropy projection — model as plan
    * literals, no state, no shuffle, same values as the batch
    * operator (StreamingSpec pins the twin).
    */
  def lmScoreStream(docs: DataFrame, vocab: Seq[(String, Long)],
      total: Long, textCol: String = "text"): DataFrame = {
    val ce = graft.pipeline.Importance.crossEntropyCol(
      col(textCol), vocab, total)
    docs.withColumn("__ce", ce)
      .withColumn("cross_entropy", col("__ce.cross_entropy"))
      .withColumn("lm_tokens", col("__ce.n_tokens"))
      .drop("__ce")
  }

  /** DSIR importance scoring under readStream: the trained fixed-point
    * ratio table (Importance.importanceWeightsSliced's histogram pass
    * over a batch corpus, exposed via trainDsir) bakes into the plan
    * as a reference object, and scoring is the native DsirScore
    * kernel — scan-local, no state, no shuffle, same exact long
    * scores as the batch operator (StreamingSpec pins the twin).
    */
  def dsirScoreStream(docs: DataFrame, ratios: Array[Long],
      gram: Int = 2, textCol: String = "text"): DataFrame =
    docs.withColumn("score_fix",
        graft.functions.DsirScore(col(textCol), gram, ratios.length,
          ratios))
      .withColumn("log_weight",
        col("score_fix") / lit(graft.pipeline.Importance.FixScale))

  /** PCA projection under readStream: a batch-trained
    * [[graft.pipeline.Pca.PcaModel]] bakes its mean/component into
    * the plan as literals and scoring is the scan-local fixed-point
    * centered dot product — no state, no shuffle, the same exact
    * values as the batch operator (StreamingSpec pins the twin).
    * The embedding-drift monitoring shape: train the component on
    * yesterday's corpus, stream today's projections.
    */
  def pcaScoreStream(rows: DataFrame,
      model: graft.pipeline.Pca.PcaModel,
      vecCol: String = "embedding"): DataFrame =
    rows.filter(col(vecCol).isNotNull)
      .withColumn("proj",
        graft.pipeline.Pca.project(col(vecCol), model))

  /** Language-ID under readStream with a pre-trained n-gram model
    * (Importance.trainLangId on a labeled batch corpus): the scoring
    * kernel is scan-local, so classification streams with no state
    * or shuffle — same predictions as the batch operator
    * (StreamingSpec pins the twin).
    */
  def langIdStream(docs: DataFrame, flat: Array[Long],
      langs: Seq[String], gram: Int = 3,
      textCol: String = "text"): DataFrame = {
    val dim = flat.length / langs.length
    docs.withColumn("__s",
        graft.functions.CharGramScores(col(textCol), gram, dim, flat,
          langs.length))
      .withColumn("pred_lang",
        element_at(lit(langs.toArray),
          array_position(col("__s"), array_max(col("__s")))
            .cast("int")))
      .withColumn("lang_score_fix", array_max(col("__s")))
      .drop("__s")
  }

  /** Incremental count-min sketch under readStream: per micro-batch,
    * explode each document's token cells and maintain running
    * cell-wise sums — an update-mode streaming aggregation whose
    * STATE is bounded by construction at depth × width rows (the
    * sketch itself), regardless of stream length or vocabulary size.
    * That bound is the whole point: a streaming token groupBy holds
    * vocabulary-sized state, the sketch holds a constant-size matrix.
    * Cell-wise additivity makes the running table at any point equal
    * to CountMin.build over everything ingested so far (StreamingSpec
    * pins stream == batch after multiple batches).
    */
  def cmsStream(docs: DataFrame, textCol: String = "text",
      depth: Int = 4, width: Int = 256, seed: Int = 9): DataFrame =
    docs.select(explode(
        graft.functions.TokenCounts(col(textCol))).as("tc"))
      .select(col("tc.token").as("token"), col("tc.cnt").as("cnt"),
        explode(lit((0 until depth).toArray)).as("row"))
      .groupBy(col("row"),
        graft.pipeline.CountMin.cell(col("row"), col("token"), width,
          seed).as("col"))
      .agg(sum("cnt").as("cnt"))

  /** Streaming histogram sketch: a running (key, bin) count
    * aggregation. State is |keys| × |bins| cells — value-domain-
    * sized, never row-count-sized. The running aggregation equals
    * HistSketch.build over everything ingested so far; to READ that
    * equality out of a sink, either use complete mode (what
    * StreamingSpec pins against a memory sink) or an upsert sink
    * keyed on (key, bin) under update mode — a plain append of
    * update-mode output retains stale cell versions. NULLs are
    * dropped as in the batch build.
    */
  def histStream(events: DataFrame, keyCol: String, valueCol: String,
      width: Double): DataFrame =
    events.filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol).as("key"),
        graft.pipeline.HistSketch.bin(col(valueCol), width).as("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** Streaming data-quality monitor: the same one-scan Checks suite
    * as the batch gate as a running aggregation — state is ONE row of
    * counters, and the report equals Checks.run over everything
    * ingested so far when read through complete mode (what
    * StreamingSpec pins) or an upsert sink keyed on check_name.
    * Unique() needs a distinct aggregation, which streaming forbids —
    * rejected here; dedupStream and the batch sweep own that axis.
    */
  def checksStream(df: DataFrame,
      checks: Seq[graft.pipeline.Checks.Check]): DataFrame = {
    require(!checks.exists(_.isInstanceOf[graft.pipeline.Checks.Unique]),
      "Unique() is not streamable (distinct aggregation); " +
        "run it in the batch sweep")
    graft.pipeline.Checks.run(df, checks)
  }

  /** Streaming near-dup suppression with bounded state: drop any
    * document whose band-0 MinHash bucket was already seen inside the
    * watermark horizon. The bucket key collides for documents whose
    * shingle Jaccard clears the band's collision threshold (s^r for
    * one band of r rows), so this is CANDIDATE-level suppression —
    * the cheap in-flight guard; the verified batch pass
    * (Dedup.incrementalDupPairsMd5 against the corpus index) remains
    * the exact authority. State = one bucket hash per surviving doc
    * in the horizon, purged by the watermark.
    */
  def nearDupDropStream(docs: DataFrame, textCol: String = "text",
      tsCol: String = "ts", watermark: String = "1 hour",
      n: Int = 3, k: Int = 32, b: Int = 8): DataFrame =
    docs
      // null text → null bucket, and dropDuplicatesWithinWatermark
      // treats nulls as EQUAL — without the uuid fallback every
      // null-text doc after the first in the horizon would be
      // silently dropped as a "duplicate" of the previous one
      .withColumn("__fp", coalesce(
        element_at(
          graft.functions.MinhashBandBuckets(col(textCol), n, k, b), 1)
          .getField("bucket"),
        expr("uuid()")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Stateless streaming ANN probe against a PERSISTED binary index
    * ([[graft.pipeline.Indexes.writeBinaryIndex]]): each micro-batch
    * of query rows runs the exact batch probe
    * (Indexes.binaryTopKIndexed) via foreachBatch and hands the
    * ranked result to `sink`. A probe carries no cross-batch state —
    * queries are independent of each other — so there is nothing for
    * mapGroupsWithState to hold; and the per-query top-k ranking pass
    * is precisely the operation append-mode streaming cannot express,
    * which is what foreachBatch exists for. stream == batch by
    * construction (StreamingSpec pins the union-of-batches equality),
    * and the corpus side stays the 8-byte-per-row index scan — the
    * stream never re-encodes the corpus.
    *
    * `selfExclude` follows [[graft.pipeline.Indexes.binaryTopKIndexed]]'s
    * contract: a stream of EXTERNAL queries whose id space may overlap
    * the corpus's (both 0-based is common) must pass `false`, or a
    * corpus row sharing a query's id is silently dropped from that
    * query's shortlist. The `true` default is for re-probing corpus
    * members against their own index.
    *
    * Returns the configured writer; callers set trigger/checkpoint
    * and `.start()`.
    */
  def annProbeStream(queries: DataFrame, index: DataFrame,
      vectors: DataFrame, qId: String, cId: String, vecCol: String,
      k: Int, shortlist: Int = 50, dim: Int = 64,
      selfExclude: Boolean = true)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(graft.pipeline.Indexes.binaryTopKIndexed(batch, index,
        vectors, qId, cId, vecCol, k, shortlist, dim, selfExclude), id)
    }

  /** Streaming media-ingest probe against a persisted
    * [[graft.pipeline.Indexes.writeMediaIndex]] artifact: each
    * micro-batch of media rows decodes/hashes ONLY itself and probes
    * the corpus index for perceptual near-dups (the image-ingest
    * dedup loop). foreachBatch for the same reason as
    * [[annProbeStream]]: the probe's pushed-key pruning and per-pair
    * popcount verify are batch-shaped, and a probe carries no
    * cross-batch state — the artifact is the state. Batch authority:
    * `Indexes.mediaDupPairsIndexed` itself.
    */
  def mediaProbeStream(media: DataFrame, batchId: String,
      mediaCol: String, index: DataFrame, kernel: String = "dhash",
      maxHamming: Int = 3)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    media.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(graft.pipeline.Indexes.mediaDupPairsIndexed(batch, batchId,
        mediaCol, index, kernel, maxHamming), id)
    }

  /** The media twin of [[winnowIngestStream]] — the full streaming
    * image/audio-ingest dedup LOOP against a persisted media
    * signature index: each micro-batch decodes/hashes ONLY itself,
    * probes the CURRENT index for perceptual near-dups
    * ([[mediaProbeStream]]'s stateless probe), sinks the verified
    * (batch_id, corpus_id, dist) pairs, and folds the batch's
    * rows into the artifact with the batch-id-keyed append
    * ([[graft.pipeline.Indexes.appendMediaIndexBatch]]), so later
    * batches dedup against earlier ingests, not just the seed corpus.
    *
    * Unlike the MinHash loop there is NO side docs artifact: the
    * verify is a popcount over signatures stored IN the index, so the
    * index alone is the state — bounded by accepted-batch signatures
    * (4 rows × 20 bytes per media row), with per-batch cost =
    * |batch| decodes + one pruned index probe. Signatures are
    * row-local (no corpus statistic), so the append is merge-free and
    * probe-after-append == probe-against-rebuild. Exactly-once
    * folding and the applied-batch short-circuit follow
    * [[winnowIngestStream]]'s argument verbatim.
    */
  def mediaIngestStream(media: DataFrame, idCol: String,
      mediaCol: String, indexPath: String, kernel: String = "dhash",
      maxHamming: Int = 3, maxBucket: Int = 1000)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    ingestLoop(media, indexPath, sink) { b =>
      graft.pipeline.Indexes.mediaDupPairsIndexed(b, idCol, mediaCol,
        graft.pipeline.Indexes.openMediaIndex(b.sparkSession, indexPath),
        kernel, maxHamming, maxBucket)
    } { (accepted, id) =>
      graft.pipeline.Indexes.appendMediaIndexBatch(accepted, idCol,
        mediaCol, indexPath, id, kernel)
    }

  /** The exactly-once scaffold of the three ingest loops (media,
    * winnow, MinHash; the argument is at [[winnowIngestStream]]): a
    * batch the index at `indexPath` already marks applied is skipped;
    * otherwise the batch is persisted, `probe` finds its candidates
    * against the current artifacts (persisted too), `sink` receives
    * them, and `append` folds every row of the batch into the
    * artifacts keyed by batch id.
    */
  private def ingestLoop(stream: DataFrame, indexPath: String,
      sink: (DataFrame, Long) => Unit)(probe: DataFrame => DataFrame)(
      append: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!graft.pipeline.Indexes.batchApplied(batch.sparkSession,
          indexPath, id)) {
        val b = batch.persist()
        try {
          val cands = probe(b).persist()
          try {
            sink(cands, id)
            append(b, id)
          } finally cands.unpersist()
        } finally b.unpersist()
      }
      ()
    }

  /** Streaming ingest-dedup probe against a persisted winnow index
    * ([[graft.pipeline.Indexes.writeWinnowIndex]]): each arriving
    * micro-batch fingerprints ONLY itself and probes the corpus
    * artifact for near-dup candidates
    * (Indexes.winnowCandidatesIndexed — pushed-In or semi-join
    * pruning, probe-time boilerplate cap). foreachBatch for the same
    * reason as [[annProbeStream]]: a probe carries no cross-batch
    * state — the ARTIFACT is the state, bounded by the corpus, and
    * per-batch cost is |batch|-fingerprints-bounded, so the stream
    * runs indefinitely with zero state-store growth. Accepted batches
    * fold into the artifact with `Indexes.appendWinnowIndex` on
    * whatever cadence the pipeline re-opens it (append == rebuild by
    * the winnow index's merge-free contract). Batch authority:
    * `Indexes.winnowCandidatesIndexed` itself; StreamingSpec pins the
    * union-of-batches equality.
    */
  def winnowProbeStream(docs: DataFrame, idCol: String,
      textCol: String, index: DataFrame, k: Int = 4, w: Int = 8,
      minShared: Int = 2, maxBucket: Int = 1000)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(graft.pipeline.Indexes.winnowCandidatesIndexed(batch, idCol,
        textCol, index, k, w, minShared, maxBucket), id)
    }

  /** The full streaming ingest-dedup LOOP against a winnow artifact:
    * each micro-batch (1) probes the CURRENT index for near-dup
    * candidates ([[winnowProbeStream]]'s stateless probe), (2) sinks
    * them, and (3) folds the batch's docs into the artifact with
    * `Indexes.appendWinnowIndex`, so later batches
    * dedup against earlier ones, not just the initial corpus.
    *
    * State stays BOUNDED exactly as in the probe-only form: there is
    * no Spark state store at all — the artifact on disk is the
    * state, it grows only by accepted-batch fingerprints (the same
    * rows a batch rebuild would hold), and each batch's cost is
    * |batch| fingerprints + one index probe. Re-opening the index per
    * batch re-lists the parquet directory, which is what makes the
    * append visible — appendWinnowIndex is merge-free (fingerprints
    * are row-local), so probe-after-append == probe-against-rebuild.
    *
    * Batch authority (StreamingSpec pins it): the SEQUENTIAL replay —
    * for each batch in order, `Indexes.winnowCandidatesIndexed`
    * against the index-so-far, then `appendWinnowIndex`. Within-batch
    * self-duplicates are out of scope on both sides (a batch never
    * probes itself), matching the incremental operator's contract.
    *
    * EXACTLY-ONCE folding (round-16 ADVICE): foreachBatch is
    * at-least-once, so the append is batch-id-keyed
    * ([[graft.pipeline.Indexes.appendWinnowIndexBatch]]) and an
    * already-applied batch short-circuits the whole body — the append
    * runs strictly after the sink, so an applied marker proves the
    * first attempt's sink completed; re-probing would now see the
    * batch's own fingerprints and emit self-candidates the replay
    * never produces.
    */
  def winnowIngestStream(docs: DataFrame, idCol: String,
      textCol: String, indexPath: String, k: Int = 4, w: Int = 8,
      minShared: Int = 2, maxBucket: Int = 1000)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    ingestLoop(docs, indexPath, sink) { b =>
      graft.pipeline.Indexes.winnowCandidatesIndexed(b, idCol, textCol,
        graft.pipeline.Indexes.openWinnowIndex(b.sparkSession, indexPath),
        k, w, minShared, maxBucket)
    } { (accepted, id) =>
      graft.pipeline.Indexes.appendWinnowIndexBatch(accepted, idCol,
        textCol, indexPath, id, k, w)
    }

  /** The MinHash twin of [[winnowIngestStream]] — the full streaming
    * ingest-dedup LOOP against a persisted band index: each
    * micro-batch (1) signs itself and probes the CURRENT index,
    * Jaccard-verifying candidates against corpus text read only for
    * matched ids ([[dupPairsProbeStream]]'s stateless probe), (2)
    * sinks the verified (new_id, corpus_id, jaccard) pairs, and (3)
    * folds the batch's docs into BOTH artifacts — band
    * buckets into the index, (id, text) rows into the corpus-docs
    * artifact the verify reads — so later batches dedup against
    * earlier ones, not just the initial corpus.
    *
    * State is bounded exactly as in winnow's loop: no state store,
    * the two on-disk artifacts ARE the state, growing only by
    * accepted batches. Both appends are merge-free (signatures are
    * md5-derived and row-local — no corpus statistic to rebuild), so
    * probe-after-append == probe-against-rebuild. The SIMHASH
    * fingerprint artifact could ride the same append (simhashMd5 is
    * equally row-local); what it lacks is a band-bucket probe — its
    * candidate join is chunk-block equality over Hamming
    * neighborhoods ([[graft.pipeline.Dedup.simhashPairsMd5Against]]),
    * which reads the whole fingerprint frame per batch rather than
    * pruned buckets, so we keep it batch-shaped until a blocked
    * layout earns its keep.
    *
    * Crash-safety ordering (round-16 ADVICE, as in winnow's loop):
    * the INDEX append is last and is the applied-marker — docs land
    * first, so a crash between the two retries into a no-op docs
    * append (batch-keyed) followed by the index append; a marker
    * present proves sink and both artifacts completed, and the batch
    * short-circuits.
    *
    * Seeding: `Indexes.writeMinhashIndex(corpus, ...)` at
    * `indexPath`; the same corpus's `(idCol, textCol)` projection
    * written at `docsPath` (column names must match the stream's).
    * Batch authority (StreamingSpec): sequential replay of
    * `Indexes.incrementalDupPairsIndexed` + both appends.
    */
  def minhashIngestStream(docs: DataFrame, idCol: String,
      textCol: String, indexPath: String, docsPath: String,
      n: Int = 3, k: Int = 32, b: Int = 8, threshold: Double = 0.8,
      maxBucket: Int = 1000)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    ingestLoop(docs, indexPath, sink) { bdf =>
      val spark = bdf.sparkSession
      graft.pipeline.Indexes.incrementalDupPairsIndexed(bdf, idCol,
        graft.pipeline.Indexes.openMinhashIndex(spark, indexPath),
        graft.pipeline.Indexes.openIngestDocs(spark, docsPath),
        idCol, textCol, n, k, b, threshold, maxBucket)
    } { (accepted, id) =>
      // docs first, the index last: the index append is the
      // applied-marker
      graft.pipeline.Indexes.appendIngestDocs(
        accepted.select(col(idCol), col(textCol)), docsPath, id)
      graft.pipeline.Indexes.appendMinhashIndexBatch(accepted, idCol,
        textCol, indexPath, id, n, k, b)
    }

  /** Streaming ingest-dedup probe against a persisted MinHash band
    * index ([[graft.pipeline.Indexes.writeMinhashIndex]]): each
    * micro-batch computes its own signatures, probes the corpus band
    * buckets, and Jaccard-verifies candidates against corpus text
    * read only for matched ids
    * (Indexes.incrementalDupPairsIndexed). Stateless by artifact,
    * exactly as [[winnowProbeStream]]; self-pairs are excluded by the
    * probe's contract (a re-ingested doc is not its own duplicate).
    * Batch authority: `Indexes.incrementalDupPairsIndexed`;
    * StreamingSpec pins the union-of-batches equality.
    */
  def dupPairsProbeStream(docs: DataFrame, idCol: String,
      index: DataFrame, corpus: DataFrame, corId: String,
      textCol: String, n: Int = 3, k: Int = 32, b: Int = 8,
      threshold: Double = 0.8, maxBucket: Int = 1000)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(graft.pipeline.Indexes.incrementalDupPairsIndexed(batch,
        idCol, index, corpus, corId, textCol, n, k, b, threshold,
        maxBucket), id)
    }

  /** Crawl-frontier novelty on a stream: probe each arriving key
    * against a PERSISTED Bloom seen-set
    * ([[graft.pipeline.SeenSet]]) and keep only rows the filter
    * PROVES new (no false negatives — a dropped row was definitely
    * built into the filter... or is one of its bounded false
    * positives, the deliberate trade). Completely STATELESS: the
    * artifact carries the history, the probe is a stream-static
    * broadcast join on the shard id plus codegen'd bit tests, so
    * append mode needs no watermark and no state store — contrast
    * [[nearDupDropStream]], which suppresses within a bounded
    * horizon it must keep state for. The batch authority is
    * `SeenSet.novel` itself (the spec pins stream == batch);
    * between micro-batches the filter frame stays fixed — fold
    * accepted batches in with `SeenSet.appendTo` on whatever cadence
    * the pipeline re-opens it.
    */
  def novelStream(docs: DataFrame, keyCol: String,
      seen: DataFrame): DataFrame =
    graft.pipeline.SeenSet.novel(docs, keyCol, seen)
}
