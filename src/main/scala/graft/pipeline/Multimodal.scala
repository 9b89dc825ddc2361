package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines: media as opaque `binary` columns with typed metadata,
  * decode/feature-extract as batched per-partition transforms.
  *
  * The decode step is STUBBED (deterministic byte-derived features) —
  * no media libraries exist in this container. Everything around the
  * stub is real and tested: the schema, the batched mapPartitions shape
  * (batch size = what a vectorized native decoder would consume), the
  * frame-sampling explode, and the partitioning behavior (features
  * carry the row id so downstream joins stay hash-partitioned).
  */
object Multimodal {

  /** Deterministic fake media column derived from a text column (test
    * fixture builder — stands in for `spark.read.format("binaryFile")`).
    */
  def packFakeMedia(text: Column): Column = struct(
    text.cast("binary").as("data"),
    struct(
      lit("fake/raw").as("format"),
      (length(text) % 640 + 32).cast("int").as("width"),
      (length(text) % 480 + 32).cast("int").as("height"),
      (length(text).cast("long") * 10).as("duration_ms")).as("meta"))

  /** STUB decoder: deterministic features from payload codepoint
    * stripes. A real implementation would hand each batch to a native
    * decoder (JNI / FFI) with exactly this signature — Array of
    * payloads in, Array of feature vectors out.
    *
    * The fake is chosen to be oracle-reproducible: per-codepoint
    * contributions are position-independent hashes (no sequential
    * state), slot sums stay integral (< 2^24, exact in Float), so a
    * plain SQL engine computes identical features.
    */
  private[pipeline] def stubDecodeBatch(payloads: Seq[Array[Byte]],
      dim: Int): Seq[Array[Float]] =
    payloads.map { bytes =>
      val sums = new Array[Long](dim)
      val cps = new String(bytes,
        java.nio.charset.StandardCharsets.UTF_8).codePoints.toArray
      var i = 0
      while (i < cps.length) {
        sums(i % dim) += (cps(i).toLong * 2654435761L +
          i.toLong * 40503L) % 1000L
        i += 1
      }
      sums.map(_.toFloat)
    }

  /** Batched feature extraction over a binary column: the Scala
    * equivalent of `mapInPandas` — rows stream through in batches of
    * `batch`, preserving partitioning (no shuffle).
    */
  def extractFeatures(df: DataFrame, idCol: String, mediaCol: String,
      dim: Int = 16, batch: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(s"$mediaCol.data"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batch).flatMap { chunk =>
          val feats = stubDecodeBatch(chunk.map(_._2), dim)
          chunk.map(_._1).zip(feats)
        }
      }
      .toDF(idCol, "features")
  }

  /** Video frame sampling: one row per sampled frame timestamp —
    * a pure explode over the metadata (decoding each frame would go
    * through `extractFeatures` on the frame payloads).
    */
  def sampleFrames(df: DataFrame, idCol: String, mediaCol: String,
      everyMs: Long): DataFrame =
    df.select(col(idCol),
        col(s"$mediaCol.meta.duration_ms").as("duration_ms"),
        posexplode(sequence(lit(0L), col(s"$mediaCol.meta.duration_ms"),
          lit(everyMs))))
      .select(col(idCol), col("pos").as("frame_idx"),
        col("col").as("ts_ms"))

  /** Perceptual dHash of a media struct's payload
    * ([[graft.functions.DHashWords]]): 64 comparison bits over the
    * (stub-)decoded 9×8 luma grid, packed in [[Ann.binEncode]]'s
    * 4×16-bit word layout so the whole binary-ANN toolchain (Hamming
    * kernels, word-blocked pair joins, persisted bit indexes) applies
    * to images unchanged.
    */
  def dHash(media: Column): Column =
    graft.functions.DHashWords(media.getField("data"))

  /** [[dHash]] with the REAL ImageIO decoder (round 17): actual
    * JPEG/PNG payloads in, the same 4×16-bit word layout out, so the
    * whole dedup toolchain applies to real corpora unchanged. NULL
    * for undecodable payloads — the production route is the FromSigs
    * family ([[imageDupPairsFromSigs]], the persisted media index):
    * compute `dHashImageIO` ONCE into a signature frame at ingest,
    * drop the nulls explicitly (`sigs.filter($"dh".isNotNull)` —
    * corrupt bytes), and feed the block join / index writer from
    * that. The oracle gates keep the stub kernel: a SQL oracle can
    * replay integer stripe sums, not a codec; ImageHashSpec pins this
    * path on in-test-encoded PNG/JPEG fixtures instead.
    */
  def dHashImageIO(media: Column): Column =
    graft.functions.DHashWordsImageIO(media.getField("data"))

  /** Image-level near-duplicate pairs by perceptual hash: documents
    * whose dHashes differ in at most `maxHamming` bits.
    *
    * Scale shape: ONE scan computes the 8-byte signature per row
    * (at scale it is precomputed at write time like every other
    * retrieval artifact); candidates come from the PIGEONHOLE block
    * join — a pair at Hamming ≤ r over 4 words must agree EXACTLY on
    * some word whenever r < 4, so the join is equi on (word index,
    * word value), never all-pairs — and each candidate is verified by
    * the codegen'd popcount ([[Ann.hammingWords]]). Identical
    * topology to [[Dedup.simhashPairsMd5FromFps]], which is the
    * point: image dedup is text dedup with a different kernel.
    */
  def imageDupPairs(df: DataFrame, idCol: String, mediaCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    wordBlockPairsFromSigs(sigFrame(df, idCol, mediaCol,
      graft.functions.DHashWords(_)), maxHamming, maxBucket)

  /** [[imageDupPairs]] over an ALREADY-COMPUTED signature frame
    * `(id, dh array<int>)` — for callers that also project the
    * signature (the gates do): the kernel runs once, not once per
    * consumer. The MinHash-family FromIndex precedent.
    */
  def imageDupPairsFromSigs(sigs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    wordBlockPairsFromSigs(sigs, maxHamming, maxBucket)

  /** Acoustic fingerprint of a media struct's payload
    * ([[graft.functions.AudioFpWords]]): 64 consecutive-frame energy
    * comparisons over the (stub-)decoded PCM, packed in
    * [[Ann.binEncode]]'s 4×16-bit word layout — images and audio
    * share one near-dup toolchain, differing only in the kernel.
    */
  def audioFp(media: Column): Column =
    graft.functions.AudioFpWords(media.getField("data"))

  /** Audio-level near-duplicate pairs by acoustic fingerprint: same
    * pigeonhole word-block topology as [[imageDupPairs]] (see there
    * for the scale shape), keyed on [[audioFp]].
    */
  def audioDupPairs(df: DataFrame, idCol: String, mediaCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    wordBlockPairsFromSigs(sigFrame(df, idCol, mediaCol,
      graft.functions.AudioFpWords(_)), maxHamming, maxBucket)

  /** [[audioDupPairs]] from a precomputed `(id, dh)` frame. */
  def audioDupPairsFromSigs(sigs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame =
    wordBlockPairsFromSigs(sigs, maxHamming, maxBucket)

  /** Per-frame perceptual fingerprints of a media struct's payload
    * ([[graft.functions.VideoFpHashes]]): the video near-dup key —
    * one dHash per sampled frame, folded to a (hi, lo) 2×32-bit join
    * key. One fused kernel call per row (the MinhashSignature
    * precedent: a per-frame HOF over a custom expression would fall
    * out of codegen).
    */
  def videoFrameHashes(media: Column, frameLen: Int = 128): Column =
    graft.functions.VideoFpHashes(media.getField("data"), frameLen)

  /** Video-level near-duplicate pairs by shared frame fingerprints
    * (content-ID shape): two videos match when at least `minShared`
    * DISTINCT frame hashes coincide exactly — robust to trims,
    * re-cuts, and concatenation, because frames match individually
    * (a whole-stream hash would miss every partial overlap).
    *
    * Scale shape: ONE scan computes all frame hashes per row (at
    * scale the fingerprint column is precomputed at write time like
    * every retrieval artifact), candidates come from the inverted
    * (hi, lo)→video join — equi on the frame hash, never all-pairs —
    * capped per hash value at `maxBucket` videos (an N-video
    * still-intro/black-frame cluster would otherwise fan out N²/2;
    * the same skew guard every LSH family here carries; real
    * pipelines additionally drop low-entropy frames). The shared
    * count aggregates pair rows that are already joined — no second
    * corpus scan; per-video frame counts ride the fingerprint frame.
    *
    * @return (id1, id2, shared, n1, n2) with id1 < id2, shared ≥
    *         minShared; n1/n2 = distinct frame-hash counts, so
    *         shared/least(n1,n2) is the containment score
    */
  def videoDupPairs(df: DataFrame, idCol: String, mediaCol: String,
      frameLen: Int = 128, minShared: Int = 2,
      maxBucket: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val sigs = Dedup.spread(df.select(col(idCol).as("id"),
        col(s"$mediaCol.data").as("__d")))
      .select(col("id"),
        explode(graft.functions.VideoFpHashes(col("__d"), frameLen))
          .as("fh"))
      // a repeated frame inside ONE video (looping background) must
      // count once, or self-repetition inflates the shared count
      .select(col("id"), col("fh.hi").as("hi"), col("fh.lo").as("lo"))
      .distinct()
    val withN = sigs.withColumn("n",
      count(lit(1)).over(Window.partitionBy("id")))
    val capped = withN.withColumn("__b",
        count(lit(1)).over(Window.partitionBy("hi", "lo")))
      .filter(col("__b") <= maxBucket)
      .drop("__b")
    val l = capped.as("l")
    val r = capped.as("r")
    l.join(r, col("l.hi") === col("r.hi") &&
        col("l.lo") === col("r.lo") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id1"), col("r.id").as("id2"),
        col("l.n").as("n1"), col("r.n").as("n2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select("id1", "id2", "shared", "n1", "n2")
  }

  private def sigFrame(df: DataFrame, idCol: String, mediaCol: String,
      kernel: Column => Column): DataFrame =
    Dedup.spread(df.select(col(idCol).as("id"),
        col(s"$mediaCol.data").as("__d")))
      .select(col("id"), kernel(col("__d")).as("dh"))

  /** Shared near-dup pair topology over any 4×16-bit-word signature
    * frame `(id, dh)`: candidates come from the PIGEONHOLE block join
    * — a pair at Hamming ≤ r over 4 words must agree EXACTLY on some
    * word whenever r < 4, so the join is equi on (word index, word
    * value), never all-pairs — capped per (word, value) block at
    * `maxBucket` rows (a corpus with an N-sized exact-duplicate
    * cluster would otherwise fan that block out to N²/2 rows; the
    * same skew guard every LSH family here carries), and each
    * candidate is verified by the codegen'd popcount
    * ([[Ann.hammingWords]]). Identical topology to
    * [[Dedup.simhashPairsMd5FromFps]], which is the point: media
    * dedup is text dedup with a different kernel.
    */
  private def wordBlockPairsFromSigs(sigs: DataFrame,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxHamming >= 0 && maxHamming < 4,
      s"pigeonhole blocking over 4 words needs maxHamming < 4, " +
        s"got $maxHamming")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val chunks = sigs.select(col("id"), col("dh"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("chunk"),
            element_at(col("dh"), i + 1).as("val"))): _*)).as("c"))
      .select(col("id"), col("dh"), col("c.chunk"), col("c.val"))
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy("chunk", "val")))
      .filter(col("__n") <= maxBucket)
      .drop("__n")
    val l = chunks.as("l")
    val r = chunks.as("r")
    l.join(r,
        col("l.chunk") === col("r.chunk") &&
        col("l.val") === col("r.val") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        Ann.hammingWords(col("l.dh"), col("r.dh")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxHamming)
  }

  /** Resize metadata transform (the byte payload would be rewritten by
    * the decoder; the metadata math is the real part).
    */
  def resizeMeta(media: Column, maxSide: Int): Column = {
    val w = media.getField("meta").getField("width")
    val h = media.getField("meta").getField("height")
    val scale = when(greatest(w, h) > maxSide,
      lit(maxSide).cast("double") / greatest(w, h)).otherwise(lit(1.0d))
    struct(
      media.getField("data").as("data"),
      struct(
        media.getField("meta").getField("format").as("format"),
        (w * scale).cast("int").as("width"),
        (h * scale).cast("int").as("height"),
        media.getField("meta").getField("duration_ms").as("duration_ms"))
        .as("meta"))
  }
}
