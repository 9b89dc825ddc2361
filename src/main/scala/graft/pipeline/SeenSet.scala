package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.BloomBits

/** Persistable Bloom "seen-set": the incremental-crawl / cross-batch
  * membership primitive. Build a fixed-size bit filter over a key
  * column (canonical URL, content hash, eval-set gram, …), persist it
  * as a tiny parquet artifact, and probe later batches with NO join
  * against the base corpus — a Bloom filter has no false negatives,
  * so `probe(...) = false` is a PROOF the key is new, and the only
  * cost of a false positive is re-processing an occasional row the
  * caller would have deduplicated anyway.
  *
  * Relationship to what Spark already has: Catalyst's runtime bloom
  * join and `BloomFilterAggregate` (used as the correctness-neutral
  * pre-filter inside [[Decontam.contamination]]) are QUERY-LOCAL —
  * built and dropped inside one plan, xxhash-based, not inspectable.
  * This module is the complementary ARTIFACT form: deterministic
  * md5-derived double hashing an external SQL engine replays
  * verbatim (the gate's DuckDB oracle recomputes every bit decision),
  * a write/open lifecycle like [[Indexes]], and a merge-free append
  * (bitwise OR) so the filter tracks an ever-growing crawl without
  * ever re-reading history.
  *
  * Hash family (the portable md5 contract of `Dedup.shingleHash`,
  * reference rad_mapper uses content hashing for its ingest identity
  * — builtin.cljc:2183):
  * h1 = fold of md5 hex digits 1..15, h2 = digits 16..30 (60-bit
  * each, exact in a long), Kirsch–Mitzenmacher double hashing:
  * position_i = (h1 mod m + i·(h2 mod m)) mod m for i in 0..j-1, and
  * shard = h1 mod nShards. Both build and probe compute these with
  * the SAME column expressions ([[keyed]]), entirely from built-in
  * functions — the probe path is whole-stage-codegen'd with no
  * custom expression at all; only the build's bitset OR needs the
  * bounded-buffer [[BloomBits]] aggregate.
  *
  * Scale shape (100 TB): one shard's bitset is mBits/8 bytes
  * (capped ≤ 2³⁰ bits = 128 MiB); total capacity scales through
  * `nShards`, and the probe is a broadcast hash join on the shard id
  * — each probe row touches exactly one bitset row, so a
  * 1000-executor probe of a multi-GiB filter broadcasts once and
  * scans locally. Sizing: for n keys at false-positive rate p,
  * total bits ≈ 1.44·n·log₂(1/p) and j ≈ 0.69·m·nShards/n; e.g.
  * 10¹⁰ URLs at p = 1% → ~12 GiB across ~96 shards of 128 MiB.
  * The build is one scan + a shard-keyed partial/final aggregate
  * whose buffer is fixed-size regardless of data volume; the append
  * path never touches the base corpus.
  */
object SeenSet {
  /** Hard cap per shard: 2³⁰ bits = 128 MiB bitset. Bigger filters
    * raise `nShards`, keeping each aggregation buffer and broadcast
    * row bounded.
    */
  val MaxShardBits: Int = 1 << 30

  private val MaskLits: Column =
    array((0 until 64).map(b => lit(1L << b)): _*)

  /** 60-bit folds of md5 hex digits 1..15 and 16..30. h1 is the shared
    * [[graft.functions.Md5Fold60]]; h2 reads the digits past it, so it
    * spells the chain out (`conv` parses ≤ 2⁶⁰ exactly; Spark md5 emits
    * lowercase hex, which conv accepts).
    */
  private def h1(k: Column): Column = graft.functions.Md5Fold60(k)
  private def h2(k: Column): Column =
    conv(substring(md5(k), 16, 15), 16, 10).cast("long")

  private def checkParams(mBits: Int, j: Int, nShards: Int): Unit = {
    require(mBits > 0 && mBits % 64 == 0 && mBits <= MaxShardBits,
      s"mBits must be a positive multiple of 64 ≤ $MaxShardBits, " +
        s"got $mBits")
    require(j >= 1 && j <= 64, s"nHashes must be in [1, 64], got $j")
    require(nShards >= 1, s"nShards must be ≥ 1, got $nShards")
  }

  /** Stage key → (k, shard, h1m, h2m): h1/h2 are computed ONCE in
    * their own projection (two md5 calls share CSE within a project,
    * but staging makes single evaluation structural). Null keys are
    * dropped on the build side; [[probe]] keeps them and yields NULL.
    */
  private def keyed(df: DataFrame, keyCol: String, mBits: Int,
      nShards: Int): DataFrame =
    df.select(col(keyCol).cast("string").as("k"))
      .filter(col("k").isNotNull)
      .select(col("k"),
        (h1(col("k")) % nShards).cast("int").as("shard"),
        (h1(col("k")) % mBits).as("h1m"),
        (h2(col("k")) % mBits).as("h2m"))

  /** position_i as a column, from staged h1m/h2m. i·h2m ≤ 63·2³⁰ —
    * exact in a long.
    */
  private def pos(h1m: Column, h2m: Column, i: Int, mBits: Int): Column =
    (h1m + lit(i.toLong) * h2m) % mBits

  /** Bit test against the bitset column, pure built-ins: variable
    * shifts aren't expressible (shiftright takes a literal), so the
    * mask comes from a 64-literal array.
    */
  private def bitSet(bits: Column, p: Column): Column =
    (element_at(bits, (p / 64).cast("int") + 1)
      .bitwiseAND(element_at(MaskLits, (p % 64).cast("int") + 1))) =!= 0

  /** Build the filter: one row PER SHARD, always all `nShards` rows
    * (empty shards carry a zero bitset, so probe joins always hit and
    * an empty build is a valid always-false filter). Columns:
    * (shard int, bits array<long>, n_keys long — non-null input rows,
    * an upper bound on distinct keys — m_bits, n_hashes, n_shards).
    */
  def build(df: DataFrame, keyCol: String, mBits: Int = 1 << 20,
      nHashes: Int = 4, nShards: Int = 1): DataFrame = {
    checkParams(mBits, nHashes, nShards)
    val kd = keyed(df, keyCol, mBits, nShards)
    val positions = array((0 until nHashes)
      .map(i => pos(col("h1m"), col("h2m"), i, mBits)): _*)
    val agg = kd.select(col("shard"), positions.as("ps"))
      .groupBy("shard")
      .agg(BloomBits(col("ps"), mBits).as("bits"),
        count(lit(1)).as("n_keys"))
    val shardFrame = df.sparkSession.range(nShards)
      .select(col("id").cast("int").as("shard"))
    shardFrame.join(agg, Seq("shard"), "left")
      .select(col("shard"),
        coalesce(col("bits"),
          array_repeat(lit(0L), mBits / 64)).as("bits"),
        coalesce(col("n_keys"), lit(0L)).as("n_keys"),
        lit(mBits).as("m_bits"), lit(nHashes).as("n_hashes"),
        lit(nShards).as("n_shards"))
  }

  /** Read (mBits, nHashes, nShards) off a filter frame — a bounded
    * driver action (≤ nShards rows; must agree across shards).
    */
  private def params(seen: DataFrame): (Int, Int, Int) = {
    val rows = seen.select("m_bits", "n_hashes", "n_shards")
      .distinct().collect()
    require(rows.length == 1,
      s"seen-set carries ${rows.length} distinct (m_bits, n_hashes, " +
        "n_shards) tuples; expected exactly 1")
    (rows(0).getInt(0), rows(0).getInt(1), rows(0).getInt(2))
  }

  /** Probe: adds `outCol` boolean — false = PROVABLY never built in
    * (no false negatives), true = maybe seen, NULL = null key (a null
    * key was never added, but callers deciding to skip work should
    * treat NULL explicitly — [[novel]] keeps such rows). The batch is
    * joined to the filter on the shard id only (broadcast,
    * nShards rows), then each of the j bit tests runs as plain
    * codegen'd column math.
    */
  def probe(batch: DataFrame, keyCol: String, seen: DataFrame,
      outCol: String = "maybe_seen"): DataFrame = {
    val (mBits, j, nShards) = params(seen)
    val k = col(keyCol).cast("string")
    val h1m = h1(k) % mBits
    val h2m = h2(k) % mBits
    val staged = batch
      .withColumn("__ss_shard",
        when(k.isNotNull, (h1(k) % nShards).cast("int")))
      .withColumn("__ss_h1m", h1m)
      .withColumn("__ss_h2m", h2m)
    val filterSide = seen.select(col("shard").as("__ss_shard"),
      col("bits").as("__ss_bits"))
    val tests = (0 until j).map { i =>
      bitSet(col("__ss_bits"),
        pos(col("__ss_h1m"), col("__ss_h2m"), i, mBits))
    }.reduce(_ && _)
    staged.join(broadcast(filterSide), Seq("__ss_shard"), "left")
      .withColumn(outCol,
        when(k.isNull, lit(null).cast("boolean"))
          .when(col("__ss_bits").isNull, lit(false))
          .otherwise(tests))
      .drop("__ss_shard", "__ss_h1m", "__ss_h2m", "__ss_bits")
  }

  /** Rows whose key is PROVABLY new (plus null-key rows, which the
    * filter cannot speak for — callers that drop them should filter
    * nulls explicitly first).
    */
  def novel(batch: DataFrame, keyCol: String, seen: DataFrame): DataFrame =
    probe(batch, keyCol, seen, "__ss_maybe")
      .filter(!coalesce(col("__ss_maybe"), lit(false)))
      .drop("__ss_maybe")

  /** Fold a new batch into an existing filter WITHOUT re-reading the
    * corpora the filter summarizes: build the batch's bitsets with
    * the same parameters and OR them in per shard (`n_keys` adds —
    * still an upper bound on distinct keys). Result-identical to a
    * rebuild over base ∪ batch because OR is associative and
    * positions depend only on the key.
    */
  def append(batch: DataFrame, keyCol: String, seen: DataFrame): DataFrame = {
    val (mBits, j, nShards) = params(seen)
    val delta = build(batch, keyCol, mBits, j, nShards)
      .select(col("shard"), col("bits").as("__d_bits"),
        col("n_keys").as("__d_keys"))
    seen.join(delta, Seq("shard"), "left")
      .select(col("shard"),
        zip_with(col("bits"),
          coalesce(col("__d_bits"),
            array_repeat(lit(0L), mBits / 64)),
          (a, b) => a.bitwiseOR(b)).as("bits"),
        (col("n_keys") + coalesce(col("__d_keys"), lit(0L)))
          .as("n_keys"),
        col("m_bits"), col("n_hashes"), col("n_shards"))
  }

  /** Persist / reopen the artifact. The artifact is nShards rows of
    * mBits/8 bytes — parquet is overkill but uniform with every
    * other index in the engine. The on-disk lifecycle is
    * [[graft.core.Artifacts]]' versioned-pointer layout: every
    * rewrite publishes a complete new version and atomically swaps
    * the pointer, so a crash mid-[[appendTo]] can never destroy the
    * filter (a killed writer leaves the previous version live;
    * CrashSafetySpec injects the kill points). Single writer per
    * artifact, as for the whole persisted-index family.
    */
  def write(df: DataFrame, keyCol: String, path: String,
      mBits: Int = 1 << 20, nHashes: Int = 4, nShards: Int = 1): Unit =
    graft.core.Artifacts.commit(
      build(df, keyCol, mBits, nHashes, nShards), path)

  /** Opens the live version (pre-versioning flat artifacts still
    * resolve — [[graft.core.Artifacts.open]]'s fallback).
    */
  def open(spark: SparkSession, path: String): DataFrame =
    graft.core.Artifacts.open(spark, path)

  /** Append a batch to a persisted filter: the merged frame reads
    * the live version and [[graft.core.Artifacts.commit]] publishes
    * it as the next one (the frame is nShards small rows — the
    * rewrite is O(filter), never O(corpus)). The old version stays
    * readable until the new pointer is committed.
    */
  def appendTo(spark: SparkSession, batch: DataFrame, keyCol: String,
      path: String): Unit =
    graft.core.Artifacts.commit(
      append(batch, keyCol, open(spark, path)), path)
}
