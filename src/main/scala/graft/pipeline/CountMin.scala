package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch over token frequencies: a depth × width integer
  * counter matrix. Every token occurrence increments one cell per row
  * (col = seeded hash of (row, token) mod width); a point estimate is
  * the MIN over the depth addressed cells — always ≥ the true count,
  * within ε·total with probability 1−δ for width = e/ε, depth =
  * ln(1/δ) (Cormode & Muthukrishnan).
  *
  * Why it earns a place next to the HLL family (q_sketch_merge): the
  * sketch is CELL-WISE ADDITIVE, so shards build their own counters
  * where the data lives and the merge is a groupBy-sum of at most
  * depth × width rows per shard — the write-once/merge-at-query-time
  * shape that works at 100 TB where a global token groupBy would
  * shuffle the corpus vocabulary. All arithmetic is integer-exact
  * (engine-portable by construction).
  */
object CountMin {

  /** Cell column of (row, token): portable 60-bit md5 fold mod width. */
  def cell(row: Column, token: Column, width: Int, seed: Int): Column =
    graft.functions.Md5Fold60(concat(row.cast("string"),
      lit(":" + seed + ":"), token)) % width

  /** Sketch cells from a (shard, token, cnt) frame — the shared tail
    * of buildSharded and heavyHitters (which stages the tokenized
    * frame so candidates and cells come from one scan). */
  def cellsFromCounts(tc: DataFrame, depth: Int = 4, width: Int = 256,
      seed: Int = 9): DataFrame =
    tc.select(col("shard"), col("token"), col("cnt"),
        explode(lit((0 until depth).toArray)).as("row"))
      .groupBy(col("shard"), col("row"),
        cell(col("row"), col("token"), width, seed).as("col"))
      .agg(sum("cnt").as("cnt"))

  /** Per-shard sketch cells: (shard, row, col) → count. ONE corpus
    * scan — the shard key is a column, not a filter, so sharding adds
    * no extra passes; at cluster scale the shard key is whatever unit
    * owns the data (partition, ingest batch, day).
    */
  def buildSharded(df: DataFrame, textCol: String, shardCol: Column,
      depth: Int = 4, width: Int = 256, seed: Int = 9): DataFrame =
    cellsFromCounts(tokenCounts(df, textCol, shardCol),
      depth, width, seed)

  /** The (shard, token, cnt) tokenized frame both the sketch cells
    * and heavyHitters' candidates derive from — one definition so the
    * two sides can never tokenize differently. */
  private def tokenCounts(df: DataFrame, textCol: String,
      shardCol: Column): DataFrame =
    df.select(shardCol.as("shard"),
        explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .select(col("shard"), col("tc.token").as("token"),
        col("tc.cnt").as("cnt"))

  /** Unsharded build (a single logical shard). */
  def build(df: DataFrame, textCol: String, depth: Int = 4,
      width: Int = 256, seed: Int = 9): DataFrame =
    buildSharded(df, textCol, lit(0), depth, width, seed)
      .drop("shard")

  /** Merge sharded cells into one sketch: cell-wise sum — the CMS
    * additivity property. At most depth × width rows per shard cross
    * this exchange, never token-level data.
    */
  def merge(cells: DataFrame): DataFrame =
    cells.groupBy("row", "col").agg(sum("cnt").as("cnt"))

  /** Sketch-backed heavy hitters: per-shard top-`m` candidate tokens
    * (a WindowGroupLimit over per-shard counts — any token with
    * global share above 1/m must lead in at least one shard), then
    * the global top-`k` of the candidates ranked by their merged-CMS
    * estimates. The global token groupBy never happens: each shard
    * ranks its own counts where the data lives, and only ≤ shards×m
    * candidate tokens plus the depth×width cell matrix cross an
    * exchange — the frequent-items shape that works when the
    * vocabulary itself is shuffle-prohibitive.
    */
  def heavyHitters(df: DataFrame, textCol: String, shardCol: Column,
      m: Int = 50, k: Int = 25, depth: Int = 4, width: Int = 256,
      seed: Int = 9): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tc = graft.core.Caches.stage(
      tokenCounts(df, textCol, shardCol))
    val cand = tc.groupBy("shard", "token").agg(sum("cnt").as("c"))
      .withColumn("rn", row_number().over(Window.partitionBy("shard")
        .orderBy(col("c").desc, col("token"))))
      .filter(col("rn") <= m)
      .select("token").distinct()
    val sketch = merge(cellsFromCounts(tc, depth, width, seed))
    estimate(sketch, cand, depth, width, seed)
      .orderBy(col("est").desc, col("token")).limit(k)
  }

  /** Point estimates for a frame of query tokens (column `token`):
    * min over the depth addressed cells; absent cells are true zeros.
    * The sketch is at most depth × width rows → broadcast side.
    */
  def estimate(sketch: DataFrame, tokens: DataFrame, depth: Int = 4,
      width: Int = 256, seed: Int = 9): DataFrame =
    tokens.select(col("token"),
        explode(lit((0 until depth).toArray)).as("row"))
      .withColumn("col", cell(col("row"), col("token"), width, seed))
      .join(broadcast(sketch), Seq("row", "col"), "left")
      .groupBy("token")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
}
