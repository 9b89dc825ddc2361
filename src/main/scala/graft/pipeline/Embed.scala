package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model-free document embeddings: the text→vector stage that lets
  * the embedding family (k-means bucketing, k-center coresets,
  * [[Ann]] retrieval, SemDeDup) run on a corpus with no trained
  * encoder available — the fastText-style baseline posture.
  */
object Embed {
  /** Feature-hashed document embedding (Weinberger et al., ICML 2009
    * hashing trick, signed variant): each token's count lands in
    * bucket md5-fold(token) % dim with a ±1 sign from the 16th md5
    * hex digit, summed per (doc, bucket). The model-free way to give
    * every document a dense vector IN-ENGINE — the resulting frame
    * feeds the whole embedding family (k-means topic bucketing,
    * k-center coresets, [[graft.pipeline.Ann]] retrieval, SemDeDup)
    * when no trained encoder is available, exactly how fastText-style
    * baselines bootstrap corpus curation.
    *
    * Scale shape: ONE corpus scan (the fused TokenCounts kernel, one
    * explode of per-doc DISTINCT tokens) and ONE (doc, bucket) hash
    * aggregation that partial-aggs map-side. Components stay exact
    * integers (signed term frequencies), so any engine replays them;
    * consumers needing unit vectors normalize the dense form
    * downstream.
    *
    * @return sparse long form (doc_id, b, v) — zero buckets absent
    */
  def hashedDocVector(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    require(dim >= 1, s"need dim >= 1, got $dim")
    val tok = df.select(col(idCol).as("doc_id"),
      explode(graft.functions.TokenCounts(col(textCol))).as("tc"))
      .select(col("doc_id"), col("tc.token").as("token"),
        col("tc.cnt").as("tf"))
    val bucket = (conv(org.apache.spark.sql.functions.substring(
      md5(col("token")), 1, 15), 16, 10).cast("long") % dim).cast("int")
    val sign = when(conv(org.apache.spark.sql.functions.substring(
      md5(col("token")), 16, 1), 16, 10).cast("long") % 2 === 0,
      lit(1L)).otherwise(lit(-1L))
    tok.select(col("doc_id"), bucket.as("b"),
        (sign * col("tf")).as("sv"))
      .groupBy("doc_id", "b")
      .agg(sum("sv").as("v"))
      // exact sign cancellations would otherwise surface as explicit
      // zero components — the sparse contract is "zero means absent"
      .filter(col("v") =!= 0L)
  }

}
