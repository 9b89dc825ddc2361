package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record linkage / entity resolution over structured records: the
  * blocking → verify → cluster pipeline (Fellegi–Sunter shape) that
  * deduplicates a REGISTRY (customers, suppliers, addresses) rather
  * than a text corpus — the structured twin of [[Dedup]].
  *
  * Scale shape (100 TB): all-pairs comparison is quadratic and never
  * runs; candidates come only from records sharing a BLOCKING key
  * (any of several — OR-blocking unions the key spaces, each key
  * tagged so values never collide across keys), each key bucket
  * capped like every LSH family here (`maxBucket`: a degenerate key
  * — empty string, a default value — would otherwise fan out its
  * bucket quadratically). The verify stage runs the edit-distance
  * predicate on candidate pairs only, and entity formation is the
  * same edge-touched-nodes-only connected components
  * [[Dedup.dupGroups]] the near-dup family uses. Every stage is
  * engine-portable arithmetic (levenshtein agrees across engines —
  * gate p_er replays the whole pipeline in SQL).
  */
object Linkage {

  /** Tagged (t, v) blocking-key structs for `keys`. */
  private def taggedKeys(keys: Seq[Column]): Seq[Column] = {
    require(keys.nonEmpty, "need at least one blocking key")
    keys.zipWithIndex.map { case (k, i) =>
      struct(lit(i).as("t"), k.cast("string").as("v"))
    }
  }

  /** All i<j pairs of a sorted bucket array, each built by `mk(x, y)`
    * — pair generation stays INSIDE the bucket row, so the quadratic
    * fan-out happens in one projection instead of a bucket self-join.
    * `sorted` MUST be a bound column (not an inline array_sort):
    * HOF lambdas re-evaluate argument expressions per element, so an
    * inline sort would run once per OUTER element — O(n² log n) per
    * bucket (measured 7× slower on the p_er shape).
    *
    * Memory envelope: the whole O(n²) pair array materializes inside
    * ONE row before the explode, so `maxBucket` bounds row size — at
    * the default 1000 that is ~500k structs per bucket row (hundreds
    * of MB when pairs carry name strings). Callers raising maxBucket
    * far above the default should keep pairs ids-only and join names
    * back instead.
    */
  private def bucketPairs(sorted: Column,
      mk: (Column, Column) => Column): Column =
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + lit(2), size(sorted)), y => mk(x, y))))

  /** Candidate pairs (id1 < id2, distinct) from OR-blocking: records
    * sharing ANY of the `keys` values. NULL keys never block (an
    * unknown field is evidence of nothing).
    *
    * Plan shape (optimization round 17): one groupBy(t, v) collecting
    * each bucket's distinct ids, pairs generated in-row over the
    * sorted bucket array. The previous form — distinct over the
    * exploded keys, a count window per (t, v), and a bucket SELF-JOIN
    * — was three extra exchanges plus a join whose output (every
    * candidate pair) went through the shuffle; here only bucket rows
    * (≤ maxBucket ids each) are shuffled and the quadratic fan-out is
    * a projection. The bucket-size cap and the id1 < id2 / distinct
    * contract are unchanged (size(collect_set) counts exactly what
    * the count window counted: distinct ids per (t, v)).
    */
  def candidates(df: DataFrame, idCol: String, keys: Seq[Column],
      maxBucket: Int = 1000): DataFrame = {
    val buckets = df.select(col(idCol).as("id"),
        explode(array(taggedKeys(keys): _*)).as("b"))
      .filter(col("b.v").isNotNull)
      .groupBy(col("b.t").as("t"), col("b.v").as("v"))
      .agg(array_sort(collect_set(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    val pairs = bucketPairs(col("ids"),
      (x, y) => struct(x.as("id1"), y.as("id2")))
    buckets.select(explode(pairs).as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .distinct()
  }

  /** Verified link pairs: candidates whose `nameCol` edit distance is
    * ≤ `maxDist`. Names ride through the blocking buckets with their
    * ids (registry ids are unique — the linkage contract), so the
    * verify runs straight off the exploded pair — no join back to the
    * registry — and, because `levenshtein` is deterministic, BEFORE
    * the cross-key distinct: the distinct then shuffles only the
    * verified links (a few per record) instead of every candidate
    * pair (quadratic in bucket size). Same output set as
    * verify-after-distinct.
    */
  def linkPairs(df: DataFrame, idCol: String, nameCol: String,
      keys: Seq[Column], maxDist: Int,
      maxBucket: Int = 1000): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val buckets = df.select(col(idCol).as("id"),
        col(nameCol).as("nm"),
        explode(array(taggedKeys(keys): _*)).as("b"))
      .filter(col("b.v").isNotNull)
      .groupBy(col("b.t").as("t"), col("b.v").as("v"))
      .agg(array_sort(collect_set(struct(col("id"), col("nm"))))
        .as("rs"))
      .filter(size(col("rs")).between(2, maxBucket))
    val pairs = bucketPairs(col("rs"),
      (x, y) => struct(
        x.getField("id").as("id1"), y.getField("id").as("id2"),
        x.getField("nm").as("n1"), y.getField("nm").as("n2")))
    buckets.select(explode(pairs).as("p"))
      // an id that appears with two distinct names forms two structs
      // in the bucket's collect_set; drop the resulting self-pairs so
      // the old bucket-self-join's strict id1 < id2 guarantee holds
      // even when the unique-registry-id contract is violated
      .filter(col("p.id1") =!= col("p.id2"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"),
        levenshtein(col("p.n1"), col("p.n2")).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Entity assignment: connected components over the verified link
    * graph — (id, entity) where entity = min linked id; unlinked
    * records are their own entity.
    */
  def entities(df: DataFrame, idCol: String, nameCol: String,
      keys: Seq[Column], maxDist: Int,
      maxBucket: Int = 1000): DataFrame =
    Dedup.dupGroups(df, idCol,
        linkPairs(df, idCol, nameCol, keys, maxDist, maxBucket))
      .withColumnRenamed("comp", "entity")
}
