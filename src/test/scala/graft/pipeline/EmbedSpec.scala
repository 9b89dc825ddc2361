package graft.pipeline

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class EmbedSpec extends SparkSpec {

  test("hashedDocVector matches a driver-side replica of the " +
      "md5 bucket/sign formula") {
    import spark.implicits._
    def bucketSign(tok: String, dim: Int): (Int, Long) = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val b = (java.lang.Long.parseLong(hex.substring(0, 15), 16)
        % dim).toInt
      val s = if (Character.digit(hex.charAt(15), 16) % 2 == 0) 1L
        else -1L
      (b, s)
    }
    val df = Seq((1L, "alpha alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val expected = Seq("alpha" -> 2L, "beta" -> 1L, "gamma" -> 1L,
        "delta" -> 1L)
      .map { case (t, tf) =>
        val (b, s) = bucketSign(t, 8); b -> s * tf }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      .filter(_._2 != 0L)
    val out = Embed.hashedDocVector(df, "doc_id", "text", dim = 8)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(out == expected)
  }

  test("hashed vectors feed the embedding family end to end") {
    val dim = 64
    val doc = Tables.documents(spark, sf()).limit(100)
    // the dense rendering of the sparse form: absent buckets are 0,
    // and a document with no tokens gets the zero vector, not no row
    val sparse = Embed.hashedDocVector(doc, "doc_id", "text", dim)
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("b"), col("v"))))
        .as("m"))
    val vecs = doc.select("doc_id").join(sparse, Seq("doc_id"), "left")
      .select(col("doc_id"), transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i), lit(0L)))
        .cast("array<double>").as("v"))
    val (assigned, centers) =
      Cluster.kcenterGreedy(vecs, "doc_id", "v", k = 3)
    assert(centers.size == 3)
    assert(assigned.count() == 100)
    graft.core.Caches.releaseAll(spark)
  }
}
