package graft.tools

import org.apache.spark.sql.{Column, SaveMode}
import org.apache.spark.sql.functions._

/** Deterministic sf1-shaped testdata generator for LOCAL scale
  * rehearsals (VERDICT r8 item 2). Mirrors the driver tables'
  * schemas/distributions (TESTDATA.md; inspected at sf0.1) at a
  * configurable multiple of sf0.1, every column a pure function of
  * the row id mixed with seed 42 — regeneration is bit-identical.
  * Small dims (region/nation/part/supplier) are copied from sf0.1.
  * NOT an oracle substitute: correctness stays gated on the driver's
  * sf0.01 tables; this exists to watch the scale knobs (LSH bucket
  * caps, CC rounds, cascade shuffles, window skew) under 10× volume.
  *
  * Usage: sbt "runMain graft.tools.GenScale /tmp/graft_sf1 10"
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val src = "/root/testdata/sf0.1"
    val spark = graft.Sessions.local()

    def h(c: Column, salt: Int): Column =
      abs(hash(c, lit(42), lit(salt)).cast("long"))

    // ---- documents: word-salad texts with a ~0.4% exact-duplicate
    // rate (doc copies its predecessor). en/zh rows use the sf0.1
    // ASCII vocabulary; de/fr/es rows draw GENUINE accented
    // extended-Latin vocabulary (umlauts, ß, acute/grave/circumflex,
    // ñ, ç, œ — all already-lowercase NFC), so the Unicode oracle
    // path (\p{L} tokenization, toksU/swCountU, ICU lower, the
    // tokenizer-training tie orders) runs against real non-ASCII
    // input instead of being dead code until the first German corpus
    // (VERDICT r9 item 5). Each list carries that language's
    // stopwords so lang-id has signal.
    val vocabEn = Seq("spark", "line", "column", "order", "batch",
      "part", "small", "sort", "fast", "value", "scan", "query", "agg",
      "table", "hash", "stream", "filter", "big", "merge", "group",
      "join", "vector", "customer", "slow", "key", "a", "the",
      "index")
    val vocabDe = Seq("über", "größe", "straße", "müller", "schön",
      "für", "während", "dreißig", "änderung", "öl", "bäcker", "zwölf",
      "der", "die", "das", "und", "ist", "nicht", "mit", "wörter",
      "grün", "käse", "füße", "weiß", "heiß", "spaß", "münchen",
      "tabelle")
    val vocabFr = Seq("café", "déjà", "être", "français", "élève",
      "forêt", "où", "ça", "garçon", "hôtel", "naïve", "noël", "père",
      "mère", "été", "à", "le", "la", "les", "et", "très", "après",
      "première", "côté", "fenêtre", "cœur", "sœur", "août")
    val vocabEs = Seq("niño", "señor", "mañana", "está", "días",
      "corazón", "aquí", "también", "además", "año", "español",
      "educación", "música", "rápido", "fácil", "él", "ella", "según",
      "más", "qué", "montaña", "pequeño", "jardín", "número", "camión",
      "avión", "lápiz", "inglés")
    def varr(ws: Seq[String]) = array(ws.map(lit): _*)
    val nDocs = 5000L * mult
    val dupOf = when(h(col("id"), 1) % 250 === 0 && col("id") > 0,
      col("id") - 1).otherwise(col("id"))
    val langCol = when(h(col("__seed"), 3) % 100 < 41, "en")
      .when(h(col("__seed"), 3) % 100 < 56, "de")
      .when(h(col("__seed"), 3) % 100 < 71, "zh")
      .when(h(col("__seed"), 3) % 100 < 86, "es").otherwise("fr")
    val langVocab = when(col("lang") === "de", varr(vocabDe))
      .when(col("lang") === "fr", varr(vocabFr))
      .when(col("lang") === "es", varr(vocabEs))
      .otherwise(varr(vocabEn))
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"), dupOf.as("__seed"))
      .withColumn("lang", langCol)
      .withColumn("text", array_join(transform(
        sequence(lit(0L), lit(15L) + h(col("__seed"), 2) % 45L),
        i => element_at(langVocab,
          (abs(hash(col("__seed"), i, lit(42)).cast("long")) % 28 + 1)
            .cast("int"))),
        " "))
      .withColumn("source",
        concat(lit("src"), (h(col("doc_id"), 4) % 20).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.repartition(4 * mult / 10 max 2).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/documents.parquet")

    // ---- embeddings: 64-dim float vectors clustered around 10
    // label centroids with hash noise
    val nVec = 2000L * mult
    val emb = spark.range(nVec)
      .select(col("id").as("vec_id"),
        (h(col("id"), 5) % 10).cast("int").as("label"))
      .withColumn("embedding", transform(sequence(lit(0), lit(63)),
        i => (cos(col("label") * 1.7 + i * lit(0.3)) +
          (abs(hash(col("vec_id"), i, lit(42)).cast("long")) % 600 - 300)
            / lit(1000.0))
          .cast("float")))
      .select("vec_id", "embedding", "label")
    emb.repartition(2 * mult / 10 max 2).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/embeddings.parquet")

    // ---- events: 30-day window, zipf-ish users, 5 event types
    val nEv = 100000L * mult
    val microsStart = 1704067200000000L // 2024-01-01 UTC
    val ev = spark.range(nEv)
      .select(col("id").as("event_id"),
        // 64-bit hash: the 32-bit h() maxes at 2^31 µs (~36 min), which
        // silently compressed the intended 30-day window ~1200x and
        // made every fixed-width interval join quadratically dense at
        // scale (q_range_join: 8.4B candidate pairs at sf1)
        // pmod, not abs(...)%: abs(Long.MinValue) is still negative
        // (ADVICE r12), which would put a timestamp before the window
        timestamp_micros(lit(microsStart) +
          pmod(xxhash64(col("id"), lit(42), lit(6)),
            lit(30L * 86400 * 1000000L))).as("ts"),
        (h(col("id"), 7) % (1500L * mult)).as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("error"),
          lit("purchase"), lit("scroll")),
          (h(col("id"), 8) % 5 + 1).cast("int")).as("event_type"),
        round((h(col("id"), 9) % 50000L) / 100.0, 2).as("value"),
        concat(lit("{\"k\": "), (h(col("id"), 10) % 100).cast("string"),
          lit("}")).as("props"))
    ev.repartition(8 * mult / 10 max 2).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/events.parquet")

    // ---- lineitem / orders / customer at TPC-H-ish ratios; part/
    // supplier keys stay at sf0.1 cardinality (dims are copied)
    val nLi = 600000L * mult
    val li = spark.range(nLi).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      (h(col("id"), 11) % 20000L).as("l_partkey"),
      (h(col("id"), 12) % 1000L).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h(col("id"), 13) % 50L + 1).cast("double").as("l_quantity"),
      round((h(col("id"), 14) % 9000000L + 100000L) / 100.0, 2)
        .as("l_extendedprice"),
      ((h(col("id"), 15) % 11L) / lit(100.0)).as("l_discount"),
      ((h(col("id"), 16) % 9L) / lit(100.0)).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (h(col("id"), 17) % 3 + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (h(col("id"), 18) % 2 + 1).cast("int")).as("l_linestatus"),
      timestamp_micros(lit(microsStart) +
        // 64-bit hash: 32-bit h() % 365d-of-µs caps at ~36 min (the
        // q_range_join event-span bug, same class); pmod for the
        // abs(Long.MinValue) edge
        pmod(xxhash64(col("id"), lit(42), lit(19)),
          lit(365L * 86400 * 1000000L))).as("l_shipdate"))
    li.repartition(16 * mult / 10 max 4).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/lineitem.parquet")

    val nOrd = 150000L * mult
    val ord = spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      (h(col("id"), 20) % (15000L * mult)).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        (h(col("id"), 21) % 3 + 1).cast("int")).as("o_orderstatus"),
      round((h(col("id"), 22) % 50000000L + 100000L) / 100.0, 2)
        .as("o_totalprice"),
      timestamp_micros(lit(microsStart) +
        pmod(xxhash64(col("id"), lit(42), lit(23)),
          lit(365L * 86400 * 1000000L))).as("o_orderdate"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
        lit("4-NOT SPECIFIED"), lit("5-LOW")),
        (h(col("id"), 24) % 5 + 1).cast("int")).as("o_orderpriority"))
    ord.repartition(8 * mult / 10 max 2).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/orders.parquet")

    val nCust = 15000L * mult
    val cust = spark.range(nCust).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id").cast("string")).as("c_name"),
      (h(col("id"), 25) % 25).cast("int").as("c_nationkey"),
      round((h(col("id"), 26) % 1100000L - 100000L) / 100.0, 2)
        .as("c_acctbal"),
      element_at(array(lit("AUTOMOBILE"), lit("BUILDING"),
        lit("FURNITURE"), lit("HOUSEHOLD"), lit("MACHINERY")),
        (h(col("id"), 27) % 5 + 1).cast("int")).as("c_mktsegment"))
    cust.repartition(2 * mult / 10 max 2).write.mode(SaveMode.Overwrite)
      .parquet(s"$out/customer.parquet")

    // small dims: copy sf0.1 bytes as-is
    Seq("region", "nation", "part", "supplier").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write
        .mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
    }
    println(s"[genscale] wrote ${mult}x sf0.1 tables to $out")
    spark.stop()
  }
}
