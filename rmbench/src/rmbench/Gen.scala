package rmbench

import scala.util.Random

/** Seeded input generators. Each returns plain text (JSON lines, XML)
  * or plain rows, so the same seed gives byte-identical inputs.
  */
object Gen {

  private def rnd(seed: Long, salt: Long): Random =
    new Random(seed * 1000003L + salt)

  private def jsonStr(s: String): String = Json.str(s)

  // ---------------------------------------------------------------- docs

  val Regions = IndexedSeq("north", "south", "east", "west", "central",
    "coastal")
  val Segments = IndexedSeq("retail", "wholesale", "public", "online")
  val Statuses = IndexedSeq("open", "shipped", "closed")

  /** Nested document collection of `rm_docs`: customers with a
    * `profile` struct, orders with an `items` array of structs. Skus are
    * distinct within an order and names are unique, so every express
    * key identifies one entry.
    */
  final case class Docs(customers: Seq[String], orders: Seq[String])

  def docs(seed: Long, nCustomers: Int, nOrders: Int): Docs = {
    val r = rnd(seed, 11)
    val customers = (0 until nCustomers).map { c =>
      s"""{"cid": $c, "name": ${jsonStr(s"c$c-${r.alphanumeric.take(5).mkString}")}, """ +
        s""""region": ${jsonStr(Regions(r.nextInt(Regions.size)))}, """ +
        s""""profile": {"segment": ${jsonStr(Segments(r.nextInt(Segments.size)))}, """ +
        s""""tier": ${r.nextInt(3)}}}"""
    }
    val orders = (0 until nOrders).map { o =>
      val skus = r.shuffle((0 until 60).toList).take(1 + r.nextInt(4))
      val items = skus.map(s =>
        s"""{"sku": "sku$s", "qty": ${1 + r.nextInt(9)}}""").mkString(", ")
      s"""{"oid": $o, "cid": ${r.nextInt(nCustomers)}, """ +
        s""""status": ${jsonStr(Statuses(r.nextInt(Statuses.size)))}, """ +
        s""""items": [$items]}"""
    }
    Docs(customers, orders)
  }

  // -------------------------------------------------------------- corpus

  /** Near-duplicate corpus of `curate_iterative`. Texts are [[Words]]
    * words; a planted cluster is a base text and variants that each
    * replace one word, so cluster members share about 90% of their
    * word 3-shingles and unrelated texts almost none.
    */
  final case class Corpus(texts: IndexedSeq[String],
      edges: Seq[(Long, Long, Long)], clusters: Int)

  val Words = 60
  private val Vocabulary = 4000

  private def word(r: Random): String = s"w${r.nextInt(Vocabulary)}"

  private def text(r: Random): Seq[String] = Seq.fill(Words)(word(r))

  private def variant(r: Random, base: Seq[String]): Seq[String] =
    base.updated(r.nextInt(base.size), word(r))

  def corpus(seed: Long, nDocs: Int, clusters: Int,
      clusterSize: Int): Corpus = {
    val r = rnd(seed, 23)
    val texts = Array.fill(nDocs)(text(r))
    val slots = r.shuffle((0 until nDocs).toList)
      .take(clusters * clusterSize).grouped(clusterSize)
    for (members <- slots) {
      val base = texts(members.head)
      members.tail.foreach(m => texts(m) = variant(r, base))
    }
    // two distinct out-links per doc
    val edges = (0 until nDocs).flatMap { s =>
      Iterator.continually(r.nextInt(nDocs)).filter(_ != s).distinct.take(2)
        .map(d => (s.toLong, d.toLong, 1L + r.nextInt(5))).toSeq
    }
    Corpus(texts.map(_.mkString(" ")).toIndexedSeq, edges, clusters)
  }

  /** The incoming slice of op `i`: half near-duplicates of corpus
    * texts, half fresh texts, each with two out-links into the corpus.
    * Ids never collide with the corpus or with another op's slice.
    */
  final case class Slice(docs: Seq[(Long, String)],
      edges: Seq[(Long, Long, Long)])

  def slice(seed: Long, corpus: Corpus, i: Int, size: Int): Slice = {
    val r = rnd(seed, 31L + 977L * i)
    val n = corpus.texts.size
    val base = 10000000L + (i.toLong + 1000L) * 1000L
    val docs = (0 until size).map { j =>
      val t =
        if (j % 2 == 0) variant(r, corpus.texts(r.nextInt(n)).split(' ').toSeq)
        else text(r)
      (base + j, t.mkString(" "))
    }
    val edges = docs.flatMap { case (id, _) =>
      val a = r.nextInt(n)
      Seq((id, a.toLong, 1L + r.nextInt(5)),
        (id, ((a + 1 + r.nextInt(n - 1)) % n).toLong, 1L + r.nextInt(5)))
    }
    Slice(docs, edges)
  }

  // -------------------------------------------------------------- ingest

  /** One `ingest_persist` batch: orders as JSON lines and customers as
    * one XML document (attributes and child elements).
    */
  final case class Batch(ordersJson: String, customersXml: String,
      nOrders: Int, nCustomers: Int)

  def batch(seed: Long, b: Int, nOrders: Int, nCustomers: Int): Batch = {
    val r = rnd(seed, 41L + 131L * b)
    val oid0 = b.toLong * 1000000L
    val orders = (0 until nOrders).map { o =>
      val skus = r.shuffle((0 until 40).toList).take(1 + r.nextInt(3))
      val items = skus.map(s =>
        s"""{"sku": "sku$s", "qty": ${1 + r.nextInt(9)}}""").mkString(", ")
      s"""{"oid": ${oid0 + o}, "cid": ${r.nextInt(nCustomers)}, """ +
        s""""status": ${jsonStr(Statuses(r.nextInt(Statuses.size)))}, """ +
        s""""total": ${r.nextInt(100000)}, "items": [$items]}"""
    }
    val customers = (0 until nCustomers).map { c =>
      s"""  <customer cid="$c" region="${Regions(r.nextInt(Regions.size))}">""" +
        s"<name>cust$c</name><segment>${Segments(r.nextInt(Segments.size))}" +
        "</segment></customer>"
    }
    Batch(orders.mkString("", "\n", "\n"),
      customers.mkString("<customers>\n", "\n", "\n</customers>\n"),
      nOrders, nCustomers)
  }
}
