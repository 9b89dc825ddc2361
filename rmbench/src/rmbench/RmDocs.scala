package rmbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `rm_docs`: one op is `RM.queryFrame` of one program over a nested
  * document collection, evaluated in full through the noop sink.
  *
  * The collection is passed twice: as struct documents ($C, $O) and,
  * shredded in set-up with `Shred.shred`, as triples ($CT, $OT). The
  * three programs each join both sources and deep-merge the binding
  * sets with a 2- to 4-level `$reduce(…, express{})`; two use constant
  * attributes only, one a variable-attribute `[?e ?a ?v]` pattern, so
  * both `query{}` tiers run. Ops cycle through the three programs (an
  * odd count keeps the median inside one program's latencies).
  *
  * Output check: an order-insensitive fingerprint of the result,
  * observed on the noop write itself, against the same fingerprint of
  * a plain-DataFrame formulation over the struct documents, computed
  * once in set-up.
  */
final class RmDocs(ctx: Ctx) extends Workload(ctx) {
  val Customers = 600
  val Orders = 2400

  private val r = new scala.util.Random(ctx.seed * 31L + 5L)
  private val status = Gen.Statuses(r.nextInt(Gen.Statuses.size))
  private val region = Gen.Regions(r.nextInt(Gen.Regions.size))

  private val programs: IndexedSeq[(String, String)] = IndexedSeq(
    "const_3level" ->
      """( $bs := query(){[$C ?c :cid ?cid] [$C ?c :region ?r] [$C ?c :name ?n]
        |                 [$O ?o :cid ?cid] [$O ?o :oid ?oid] [$O ?o :status ?st]}($C, $O);
        |  $reduce($bs, express(){{'region': key(?r),
        |    'custs': [{'name': key(?n), 'orders': [{'oid': key(?oid), 'status': ?st}]}]}}) )""",
    "const_4level" ->
      s"""( $$bs := query(){[$$CT ?c :cid ?cid] [$$CT ?c :profile ?p] [$$CT ?p :segment ?seg]
        |                 [$$CT ?c :region ?r] [$$OT ?o :cid ?cid] [$$OT ?o :status '$status']
        |                 [$$OT ?o :oid ?oid] [$$OT ?o :items ?it] [$$OT ?it :sku ?sku]
        |                 [$$OT ?it :qty ?q]}($$CT, $$OT);
        |  $$reduce($$bs, express(){{'segment': key(?seg), 'regions': [{'region': key(?r),
        |    'orders': [{'oid': key(?oid), 'items': [{'sku': key(?sku), 'qty': ?q}]}]}]}}) )""",
    "var_attr_2level" ->
      s"""( $$bs := query(){[$$CT ?c :region '$region'] [$$CT ?c ?a ?v] [$$CT ?c :cid ?cid]
        |                 [$$O ?o :cid ?cid] [$$O ?o :oid ?oid]}($$CT, $$O);
        |  $$reduce($$bs, express(){{'cust': key(?cid), 'attrs': [{'a': key(?a), 'v': ?v}],
        |    'orders': [{'oid': key(?oid)}]}}) )"""
  ).map { case (n, p) => n -> p.stripMargin }

  private var sources: Map[String, DataFrame] = Map.empty
  private var expected: IndexedSeq[(Long, Long)] = IndexedSeq.empty
  private var docBytes = 0L

  def setup(): Unit = {
    val docs = Gen.docs(ctx.seed, Customers, Orders)
    val c = load("customers", docs.customers, StructType(Seq(
      StructField("cid", LongType), StructField("name", StringType),
      StructField("region", StringType),
      StructField("profile", StructType(Seq(
        StructField("segment", StringType), StructField("tier", LongType)))))))
    val o = load("orders", docs.orders, StructType(Seq(
      StructField("oid", LongType), StructField("cid", LongType),
      StructField("status", StringType),
      StructField("items", ArrayType(StructType(Seq(
        StructField("sku", StringType), StructField("qty", LongType))))))))
    sources = Map("C" -> c, "O" -> o,
      "CT" -> graft.shred.Shred.shred(c, Some("cid")),
      "OT" -> graft.shred.Shred.shred(o, Some("oid")))
    expected = IndexedSeq(plain3(c, o), plain4(c, o), plainVar(c, o))
      .map(Fingerprint.of)
  }

  /** JSON lines → parquet in the work directory; returns the reader. */
  private def load(name: String, lines: Seq[String],
      schema: StructType): DataFrame = {
    val json = new File(ctx.work, s"$name.json")
    val bytes = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    Files.write(json.toPath, bytes)
    docBytes += bytes.length
    val pq = new File(ctx.work, s"$name.parquet").getPath
    spark.read.schema(schema).json(json.getPath)
      .write.mode("overwrite").parquet(pq)
    spark.read.parquet(pq)
  }

  private def sorted(cols: Column*): Column =
    sort_array(collect_list(struct(cols: _*)))
  private type Column = org.apache.spark.sql.Column

  private def plain3(c: DataFrame, o: DataFrame): DataFrame =
    c.join(o, "cid")
      .groupBy(col("region"), col("name"))
      .agg(sorted(col("oid").cast("string").as("oid"),
        col("status")).as("orders"))
      .groupBy("region")
      .agg(sorted(col("name"), col("orders")).as("custs"))

  private def plain4(c: DataFrame, o: DataFrame): DataFrame =
    c.select(col("cid"), col("region"), col("profile.segment").as("segment"))
      .join(o.filter(col("status") === status), "cid")
      .select(col("segment"), col("region"), col("oid"),
        explode(col("items")).as("it"))
      .groupBy(col("segment"), col("region"), col("oid"))
      .agg(sorted(col("it.sku").as("sku"),
        col("it.qty").cast("string").as("qty")).as("items"))
      .groupBy(col("segment"), col("region"))
      .agg(sorted(col("oid").cast("string").as("oid"), col("items"))
        .as("orders"))
      .groupBy("segment")
      .agg(sorted(col("region"), col("orders")).as("regions"))

  private def plainVar(c: DataFrame, o: DataFrame): DataFrame = {
    val cid = col("cid").cast("string")
    val attrs = c.filter(col("region") === region).select(cid.as("cust"),
      array(
        struct(lit("cid").as("a"), cid.as("v")),
        struct(lit("name").as("a"), col("name").as("v")),
        struct(lit("profile").as("a"), concat(cid, lit("/profile")).as("v")),
        struct(lit("region").as("a"), col("region").as("v"))).as("attrs"))
    val orders = o.groupBy(cid.as("cust"))
      .agg(sorted(col("oid").cast("string").as("oid")).as("orders"))
    attrs.join(orders, "cust")
  }

  def op(i: Int): Check = {
    val k = math.floorMod(i, programs.size)
    val (name, src) = programs(k)
    if (tr.enabled) tr.span("lang", "parse")(graft.lang.Parser.parse(src))
    tr.count("lang.programs", 1)
    val df = tr.span("lang", "queryFrame")(
      graft.lang.RM.queryFrame(src, spark, sources))
    val obs = Observation(s"rmbench_fp_$i")
    noop(df.observe(obs, Fingerprint.agg(df), count(lit(1)).as("n")))
    val leaked = release()
    () => {
      val got = obs.get
      val fp = (got("fp").asInstanceOf[Long], got("n").asInstanceOf[Long])
      Check.expect(fp == expected(k) && leaked == 0,
        s"$name: fingerprint/rows $fp, want ${expected(k)}, leaked $leaked")
    }
  }

  override def warmupOps: Seq[Int] = Seq(-1, -2, -3)

  def inputs: Map[String, Any] = Map(
    "customers" -> Customers, "orders" -> Orders,
    "document_bytes" -> docBytes,
    "programs" -> programs.map(_._1),
    "variable_attribute_share" -> 1.0 / programs.size,
    "result_rows" -> expected.map(_._2))
}
