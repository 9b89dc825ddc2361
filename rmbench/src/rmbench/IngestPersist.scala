package rmbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.shred.Shred
import graft.sources.Ingest

/** `ingest_persist`: one op ingests one batch of document files — orders
  * as JSON lines, customers as one XML document — through `Ingest`,
  * writes the orders as parquet, persists their triples with
  * `Shred.shredWrite`, reopens them with `Shred.openShred`, runs one RM
  * query joining the reopened triples with the XML customers, and
  * audits the artifact with `Shred.auditPersisted`. Everything is read
  * from and written to disk.
  *
  * Output check: the audit passes, and the reopened triples have the
  * same content fingerprint as the in-memory `Shred.shred` of the
  * ingested orders.
  */
final class IngestPersist(ctx: Ctx) extends Workload(ctx) {
  val Batches = 4
  val OrdersPerBatch = 1500
  val CustomersPerBatch = 300

  private val program =
    """( $bs := query(){[$T ?o :cid ?cid] [$T ?o :status ?st] [$T ?o :oid ?oid]
      |                 [$X ?x :cid ?cid] [$X ?x :region ?r]}($T, $X);
      |  $reduce($bs, express(){{'region': key(?r),
      |    'orders': [{'oid': key(?oid), 'status': ?st}]}}) )""".stripMargin

  private def batchDir(b: Int) = new File(ctx.work, s"batch$b")
  private def opDir(i: Int) = new File(ctx.work, s"op$i")
  private var jsonBytes = Map.empty[Int, Long]

  def setup(): Unit = {
    jsonBytes = (0 until Batches).map { b =>
      val g = Gen.batch(ctx.seed, b, OrdersPerBatch, CustomersPerBatch)
      val dir = batchDir(b)
      dir.mkdirs()
      val json = g.ordersJson.getBytes(StandardCharsets.UTF_8)
      Files.write(new File(dir, "orders.json").toPath, json)
      Files.write(new File(dir, "customers.xml").toPath,
        g.customersXml.getBytes(StandardCharsets.UTF_8))
      b -> json.length.toLong
    }.toMap
  }

  def op(i: Int): Check = {
    val b = math.floorMod(i, Batches)
    val in = batchDir(b)
    val out = opDir(i)
    val docs = new File(out, "docs").getPath
    val triples = new File(out, "triples").getPath

    val orders = tr.span("sources", "readJson")(
      Ingest.readJson(spark, new File(in, "orders.json").getPath))
    val customers = tr.span("sources", "readXml")(
      Ingest.readXml(spark, new File(in, "customers.xml").getPath))
      .select(explode(col("customers.customer")).as("c")).select("c.*")
    tr.count("sources.rows", OrdersPerBatch + CustomersPerBatch)
    tr.span("exec", "write_docs", sink = true)(
      orders.write.mode("overwrite").parquet(docs))
    tr.span("shred", "shredWrite")(
      Shred.shredWrite(spark, docs, Some("oid"), triples))
    val reopened = tr.span("shred", "openShred")(Shred.openShred(spark, triples))
    if (tr.enabled) tr.span("lang", "parse")(graft.lang.Parser.parse(program))
    tr.count("lang.programs", 1)
    noop(tr.span("lang", "queryFrame")(graft.lang.RM.queryFrame(program,
      spark, Map("T" -> reopened, "X" -> customers))))
    val audited = tr.span("shred", "auditPersisted")(
      Shred.auditPersisted(spark, triples))
    val leaked = release()

    // data files only: no checksums, no _SUCCESS, no sidecar
    val bytes = Files.walk(new File(triples).toPath)
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_"))
      .mapToLong(p => Files.size(p)).sum()
    tr.count("shred.bytes_per_input_byte", bytes.toDouble / jsonBytes(b))

    () => {
      val (fpDisk, n) = Fingerprint.of(Shred.openShred(spark, triples))
      val (fpMem, nMem) = Fingerprint.of(Shred.shred(orders, Some("oid")))
      tr.count("shred.triples", n)
      Check.expect(audited, "auditPersisted returned false")
        .orElse(Check.expect(fpDisk == fpMem && n == nMem,
          s"reopened triples ($fpDisk, $n rows) differ from the in-memory " +
            s"shred ($fpMem, $nMem rows)"))
        .orElse(Check.expect(leaked == 0, s"$leaked persisted RDDs leaked"))
    }
  }

  /** Two ops: after one, latency still falls over the next few ops. */
  override def warmupOps: Seq[Int] = Seq(-1, -2)

  override def afterOp(i: Int): Unit = {
    val out = opDir(i).toPath
    if (Files.exists(out))
      Files.walk(out).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
  }

  def inputs: Map[String, Any] = Map(
    "batches" -> Batches, "orders_per_batch" -> OrdersPerBatch,
    "customers_per_batch" -> CustomersPerBatch,
    "orders_json_bytes" -> jsonBytes.values.sum / Batches)
}
