package graft.shred

import graft.SparkSpec
import graft.query.QueryCompiler
import graft.query.QueryCompiler.{C, Pattern, V, W}
import org.apache.spark.sql.functions._

class ShredSpec extends SparkSpec {
  import spark.implicits._

  test("shred flat frame: one triple per non-null attribute") {
    val df = Seq((1L, "Bob", 10.0), (2L, "Alice", 20.5)).toDF("id", "name", "x")
    val t = Shred.shred(df, Some("id")).cache()
    assert(t.count() == 6)
    val bob = t.filter($"e" === "1").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(bob == Set(("id", "1", "num"), ("name", "Bob", "str"),
      ("x", "10", "num")))  // canonical: integral double prints as "10"
    assert(t.filter($"e" === "2" && $"a" === "x").head().getString(2) == "20.5")
  }

  test("shred nested structs and arrays of structs as sub-entities") {
    val df = spark.read.json(Seq(
      """{"id": 7, "addr": {"city": "Oslo", "zip": "0150"},
         "pets": [{"name": "Rex"}, {"name": "Ada"}], "tags": ["a", "b"]}"""
    ).toDS())
    val t = Shred.shred(df, Some("id")).cache()
    // ref triple to the struct sub-entity + its two attrs
    assert(t.filter($"e" === "7" && $"a" === "addr" && $"vt" === "ref")
      .head().getString(2) == "7/addr")
    assert(t.filter($"e" === "7/addr" && $"a" === "city")
      .head().getString(2) == "Oslo")
    // array-of-structs: indexed sub-entities
    assert(t.filter($"e" === "7/pets/0" && $"a" === "name")
      .head().getString(2) == "Rex")
    assert(t.filter($"e" === "7/pets/1" && $"a" === "name")
      .head().getString(2) == "Ada")
    // array-of-scalars: cardinality-many triples
    assert(t.filter($"e" === "7" && $"a" === "tags").count() == 2)
  }

  test("query: multi-source join on shared value qvar") {
    val people = Shred.shred(
      Seq((123L, "Bob"), (234L, "Alice")).toDF("pid", "name"))
    val devices = Shred.shred(
      Seq((1L, 123L, "watch"), (2L, 123L, "phone"), (3L, 234L, "laptop"))
        .toDF("did", "owner_id", "dname"))
    val out = QueryCompiler.run(
      Map("people" -> people, "devices" -> devices),
      Seq(
        Pattern(V("p"), C("pid"), V("oid"), "people"),
        Pattern(V("p"), C("name"), V("who"), "people"),
        Pattern(V("d"), C("owner_id"), V("oid"), "devices"),
        Pattern(V("d"), C("dname"), V("dev"), "devices")))
    val rows = out.orderBy("who", "dev")
      .collect().map(r => (r.getAs[String]("who"), r.getAs[String]("dev")))
    assert(rows.toSeq == Seq(("Alice", "laptop"), ("Bob", "phone"),
      ("Bob", "watch")))
    // entity qvars dropped, value qvars kept
    assert(out.columns.sorted.toSeq == Seq("dev", "oid", "who"))
  }

  test("query: constant value pattern + predicate + wildcard attr") {
    val t = Shred.shred(Seq((1L, "a", 5.0), (2L, "b", 50.0), (3L, "a", 9.0))
      .toDF("id", "grp", "x"))
    val out = QueryCompiler.run(
      Map("default" -> t),
      Seq(Pattern(V("e"), C("grp"), C("a")),
        Pattern(V("e"), C("x"), V("x"))),
      predicates = Seq(b => QueryCompiler.num(b("x")) > 6))
    assert(out.collect().map(_.getString(0)).toSeq == Seq("9"))
    // wildcard attr binds attribute names
    val w = QueryCompiler.run(t, Seq(Pattern(V("e"), V("a"), W)))
    assert(w.select("a").distinct().collect().map(_.getString(0)).toSet ==
      Set("id", "grp", "x"))
  }

  test("typed-value joins keep string '5' and number 5 apart") {
    val t1 = Shred.shred(Seq(Tuple1("5")).toDF("k"))
    val t2 = Shred.shred(Seq(Tuple1(5.0)).toDF("k"))
    val out = QueryCompiler.run(
      Map("a" -> t1, "b" -> t2),
      Seq(Pattern(V("x"), C("k"), V("v"), "a"),
        Pattern(V("y"), C("k"), V("v"), "b")))
    assert(out.count() == 0) // "5" (str) must not join 5 (num)
  }

  test("generator shred is bit-identical to expression shred") {
    val df = spark.read.json(Seq(
      """{"id": 7, "addr": {"city": "Oslo", "zip": "0150"},
         "pets": [{"name": "Rex"}, {"name": "Ada"}], "tags": ["a", "b"],
         "bal": 12.5, "n": 3}""",
      """{"id": 8, "addr": {"city": "Bergen", "zip": "5003"},
         "pets": [], "tags": [], "bal": 7.0, "n": 9}""").toDS())
    val a = Shred.shredExpr(df, Some("id")).orderBy("e", "a", "v").collect()
    val b = Shred.shred(df, Some("id")).orderBy("e", "a", "v").collect()
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
    // decimals: whole → integer string, else scale-preserving
    val dec = spark.sql(
      """SELECT 1L AS id, CAST(12.50 AS DECIMAL(6,2)) AS d1,
        |  CAST(12.00 AS DECIMAL(6,2)) AS d2""".stripMargin)
    val ae = Shred.shredExpr(dec, Some("id")).orderBy("a").collect()
    val ag = Shred.shred(dec, Some("id")).orderBy("a").collect()
    assert(ae.toSeq == ag.toSeq)
    assert(ae.map(_.getString(2)).toSeq == Seq("12.50", "12", "1"))
  }

  test("date/timestamp/binary canon: gen == expr == Cast, deterministic") {
    // the generator used to print the INTERNAL values (days-int,
    // micros-long) and binary's JVM identity string — the latter
    // NONDETERMINISTIC across evaluations, so a stage retry could
    // emit different triples for the same row (found round 16)
    val df = spark.sql(
      """SELECT 1L AS id, DATE'2020-04-15' AS d,
        |  TIMESTAMP'2020-04-15 12:30:45.123' AS ts,
        |  CAST('hi' AS BINARY) AS bin""".stripMargin)
    val ae = Shred.shredExpr(df, Some("id")).orderBy("a").collect()
    val ag = Shred.shred(df, Some("id")).orderBy("a").collect()
    val ag2 = Shred.shred(df, Some("id")).orderBy("a").collect()
    assert(ae.toSeq == ag.toSeq)
    assert(ag.toSeq == ag2.toSeq, "generator canon must be deterministic")
    assert(ag.map(r => (r.getString(1), r.getString(2))).toSeq == Seq(
      ("bin", "hi"), ("d", "2020-04-15"),
      ("id", "1"), ("ts", "2020-04-15 12:30:45.123")))
  }

  test("null array elements emit no triple; expr == gen agree") {
    // EAV stores facts: a null element is the absence of one — same
    // rule as a null scalar field. Struct-array sub-ids keep the
    // ORIGINAL element index (Ada at pets[1] stays 7/pets/1).
    val df = spark.read.json(Seq(
      """{"id": 7, "tags": ["a", null, "b"], "nums": [1, null, 2],
         "pets": [null, {"name": "Ada"}]}""").toDS())
    val a = Shred.shredExpr(df, Some("id")).orderBy("e", "a", "v").collect()
    val b = Shred.shred(df, Some("id")).orderBy("e", "a", "v").collect()
    assert(a.toSeq == b.toSeq)
    val t = Shred.shred(df, Some("id")).cache()
    assert(t.filter($"a" === "tags").count() == 2)
    assert(t.filter($"a" === "nums").count() == 2)
    assert(t.filter($"v".isNull).count() == 0,
      "no stored triple may carry a null v")
    assert(t.filter($"e" === "7/pets/1" && $"a" === "name")
      .head().getString(2) == "Ada")
    assert(t.filter($"e" === "7/pets/0").count() == 0)
  }

  test("isTriplesFrame requires triple types, not just column names") {
    // a user table coincidentally named (e,a,v,vt,vn) — a generic
    // audit export — must NOT be mistaken for a shredded database
    val impostor = Seq((1L, "x", 2L, "y", 3L))
      .toDF("e", "a", "v", "vt", "vn")
    assert(!Shred.isTriplesFrame(impostor))
    val real = Shred.shred(Seq((1L, "Bob")).toDF("id", "name"), Some("id"))
    assert(Shred.isTriplesFrame(real))
    // and a triple frame round-tripped through parquet still matches
    val p = java.nio.file.Files.createTempDirectory("graft-trip-")
      .toString + "/t"
    real.write.parquet(p)
    assert(Shred.isTriplesFrame(spark.read.parquet(p)))
  }

  test("parameterized query: template closes over substitutions") {
    // query($grp){[?e :grp $grp][?e :x ?x]} — params become Scala
    // closures producing plans (reference builtin.cljc:1799-1838)
    val t = Shred.shred(Seq((1L, "a", 5.0), (2L, "b", 50.0), (3L, "a", 9.0))
      .toDF("id", "grp", "x"))
    def byGroup(grp: String) = QueryCompiler.run(t,
      Seq(Pattern(V("e"), C("grp"), C(grp)),
        Pattern(V("e"), C("x"), V("x"))))
    assert(byGroup("a").collect().map(_.getString(0)).toSet == Set("5", "9"))
    assert(byGroup("b").collect().map(_.getString(0)).toSet == Set("50"))
  }

  test("unshredFlat reassembles attribute maps") {
    val df = Seq((1L, "Bob", 10.0)).toDF("id", "name", "x")
    val m = Shred.unshredFlat(Shred.shred(df, Some("id")))
      .filter($"e" === "1").select(element_at($"attrs", "name"))
      .head().getString(0)
    assert(m == "Bob")
  }

  test("no-idCol entity ids are content-derived: stable under repartition") {
    val df = Seq(("Bob", 10L), ("Alice", 20L), ("Cy", 30L))
      .toDF("name", "x")
    def idsOf(d: org.apache.spark.sql.DataFrame) =
      Shred.shred(d).filter($"a" === "name")
        .select($"v", $"e").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val base = idsOf(df)
    assert(idsOf(df.repartition(5)) == base,
      "ids must not depend on partitioning")
    assert(idsOf(df.orderBy($"x".desc)) == base,
      "ids must not depend on row order")
    assert(base.values.toSet.size == 3, "distinct rows get distinct ids")
  }

  test("auditPersisted verifies write-time content fingerprints") {
    val base = "/tmp/graft_shred_spec_audit"
    val docs = Seq((1L, "Bob", 10.5), (2L, "Alice", 20.0))
      .toDF("id", "name", "bal")
    docs.write.mode("overwrite").parquet(s"$base/docs")
    Shred.shredWrite(spark, s"$base/docs", Some("id"), s"$base/triples")
    // intact delivery audits clean
    assert(Shred.auditPersisted(spark, s"$base/triples"))
    // content change on the DOC side fails the audit even though the
    // sidecar is untouched (the snapshot catches name/size/mtime
    // drift per query; the audit is the content check for rewrites
    // that game all three)
    Seq((1L, "Mallory", 10.5)).toDF("id", "name", "bal")
      .write.mode("overwrite").parquet(s"$base/docs")
    assert(!Shred.auditPersisted(spark, s"$base/triples"))
    // restore the docs, tamper the TRIPLE side instead
    docs.write.mode("overwrite").parquet(s"$base/docs")
    Shred.shredWrite(spark, s"$base/docs", Some("id"), s"$base/t2")
    assert(Shred.auditPersisted(spark, s"$base/t2"))
    Shred.shred(Seq((9L, "Eve", 1.0)).toDF("id", "name", "bal"),
        Some("id"))
      .write.mode("append").partitionBy("a").parquet(s"$base/t2")
    assert(!Shred.auditPersisted(spark, s"$base/t2"))
    // no sidecar at all: not auditable
    assert(!Shred.auditPersisted(spark, s"$base/docs"))
  }

  test("attribute names that look numeric reopen as string partitions") {
    // every partition directory reads `a=<digits>`, so without the
    // explicit read schema `a` would infer as an int column, changing
    // the reopened frame's type and its row JSON
    val base = "/tmp/graft_shred_spec_numeric_attr"
    spark.read.json(Seq("""{"2023": "x", "2024": 1}""",
        """{"2023": "y", "2024": 2}""").toDS())
      .write.mode("overwrite").parquet(s"$base/docs")
    Shred.shredWrite(spark, s"$base/docs", None, s"$base/triples")
    val opened = Shred.openShred(spark, s"$base/triples")
    assert(Shred.isTriplesFrame(opened), opened.schema.treeString)
    assert(opened.filter($"a" === "2024").count() == 2)
    assert(Shred.auditPersisted(spark, s"$base/triples"))
    assert(Shred.unshredPersisted(opened).isDefined)
  }

  /** The sidecar of a [[Shred.shredWrite]] artifact, as JSON. */
  private def sidecar(triples: String): org.json4s.JValue =
    org.json4s.jackson.JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(triples, "_graft_shred.json")), "UTF-8"))

  /** Replaces the sidecar through the Hadoop filesystem, which keeps
    * its checksum file in step.
    */
  private def writeSidecar(triples: String, meta: org.json4s.JValue): Unit = {
    val p = new org.apache.hadoop.fs.Path(triples, "_graft_shred.json")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    out.write(org.json4s.jackson.JsonMethods.compact(meta).getBytes("UTF-8"))
    out.close()
  }

  /** For every job `body` runs, its stages' call-site details. */
  private def jobsOf(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftglue.ColumnGlue
    val sc = spark.sparkContext
    val label = s"shred-spec-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(p =>
            p.getProperty("spark.job.description") == label))
          jobs.add(j.stageInfos.map(_.details).mkString("\n"))
    }
    ColumnGlue.drainListeners(sc)
    sc.addSparkListener(listener)
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body
    finally {
      sc.setJobDescription(outer)
      ColumnGlue.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }

  test("a sidecar fingerprinted by the old decimal Column form audits true") {
    // non-ASCII text, multi-KB rows and nulls, written as 3 files
    val base = "/tmp/graft_shred_spec_old_fp"
    val big = "{\"é中\": \"ß\"} " * 600
    Seq[(Long, String, java.lang.Double)]((1L, "Bob", 10.5),
        (2L, "Zoë 中文", null), (3L, big, 1e300), (4L, "", -0.0),
        (5L, null, 3.0))
      .toDF("id", "name", "bal").repartition(3)
      .write.mode("overwrite").parquet(s"$base/docs")
    Shred.shredWrite(spark, s"$base/docs", Some("id"), s"$base/triples")
    // the write-time fingerprints as the decimal fold computed them
    def oldFp(df: org.apache.spark.sql.DataFrame): Long = {
      val json = to_json(struct(df.columns.map(c =>
        col(Shred.quoteIdent(c))).toSeq: _*))
      val h = conv(substring(md5(json), 1, 15), 16, 10)
        .cast("decimal(38,0)")
      df.agg(((coalesce(sum(h), lit(0).cast("decimal(38,0)")) %
        lit(1L << 60)).cast("long"))).head().getLong(0)
    }
    val dOld = oldFp(spark.read.parquet(s"$base/docs"))
    val tOld = oldFp(Shred.openShred(spark, s"$base/triples"))
    import org.json4s._
    val meta = sidecar(s"$base/triples")
    assert(meta \ "docFp" == JInt(dOld) && meta \ "tripleFp" == JInt(tOld),
      "the native fold must write the decimal fold's fingerprints")
    // a sidecar written by the decimal fold still audits true
    val rewritten = meta.transformField {
      case ("docFp", _) => ("docFp", JInt(dOld))
      case ("tripleFp", _) => ("tripleFp", JInt(tOld))
    }
    writeSidecar(s"$base/triples", rewritten)
    assert(Shred.auditPersisted(spark, s"$base/triples"))
    // and a fingerprint one off fails it
    writeSidecar(s"$base/triples", rewritten.transformField {
      case ("tripleFp", _) => ("tripleFp", JInt(tOld ^ 1L))
    })
    assert(!Shred.auditPersisted(spark, s"$base/triples"))
  }

  test("a sidecar that fails its checksum is no sidecar, not a crash") {
    val base = "/tmp/graft_shred_spec_bad_crc"
    Seq((1L, "Bob"), (2L, "Alice")).toDF("id", "name")
      .write.mode("overwrite").parquet(s"$base/docs")
    Shred.shredWrite(spark, s"$base/docs", Some("id"), s"$base/triples")
    // an edit that bypasses the filesystem leaves a stale .crc behind
    val side = java.nio.file.Paths.get(s"$base/triples", "_graft_shred.json")
    java.nio.file.Files.write(side, (new String(
      java.nio.file.Files.readAllBytes(side), "UTF-8") + " ").getBytes("UTF-8"))
    assert(!Shred.auditPersisted(spark, s"$base/triples"))
    assert(Shred.unshredPersisted(
      Shred.openShred(spark, s"$base/triples")).isEmpty)
  }

  test("auditPersisted of an intact artifact runs at most 2 jobs") {
    val base = "/tmp/graft_shred_spec_audit_jobs"
    Seq((1L, "Bob", 10.5), (2L, "Alice", 20.0)).toDF("id", "name", "bal")
      .write.mode("overwrite").parquet(s"$base/docs")
    Shred.shredWrite(spark, s"$base/docs", Some("id"), s"$base/triples")
    var ok = false
    val jobs = jobsOf { ok = Shred.auditPersisted(spark, s"$base/triples") }
    assert(ok)
    assert(jobs.size <= 2, jobs.mkString("\n---\n"))
  }

  test("a docs rewrite after the uniqueness proof records no verdict") {
    val base = "/tmp/graft_shred_spec_relist"
    val docs = Seq((1L, "Bob"), (2L, "Alice")).toDF("id", "name")
    docs.write.mode("overwrite").parquet(s"$base/docs")
    Shred.shredWrite(spark, s"$base/docs", Some("id"), s"$base/t1")
    assert(sidecar(s"$base/t1") \ "idUnique" == org.json4s.JBool(true))
    // duplicate ids land between the proof and the second listing:
    // the proof saw unique ids, but not these bytes
    Shred.shredWrite(spark, s"$base/docs", Some("id"), s"$base/t2",
      () => Seq((1L, "Bob"), (1L, "Eve")).toDF("id", "name")
        .write.mode("overwrite").parquet(s"$base/docs"))
    assert(sidecar(s"$base/t2") \ "idUnique" == org.json4s.JNothing)
    assert(Shred.unshredPersisted(
      Shred.openShred(spark, s"$base/t2")).isEmpty)
  }

  test("queryFrame over an opened shred reads its sidecar once") {
    // the ingest program: every pattern names its source
    val base = "/tmp/graft_shred_spec_query_once"
    Seq((1L, 7L, "open"), (2L, 8L, "shipped"), (3L, 7L, "open"))
      .toDF("oid", "cid", "status")
      .write.mode("overwrite").parquet(s"$base/docs")
    Shred.shredWrite(spark, s"$base/docs", Some("oid"), s"$base/triples")
    val customers = Seq((7L, "north"), (8L, "south")).toDF("cid", "region")
    val program =
      """( $bs := query(){[$T ?o :cid ?cid] [$T ?o :status ?st] [$T ?o :oid ?oid]
        |                 [$X ?x :cid ?cid] [$X ?x :region ?r]}($T, $X);
        |  $reduce($bs, express(){{'region': key(?r),
        |    'orders': [{'oid': key(?oid), 'status': ?st}]}}) )""".stripMargin
    val reopened = Shred.openShred(spark, s"$base/triples")
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf {
      out = graft.lang.RM.queryFrame(program, spark,
        Map("T" -> reopened, "X" -> customers))
    }
    assert(jobs.count(_.contains("Shred$.unshredPersisted")) == 1,
      jobs.mkString("\n---\n"))
    assert(out.count() == 2)
  }

}
