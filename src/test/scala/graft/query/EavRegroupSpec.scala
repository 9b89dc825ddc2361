package graft.query

import graft.SparkSpec
import graft.shred.Shred
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import QueryCompiler.{C, Pattern, V, W}

/** Shred-aware regrouping (QueryCompiler.regroupShredded): a
  * constant-attribute `query{}` over an explicitly-shredded frame must
  * compile over the documents — bit-identical to the canonical-string
  * EAV authority — and every unsound shape must decline back to the
  * EAV plan (asserted via the typed-EAV tier's encoded binding
  * columns in the plan, see `regrouped`).
  */
class EavRegroupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "Bob", 10.5, true), (2L, "Alice", 20.0, false),
    (3L, "Bob", 10.5, true), (4L, "Dan", -7.0, false))
    .toDF("id", "name", "bal", "vip")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // the typed-EAV tier is recognizable by its encoded binding columns
  // (`n#t` etc., printed with an exprId suffix as "n#t#<id>"); the
  // regrouped tier binds plain var names (a missing ShredGenerator is
  // no evidence: on the typed-EAV tier UnshredEav rewrites each
  // constant-attribute pattern's scan into a projection as well)
  private def regrouped(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("#t#")

  private def check(sources: Map[String, DataFrame],
      pats: Seq[Pattern], expectRegroup: Boolean,
      keepDBid: Boolean = false): Unit = {
    val got = QueryCompiler.runBoxed(sources, pats, keepDBid = keepDBid)
    val want = QueryReference.runBoxedCanonical(sources, pats,
      keepDBid = keepDBid)
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(rows(got) == rows(want))
    assert(regrouped(got) == expectRegroup,
      s"expected regroup=$expectRegroup:\n" +
        got.queryExecution.executedPlan.toString.take(1500))
  }

  test("derived-id shred: same-entity conjunction regroups, equals the authority") {
    check(Map("default" -> Shred.shred(docs)), Seq(
      Pattern(V("e"), C("name"), V("n")),
      Pattern(V("e"), C("bal"), V("b")),
      Pattern(V("e"), C("vip"), C(true))), expectRegroup = true)
  }

  test("date and timestamp attributes regroup, equal the authority") {
    // both render like Cast in the generator, so the regroup tier
    // reads them from the documents (they once declined to typed EAV)
    val dated = docs
      .withColumn("day", date_add(to_date(lit("2024-01-01")), $"id".cast("int")))
      .withColumn("at", to_timestamp(lit("2024-01-02 03:04:05.25")))
    for (src <- Seq(Shred.shred(dated), Shred.shred(dated, Some("id")))) {
      check(Map("default" -> src), Seq(
        Pattern(V("e"), C("name"), V("n")),
        Pattern(V("e"), C("day"), V("d")),
        Pattern(V("e"), C("at"), V("t"))), expectRegroup = true)
      check(Map("default" -> src), Seq(
        Pattern(V("e"), C("day"), C("2024-01-03")),
        Pattern(V("e"), C("name"), V("n"))), expectRegroup = true)
    }
    val got = QueryCompiler.run(Map("default" -> Shred.shred(dated)),
      Seq(Pattern(V("e"), C("day"), C("2024-01-03")),
        Pattern(V("e"), C("at"), V("t"))))
    assert(rows(got) == Seq("[2024-01-02 03:04:05.25]"), rows(got))
  }

  test("timestamps that render alike in the session zone bind once") {
    // 05:30Z and 06:30Z are both 01:30 in New York on the fall-back
    // night: the triples hold one string, so there is one binding set
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val fallBack = Seq((1L, 1730611800000000L), (2L, 1730615400000000L))
        .toDF("id", "us").select($"id", timestamp_micros($"us").as("at"))
      for (src <- Seq(Shred.shred(fallBack), Shred.shred(fallBack, Some("id"))))
        check(Map("default" -> src), Seq(
          Pattern(W, C("at"), V("t"))), expectRegroup = true)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("explicit non-null idCol regroups; keepDBid ids match the shred's") {
    check(Map("default" -> Shred.shred(docs, Some("id"))), Seq(
      Pattern(V("e"), C("name"), V("n")),
      Pattern(V("e"), C("bal"), V("b"))), expectRegroup = true,
      keepDBid = true)
  }

  test("entity-constant and wildcard-entity patterns regroup correctly") {
    check(Map("default" -> Shred.shred(docs, Some("id"))), Seq(
      Pattern(C(2L), C("name"), V("n"))), expectRegroup = true)
    // independent wildcard-entity patterns: cross product
    check(Map("default" -> Shred.shred(docs, Some("id"))), Seq(
      Pattern(W, C("name"), V("n")),
      Pattern(W, C("bal"), V("b"))), expectRegroup = true)
  }

  test("multi-source with a shared qvar regroups both sides") {
    val owners = Seq((1L, "x"), (2L, "y")).toDF("oid", "tag")
    check(Map(
      "d" -> Shred.shred(docs, Some("id")),
      "o" -> Shred.shred(owners, Some("oid"))), Seq(
      Pattern(V("e"), C("id"), V("k"), "d"),
      Pattern(V("e"), C("name"), V("n"), "d"),
      Pattern(V("f"), C("oid"), V("k"), "o"),
      Pattern(V("f"), C("tag"), V("t"), "o")), expectRegroup = true)
  }

  test("declines: wildcard attribute keeps the EAV plan") {
    check(Map("default" -> Shred.shred(docs, Some("id"))), Seq(
      Pattern(V("e"), V("a"), V("v"))), expectRegroup = false)
  }

  test("declines: missing attribute keeps EAV (empty result, no throw)") {
    check(Map("default" -> Shred.shred(docs, Some("id"))), Seq(
      Pattern(V("e"), C("nope"), V("v"))), expectRegroup = false)
    assert(QueryCompiler.runBoxed(
      Map("default" -> Shred.shred(docs, Some("id"))),
      Seq(Pattern(V("e"), C("nope"), V("v")))).count() == 0)
  }

  test("struct-ref chains regroup; shadowed root attrs still decline") {
    val nested = docs.select(col("id"),
      struct(col("name").as("city")).as("addr"), col("name"))
    // `addr` is a ref: binding it alone yields <sub-id, ref> — a
    // document projection since round 16 (sub-ids are deterministic)
    check(Map("default" -> Shred.shred(nested, Some("id"))), Seq(
      Pattern(V("e"), C("addr"), V("a"))), expectRegroup = true)
    // a chain through it regroups to a nested-column projection
    check(Map("default" -> Shred.shred(nested, Some("id"))), Seq(
      Pattern(V("e"), C("addr"), V("a")),
      Pattern(V("a"), C("city"), V("c"))), expectRegroup = true,
      keepDBid = true)
    // `city` on a ROOT var is unpinned: the EAV form matches the
    // sub-entities, which no root projection can see — still declines
    check(Map("default" -> Shred.shred(nested, Some("id"))), Seq(
      Pattern(V("e"), C("city"), V("c"))), expectRegroup = false)
  }

  test("duplicate ids: per-entity cross product, not the row-local zip") {
    // the EAV authority joins this conjunction on e, so two rows
    // sharing an id produce the PRODUCT of their value sets (5 rows,
    // not 3) — found live in round 16; an explicit idCol cannot prove
    // row-determinism, so multi-pattern groups compile to the
    // groupBy-product plan
    val dup = Seq(("X", 1L, 10L), ("X", 2L, 20L), ("Y", 3L, 30L))
      .toDF("k", "a", "b")
    check(Map("default" -> Shred.shred(dup, Some("k"))), Seq(
      Pattern(V("e"), C("a"), V("x")),
      Pattern(V("e"), C("b"), V("y"))), expectRegroup = true)
    // existence constants see ANY row of the entity, value sets ALL
    check(Map("default" -> Shred.shred(dup, Some("k"))), Seq(
      Pattern(V("e"), C("a"), C(1)),
      Pattern(V("e"), C("b"), V("y"))), expectRegroup = true)
    // a repeated qvar is the per-entity intersection of the two sets
    val dup2 = Seq(("X", 1L, 2L), ("X", 2L, 1L)).toDF("k", "p", "r")
    check(Map("default" -> Shred.shred(dup2, Some("k"))), Seq(
      Pattern(V("e"), C("p"), V("x")),
      Pattern(V("e"), C("r"), V("x"))), expectRegroup = true)
    // NaN: the canonical form has one "NaN", so an entity's value set
    // holds it once, and a repeated qvar's intersection keeps it
    val nan = Seq(("X", 1L, Double.NaN, Double.NaN),
      ("X", 2L, Double.NaN, 0.5), ("Y", 3L, 0.5, Double.NaN))
      .toDF("k", "a", "b", "c")
    check(Map("default" -> Shred.shred(nan, Some("k"))), Seq(
      Pattern(V("e"), C("a"), V("x")),
      Pattern(V("e"), C("b"), V("y"))), expectRegroup = true)
    check(Map("default" -> Shred.shred(nan, Some("k"))), Seq(
      Pattern(V("e"), C("b"), V("x")),
      Pattern(V("e"), C("c"), V("x"))), expectRegroup = true)
    // content-derived ids (no idCol) keep the fused row-local plan —
    // equal ids imply equal rows there, so zip == product
    check(Map("default" -> Shred.shred(dup)), Seq(
      Pattern(V("e"), C("a"), V("x")),
      Pattern(V("e"), C("b"), V("y"))), expectRegroup = true)
  }

  test("nested chains agree through duplicates, nulls, and depth") {
    val dupNested = Seq((7L, 1L, 10L), (7L, 2L, 20L), (8L, 3L, 30L))
      .toDF("id", "a", "b")
      .select(col("id"), struct(col("a"), col("b")).as("inner"))
    check(Map("default" -> Shred.shred(dupNested, Some("id"))), Seq(
      Pattern(V("e"), C("inner"), V("i")),
      Pattern(V("i"), C("a"), V("x")),
      Pattern(V("i"), C("b"), V("y"))), expectRegroup = true)
    val deep = Seq((1L, "x", 5L), (2L, "y", 7L))
      .toDF("id", "tag", "n")
      .select(col("id"),
        struct(col("tag"), struct(col("n")).as("leaf")).as("mid"))
    check(Map("default" -> Shred.shred(deep, Some("id"))), Seq(
      Pattern(V("e"), C("mid"), V("m")),
      Pattern(V("m"), C("leaf"), V("l")),
      Pattern(V("l"), C("n"), V("v"))), expectRegroup = true,
      keepDBid = true)
    // null structs shred to nothing: chain patterns drop those rows
    val withNull = Seq((1L, true), (2L, false)).toDF("id", "has")
      .select(col("id"),
        when(col("has"), struct(col("id").as("z"))).as("opt"))
    check(Map("default" -> Shred.shred(withNull, Some("id"))), Seq(
      Pattern(V("e"), C("opt"), V("o")),
      Pattern(V("o"), C("z"), V("z"))), expectRegroup = true)
    // a chain under a WILDCARD root: the ref pattern is its own group
    // and the child still pins to the sub-entity
    check(Map("default" -> Shred.shred(dupNested, Some("id"))), Seq(
      Pattern(W, C("inner"), V("i")),
      Pattern(V("i"), C("a"), V("x"))), expectRegroup = true)
  }

  test("nullable idCol regroups behind a null-id filter (null ids shred to nothing)") {
    val withNullId = docs.select(
      when(col("id") =!= 3L, col("id")).as("nid"), col("name"))
    // row id=3 has a NULL nid: the shred emits no triples for it, and
    // the regrouped read must drop it the same way
    check(Map("default" -> Shred.shred(withNullId, Some("nid"))), Seq(
      Pattern(V("e"), C("name"), V("n")),
      Pattern(V("e"), C("nid"), V("k"))), expectRegroup = true,
      keepDBid = true)
  }

  test("declines: a raw $db-style triple frame keeps EAV") {
    val triples = Shred.shred(docs, Some("id"))
    // round-trip through parquet: the plan is a scan, not a shred
    val path = "/tmp/graft_regroup_spec_triples"
    triples.write.mode("overwrite").parquet(path)
    val fromDisk = spark.read.parquet(path)
    check(Map("default" -> fromDisk), Seq(
      Pattern(V("e"), C("name"), V("n"))), expectRegroup = false)
  }

  test("array-of-struct chains and cardinality-many values regroup (fused)") {
    // the reference's array-shaped nested documents (pets/devices,
    // query_test.cljc): one sub-entity per ELEMENT with the shred's
    // original element index in the sub-id. Fused-only (r16): licensed
    // by content-hash ids; the explicit-idCol shred declines to EAV.
    val pets = spark.read.json(Seq(
      """{"id": 1, "name": "Bob",
         "pets": [{"pn": "Rex", "age": 3}, {"pn": "Ada", "age": 1}],
         "tags": ["a", "b"]}""",
      """{"id": 2, "name": "Ann", "pets": [], "tags": []}""",
      """{"id": 3, "name": "Cid",
         "pets": [null, {"pn": "Taz", "age": 3}],
         "tags": ["b", null, "2"]}""").toDS())
    val chain = Seq(
      Pattern(V("c"), C("name"), V("n")),
      Pattern(V("c"), C("pets"), V("p")),
      Pattern(V("p"), C("pn"), V("pname")))
    check(Map("default" -> Shred.shred(pets)), chain,
      expectRegroup = true, keepDBid = true)
    // two children of one element conjoin per sub-entity; null
    // elements emit nothing; the sub-id keeps the original index
    check(Map("default" -> Shred.shred(pets)), Seq(
      Pattern(V("c"), C("pets"), V("p")),
      Pattern(V("p"), C("pn"), V("pname")),
      Pattern(V("p"), C("age"), V("a"))), expectRegroup = true,
      keepDBid = true)
    // cardinality-many scalar values: element bindings, existence
    // constants (any element), wildcards (some non-null element)
    check(Map("default" -> Shred.shred(pets)), Seq(
      Pattern(V("c"), C("name"), V("n")),
      Pattern(V("c"), C("tags"), V("t"))), expectRegroup = true)
    check(Map("default" -> Shred.shred(pets)), Seq(
      Pattern(V("c"), C("tags"), C("b")),
      Pattern(V("c"), C("name"), V("n"))), expectRegroup = true)
    check(Map("default" -> Shred.shred(pets)), Seq(
      Pattern(V("c"), C("tags"), W),
      Pattern(V("c"), C("name"), V("n"))), expectRegroup = true)
    // the explicit-idCol regime cannot prove row-determinism, and the
    // product build cannot explode — EAV serves the query, still equal
    check(Map("default" -> Shred.shred(pets, Some("id"))), chain,
      expectRegroup = false)
  }

  test("persisted shreds regroup via write-time provenance; tampering declines") {
    val base = "/tmp/graft_regroup_spec_persist"
    docs.write.mode("overwrite").parquet(s"$base/docs")
    Shred.shredWrite(spark, s"$base/docs", Some("id"), s"$base/triples")
    val opened = Shred.openShred(spark, s"$base/triples")
    // round-tripped triples must STILL take the document plan —
    // r15's in-plan detection could never see a parquet read, so the
    // deployment shape was stuck on the EAV tier forever
    val pats = Seq(
      Pattern(V("e"), C("name"), V("n")),
      Pattern(V("e"), C("bal"), V("b")))
    check(Map("default" -> opened), pats, expectRegroup = true)
    // content-derived ids round-trip too, and license the FUSED plan
    // (no per-entity aggregate)
    Shred.shredWrite(spark, s"$base/docs", None, s"$base/triples_hash")
    val openedHash = Shred.openShred(spark, s"$base/triples_hash")
    check(Map("default" -> openedHash), pats, expectRegroup = true)
    assert(!QueryCompiler.runBoxed(Map("default" -> openedHash), pats)
      .queryExecution.executedPlan.toString.contains("ObjectHashAggregate"),
      "content-hash ids must fuse row-locally, not aggregate")
    // the EAV tier still works on the artifact (wildcard attr shape)
    check(Map("default" -> opened), Seq(
      Pattern(V("e"), V("attr"), W)), expectRegroup = false)
    // tamper with the DOCUMENTS since the write → snapshot fails →
    // decline to the (always-sound) EAV plan over the stored triples
    docs.limit(1).write.mode("append").parquet(s"$base/docs")
    check(Map("default" -> Shred.openShred(spark, s"$base/triples")),
      pats, expectRegroup = false)
    // and appending triples behind the sidecar's back also declines
    Shred.shredWrite(spark, s"$base/docs", Some("id"), s"$base/t2")
    Shred.shred(docs.limit(1), Some("id")).write.mode("append")
      .partitionBy("a").parquet(s"$base/t2")
    check(Map("default" -> Shred.openShred(spark, s"$base/t2")),
      pats, expectRegroup = false)
  }

  test("write-time uniqueness proof licenses the fused plan; duplicates stay product") {
    // shredAttrsVerifiedAll PROVES id uniqueness with one count-distinct action
    // and tags the generator — multi-pattern groups then fuse
    // row-locally (no per-entity aggregate), bit-identical to the
    // authority (round-17: recovers the q_eav_join product regression)
    val pats = Seq(
      Pattern(V("e"), C("name"), V("n")),
      Pattern(V("e"), C("bal"), V("b")))
    val verified =
      Shred.shredAttrsVerifiedAll(Seq((docs, "id", docs.columns.toSeq))).head
    check(Map("default" -> verified), pats, expectRegroup = true)
    assert(!QueryCompiler.runBoxed(Map("default" -> verified), pats)
      .queryExecution.executedPlan.toString.contains("ObjectHashAggregate"),
      "proven-unique ids must fuse row-locally, not aggregate")
    // duplicate ids fail the proof: the SAME entry point keeps the
    // duplicate-id-safe product plan (and still equals the authority)
    val dup = Seq(("X", 1L, 10L), ("X", 2L, 20L), ("Y", 3L, 30L))
      .toDF("k", "a", "b")
    val dupVerified =
      Shred.shredAttrsVerifiedAll(Seq((dup, "k", dup.columns.toSeq))).head
    val dupPats = Seq(
      Pattern(V("e"), C("a"), V("x")),
      Pattern(V("e"), C("b"), V("y")))
    check(Map("default" -> dupVerified), dupPats, expectRegroup = true)
    assert(QueryCompiler.runBoxed(Map("default" -> dupVerified), dupPats)
      .queryExecution.executedPlan.toString.contains("ObjectHashAggregate"),
      "unproven ids must keep the per-entity product plan")
    // narrowed to the queried attrs, the same license
    val av =
      Shred.shredAttrsVerifiedAll(Seq((docs, "id", Seq("name", "bal")))).head
    check(Map("default" -> av), pats, expectRegroup = true)
    assert(!QueryCompiler.runBoxed(Map("default" -> av), pats)
      .queryExecution.executedPlan.toString.contains("ObjectHashAggregate"))
  }

  test("persisted key-licensed shreds fuse, reach array chains; tamper declines") {
    val base = "/tmp/graft_regroup_spec_keyed"
    val pets = spark.read.json(Seq(
      """{"id": 1, "name": "Bob",
         "pets": [{"pn": "Rex", "age": 3}, {"pn": "Ada", "age": 1}]}""",
      """{"id": 2, "name": "Ann", "pets": []}""",
      """{"id": 3, "name": "Cid",
         "pets": [null, {"pn": "Taz", "age": 3}]}""").toDS())
    pets.write.mode("overwrite").parquet(s"$base/docs")
    Shred.shredWrite(spark, s"$base/docs", Some("id"), s"$base/triples")
    val opened = Shred.openShred(spark, s"$base/triples")
    // the sidecar's write-time idUnique proof licenses fusion: flat
    // conjunctions skip the groupBy(id) exchange...
    val flat = Seq(Pattern(V("e"), C("name"), V("n")),
      Pattern(V("e"), C("id"), V("k")))
    check(Map("default" -> opened), flat, expectRegroup = true)
    assert(!QueryCompiler.runBoxed(Map("default" -> opened), flat)
      .queryExecution.executedPlan.toString.contains("ObjectHashAggregate"),
      "sidecar-proven ids must fuse row-locally")
    // ...and ARRAY-OF-STRUCT chains — which the product tier cannot
    // explode and round 16 left on the EAV tier for explicit-id
    // artifacts — now compile to the fused lateral-explode plan
    // (round-17 item 3: the deployment shape)
    val chain = Seq(
      Pattern(V("c"), C("name"), V("n")),
      Pattern(V("c"), C("pets"), V("p")),
      Pattern(V("p"), C("pn"), V("pname")))
    check(Map("default" -> opened), chain, expectRegroup = true,
      keepDBid = true)
    // a SAME-SIZE in-place byte flip of a document file (external
    // touch-up tooling — Spark never edits in place) bumps mtime,
    // fails the snapshot, and the query declines to the EAV plan
    // instead of silently regrouping against changed bytes (round-16
    // ADVICE: name+size alone passed this)
    val docFile = new java.io.File(s"$base/docs").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(docFile.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x1).toByte
    Thread.sleep(5) // ensure a distinct mtime tick
    java.nio.file.Files.write(docFile.toPath, bytes)
    check(Map("default" -> Shred.openShred(spark, s"$base/triples")),
      flat, expectRegroup = false)
  }

  test("kind-mismatched value constants match nothing (vt tag gate)") {
    // a STRING column holding "5" must NOT match the NUMBER constant 5
    // (the EAV triple's vt is "str", the constant's "num") — found live
    // in round 16: the regrouped tier matched on the canonical string
    // alone while the authority requires the vt tag too
    val strDocs = Seq((1L, "5"), (2L, "7")).toDF("id", "name")
    check(Map("default" -> Shred.shred(strDocs, Some("id"))), Seq(
      Pattern(V("e"), C("name"), C(5))), expectRegroup = true)
    val numDocs = Seq((1L, 5L), (2L, 7L)).toDF("id", "name")
    check(Map("default" -> Shred.shred(numDocs, Some("id"))), Seq(
      Pattern(V("e"), C("name"), C("5"))), expectRegroup = true)
    val boolDocs = Seq((1L, true)).toDF("id", "flag")
    check(Map("default" -> Shred.shred(boolDocs, Some("id"))), Seq(
      Pattern(V("e"), C("flag"), C("true"))), expectRegroup = true)
    // and the matched-kind twin still matches
    check(Map("default" -> Shred.shred(numDocs, Some("id"))), Seq(
      Pattern(V("e"), C("name"), C(5))), expectRegroup = true)
  }

  test("product group of ONLY kind-mismatched constants is empty, " +
      "not a crash") {
    // duplicate-id source (product mode) + every pattern a constant
    // whose kind mismatches the column: each pattern folds to
    // falseGroup WITHOUT adding an aggregate, and the group's
    // aggregate list came up empty — `aggCols.head` crashed
    // (inherited r16 bug, EavRegroupProps seed Lho_mHeos…; fixed r17
    // with a placeholder aggregate + the filter(false))
    val dup = Seq((3L, true, 2L), (3L, false, 1L), (2L, false, 1L))
      .toDF("rid", "p", "q")
    check(Map("default" -> Shred.shred(dup, Some("rid"))), Seq(
      Pattern(V("e"), C("p"), C("")),
      Pattern(V("e"), C("q"), C(false))), expectRegroup = true)
  }

  test("predicates and repeated qvars ride the regrouped path") {
    val t = Seq((1L, 5L, 5L), (2L, 5L, 7L), (3L, 2L, 2L))
      .toDF("rid", "p", "r")
    val pats = Seq(
      Pattern(V("e"), C("p"), V("x"), "t"),
      Pattern(V("e"), C("r"), V("x"), "t"))
    val src = Map("t" -> Shred.shred(t, Some("rid")))
    val got = QueryCompiler.runBoxed(src, pats,
      predicates = Seq(m => QueryCompiler.num(m("x")) > 3))
    val want = QueryReference.runBoxedCanonical(src, pats,
      predicates = Seq(m => QueryCompiler.num(m("x")) > 3))
    assert(rows(got) == rows(want))
    assert(regrouped(got))
  }
}
