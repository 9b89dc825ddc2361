package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.shred.Shred
import graft.query.QueryCompiler
import graft.query.QueryCompiler.{C, Pattern, V, W}

/** `query{}` relational core over shredded EAV frames, DuckDB-checked
  * (SURVEY.md §2.8). The oracle SQL states the *semantics* (joins over
  * the original tables); the Spark side actually exercises shred →
  * pattern filters → qvar equi-joins → distinct → projection.
  *
  * Scale: pattern frames are narrow (filter + 2-3 columns) so Catalyst
  * broadcast-joins the small ones; with triples persisted partitioned by
  * attribute, each `a === const` filter is partition pruning. The shred
  * itself is one scan + explode (no shuffle).
  */
object EavQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Single-source query: constant pattern + value qvars + numeric
    * predicate (reference query_test.cljc:90-198 shapes).
    */
  def qEavFilter(s: SparkSession, d: String): DataFrame = {
    val triples = Shred.shredAttrs(Tables.customer(s, d), Some("c_custkey"),
      Seq("c_mktsegment", "c_name", "c_acctbal"))
    QueryCompiler.run(
      Map("default" -> triples),
      Seq(
        Pattern(V("c"), C("c_mktsegment"), C("BUILDING")),
        Pattern(V("c"), C("c_name"), V("name")),
        Pattern(V("c"), C("c_acctbal"), V("bal"))),
      predicates = Seq(b => QueryCompiler.num(b("bal")) > 1000))
      .orderBy("name")
  }

  /** Two-source join on a shared value qvar — the flagship multi-DB shape
    * (reference query_test.cljc:575-675).
    */
  def qEavJoin(s: SparkSession, d: String): DataFrame = {
    // shredAttrsVerifiedAll: o_orderkey/c_custkey are primary keys,
    // but the fused row-local plan needs PROOF, not assumption — the
    // verified form pays a shred-time count-distinct proof and tags
    // the shred idFunctional, so multi-pattern groups skip the
    // duplicate-id product plan's groupBy(id) exchange (round-16
    // watch item 1; the duplicate-id tier keeps its own gate,
    // q_eav_product). BATCHED (r17): both sources' proofs run in one
    // Spark action — the per-run gate posture was paying two
    // fixed-latency proof jobs, ~2× the fused plan's own cost.
    val Seq(orders, customer) = Shred.shredAttrsVerifiedAll(Seq(
      (Tables.orders(s, d), "o_orderkey",
        Seq("o_orderpriority", "o_custkey")),
      (Tables.customer(s, d), "c_custkey",
        Seq("c_custkey", "c_name"))))
    QueryCompiler.run(
      Map("orders" -> orders, "customer" -> customer),
      Seq(
        Pattern(V("o"), C("o_orderpriority"), C("1-URGENT"), "orders"),
        Pattern(V("o"), C("o_custkey"), V("ck"), "orders"),
        Pattern(V("c"), C("c_custkey"), V("ck"), "customer"),
        Pattern(V("c"), C("c_name"), V("name"), "customer")))
      .orderBy("ck", "name")
  }

  /** [[qEavJoin]]'s query FORCED onto the typed EAV execution tier
    * (runBoxedEav): shred-aware regrouping compiles the public form
    * over the documents, so without this gate the triple-join/distinct
    * engine itself would keep only its wildcard/nested oracle gates.
    * Same oracle as q_eav_join.
    */
  def qEavTyped(s: SparkSession, d: String): DataFrame = {
    val orders = Shred.shredAttrs(Tables.orders(s, d), Some("o_orderkey"),
      Seq("o_orderpriority", "o_custkey"))
    val customer = Shred.shredAttrs(Tables.customer(s, d), Some("c_custkey"),
      Seq("c_custkey", "c_name"))
    val boxed = QueryCompiler.runBoxedEav(
      Map("orders" -> orders, "customer" -> customer),
      Seq(
        Pattern(V("o"), C("o_orderpriority"), C("1-URGENT"), "orders"),
        Pattern(V("o"), C("o_custkey"), V("ck"), "orders"),
        Pattern(V("c"), C("c_custkey"), V("ck"), "customer"),
        Pattern(V("c"), C("c_name"), V("name"), "customer")))
    boxed.select(boxed.columns.toSeq
      .map(c => boxed(c).getField("v").as(c)): _*)
      .orderBy("ck", "name")
  }

  /** Wildcard attribute position: `[?e ?a ?v]`
    * (reference query_test.cljc:104-110). Triple count per attribute.
    */
  def qEavWildcard(s: SparkSession, d: String): DataFrame =
    QueryCompiler.run(
      Shred.shred(Tables.nation(s, d), Some("n_nationkey")),
      Seq(Pattern(V("e"), V("attr"), W)))
      .groupBy("attr").agg(count(lit(1)).as("n"))
      .orderBy("attr")

  /** `$pull`-flat: shred → reassemble attribute map → project. */
  def qEavPull(s: SparkSession, d: String): DataFrame =
    Shred.unshredFlat(Shred.shred(Tables.region(s, d), Some("r_regionkey")))
      .select(col("e"), element_at(col("attrs"), "r_name").as("name"))
      .orderBy("e")

  /** $qIdent/$eIdent identity round trip at table scale: shred nation,
    * run the schema-derived identity query, rebuild with the identity
    * express template. Output = the original rows, canonical strings.
    */
  def qEavIdentity(s: SparkSession, d: String): DataFrame =
    graft.shred.Identities.roundTrip(Tables.nation(s, d),
      Some("n_nationkey"))
      .orderBy("n_nationkey")

  /** Same query as q_eav_filter via DIRECT compilation (no shred, no
    * self-joins — SURVEY §2.8 "skip EAV when the shape is known"): one
    * narrow scan with pushed filters.
    */
  def qEavDirect(s: SparkSession, d: String): DataFrame =
    QueryCompiler.runDocs(
      // idFunctional: c_custkey is the table's primary key, so the
      // caller may assert it determines the row — licensing the fused
      // single-projection plan (generator-free, pinned in PlanSpec);
      // without the assertion multi-pattern groups pay the
      // duplicate-id-safe groupBy-product plan
      Map("default" -> QueryCompiler.DocSource(
        Tables.customer(s, d), "c_custkey", idFunctional = true)),
      Seq(
        Pattern(V("c"), C("c_mktsegment"), C("BUILDING")),
        Pattern(V("c"), C("c_name"), V("name")),
        Pattern(V("c"), C("c_acctbal"), V("bal"))),
      predicates = Seq(b => QueryCompiler.num(b("bal")) > 1000))
      .orderBy("name")

  /** Nested-document source: the customer's segment/balance moved into
    * a `profile` struct, so the query must chain through a ref-typed
    * attribute (`[?c :profile ?p][?p :c_mktsegment ...]`). The regroup
    * tier resolves the chain to the nested column paths and compiles
    * the query over the documents (no ShredGenerator in the optimized
    * plan, pinned by PlanSpec); [[graft.plans.UnshredEav]] never sees
    * a triple filter here.
    */
  def qEavNested(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.customer(s, d).select(
      col("c_custkey"), col("c_name"),
      struct(col("c_mktsegment"), col("c_acctbal")).as("profile"))
    val triples = Shred.shred(docs, Some("c_custkey"))
    QueryCompiler.run(
      Map("default" -> triples),
      Seq(
        Pattern(V("c"), C("c_name"), V("name")),
        Pattern(V("c"), C("profile"), V("p")),
        Pattern(V("p"), C("c_mktsegment"), C("BUILDING")),
        Pattern(V("p"), C("c_acctbal"), V("bal"))),
      predicates = Seq(b => QueryCompiler.num(b("bal")) > 1000))
      .orderBy("name", "bal")
  }

  /** q_eav_pull's TEXT twin — the reference rm-fns program shape
    * (builtin_test.cljc:146-151) end-to-end from source text: build a
    * db with `$db`, find the entity with a keepDBid query, `$pull`
    * everything about it. Typed restore (vt): r_regionkey comes back
    * a long, not a canonical string.
    */
  def qRmPull(s: SparkSession, d: String): DataFrame = {
    val got = graft.lang.RM.evalWithSources(
      """( $theDb := $db($region);
        |  $id := query( <|keepDBid : true|> ){[?e :r_regionkey 2]}($theDb).?e;
        |  $pull($id, $theDb) )""".stripMargin,
      s, Map("region" -> Tables.region(s, d)))
      .get.asInstanceOf[Map[String, Any]]
    import s.implicits._
    Seq((got("r_regionkey").asInstanceOf[Long],
      got("r_name").asInstanceOf[String]))
      .toDF("r_regionkey", "r_name")
  }

  /** q_eav_nested's TEXT twin (round 16): the same nested-document
    * chain through the query{} SOURCE SYNTAX — exercises QueryBridge's
    * direct chain routing (struct-ref patterns resolve onto nested
    * columns; no shred, no triple self-joins) end-to-end from program
    * text against the DuckDB oracle.
    */
  def qRmNested(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.customer(s, d).select(
      col("c_custkey"), col("c_name"),
      struct(col("c_mktsegment"), col("c_acctbal")).as("profile"))
    graft.lang.RM.queryFrame(
      """query(){[?c :c_name ?name]
        |        [?c :profile ?p]
        |        [?p :c_mktsegment 'BUILDING']
        |        [?p :c_acctbal ?bal]
        |        [($number(?bal) > 1000)]}($customer)""".stripMargin,
      s, Map("customer" -> docs))
      .orderBy("name", "bal")
  }

  /** Persisted-shred round trip: write the customer docs' triple
    * store WITH provenance (Shred.shredWrite), read it back, query —
    * the read-back frame must regroup onto the document plan (pinned
    * in EavRegroupSpec; this gate pins the VALUES against DuckDB).
    * Same logical query (and oracle) as q_eav_filter.
    */
  def qEavPersist(s: SparkSession, d: String): DataFrame = {
    val base = s"/tmp/graft_eav_persist_gate"
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_name"),
        col("c_acctbal"))
      .write.mode("overwrite").parquet(s"$base/docs")
    Shred.shredWrite(s, s"$base/docs", Some("c_custkey"),
      s"$base/triples")
    QueryCompiler.run(
      Map("default" -> Shred.openShred(s, s"$base/triples")),
      Seq(
        Pattern(V("c"), C("c_mktsegment"), C("BUILDING")),
        Pattern(V("c"), C("c_name"), V("name")),
        Pattern(V("c"), C("c_acctbal"), V("bal"))),
      predicates = Seq(b => QueryCompiler.num(b("bal")) > 1000))
      .orderBy("name")
  }

  /** The duplicate-id-safe PRODUCT tier's own oracle gate (round 17):
    * lineitem shredded by l_orderkey — genuinely duplicate ids (one
    * entity per ORDER, several lines each) with no uniqueness proof,
    * so multi-pattern groups compile to the per-entity groupBy plan
    * (collect_set aggregates + explodes). The EAV semantics this must
    * reproduce: the constant pattern admits an entity if ANY of its
    * rows matches, and the two value qvars bind the per-entity CROSS
    * PRODUCT of distinct value sets — not the row-local zip. Keeps the
    * product plan oracle-pinned and benched now that q_eav_join's
    * proven-key sources fuse (round-16 next-round item 4).
    */
  def qEavProduct(s: SparkSession, d: String): DataFrame = {
    val li = Shred.shredAttrs(Tables.lineitem(s, d), Some("l_orderkey"),
      Seq("l_linestatus", "l_returnflag", "l_linenumber"))
    QueryCompiler.run(
      Map("default" -> li),
      Seq(
        Pattern(V("o"), C("l_linestatus"), C("F")),
        Pattern(V("o"), C("l_returnflag"), V("f")),
        Pattern(V("o"), C("l_linenumber"), V("n"))))
      .orderBy("f", "n")
  }

  val all: Map[String, Q] = Map(
    "q_eav_product" -> (qEavProduct _),
    "q_rm_nested" -> (qRmNested _),
    "q_eav_persist" -> (qEavPersist _),
    "q_eav_nested" -> (qEavNested _),
    "q_eav_direct" -> (qEavDirect _),
    "q_eav_identity" -> (qEavIdentity _),
    "q_eav_filter" -> (qEavFilter _),
    "q_eav_join" -> (qEavJoin _),
    "q_eav_typed" -> (qEavTyped _),
    "q_eav_wildcard" -> (qEavWildcard _),
    "q_eav_pull" -> (qEavPull _),
    "q_rm_pull" -> (qRmPull _))

  // Canonical string of a numeric column (matches Shred's encoding).
  private def canonNum(col: String): String =
    s"""CASE WHEN $col = CAST(CAST($col AS BIGINT) AS DOUBLE)
       |  THEN CAST(CAST($col AS BIGINT) AS VARCHAR)
       |  ELSE CAST($col AS VARCHAR) END""".stripMargin

  val oracles: Map[String, String] = Map(
    // per entity (= orderkey): distinct over (o, f, n) joined on the
    // shared entity — the Datalog per-entity cross product — THEN the
    // entity column is dropped, so per-entity duplicates of (f, n)
    // across orderkeys survive (builtin.cljc:1752-1758 semantics, as
    // in q_eav_join's oracle)
    "q_eav_product" ->
      """SELECT f, n FROM (
        |  SELECT DISTINCT a.l_orderkey,
        |    a.l_returnflag AS f,
        |    CAST(b.l_linenumber AS VARCHAR) AS n
        |  FROM lineitem a JOIN lineitem b USING (l_orderkey)
        |  WHERE a.l_orderkey IN (
        |    SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'))
        |ORDER BY f, n""".stripMargin,
    "q_rm_nested" ->
      s"""SELECT c_name AS name, ${canonNum("c_acctbal")} AS bal
         |FROM customer
         |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000
         |ORDER BY name, bal""".stripMargin,
    "q_eav_persist" ->
      s"""SELECT c_name AS name, ${canonNum("c_acctbal")} AS bal
         |FROM customer
         |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000
         |ORDER BY name""".stripMargin,
    "q_eav_nested" ->
      s"""SELECT c_name AS name, ${canonNum("c_acctbal")} AS bal
         |FROM customer
         |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000
         |ORDER BY name, bal""".stripMargin,
    "q_eav_direct" ->
      s"""SELECT c_name AS name, ${canonNum("c_acctbal")} AS bal
         |FROM customer
         |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000
         |ORDER BY name""".stripMargin,
    "q_eav_identity" ->
      """SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey,
        |  n_name, CAST(n_regionkey AS VARCHAR) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q_eav_filter" ->
      s"""SELECT c_name AS name, ${canonNum("c_acctbal")} AS bal
         |FROM customer
         |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000
         |ORDER BY name""".stripMargin,
    "q_eav_join" ->
      // one row PER URGENT ORDER: distinct applies over all qvars incl.
      // entity vars, which are dropped only afterwards (reference
      // builtin.cljc:1752-1758), so per-entity duplicates survive.
      """SELECT CAST(o_custkey AS VARCHAR) AS ck, c_name AS name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderpriority = '1-URGENT'
        |ORDER BY ck, name""".stripMargin,
    "q_eav_typed" ->
      """SELECT CAST(o_custkey AS VARCHAR) AS ck, c_name AS name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderpriority = '1-URGENT'
        |ORDER BY ck, name""".stripMargin,
    "q_eav_wildcard" ->
      """SELECT a AS attr, count(*) AS n FROM (
        |  SELECT 'n_nationkey' AS a FROM nation
        |  UNION ALL SELECT 'n_name' FROM nation
        |  UNION ALL SELECT 'n_regionkey' FROM nation)
        |GROUP BY a ORDER BY a""".stripMargin,
    "q_eav_pull" ->
      """SELECT CAST(r_regionkey AS VARCHAR) AS e, r_name AS name
        |FROM region ORDER BY e""".stripMargin,
    "q_rm_pull" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
        |FROM region WHERE r_regionkey = 2""".stripMargin)
}
