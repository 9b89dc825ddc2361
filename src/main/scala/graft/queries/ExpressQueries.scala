package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.shred.Shred
import graft.query.QueryCompiler
import graft.query.QueryCompiler.{C, Pattern, V}
import graft.express.Express
import graft.express.Express._

/** The flagship end-to-end slice (SURVEY.md §7.2): ingest → shred →
  * query{} multi-source join → express{} $reduce groupBy cascade →
  * nested document, all oracle-checked (nested values serialized with
  * to_json on both engines).
  */
object ExpressQueries {
  type Q = (SparkSession, String) => DataFrame

  /** shred(region)+shred(nation) → query join on ?rk → reduce template
    * {'region': key(?rname), 'nations': [{'nation': key(?nname)}]}.
    */
  def qExpressReduce(s: SparkSession, d: String): DataFrame = {
    val region = Shred.shredAttrs(Tables.region(s, d), Some("r_regionkey"),
      Seq("r_regionkey", "r_name"))
    val nation = Shred.shredAttrs(Tables.nation(s, d), Some("n_nationkey"),
      Seq("n_regionkey", "n_name"))
    val bsets = QueryCompiler.run(
      Map("region" -> region, "nation" -> nation),
      Seq(
        Pattern(V("r"), C("r_regionkey"), V("rk"), "region"),
        Pattern(V("r"), C("r_name"), V("rname"), "region"),
        Pattern(V("n"), C("n_regionkey"), V("rk"), "nation"),
        Pattern(V("n"), C("n_name"), V("nname"), "nation")))
    val tmpl = XObj.of(
      KKey("region", "rname") -> XLit(null),
      KLit("nations") -> XArr(XObj.of(
        KKey("nation", "nname") -> XLit(null))))
    Express.reduceBsets(bsets, tmpl)
      .select(col("region"), to_json(col("nations")).as("nations_json"))
      .orderBy("region")
  }

  /** Three-level reduce over real tables: region → nation → top
    * customers, exercising the innermost-out groupBy cascade.
    */
  def qExpressNested(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    val bsets = c
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("r_name").as("rname"), col("n_name").as("nname"),
        col("c_name").as("cname"))
    val tmpl = XObj.of(
      KKey("region", "rname") -> XLit(null),
      KLit("nations") -> XArr(XObj.of(
        KKey("nation", "nname") -> XLit(null),
        KLit("customers") -> XArr(XObj.of(
          KKey("customer", "cname") -> XLit(null))))))
    Express.reduceBsets(bsets, tmpl)
      .select(col("region"), to_json(col("nations")).as("nations_json"))
      .orderBy("region")
  }

  /** $map: per-bset nested projection with struct output. */
  def qExpressMap(s: SparkSession, d: String): DataFrame = {
    val bs = Tables.orders(s, d).select(
      col("o_orderkey").as("okey"), col("o_orderstatus").as("status"),
      col("o_orderpriority").as("prio"))
    val tmpl = XObj.of(
      KLit("order") -> XVar("okey"),
      KLit("meta") -> XObj.of(
        KLit("status") -> XVar("status"),
        KLit("priority") -> XVar("prio")))
    Express.mapBsets(bs, tmpl)
      .select(col("doc.order").as("okey"), to_json(col("doc")).as("doc_json"))
      .orderBy("okey")
  }

  /** $map with qvar-in-key-position: dynamic single-entry maps. */
  def qExpressMapKeys(s: SparkSession, d: String): DataFrame = {
    val bs = Tables.region(s, d).select(
      col("r_name").as("name"), col("r_regionkey").as("rk"))
    val tmpl = XObj.of(KVar("name") -> XVar("rk"))
    Express.mapBsets(bs, tmpl)
      .select(to_json(col("doc")).as("doc_json"))
      .orderBy("doc_json")
  }

  /** The flagship e2e driven ENTIRELY from reference-language source
    * text over real tables: query{} multi-source join → express{}
    * reduce, distributed end-to-end, same oracle as q_express_reduce.
    */
  def qRmE2e(s: SparkSession, d: String): DataFrame =
    graft.lang.RM.queryFrame(
      """( $bsets := query(){[$region ?r :r_regionkey ?rk]
        |                    [$region ?r :r_name      ?rname]
        |                    [$nation ?n :n_regionkey ?rk]
        |                    [$nation ?n :n_name      ?nname]}
        |             ($region, $nation);
        |  $reduce($bsets, express(){{'region'  : key(?rname),
        |                             'nations' : [{'nation' : key(?nname)}]}}) )""".stripMargin,
      s, Map("region" -> Tables.region(s, d),
        "nation" -> Tables.nation(s, d)))
      .select(col("region"), to_json(col("nations")).as("nations_json"))
      .orderBy("region")

  /** `.{...}` reduce (grouping) step through the text surface, at
    * table scale: per-order line items grouped by return flag with a
    * per-group aggregate, the resulting map exploded back to rows so
    * the oracle compares relationally (key order irrelevant).
    */
  def qReduceStep(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    // collect order is nondeterministic, which is fine: it only sets
    // map key order, and the explode + orderBy compare relationally
    val base = l.groupBy("l_orderkey")
      .agg(collect_list(struct(
        col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("qty"))).as("items"))
    // explode_outer, NOT explode: InferFiltersFromGenerate pairs a
    // plain explode with a size(e) > 0 filter that pushdown then
    // rewrites in terms of the FULL reduce-step map tree — evaluating
    // the interpreted HOF cascade twice per row (measured 2× on this
    // gate). Reduce-step map keys are non-null by construction, so
    // outer-explode + dropping the null-key row (an EMPTY map's only
    // outer row) is exactly explode's semantics with the map built
    // once.
    graft.lang.RM.evalCol("items{flag : $sum(qty)}", base,
        keep = Seq("l_orderkey"))
      .select(col("l_orderkey"),
        explode_outer(col("value")).as(Seq("flag", "qty_sum")))
      .filter(col("flag").isNotNull)
      .orderBy("l_orderkey", "flag")
  }

  /** Depth-4 express reduce — region → nation → customer → orders —
    * the deepest nesting the reference's own tests exercise plus one.
    * Each level is one hash aggregation in the groupBy cascade; the
    * gate pins values (against DuckDB's nested list/struct JSON) and
    * the bench watches the cascade's cost at sf0.1 (SURVEY §4 item 6:
    * a TypedImperativeAggregate tree-merge would trade these L
    * prefix-keyed shuffles for one root-keyed shuffle).
    */
  def qExpressDeep(s: SparkSession, d: String): DataFrame = {
    val bsets = Tables.region(s, d)
      .join(Tables.nation(s, d), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.customer(s, d).filter(col("c_acctbal") > 9900),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("r_name").as("rname"), col("n_name").as("nname"),
        col("c_name").as("cname"), col("o_orderkey").as("okey"))
    val tmpl = XObj.of(
      KKey("region", "rname") -> XLit(null),
      KLit("nations") -> XArr(XObj.of(
        KKey("nation", "nname") -> XLit(null),
        KLit("customers") -> XArr(XObj.of(
          KKey("cust", "cname") -> XLit(null),
          KLit("orders") -> XArr(XObj.of(
            KKey("okey", "okey") -> XLit(null))))))))
    Express.reduceBsets(bsets, tmpl)
      .select(col("region"), to_json(col("nations")).as("nations_json"))
      .orderBy("region")
  }

  /** Skewed-key express reduce (VERDICT r8 item 5): the top level has
    * THREE keys (o_orderstatus) over the whole orders table — 29 of 32
    * reducers idle at the final aggregation, the worst key-distribution
    * shape for the cascade. The cascade stays safe because the inner
    * levels key on (status, priority, okey) prefixes that spread load;
    * the measured alternative (single root-keyed shuffle, recorded
    * under ROADMAP "Settled by measurement", round 9) would put
    * ~1/3 of the corpus in ONE task's buffer. Orders are sampled
    * deterministically (okey % 100) to bound the leaf lists the gate
    * hash-compares; the 3-key skew shape is unaffected.
    */
  def qExpressSkew(s: SparkSession, d: String): DataFrame = {
    val bsets = Tables.orders(s, d)
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("prio"),
        col("o_orderkey").as("okey"))
    val tmpl = XObj.of(
      KKey("status", "status") -> XLit(null),
      KLit("priorities") -> XArr(XObj.of(
        KKey("priority", "prio") -> XLit(null),
        KLit("orders") -> XArr(XObj.of(
          KKey("okey", "okey") -> XLit(null))))))
    Express.reduceBsets(bsets, tmpl)
      .select(col("status"),
        to_json(col("priorities")).as("priorities_json"))
      .orderBy("status")
  }

  val all: Map[String, Q] = Map(
    "q_express_deep" -> (qExpressDeep _),
    "q_express_skew" -> (qExpressSkew _),
    "q_reduce_step" -> (qReduceStep _),
    "q_rm_e2e" -> (qRmE2e _),
    "q_express_reduce" -> (qExpressReduce _),
    "q_express_nested" -> (qExpressNested _),
    "q_express_map" -> (qExpressMap _),
    "q_express_map_keys" -> (qExpressMapKeys _))

  val oracles: Map[String, String] = Map(
    "q_express_skew" ->
      """WITH base AS (
        |  SELECT o_orderstatus AS status, o_orderpriority AS prio,
        |    o_orderkey AS okey
        |  FROM orders WHERE o_orderkey % 100 = 0),
        |l2 AS (
        |  SELECT status, prio,
        |    list(struct_pack(okey := okey) ORDER BY okey) AS orders
        |  FROM base GROUP BY 1, 2)
        |SELECT status, to_json(list(struct_pack(priority := prio,
        |  orders := orders) ORDER BY prio)) AS priorities_json
        |FROM l2 GROUP BY 1 ORDER BY status""".stripMargin,
    "q_express_deep" ->
      """WITH base AS (
        |  SELECT r_name AS rname, n_name AS nname, c_name AS cname,
        |    o_orderkey AS okey
        |  FROM region
        |  JOIN nation ON n_regionkey = r_regionkey
        |  JOIN customer ON c_nationkey = n_nationkey
        |  JOIN orders ON o_custkey = c_custkey
        |  WHERE c_acctbal > 9900),
        |l3 AS (
        |  SELECT rname, nname, cname,
        |    list(struct_pack(okey := okey) ORDER BY okey) AS orders
        |  FROM base GROUP BY 1, 2, 3),
        |l2 AS (
        |  SELECT rname, nname, list(struct_pack(cust := cname,
        |    orders := orders) ORDER BY cname) AS customers
        |  FROM l3 GROUP BY 1, 2)
        |SELECT rname AS region, to_json(list(struct_pack(nation := nname,
        |  customers := customers) ORDER BY nname)) AS nations_json
        |FROM l2 GROUP BY 1 ORDER BY region""".stripMargin,
    "q_reduce_step" ->
      """SELECT l_orderkey, l_returnflag AS flag,
        |  sum(CAST(trunc(l_quantity) AS BIGINT)) AS qty_sum -- trunc: Spark cast("long") truncates, DuckDB CAST rounds
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_rm_e2e" ->
      """SELECT r_name AS region,
        |  to_json(list(struct_pack(nation := n_name) ORDER BY n_name))
        |    AS nations_json
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |GROUP BY r_name ORDER BY region""".stripMargin,
    "q_express_reduce" ->
      """SELECT r_name AS region,
        |  to_json(list(struct_pack(nation := n_name) ORDER BY n_name))
        |    AS nations_json
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |GROUP BY r_name ORDER BY region""".stripMargin,
    "q_express_nested" ->
      """SELECT r_name AS region,
        |  to_json(list(struct_pack(nation := n_name, customers := custs)
        |               ORDER BY n_name)) AS nations_json
        |FROM (
        |  SELECT r_name, n_name,
        |    list(struct_pack(customer := c_name) ORDER BY c_name) AS custs
        |  FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE c_acctbal > 9000
        |  GROUP BY r_name, n_name)
        |GROUP BY r_name ORDER BY region""".stripMargin,
    "q_express_map" ->
      """SELECT o_orderkey AS okey,
        |  to_json(struct_pack("order" := o_orderkey,
        |    meta := struct_pack(status := o_orderstatus,
        |                        priority := o_orderpriority))) AS doc_json
        |FROM orders ORDER BY okey""".stripMargin,
    "q_express_map_keys" ->
      """SELECT to_json(map([r_name], [r_regionkey])) AS doc_json
        |FROM region ORDER BY doc_json""".stripMargin)
}
