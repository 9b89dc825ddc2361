package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Jsonata

/** DuckDB-oracle-checked queries exercising the JSONata function surface
  * (SURVEY.md §2.2–§2.7, §2.10) in distributed plans over the synthetic
  * tables. Everything here is a narrow projection + orderBy — the scan
  * prunes to the referenced columns and all functions are codegen'd
  * Column expressions (custom expressions are CodegenFallback but remain
  * row-local projections: no shuffle, no driver participation).
  */
object FunctionQueries {
  type Q = (SparkSession, String) => DataFrame

  /** §2.2 strings over part. */
  def fString(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    p.select(
      col("p_partkey"),
      upper(col("p_name")).as("up"),
      Jsonata.substring(col("p_name"), lit(3), Some(lit(5))).as("sub"),
      Jsonata.substringBefore(col("p_type"), lit(" ")).as("before"),
      Jsonata.substringAfter(col("p_name"), lit("a")).as("after"),
      Jsonata.pad(col("p_brand"), -12, "#").as("padded"),
      Jsonata.trim(col("p_type")).as("trimmed"),
      Jsonata.base64encode(col("p_brand")).as("b64"),
      size(Jsonata.split(col("p_name"), " ")).cast("long").as("spl"),
      concat_ws("-", col("p_brand"), col("p_type")).as("joined"),
      Jsonata.replaceRegex(col("p_name"), "[aeiou]", "*").as("repl"))
      .orderBy("p_partkey")
  }

  /** §2.3 numerics over part; formatInteger/parseInteger validated as a
    * distributed round-trip (DuckDB lacks the pictures).
    */
  def fNumeric(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    p.select(
      col("p_partkey"),
      Jsonata.abs(col("p_retailprice") - 1000).as("absv"),
      Jsonata.ceil(col("p_retailprice")).cast("long").as("ceilv"),
      Jsonata.floor(col("p_retailprice")).cast("long").as("floorv"),
      Jsonata.sqrt(col("p_retailprice")).as("sq"),
      Jsonata.power(col("p_size"), lit(2)).as("pw"),
      Jsonata.formatBase(col("p_partkey"), 16).as("fb"),
      Jsonata.number(col("p_size").cast("string")).as("nm"),
      (Jsonata.parseInteger(
        Jsonata.formatInteger(col("p_size"), "w"), "w") === col("p_size"))
        .as("fmt_roundtrip"))
      .orderBy("p_partkey")
  }

  /** §2.10 date/time over orders: picture-driven formatting + millis. */
  def fDatetime(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC so the cast is exact
    val ms = unix_millis(col("o_orderdate").cast("timestamp"))
    o.select(
      col("o_orderkey"),
      ms.as("ms"),
      Jsonata.fromMillis(ms, "[Y0001]-[M01]-[D01]").as("day"),
      Jsonata.fromMillis(ms, "[H01]:[m01]").as("hm"),
      Jsonata.fromMillis(ms, "[FNn]").as("dow"),
      Jsonata.fromMillis(ms, "[MNn]").as("mon"),
      Jsonata.toMillis(Jsonata.fromMillis(ms)).as("ms_rt"))
      .orderBy("o_orderkey")
  }

  /** §2.4/§2.6 array functions over per-order lineitem arrays. The
    * group-then-array shape is the distributed form of the reference's
    * array builtins: collect_list is a partial-aggregated shuffle, the
    * array functions then run row-local.
    */
  def fArray(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    l.groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_linenumber"))).as("arr"))
      .select(
        col("l_orderkey"),
        size(col("arr")).cast("long").as("n"),
        Jsonata.join(Jsonata.reverseArr(col("arr")).cast("array<string>"), ",")
          .as("rev_str"),
        Jsonata.sumArr(col("arr")).as("sm"),
        Jsonata.averageArr(col("arr")).as("av"),
        Jsonata.maxArr(col("arr")).as("mx"),
        size(Jsonata.distinctArr(col("arr"))).cast("long").as("dn"),
        array_contains(col("arr"), 3).as("c3"),
        Jsonata.aref(col("arr"), lit(1)).as("second"))
      .orderBy("l_orderkey")
  }

  /** §2.7 objects: events.props JSON → map, widened in-query to a
    * 3-key map with computed entries so every object-function oracle
    * DISCRIMINATES (the raw fixture has one key per row, which made
    * reduceKV/assoc checks tautological): vsum sums three distinct
    * values, assoc/update/sift results vary per row, and merge is
    * exercised with an overlapping key in both override directions.
    */
  def fObject(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    val e = Tables.events(s, d)
    val m0c = from_json(col("props"),
      org.apache.spark.sql.types.DataType.fromDDL("map<string,long>"))
    // STAGE the parsed+merged map in its own projection: seven output
    // columns consume it, and the HOF lambdas (sift/update/reduceKV)
    // are CodegenFallback, so a single collapsed projection evaluates
    // interpreted WITHOUT common-subexpression elimination — every
    // column re-parsing the JSON made the full-evaluation pass ~8
    // json parses per row (4.5+ s at sf0.1, worst f_* query).
    // CollapseProject keeps this split: it never inlines a non-cheap
    // alias consumed more than once.
    val staged = e.select(col("event_id"), m0c.as("__m0"),
      Jsonata.merge(m0c, map(lit("q1"), col("event_id") % 7,
        lit("q2"), col("event_id") % 11)).as("__m"))
    val m0 = col("__m0")
    val m = col("__m")
    staged.select(
      col("event_id"),
      Jsonata.lookup(m, lit("k")).as("kval"),
      size(Jsonata.keys(m)).cast("long").as("nk"),
      Jsonata.join(Jsonata.keys(m).cast("array<string>"), ",").as("ks"),
      Jsonata.lookup(Jsonata.assoc(m, lit("x"), col("event_id") % 5),
        lit("x")).as("xval"),
      Jsonata.reduceKV(m, lit(0L), (acc, _, v) => acc + v).as("vsum"),
      Jsonata.lookup(Jsonata.merge(map(lit("k"), lit(-1L)), m0), lit("k"))
        .as("mval"),
      size(Jsonata.sift(m, (v, _) => v >= 7)).cast("long").as("nsift"),
      Jsonata.lookup(Jsonata.update(m, lit("q1"), v => v * 10), lit("q1"))
        .as("upd"))
      .orderBy("event_id")
  }

  /** §2.5 truthiness over documents. */
  def fTruthy(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    doc.select(
      col("doc_id"),
      Jsonata.boolean(col("text")).as("tb_text"),
      Jsonata.boolean(col("n_chars") - 500).as("tb_num"),
      Jsonata.not(col("n_chars") - 500).as("nb_num"),
      Jsonata.exists(col("lang")).as("ex_lang"))
      .orderBy("doc_id")
  }

  /** $match custom expression with oracle parity via regexp_extract_all. */
  def fRegex(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
    val m = Jsonata.rmatch(col("p_name"), "([aeiou])([aeiou])")
    val first = try_element_at(m, lit(1))
    p.select(
      col("p_partkey"),
      coalesce(first.getField("match"), lit("")).as("first_match"),
      size(m).cast("long").as("n_matches"),
      first.getField("index").as("idx"),
      coalesce(element_at(first.getField("groups"), 2), lit("")).as("g2"))
      .orderBy("p_partkey")
  }

  /** Path-step semantics (SURVEY §2.1) at table scale: per-customer
    * order arrays, then the NON-COMPOSITIONAL `a[i]` rule — first
    * quantity of each order (per parent), then the first of those.
    * The path goes through the text frontend over the frame's columns
    * (RM.evalCol): `os.qtys[0]` indexes each order's quantities, `.$`
    * splices the per-parent hits into one sequence, and `[0]` takes
    * its first element.
    */
  def fPathSteps(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val perOrder = l.groupBy("l_orderkey")
      .agg(array_sort(collect_list(
        struct(col("l_linenumber"), col("l_quantity")))).as("items"))
      .select(col("l_orderkey"),
        transform(col("items"), _.getField("l_quantity")).as("qtys"))
    val perCust = o.join(perOrder, o("o_orderkey") === perOrder("l_orderkey"))
      .groupBy(col("o_custkey").as("custkey"))
      .agg(array_sort(collect_list(
        struct(col("o_orderkey"), col("qtys")))).as("os"))
      .select(col("custkey"),
        size(col("os")).cast("long").as("n_orders"), col("os"))
    graft.lang.RM.evalCol("os.qtys[0].$[0]", perCust,
        keep = Seq("custkey", "n_orders"))
      .withColumnRenamed("value", "first_qty")
      .orderBy("custkey")
  }

  /** The text frontend on the distributed path: an RM expression string
    * compiled per-row over a real table (RM.evalCol), oracle-checked.
    */
  def fRmExpr(s: SparkSession, d: String): DataFrame =
    graft.lang.RM.evalCol(
      "o_totalprice > 150000 ? 'large' : ($substringBefore(" +
        "o_orderpriority, '-') & ':' & o_orderstatus)",
      Tables.orders(s, d), keep = Seq("o_orderkey"))
      .orderBy("o_orderkey")

  /** Text query{} over a REAL table — fully distributed (no driver
    * bridge): the reference's query syntax against warehouse data.
    */
  def fRmQuery(s: SparkSession, d: String): DataFrame =
    graft.lang.RM.queryFrame(
      """query(){[?c :c_mktsegment 'BUILDING']
        |        [?c :c_name ?name]
        |        [?c :c_acctbal ?bal]
        |        [($number(?bal) > 1000)]}($customer)""".stripMargin,
      s, Map("customer" -> Tables.customer(s, d)))
      .orderBy("name")

  /** Typed predicate bindings (round 7): bare `[(?size = 5)]` /
    * `[(?price > 1500)]` with NO $number — the reference binds
    * native-typed values inside predicates (Datahike values,
    * builtin.cljc:1695-1838), so numeric comparisons work directly.
    * The direct doc path types the bindings statically from the
    * parquet schema; QueryBridge.typedPredEnv.
    */
  def fRmPred(s: SparkSession, d: String): DataFrame =
    graft.lang.RM.queryFrame(
      """query(){[?p :p_size ?size]
        |        [?p :p_name ?name]
        |        [?p :p_retailprice ?price]
        |        [(?size = 5)]
        |        [(?price > 950)]}($part)""".stripMargin,
      s, Map("part" -> Tables.part(s, d)))
      .orderBy("name")

  /** Text query{} mixing a REAL table with a program-literal lookup
    * list — exercises the typed-restore path (QueryBridge.typedBsets).
    * The oracle pins the restored types (pri → long, bal → double) and
    * PlanSpec pins that the result still streams from the parquet scan
    * (the joined output is never collected to the driver).
    */
  def qRmMixed(s: SparkSession, d: String): DataFrame =
    graft.lang.RM.queryFrame(
      """( $segs := [{'seg': 'BUILDING', 'pri': 1},
        |            {'seg': 'AUTOMOBILE', 'pri': 2}];
        |  query(){[$DBc ?c :c_mktsegment ?seg]
        |          [$DBc ?c :c_name ?name]
        |          [$DBc ?c :c_acctbal ?bal]
        |          [$DBs ?x :seg ?seg]
        |          [$DBs ?x :pri ?pri]}($customer, $segs) )""".stripMargin,
      s, Map("customer" -> Tables.customer(s, d)))
      .orderBy("name")

  /** Distributed keyed fold through the text surface ($reduceByKey —
    * the corpus-scale twin of the 65536-row-capped driver frame fold,
    * VERDICT r12 item 4): per-order quantity totals over lineitem,
    * folded entirely in-plan (groupBy + sort_array + the codegen'd
    * aggregate HOF applying the compiled user function) — the frame
    * is never collected. Quantities are integral doubles, so the
    * double fold is order-free and exact, and the oracle replays it
    * as a plain GROUP BY sum. Input is a deterministic 10% order
    * slice — the EAV text bridge's gate convention (dimension-scale
    * inputs, like f_rm_query/q_eav_* over customer): shredding the
    * FULL fact table measured 14.5×/decade at sf10 (spill-bound
    * string-EAV shuffles, BENCH_sf10_r13 attribution), which is the
    * bridge's cost profile, not the fold's — the fold itself is one
    * keyed shuffle.
    */
  def qRmRbk(s: SparkSession, d: String): DataFrame =
    graft.lang.RM.queryFrame(
      """( $bs := query(){[?e :l_orderkey ?okey]
        |                 [?e :l_quantity ?qty]}($li);
        |  $reduceByKey($bs, 'okey', 'qty',
        |    function($a, $x) { $a + $number($x) }) )""".stripMargin,
      s, Map("li" -> Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 10 === 0)))
      .orderBy("okey")

  val all: Map[String, Q] = Map(
    "q_rm_rbk" -> (qRmRbk _),
    "q_rm_mixed" -> (qRmMixed _),
    "f_rm_query" -> (fRmQuery _),
    "f_rm_pred" -> (fRmPred _),
    "f_rm_expr" -> (fRmExpr _),
    "f_path_steps" -> (fPathSteps _),
    "f_string" -> (fString _),
    "f_numeric" -> (fNumeric _),
    "f_datetime" -> (fDatetime _),
    "f_array" -> (fArray _),
    "f_object" -> (fObject _),
    "f_truthy" -> (fTruthy _),
    "f_regex" -> (fRegex _))

  val oracles: Map[String, String] = Map(
    "q_rm_rbk" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS okey,
        |  sum(l_quantity) AS value
        |FROM lineitem WHERE l_orderkey % 10 = 0
        |GROUP BY 1 ORDER BY okey""".stripMargin,
    "q_rm_mixed" ->
      """SELECT DISTINCT c_mktsegment AS seg, c_name AS name,
        |  c_acctbal AS bal, CAST(s.pri AS BIGINT) AS pri
        |FROM customer
        |JOIN (VALUES ('BUILDING', 1), ('AUTOMOBILE', 2)) s(seg, pri)
        |  ON c_mktsegment = s.seg
        |ORDER BY name""".stripMargin,
    "f_rm_pred" ->
      """SELECT DISTINCT CAST(p_size AS VARCHAR) AS size, p_name AS name,
        |  CASE WHEN p_retailprice = CAST(CAST(p_retailprice AS BIGINT) AS DOUBLE)
        |    THEN CAST(CAST(p_retailprice AS BIGINT) AS VARCHAR)
        |    ELSE CAST(p_retailprice AS VARCHAR) END AS price
        |FROM part
        |WHERE p_size = 5 AND p_retailprice > 950
        |ORDER BY name""".stripMargin,
    "f_rm_query" ->
      """SELECT c_name AS name,
        |  CASE WHEN c_acctbal = CAST(CAST(c_acctbal AS BIGINT) AS DOUBLE)
        |    THEN CAST(CAST(c_acctbal AS BIGINT) AS VARCHAR)
        |    ELSE CAST(c_acctbal AS VARCHAR) END AS bal
        |FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000
        |ORDER BY name""".stripMargin,
    "f_rm_expr" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 150000 THEN 'large'
        |    ELSE (CASE WHEN strpos(o_orderpriority, '-') > 0
        |      THEN substr(o_orderpriority, 1,
        |             strpos(o_orderpriority, '-') - 1)
        |      ELSE o_orderpriority END)
        |         || ':' || o_orderstatus END AS value
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "f_path_steps" ->
      // l_linenumber repeats within an order; tie-break on quantity to
      // match the struct sort on the Spark side
      """SELECT o_custkey AS custkey, count(*) AS n_orders,
        |  arg_min(fq, o_orderkey) AS first_qty
        |FROM (
        |  SELECT o_orderkey, o_custkey, l_quantity AS fq
        |  FROM (
        |    SELECT o_orderkey, o_custkey, l_quantity,
        |      row_number() OVER (PARTITION BY o_orderkey
        |        ORDER BY l_linenumber, l_quantity) AS rn
        |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        |  WHERE rn = 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "f_string" ->
      """SELECT p_partkey,
        |  upper(p_name) AS up,
        |  substr(p_name, 4, 5) AS sub,
        |  CASE WHEN strpos(p_type, ' ') > 0
        |    THEN substr(p_type, 1, strpos(p_type, ' ') - 1) ELSE p_type END AS before,
        |  CASE WHEN strpos(p_name, 'a') > 0
        |    THEN substr(p_name, strpos(p_name, 'a') + 1) ELSE p_name END AS after,
        |  CASE WHEN length(p_brand) >= 12 THEN p_brand
        |    ELSE lpad(p_brand, 12, '#') END AS padded,
        |  trim(regexp_replace(p_type, '\s+', ' ', 'g')) AS trimmed,
        |  base64(CAST(p_brand AS BLOB)) AS b64,
        |  len(str_split(p_name, ' ')) AS spl,
        |  concat_ws('-', p_brand, p_type) AS joined,
        |  regexp_replace(p_name, '[aeiou]', '*', 'g') AS repl
        |FROM part ORDER BY p_partkey""".stripMargin,
    "f_numeric" ->
      """SELECT p_partkey,
        |  abs(p_retailprice - 1000) AS absv,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS ceilv,
        |  CAST(floor(p_retailprice) AS BIGINT) AS floorv,
        |  sqrt(p_retailprice) AS sq,
        |  power(p_size, 2) AS pw,
        |  lower(to_base(p_partkey, 16)) AS fb,
        |  CAST(CAST(p_size AS VARCHAR) AS DOUBLE) AS nm,
        |  TRUE AS fmt_roundtrip
        |FROM part ORDER BY p_partkey""".stripMargin,
    "f_datetime" ->
      """SELECT o_orderkey,
        |  epoch_ms(o_orderdate) AS ms,
        |  strftime(o_orderdate, '%Y-%m-%d') AS day,
        |  strftime(o_orderdate, '%H:%M') AS hm,
        |  strftime(o_orderdate, '%A') AS dow,
        |  strftime(o_orderdate, '%B') AS mon,
        |  epoch_ms(o_orderdate) AS ms_rt
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "f_array" ->
      """SELECT l_orderkey, len(arr) AS n,
        |  array_to_string(list_reverse(arr), ',') AS rev_str,
        |  CAST(list_sum(arr) AS DOUBLE) AS sm,
        |  CAST(list_sum(arr) AS DOUBLE) / len(arr) AS av,
        |  list_max(arr) AS mx,
        |  len(list_distinct(arr)) AS dn,
        |  list_contains(arr, 3) AS c3,
        |  arr[2] AS second
        |FROM (SELECT l_orderkey,
        |        list_sort(list(l_linenumber)) AS arr
        |      FROM lineitem GROUP BY l_orderkey)
        |ORDER BY l_orderkey""".stripMargin,
    "f_object" ->
      """SELECT event_id, kv AS kval,
        |  len(json_keys(props)) + 2 AS nk,
        |  array_to_string(json_keys(props) || ['q1', 'q2'], ',') AS ks,
        |  event_id % 5 AS xval,
        |  kv + event_id % 7 + event_id % 11 AS vsum,
        |  kv AS mval,
        |  len(list_filter([kv, event_id % 7, event_id % 11],
        |    v -> v >= 7)) AS nsift,
        |  (event_id % 7) * 10 AS upd
        |FROM (SELECT *,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv -- TRY_: a malformed value must compare as NULL, not abort the run
        |  FROM events)
        |ORDER BY event_id""".stripMargin,
    "f_truthy" ->
      """SELECT doc_id,
        |  coalesce(length(text) > 0, false) AS tb_text,
        |  coalesce(n_chars - 500 <> 0, false) AS tb_num,
        |  NOT coalesce(n_chars - 500 <> 0, false) AS nb_num,
        |  lang IS NOT NULL AS ex_lang
        |FROM documents ORDER BY doc_id""".stripMargin,
    "f_regex" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '([aeiou])([aeiou])') AS first_match,
        |  len(regexp_extract_all(p_name, '([aeiou])([aeiou])')) AS n_matches,
        |  CASE WHEN regexp_extract(p_name, '([aeiou])([aeiou])') <> ''
        |    THEN strpos(p_name, regexp_extract(p_name, '([aeiou])([aeiou])')) - 1
        |    ELSE NULL END AS idx,
        |  regexp_extract(p_name, '([aeiou])([aeiou])', 2) AS g2
        |FROM part ORDER BY p_partkey""".stripMargin)
}
