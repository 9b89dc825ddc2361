package graft.lang

import graft.SparkSpec

/** The reference's recursive schema-shape program — match-test /
  * smatch-test (builtin_test.cljc:730-771, 875-915) with the
  * server-fetched schemas replaced by equivalent local documents.
  * This is the reference author's flagship program: query{} twice
  * over an XSD-shaped document, then a RECURSIVE user function folds
  * the parent/child binding sets into the nested element map
  * (fixtures s1/s2, builtin_test.cljc:978-1002). Its pieces exercise
  * knot-tied recursion, filter/get steps on query frames
  * (`$spc[?parent = $p].?child`), the driver-fold $reduce over a
  * frame, Clojure-semantics $update/$assoc/$lookup (insert on
  * missing, assoc on nil, get → no-match), and value-returning `or`
  * (rewrite.cljc:30) — each also pinned alone below.
  *
  * NB the reference itself cannot run this program today — match-test
  * is a plain defn (never a deftest) needing a live server, and its
  * own parse_test.cljc:272 notes `or 'no match'` does not parse
  * there. The program is ported as the stated INTENT; the s1/s2
  * fixtures are the reference's own expected shapes verbatim.
  */
class ShapeMatchSpec extends SparkSpec {

  private def elements(addressChildren: Seq[String]): String = {
    def el(name: String, kids: Seq[String]) =
      s"""{'element_name': '$name', 'element_complexType':
         |  {'model_sequence': {'model_elementDef':
         |    [${kids.map(k => s"{'element_name': '$k'}").mkString(", ")}]}}}"""
        .stripMargin
    Seq(
      el("ProcessInvoice", Seq("DataArea", "ApplicationArea")),
      el("DataArea", Seq("Invoice", "Process")),
      el("ApplicationArea", Seq("CreationDateTime")),
      el("Invoice", Seq("InvoiceLine")),
      el("InvoiceLine", Seq("Item", "BuyerParty")),
      el("Item", Seq("ManufacturingParty")),
      el("ManufacturingParty", Seq("Name")),
      el("BuyerParty", Seq("Location", "TaxIDSet")),
      el("Location", Seq("Address")),
      el("Address", addressChildren),
      el("TaxIDSet", Seq("ID"))).mkString("[\n", ",\n", "\n]")
  }

  private def shapeProgram(addressChildren: Seq[String]): String =
    s"""( $$data := {'schema_content': {'model_elementDef': [{'element_name': 'ProcessInvoice'}]},
       |            'elements': ${elements(addressChildren)}};
       |  $$pcQuery := query{[?x     :element_name        ?parent]
       |                    [?x     :element_complexType ?cplx1]
       |                    [?cplx1 :model_sequence      ?def]
       |                    [?def   :model_elementDef    ?cplx2]
       |                    [?cplx2 :element_name        ?child]};
       |  $$rootQuery := query{[?c :schema_content   ?e]
       |                      [?e :model_elementDef ?d]
       |                      [?d :element_name     ?name]};
       |  $$children := function($$spc, $$p) { $$spc[?parent = $$p].?child };
       |  $$shape := function($$p, $$spc) { $$reduce($$children($$spc, $$p),
       |                                         function($$tree, $$c)
       |                                             { $$update($$tree,
       |                                                       $$p,
       |                                                       function($$x) { $$assoc($$x, $$c, $$lookup($$shape($$c, $$spc), $$c) or '<data>')}) },
       |                                         {})};
       |  $$spc := $$pcQuery($$data);
       |  $$root := $$rootQuery($$data).?name[0];
       |  $$shape($$root, $$spc) )""".stripMargin

  /** builtin_test.cljc:978-989 (s1) as a Scala value. */
  private val s1: Map[String, Any] = Map(
    "ProcessInvoice" -> Map(
      "DataArea" -> Map(
        "Invoice" -> Map(
          "InvoiceLine" -> Map(
            "Item" -> Map("ManufacturingParty" -> Map("Name" -> "<data>")),
            "BuyerParty" -> Map(
              "Location" -> Map("Address" -> Map("AddressLine" -> "<data>")),
              "TaxIDSet" -> Map("ID" -> "<data>")))),
        "Process" -> "<data>"),
      "ApplicationArea" -> Map("CreationDateTime" -> "<data>")))

  /** builtin_test.cljc:991-1002 (s2). */
  private val s2: Map[String, Any] = Map(
    "ProcessInvoice" -> Map(
      "DataArea" -> Map(
        "Invoice" -> Map(
          "InvoiceLine" -> Map(
            "Item" -> Map("ManufacturingParty" -> Map("Name" -> "<data>")),
            "BuyerParty" -> Map(
              "Location" -> Map("Address" -> Map(
                "PostalCode" -> "<data>", "StreetName" -> "<data>",
                "CountryCode" -> "<data>", "CityName" -> "<data>",
                "BuildingNumber" -> "<data>")),
              "TaxIDSet" -> Map("ID" -> "<data>")))),
        "Process" -> "<data>"),
      "ApplicationArea" -> Map("CreationDateTime" -> "<data>")))

  test("recursive $shape program reproduces the reference s1 shape") {
    val got = RM.eval(shapeProgram(Seq("AddressLine")), spark)
    assert(got.contains(s1), got.toString)
  }

  test("recursive $shape program reproduces the reference s2 shape") {
    val got = RM.eval(shapeProgram(Seq("PostalCode", "StreetName",
      "CountryCode", "CityName", "BuildingNumber")), spark)
    assert(got.contains(s2), got.toString)
  }

  // ---- the individual semantics the program rests on ----

  private def run(src: String, expected: Any): Unit = {
    val got = RM.eval(src, spark)
    assert(got.contains(expected),
      s"""RM "$src" => $got, expected Some($expected)""")
  }

  test("knot-tied recursion: a := bound function sees itself") {
    run("( $fact := function($n) { $n <= 1 ? 1 : $n * $fact($n - 1) }; $fact(5) )",
      120.0)
    run("( $fib := function($n) { $n < 2 ? $n : $fib($n - 1) + $fib($n - 2) }; $fib(10) )",
      55.0)
  }

  test("filter step on a query frame: qvar predicate stays a DataFrame filter") {
    run(
      """( $d := [{'p': 'a', 'c': 'x'}, {'p': 'a', 'c': 'y'}, {'p': 'b', 'c': 'z'}];
        |  $q := query{[?e :p ?p] [?e :c ?c]};
        |  $q($d)[?p = 'a'].?c ~> $sort() )""".stripMargin,
      Seq("x", "y"))
  }

  test("frame qvar filter compiles to a plan-level Filter over the table") {
    import spark.implicits._
    val people = Seq((1L, "Bob", "a"), (2L, "Alice", "b"),
      (3L, "Cy", "a")).toDF("id", "name", "grp")
    val frame = RM.queryFrame(
      "query(){[?p :grp ?g] [?p :name ?name]}($people)[?g = 'a'].?name",
      spark, Map("people" -> people))
    // the predicate must stay IN the plan (distributed): the ANALYZED
    // plan carries a Filter over the g column — had the compile
    // collected the frame and re-injected the hits, no such node
    // would exist (the optimizer may later fold it; analysis is the
    // honest witness of what was BUILT)
    val gFilter = frame.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.references.exists(_.name == "g") => f
    }
    assert(gFilter.nonEmpty,
      "qvar predicate must compile to a plan-level Filter")
    assert(frame.as[String].collect().toSet == Set("Bob", "Cy"))
  }

  test("numeric index on a single-qvar frame picks the value") {
    run(
      """( $d := [{'name': 'root'}];
        |  $q := query{[?e :name ?name]};
        |  $q($d).?name[0] )""".stripMargin,
      "root")
  }

  test("or is value-returning (reference rewrite.cljc:30: Clojure or)") {
    run("'hit' or 'default'", "hit")
    run("false or 'default'", "default")
    run("( $m := {'a': 1}; $lookup($m, 'missing') or '<data>' )", "<data>")
    run("( $m := {'a': 7}; $lookup($m, 'a') or '<data>' )", 7L)
    // and: first falsy operand, else the second
    run("false and 'x'", false)
    run("'x' and 'y'", "y")
    // boolean operands still read as before
    run("2 < 3 and 3 < 2 or true", true)
    // CLOJURE truthiness (what the emitted and/or actually does):
    // only nil/false are falsy — a legitimate 0 or '' flows through
    // instead of being replaced by the default
    run("( $m := {'count': 0}; $lookup($m, 'count') or -1 )", 0L)
    run("'' or 'dflt'", "")
    run("0 and 'reached'", "reached")
  }

  test("and/or short-circuit at compile time (Clojure evaluation order)") {
    // the decided side never compiles the other — interpreter
    // semantics, and the termination rule for or-guarded recursion
    run("true or $nosuchfn()", true)
    run("false and $nosuchfn()", false)
    run("( $down := function($n) { $n <= 0 or $down($n - 1) }; $down(3) )",
      true)
  }

  test("$update inserts a missing key via fn(null); nil-object forms") {
    run("$update({'a': 1}, 'b', function($x) { $x or 9 })",
      Map("a" -> 1L, "b" -> 9L))
    run("$update({'a': 1}, 'a', function($x) { $x + 1 })",
      Map("a" -> 2L))
    run("$assoc({'a': 1}, 'b', 2)", Map("a" -> 1L, "b" -> 2L))
    run("$lookup({'a': 1}, 'b') or 'none'", "none")
  }

  test("$reduceByKey: distributed keyed fold over a frame") {
    // per-group fold, ascending-value order, numeric accumulator
    run(
      """( $d := [{'k': 'a', 'n': 1}, {'k': 'a', 'n': 2},
        |         {'k': 'a', 'n': 4}, {'k': 'b', 'n': 5}];
        |  $q := query{[?e :k ?k] [?e :n ?n]};
        |  $reduceByKey($q($d), 'k',
        |    function($a, $x) { $a + $x })[?k = 'a'].?value )"""
        .stripMargin,
      7.0)
    // explicit init seeds every group
    run(
      """( $d := [{'k': 'a', 'n': 1}, {'k': 'b', 'n': 5}];
        |  $q := query{[?e :k ?k] [?e :n ?n]};
        |  $reduceByKey($q($d), 'k',
        |    function($a, $x) { $a + $x }, 100)[?k = 'b'].?value )"""
        .stripMargin,
      105.0)
  }

  test("$reduceByKey: a non-commutative fold runs in ascending value order") {
    // acc*2 + x over the sorted values 1, 2, 4: seed 1, 1*2+2 = 4,
    // 4*2+4 = 12; any other order gives a different result
    import spark.implicits._
    val df = Seq(("a", 4.0), ("a", 1.0), ("a", 2.0), ("b", 5.0))
      .toDF("k", "n")
    val out = RM.queryFrame(
        "$reduceByKey($frame, 'k', function($a, $x) { $a * 2 + $x })",
        spark, Map("frame" -> df))
      .orderBy("k").as[(String, Double)].collect().toSeq
    assert(out == Seq(("a", 12.0), ("b", 5.0)), out)
  }

  test("$reduceByKey: all-null value group folds to null, not an error") {
    // collect_list drops nulls, so a key whose values are ALL null
    // folds over an EMPTY array — the no-init seed must be
    // try_element_at (null result) rather than ANSI element_at
    // (INVALID_ARRAY_INDEX) (ADVICE r13)
    import spark.implicits._
    val df = Seq(("a", Some(2.0)), ("a", Some(3.0)),
      ("b", None: Option[Double])).toDF("k", "n")
    val out = RM.queryFrame(
      "$reduceByKey($frame, 'k', function($a, $x) { $a + $x })",
      spark, Map("frame" -> df))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out == Map("a" -> 5.0, "b" -> null), out)
  }

  test("$reduce over a runtime-empty array without init is null") {
    // same ANSI hazard as the keyed form: an empty fold input takes
    // the null seed, surfacing as the reference's undefined
    run(
      """$reduce($filter([1, 2], function($x) { $x > 5 }),
        |  function($a, $x) { $a + $x }) or 'empty'""".stripMargin,
      "empty")
  }

  test("$lookup with a non-string constant key fails loudly") {
    // the computed-key fallthrough catches ONLY NotCompileTimeString;
    // fail()'s wrong-type diagnostic must not be swallowed into a
    // string-coerced map lookup that silently misses (ADVICE r13)
    val e = intercept[IllegalArgumentException] {
      RM.eval("$lookup({'a': 1}, 5)", spark)
    }
    assert(e.getMessage.contains("must be a STRING"), e.getMessage)
  }

  test("$reduceByKey matches the driver fold on overlapping sizes") {
    // same data, same function: the distributed twin and the capped
    // driver fold must agree where both run (the VERDICT r12 item-4
    // contract; the driver fold's >65536-row diagnostic names
    // $reduceByKey as the corpus-scale path)
    val data = """$d := [{'k': 'x', 'n': 3}, {'k': 'x', 'n': 5},
                 |       {'k': 'x', 'n': 11}];
                 |$q := query{[?e :k ?k] [?e :n ?n]};""".stripMargin
    run(
      s"""( $data
         |  $$reduceByKey($$q($$d), 'k',
         |    function($$a, $$x) { $$a + $$x }).?value )"""
        .stripMargin,
      19.0)
    run(
      s"""( $data
         |  $$reduce($$q($$d).?n, function($$a, $$x) { $$a + $$x }) )"""
        .stripMargin,
      19.0)
  }

  test("constant recursion deeper than 32 succeeds (cap is 512)") {
    // depth-100 countdown: every guard is compile-time-constant, so
    // this is legitimate recursion the reference interpreter would
    // run; the depth guard must not cut it off (ADVICE r12: the old
    // cap of 32 rejected valid programs)
    run("( $down := function($n) { $n <= 0 ? 0 : $down($n - 1) }; $down(100) )",
      0L)
  }

  test("recursion over a non-constant argument fails with a diagnostic") {
    // the fn mapped over array elements: the base-case condition is a
    // lambda variable, not a compile-time constant — must be a clear
    // error, not a StackOverflowError
    val e = intercept[IllegalArgumentException] {
      RM.eval(
        "( $f := function($n) { $n <= 1 ? 1 : $n * $f($n - 1) }; $map([3, 4], $f) )",
        spark)
    }
    // the non-terminating shape dies either at the 512 depth guard
    // ("recursion in $f exceeded depth") or, when each application's
    // compile frames exhaust the JVM stack first, in the SOE catch
    // ("compile stack exhausted inside recursive $f") — both name the
    // function and the base-case requirement
    assert(e.getMessage.contains("recursive $f") ||
      e.getMessage.contains("recursion in $f exceeded depth"),
      e.getMessage)
    assert(e.getMessage.contains("base case decidable at compile time"),
      e.getMessage)
  }

  test("$map/$filter of a function over a query frame (driver forms)") {
    run(
      """( $d := [{'n': 1}, {'n': 2}, {'n': 3}];
        |  $q := query{[?e :n ?n]};
        |  $map($q($d).?n, function($x) { $x * 10 }) ~> $sort() )"""
        .stripMargin,
      Seq(10L, 20L, 30L))
    run(
      """( $d := [{'n': 1}, {'n': 2}, {'n': 3}];
        |  $q := query{[?e :n ?n]};
        |  $filter($q($d).?n, function($x) { $x >= 2 }) ~> $sort() )"""
        .stripMargin,
      Seq(2L, 3L))
  }

  test("$reduce of a function over a query frame folds on the driver") {
    run(
      """( $d := [{'n': 1}, {'n': 2}, {'n': 3}];
        |  $q := query{[?e :n ?n]};
        |  $reduce($q($d).?n, function($acc, $x) { $acc + $x }, 0) )"""
        .stripMargin,
      6.0)
  }
}
