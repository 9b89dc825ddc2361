package graft.lang

import graft.SparkSpec

/** query{}/express{} text-surface conformance — strings from the
  * reference's query_test.cljc run through RM.eval.
  */
class RMQuerySpec extends SparkSpec {

  private def run(src: String, expected: Any): Unit = {
    val got = RM.eval(src, spark)
    assert(got.contains(expected),
      s"""RM "$src" => $got, expected Some($expected)""")
  }

  test("a literal NULL array bridges to an empty frame") {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types._
    // an array of objects (dt is the element type), NULL as a whole
    val obj = StructType(Seq(StructField("a", StringType)))
    val nullArr = Compiler.CD(lit(null).cast(ArrayType(obj)), obj,
      Compiler.KJson)
    assert(QueryBridge.cdToDf(spark, nullArr).count() == 0)
  }

  test("wildcard attribute query (query_test:104-110)") {
    val src =
      """( $data := [{'person_fname' : 'Peter', 'person_lname' : 'Dee'}];
        |  $q := query(){[?ent ?attr ?val]};
        |  $q($data) )""".stripMargin
    val got = RM.eval(src, spark).get.asInstanceOf[Seq[Any]].toSet
    assert(got == Set(
      Map("attr" -> "person_fname", "val" -> "Peter"),
      Map("attr" -> "person_lname", "val" -> "Dee")))
  }

  test("mixed integral+fractional hint columns restore numerically " +
      "(not as canonical strings)") {
    // ?v joins a long column ($A.n) with a double column ($B.m): the
    // static hint set is {LongType, DoubleType}, which must defer to
    // the runtime all-integral check (long here) — the same typing the
    // EAV path derives — instead of falling back to strings.
    val df = RM.queryFrame(
      """( $d1 := [{'n': 1}, {'n': 2}];
        |  $d2 := [{'m': 2.0}, {'m': 3.5}];
        |  query(){[$A ?e :n ?v] [$B ?f :m ?v]}($d1, $d2) )""".stripMargin,
      spark, Map.empty)
    assert(df.schema("v").dataType ==
      org.apache.spark.sql.types.LongType, df.schema)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("in-line query execution (query_test:128-130)") {
    val got = RM.eval(
      "query(){[?ent ?attr ?val]}" +
        "([{'person_fname' : 'Peter', 'person_lname' : 'Dee'}])",
      spark).get.asInstanceOf[Seq[Any]].toSet
    assert(got == Set(
      Map("attr" -> "person_fname", "val" -> "Peter"),
      Map("attr" -> "person_lname", "val" -> "Dee")))
  }

  test("two-pattern join on entity (query_test:160-166)") {
    run(
      """( $data := [{'person_fname' : 'Bob', 'person_lname' : 'Clark'}];
        |  $q := query(){[?person :person_fname ?fname]
        |                [?person :person_lname ?lname]};
        |  $q($data) )""".stripMargin,
      Map("fname" -> "Bob", "lname" -> "Clark"))
  }

  test("two-row source gives two binding sets (query_test:168-175)") {
    val got = RM.eval(
      """( $data := [{'Person_firstname' : 'Bob', 'Person_lastname' : 'Clark'},
        |            {'Person_firstname' : 'Peter', 'Person_lastname' : 'Dee'}];
        |  $q := query(){[?person :Person_firstname ?fname]
        |                [?person :Person_lastname ?lname]};
        |  $q($data) )""".stripMargin, spark)
      .get.asInstanceOf[Seq[Any]].toSet
    assert(got == Set(Map("fname" -> "Bob", "lname" -> "Clark"),
      Map("fname" -> "Peter", "lname" -> "Dee")))
  }

  test("unnamed patterns bind the first argument as \"default\"") {
    import spark.implicits._
    val customers = Seq((7L, "north"), (8L, "south")).toDF("cid", "region")
    def bindings(src: String) =
      RM.queryFrame(src, spark, Map("C" -> customers)).collect()
        .map(r => r.getAs[String]("cid") -> r.getAs[String]("r")).toSet
    val want = Set("7" -> "north", "8" -> "south")
    // every pattern unnamed
    assert(bindings(
      "query(){[?x :cid ?cid] [?x :region ?r]}($C)") == want)
    // one named and one unnamed pattern: both read the first argument
    assert(bindings(
      "query(){[$C ?x :cid ?cid] [?x :region ?r]}($C)") == want)
  }

  test("parameterized query (query_test:133-137)") {
    run(
      """( $qBob := query($name){[?e :name $name]}('Bob');
        |  $qBob([{'name' : 'Bob'}]) )""".stripMargin,
      Map()) // binds nothing but matches: one empty bset
  }

  test("predicate pattern with $match (query_test:200-208)") {
    run(
      """( $data := [{'instance_of' : 'example', 'content' : 'some-val'},
        |            {'instance_of' : 'other',   'content' : 'x'}];
        |  $q := query{ [?e :instance_of ?str]
        |               [($match(?str, /example/))] };
        |  $q($data) )""".stripMargin,
      Map("str" -> "example"))
  }

  test("typed predicate: [(?n = 5)] matches a numeric qvar without $number") {
    // the reference binds native-typed values inside predicates
    // (Datahike values), so a bare `= 5` must match a numeric column;
    // the canonical-string binding of earlier rounds made this
    // type-strict false
    run(
      """( $data := [{'name': 'a', 'n': 5}, {'name': 'b', 'n': 7}];
        |  $q := query{ [?e :name ?name] [?e :n ?n] [(?n = 5)] };
        |  $q($data) )""".stripMargin,
      Map("name" -> "a", "n" -> 5L))
  }

  test("typed predicate: order comparison over a fractional qvar") {
    val got = RM.eval(
      """( $data := [{'name': 'a', 'x': 1.5}, {'name': 'b', 'x': 3.25},
        |            {'name': 'c', 'x': 9.0}];
        |  $q := query{ [?e :name ?name] [?e :x ?x] [(?x > 2)] };
        |  $q($data) )""".stripMargin, spark)
      .get.asInstanceOf[Seq[Any]].toSet
    assert(got == Set(Map("name" -> "b", "x" -> 3.25),
      Map("name" -> "c", "x" -> 9.0)))
  }

  test("typed predicate stays type-strict: [(?n = '5')] never matches numbers") {
    val got = RM.eval(
      """( $data := [{'name': 'a', 'n': 5}];
        |  $q := query{ [?e :name ?name] [?e :n ?n] [(?n = '5')] };
        |  $q($data) )""".stripMargin, spark)
    assert(got.isEmpty || got.contains(Seq()), s"expected no bsets, got $got")
  }

  test("typed predicate: $number still composes over a typed binding") {
    run(
      """( $data := [{'name': 'a', 'n': 5}, {'name': 'b', 'n': 7}];
        |  $q := query{ [?e :name ?name] [?e :n ?n] [($number(?n) = 7)] };
        |  $q($data) )""".stripMargin,
      Map("name" -> "b", "n" -> 7L))
  }

  test("typed predicate on the EAV path: wildcard attr binds per-row types") {
    // a wildcard attribute forces the EAV (shredded) path, where no
    // static hint exists — the variant restore must still make
    // `= 5` match the numeric value and skip the string one
    run(
      """( $data := [{'a': 5, 'b': '5', 'c': 6}];
        |  $q := query{ [?e ?attr ?v] [(?v = 5)] };
        |  $q($data) )""".stripMargin,
      Map("attr" -> "a", "v" -> 5L))
  }

  test("typed predicate on the EAV path: $match over a string-typed variant") {
    run(
      """( $data := [{'a': 'example', 'b': 5}];
        |  $q := query{ [?e ?attr ?v] [($match(?v, /examp/))] };
        |  $q($data) )""".stripMargin,
      Map("attr" -> "a", "v" -> "example"))
  }

  test("express reduce with qvar key over hand-written bsets (query_test:609-618)") {
    run(
      """( $bSets := [{?id : 123, ?name : 'Bob',   ?aData : 'Bob-A-data',   ?bData : 'Bob-B-data'},
        |             {?id : 234, ?name : 'Alice', ?aData : 'Alice-A-data', ?bData : 'Alice-B-data'}];
        |  $eFn := express(){{?name : {'bData' : ?bData}}};
        |  $reduce($bSets, $eFn) )""".stripMargin,
      Map("Alice" -> Map("bData" -> "Alice-B-data"),
        "Bob" -> Map("bData" -> "Bob-B-data")))
  }

  test("two-source query + express reduce e2e (query_test:621-644)") {
    run(
      """( $DBa := [{'id' : 123, 'aAttr' : 'Bob-A-data',   'name' : 'Bob'},
        |           {'id' : 234, 'aAttr' : 'Alice-A-data', 'name' : 'Alice'}];
        |  $DBb := [{'id' : 123, 'bAttr' : 'Bob-B-data'},
        |           {'id' : 234, 'bAttr' : 'Alice-B-data'}];
        |  $qFn := query(){[$DBa ?e1 :id    ?id]
        |                  [$DBb ?e2 :id    ?id]
        |                  [$DBa ?e1 :name  ?name]
        |                  [$DBa ?e1 :aAttr ?aData]
        |                  [$DBb ?e2 :bAttr ?bData]};
        |  $bSets := $qFn($DBa, $DBb);
        |  $eFn := express(){{?name : {'aData' : ?aData, 'bData' : ?bData, 'id' : ?id}}};
        |  $reduce($bSets, $eFn) )""".stripMargin,
      Map(
        "Alice" -> Map("aData" -> "Alice-A-data",
          "bData" -> "Alice-B-data", "id" -> 234L),
        "Bob" -> Map("aData" -> "Bob-A-data",
          "bData" -> "Bob-B-data", "id" -> 123L)))
  }

  test("non-string express keys restore type (query_test:646-675)") {
    val got = RM.eval(
      """( $bSets := [{?id : 123, ?name : 'Bob'}, {?id : 234, ?name : 'Alice'}];
        |  $eFn := express(){{?id : {'name' : ?name}}};
        |  $reduce($bSets, $eFn) )""".stripMargin, spark).get
    assert(got == Map(123L -> Map("name" -> "Bob"),
      234L -> Map("name" -> "Alice")))
  }

  test("unknown <|options|> keys error instead of silently ignoring") {
    val e = intercept[Exception] {
      RM.eval(
        """( $data := [{'name' : 'Bob'}];
          |  $q := query(<|dropDBid: true|>){[?e :name ?name]};
          |  $q($data) )""".stripMargin, spark)
    }
    assert(e.getMessage.contains("unknown query option") &&
      e.getMessage.contains("dropDBid") &&
      e.getMessage.contains("keepDBid"),
      s"want a clear unknown-option message, got: ${e.getMessage}")
  }

  test("<|keepDBid: true|> keeps entity qvars (builtin.cljc:1752-1758)") {
    val got = RM.eval(
      """( $data := [{'name' : 'Bob'}];
        |  $q := query(<|keepDBid: true|>){[?e :name ?name]};
        |  $q($data) )""".stripMargin, spark)
      .get.asInstanceOf[Map[String, Any]]
    assert(got("name") == "Bob" && got.contains("e"))
    // without the option the entity var is dropped
    val plain = RM.eval(
      """( $data := [{'name' : 'Bob'}];
        |  $q := query(){[?e :name ?name]};
        |  $q($data) )""".stripMargin, spark)
      .get.asInstanceOf[Map[String, Any]]
    assert(plain == Map("name" -> "Bob"))
  }

  // ------------------------------------------------------------------
  // Option-surface sweep vs the reference grammar (VERDICT r8 item 8).
  // Every option token the reference's tests/grammar admit, pinned as
  // accepted (with its effect) or rejected (with a clear error):
  //   query <|keepDBid|>      — the ONLY key the reference consults at
  //                             runtime (builtin.cljc:1753): executes
  //   query <|anythingElse|>  — reference parses + silently ignores
  //                             (rewrite_test.cljc:192 'otherStuff',
  //                             parse_test.cljc:139 'entities');
  //                             we reject with a clear message
  //   express <|opts|>        — reference parses (parse.cljc:1146-66),
  //                             consults no key (rewrite.cljc:195);
  //                             we parse + reject non-empty maps
  //   $llmMatch {'asFn?': b}  — plain object arg, not <|opts|>
  //                             (builtin.cljc:2537,2618-2623): true =
  //                             executable fn (2-arg default), false =
  //                             mapping as data
  // ------------------------------------------------------------------

  test("<|keepDBid: false|> is accepted and drops entity qvars") {
    val got = RM.eval(
      """( $data := [{'name' : 'Bob'}];
        |  query(<|keepDBid: false|>){[?e :name ?name]}($data) )"""
        .stripMargin, spark).get
    assert(got == Map("name" -> "Bob"))
  }

  test("option map position among params is free (parse.cljc post-1131 note)") {
    for (src <- Seq(
        """( $data := [{'name' : 'Bob'}];
          |  $q := query(<|keepDBid: true|>, $n){[?e :name $n]
          |    [?e :name ?n2]};
          |  $qb := $q('Bob');
          |  $qb($data) )""".stripMargin,
        """( $data := [{'name' : 'Bob'}];
          |  $q := query($n, <|keepDBid: true|>){[?e :name $n]
          |    [?e :name ?n2]};
          |  $qb := $q('Bob');
          |  $qb($data) )""".stripMargin)) {
      val got = RM.eval(src, spark).get.asInstanceOf[Map[String, Any]]
      assert(got("n2") == "Bob" && got.contains("e"), s"src=$src got=$got")
    }
  }

  test("reference parse-only option keys (otherStuff, entities) are rejected") {
    for (opt <- Seq("otherStuff", "entities")) {
      val e = intercept[Exception] {
        RM.eval(
          s"""( $$data := [{'name' : 'Bob'}];
             |  query(<|$opt: true|>){[?e :name ?name]}($$data) )"""
            .stripMargin, spark)
      }
      assert(e.getMessage.contains("unknown query option") &&
        e.getMessage.contains(opt), s"for $opt got: ${e.getMessage}")
    }
    // multi-key map (rewrite_test.cljc:192 shape): the unknown key
    // poisons the map even when keepDBid rides along
    val e = intercept[Exception] {
      RM.eval(
        """( $data := [{'name' : 'Bob'}];
          |  query(<|keepDBid : true, otherStuff : true|>)
          |    {[?e :name ?name]}($data) )""".stripMargin, spark)
    }
    assert(e.getMessage.contains("otherStuff"))
  }

  test("express <|opts|> parses (grammar parity) and rejects at compile") {
    val e = intercept[Exception] {
      RM.eval(
        """( $bSets := [{?id : 1}];
          |  $reduce($bSets, express(<|entities: true|>){{'id': ?id}}) )"""
          .stripMargin, spark)
    }
    assert(e.getMessage.contains("unknown express option") &&
      e.getMessage.contains("entities"), e.getMessage)
  }

  test("$llmMatch 'asFn?' option: true = executable (default), false = data") {
    import spark.implicits._
    val src = Seq(("Acme", 3L)).toDF("shipper_name", "quantity_ordered")
    // explicit true behaves like the 2-arg default: applicable fn
    val frame = RM.queryFrame(
      """( $m := $llmMatch($src, ['shipperName', 'quantityOrdered'],
        |    {'asFn?': true});
        |  $m($src) )""".stripMargin, spark, Map("src" -> src))
    assert(frame.columns.toSeq == Seq("shipperName", "quantityOrdered"))
    assert(frame.head().getString(0) == "Acme")
    // false returns the mapping itself (target → source)
    val data = RM.eval(
      """( $src := [{'shipper_name': 'Acme', 'quantity_ordered': 3}];
        |  $llmMatch($src, ['shipperName', 'quantityOrdered'],
        |    {'asFn?': false}) )""".stripMargin, spark).get
      .asInstanceOf[Map[String, Any]]
    assert(data == Map("shipperName" -> "shipper_name",
      "quantityOrdered" -> "quantity_ordered"), s"got $data")
    // unknown option keys error
    val e = intercept[Exception] {
      RM.eval(
        """( $src := [{'shipper_name': 'Acme'}];
          |  $llmMatch($src, ['shipperName'], {'asFn': true}) )"""
          .stripMargin, spark)
    }
    assert(e.getMessage.contains("unknown option"), e.getMessage)
    // a non-boolean value must error, not silently default to true
    val e2 = intercept[Exception] {
      RM.eval(
        """( $src := [{'shipper_name': 'Acme'}];
          |  $llmMatch($src, ['shipperName'], {'asFn?': 'false'}) )"""
          .stripMargin, spark)
    }
    assert(e2.getMessage.contains("boolean literal"), e2.getMessage)
  }

  test("$get reads files into query sources") {
    val p = java.nio.file.Files.createTempFile("people", ".json")
    java.nio.file.Files.writeString(p,
      """{"name": "Bob", "grp": "a"}
        |{"name": "Alice", "grp": "b"}
        |{"name": "Cy", "grp": "a"}""".stripMargin)
    val got = RM.eval(
      s"""( $$people := $$get('${p}');
         |  query(){[?p :grp 'a'] [?p :name ?name]}($$people) )""".stripMargin,
      spark).get.asInstanceOf[Seq[Any]].toSet
    assert(got == Set(Map("name" -> "Bob"), Map("name" -> "Cy")))
  }

  test("text query over real DataFrames stays distributed") {
    import spark.implicits._
    val people = Seq((1L, "Bob", "a"), (2L, "Alice", "b"), (3L, "Cy", "a"))
      .toDF("id", "name", "grp")
    val frame = RM.queryFrame(
      "query(){[?p :grp 'a'] [?p :name ?name]}($people)",
      spark, Map("people" -> people))
    assert(frame.columns.toSeq == Seq("name"))
    assert(frame.as[String].collect().toSet == Set("Bob", "Cy"))
    val viaEval = RM.evalWithSources(
      "query(){[?p :grp 'a'] [?p :name ?name]}($people)",
      spark, Map("people" -> people))
    assert(viaEval.get.asInstanceOf[Seq[Any]].toSet ==
      Set(Map("name" -> "Bob"), Map("name" -> "Cy")))
  }

  test("two-DB e2e with email join keys (builtin_test:646-675)") {
    // :user-data bindings inline ahead of the program bindings
    val got = RM.eval(
      """( $DBa := [{'email' : 'bob@example.com', 'aAttr' : 'Bob-A-data',   'name' : 'Bob'},
        |           {'email' : 'alice@alice.org', 'aAttr' : 'Alice-A-data', 'name' : 'Alice'}];
        |  $DBb := [{'id' : 'bob@example.com', 'bAttr' : 'Bob-B-data'},
        |           {'id' : 'alice@alice.org', 'bAttr' : 'Alice-B-data'}];
        |  $qFn := query(){[$DBa ?e1 :email ?id]
        |                  [$DBb ?e2 :id    ?id]
        |                  [$DBa ?e1 :name  ?name]
        |                  [$DBa ?e1 :aAttr ?aData]
        |                  [$DBb ?e2 :bAttr ?bData]};
        |  $bSet := $qFn($DBa, $DBb);
        |  $eFn := express(){{?id : {'name'  : ?name,
        |                            'aData' : ?aData,
        |                            'bData' : ?bData}}};
        |  $reduce($bSet, $eFn) )""".stripMargin, spark).get
    assert(got == Map(
      "alice@alice.org" -> Map("name" -> "Alice",
        "aData" -> "Alice-A-data", "bData" -> "Alice-B-data"),
      "bob@example.com" -> Map("name" -> "Bob",
        "aData" -> "Bob-A-data", "bData" -> "Bob-B-data")))
  }

  private val twoDbPrefix =
    """( $DBa := [{'email' : 'bob@example.com', 'aAttr' : 'Bob-A-data',   'name' : 'Bob'},
      |           {'email' : 'alice@alice.org', 'aAttr' : 'Alice-A-data', 'name' : 'Alice'}];
      |  $DBb := [{'id' : 'bob@example.com', 'bAttr' : 'Bob-B-data'},
      |           {'id' : 'alice@alice.org', 'bAttr' : 'Alice-B-data'}];
      |  $qFn := query(){[$DBa ?e1 :email ?id]
      |                  [$DBb ?e2 :id    ?id]
      |                  [$DBa ?e1 :name  ?name]
      |                  [$DBa ?e1 :aAttr ?aData]
      |                  [$DBb ?e2 :bAttr ?bData]};
      |  $bSet := $qFn($DBa, $DBb);""".stripMargin

  test("redex: flat key() template gives sorted rows (query_test:899-922)") {
    run(twoDbPrefix +
      """ $eFn := express(){{'name'  : key(?name),
        |                    'aData' : ?aData, 'bData' : ?bData}};
        | $reduce($bSet, $eFn) )""".stripMargin,
      Seq(
        Map("name" -> "Alice", "aData" -> "Alice-A-data",
          "bData" -> "Alice-B-data"),
        Map("name" -> "Bob", "aData" -> "Bob-A-data",
          "bData" -> "Bob-B-data")))
  }

  test("redex: qvar-in-key-pos with key() inside (query_test:924-973)") {
    run(twoDbPrefix +
      """ $eFn := express(){{?id : {'name'  : key(?name),
        |                           'aData' : ?aData, 'bData' : ?bData}}};
        | $reduce($bSet, $eFn) )""".stripMargin,
      Map(
        "alice@alice.org" -> Map("name" -> "Alice",
          "aData" -> "Alice-A-data", "bData" -> "Alice-B-data"),
        "bob@example.com" -> Map("name" -> "Bob",
          "aData" -> "Bob-A-data", "bData" -> "Bob-B-data")))
  }

  test("parameterized express substitutes literals (query_test:264)") {
    val got = RM.eval(
      """( $bsets := [{?what : 'a', ?val : 1}, {?what : 'b', ?val : 2}];
        |  $eFn := express($pre){{'inst' : $pre,
        |                         'what' : key(?what), 'val' : ?val}};
        |  $reduce($bsets, $eFn('MyType')) )""".stripMargin, spark)
      .get.asInstanceOf[Seq[Any]].toSet
    assert(got == Set(
      Map("inst" -> "MyType", "what" -> "a", "val" -> 1L),
      Map("inst" -> "MyType", "what" -> "b", "val" -> 2L)))
  }

  test("QIF: deep pure template applied to one bset (query_test:677-702)") {
    val got = RM.eval(
      """( $bset := {?idKey    : 'KeyVal',
        |            ?idKeyref : 'KeyrefVal',
        |            ?instruct : 'some instruction',
        |            ?method   : 'some method'};
        |  $eFn := express(){ {'QIFPlan/WorkInstructions' :
        |      {'QIFPlan.WorkInstructions_IdKey': ?idKey,
        |       'QIFPlan.WorkInstructions_IdKeyref': {'RefKey_id' : ?idKeyref},
        |       'QIFPlan.WorkInstructions_Instruction' :
        |         {'QIFPlan.WorkInstructions.Instruction_DocumentFileInstruction' : {'Instruction' : ?instruct}}},
        |     'QIFPlan_ActionMethods' : {'QIFPlan_ActionMethods_ActionMethod' : {'Method' : ?method}}}};
        |  $eFn($bset) )""".stripMargin, spark).get
    assert(got == Map(
      "QIFPlan/WorkInstructions" -> Map(
        "QIFPlan.WorkInstructions_IdKey" -> "KeyVal",
        "QIFPlan.WorkInstructions_IdKeyref" ->
          Map("RefKey_id" -> "KeyrefVal"),
        "QIFPlan.WorkInstructions_Instruction" -> Map(
          "QIFPlan.WorkInstructions.Instruction_DocumentFileInstruction" ->
            Map("Instruction" -> "some instruction"))),
      "QIFPlan_ActionMethods" -> Map(
        "QIFPlan_ActionMethods_ActionMethod" ->
          Map("Method" -> "some method"))))
  }

  private val deviceBsets =
    """[{?systemName : 'system1', ?deviceName : 'device3', ?id : 300, ?status : 'Ok', ?ownerName : 'owner2'},
      | {?systemName : 'system2', ?deviceName : 'device8', ?id : 800, ?status : 'Ok', ?ownerName : 'owner2'},
      | {?systemName : 'system1', ?deviceName : 'device4', ?id : 400, ?status : 'Ok', ?ownerName : 'owner2'},
      | {?systemName : 'system2', ?deviceName : 'device5', ?id : 500, ?status : 'Ok', ?ownerName : 'owner1'},
      | {?systemName : 'system2', ?deviceName : 'device7', ?id : 700, ?status : 'Ok', ?ownerName : 'owner2'},
      | {?systemName : 'system2', ?deviceName : 'device6', ?id : 600, ?status : 'Ok', ?ownerName : 'owner1'},
      | {?systemName : 'system1', ?deviceName : 'device1', ?id : 100, ?status : 'Ok', ?ownerName : 'owner1'},
      | {?systemName : 'system1', ?deviceName : 'device2', ?id : 200, ?status : 'Ok', ?ownerName : 'owner1'}]""".stripMargin

  private def device(id: Long, n: Int) = Map("device_id" -> id,
    "device_name" -> s"device$n", "device_status" -> "Ok")

  test("flagship type-1 reduce: three key() levels (query_test:820-851)") {
    val got = RM.eval(
      s"""($$bsets := $deviceBsets;
         |  $$reduce($$bsets,
         |    express(){{'owners': [{'owner_id' : key(?ownerName),
         |      'systems' : [{'system_id' : key(?systemName),
         |        'devices' : [{'device_id' : key(?id),
         |                      'device_name' : ?deviceName,
         |                      'device_status' : ?status}]}]}]}}))""".stripMargin,
      spark).get
    assert(got == Map("owners" -> Seq(
      Map("owner_id" -> "owner1", "systems" -> Seq(
        Map("system_id" -> "system1",
          "devices" -> Seq(device(100, 1), device(200, 2))),
        Map("system_id" -> "system2",
          "devices" -> Seq(device(500, 5), device(600, 6))))),
      Map("owner_id" -> "owner2", "systems" -> Seq(
        Map("system_id" -> "system1",
          "devices" -> Seq(device(300, 3), device(400, 4))),
        Map("system_id" -> "system2",
          "devices" -> Seq(device(700, 7), device(800, 8))))))))
  }

  test("flagship type-2 reduce: nested qvar-key maps (query_test:853-880)") {
    val got = RM.eval(
      s"""($$bsets := $deviceBsets;
         |  $$reduce($$bsets,
         |    express(){{'owners':
         |      {?ownerName:
         |        {'systems':
         |          {?systemName:
         |            {?deviceName : {'id' : ?id, 'status' : ?status}}}}}}}))""".stripMargin,
      spark).get
    def dev(id: Long) = Map("id" -> id, "status" -> "Ok")
    assert(got == Map("owners" -> Map(
      "owner1" -> Map("systems" -> Map(
        "system1" -> Map("device1" -> dev(100), "device2" -> dev(200)),
        "system2" -> Map("device5" -> dev(500), "device6" -> dev(600)))),
      "owner2" -> Map("systems" -> Map(
        "system1" -> Map("device3" -> dev(300), "device4" -> dev(400)),
        "system2" -> Map("device7" -> dev(700), "device8" -> dev(800)))))))
  }

  test("express with key() fields builds merged rows (query_test:757-771)") {
    val got = RM.eval(
      """( $bSets := [{?id : 100, ?aAttr : '100-1', ?bAttr : '100-2'},
        |             {?id : 200, ?aAttr : '200-1', ?bAttr : '200-2'},
        |             {?id : 100, ?aAttr : '100-1', ?bAttr : '100-2'}];
        |  $eFn := express(){{'id' : key(?id), 'aAttr' : ?aAttr, 'bAttr' : ?bAttr}};
        |  $reduce($bSets, $eFn) )""".stripMargin, spark)
      .get.asInstanceOf[Seq[Any]].toSet
    assert(got == Set(
      Map("id" -> 100L, "aAttr" -> "100-1", "bAttr" -> "100-2"),
      Map("id" -> 200L, "aAttr" -> "200-1", "bAttr" -> "200-2")))
  }

  test("$db + keepDBid query + $pull round trip (builtin_test:146-151)") {
    // the reference rm-fns battery's exact program shape: build a db,
    // find an entity id with keepDBid, pull everything about it
    val got = RM.eval(
      """( $theDb := $db([{'id' : 'find-me', 'attr1' : 1,
        |                  'attr2' : 'two',
        |                  'anotherAttr' : 'another-value'}]);
        |  $id := query( <|keepDBid : true|> ){[?e :id 'find-me']}($theDb).?e;
        |  $pull($id, $theDb) )""".stripMargin, spark)
    assert(got.contains(Map(
      "anotherAttr" -> "another-value",
      "attr1" -> 1L,
      "attr2" -> "two",
      "id" -> "find-me")), got.toString)
  }

  test("$db over a bound frame queries unshredded triples") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val got = RM.evalWithSources(
      """( $d := $db($src);
        |  query(){[?e :k ?k] [?e :s ?s]}($d) )""".stripMargin,
      spark, Map("src" -> df)).get.asInstanceOf[Seq[Any]].toSet
    assert(got == Set(Map("k" -> "1", "s" -> "a"),
      Map("k" -> "2", "s" -> "b")), got.toString)
  }

  test("$pull: card-many attrs come back as arrays, refs as ids") {
    val got = RM.eval(
      """( $d := $db([{'id' : 'e1', 'tags' : [3, 1, 2],
        |              'sub' : {'x' : true}}]);
        |  $id := query( <|keepDBid : true|> ){[?e :id 'e1']}($d).?e;
        |  $pull($id, $d) )""".stripMargin, spark)
        .get.asInstanceOf[Map[String, Any]]
    assert(got("tags") == Seq(1L, 2L, 3L),
      s"card-many sorted numerically: $got")
    assert(got("id") == "e1")
    val sub = got("sub").asInstanceOf[String]
    // the ref value is the sub-entity id; pulling IT yields the nested map
    val subMap = RM.eval(
      s"""( $$d := $$db([{'id' : 'e1', 'tags' : [3, 1, 2],
         |              'sub' : {'x' : true}}]);
         |  $$pull('$sub', $$d) )""".stripMargin, spark)
    assert(subMap.contains(Map("x" -> true)), subMap.toString)
  }

  test("$pull: null array elements vanish; huge decimals restore as double") {
    import spark.implicits._
    // null element: no fact stored, so the pulled array omits it
    val withNull = Seq(("e1", Seq[java.lang.Long](3L, null, 1L)))
      .toDF("id", "tags")
    val got = RM.evalWithSources(
      """( $d := $db($src);
        |  $id := query( <|keepDBid : true|> ){[?e :id 'e1']}($d).?e;
        |  $pull($id, $d) )""".stripMargin,
      spark, Map("src" -> withNull)).get.asInstanceOf[Map[String, Any]]
    assert(got("tags") == Seq(1L, 3L), got.toString)
    // integral-but-wider-than-Long (decimal(38,0)) restores as double,
    // not NumberFormatException
    val wide = spark.sql(
      "SELECT 'e2' AS id, CAST('10000000000000000000000000' AS DECIMAL(38,0)) AS big")
    val got2 = RM.evalWithSources(
      """( $d := $db($src);
        |  $id := query( <|keepDBid : true|> ){[?e :id 'e2']}($d).?e;
        |  $pull($id, $d) )""".stripMargin,
      spark, Map("src" -> wide)).get.asInstanceOf[Map[String, Any]]
    assert(got2("big") == 1.0e25, got2.toString)
  }

  test("$schemaFor + $addSchema merge (builtin.cljc:1688,2219)") {
    val got = RM.eval(
      """( $s1 := $schemaFor([{'a' : 1, 'b' : 'x'}]);
        |  $s2 := $schemaFor([{'b' : 2.5, 'c' : true}]);
        |  $addSchema($s1, $s2) )""".stripMargin, spark)
      .get.asInstanceOf[String]
    val st = org.apache.spark.sql.types.DataType.fromJson(got)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st.fieldNames.toSet == Set("a", "b", "c"))
    assert(st("b").dataType ==
      org.apache.spark.sql.types.DoubleType, "overlay wins on conflict")
  }

  test("text query over nested struct docs regroups (chain, no shred in plan)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // struct-ref chains resolve on the regroup tier, so the frontend's
    // nested-document queries read the documents back from the shred
    // and skip the EAV detour entirely
    val docs = Seq((1L, "Bob", "BUILDING", 1500.0),
      (2L, "Ann", "AUTO", 500.0), (3L, "Cid", "BUILDING", 800.0))
      .toDF("id", "name", "seg", "bal")
      .select(col("id"), col("name"),
        struct(col("seg"), col("bal")).as("profile"))
    val got = RM.queryFrame(
      """query(){[?c :name ?n]
        |        [?c :profile ?p]
        |        [?p :seg 'BUILDING']
        |        [?p :bal ?b]
        |        [($number(?b) > 1000)]}($d)""".stripMargin,
      spark, Map("d" -> docs))
    val shreds = got.queryExecution.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate
          if g.generator.isInstanceOf[graft.shred.ShredGenerator] => g
    }
    assert(shreds.isEmpty, s"nested text query must not shred:\n" +
      got.queryExecution.optimizedPlan.toString.take(1200))
    val rows = got.orderBy("n").collect().map(_.toString).toSeq
    assert(rows == Seq("[Bob,1500]"), rows)
  }

  test("one route: literal, frame, shred, $db and persisted shred " +
      "type alike") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types._
    import spark.implicits._
    val d = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "n")
    val literal =
      "[{'k': 'a', 'n': 1}, {'k': 'b', 'n': 2}, {'k': 'c', 'n': 3}]"
    val base = java.nio.file.Files.createTempDirectory("graft-one-route-")
    val docs = base.resolve("docs").toString
    val trip = base.resolve("triples").toString
    d.write.parquet(docs)
    graft.shred.Shred.shredWrite(spark, docs, None, trip)
    // each source binds $a; the literal second source $B makes the
    // output typed (not all tables)
    val variants: Seq[(String, String, Map[String, DataFrame])] = Seq(
      ("literal", literal, Map.empty),
      ("frame", "$src", Map("src" -> d)),
      ("shred", "$src", Map("src" -> graft.shred.Shred.shred(d))),
      ("$db", "$db($src)", Map("src" -> d)),
      ("persisted", "$src",
        Map("src" -> graft.shred.Shred.openShred(spark, trip))))
    def runAll(where: String): Seq[(String, DataFrame)] =
      variants.map { case (name, a, srcs) =>
        name -> RM.queryFrame(
          s"""( $$a := $a;
             |  query(){$where}($$a, [{'tag': 'x'}]) )""".stripMargin,
          spark, srcs)
      }
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val matched = runAll(
      "[$A ?e :k ?k] [$A ?e :n ?n] [$B ?f :tag ?t] [(?n > 1)]")
    val none = runAll("[$A ?e :k 'zzz'] [$A ?e :n ?n] [$B ?f :tag ?t]")
    matched.foreach { case (name, df) =>
      // every variant regroups: no shred generator runs
      val shreds = df.queryExecution.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate
            if g.generator.isInstanceOf[graft.shred.ShredGenerator] => g
      }
      assert(shreds.isEmpty, s"$name shreds:\n" +
        df.queryExecution.optimizedPlan.toString.take(1200))
      assert(df.schema.map(f => (f.name, f.dataType)) ==
        Seq("k" -> StringType, "n" -> LongType, "t" -> StringType),
        s"$name: ${df.schema}")
      assert(rows(df) == Seq("[b,2,x]", "[c,3,x]"), name)
    }
    none.foreach { case (name, df) =>
      assert(df.schema.map(f => (f.name, f.dataType)) ==
        Seq("n" -> LongType, "t" -> StringType), s"$name: ${df.schema}")
      assert(df.count() == 0, name)
    }
  }

  test("$identities returns runnable query/express body strings") {
    val got = RM.eval(
      """$identities([{'id' : 123, 'aAttr' : {'val' : 'A-value'}}])"""
        .stripMargin, spark).get.asInstanceOf[Map[String, Any]]
    // JSON-bridge schema order is alphabetical (spark.read.json), so
    // aAttr's entity patterns precede id's value pattern
    assert(got("query") ==
      "[?e1 :aAttr ?e2] [?e2 :val ?v1] [?e1 :id ?v2]", got.toString)
    assert(got("express") ==
      "{'aAttr': {'val': ?v1}, 'id': ?v2}", got.toString)
    // and the rendered pair actually ROUND-TRIPS the data
    val rt = RM.eval(
      s"""( $$data := [{'id' : 123, 'aAttr' : {'val' : 'A-value'}}];
         |  $$ids := $$identities($$data);
         |  $$bs := query(){${got("query")}}($$data);
         |  $$reduce($$bs, express(){${got("express")}}) )""".stripMargin,
      spark)
    assert(rt.contains(Map("aAttr" -> Map("val" -> "A-value"),
      "id" -> 123L)), rt.toString)
  }
}
