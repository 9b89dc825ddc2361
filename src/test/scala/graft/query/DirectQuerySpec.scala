package graft.query

import graft.SparkSpec
import graft.shred.Shred
import graft.query.QueryCompiler.{C, DocSource, Pattern, V}

/** runDocs (direct, unshredded compilation) must agree with the EAV
  * path bit-for-bit and plan without any generator (explode).
  */
class DirectQuerySpec extends SparkSpec {
  import spark.implicits._

  private def people =
    Seq((1L, "Bob", "a", 10.0), (2L, "Alice", "b", 20.0),
      (3L, "Carol", "a", 30.0)).toDF("id", "name", "grp", "bal")
  private def devices =
    Seq((101L, 1L, "watch"), (102L, 1L, "phone"), (103L, 3L, "laptop"))
      .toDF("did", "owner", "dname")

  private val pats = Seq(
    Pattern(V("p"), C("grp"), C("a"), "people"),
    Pattern(V("p"), C("id"), V("pid"), "people"),
    Pattern(V("p"), C("name"), V("who"), "people"),
    Pattern(V("d"), C("owner"), V("pid"), "devices"),
    Pattern(V("d"), C("dname"), V("dev"), "devices"))

  test("direct compilation matches the EAV path") {
    val eav = QueryCompiler.run(
      Map("people" -> Shred.shred(people), "devices" -> Shred.shred(devices)),
      pats).orderBy("who", "dev")
    val direct = QueryCompiler.runDocs(
      Map("people" -> DocSource(people, "id"),
        "devices" -> DocSource(devices, "did")),
      pats).orderBy("who", "dev")
    assert(direct.columns.toSeq == eav.columns.toSeq)
    assert(direct.collect().toSeq == eav.collect().toSeq)
    assert(direct.count() == 3) // watch+phone for Bob, laptop for Carol
  }

  test("direct plan has no explode and fuses same-entity patterns") {
    // idFunctional: the caller asserts ids determine rows (unique
    // here), licensing the fused row-local projection — without it
    // multi-pattern groups pay the groupBy-product plan (its own
    // explode), pinned in EavRegroupSpec's duplicate-id tests
    val direct = QueryCompiler.runDocs(
      Map("people" -> DocSource(people, "id", idFunctional = true),
        "devices" -> DocSource(devices, "did", idFunctional = true)),
      pats)
    val plan = direct.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"explode in direct plan:\n$plan")
    // 5 patterns over 2 entities → exactly one join, not four.
    // Forced tier-2 baseline: the public run() now regroups a shredded
    // source to this same direct plan (EavRegroupSpec), so the
    // comparison target is the EAV execution itself.
    val eavPlan = QueryCompiler.runBoxedEav(
      Map("people" -> Shred.shred(people), "devices" -> Shred.shred(devices)),
      pats).queryExecution.executedPlan.toString
    def count(s: String, what: String) = s.sliding(what.length).count(_ == what)
    assert(count(plan, "Join") < count(eavPlan, "Join"))
  }

  test("numeric canonical encoding matches across paths") {
    val p2 = Seq(Pattern(V("p"), C("bal"), V("b"), "people"))
    val eav = QueryCompiler.run(Map("people" -> Shred.shred(people)), p2)
      .orderBy("b").as[String].collect().toSeq
    val direct = QueryCompiler.runDocs(
      Map("people" -> DocSource(people, "id")), p2)
      .orderBy("b").as[String].collect().toSeq
    assert(direct == eav && direct == Seq("10", "20", "30"))
  }

  private def srcs = Map("people" -> DocSource(people, "id"),
    "devices" -> DocSource(devices, "did"))

  test("native path engages and equals the boxed path bit-for-bit") {
    val native = QueryReference.runDocsNative(srcs, pats)
    assert(native.isDefined, "typical long/string patterns must be " +
      "native-eligible")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("who", "dev").collect().toSeq
    assert(rows(native.get) == rows(QueryReference.runDocsBoxedOpt(srcs, pats).get))
    // schemas agree modulo nullability: the product plan's explode of
    // a null-gated collect_set legitimately NARROWS v to non-null on
    // the native route (stronger, value-identical)
    def norm(st: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.StructType(st.fields.map(f =>
        f.copy(nullable = true, dataType = f.dataType match {
          case s: org.apache.spark.sql.types.StructType => norm(s)
          case d => d
        })))
    assert(norm(native.get.schema) ==
      norm(QueryReference.runDocsBoxedOpt(srcs, pats).get.schema))
    // keepDBid: entity-id boxing (long → string, vt ref) also agrees
    val nk = QueryReference.runDocsNative(srcs, pats, keepDBid = true).get
    val bk = QueryReference.runDocsBoxedOpt(srcs, pats, keepDBid = true).get
    assert(nk.orderBy("who", "dev").collect().toSeq ==
      bk.orderBy("who", "dev").collect().toSeq)
  }

  test("native path agrees under boxed predicates") {
    val pred = (bound: Map[String, org.apache.spark.sql.Column]) =>
      bound("pid").getField("v").cast("long") < 3L
    val native = QueryReference.runDocsNative(srcs, pats,
      boxedPredicates = Seq(pred)).get
    val boxed = QueryReference.runDocsBoxedOpt(srcs, pats,
      boxedPredicates = Seq(pred)).get
    assert(native.orderBy("who", "dev").collect().toSeq ==
      boxed.orderBy("who", "dev").collect().toSeq)
    assert(native.count() == 2) // Bob's watch + phone; Carol's pid=3 cut
  }

  test("native distinct shuffles native types, boxing is post-distinct") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.{LongType, StringType}
    val native = QueryReference.runDocsNative(srcs, pats).get
    val aggs = native.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a
    }
    assert(aggs.nonEmpty, "distinct must survive optimization")
    // every distinct (Aggregate) GROUPS on atomic native columns — the
    // grouping keys are what the exchange shuffles; CollapseProject
    // legitimately folds the post-distinct boxing into the Aggregate's
    // RESULT expressions (computed after the final merge, never
    // shuffled)
    aggs.foreach { a =>
      a.groupingExpressions.foreach(g =>
        assert(g.dataType == LongType || g.dataType == StringType,
          s"non-native distinct key: $g: ${g.dataType}"))
    }
  }

  test("var repeated within one entity group = equality constraint") {
    // [?e :p ?x] [?e :r ?x] means "p equals r for this entity" — the
    // EAV path gets this from its join on the shared qvar; the direct
    // forms used to emit two same-named projections and crash with
    // AMBIGUOUS_REFERENCE (found by DirectNativeProps r14)
    val rows = Seq((1L, 5L, 5L), (2L, 5L, 7L), (3L, 2L, 2L))
      .toDF("rid", "p", "r")
    val pats2 = Seq(
      Pattern(V("e"), C("p"), V("x"), "t"),
      Pattern(V("e"), C("r"), V("x"), "t"))
    val eav = QueryCompiler.run(
      Map("t" -> Shred.shred(rows, Some("rid"))), pats2)
      .orderBy("x").as[String].collect().toSeq
    val direct = QueryCompiler.runDocs(
      Map("t" -> DocSource(rows, "rid")), pats2)
      .orderBy("x").as[String].collect().toSeq
    assert(direct == eav && direct == Seq("2", "5"), (direct, eav))
    // native engages here (singleton long) and agrees with boxed
    val srcs2 = Map("t" -> DocSource(rows, "rid"))
    assert(QueryReference.runDocsNative(srcs2, pats2).isDefined)
    assert(QueryReference.runDocsNative(srcs2, pats2).get.collect()
      .toSeq.map(_.toString).sorted ==
      QueryReference.runDocsBoxedOpt(srcs2, pats2).get.collect()
        .toSeq.map(_.toString).sorted)
    // statically mismatched KINDS (num vs bool) never match — the
    // boxed vt-tag semantics, constant-folded on the native route
    val mixed = Seq((1L, 5L, true)).toDF("rid", "p", "r")
    val got = QueryCompiler.runDocs(
      Map("t" -> DocSource(mixed, "rid")), pats2)
    assert(got.count() == 0)
  }

  test("wildcard-entity patterns stay independent (cross product)") {
    // `_` binds nothing: [_ :k ?x] [_ :n ?y] are independent patterns
    // whose binding sets cross-product (the EAV authority). The
    // (src, e)-grouping used to merge all W patterns of a source into
    // ONE projection, silently conjoining them row-locally (3 rows
    // instead of 9).
    import QueryCompiler.W
    val rows = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "k", "n")
    val wpats = Seq(Pattern(W, C("k"), V("x"), "t"),
      Pattern(W, C("n"), V("y"), "t"))
    val eav = QueryCompiler.run(
        Map("t" -> Shred.shred(rows, Some("id"))), wpats)
      .orderBy("x", "y").collect().toSeq.map(_.toString)
    val direct = QueryCompiler.runDocs(
        Map("t" -> DocSource(rows, "id")), wpats)
      .orderBy("x", "y").collect().toSeq.map(_.toString)
    assert(eav.size == 9, eav)
    assert(direct == eav, (direct, eav))
    // native engages and agrees too
    val nat = QueryReference.runDocsNative(
      Map("t" -> DocSource(rows, "id")), wpats)
    assert(nat.isDefined)
    assert(nat.get.count() == 9)
    // a W pattern alongside a V-entity group keeps BOTH semantics:
    // the V patterns conjoin per entity, the W pattern cross-products
    val mixed = Seq(Pattern(V("e"), C("k"), V("x"), "t"),
      Pattern(V("e"), C("n"), V("y"), "t"),
      Pattern(W, C("k"), V("z"), "t"))
    val eavM = QueryCompiler.run(
        Map("t" -> Shred.shred(rows, Some("id"))), mixed)
      .orderBy("x", "y", "z").collect().toSeq.map(_.toString)
    val directM = QueryCompiler.runDocs(
        Map("t" -> DocSource(rows, "id")), mixed)
      .orderBy("x", "y", "z").collect().toSeq.map(_.toString)
    assert(eavM.size == 9 && directM == eavM, (directM, eavM))
  }

  test("native path declines what it cannot prove") {
    // a var in both entity and value position: boxed vt tags ("ref"
    // vs "num") never join — the fallback preserves that semantics
    val evPats = Seq(
      Pattern(V("p"), C("id"), V("pid"), "people"),
      Pattern(V("pid"), C("dname"), V("dev"), "devices"))
    assert(QueryReference.runDocsNative(srcs, evPats).isEmpty)
    // mixed integral+fractional sources for one var: canonical strings
    // join 5 with 5.0 exactly at any magnitude; doubles would not
    val mixPats = Seq(
      Pattern(V("p"), C("id"), V("x"), "people"),
      Pattern(V("d"), C("score"), V("x"), "scored"))
    val scored = Seq((1L, 1.0), (2L, 7.5)).toDF("sid", "score")
    assert(QueryReference.runDocsNative(
      srcs + ("scored" -> DocSource(scored, "sid")), mixPats).isEmpty)
    // and the equivalent boxed query still runs (the caller's fallback)
    val fb = QueryReference.runDocsBoxedOpt(
      srcs + ("scored" -> DocSource(scored, "sid")), mixPats).get
    assert(fb.collect().length == 1) // id 1 joins score 1.0 canonically
  }
}
