package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import QueryCompiler._

/** The differential authorities the `query{}` tiers are checked
  * against: the canonical-string EAV execution, and each single build
  * of the document tier ([[QueryCompiler.planDocs]]). No query path
  * runs them.
  */
object QueryReference {

  /** One pattern's frame with one struct<v: string, vt: string> column
    * per qvar. A qvar repeated WITHIN the pattern ([?x :a ?x]) projects
    * once; later occurrences become row-local struct-equality filters —
    * the same semantics the across-pattern join gives shared qvars
    * (struct `===` treats null fields as equal, matching join/distinct).
    */
  private def patternFrame(triples: DataFrame, p: Pattern): DataFrame = {
    var f = triples
    p.a match {
      case C(name) => f = f.filter(col("a") === name.toString)
      case _ => ()
    }
    p.v match {
      case C(value) =>
        val (v, vt) = canonConst(value)
        f = f.filter(col("v") === v && col("vt") === vt)
      case _ => ()
    }
    val cols = Seq.newBuilder[Column]
    val seen = scala.collection.mutable.Map.empty[String, Column]
    def bind(n: String, s: Column): Unit = seen.get(n) match {
      case Some(prev) => f = f.filter(prev === s)
      case None => seen(n) = s; cols += s.as(n)
    }
    p.e match {
      case V(n) => bind(n, struct(col("e").as("v"), lit("ref").as("vt")))
      case C(id) => f = f.filter(col("e") === id.toString)
      case W => ()
    }
    p.a match {
      case V(n) => bind(n, struct(col("a").as("v"), lit("str").as("vt")))
      case _ => ()
    }
    p.v match {
      case V(n) => bind(n, struct(col("v").as("v"), col("vt").as("vt")))
      case _ => ()
    }
    f.select(cols.result(): _*)
  }

  /** The canonical-string execution of [[QueryCompiler.runBoxed]]:
    * binding structs <v: string, vt: string> travel through the join
    * chain and the distinct. Both `query{}` tiers must be bit-identical
    * to it.
    */
  def runBoxedCanonical(sources: Map[String, DataFrame],
      patterns: Seq[Pattern],
      predicates: Seq[Map[String, Column] => Column] = Nil,
      keepDBid: Boolean = false,
      boxedPredicates: Seq[Map[String, Column] => Column] = Nil)
      : DataFrame = {
    require(patterns.nonEmpty, "query{} needs at least one pattern")
    val joined = patterns.map(p => patternFrame(sources(p.src), p))
      .reduceLeft(joinShared)
    val filtered = filterBindings(joined,
      joined.columns.map(n => n -> joined(n)).toMap,
      predicates, boxedPredicates)
    // Datalog set semantics over ALL found qvars, THEN drop entity vars
    // (so residual duplicate bsets survive, as in the reference).
    val entityVars = entityVarsOf(patterns)
    val distinctAll = filtered.distinct()
    val out = distinctAll.columns
      .filter(c => keepDBid || !entityVars.contains(c))
    distinctAll.select(out.toSeq.map(distinctAll(_)): _*)
  }

  /** The boxed build of [[QueryCompiler.planDocs]] alone — the
    * authority the native build is checked against. None when the
    * shape does not resolve.
    */
  def runDocsBoxedOpt(sources: Map[String, DocSource],
      patterns: Seq[Pattern],
      predicates: Seq[Map[String, Column] => Column] = Nil,
      keepDBid: Boolean = false,
      boxedPredicates: Seq[Map[String, Column] => Column] = Nil)
      : Option[DataFrame] =
    planDocs(sources, patterns, predicates, keepDBid, _ => boxedPredicates,
      native = false).map(_.bsets)

  /** The native build of [[QueryCompiler.planDocs]] alone. None when
    * the shape does not resolve or its qvar types cannot travel
    * natively.
    */
  def runDocsNative(sources: Map[String, DocSource],
      patterns: Seq[Pattern],
      predicates: Seq[Map[String, Column] => Column] = Nil,
      keepDBid: Boolean = false,
      boxedPredicates: Seq[Map[String, Column] => Column] = Nil)
      : Option[DataFrame] =
    planDocs(sources, patterns, predicates, keepDBid, _ => boxedPredicates,
      boxed = false).map(_.bsets)
}
