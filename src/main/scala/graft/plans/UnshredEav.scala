package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

import graft.shred.{Shred, ShredGenerator}

/** EAV "unshredding" (SURVEY §4 item 7): collapse a triple-pattern
  * filter over a shredded document frame back into a narrow projection
  * over the documents themselves.
  *
  * The `query{}` compiler filters the shred output once per pattern
  * (`a === "attr"`), so a k-pattern query plans k full
  * `Generate(ShredGenerator)` passes over the document frame — each
  * one explodes EVERY attribute of every row only to keep one. When
  * the attribute is a constant, the kept triples are a pure function
  * of one (possibly nested) column, so the whole explode collapses to
  *
  * {{{
  *   Filter(a === "city", Generate(ShredGenerator(e, row), docs))
  *     ⇒ Project(e', "city", canon(col), vt, vn,
  *               Filter(col isNotNull && e isNotNull, docs))
  * }}}
  *
  * which Catalyst then pushes into the scan: ReadSchema shrinks to the
  * referenced column and the IsNotNull reaches PushedFilters. The
  * compile-time regroup tier (`QueryCompiler.regroupShredded`) plans
  * most constant-attribute `query{}`s over a shred before any filter
  * exists; this rule serves what reaches the triple form anyway:
  * queries the regroup tier declines (the typed-EAV tier then keeps
  * its joins, but each side becomes a narrow scan) and filters users
  * write over a shred themselves.
  *
  * Soundness rules (any miss ⇒ the plan is left alone):
  *  - the filter must pin `a` to a string literal; remaining conjuncts
  *    stay in a Filter above the rewrite;
  *  - every schema site of the attribute must be reconstructible: a
  *    top-level or struct-nested field of a type the triple contract
  *    renders like `Cast` (`Shred.rendersLikeCast`), or a struct (ref
  *    triple). Sites at or under arrays keep the generator
  *    (element-indexed entity ids need the explode), and so do binary
  *    and TimestampNTZ fields;
  *  - the entity-id and row expressions must be deterministic (they
  *    get duplicated per site);
  *  - the Generate must not also forward child columns.
  *
  * Multiple sites of one attribute union their projections (first
  * branch keeps the generator's exprIds, so parent references bind
  * unchanged); an attribute provably absent from the schema rewrites
  * to an empty relation. The values come from the shared triple
  * contract (`Shred.canonExpr`), so they are the generator's.
  */
object UnshredEav extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case f @ Filter(cond, g: Generate)
          if g.generator.isInstanceOf[ShredGenerator] &&
            !g.outer && g.requiredChildOutput.isEmpty =>
        rewrite(f, cond, g).getOrElse(f)
    }

  /** One reconstructible schema occurrence of the attribute. */
  private final case class Site(
      parents: Seq[String],   // enclosing struct-field names, outermost first
      expr: Expression,       // the field itself (null-propagating chain)
      isRef: Boolean)

  private def rewrite(f: Filter, cond: Expression, g: Generate)
      : Option[LogicalPlan] = {
    val gen = g.generator.asInstanceOf[ShredGenerator]
    val outs = g.generatorOutput
    if (outs.size != 5) return None
    val outA = outs(1)

    // split off `a === "name"`; everything else stays above the rewrite
    def aLiteral(e: Expression): Option[String] = e match {
      case EqualTo(a: Attribute, Literal(s, StringType))
          if a.exprId == outA.exprId && s != null => Some(s.toString)
      case EqualTo(Literal(s, StringType), a: Attribute)
          if a.exprId == outA.exprId && s != null => Some(s.toString)
      case _ => None
    }
    val conjuncts = splitConjunctivePredicates(cond)
    val (aEq, rest) = conjuncts.partition(aLiteral(_).isDefined)
    // EXACTLY one pinned attribute: two different `a === lit`
    // conjuncts (CombineFilters merges stacked filters before this
    // rule runs) contradict each other — taking the first would turn
    // an always-empty result into wrong rows, so bail and let the
    // generator path produce the correct empty frame
    val aNames = aEq.flatMap(aLiteral).distinct
    if (aNames.size != 1) return None
    val attrName = aNames.head

    val (eExpr, rowEntries) = Shred.shredInput(gen).getOrElse(return None)
    if (!eExpr.deterministic || rowEntries.exists(!_._2.deterministic))
      return None

    val found = sites(attrName, Nil, rowEntries).getOrElse(return None)

    val replacement =
      if (found.isEmpty) LocalRelation(f.output)
      else {
        val branches = found.zipWithIndex.map { case (site, i) =>
          branch(site, attrName, eExpr, g, reuseIds = i == 0, outs)
        }
        if (branches.size == 1) branches.head else Union(branches)
      }
    val restored =
      if (found.isEmpty || rest.isEmpty) replacement
      else Filter(rest.reduce(And), replacement)
    Some(restored)
  }

  /** All sites of `name`, or None when any occurrence (or potential
    * occurrence under an array) is not reconstructible.
    */
  private def sites(name: String, parents: Seq[String],
      entries: Seq[(String, Expression)]): Option[Seq[Site]] = {
    val out = Seq.newBuilder[Site]
    entries.foreach { case (fname, fexpr) =>
      fexpr.dataType match {
        case st: StructType =>
          if (fname == name) out += Site(parents, fexpr, isRef = true)
          val sub = st.fields.zipWithIndex.map { case (sf, i) =>
            sf.name -> (GetStructField(fexpr, i, Some(sf.name)): Expression)
          }
          out ++= sites(name, parents :+ fname, sub.toSeq).getOrElse(return None)
        case at: ArrayType =>
          // element-indexed ids need the generator; bail if the
          // attribute is (or could hide) here
          if (fname == name || Shred.nestedFieldNamed(at.elementType, name))
            return None
        case dt =>
          if (fname == name) {
            if (!Shred.rendersLikeCast(dt)) return None
            out += Site(parents, fexpr, isRef = false)
          }
      }
    }
    Some(out.result())
  }

  /** One site's triples as a projection over the Generate's child. */
  private def branch(site: Site, name: String, eExpr: Expression,
      g: Generate, reuseIds: Boolean, outs: Seq[Attribute]): LogicalPlan = {
    val entity: Expression =
      if (site.parents.isEmpty) eExpr
      else Concat(Seq(eExpr, Literal("/" + site.parents.mkString("/"))))
    val (v, vt, vn): (Expression, Expression, Expression) =
      if (site.isRef)
        (Concat(Seq(entity, Literal("/" + name))), Literal("ref"),
          Literal(null, DoubleType))
      else {
        val dt = site.expr.dataType
        // the analyzer's ResolveTimeZone has run: carry the zone here
        (Shred.canonExpr(site.expr, dt, Some(conf.sessionLocalTimeZone)),
          Literal(Shred.typeName(dt)), Shred.vnExpr(site.expr, dt))
      }
    // emit iff the generator would have walked here: the field chain
    // null-propagates ancestors, and a null entity id emits nothing
    val keep = And(IsNotNull(site.expr), IsNotNull(eExpr))
    val values = Seq(entity, Literal(name), v, vt, vn)
    val aliases = outs.zip(values).map { case (out, value) =>
      if (reuseIds) Alias(value, out.name)(exprId = out.exprId)
      else Alias(value, out.name)()
    }
    Project(aliases, Filter(keep, g.child))
  }
}
