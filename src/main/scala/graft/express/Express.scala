package graft.express

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The `express{}` template compiler (SURVEY.md §2.8; reference
  * `builtin.cljc:1840-2209`, `query.cljc:88-242`).
  *
  * Templates rebuild nested documents from binding sets:
  *  - `$map(bsets, express)` — instantiate the template once per binding
  *    set: a pure nested-struct projection.
  *  - `$reduce(bsets, express)` — deep-merge all instantiations: rows
  *    that share the `key(?q)` path collapse, children union under each
  *    key, arrays sort by key. The reference does this by upserting into
  *    a scratch Datahike DB with identity lookup-refs
  *    (`builtin.cljc:2162-2209`); here it is a cascade of
  *    `groupBy(keys).agg(sort_array(collect_list(struct(...))))` from the
  *    innermost key level outward — hash aggregation: vectorized,
  *    spillable, no scratch store, scales out.
  *
  * Template AST:
  *  - field keys: `KLit` literal, `KKey` = `'name': key(?q)` (value AND
  *    grouping key), `KVar` = `{?q: value}` qvar-in-key-position →
  *    dynamic map keys (`query_test.cljc:853-880`).
  *  - values: `XVar` qvar ref, `XLit` literal, `XObj` nested object,
  *    `XArr` array-of-objects child level.
  *
  * Non-key scalar fields must be functionally dependent on the key path
  * (same assumption the reference's upsert-merge makes); they are taken
  * with `first()` under the group.
  */
object Express {

  sealed trait XValue
  final case class XVar(q: String) extends XValue
  final case class XLit(v: Any) extends XValue
  final case class XObj(fields: Seq[XField]) extends XValue
  final case class XArr(elem: XObj) extends XValue
  /** array-of-scalars child: collects the qvar's distinct values under
    * the enclosing key path (cardinality-many attributes).
    */
  final case class XArrVal(q: String) extends XValue

  sealed trait XKey
  final case class KLit(name: String) extends XKey
  final case class KKey(name: String, q: String) extends XKey
  final case class KVar(q: String) extends XKey

  final case class XField(key: XKey, value: XValue)

  object XObj {
    def of(fields: (XKey, XValue)*): XObj =
      XObj(fields.map { case (k, v) => XField(k, v) })
  }

  // ---------- $map: pure projection ----------

  /** One document column ("doc") per binding set. */
  def mapBsets(bsets: DataFrame, tmpl: XObj): DataFrame =
    bsets.select(inst(tmpl).as("doc"))

  private def inst(v: XValue): Column = v match {
    case XVar(q) => col(q)
    case XLit(x) => lit(x)
    case XArr(elem) => array(inst(elem))
    case XArrVal(q) => array(col(q))
    case XObj(fields) =>
      if (fields.exists(_.key.isInstanceOf[KVar])) {
        map_from_entries(array(fields.map { f =>
          val KVar(q) = f.key: @unchecked
          struct(col(q).as("key"), inst(f.value).as("value"))
        }: _*))
      } else {
        struct(fields.map { f =>
          val name = f.key match {
            case KLit(n) => n
            case KKey(n, _) => n
            case KVar(_) => throw new IllegalStateException("unreachable")
          }
          (f.key match {
            case KKey(_, q) => col(q)
            case _ => inst(f.value)
          }).as(name)
        }: _*)
      }
  }

  // ---------- $reduce: groupBy cascade ----------

  /** Deep-merge instantiation. Output: one row per distinct root key
    * path with the template's fields as columns (the reference's
    * jflatten then renders 1 row as an object, N rows as an array —
    * that final collapse is driver-side presentation, kept out of the
    * distributed plan per SURVEY §1.5).
    */
  def reduceBsets(bsets: DataFrame, tmpl: XObj): DataFrame = {
    // Deep templates re-derive the binding frame once per aggregation
    // level (base + each child level scans it); when it is consumed 3+
    // times, stage it (persist + register with graft.core.Caches) so
    // joins/shuffles feeding the bsets run once. Spillable storage,
    // LRU-evicted; released by the harness's Caches.releaseAll between
    // queries; a 2-consumer template skips the materialization cost.
    val src =
      if (dfConsumers(tmpl) >= 3) graft.core.Caches.stage(bsets)
      else bsets
    val ef = elemFrame(src, tmpl, Nil)
    if (tmpl.fields.exists(_.key.isInstanceOf[KVar]))
      ef.select(col("__elem").as("doc")) // map root: single doc column
    else {
      val out = ef.select(col("__elem.*"))
      // deterministic root ordering by the key fields (sort-by-body,
      // reference builtin.cljc:2019-2039)
      val keys = keyQvars(tmpl).map(_._1)
      if (keys.nonEmpty) out.orderBy(keys.map(col): _*) else out
    }
  }

  private def keyQvars(o: XObj): Seq[(String, String)] =
    o.fields.collect { case XField(KKey(n, q), _) => (n, q) }

  /** How many distinct subplans of the cascade scan the binding frame. */
  private def dfConsumers(o: XObj): Int = {
    if (o.fields.exists(_.key.isInstanceOf[KVar])) {
      val XField(KVar(_), sub) = o.fields.head: @unchecked
      if (isPure(sub)) 1 else dfConsumers(sub.asInstanceOf[XObj])
    } else
      1 + o.fields.collect {
        case XField(KLit(_), XArr(sub)) => dfConsumers(sub)
        case XField(KLit(_), XArrVal(_)) => 1
        case XField(KLit(_), obj: XObj) if !isPure(obj) => dfConsumers(obj)
      }.sum
  }

  /** True when the value is expressible as an inline per-row expression
    * (no aggregation below it).
    */
  private def isPure(v: XValue): Boolean = v match {
    case XVar(_) | XLit(_) => true
    case XObj(fs) =>
      !fs.exists(_.key.isInstanceOf[KVar]) && fs.forall(f => isPure(f.value))
    case XArr(_) | XArrVal(_) => false
  }

  /** Frame with columns `keys ++ levelKeys` plus `__elem` = the struct
    * (or map) for one instance of `tmpl` under that key path.
    */
  private def elemFrame(df: DataFrame, tmpl: XObj,
      outer: Seq[String]): DataFrame = {
    val varKeyed = tmpl.fields.exists(_.key.isInstanceOf[KVar])
    if (varKeyed) {
      require(tmpl.fields.forall(_.key.isInstanceOf[KVar]) &&
        tmpl.fields.size == 1,
        "qvar-in-key-position level must be a single {?q: value} field")
      val XField(KVar(q), sub) = tmpl.fields.head: @unchecked
      val entries =
        if (isPure(sub)) {
          df.groupBy((outer :+ q).map(col): _*)
            .agg(first(inst(sub)).as("__v"))
        } else {
          elemFrame(df, sub.asInstanceOf[XObj], outer :+ q)
            .withColumnRenamed("__elem", "__v")
        }
      val grouped = groupByCols(entries, outer)
        .agg(map_from_entries(sortedBy(collect_list(
          struct(col(q).as("key"), col("__v").as("value"))), Seq("key")))
          .as("__elem"))
      grouped
    } else {
      val lk = keyQvars(tmpl)
      val gk = outer ++ lk.map(_._2)

      // split fields into inline scalars vs aggregated children
      val scalarFields = tmpl.fields.collect {
        case XField(KKey(n, q), _) => n -> col(q)
        case XField(KLit(n), v) if isPure(v) => n -> inst(v)
      }
      val aggChildren = tmpl.fields.collect {
        case XField(KLit(n), XArr(sub)) =>
          n -> elemFrame(df, sub, gk)
            .groupBy(gk.map(col): _*)
            .agg(sortedBy(collect_list(col("__elem")),
              keyQvars(sub).map(_._1)).as(n))
        case XField(KLit(n), XArrVal(q)) =>
          n -> df.groupBy(gk.map(col): _*)
            .agg(sort_array(collect_set(col(q))).as(n))
        case XField(KLit(n), o: XObj) if !isPure(o) =>
          n -> elemFrame(df, o, gk).withColumnRenamed("__elem", n)
      }

      val base: DataFrame = {
        val nonKeyScalars = scalarFields.filterNot {
          case (n, _) => lk.exists(_._1 == n)
        }
        val aggExprs = nonKeyScalars.map { case (n, c) => first(c).as(s"__s_$n") }
        if (aggExprs.nonEmpty)
          groupByCols(df, gk).agg(aggExprs.head, aggExprs.tail: _*)
        else if (gk.nonEmpty) df.select(gk.map(col): _*).distinct()
        else df.sparkSession.range(1).toDF("__one")
      }

      val joined = aggChildren.foldLeft(base) { case (acc, (_, cf)) =>
        if (gk.nonEmpty) acc.join(cf, gk) else acc.crossJoin(cf)
      }

      // assemble the struct in template field order
      val fieldExprs: Seq[Column] = tmpl.fields.map {
        case XField(KKey(n, q), _) => col(q).as(n)
        case XField(KLit(n), v) if isPure(v) => col(s"__s_$n").as(n)
        case XField(KLit(n), _) => col(n).as(n)
        case XField(KVar(_), _) => throw new IllegalStateException("unreachable")
      }
      joined.select((gk.map(col) :+ struct(fieldExprs: _*).as("__elem")): _*)
    }
  }

  private def groupByCols(df: DataFrame, keys: Seq[String]) =
    df.groupBy(keys.map(col): _*)

  /** Sort an array of element structs by the named key fields only —
    * a comparator lambda, so elements may contain non-orderable types
    * (maps) outside the keys (reference sort-by-body,
    * builtin.cljc:2019-2039, also sorts by express keys).
    */
  private def sortedBy(c: Column, keyFields: Seq[String]): Column =
    if (keyFields.isEmpty) sort_array(c)
    else array_sort(c, (l, r) =>
      keyFields.map { f =>
        when(l.getField(f) < r.getField(f), lit(-1))
          .when(l.getField(f) > r.getField(f), lit(1))
          .otherwise(lit(0))
      }.reduce((a, b) => when(a =!= 0, a).otherwise(b)))
}
