package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.shred.Shred

/** The `query{}` Datalog compiler (SURVEY.md §2.8; reference semantics at
  * `builtin.cljc:1695-1838`, `rewrite.cljc:253-307`).
  *
  * Each triple pattern filters the EAV frame and projects its qvars; the
  * conjunction is a chain of natural equi-joins on shared qvar columns —
  * exactly the reference's Datalog semantics (conjunctive equi-joins by
  * shared qvars, implicit distinct, wildcard attr position, predicate
  * filters), but the join *planning* is Catalyst's: join reordering,
  * broadcast selection for small pattern frames, pushdown of the `a ===`
  * filters to the scan (partition pruning when triples are stored
  * partitioned by attribute).
  *
  * Binding representation: every qvar binds a struct<v: string, vt:
  * string> (canonical value + type tag, matching Shred's encoding), so
  * joins distinguish `"5"` the string from `5` the number, mirroring the
  * typed EAV store. Entity-position qvars bind <id, "ref">.
  */
object QueryCompiler {

  sealed trait Term
  /** `?name` */
  final case class V(name: String) extends Term
  /** literal in the pattern */
  final case class C(value: Any) extends Term
  /** `_` — matches anything, binds nothing */
  case object W extends Term

  /** `[<src> ?e :attr v]` — src names a frame in the sources map
    * (multi-DB queries, reference `rewrite.cljc:292-301`).
    */
  final case class Pattern(e: Term, a: Term, v: Term, src: String = "default")

  /** Canonical encoding of a pattern constant (must match Shred.canon). */
  private[query] def canonConst(x: Any): (String, String) = x match {
    case s: String => (s, "str")
    case b: Boolean => (b.toString, "bool")
    case n: Double =>
      (if (n == n.longValue.toDouble) n.longValue.toString else n.toString,
        "num")
    case n: Float =>
      (if (n == n.longValue.toFloat) n.longValue.toString else n.toString,
        "num")
    case n: Number => (n.toString, "num")
    case other => (other.toString, "str")
  }

  /** One pattern's frame: four flat native columns per qvar
    * ([[TypedEnc]]), encoded row-locally AFTER the pattern's constant
    * filters, so the join/distinct exchanges above carry natives. The
    * within-pattern repeated-qvar filter compares the encoded tuples —
    * all four columns are non-null, so plain conjunctive equality is
    * exactly the legacy struct equality.
    */
  private def patternFrameTyped(triples: DataFrame, p: Pattern)
      : DataFrame = {
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
    val seen = scala.collection.mutable.Map.empty[String, Seq[Column]]
    def bind(n: String, v: Column, vt: Column): Unit = {
      val enc = TypedEnc.encode(n, v, vt)
      seen.get(n) match {
        case Some(prev) =>
          f = f.filter(prev.zip(enc).map { case (a, b) => a === b }
            .reduce(_ && _))
        case None => seen(n) = enc; cols ++= enc
      }
    }
    p.e match {
      case V(n) => bind(n, col("e"), lit("ref"))
      case C(id) => f = f.filter(col("e") === id.toString)
      case W => ()
    }
    p.a match {
      case V(n) => bind(n, col("a"), lit("str"))
      case _ => ()
    }
    p.v match {
      case V(n) => bind(n, col("v"), col("vt"))
      case _ => ()
    }
    f.select(cols.result(): _*)
  }

  /** Run a query.
    *
    * @param sources    named triple frames (multi-source joins)
    * @param patterns   the `:where` conjunction
    * @param predicates filters over bound qvars — receive name→Column
    *                   (the canonical string value); use `num()` for the
    *                   numeric view
    * @param keepDBid   keep entity-position qvars in the output
    *                   (`<|keepDBid: true|>`, reference builtin.cljc:1752-1758)
    * @param boxedPredicates filters that receive name→struct<v,vt>
    *                   (canonical value + type tag) — the typed view the
    *                   text frontend uses to restore native-typed qvar
    *                   bindings inside predicates
    * @return binding sets: one string column per value/attr qvar
    *         (canonical encoding), distinct (Datalog set semantics)
    */
  def run(sources: Map[String, DataFrame], patterns: Seq[Pattern],
      predicates: Seq[Map[String, Column] => Column] = Nil,
      keepDBid: Boolean = false,
      boxedPredicates: Seq[Map[String, Column] => Column] = Nil)
      : DataFrame = {
    val boxed = runBoxed(sources, patterns, predicates, keepDBid,
      boxedPredicates)
    boxed.select(boxed.columns.toSeq
      .map(c => boxed(c).getField("v").as(c)): _*)
  }

  /** A binding frame (boxed struct<v,vt> columns) with the static
    * Spark types the planner proved for its qvars: value qvars carry
    * their document column types, entity and chain qvars
    * `StringType` (refs). Empty when the query ran on the EAV tier,
    * which proves none.
    */
  final case class Planned(bsets: DataFrame,
      varTypes: Map[String, Set[DataType]])

  /** Boxed predicates built from the proven qvar types — the text
    * frontend types its predicate environment this way.
    */
  type TypedPredicates =
    Map[String, Set[DataType]] => Seq[Map[String, Column] => Column]

  /** Like run but keeps the boxed struct<v,vt> binding columns — the
    * typed view (used by the text frontend's unboxing bridge).
    *
    * Planning happens in two tiers:
    *
    *  1. **Shred-aware regrouping** ([[regroupShredded]]): when every
    *     source provably IS a shred of a document frame — in-plan
    *     (Shred.unshredSource) or a persisted artifact with verified
    *     provenance (Shred.unshredPersisted) — and every pattern
    *     resolves over the documents (constant shredded attributes,
    *     including struct-ref CHAINS onto nested fields), the query
    *     compiles over the DOCUMENTS ([[planDocs]]: the native build
    *     when the qvar types allow it, else the boxed one).
    *     Same-entity patterns fuse into one row-local projection when
    *     the entity id provably determines the row (content-hash
    *     ids); with an explicit user idCol they compile to the
    *     duplicate-id-safe per-entity PRODUCT plan (one groupBy(id)
    *     exchange — the exchange the Datalog distinct would have
    *     paid). Either way the fact-scale triple self-join disappears
    *     (measured at sf100: the 2-pattern whole-lineitem conjunction
    *     was 914 s / 26 GB shuffled as an EAV self-join vs
    *     157 s / 10.4 GB regrouped; the nested 3-pattern chain at
    *     sf10: 65 s / 8.5 GB EAV vs 17 s / 2.2 GB).
    *  2. Otherwise the typed EAV route ([[runBoxedEav]]): each pattern
    *     frame encodes its bindings as [[TypedEnc]]'s four flat
    *     non-null columns (row-local, after the constant filters), the
    *     join chain and the Datalog distinct run on those natives — a
    *     numeric/id binding's exchange key is (byte, long, "", "")
    *     instead of two strings — and the boxed struct<v,vt> is
    *     decoded AFTER the distinct as a row-local projection.
    *
    * Both tiers are bit-identical to the canonical-string execution
    * (struct<v, vt> bindings through the joins and the distinct), which
    * the tests keep as the differential authority (EavTypedProps pins
    * the typed route; EavRegroupSpec pins the regrouped one).
    */
  def runBoxed(sources: Map[String, DataFrame], patterns: Seq[Pattern],
      predicates: Seq[Map[String, Column] => Column] = Nil,
      keepDBid: Boolean = false,
      boxedPredicates: Seq[Map[String, Column] => Column] = Nil)
      : DataFrame =
    plan(sources, patterns, predicates, keepDBid, _ => boxedPredicates)
      .bsets

  /** [[runBoxed]] returning the proven qvar types with the frame, and
    * building its boxed predicates from them — the one planner call of
    * the text frontend.
    */
  private[graft] def plan(sources: Map[String, DataFrame],
      patterns: Seq[Pattern],
      predicates: Seq[Map[String, Column] => Column],
      keepDBid: Boolean,
      boxedPredicates: TypedPredicates): Planned = {
    require(patterns.nonEmpty, "query{} needs at least one pattern")
    regroupShredded(sources, patterns, predicates, keepDBid,
        boxedPredicates)
      .getOrElse(Planned(runBoxedEav(sources, patterns, predicates,
        keepDBid, boxedPredicates(Map.empty)), Map.empty))
  }

  /** Tier-1 planning of [[runBoxed]]: compile a constant-attribute
    * query over explicitly-shredded sources directly against the
    * underlying document frames. Sound only when the regrouped read
    * provably reproduces the triples (see Shred.unshredSource for the
    * plan-shape and non-null-id conditions); per pattern the attribute
    * must additionally be
    *
    *  - among the shredded top-level names, of a scalar type the
    *    triple contract renders like `Cast` (Shred.rendersLikeCast —
    *    the generator and the document read then agree), and
    *  - absent from every NESTED position of the schema: a name that
    *    also occurs under a struct matches sub-entity triples in the
    *    EAV form, which a top-level projection cannot see.
    *
    * A missing attribute also declines: the EAV form correctly yields
    * the empty binding set there, while runDocs would throw.
    */
  private def regroupShredded(sources: Map[String, DataFrame],
      patterns: Seq[Pattern],
      predicates: Seq[Map[String, Column] => Column],
      keepDBid: Boolean,
      boxedPredicates: TypedPredicates): Option[Planned] = {
    import org.apache.spark.sql.types._
    if (!patterns.forall(_.a.isInstanceOf[C])) return None
    val det = sources.map { case (n, df) =>
      n -> Shred.unshredSource(df).orElse(Shred.unshredPersisted(df))
    }
    if (det.values.exists(_.isEmpty)) return None
    val ent = "__graft_regroup_e"
    // the synthetic id column is projected into the frame pattern
    // resolution sees, so a pattern whose constant attribute is
    // literally the synthetic name would bind entity ids here while
    // the EAV authority (no such triples) returns empty — decline
    // (round-16 ADVICE)
    if (patterns.exists(_.a.asInstanceOf[C].value.toString == ent))
      return None
    val docs = det.map { case (n, d) =>
      import org.apache.spark.sql.catalyst.expressions.{Cast,
        KnownNotNull}
      import org.apache.spark.sql.graftglue.ColumnGlue
      val Shred.UnshredInfo(doc, eExpr, shredded, proven) = d.get
      if (doc.columns.contains(ent)) return None
      // keep the id native when the cast to the shred's string id is
      // the identity canon (integral inner) — the native path's
      // 8-byte join key; otherwise bind the string form
      val idExpr = eExpr match {
        case c: Cast if (c.child.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }) => c.child
        case e => e
      }
      // the generator emits NOTHING for a null entity id, so null-id
      // document rows must not participate; after the filter the
      // column is provably non-null (KnownNotNull), which is what
      // the native binder's id eligibility needs on parquet sources
      // (their schemas mark every column nullable)
      val base =
        if (eExpr.nullable)
          doc.filter(ColumnGlue.column(idExpr).isNotNull)
        else doc
      val guarded =
        if (idExpr.nullable) KnownNotNull(idExpr) else idExpr
      // project down to the SHREDDED attributes (the doc frame may
      // carry more): the triple frame only holds these, so pattern
      // resolution (incl. the nested-shadowing checks) must see
      // exactly this schema — a pattern on an unshredded attribute
      // then correctly declines to the EAV tier (empty result there)
      val keep = doc.columns.filter(shredded.contains).toSeq
      val projected = base.withColumn(ent, ColumnGlue.column(guarded))
        .select((ent +: keep).map(c => col(Shred.quoteIdent(c))): _*)
      // fused-plan license: a content-hash id (equal ids imply equal
      // rows by construction) OR a write-time uniqueness proof carried
      // by the shred (ShredGenerator.idFunctional / the persisted
      // sidecar's idUnique — Shred.shredAttrsVerifiedAll, Shred.shredWrite)
      n -> DocSource(projected, ent,
        idFunctional = proven || contentHashId(idExpr,
          doc.queryExecution.analyzed.output))
    }
    planDocs(docs, patterns, predicates, keepDBid, boxedPredicates)
  }

  /** Is the shred's entity-id expression the content hash over the
    * WHOLE document row (the shape of the shred's no-idCol id:
    * `xxhash64(to_json(struct(<every child column>)))`)? Then equal
    * ids imply equal rows (modulo 64-bit hash collisions — the same
    * conflation the EAV authority itself makes, since colliding rows
    * share an entity there too), which is what licenses the fused
    * row-local compilation of multi-pattern groups; an explicit user
    * idCol proves nothing (duplicate ids are realistic) and takes the
    * per-entity product plan instead.
    */
  private def contentHashId(
      idExpr: org.apache.spark.sql.catalyst.expressions.Expression,
      childOutput: Seq[org.apache.spark.sql.catalyst.expressions
        .Attribute]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import Shred.{stripAlias => strip}
    strip(idExpr) match {
      case XxHash64(Seq(json), _) => strip(json) match {
        case StructsToJson(_, s, _) => strip(s) match {
          case cns: CreateNamedStruct =>
            val refs = cns.valExprs.map(strip).collect {
              case a: AttributeReference => a.exprId
            }
            refs.size == cns.valExprs.size &&
              childOutput.map(_.exprId).toSet.subsetOf(refs.toSet)
          case _ => false
        }
        case _ => false
      }
      case _ => false
    }
  }

  /** Tier-2 of [[runBoxed]]: the typed EAV execution over the triple
    * frames themselves (native-encoded bindings through the join chain
    * and the Datalog distinct).
    */
  private[graft] def runBoxedEav(sources: Map[String, DataFrame],
      patterns: Seq[Pattern],
      predicates: Seq[Map[String, Column] => Column] = Nil,
      keepDBid: Boolean = false,
      boxedPredicates: Seq[Map[String, Column] => Column] = Nil)
      : DataFrame = {
    require(patterns.nonEmpty, "query{} needs at least one pattern")
    val joined = patterns.map(p => patternFrameTyped(sources(p.src), p))
      .reduceLeft { (acc, next) =>
        val shared = TypedEnc.varsOf(acc).toSet
          .intersect(TypedEnc.varsOf(next).toSet).toSeq
        if (shared.nonEmpty)
          acc.join(next, shared.flatMap(TypedEnc.colNames))
        else acc.crossJoin(next)
      }
    val filtered = filterBindings(joined, TypedEnc.varsOf(joined)
      .map(n => n -> TypedEnc.boxedOf(joined, n)).toMap,
      predicates, boxedPredicates)
    // Datalog set semantics over ALL found qvars — on the native
    // encoding — THEN drop entity vars and decode to boxed structs
    // (so residual duplicate bsets survive, as in the reference).
    val entityVars = entityVarsOf(patterns)
    val distinctAll = filtered.distinct()
    val out = TypedEnc.varsOf(distinctAll)
      .filter(c => keepDBid || !entityVars.contains(c))
    distinctAll.select(out.map(n =>
      TypedEnc.boxedOf(distinctAll, n).as(n)): _*)
  }

  /** Single-source convenience. */
  def run(triples: DataFrame, patterns: Seq[Pattern]): DataFrame =
    run(Map("default" -> triples), patterns)

  /** Natural join on the shared binding columns (cross join when none
    * are shared) — the conjunction of two binding frames.
    */
  private[query] def joinShared(acc: DataFrame, next: DataFrame): DataFrame = {
    val shared = acc.columns.toSet.intersect(next.columns.toSet).toSeq
    if (shared.nonEmpty) acc.join(next, shared) else acc.crossJoin(next)
  }

  /** Both predicate kinds over a binding frame: `predicates` see each
    * qvar's canonical string, `boxedPredicates` its struct<v,vt> view
    * (`boxed`, by qvar name).
    */
  private[query] def filterBindings(f: DataFrame, boxed: Map[String, Column],
      predicates: Seq[Map[String, Column] => Column],
      boxedPredicates: Seq[Map[String, Column] => Column]): DataFrame = {
    val bound = boxed.map { case (n, s) => n -> s.getField("v") }
    boxedPredicates.foldLeft(
      predicates.foldLeft(f)((g, p) => g.filter(p(bound))))(
      (g, p) => g.filter(p(boxed)))
  }

  /** The qvars in entity position. */
  private[query] def entityVarsOf(patterns: Seq[Pattern]): Set[String] =
    patterns.flatMap(_.e match {
      case V(n) => Some(n); case _ => None
    }).toSet

  // ---------- direct (unshredded) compilation ----------

  /** A document source compiled WITHOUT the EAV detour (SURVEY §2.8
    * "skip EAV when the shape is known"). `idFunctional`: the caller
    * asserts the id column functionally determines the document row
    * (true for content-derived ids, or frames whose id is unique).
    * Only then may patterns over one entity fuse into a single
    * row-local projection; otherwise multi-pattern groups compile to
    * the per-entity PRODUCT plan (groupBy id + value sets + explode),
    * which reproduces the EAV authority's cross-product semantics
    * under duplicate ids at the cost of one exchange — the exchange
    * the Datalog distinct would have paid anyway, so single-group
    * queries stay at one shuffle either way.
    */
  final case class DocSource(df: DataFrame, idCol: String,
      idFunctional: Boolean = false)

  /** Are all field names safe for deterministic sub-entity id
    * strings? Shred sub-ids are `parent + "/" + name` (+ "/" + index
    * for array elements), so a name containing "/", an all-digit name
    * (struct-field vs array-index ambiguity), an empty name, or a
    * backtick (unaddressable column) could alias two different paths
    * onto one id string — chains decline on such schemas.
    */
  private def chainSafeNames(dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => st.fields.forall { f =>
        f.name.nonEmpty && !f.name.contains("/") &&
          !f.name.forall(_.isDigit) && !f.name.contains("`") &&
          chainSafeNames(f.dataType)
      }
      case ArrayType(et, _) => chainSafeNames(et)
      case MapType(k, v, _) => chainSafeNames(k) && chainSafeNames(v)
      case _ => true
    }
  }

  /** One hop of a chain path: a struct field, or an array-of-struct
    * field (one sub-entity per ELEMENT — the shred emits per-element
    * refs `parent/name/idx`).
    */
  private[query] final case class Step(name: String, array: Boolean)

  /** The struct type of the chain node at `steps` (root = the row). */
  private def structAt(st: org.apache.spark.sql.types.StructType,
      steps: Seq[Step]): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    steps.foldLeft(Option(st)) {
      case (Some(s), Step(name, isArr)) =>
        s.fields.find(_.name == name).map(_.dataType) match {
          case Some(t: StructType) if !isArr => Some(t)
          case Some(ArrayType(t: StructType, _)) if isArr => Some(t)
          case _ => None
        }
      case _ => None
    }
  }

  /** vt tag a document column's values carry in the EAV form:
    * struct fields shred to sub-entity REFS.
    */
  private def vtNameOf(dt: DataType): String = dt match {
    case _: org.apache.spark.sql.types.StructType => "ref"
    case org.apache.spark.sql.types.ArrayType(
      _: org.apache.spark.sql.types.StructType, _) => "ref"
    case _ => Shred.typeName(dt)
  }

  /** A pattern resolved against its group's root document frame.
    * `multi`: the value column is an ARRAY of scalars (cardinality-
    * many attribute — one triple per element); `dt` is then the
    * ELEMENT type.
    */
  private[query] final case class RPat(
      entVar: Option[String],          // entity var (None: C/W root)
      entSteps: Seq[Step],             // chain path ([] = root doc)
      attr: String,
      dt: DataType,                    // value column (or element) type
      multi: Boolean,
      chainBind: Option[(String, Seq[Step])], // binds chain var at steps
      v: Term)

  /** One compilation group: all patterns reachable from one root
    * entity term (its own patterns plus struct-ref descendants), in
    * original pattern order.
    */
  private[query] final case class RGroup(src: String, root: Term,
      pats: Seq[RPat])

  /** Resolve a constant-attribute conjunction against document frames
    * into per-root-entity groups, chaining entity vars bound by
    * struct-ref attributes (`[?c :profile ?p][?p :bal ?b]` — the
    * reference's nested-document queries, query_test.cljc:622-702) to
    * nested column paths with deterministic sub-ids. None = some shape
    * can't provably reproduce the EAV semantics; the caller keeps the
    * EAV plan (or throws, for the programmer-facing runDocs entry).
    *
    * Declines: wildcard/non-constant attributes; a root-level
    * attribute that is missing, nested-shadowed (the EAV form would
    * match sub-entities a root projection can't see), or shadowed by
    * a backticked name; value columns the triple contract does not
    * render like `Cast` (Shred.rendersLikeCast: binary, TimestampNTZ;
    * arrays/maps have per-element triple semantics) except
    * struct columns under C/W terms (statically empty / existence);
    * chain vars bound twice, crossing sources, or over schemas whose
    * field names could alias sub-id strings (chainSafeNames) or whose
    * id column isn't integral (a string id could itself contain "/").
    */
  private[query] def resolveGroups(sources: Map[String, DocSource],
      patterns: Seq[Pattern]): Option[Seq[RGroup]] = {
    import org.apache.spark.sql.types._
    if (patterns.isEmpty) return None
    if (!patterns.forall(p => p.a.isInstanceOf[C] &&
      sources.contains(p.src))) return None

    def attrOf(p: Pattern): String =
      p.a.asInstanceOf[C].value.toString

    val ePats: Map[String, Seq[(Pattern, Int)]] =
      patterns.zipWithIndex.collect {
        case (p, i) if p.e.isInstanceOf[V] =>
          (p.e.asInstanceOf[V].name, (p, i))
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val vPats: Map[String, Seq[(Pattern, Int)]] =
      patterns.zipWithIndex.collect {
        case (p, i) if p.v.isInstanceOf[V] =>
          (p.v.asInstanceOf[V].name, (p, i))
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

    // ---- fixpoint: which single-value-occurrence vars are CHAIN
    // vars (bound to a struct-ref sub-entity), and at what path ----
    val chainPath = scala.collection.mutable
      .Map.empty[String, (String, Seq[Step])] // var -> (src, steps)
    val plainValue = scala.collection.mutable.Set.empty[String]
    val candidates = vPats.collect {
      case (n, occ) if occ.size == 1 => n
    }.toSeq.sortBy(n => vPats(n).head._2)
    def isRootVar(n: String): Boolean = ePats.contains(n) &&
      (!candidates.contains(n) || plainValue(n))
    var progress = true
    while (progress &&
        candidates.exists(n => !chainPath.contains(n) && !plainValue(n))) {
      progress = false
      for (n <- candidates if !chainPath.contains(n) && !plainValue(n)) {
        val (p, _) = vPats(n).head
        val parentPath: Option[Option[Seq[Step]]] = p.e match {
          case C(_) | W => Some(Some(Nil))
          case V(m) =>
            if (m == n) Some(None) // self-reference: never a chain
            else chainPath.get(m) match {
              case Some((s, pp)) =>
                Some(if (s == p.src) Some(pp) else None)
              case None =>
                if (plainValue(m) || isRootVar(m) ||
                  (!ePats.contains(m) && !candidates.contains(m)))
                  Some(Some(Nil))
                else None // parent unresolved — wait
            }
        }
        parentPath match {
          case Some(None) =>
            plainValue += n; progress = true
          case Some(Some(pp)) =>
            val fdt = structAt(sources(p.src).df.schema, pp)
              .flatMap(_.fields.find(_.name == attrOf(p)))
              .map(_.dataType)
            val eOk = ePats.getOrElse(n, Seq.empty)
              .forall(_._1.src == p.src)
            fdt match {
              case Some(_: StructType) if eOk =>
                chainPath(n) = (p.src, pp :+ Step(attrOf(p), false))
              case Some(ArrayType(_: StructType, _)) if eOk =>
                // array-of-struct: one sub-entity per element — the
                // fused build explodes; product mode declines
                chainPath(n) = (p.src, pp :+ Step(attrOf(p), true))
              case _ => plainValue += n
            }
            progress = true
          case None => ()
        }
      }
      if (!progress) {
        // ref cycle ([?a :f ?b][?b :g ?a]): no chain assignment is
        // derivable — mark the earliest stalled var plain and retry
        // (its struct-typed value binding then declines below)
        candidates.find(n => !chainPath.contains(n) && !plainValue(n))
          .foreach { n => plainValue += n; progress = true }
      }
    }

    // ---- chain safety per source that hosts chains ----
    val chainSrcs = chainPath.values.map(_._1).toSet
    for (s <- chainSrcs) {
      val src = sources(s)
      val idOk = src.df.schema(src.idCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      if (!idOk) return None
      val dataFields = StructType(
        src.df.schema.fields.filterNot(_.name == src.idCol))
      if (!chainSafeNames(dataFields)) return None
    }

    // ---- per-pattern validation ----
    val rpats = patterns.map { p =>
      val a = attrOf(p)
      val schema = sources(p.src).df.schema
      if (a.contains("`")) return None
      val (entVar, entSteps) = p.e match {
        case V(n) => chainPath.get(n) match {
          case Some((s, pp)) =>
            if (s != p.src) return None
            (Some(n), pp)
          case None => (Some(n), Seq.empty[Step])
        }
        case _ => (None, Seq.empty[Step])
      }
      if (entSteps.isEmpty) {
        // root-level: top-level field, not shadowed anywhere nested
        if (!schema.fields.exists(_.name == a)) return None
        if (schema.fields.exists(f => Shred.nestedFieldNamed(f.dataType, a)))
          return None
        if (schema.fields.exists(_.name.contains("`"))) return None
      }
      val fdt = structAt(schema, entSteps)
        .flatMap(_.fields.find(_.name == a)).map(_.dataType)
        .getOrElse(return None)
      val chainBind = p.v match {
        case V(n) => chainPath.get(n).map { case (_, pp) => (n, pp) }
        case _ => None
      }
      val (dt, multi) = fdt match {
        case _ if chainBind.isDefined => (fdt, false)
        case _: StructType => p.v match {
          case C(_) | W => (fdt, false) // vt-gate false / existence
          case V(_) => return None
        }
        case ArrayType(_: StructType, _) => p.v match {
          case C(_) | W => (fdt, false) // ref-kind: false / has-element
          case V(_) => return None
        }
        case ArrayType(et, _) if Shred.rendersLikeCast(et) =>
          (et, true) // cardinality-many scalar: one triple per element
        case d if Shred.rendersLikeCast(d) => (d, false)
        case _ => return None
      }
      RPat(entVar, entSteps, a, dt, multi, chainBind, p.v)
    }

    // ---- grouping: every pattern attaches to its ROOT entity ----
    def rootIdx(i: Int): Int = patterns(i).e match {
      case V(n) if chainPath.contains(n) => rootIdx(vPats(n).head._2)
      case _ => i
    }
    def rootKey(i: Int): (String, String) = {
      val r = rootIdx(i)
      val p = patterns(r)
      p.e match {
        case W => (p.src, s"W#$r")
        case C(id) => (p.src, s"C#$id")
        case V(n) => (p.src, s"V#$n")
      }
    }
    Some(patterns.indices.groupBy(rootKey).toSeq
      .sortBy(_._2.head)
      .map { case ((src, _), idxs) =>
        RGroup(src, patterns(rootIdx(idxs.head)).e,
          idxs.map(rpats(_)))
      })
  }

  /** Per-mode binding encodings for [[buildGroup]]. */
  private trait Binder {
    /** root entity binding from the id column */
    def ent(id: Column, varName: String): Column
    /** chain (sub-entity) binding from the finished sub-id string */
    def chain(subId: Column): Column
    /** scalar value binding */
    def value(c: Column, dt: DataType, varName: String): Column
    /** value binding inside a product-mode collect_set (native
      * normalizes -0.0 → 0.0 there: the set dedups on boxed equality,
      * which distinguishes them, while the authority's canonical
      * strings and Spark's distinct/join keys do not)
      */
    def setValue(c: Column, dt: DataType, varName: String): Column =
      value(c, dt, varName)
    /** the boxed struct<v,vt> view of a built binding column */
    def boxed(c: Column, dt: DataType, varName: String): Column
  }

  private def subIdSuffix(path: Seq[String]): String =
    path.mkString("/", "/", "")

  private final class BoxedBinder extends Binder {
    def ent(id: Column, varName: String): Column =
      struct(id.cast("string").as("v"), lit("ref").as("vt"))
    def chain(subId: Column): Column =
      struct(subId.as("v"), lit("ref").as("vt"))
    def value(c: Column, dt: DataType, varName: String): Column =
      struct(Shred.canon(c, dt).as("v"), lit(vtNameOf(dt)).as("vt"))
    def boxed(c: Column, dt: DataType, varName: String): Column = c
  }

  /** `travel`: the native type each qvar travels as; `refVars`: the
    * entity and chain qvars, which box with the "ref" tag.
    */
  private final class NativeBinder(travel: Map[String, DataType],
      refVars: Set[String]) extends Binder {
    def ent(id: Column, varName: String): Column =
      id.cast(travel(varName))
    def chain(subId: Column): Column = subId
    def value(c: Column, dt: DataType, varName: String): Column =
      c.cast(travel(varName))
    override def setValue(c: Column, dt: DataType, varName: String)
        : Column = {
      import org.apache.spark.sql.types.{DoubleType, FloatType}
      val v = value(c, dt, varName)
      travel(varName) match {
        case t @ (DoubleType | FloatType) =>
          when(v === lit(0d).cast(t), lit(0d).cast(t)).otherwise(v)
        case _ => v
      }
    }
    def boxed(c: Column, dt: DataType, varName: String): Column =
      struct(Shred.canon(c, dt).as("v"),
        lit(if (refVars(varName)) "ref" else Shred.typeName(dt)).as("vt"))
  }

  /** Compile one resolved group to a binding frame. Returns the frame
    * plus whether its rows are provably DISTINCT (product mode with at
    * least one binding column — lets the caller skip the global
    * Datalog distinct when every group is).
    *
    * Fused mode (id functional, or a single pattern): one row-local
    * projection — scan-only, zero exchanges. Product mode: the EAV
    * authority joins this group's patterns on the entity id, so under
    * duplicate ids the binding set is the PER-ENTITY cross product of
    * each pattern's value set, not the row-local zip — compiled as one
    * groupBy(id) exchange with per-pattern aggregates (existence =
    * max(cond); value sets = collect_set; a repeated var =
    * array_intersect), then one explode per value var. Per-entity
    * DISTINCT value sets must fit executor memory — the same bound the
    * per-entity semantics impose on the reference itself.
    */
  /** Does this group need lateral explodes (array chain hops, or
    * cardinality-many scalar values with bindings)? Only the FUSED
    * build supports them; callers decline such groups to the EAV plan
    * when fusion isn't licensed.
    */
  private[query] def needsExplode(g: RGroup): Boolean =
    g.pats.exists(rp =>
      (rp.multi && rp.v.isInstanceOf[V]) ||
        rp.entSteps.exists(_.array) ||
        rp.chainBind.exists(_._2.exists(_.array)))

  private def buildGroup(src: DocSource, g: RGroup, bind: Binder)
      : (DataFrame, Boolean) = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType,
      StructType}
    val df = src.df
    val id = col(Shred.quoteIdent(src.idCol))
    val fuse = src.idFunctional || g.pats.size <= 1
    if (fuse) {
      var f = df
      val cols = Seq.newBuilder[Column]
      val seen = scala.collection.mutable
        .Map.empty[String, (Column, String)]
      // generated explode-column names must not collide with doc
      // columns (the __gk discipline — round-16 ADVICE); names picked
      // so far stay reserved because f accumulates them
      val used = scala.collection.mutable.Set(df.columns: _*)
      def fresh(pfx: String): String = {
        val n = Iterator.from(0).map(i => s"__graft_$pfx$i")
          .find(s => !used(s)).get
        used += n; n
      }
      def bindVar(n: String, c: Column, vt: String): Unit =
        seen.get(n) match {
          case Some((prev, pvt)) =>
            f = if (pvt == vt) f.filter(prev === c)
              else f.filter(lit(false))
          case None => seen(n) = (c, vt); cols += c.as(n)
        }
      // materialize chain-node contexts parent-first: each node is a
      // (sub-id string, element access) pair; an ARRAY hop laterally
      // posexplodes the elements (null elements emit no sub-entity,
      // and the POSITION keeps the shred's original element index)
      val nodes: Seq[Seq[Step]] =
        (g.pats.map(_.entSteps) ++ g.pats.flatMap(_.chainBind.map(_._2)))
          .filter(_.nonEmpty).distinct.sortBy(_.size)
      val ctx = scala.collection.mutable
        .Map[Seq[Step], (Column, Option[Column])](
          (Seq.empty[Step], (id.cast("string"), None)))
      def fieldOf(node: Seq[Step], name: String): Column =
        ctx(node)._2 match {
          case None => col(Shred.quoteIdent(name))
          case Some(elem) => elem.getField(name)
        }
      nodes.foreach { steps =>
        val parent = steps.init
        val pid = ctx(parent)._1
        val st = steps.last
        val src0 = fieldOf(parent, st.name)
        if (st.array) {
          val pn = fresh("pos")
          val en = fresh("elem")
          f = f.select(col("*"), posexplode(src0).as(Seq(pn, en)))
            .filter(col(en).isNotNull)
          ctx(steps) = (concat(pid, lit("/" + st.name + "/"),
            col(pn).cast("string")), Some(col(en)))
        } else {
          ctx(steps) = (concat(pid, lit("/" + st.name)), Some(src0))
        }
      }
      g.root match {
        case V(n) => bindVar(n, bind.ent(id, n), "ref")
        case C(cid) => f = f.filter(id.cast("string") === cid.toString)
        case W => ()
      }
      g.pats.foreach { rp =>
        rp.chainBind match {
          case Some((n, steps)) =>
            // struct refs exist iff the struct is non-null; array refs'
            // existence is the explode itself
            if (!steps.last.array)
              f = f.filter(fieldOf(steps.init, steps.last.name).isNotNull)
            bindVar(n, bind.chain(ctx(steps)._1), "ref")
          case None =>
            val c = fieldOf(rp.entSteps, rp.attr)
            if (rp.multi) rp.v match {
              case C(value) =>
                // cardinality-many: the entity matches iff ANY element
                // does (one triple per element in the EAV form)
                val (cv, cvt) = canonConst(value)
                f = if (vtNameOf(rp.dt) == cvt)
                  f.filter(exists(filter(c, _.isNotNull),
                    e => Shred.canon(e, rp.dt) === cv))
                else f.filter(lit(false))
              case V(n) =>
                val en = fresh("mval")
                f = f.select(col("*"),
                  explode(filter(c, _.isNotNull)).as(en))
                bindVar(n, bind.value(col(en), rp.dt, n),
                  vtNameOf(rp.dt))
              case W =>
                f = f.filter(size(filter(c, _.isNotNull)) > 0)
            } else rp.v match {
              case C(value) =>
                val (cv, cvt) = canonConst(value)
                f = if (vtNameOf(rp.dt) == cvt)
                  f.filter(Shred.canon(c, rp.dt) === cv)
                else f.filter(lit(false))
              case V(n) =>
                f = f.filter(c.isNotNull)
                bindVar(n, bind.value(c, rp.dt, n), vtNameOf(rp.dt))
              case W => rp.dt match {
                case ArrayType(_: StructType, _) =>
                  // ref-array: triples exist iff some non-null element
                  f = f.filter(size(filter(c, _.isNotNull)) > 0)
                case _ => f = f.filter(c.isNotNull)
              }
            }
        }
      }
      (f.select(cols.result(): _*), false)
    } else {
      // the caller guarantees no explode-needing patterns reach here
      assert(!needsExplode(g), "product mode cannot explode arrays")
      def pcol(steps: Seq[Step], name: String): Column = {
        val names = steps.map(_.name) :+ name
        names.tail.foldLeft(col(Shred.quoteIdent(names.head)))(_.getField(_))
      }
      var pre = df
      g.root match {
        case C(cid) => pre = pre.filter(id.cast("string") === cid.toString)
        case _ => ()
      }
      // group-key and aggregate alias names must dodge BOTH doc
      // columns and the group's qvar names (a var named "__gk0" or
      // "__c0" would otherwise collide with the synthetic columns the
      // product plan threads through withColumn/select)
      val varNames: Set[String] =
        ((g.root match { case V(n) => Seq(n); case _ => Nil }) ++
          g.pats.flatMap(rp => rp.chainBind.map(_._1).toSeq ++
            (rp.v match {
              case V(n) if rp.chainBind.isEmpty => Seq(n)
              case _ => Nil
            }))).toSet
      val gk = Iterator.from(0).map(i => s"__gk$i")
        .find(n => !df.columns.contains(n) && !varNames.contains(n)).get
      val pfx = Iterator.from(0).map(i => s"__gp$i~")
        .find(p => !varNames.exists(_.startsWith(p))).get
      val aggs = Seq.newBuilder[Column]
      val conds = Seq.newBuilder[String]
      var falseGroup = false
      // bindings in first-occurrence order; value vars carry their
      // set-column names (several when the var repeats in the group)
      sealed trait Bind
      case class EntB(n: String) extends Bind
      case class ChainB(n: String, steps: Seq[Step]) extends Bind
      case class ValB(n: String) extends Bind
      val binds = Seq.newBuilder[Bind]
      val setsOf = scala.collection.mutable
        .LinkedHashMap.empty[String, (Seq[String], String)]
      g.root match {
        case V(n) => binds += EntB(n)
        case _ => ()
      }
      g.pats.zipWithIndex.foreach { case (rp, j) =>
        val c = pcol(rp.entSteps, rp.attr)
        rp.chainBind match {
          case Some((n, steps)) =>
            aggs += max(c.isNotNull).as(s"${pfx}c$j")
            conds += s"${pfx}c$j"
            binds += ChainB(n, steps)
          case None if rp.multi => rp.v match {
            case C(value) =>
              // cardinality-many existence: any element of any row
              val (cv, cvt) = canonConst(value)
              if (vtNameOf(rp.dt) == cvt) {
                aggs += max(exists(filter(c, _.isNotNull),
                  e => Shred.canon(e, rp.dt) === cv)).as(s"${pfx}c$j")
                conds += s"${pfx}c$j"
              } else falseGroup = true
            case W =>
              aggs += max(size(filter(c, _.isNotNull)) > 0).as(s"${pfx}c$j")
              conds += s"${pfx}c$j"
            case V(_) =>
              throw new IllegalStateException(
                "multi value binding requires the fused build")
          }
          case None => rp.v match {
            case C(value) =>
              val (cv, cvt) = canonConst(value)
              if (vtNameOf(rp.dt) == cvt) {
                aggs += max(Shred.canon(c, rp.dt) === cv).as(s"${pfx}c$j")
                conds += s"${pfx}c$j"
              } else falseGroup = true
            case V(n) =>
              val vt = vtNameOf(rp.dt)
              aggs += collect_set(when(c.isNotNull,
                bind.setValue(c, rp.dt, n))).as(s"${pfx}s$j")
              setsOf.get(n) match {
                case Some((ss, pvt)) =>
                  if (pvt != vt) falseGroup = true
                  else setsOf(n) = (ss :+ s"${pfx}s$j", pvt)
                case None =>
                  setsOf(n) = (Seq(s"${pfx}s$j"), vt)
                  binds += ValB(n)
              }
            case W => rp.dt match {
              case org.apache.spark.sql.types.ArrayType(
                  _: org.apache.spark.sql.types.StructType, _) =>
                aggs += max(size(filter(c, _.isNotNull)) > 0).as(s"${pfx}c$j")
                conds += s"${pfx}c$j"
              case _ =>
                aggs += max(c.isNotNull).as(s"${pfx}c$j")
                conds += s"${pfx}c$j"
            }
          }
        }
      }
      val aggCols0 = aggs.result()
      // a group whose EVERY pattern is a kind-mismatched constant
      // (each folds to falseGroup, adding no aggregate) still needs a
      // well-formed groupBy — aggregate a placeholder; the
      // filter(false) below empties the frame (inherited r16 crash:
      // `aggCols.head` on the empty list, EavRegroupProps seed
      // Lho_mHeos…, fixed r17)
      val aggCols =
        if (aggCols0.nonEmpty) aggCols0
        else Seq(max(lit(true)).as(s"${pfx}none"))
      var out = pre.groupBy(id.as(gk))
        .agg(aggCols.head, aggCols.tail: _*)
      if (falseGroup) out = out.filter(lit(false))
      out = conds.result().foldLeft(out)((d, c) => d.filter(col(c)))
      setsOf.foreach { case (n, (ss, _)) =>
        val set = ss.map(col).reduceLeft(array_intersect)
        // collect_set keeps every NaN it meets; array_distinct counts
        // NaN once, as the canonical "NaN" string does
        val distinct = out.schema(ss.head).dataType match {
          case ArrayType(DoubleType | FloatType, _) => array_distinct(set)
          case _ => set
        }
        out = out.withColumn(n, explode(distinct))
      }
      val bindCols = binds.result().map {
        case EntB(n) => bind.ent(col(gk), n).as(n)
        case ChainB(n, steps) => bind.chain(concat(
          col(gk).cast("string"),
          lit(subIdSuffix(steps.map(_.name))))).as(n)
        case ValB(n) => col(n)
      }
      (out.select(bindCols: _*), bindCols.nonEmpty)
    }
  }

  /** The authority's output column order, replayed: the canonical form
    * binds per pattern (e, attr-var, value) and folds frames with
    * using-column joins, which move the SHARED vars to the front at
    * each step — the direct path compiles groups, so its intermediate
    * order differs and the final select must reorder to match
    * bit-identically (column list included).
    */
  private def eavColumnOrder(patterns: Seq[Pattern]): Seq[String] = {
    val frames: Seq[Seq[String]] = patterns.map { p =>
      val b = Seq.newBuilder[String]
      val seen = scala.collection.mutable.Set.empty[String]
      Seq(p.e, p.a, p.v).foreach {
        case V(n) if !seen(n) => seen += n; b += n
        case _ => ()
      }
      b.result()
    }
    frames.reduceLeft { (acc, next) =>
      val shared = acc.toSet.intersect(next.toSet).toSeq
      if (shared.nonEmpty)
        shared ++ acc.filterNot(shared.contains) ++
          next.filterNot(shared.contains)
      else acc ++ next
    }
  }

  /** Run a query over document frames directly. Throws when the shape
    * is unresolvable (wildcard attributes, unsupported column types —
    * see [[resolveGroups]]); library callers that need a fallback use
    * the EAV form via `run`. Output encoding matches `run` exactly
    * (canonical strings, distinct-then-drop-entity semantics).
    */
  def runDocs(sources: Map[String, DocSource], patterns: Seq[Pattern],
      predicates: Seq[Map[String, Column] => Column] = Nil,
      keepDBid: Boolean = false,
      boxedPredicates: Seq[Map[String, Column] => Column] = Nil)
      : DataFrame = {
    val boxed = planDocs(sources, patterns, predicates, keepDBid,
        _ => boxedPredicates)
      .getOrElse(throw new IllegalArgumentException(
        "runDocs requires constant attributes over resolvable document " +
          "columns; use run() for wildcard attributes or unsupported " +
          "shapes"))
      .bsets
    boxed.select(boxed.columns.toSeq
      .map(c => boxed(c).getField("v").as(c)): _*)
  }

  /** The document tier: resolve the patterns once ([[resolveGroups]]),
    * then build the binding frame with the NATIVE binder when the
    * resolved qvar types allow it ([[nativeBinder]]), else the BOXED
    * one; `native`/`boxed` restrict the choice to one build. Both
    * builds share everything but the binding encoding, so they return
    * value-identical frames. The proven qvar types ride along with
    * the frame, and the boxed predicates are built from them. None:
    * the shape does not resolve, an explode-needing group lacks the
    * fused license, or no allowed build applies.
    */
  private[graft] def planDocs(sources: Map[String, DocSource],
      patterns: Seq[Pattern],
      predicates: Seq[Map[String, Column] => Column],
      keepDBid: Boolean,
      boxedPredicates: TypedPredicates,
      native: Boolean = true, boxed: Boolean = true): Option[Planned] = {
    require(patterns.nonEmpty, "query{} needs at least one pattern")
    val groups = resolveGroups(sources, patterns).getOrElse(return None)
    // array hops / cardinality-many bindings need the fused (lateral
    // explode) build — licensed by row-functional ids or a single
    // pattern; otherwise the always-sound EAV plan serves the query
    if (groups.exists(g => needsExplode(g) &&
      !(sources(g.src).idFunctional || g.pats.size <= 1))) return None
    val bind: Binder =
      (if (native) nativeBinder(sources, groups) else None)
        .orElse(if (boxed) Some(new BoxedBinder) else None)
        .getOrElse(return None)
    val types = provenTypes(groups)
    val built = groups.map(g => buildGroup(sources(g.src), g, bind))
    val joined = built.map(_._1).reduceLeft(joinShared)
    def boxedOf(f: DataFrame, n: String): Column =
      bind.boxed(f(n), f.schema(n).dataType, n)
    // predicates see the boxed view; on the native build it is
    // synthesized inline from the native columns (row-local;
    // SimplifyExtractValueOps collapses the struct wrap when a
    // predicate only reads one field)
    val filtered = filterBindings(joined,
      joined.columns.map(n => n -> boxedOf(joined, n)).toMap,
      predicates, boxedPredicates(types))
    // Datalog set semantics over ALL found qvars (native values on the
    // native build), THEN drop entity vars and box (row-local,
    // post-shuffle). Joins of distinct frames stay distinct (the
    // merged row determines both input rows) and filters preserve
    // distinctness, so when every group frame is distinct by
    // construction (product mode) the distinct is a provable no-op —
    // skip its exchange
    val distinctAll =
      if (built.forall(_._2)) filtered else filtered.distinct()
    val entityVars = entityVarsOf(patterns)
    val out = eavColumnOrder(patterns)
      .filter(c => keepDBid || !entityVars.contains(c))
    Some(Planned(distinctAll.select(out.map(c =>
      boxedOf(distinctAll, c).as(c)): _*), types))
  }

  /** The native binder — binding columns keep their SOURCE Spark types
    * through the join chain and the Datalog distinct, so those
    * shuffles carry 8-byte natives instead of canonical-string structs
    * (the boxed form shuffles two strings per qvar — at 60M lineitem
    * rows that was the spill-bound profile BENCH_sf10_r13 attributed).
    * The struct<v,vt> boxing is applied AFTER the distinct as a
    * row-local projection, so the frame is value-identical to the
    * boxed build's.
    *
    * None — the boxed build serves the query — when native equality
    * can't provably reproduce the canonical-string join and distinct
    * semantics:
    *
    *  - a qvar fed by mixed integral+fractional sources (canonical
    *    strings join 5 with 5.0 exactly at any magnitude; a double
    *    coercion loses exactness past 2^53);
    *  - a qvar fed by two different non-integral types, BinaryType
    *    (string reinterpretation is lossy), TimestampType (two
    *    instants of a DST fall-back hour render alike in the session
    *    zone), or any other type whose value→canonical-string map
    *    isn't injective;
    *  - a qvar appearing in BOTH entity and value position (boxed
    *    joins require equal vt tags, so "ref" never matches "num"/
    *    "str" — the boxed result is empty there and the fallback
    *    preserves that) — EXCEPT chain vars, whose tag is "ref" on
    *    both sides by construction and which travel as their sub-id
    *    strings.
    *
    * All-integral sets travel as long (Spark would widen the join key
    * the same way; the canonical strings agree). NaN and -0.0 agree by
    * construction: Spark normalizes both in join/group keys, the
    * canonical encoding collapses -0.0 to "0" and maps NaN to "NaN" on
    * every source, and product-mode collect_sets normalize -0.0
    * explicitly (NativeBinder.setValue) because their dedup boxes.
    */
  private def nativeBinder(sources: Map[String, DocSource],
      groups: Seq[RGroup]): Option[Binder] = {
    import org.apache.spark.sql.types._
    val chainVars = groups.flatMap(_.pats.flatMap(_.chainBind))
      .map(_._1).toSet
    val rootVars = groups.flatMap(_.root match {
      case V(n) => Some(n); case _ => None
    }).toSet
    val valueVars = groups.flatMap(_.pats.flatMap(rp =>
      if (rp.chainBind.isEmpty) rp.v match {
        case V(n) => Some(n); case _ => None
      } else None)).toSet
    if (rootVars.intersect(valueVars).nonEmpty) return None
    if (chainVars.intersect(valueVars).nonEmpty) return None

    // contributing native types per var
    val varTypes = scala.collection.mutable.Map.empty[String, Set[DataType]]
    groups.foreach { g =>
      g.root match {
        case V(n) =>
          val src = sources(g.src)
          val f = src.df.schema(src.idCol)
          // Entity ids must reproduce the boxed form's plain
          // cast("string") + struct null-equality exactly: integral
          // and string ids do (the canonical print IS the plain cast,
          // and non-nullability rules out the null==null join the
          // boxed struct would keep but a native key would drop).
          // Fractional/date/timestamp ids would box via Shred.canon
          // ("5", not "5.0") — a silent divergence — so they fall
          // back to the boxed form.
          val idOk = (f.dataType match {
            case ByteType | ShortType | IntegerType | LongType => true
            case StringType => true
            case _ => false
          }) && !f.nullable
          if (!idOk) return None
          varTypes(n) = varTypes.getOrElse(n, Set.empty) + f.dataType
        case _ => ()
      }
      g.pats.foreach { rp =>
        if (rp.chainBind.isEmpty) rp.v match {
          case V(n) =>
            varTypes(n) = varTypes.getOrElse(n, Set.empty) + rp.dt
          case _ => ()
        }
      }
    }
    def integral(dt: DataType) = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // the native type each var travels as; None → ineligible
    val travel: Map[String, DataType] = varTypes.toMap.map {
      case (n, dts) =>
        val t: DataType =
          if (dts.forall(integral)) LongType
          else if (dts.size == 1) dts.head match {
            case t @ (StringType | BooleanType | DoubleType | FloatType |
                DateType) => t
            case t: DecimalType => t
            case _ => return None
          }
          else if (dts.forall(dt => integral(dt) ||
              dt.isInstanceOf[DecimalType])) {
            // integral+decimal mix (TPC-H money + key schemas): travels
            // as a widened decimal IF every decimal member shares one
            // scale — canonical strings are scale-sensitive ("5.50" vs
            // "5.5"), so mixed scales would join natively where the
            // boxed form does not. Precision covers every member's
            // integer digits plus a long's 19, so the widening cast is
            // exact (never rounds, never overflows) and Shred.canon on
            // the travel type prints integral values without the
            // fractional part — the boxed encoding on every source.
            val decs = dts.toSeq.collect { case d: DecimalType => d }
            val scales = decs.map(_.scale).toSet
            if (scales.size != 1 || scales.head < 0) return None
            val s = scales.head
            val intDigits = (decs.map(d => d.precision - d.scale) ++
              (if (dts.exists(integral)) Seq(19) else Nil)).max
            if (intDigits + s > 38) return None
            DecimalType(intDigits + s, s)
          }
          else return None
        n -> t
    } ++ chainVars.map(_ -> StringType).toMap
    Some(new NativeBinder(travel, rootVars ++ chainVars))
  }

  /** Static Spark types feeding each qvar of a resolved query: value-
    * position qvars collect their source column types; entity-position
    * and chain (sub-entity) qvars are refs (string ids). Lets the
    * typed restore skip its runtime type-facts job for columns whose
    * type is provable.
    */
  private def provenTypes(groups: Seq[RGroup]): Map[String, Set[DataType]] = {
    import org.apache.spark.sql.types.StringType
    val acc = scala.collection.mutable.Map.empty[String, Set[DataType]]
    def add(n: String, dt: DataType): Unit =
      acc(n) = acc.getOrElse(n, Set.empty) + dt
    groups.foreach { g =>
      g.root match {
        case V(n) => add(n, StringType)
        case _ => ()
      }
      g.pats.foreach { rp =>
        rp.chainBind match {
          case Some((n, _)) => add(n, StringType)
          case None => rp.v match {
            case V(n) => add(n, rp.dt)
            case _ => ()
          }
        }
      }
    }
    acc.toMap
  }

  /** Numeric view of a bound qvar inside a predicate. */
  def num(c: Column): Column = c.cast("double")
}
