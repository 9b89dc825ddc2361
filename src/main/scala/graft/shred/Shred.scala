package graft.shred

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  CaseWhen, Cast, CreateNamedStruct, EqualTo, EvalMode, Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.types._
import graft.functions.{Md5Fold60, Sum60}

/** Document ⇄ EAV shredding (SURVEY.md §1.2, §2.8).
  *
  * The reference loads documents into an in-memory Datahike triple store
  * (`query.cljc:270-298`, schema learning at `query.cljc:60-86`); our
  * equivalent is a *long-format DataFrame* of triples:
  *
  *   e:  string  entity id (root = user id column or a generated id;
  *               sub-entities = parent-id + "/" + path, deterministic)
  *   a:  string  attribute name (nested: plain field name, like the
  *               reference's keywordized attrs)
  *   v:  string  canonical value encoding (numbers: integral without ".0",
  *               mirroring JSONata `$string`)
  *   vt: string  value type ∈ str|num|bool|ref (reference boxing,
  *               `util.cljc:299-322`)
  *   vn: double  numeric view (null for non-numbers) for range predicates
  *
  * Scale design: the whole shred is ONE narrow projection building an
  * `array<struct<e,a,v,vt,vn>>` per row (recursion over the *schema*,
  * which is driver-side metadata) followed by a single `explode` — one
  * scan, no shuffle, no driver data movement, fully codegen-able. At
  * 100 TB the triple frame would be written out partitioned by `a`, so
  * pattern filters (`a === "attr"`) become partition pruning.
  */
object Shred {

  private val tripleSchema: StructType = StructType(Seq(
    StructField("e", StringType), StructField("a", StringType),
    StructField("v", StringType), StructField("vt", StringType),
    StructField("vn", DoubleType)))

  // ---------- the triple contract ----------
  // How one document value renders as (v, vt, vn). ShredGenerator is
  // the runtime authority; these Catalyst forms reproduce it for every
  // type `rendersLikeCast` admits, and are the one definition the
  // expression shredder, QueryCompiler's document paths and
  // plans.UnshredEav share (the rule builds resolved expressions
  // after analysis, so the shared form is Catalyst, not Column).

  /** Scalar types whose generator rendering a `Cast` reproduces.
    * Binary (raw bytes, not injective as strings) and TimestampNTZ
    * (the generator prints its internal micros) are not among them.
    */
  private[graft] def rendersLikeCast(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | DateType | TimestampType => true
    case _: NumericType => true
    case _ => false
  }

  /** Canonical `v` of a scalar: whole numbers print without ".0"
    * (JSONata `$string`), whole decimals without their scale. Try-mode
    * casts: a value outside the long range takes the plain-string
    * branch, as in the generator, instead of an ANSI overflow. `tz`:
    * None lets the analyzer resolve the zone; a rule building the
    * expression after analysis must pass the session zone.
    */
  private[graft] def canonExpr(c: Expression, dt: DataType,
      tz: Option[String]): Expression = {
    def render(whole: Expression): Expression = CaseWhen(
      Seq(EqualTo(c, Cast(whole, dt, tz, EvalMode.TRY)) ->
        Cast(whole, StringType, tz)),
      Cast(c, StringType, tz))
    dt match {
      case StringType => c
      case DoubleType | FloatType =>
        render(Cast(c, LongType, tz, EvalMode.TRY))
      case d: DecimalType =>
        // rounding to scale 0 never overflows with one spare digit
        render(Cast(c, DecimalType(
          math.min(DecimalType.MAX_PRECISION, d.precision - d.scale + 1),
          0), tz))
      case _ => Cast(c, StringType, tz)
    }
  }

  /** Column form of [[canonExpr]]. */
  private[graft] def canon(c: Column, dt: DataType): Column =
    ColumnGlue.column(canonExpr(ColumnGlue.expression(c), dt, None))

  /** The `vt` tag of a scalar (reference boxing, `util.cljc:299-322`). */
  private[graft] def typeName(dt: DataType): String = dt match {
    case _: NumericType => "num"
    case BooleanType => "bool"
    case _ => "str"
  }

  /** The `vn` numeric view: the double value of numbers, else null. */
  private[graft] def vnExpr(c: Expression, dt: DataType): Expression =
    dt match {
      case _: NumericType => Cast(c, DoubleType)
      case _ => Literal(null, DoubleType)
    }

  /** Does a field called `name` occur anywhere under `dt`? Its
    * triples then carry that attribute on a sub-entity, which a
    * top-level read of the same name cannot see.
    */
  private[graft] def nestedFieldNamed(dt: DataType, name: String)
      : Boolean = dt match {
    case st: StructType => st.fields.exists(f =>
      f.name == name || nestedFieldNamed(f.dataType, name))
    case ArrayType(et, _) => nestedFieldNamed(et, name)
    case MapType(k, v, _) =>
      nestedFieldNamed(k, name) || nestedFieldNamed(v, name)
    case _ => false
  }

  private[graft] def stripAlias(e: Expression): Expression = e match {
    case a: Alias => stripAlias(a.child)
    case e => e
  }

  /** What a ShredGenerator walks, read from its analyzed
    * `struct(e, row)` child: the entity-id expression and the row's
    * (field name, value expression) entries. None for any other shape.
    */
  private[graft] def shredInput(gen: ShredGenerator)
      : Option[(Expression, Seq[(String, Expression)])] =
    stripAlias(gen.child) match {
      case cns: CreateNamedStruct if cns.valExprs.size == 2 =>
        stripAlias(cns.valExprs(1)) match {
          case row: CreateNamedStruct =>
            val names = row.nameExprs.map {
              case Literal(n, StringType) if n != null => n.toString
              case _ => return None
            }
            Some((stripAlias(cns.valExprs.head),
              names.zip(row.valExprs.map(stripAlias))))
          case _ => None
        }
      case _ => None
    }

  private def scalarTriple(e: Column, name: String, c: Column,
      dt: DataType): Column = {
    val vn = ColumnGlue.column(vnExpr(ColumnGlue.expression(c), dt))
    struct(e.as("e"), lit(name).as("a"), canon(c, dt).as("v"),
      lit(typeName(dt)).as("vt"), vn.as("vn"))
  }

  private def emptyTriples: Column =
    array().cast(ArrayType(tripleSchema))

  /** Triples for one field of an entity; returns array<triple>. */
  private def fieldTriples(e: Column, name: String, c: Column,
      dt: DataType): Column = dt match {
    case st: StructType =>
      val subId = concat(e, lit("/"), lit(name))
      val ref = struct(e.as("e"), lit(name).as("a"), subId.as("v"),
        lit("ref").as("vt"), lit(null).cast("double").as("vn"))
      val subs = st.fields.map(f =>
        fieldTriples(subId, f.name, c.getField(f.name), f.dataType))
      when(c.isNull, emptyTriples)
        .otherwise(concat(array(ref) +: subs.toSeq: _*))
    case ArrayType(st: StructType, _) =>
      // one sub-entity per element: e/name/idx. NB the empty-array
      // guard: sequence(0, size-1) DESCENDS for size 0 and would emit
      // phantom refs through zip_with's null padding.
      when(c.isNull || size(c) === 0, emptyTriples).otherwise(flatten(
        zip_with(c, sequence(lit(0), size(c) - 1), (x, i) => {
          val subId = concat(e, lit("/"), lit(name), lit("/"),
            i.cast("string"))
          val ref = struct(e.as("e"), lit(name).as("a"), subId.as("v"),
            lit("ref").as("vt"), lit(null).cast("double").as("vn"))
          val subs = st.fields.map(f =>
            fieldTriples(subId, f.name, x.getField(f.name), f.dataType))
          // null elements emit nothing (sub-ids keep the ORIGINAL
          // element index — matching ShredGenerator's walk)
          when(x.isNull, emptyTriples)
            .otherwise(concat(array(ref) +: subs.toSeq: _*))
        })))
    case ArrayType(et, _) =>
      // cardinality-many scalar attribute (reference query.cljc:71-73).
      // Null elements emit no triple — the same rule as a null scalar
      // field (EAV stores facts; "nil" is the absence of one), and it
      // keeps $pull's typed restore total over every stored v.
      when(c.isNull, emptyTriples)
        .otherwise(transform(filter(c, _.isNotNull),
          x => scalarTriple(e, name, x, et)))
    case _ =>
      when(c.isNull, emptyTriples)
        .otherwise(array(scalarTriple(e, name, c, dt)))
  }

  /** Shred a document frame into triples. `idCol`: use that column as
    * the entity id (it is still emitted as a regular attribute too);
    * otherwise generate distributed unique ids. Generator form: the
    * triples are emitted directly, with no intermediate array, and
    * match [[shredExpr]] bit for bit.
    */
  def shred(df: DataFrame, idCol: Option[String] = None): DataFrame =
    shredGenTagged(df, idCol, idFunctional = false)

  /** The database a data value denotes (reference `db-for!`,
    * `query.cljc:270-284`): a triple frame already is one, any other
    * frame is shredded. `$db`, `$pull` and `query{}` application take
    * their data arguments through this.
    */
  def dbFor(df: DataFrame): DataFrame =
    if (isTriplesFrame(df)) df else shred(df)

  /** Is `df` already a triple frame (the `$db` result shape)? The
    * text surface uses this to pass databases through `query{}`
    * application unshredded — the convention a frame with exactly
    * these five columns AND their triple types opts into. Types
    * matter: a user table coincidentally named (e,a,v,vt,vn) — a
    * generic audit/EAV export — must still take the shred path, or
    * pattern matching and vn range predicates silently misfire.
    */
  def isTriplesFrame(df: DataFrame): Boolean =
    df.schema.fields.length == 5 &&
      df.schema.fields.zip(tripleSchema.fields).forall { case (a, b) =>
        a.name == b.name && a.dataType == b.dataType }

  /** Expression-form shredder (array-build + one explode) — kept as
    * the reference form (an Explode plans.UnshredEav cannot rewrite);
    * `shred` uses the generator form.
    */
  def shredExpr(df: DataFrame, idCol: Option[String] = None): DataFrame = {
    val e = entityId(df, idCol)
    val parts = df.schema.fields.map(f =>
      fieldTriples(e, f.name, col(f.name), f.dataType))
    df.select(explode(concat(parts.toSeq: _*)).as("t"))
      .select(col("t.e").as("e"), col("t.a").as("a"), col("t.v").as("v"),
        col("t.vt").as("vt"), col("t.vn").as("vn"))
  }

  private def shredGenTagged(df: DataFrame, idCol: Option[String],
      idFunctional: Boolean): DataFrame = {
    val e = entityId(df, idCol)
    val row = struct(df.schema.fieldNames.map(col).toSeq: _*)
    df.select(ColumnGlue.column(ShredGenerator(
      ColumnGlue.expression(struct(e.as("e"), row.as("row"))),
      idFunctional)))
  }

  /** Is each frame's `idCol` NON-NULL value set duplicate-free? One
    * exact count / count-distinct aggregate per frame, all proved in
    * ONE Spark action at call time (null ids are excluded on both
    * sides because the shred emits nothing for them): the single-row
    * aggregates are cross-joined into a single row, each
    * count_distinct on its own native id type — one job's fixed
    * latency instead of N (a multi-source query{} gate pays the proof
    * per source per run — optimization round 17). For one frame it is
    * the plain aggregate. The proof holds for the frames' current
    * snapshot; like any non-transactional Spark read, files rewritten
    * underneath a live plan void it.
    */
  def idUniqueAll(frames: Seq[(DataFrame, String)]): Seq[Boolean] = {
    require(frames.nonEmpty, "idUniqueAll needs at least one frame")
    // one single-row aggregate per frame, cross-joined into one row:
    // all proof scans run inside ONE action (and overlap — the
    // single-row sides broadcast), with each count_distinct on its
    // own native id type. A union-based form was measured no faster
    // than per-frame actions: the tagged union re-shuffles every id
    // as a string for the grouped distinct.
    val aggs = frames.zipWithIndex.map { case ((df, idc), i) =>
      df.agg(count(col(idc)).as(s"__c$i"),
        count_distinct(col(idc)).as(s"__d$i"))
    }
    val row = aggs.reduce(_ crossJoin _).head()
    frames.indices.map(i => row.getLong(2 * i) == row.getLong(2 * i + 1))
  }

  /** [[shredAttrs]] with a WRITE-TIME uniqueness proof for each
    * source's explicit id column: narrow each source to its id and
    * attrs (the proof aggregate then scans only the id column), prove
    * every source in one batched [[idUniqueAll]] action, and tag each
    * generator `idFunctional` when its ids prove duplicate-free, so the
    * regroup tier licenses the fused row-local plan (scan-only)
    * instead of the duplicate-id-safe per-entity product plan (one
    * groupBy(id) exchange). Ids with duplicates shred identically but
    * stay on the product plan — proof, not assumption, either way.
    */
  def shredAttrsVerifiedAll(
      sources: Seq[(DataFrame, String, Seq[String])]): Seq[DataFrame] = {
    val narrowed = sources.map { case (df, idCol, attrs) =>
      (df.select((idCol +: attrs).distinct.map(col): _*), idCol)
    }
    val proofs = idUniqueAll(narrowed)
    narrowed.zip(proofs).map { case ((df, idCol), ok) =>
      shredGenTagged(df, Some(idCol), ok)
    }
  }

  /** Entity id column: the caller's idCol, else a content-derived
    * `xxhash64(to_json(row))`. Content hashing keeps ids stable across
    * repartitions and failed-stage retries — `monotonically_increasing_
    * id` would renumber on retry, making refs inconsistent within one
    * query at cluster scale. Identical rows share an id, which the
    * Datalog set semantics render indistinguishable anyway (identical
    * triples → identical bindings).
    */
  private def entityId(df: DataFrame, idCol: Option[String]): Column =
    idCol match {
      case Some(c) => col(c).cast("string")
      case None => derivedId(df)
    }

  /** The no-idCol content-derived entity id: the string cast of
    * `xxhash64(to_json(row))`. The regroup tier recognizes this shape
    * and keeps the 8-byte hash as its native join key.
    */
  private def derivedId(df: DataFrame): Column =
    xxhash64(to_json(struct(df.schema.fieldNames.map(col).toSeq: _*)))
      .cast("string")

  /** Shred only the attributes a query's patterns touch — the EAV form
    * of column pruning. The narrowed select reaches the parquet scan
    * (ReadSchema lists only these columns), cutting triple volume
    * proportionally; Catalyst cannot prune through the explode itself.
    */
  def shredAttrs(df: DataFrame, idCol: Option[String],
      attrs: Seq[String]): DataFrame =
    shred(df.select((idCol.toSeq ++ attrs).distinct.map(col): _*), idCol)

  /** `$pull`-flat: reassemble each entity's direct attributes as a map
    * (refs keep the sub-entity id as their value). Nested reassembly is
    * the express compiler's job.
    */
  def unshredFlat(triples: DataFrame): DataFrame =
    triples.groupBy("e")
      .agg(map_from_entries(collect_list(struct(col("a"), col("v"))))
        .as("attrs"))

  // ---------- persisted shreds with provenance ----------

  /** What the unshred hooks recover from a shredded frame: the
    * document frame, the (resolved) entity-id expression, the shredded
    * top-level attribute names, and whether the id PROVABLY determines
    * the document row (write-time uniqueness proof — content-hash ids
    * are detected separately by the caller).
    */
  final case class UnshredInfo(doc: DataFrame,
      idExpr: org.apache.spark.sql.catalyst.expressions.Expression,
      shredded: Set[String], idFunctional: Boolean)

  private case class ShredMeta(docPath: String, idCol: Option[String],
      docFiles: Seq[Seq[String]], tripleFiles: Seq[Seq[String]],
      idUnique: Option[Boolean] = None,
      docFp: Option[Long] = None, tripleFp: Option[Long] = None)

  /** A frame's per-row content hash: the 60-bit md5 fold of the
    * row's canonical JSON (graft.functions.Md5Fold60).
    */
  private def rowHash(df: DataFrame): Column =
    Md5Fold60(to_json(struct(df.columns.map(c =>
      col(quoteIdent(c))).toSeq: _*)))

  /** Order-independent content fingerprint of a frame, as an
    * aggregate column: [[rowHash]] summed mod 2^60 (Sum60; the
    * [[graft.pipeline.Sampling.shardManifest]] certification shape).
    * Row order and file layout don't matter — content does.
    * [[shredWrite]] observes it in flight and [[auditPersisted]]
    * recomputes it from disk, so both sides share this one definition.
    *
    * The fold reads the first 15 hex digits of the md5 straight from
    * the digest bytes (7 bytes and a nibble), so each row hash is the
    * long the old `conv(substring(md5(json), 1, 15), 16, 10)` string
    * chain produced, and the sum of non-negative longs mod 2^60 is the
    * old `sum(h.cast("decimal(38,0)")) % 2^60`, empty frame 0
    * included. Fingerprints in sidecars written before the fold
    * therefore still match. The sum needs no decimal: the running
    * residue and a hash are both below 2^60, so their long sum is
    * below 2^61 and one mask takes it back into range.
    */
  private def fpAgg(df: DataFrame): Column = Sum60(rowHash(df)).as("fp")

  /** Backtick-quoted column name (exact resolution — a dotted name
    * must not be parsed as a struct path). Inner backticks are doubled
    * (the quoted-identifier escape), so a projection over any column
    * name resolves instead of throwing.
    */
  private[graft] def quoteIdent(n: String): String =
    "`" + n.replace("`", "``") + "`"

  private val MetaFile = "_graft_shred.json"

  /** (path, length, mtime) per data file. mtime matters: an in-place
    * rewrite that preserves the byte length — external compaction or
    * touch-up tooling; Spark itself always writes new names — would
    * pass a name+size check while the bytes diverge from what the
    * sidecar's writer saw (round-16 ADVICE). Filesystems bump mtime on
    * any rewrite, so including it fails such edits too.
    */
  private def listDataFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Seq[String]] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[Seq[String]]
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith("."))
        out += Seq(f.getPath.toUri.getPath, f.getLen.toString,
          f.getModificationTime.toString)
    }
    out.result().sortBy(_.head)
  }

  /** Write `docs` (a parquet directory) as a triple store WITH
    * regroup provenance — the 100 TB deployment shape of the EAV
    * form. The triples land partitioned by attribute (pattern
    * `a === const` filters become partition pruning on the EAV tier),
    * and a `_graft_shred.json` sidecar records the document path, the
    * id column, and name+size snapshots of BOTH directories' data
    * files, which is what lets [[unshredPersisted]] prove — not
    * assume — that a frame read back from `outPath` still IS the
    * shred of those documents: a rewritten/appended file on either
    * side fails the snapshot and the query keeps the (always-sound)
    * EAV plan. Artifacts are immutable deliveries here as everywhere
    * in the repo (the p_manifest certification model) — re-keyed on
    * change, never edited in place.
    */
  def shredWrite(spark: org.apache.spark.sql.SparkSession,
      docPath: String, idCol: Option[String], outPath: String): Unit =
    shredWrite(spark, docPath, idCol, outPath, () => ())

  /** [[shredWrite]] that runs `afterProof` between the uniqueness
    * proof and the second listing of the documents, where a spec can
    * rewrite them.
    */
  private[shred] def shredWrite(spark: org.apache.spark.sql.SparkSession,
      docPath: String, idCol: Option[String], outPath: String,
      afterProof: () => Unit): Unit = {
    val docs = spark.read.parquet(docPath)
    val docFiles = listDataFiles(spark, docPath)
    // Both content fingerprints ride the write action itself as
    // OBSERVED metrics (round 18, guide §1.2/§6): the docs-side fp
    // sum attaches to the document scan feeding the shred, the
    // triples-side fp to the shred output as it streams to parquet —
    // so the write path scans the input ONCE and never re-reads the
    // artifact (previously: a second full docs aggregate plus a full
    // read-back of the just-written triples — double write-path I/O
    // at 100 TB). The in-flight triples fp equals the read-back fp
    // (same canonical row JSON over the same values; parquet
    // round-trips them exactly), which is precisely the invariant
    // [[auditPersisted]] re-verifies from the bytes on disk — the
    // on-demand audit stays the defense against post-write rewrites,
    // the write no longer pre-pays it inline. The uniqueness proof
    // stays its own action: count_distinct is not a legal observed
    // metric (CollectMetrics forbids distinct aggregates), and its
    // aggregate prunes to the id column alone at the parquet scan.
    val obsDocs = org.apache.spark.sql.Observation("graft_docs_fp")
    val obsTrip = org.apache.spark.sql.Observation("graft_triples_fp")
    val trip = shred(docs.observe(obsDocs, fpAgg(docs)), idCol)
    trip.observe(obsTrip, fpAgg(trip))
      .write.mode("overwrite").partitionBy("a").parquet(outPath)
    val dFp = obsDocs.get("fp").asInstanceOf[Long]
    val tFp = obsTrip.get("fp").asInstanceOf[Long]
    val proof = idCol.map(c => idUniqueAll(Seq(docs -> c)).head)
    afterProof()
    // the proof is a second read of the documents: if their files
    // changed anywhere between the first listing and now, the verdict
    // may describe other bytes than docFiles and the fingerprints do,
    // so none is recorded
    val unique =
      if (listDataFiles(spark, docPath) == docFiles) proof else None
    val meta = ShredMeta(
      new org.apache.hadoop.fs.Path(docPath).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
        .makeQualified(new org.apache.hadoop.fs.Path(docPath))
        .toUri.getPath,
      idCol, docFiles, listDataFiles(spark, outPath), unique,
      Some(dFp), Some(tFp))
    val metaPath = new org.apache.hadoop.fs.Path(outPath, MetaFile)
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(metaPath, true)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    out.write(org.json4s.jackson.Serialization.write(meta)
      .getBytes("UTF-8"))
    out.close()
  }

  /** The sidecar under `root`; None when it is missing, unreadable
    * (a checksum error, say) or not a sidecar.
    */
  private def readMeta(spark: org.apache.spark.sql.SparkSession,
      root: org.apache.hadoop.fs.Path): Option[ShredMeta] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mp = new org.apache.hadoop.fs.Path(root, MetaFile)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    if (!fs.exists(mp)) None
    else scala.util.Try {
      val in = fs.open(mp)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      org.json4s.jackson.Serialization.read[ShredMeta](txt)
    }.toOption
  }

  /** CONTENT audit of a [[shredWrite]] artifact: recompute both
    * sides' order-independent fingerprints from the bytes on disk NOW
    * and compare against the write-time sidecar. This is the check
    * for the one tamper class the per-query snapshot cannot see — an
    * in-place rewrite that preserves name, size, AND mtime (hostile
    * or clock-gamed tooling). It reads both datasets in full, so it
    * is an explicit audit/acceptance API (run on delivery, on a
    * schedule, on suspicion), NOT part of query planning — the
    * per-query gate stays the O(#files) driver-side listing. False
    * when the sidecar is missing, pre-fingerprint, or either side's
    * content changed.
    *
    * Both full reads are ONE action: each side is projected to
    * (side, [[rowHash]]), the two are unioned, and the two per-side
    * sums are observed on a noop write of the union (no exchange, so
    * one job). The documents' schema is still read from their files,
    * which is one more small job: reading them with the schema stored
    * at write time would drop a column added since, and the audit
    * would pass content it never hashed.
    */
  def auditPersisted(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean =
    readMeta(spark, new org.apache.hadoop.fs.Path(path)) match {
      case Some(ShredMeta(docPath, _, _, _, _, Some(dFp), Some(tFp))) =>
        // an unreadable (hard-corrupted) side is a failed audit, not a
        // crash — the caller asked "is this delivery intact"
        scala.util.Try {
          val sides = Seq(spark.read.parquet(docPath), openShred(spark, path))
            .zipWithIndex.map { case (df, i) =>
              df.select(lit(i).as("side"), rowHash(df).as("h"))
            }.reduce(_ unionAll _)
          def sideFp(i: Int) = Sum60(when(col("side") === i, col("h")))
          val obs = org.apache.spark.sql.Observation("graft_audit_fp")
          sides.observe(obs, sideFp(0).as("d"), sideFp(1).as("t"))
            .write.format("noop").mode("overwrite").save()
          val fps = obs.get
          fps("d").asInstanceOf[Long] == dFp &&
            fps("t").asInstanceOf[Long] == tFp
        }.getOrElse(false)
      case _ => false
    }

  /** Open a [[shredWrite]] artifact in canonical triple-column order
    * (partitionBy appends `a` to the raw read schema; queries and
    * [[unshredPersisted]] both want (e,a,v,vt,vn)). The read schema is
    * explicit: when every attribute name looks like a number, date or
    * boolean (`a=2024`), partition type inference would read `a` as a
    * non-string column, which changes the triple frame's type and its
    * row JSON, so [[auditPersisted]] would call an intact artifact
    * tampered.
    */
  def openShred(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.schema(tripleSchema).parquet(path)
      .select("e", "a", "v", "vt", "vn")

  /** [[unshredSource]] for PERSISTED shreds: a frame that is exactly
    * a fresh [[openShred]] read of a [[shredWrite]] artifact recovers
    * the same (documents, id expression, shredded names) hook — after
    * re-verifying both snapshot listings, so documents rewritten
    * since the write (or triples appended behind the sidecar's back)
    * decline rather than silently diverge. Without this, triples
    * written to parquet and read back — the deployment shape — could
    * never regroup and were stuck on the EAV tier forever.
    */
  def unshredPersisted(triples: DataFrame): Option[UnshredInfo] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val spark = triples.sparkSession
    val names = Seq("e", "a", "v", "vt", "vn")
    def relOf(plan: LogicalPlan): Option[LogicalRelation] = plan match {
      case Project(pl, lr: LogicalRelation)
          if pl.forall(_.isInstanceOf[AttributeReference]) &&
            pl.map(_.name) == names => Some(lr)
      case lr: LogicalRelation
          if lr.output.map(_.name) == names => Some(lr)
      case _ => None
    }
    for {
      lr <- relOf(triples.queryExecution.analyzed)
      if isTriplesFrame(triples)
      fsRel <- lr.relation match {
        case r: HadoopFsRelation if r.location.rootPaths.size == 1 =>
          Some(r)
        case _ => None
      }
      root = fsRel.location.rootPaths.head
      meta <- readMeta(spark, root)
      // both sides must still be the bytes the writer saw
      if listDataFiles(spark, root.toUri.getPath) == meta.tripleFiles
      if listDataFiles(spark, meta.docPath) == meta.docFiles
    } yield {
      val docs = spark.read.parquet(meta.docPath)
      val idColumn = meta.idCol match {
        case Some(c) => docs(c).cast("string")
        case None => derivedId(docs)
      }
      // resolve the id expression against the doc frame's analyzed
      // plan (the regroup tier pattern-matches its SHAPE — e.g. the
      // content-hash form that licenses fused plans — which needs
      // resolved attribute references)
      val resolved = docs.select(idColumn.as("__graft_id"))
        .queryExecution.analyzed.asInstanceOf[Project]
        .projectList.head.asInstanceOf[Alias].child
      UnshredInfo(docs, resolved, docs.columns.toSet,
        meta.idUnique.getOrElse(false))
    }
  }

  /** Detect a frame that IS [[shred]]'s direct output and recover
    * `(document frame, entity-id expression, shredded top-level attr
    * names)` — the hook QueryCompiler's shred-aware regrouping uses to
    * turn a constant-attribute query over an explicitly-shredded frame
    * back into projections over the documents (no explode, no triple
    * self-joins). Conservative by construction:
    *
    *  - the plan must be exactly `[Project] → Generate(ShredGenerator
    *    (struct(e, row)), child)` with no forwarded child columns and
    *    the identity projection;
    *  - every `row` entry must be a plain attribute of `child` under
    *    its own name (what [[shred]] always builds — a computed
    *    entry would make the doc-frame read diverge from the triples);
    *  - the id expression must be deterministic. It MAY be nullable —
    *    but the generator emits NOTHING for a null entity id, so a
    *    sound caller must drop null-id rows before reading the
    *    document frame (QueryCompiler.regroupShredded filters
    *    `id IS NOT NULL` and marks the column KnownNotNull).
    *
    * Anything else returns None and the caller keeps the EAV form.
    */
  def unshredSource(triples: DataFrame): Option[UnshredInfo] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Project}
    val g = triples.queryExecution.analyzed match {
      // the analyzer keeps requiredChildOutput populated (pruning is
      // the optimizer's job); the identity Project above proves only
      // the generator output escapes
      case Project(pl, g: Generate)
          if g.generator.isInstanceOf[ShredGenerator] && !g.outer &&
            pl.map(stripAlias).forall(_.isInstanceOf[AttributeReference]) &&
            pl.map(stripAlias).map(
              _.asInstanceOf[AttributeReference].exprId) ==
              g.generatorOutput.map(_.exprId) => Some(g)
      case g: Generate
          if g.generator.isInstanceOf[ShredGenerator] && !g.outer &&
            g.requiredChildOutput.isEmpty => Some(g)
      case _ => None
    }
    for {
      g <- g
      gen = g.generator.asInstanceOf[ShredGenerator]
      (eExpr, entries) <- shredInput(gen)
      if eExpr.deterministic
      childIds = g.child.output.map(_.exprId).toSet
      if entries.forall {
        case (n, a: AttributeReference) => a.name == n && childIds(a.exprId)
        case _ => false
      }
      names = entries.map(_._1)
      if names.distinct.size == names.size
    } yield UnshredInfo(ColumnGlue.dataFrame(triples.sparkSession, g.child),
      eExpr, names.toSet, gen.idFunctional)
  }
}
