package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Ingestion surface (SURVEY.md §1.3: JSON, XML, spreadsheets; reference
  * `builtin.cljc:1528-1675`).
  *
  * JSON goes straight through `spark.read.json` (distributed, schema
  * inference = the reference's learn-schema). XML is simplified to
  * JSON-shaped text with the same rules as the reference
  * (`util.cljc:203-217`): attributes fold into the element map, tag
  * namespaces become `ns_name` keys, repeated children become arrays —
  * then schema-inferred by the JSON reader. Spreadsheets: CSV with a
  * header row (xlsx needs POI, which this build intentionally excludes).
  */
object Ingest {

  /** JSON file: newline-delimited by default; a pretty-printed
    * document (whose line-wise parse yields only the corrupt-record
    * column) re-reads as one multi-line value.
    */
  def readJson(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.json(path)
    if (df.columns.forall(_ == "_corrupt_record"))
      spark.read.option("multiLine", "true").json(path)
    else df
  }

  /** EDN file (reference `$read('...edn')`): parse to JSON (Edn),
    * then share the JSON document pipeline. A top-level vector of
    * maps becomes one row per map.
    */
  def readEdn(spark: SparkSession, path: String): DataFrame = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    readJsonString(spark, Edn.toJson(text))
  }

  def readJsonString(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    spark.read.json(Seq(json).toDS())
  }

  /** XML document string → single-row DataFrame (inferred schema). */
  def readXmlString(spark: SparkSession, xml: String): DataFrame =
    readJsonString(spark, xmlToJson(xml))

  /** XML file → DataFrame. Whole-document parse driver-side (the
    * reference reads single documents the same way); a 100 TB corpus of
    * XML files would map this over paths with `spark.read.text` +
    * per-file parse in executors.
    */
  def readXml(spark: SparkSession, path: String): DataFrame = {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    readXmlString(spark, text)
  }

  /** XML → JSON text with the reference's simplification rules. */
  def xmlToJson(xml: String): String = {
    val root = scala.xml.XML.loadString(xml)
    s"""{${quote(tagName(root))}: ${elemToJson(root)}}"""
  }

  private def tagName(e: scala.xml.Elem): String =
    Option(e.prefix).map(p => s"${p}_${e.label}").getOrElse(e.label)

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def elemToJson(e: scala.xml.Elem): String = {
    val attrs: Seq[(String, String)] =
      e.attributes.asAttrMap.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> quote(v) }
    val children = e.child.collect { case c: scala.xml.Elem => c }
    if (children.isEmpty && attrs.isEmpty) quote(e.text.trim)
    else {
      // group repeated child tags into arrays (cardinality-many)
      val grouped = children.groupBy(tagName).toSeq
        .sortBy { case (n, _) => children.indexWhere(c => tagName(c) == n) }
        .map { case (n, cs) =>
          val vals = cs.map(elemToJson)
          n -> (if (vals.size == 1) vals.head
                else vals.mkString("[", ",", "]"))
        }
      val text = e.child.collect {
        case t: scala.xml.Text if t.text.trim.nonEmpty => t.text.trim
      }
      val textField =
        if (text.nonEmpty && children.nonEmpty)
          Seq("_text" -> quote(text.mkString(" ")))
        else Nil
      (attrs ++ grouped ++ textField)
        .map { case (k, v) => s"${quote(k)}: $v" }
        .mkString("{", ",", "}")
    }
  }

  /** `$getSpreadsheet` equivalent: header-keyed tabular file. CSV is
    * native; xlsx goes through the self-contained zip+XML reader
    * below (no POI dependency).
    */
  def readSpreadsheet(spark: SparkSession, path: String,
      sheet: String = "", invert: Boolean = false): DataFrame =
    if (path.endsWith(".csv"))
      spark.read.option("header", "true").option("inferSchema", "true")
        .csv(path)
    else readXlsx(spark, path, sheet, invert)

  /** One parsed cell: the JSON fragment for the typed value plus the
    * raw text (headers/keys need the unquoted form).
    */
  private final case class Cell(raw: String, json: String)

  /** Header/key sanitization — the reference replaces whitespace and
    * `+ , .` characters with `_` (builtin.cljc:1633,1654).
    */
  private def sanitize(name: String): String =
    name.replaceAll("[\\s+,.]", "_")

  /** Minimal self-contained .xlsx reader — an xlsx file is a zip of
    * XML parts, so scala-xml covers it without POI (reference
    * `$getSpreadsheet`, builtin.cljc:1626-1675, docjure-based).
    *
    * Cells resolve shared/inline strings, booleans and numbers; the
    * first row is a header whose sanitized names key the content rows,
    * or with `invert` a two-column key/value sheet transposes to a
    * single row (reference transpose-sheet). Parsing is driver-side —
    * spreadsheets are small config artifacts; bulk tabular data comes
    * in via CSV/parquet — and the result is a regular DataFrame with
    * JSON-inferred column types (numbers stay numeric, like the
    * reference's typed read-cell).
    */
  def readXlsx(spark: SparkSession, path: String, sheet: String = "",
      invert: Boolean = false): DataFrame = {
    val zf = new java.util.zip.ZipFile(path)
    try {
      def part(name: String): Option[scala.xml.Elem] =
        Option(zf.getEntry(name))
          .map(e => scala.xml.XML.load(zf.getInputStream(e)))
      val wb = part("xl/workbook.xml").getOrElse(
        throw new IllegalArgumentException(s"$path is not an xlsx file"))
      val rels = part("xl/_rels/workbook.xml.rels").getOrElse(
        throw new IllegalArgumentException(s"$path: missing workbook rels"))
      val ridTarget = (rels \ "Relationship")
        .map(r => (r \@ "Id") -> (r \@ "Target")).toMap
      val sheets = wb \ "sheets" \ "sheet"
      val sheetElem = (if (sheet.isEmpty) sheets.headOption
        else sheets.find(x => (x \@ "name") == sheet)).getOrElse(
          throw new IllegalArgumentException(
            s"no sheet '$sheet' in $path (sheets: " +
              sheets.map(_ \@ "name").mkString(", ") + ")"))
      val rid = sheetElem.attributes.collectFirst {
        case a if a.key == "id" && a.isPrefixed => a.value.text
      }.getOrElse(throw new IllegalArgumentException("sheet without r:id"))
      val target0 = ridTarget(rid)
      val target =
        if (target0.startsWith("/")) target0.drop(1) else s"xl/$target0"
      val shared: IndexedSeq[String] = part("xl/sharedStrings.xml")
        .map(ss => (ss \ "si")
          .map(si => (si \\ "t").map(_.text).mkString).toIndexedSeq)
        .getOrElse(IndexedSeq.empty)
      def jq(s: String): String = "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      val rows: Seq[Map[String, Cell]] =
        (part(target).get \ "sheetData" \ "row").map { r =>
          (r \ "c").flatMap { c =>
            val colLetters = (c \@ "r").takeWhile(_.isLetter)
            val v = (c \ "v").headOption.map(_.text)
            val cell = (c \@ "t") match {
              case "s" => v.map(i => shared(i.toInt)).map(s => Cell(s, jq(s)))
              case "str" => v.map(s => Cell(s, jq(s)))
              case "inlineStr" =>
                val s = (c \ "is" \\ "t").map(_.text).mkString
                if (s.isEmpty) None else Some(Cell(s, jq(s)))
              case "b" => v.map(x =>
                if (x == "1") Cell("true", "true") else Cell("false", "false"))
              case _ => v.map(x => Cell(x, x)) // bare JSON number
            }
            cell.map(colLetters -> _)
          }.toMap
        }.filter(_.nonEmpty)
      val jsonLines: Seq[String] =
        if (invert) {
          // two-column key/value sheet → one object (transpose-sheet)
          Seq(rows.flatMap { r =>
            for (k <- r.get("A"); v <- r.get("B"))
              yield s"${jq(sanitize(k.raw))}: ${v.json}"
          }.mkString("{", ",", "}"))
        } else rows match {
          case header +: content =>
            val names = header.view.mapValues(c => sanitize(c.raw)).toMap
            content.map(_.flatMap { case (col, cell) =>
              names.get(col).map(n => s"${jq(n)}: ${cell.json}")
            }.mkString("{", ",", "}"))
          case _ => Nil
        }
      import spark.implicits._
      if (jsonLines.isEmpty) spark.emptyDataFrame
      else spark.read.json(jsonLines.toDS())
    } finally zf.close()
  }

  /** `$schemaFor` (reference `builtin.cljc:1688-1692`): the inferred
    * schema of a frame as JSON (Spark's learn-schema equivalent).
    */
  def schemaFor(df: DataFrame): String = df.schema.json

  /** `$addSchema` (reference `builtin.cljc:2219-2226`): merge two
    * inferred schemas — union of fields, right side wins on type
    * conflicts (the reference overlays the known schema onto learned).
    */
  def addSchema(base: org.apache.spark.sql.types.StructType,
      overlay: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val overlayNames = overlay.fieldNames.toSet
    org.apache.spark.sql.types.StructType(
      base.fields.filterNot(f => overlayNames.contains(f.name)).toSeq ++
        overlay.fields.toSeq)
  }

  /** `$put` equivalent: write a frame as a named parquet dataset. */
  def put(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** One parsed WARC record (ISO 28500 / Common Crawl WET member). */
  final case class WarcRecord(recordId: String, warcType: String,
      targetUri: String, date: String, contentLength: Long,
      headers: Map[String, String], payload: String)

  /** WARC/WET ingestion — the raw container format of web-crawl
    * pretraining corpora (ISO 28500; Common Crawl's WET text
    * extracts). A WARC file is a sequence of records, each
    * `WARC/1.0\r\n` + `Name: value` header lines + blank line +
    * payload. Distributed read: the version line is the text-source
    * record delimiter (`lineSep`), so each row is one record and the
    * header/payload split is row-local — no driver parsing, and
    * `.gz` members (the usual many-1GB-files crawl layout) stream
    * through Spark's codec handling, one task per member.
    *
    * Returns one row per record: the standard fields promoted to
    * columns (record id, type, target URI, date, content length) plus
    * the full header map and the payload text. Trailing record
    * separators (\r\n\r\n) are stripped from payloads; the leading
    * empty split (before the first delimiter) is dropped.
    */
  def readWarc(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // Record delimiter: the spec's BETWEEN-records structure (payload,
    // two CRLFs, next record's version line) rather than the version
    // line alone — "WARC/1.0\r\n" appears at line starts inside any
    // payload that quotes a WARC header block, while "\r\n\r\nWARC/"
    // requires the full boundary sequence. This also admits WARC/1.1
    // (and any future 1.x) instead of silently parsing a 1.1 crawl as
    // one garbage record. Residual limit (documented): a payload
    // containing the literal boundary sequence still false-splits;
    // exact framing needs Content-Length-driven record IO, which
    // splittable text input cannot express.
    spark.read.option("lineSep", "\r\n\r\nWARC/").textFile(path)
      .filter(_.nonEmpty)
      .map { frag =>
        // the delimiter consumed "WARC/": later fragments open with the
        // bare version remainder ("1.0\r\n…"), the file's first with the
        // intact version line. Normalize, then drop the version line.
        val whole = if (frag.startsWith("WARC/")) frag else "WARC/" + frag
        val rec = whole.indexOf("\r\n") match {
          case -1 => whole
          case i if whole.substring(0, i).matches("WARC/\\d+\\.\\d+") =>
            whole.substring(i + 2)
          case _ => whole
        }
        val (head, payload) = rec.indexOf("\r\n\r\n") match {
          case -1 => (rec, "")
          case i => (rec.substring(0, i), rec.substring(i + 4))
        }
        val headers = head.split("\r\n").iterator.flatMap { line =>
          line.indexOf(':') match {
            case -1 => None
            case i => Some(line.substring(0, i).trim ->
              line.substring(i + 1).trim)
          }
        }.toMap
        WarcRecord(
          headers.getOrElse("WARC-Record-ID", ""),
          headers.getOrElse("WARC-Type", ""),
          headers.getOrElse("WARC-Target-URI", ""),
          headers.getOrElse("WARC-Date", ""),
          headers.get("Content-Length").flatMap(s =>
            scala.util.Try(s.toLong).toOption).getOrElse(-1L),
          headers,
          payload.stripSuffix("\r\n\r\n").stripSuffix("\r\n"))
      }.toDF()
  }
}
