package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IngestSpec extends SparkSpec {

  test("xml simplification: attrs fold in, repeats become arrays, ns_name") {
    val xml =
      """<inv:order xmlns:inv="http://x" id="7">
        |  <customer>Bob</customer>
        |  <item sku="a"><qty>2</qty></item>
        |  <item sku="b"><qty>1</qty></item>
        |</inv:order>""".stripMargin
    val df = Ingest.readXmlString(spark, xml)
    assert(df.columns.toSeq == Seq("inv_order"))
    val row = df.select(
      col("inv_order.id"), col("inv_order.customer"),
      size(col("inv_order.item")).as("n"),
      col("inv_order.item")(0).getField("sku"),
      col("inv_order.item")(1).getField("qty")).head()
    assert(row.getString(0) == "7")
    assert(row.getString(1) == "Bob")
    assert(row.getInt(2) == 2)
    assert(row.getString(3) == "a")
    assert(row.getString(4) == "1")
  }

  test("json string ingestion infers schema") {
    val df = Ingest.readJsonString(spark,
      """{"a": 1, "b": {"c": [1,2,3]}}""")
    assert(df.select(size(col("b.c"))).head().getInt(0) == 3)
    // $schemaFor: inferred schema surfaces as JSON
    assert(Ingest.schemaFor(df).contains("\"name\":\"a\""))
    // $addSchema: union, overlay wins on conflicts
    import org.apache.spark.sql.types._
    val merged = Ingest.addSchema(
      StructType(Seq(StructField("a", LongType),
        StructField("b", StringType))),
      StructType(Seq(StructField("b", DoubleType),
        StructField("c", BooleanType))))
    assert(merged.fieldNames.toSeq == Seq("a", "b", "c"))
    assert(merged("b").dataType == DoubleType)
  }

  test("xml feeds the relational core: ingest -> shred -> query") {
    import graft.query.QueryCompiler
    import graft.query.QueryCompiler.{C, Pattern, V}
    val xml =
      """<orders>
        |  <order id="1"><customer>Bob</customer><total>10</total></order>
        |  <order id="2"><customer>Alice</customer><total>20</total></order>
        |</orders>""".stripMargin
    val df = Ingest.readXmlString(spark, xml)
      .select(explode(col("orders.order")).as("o")).select("o.*")
    val bsets = QueryCompiler.run(
      graft.shred.Shred.shred(df, Some("id")),
      Seq(Pattern(V("e"), C("customer"), V("who")),
        Pattern(V("e"), C("total"), V("amt"))))
    val rows = bsets.orderBy("who").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("Alice", "20"), ("Bob", "10")))
  }

  test("csv spreadsheet reads header-keyed") {
    val p = java.nio.file.Files.createTempFile("sheet", ".csv")
    java.nio.file.Files.writeString(p, "name,qty\nax,2\nbx,5\n")
    val df = Ingest.readSpreadsheet(spark, p.toString)
    assert(df.columns.toSeq == Seq("name", "qty"))
    assert(df.agg(sum("qty")).head().getLong(0) == 7L)
  }

  /** Write a minimal xlsx (zip of XML parts) for round-trip tests. */
  private def writeXlsx(rows: Seq[Seq[Any]], sheetName: String): String = {
    val p = java.nio.file.Files.createTempFile("graft", ".xlsx")
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(p))
    def entry(name: String, body: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(body.getBytes("UTF-8")); zos.closeEntry()
    }
    val strings = rows.flatten.collect { case s: String => s }.distinct
    val sIdx = strings.zipWithIndex.toMap
    def colName(i: Int) = ('A' + i).toChar.toString
    val sheetXml = rows.zipWithIndex.map { case (r, ri) =>
      val cells = r.zipWithIndex.map {
        case (s: String, ci) =>
          s"""<c r="${colName(ci)}${ri + 1}" t="s"><v>${sIdx(s)}</v></c>"""
        case (b: Boolean, ci) =>
          s"""<c r="${colName(ci)}${ri + 1}" t="b"><v>${if (b) 1 else 0}</v></c>"""
        case (n, ci) =>
          s"""<c r="${colName(ci)}${ri + 1}"><v>$n</v></c>"""
      }.mkString
      s"""<row r="${ri + 1}">$cells</row>"""
    }.mkString
    entry("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        s"""<sheets><sheet name="$sheetName" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        strings.map(s => s"<si><t>$s</t></si>").mkString + "</sst>")
    entry("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        s"<sheetData>$sheetXml</sheetData></worksheet>")
    zos.close()
    p.toString
  }

  test("xlsx round trip: header mode with sanitized names and types") {
    val p = writeXlsx(Seq(
      Seq("Item No.", "Qty", "Active"),
      Seq("ax-1", 2L, true),
      Seq("bx 2", 5.5, false)), "stock")
    val df = Ingest.readXlsx(spark, p, "stock")
    assert(df.columns.sorted.toSeq == Seq("Active", "Item_No_", "Qty"))
    val rows = df.orderBy("Item_No_").collect()
    assert(rows(0).getAs[String]("Item_No_") == "ax-1" &&
      rows(0).getAs[Double]("Qty") == 2.0 &&
      rows(0).getAs[Boolean]("Active"))
    assert(rows(1).getAs[Double]("Qty") == 5.5 &&
      !rows(1).getAs[Boolean]("Active"))
  }

  test("xlsx invert mode transposes a key/value sheet") {
    val p = writeXlsx(Seq(
      Seq("Our Company Name", "Acme Supply"),
      Seq("Max Qty", 250L)), "config")
    val df = Ingest.readXlsx(spark, p, "config", invert = true)
    val r = df.head()
    assert(r.getAs[String]("Our_Company_Name") == "Acme Supply")
    assert(r.getAs[Long]("Max_Qty") == 250L)
  }

  test("reference on-hand.xlsx fixture reads like the reference") {
    val fixture = "/root/reference/data/testing/spreadsheets/on-hand.xlsx"
    assume(new java.io.File(fixture).exists())
    val df = Ingest.readXlsx(spark, fixture, "on-hand")
    assert(df.columns.sorted.toSeq == Seq("Material_Item_No_", "O_H__Qty_"))
    val got = df.orderBy("Material_Item_No_").collect()
      .map(r => (r.getAs[String]("Material_Item_No_"),
        r.getAs[Long]("O_H__Qty_"))).toSeq
    assert(got == Seq(("BIND-ARAM", 2899L), ("F-11567", 893L),
      ("F-13567", 521L), ("F-16975", 19L)))
  }

  test("$getSpreadsheet through the text surface") {
    val p = writeXlsx(Seq(Seq("name", "qty"),
      Seq("ax", 2L), Seq("bx", 5L)), "s1")
    val got = graft.lang.RM.eval(s"$$getSpreadsheet('$p', 's1')", spark)
    assert(got.contains(Seq(
      Map("name" -> "ax", "qty" -> 2L),
      Map("name" -> "bx", "qty" -> 5L))))
  }

  private def warcFixture(): String = {
    def rec(tpe: String, uri: String, id: String, body: String) = {
      val payload = body + "\r\n"
      s"WARC/1.0\r\n" +
        s"WARC-Type: $tpe\r\n" +
        s"WARC-Record-ID: <urn:uuid:$id>\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        "WARC-Date: 2026-01-02T03:04:05Z\r\n" +
        s"Content-Length: ${payload.length}\r\n" +
        "\r\n" + payload + "\r\n\r\n"
    }
    val content =
      rec("warcinfo", "", "aaa", "software: graft-test") +
      rec("conversion", "https://example.com/a", "bbb",
        "Extracted text of page A.\r\nSecond line: with a colon.") +
      rec("conversion", "https://example.com/b", "ccc",
        "Page B text.")
    val p = java.nio.file.Files.createTempFile("graft", ".warc")
    java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("WARC records parse distributed: headers, fields, payload") {
    val df = Ingest.readWarc(spark, warcFixture())
    assert(df.count() == 3)
    val conv = df.filter(col("warcType") === "conversion")
      .orderBy("targetUri").collect()
    assert(conv.length == 2)
    val a = conv(0)
    assert(a.getAs[String]("targetUri") == "https://example.com/a")
    assert(a.getAs[String]("recordId") == "<urn:uuid:bbb>")
    assert(a.getAs[String]("date") == "2026-01-02T03:04:05Z")
    assert(a.getAs[String]("payload") ==
      "Extracted text of page A.\r\nSecond line: with a colon.")
    assert(a.getAs[Long]("contentLength") > 0)
    assert(a.getAs[Map[String, String]]("headers")("WARC-Type")
      == "conversion")
  }

  test("WARC/1.1 parses; a payload quoting a WARC header block does not split") {
    def rec(uri: String, id: String, body: String) = {
      val payload = body + "\r\n"
      s"WARC/1.1\r\n" +
        "WARC-Type: conversion\r\n" +
        s"WARC-Record-ID: <urn:uuid:$id>\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${payload.length}\r\n" +
        "\r\n" + payload + "\r\n\r\n"
    }
    // the first record's payload quotes a WARC header block at line
    // start — the old version-line delimiter split here mid-payload
    val quoting = "A page explaining the WARC format:\r\n" +
      "WARC/1.0\r\nWARC-Type: response\r\nis how every record opens."
    val content = rec("https://example.com/q", "v11", quoting) +
      rec("https://example.com/r", "v12", "Second record text.")
    val p = java.nio.file.Files.createTempFile("graft", ".warc")
    java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    val df = Ingest.readWarc(spark, p.toString).orderBy("targetUri")
    val rows = df.collect()
    assert(rows.length == 2, rows.mkString("; "))
    assert(rows(0).getAs[String]("payload") == quoting)
    assert(rows(0).getAs[String]("recordId") == "<urn:uuid:v11>")
    assert(rows(1).getAs[String]("payload") == "Second record text.")
  }
}
