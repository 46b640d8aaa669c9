package graft

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Xlsx

class XlsxSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def tmpXlsx(): String =
    tempDir("xlsx").resolve("wb.xlsx").toString

  test("A1 reference helpers are inverse bijections across the grid") {
    assert(Xlsx.colLetters(0) == "A" && Xlsx.colLetters(25) == "Z" &&
      Xlsx.colLetters(26) == "AA" && Xlsx.colLetters(701) == "ZZ" &&
      Xlsx.colLetters(702) == "AAA")
    for (r <- Seq(0, 7, 1048575); c <- Seq(0, 25, 26, 701, 702, 16383))
      assert(Xlsx.parseRef(s"${Xlsx.colLetters(c)}${r + 1}") == ((r, c)))
  }

  test("workbook round-trips a mixed-type result with the load_results quirks") {
    import spark.implicits._
    val df = Seq(
      ("Acme <&\" Co", 3L, 1.5, java.sql.Date.valueOf("2024-01-05"), true),
      ("Globex", 7L, 2.25, java.sql.Date.valueOf("2024-02-10"), false),
      ("Initech", -4L, 0.5, java.sql.Date.valueOf("2024-03-15"), true))
      .toDF("Company", "Score", "Weight", "Date", "Flagged")
    val path = tmpXlsx()
    Xlsx.saveWorkbook(Seq((df, "Results", (0, 0))), path)
    val back = Xlsx.readWorkbook(spark, path, sourceType = Some("News"))
    // banner skipped, index column dropped, Source_Type stamped
    assert(back.columns.toSeq ==
      Seq("Company", "Score", "Weight", "Date", "Flagged", "Source_Type"))
    assert(back.schema("Score").dataType.typeName == "long")
    assert(back.schema("Weight").dataType.typeName == "double")
    assert(back.schema("Date").dataType.typeName == "date")
    assert(back.schema("Flagged").dataType.typeName == "boolean")
    assert(back.count() == 3)
    // XML escaping survives the round trip
    assert(back.filter(col("Company") === "Acme <&\" Co" &&
      col("Score") === 3 && col("Flagged")).count() == 1)
    assert(back.filter(col("Source_Type") =!= "News").isEmpty)
  }

  test("multi-sheet workbook with a cell offset reads back per sheet") {
    import spark.implicits._
    val a = Seq(("p1", 10L), ("p2", 20L)).toDF("Provider", "N")
    val b = Seq(("u1", 1L)).toDF("User", "N")
    // the notebook's third df_args entry sits at offset (2, 4)
    val path = tmpXlsx()
    Xlsx.saveWorkbook(Seq(
      (a, "Providers", (0, 0)), (b, "Users", (2, 4))), path)
    assert(Xlsx.sheetNames(spark, path) == Seq("Providers", "Users"))
    val backA = Xlsx.readWorkbook(spark, path, Some("Providers"))
    assert(backA.columns.toSeq == Seq("Provider", "N") && backA.count() == 2)
    // offset sheet: banner lands on row 2, header on row 3 — header=3, and
    // the empty start_col padding columns are dropped by the blank-header rule
    val backB = Xlsx.readWorkbook(spark, path, Some("Users"), header = 3)
    assert(backB.columns.toSeq == Seq("User", "N"))
    assert(backB.filter(col("User") === "u1" && col("N") === 1).count() == 1)
  }

  test("a real aggregated result survives the workbook round trip") {
    val basket = SparkEntry.queries("q_basket")(spark, dir)
    val path = tmpXlsx()
    Xlsx.saveWorkbook(Seq((basket, "Basket", (0, 0))), path)
    val back = Xlsx.readWorkbook(spark, path)
    assert(back.count() == basket.count())
    assert(back.columns.sorted.sameElements(basket.columns.sorted))
    val a = basket.select(col("entity_name"), col("total_exposure").cast("long"))
    val b = back.select(col("entity_name"), col("total_exposure").cast("long"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("reads foreign workbooks that use sharedStrings (openpyxl shape)") {
    // hand-build the part layout pandas/openpyxl emit: sharedStrings table,
    // cells typed t="s" pointing into it, no banner row (header=0)
    val path = tmpXlsx()
    val bos = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bos)
    def part(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    val ct = """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/><Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>"""
    part("[Content_Types].xml", ct)
    part("_rels/.rels", """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    part("xl/workbook.xml", """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    part("xl/_rels/workbook.xml.rels", """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    // rich-text <si><r><t> run for "Globex" exercises the run-concat path
    part("xl/sharedStrings.xml", """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3"><si><t>Company</t></si><si><t>Acme</t></si><si><r><t>Glo</t></r><r><t>bex</t></r></si></sst>""")
    part("xl/worksheets/sheet1.xml", """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="str"><v>Score</v></c></row><row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>3</v></c></row><row r="3"><c r="A3" t="s"><v>2</v></c><c r="B3"><v>7</v></c></row></sheetData></worksheet>""")
    zip.close()
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bos.toByteArray)
    val df = Xlsx.readWorkbook(spark, path, header = 0)
    assert(df.columns.toSeq == Seq("Company", "Score"))
    assert(df.schema("Score").dataType.typeName == "long")
    assert(df.filter(col("Company") === "Globex" && col("Score") === 7)
      .count() == 1)
  }

  test("the sink refuses an over-bound result instead of truncating") {
    import spark.implicits._
    val big = (1 to 50).map(i => (s"e$i", i.toLong)).toDF("E", "N")
    val err = intercept[IllegalArgumentException] {
      Xlsx.saveWorkbook(Seq((big, "Big", (0, 0))), tmpXlsx(), maxRows = 10)
    }
    assert(err.getMessage.contains("maxRows"))
  }

  test("nulls become absent cells and come back as typed nulls") {
    import spark.implicits._
    val df = Seq(("a", Some(1L)), ("b", None), ("c", Some(3L)))
      .toDF("K", "V")
    val path = tmpXlsx()
    Xlsx.saveWorkbook(Seq((df, "S", (0, 0))), path)
    val back = Xlsx.readWorkbook(spark, path)
    assert(back.schema("V").dataType.typeName == "long")
    assert(back.filter(col("V").isNull && col("K") === "b").count() == 1)
    assert(back.count() == 3)
  }

  test("fidelity edges: full-range longs, NaN columns, empty strings, all-null rows") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(1234567890123456789L), Some(1.5), Some("x")),
      ("b", Some(Long.MaxValue), Some(Double.NaN), Some("")),
      (null, None, None, None))
      .toDF("K", "L", "D", "S")
    val path = tmpXlsx()
    Xlsx.saveWorkbook(Seq((df, "S", (0, 0))), path)
    val back = Xlsx.readWorkbook(spark, path)
    // a 19-digit in-range long stays LongType (not a lossy double)
    assert(back.schema("L").dataType.typeName == "long")
    assert(back.filter(col("L") === 1234567890123456789L).count() == 1)
    assert(back.filter(col("L") === Long.MaxValue).count() == 1)
    // NaN must not degrade the column to strings
    assert(back.schema("D").dataType.typeName == "double")
    assert(back.filter(isnan(col("D"))).count() == 1)
    // "" is data, not absence
    assert(back.filter(col("S") === "").count() == 1)
    // the all-null row survives the round trip (its index cell exists)
    assert(back.count() == 3)
    assert(back.filter(col("K").isNull && col("L").isNull).count() == 1)
  }

  test("control characters round-trip via OOXML _xHHHH_ escapes") {
    import spark.implicits._
    val nasty = "bad\u0001mid\u0007end"
    val literal = "keep _x0041_ literal" // must NOT decode to 'A'
    val df = Seq((nasty, 1L), (literal, 2L)).toDF("T", "N")
    val path = tmpXlsx()
    Xlsx.saveWorkbook(Seq((df, "S", (0, 0))), path)
    val back = Xlsx.readWorkbook(spark, path)
      .collect().map(r => r.getLong(1) -> r.getString(0)).toMap
    assert(back(1L) == nasty, s"control chars must survive, got ${back(1L)}")
    assert(back(2L) == literal,
      s"literal escape-looking text must survive, got ${back(2L)}")
  }

  test("adjacent escape-like literals round-trip (shared-underscore case)") {
    // "_x0041_x0042_": the two look-alike runs SHARE the middle underscore
    // — a consuming guard regex eats it with the first match and leaves
    // the second unguarded, which then DECODES at read time ("_x0041B")
    for (s <- Seq("_x0041_x0042_", "_x0041_x0042_x0043_", "__x0041_x0042_",
      "_x005F_x0041_", "a_x0000_x0001_b"))
      assert(Xlsx.ooxmlUnescape(Xlsx.ooxmlEscape(s)) == s,
        s"round-trip failed for '$s'")
  }

  test("escape-like literal completed by an escaped illegal char round-trips") {
    // "_x0041" (no trailing underscore) + an illegal char: escaping the
    // illegal char emits `_xHHHH_`, whose LEADING underscore would complete
    // the unguarded literal into `_x0041_x0001_` -- decoding to "Ax0001_"
    def cp(x: String) = x.map(c => f"u${c.toInt}%04X").mkString(" ")
    for (s <- Seq("_x0041\u0001", "_x0041\u0001tail", "head_xBEEF\u0000",
      "_x005F\u0007", // the guard char itself, completed
      "_x0041\uD800", "_x0041\uFFFF", // lone-surrogate / nonchar followers
      "_x0041_x0042\u0001", // shared-underscore adjacency THEN completion
      "_x0041", "_x0041_", "tail_xAB12", // end-of-string shapes
      "_x0041Z\u0001")) // legal follower breaks the run -- harmless shape
      assert(Xlsx.ooxmlUnescape(Xlsx.ooxmlEscape(s)) == s,
        s"round-trip failed for ${cp(s)}")
  }

  test("string cells keep their type: numeric-looking codes round-trip " +
      "as strings") {
    import spark.implicits._
    // "007"/"012" are STRING cells (inlineStr); shape inference alone would
    // coerce them to longs 7/12, destroying the zero padding — the cell
    // type tag must win, as pandas' read_excel honors it
    val df = Seq(("007", 7L), ("012", 12L), ("true", 1L))
      .toDF("Code", "N")
    val path = tmpXlsx()
    Xlsx.saveWorkbook(Seq((df, "S", (0, 0))), path)
    val back = Xlsx.readWorkbook(spark, path)
    assert(back.schema("Code").dataType.typeName == "string")
    assert(back.schema("N").dataType.typeName == "long")
    assert(back.filter(col("Code") === "007").count() == 1)
    assert(back.filter(col("Code") === "true").count() == 1,
      "a string 'true' must not become a boolean")
  }

  test("Date cells accept Excel numeric day serials (openpyxl shape)") {
    // serial 45292 = 2024-01-01 (days since 1899-12-30)
    val tmp = tempDir("xl_serial")
    val p = tmp.resolve("wb.xlsx").toString
    import spark.implicits._
    // write a workbook, then doctor its sheet XML would be heavy — instead
    // drive parseDateCell's contract through readWorkbook by writing the
    // serial as a raw long under a 'Date' header
    val df = Seq((45292L, "a"), (45658L, "b")).toDF("Date", "K")
    Xlsx.saveWorkbook(Seq((df, "S", (0, 0))), p)
    val back = Xlsx.readWorkbook(spark, p)
    assert(back.schema("Date").dataType.typeName == "date")
    val dates = back.orderBy("Date").collect().map(_.getDate(0).toString)
    assert(dates.toSeq == Seq("2024-01-01", "2025-01-01"))
  }

  test("escape helpers are inverse on arbitrary strings") {
    val cases = Seq("", "plain", "_x0000_", "_x005F_", "a_xBEEF_b",
      "\u0000\u0001\u001f", "tab\tnl\ncr\r ok", "_x", "_x12", "_x12G4_")
    for (s <- cases)
      assert(Xlsx.ooxmlUnescape(Xlsx.ooxmlEscape(s)) == s,
        s"round-trip failed for '${s.getBytes("UTF-8").mkString(",")}'")
  }

  test("non-characters and lone surrogates are escaped; pairs pass through") {
    // U+FFFE / U+FFFF and unpaired surrogates are illegal in XML 1.0 even
    // though they are ≥ 0x20 — a verbatim write would fail at parse time
    val illegal = Seq("￾", "￿", "a￾b",
      "\uD800", "lead\uD800", "\uDC00tail", "\uDC00\uD800") // reversed pair
    for (s <- illegal) {
      // failure clues dump code points, not raw chars — a raw lone
      // surrogate in a test message breaks the harness's XML reporter
      def cp(x: String) = x.map(c => f"u${c.toInt}%04X").mkString(" ")
      val e = Xlsx.ooxmlEscape(s)
      assert(e.forall(ch => ch < 0xD800 || ch > 0xDFFF),
        s"surrogate leaked: ${cp(e)}")
      assert(!e.contains('￾') && !e.contains('￿'), s"nonchar leaked: ${cp(e)}")
      assert(Xlsx.ooxmlUnescape(e) == s, s"round-trip failed: ${cp(s)}")
    }
    // a PROPER surrogate pair (U+1F600) is legal XML and must pass verbatim
    val emoji = "ok 😀 done"
    assert(Xlsx.ooxmlEscape(emoji) == emoji)
    assert(Xlsx.ooxmlEscape("�") == "�") // U+FFFD itself is legal
  }

  test("supplementary-plane text survives a workbook round-trip") {
    import spark.implicits._
    // no lone surrogates here: Spark stores strings as UTF-8
    // (UTF8String), so an unpaired surrogate is mangled by the ENGINE
    // before any sink runs — helper-level coverage above is the right
    // place for that case. Noncharacters and astral pairs ARE
    // UTF-8-encodable and must survive the full engine→sink→source loop.
    val s = "emoji 😀 and nonchar ￾ and ￿ end"
    val df = Seq((s, 1L)).toDF("T", "N")
    val path = tmpXlsx()
    Xlsx.saveWorkbook(Seq((df, "S", (0, 0))), path)
    val back = Xlsx.readWorkbook(spark, path).collect()
    assert(back.head.getString(0) == s)
  }
}
