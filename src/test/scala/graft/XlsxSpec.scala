package graft

import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.sources.Xlsx

/** S4 Excel scan: writer/reader round-trip plus a handcrafted workbook
  * covering the cell-type and sparsity surface the reader claims. */
class XlsxSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "xlsx").resolve(name).toString

  test("multi-sheet round-trip in dynamic (all-string) mode") {
    val path = tmp("two.xlsx")
    Xlsx.write(path, Seq(
      "alpha" -> Seq(Seq("id", "v"), Seq("1", "a&b<c>"), Seq("2", "y")),
      "beta" -> Seq(Seq("id", "w"), Seq("9", "z"))))
    assert(Xlsx.sheetNames(path) == Seq("alpha", "beta"))
    val a = Xlsx.readSheet(spark, path, "alpha")
    assert(a.columns.toSeq == Seq("id", "v"))
    assert(a.as[(String, String)].collect().toSet ==
      Set(("1", "a&b<c>"), ("2", "y"))) // XML escaping round-trips
    val all = Xlsx.readAllSheets(spark, path)
    assert(all.columns.toSet == Set("id", "v", "w", "sheet_name"))
    // sheets with different columns union by name, missing -> null
    assert(all.filter($"sheet_name" === "beta").select("v").collect().head.isNullAt(0))
    assert(all.count() == 3)
  }

  test("foreign workbook: numbers, booleans, inline strings, sparse cells") {
    // handcrafted (not via our writer): inlineStr + numeric + bool cells,
    // row 2 skips column B entirely (sparse r="..." references)
    val path = tmp("foreign.xlsx")
    val sheet =
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c><c r="B1" t="inlineStr"><is><t>num</t></is></c><c r="C1" t="inlineStr"><is><t>flag</t></is></c></row>
        |<row r="2"><c r="A2" t="inlineStr"><is><t>x</t></is></c><c r="C2" t="b"><v>1</v></c></row>
        |<row r="3"><c r="A3" t="s"><v>0</v></c><c r="B3"><v>12.5</v></c><c r="C3" t="b"><v>0</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val sst = """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si><r><t>ri</t></r><r><t>ch</t></r></si></sst>"""
    val wb = """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheets><sheet name="s1" sheetId="1"/></sheets></workbook>"""
    val out = new ZipOutputStream(new java.io.FileOutputStream(path))
    Seq("xl/workbook.xml" -> wb, "xl/worksheets/sheet1.xml" -> sheet,
      "xl/sharedStrings.xml" -> sst).foreach { case (n, c) =>
      out.putNextEntry(new ZipEntry(n)); out.write(c.getBytes("UTF-8")); out.closeEntry()
    }
    out.close()
    val rows = Xlsx.readSheet(spark, path, "s1")
      .as[(String, Option[String], String)].collect().toSet
    assert(rows == Set(
      ("x", None, "true"),     // sparse B2 -> null; bool 1 -> "true"
      ("rich", Some("12.5"), "false"))) // rich-text shared string; raw number
  }

  test("rels-based resolution finds non-positionally-named sheet parts") {
    val path = tmp("rels.xlsx")
    val wb = """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="only" sheetId="1" r:id="rId7"/></sheets></workbook>"""
    val rels = """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId7" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/data99.xml"/></Relationships>"""
    val sheet = """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>h</t></is></c></row><row r="2"><c r="A2"><v>7</v></c></row></sheetData></worksheet>"""
    val out = new ZipOutputStream(new java.io.FileOutputStream(path))
    Seq("xl/workbook.xml" -> wb, "xl/_rels/workbook.xml.rels" -> rels,
      "xl/worksheets/data99.xml" -> sheet).foreach { case (n, c) =>
      out.putNextEntry(new ZipEntry(n)); out.write(c.getBytes("UTF-8")); out.closeEntry()
    }
    out.close()
    assert(Xlsx.readSheet(spark, path, "only").as[String].collect().toSeq
      == Seq("7"))
  }

  test("data rows wider than the header widen the schema, never truncate") {
    val path = tmp("wide.xlsx")
    Xlsx.write(path, Seq("t" -> Seq(
      Seq("a", "b"),
      Seq("1", "2", "extra")))) // third value has no header cell
    val df = Xlsx.readSheet(spark, path, "t")
    assert(df.columns.toSeq == Seq("a", "b", "_c2"))
    assert(df.select("_c2").as[String].collect().toSeq == Seq("extra"))
  }

  test("quotes in sheet names survive the attribute-context escaping") {
    val path = tmp("quotes.xlsx")
    Xlsx.write(path, Seq("""say "hi"""" -> Seq(Seq("h"), Seq("v"))))
    assert(Xlsx.sheetNames(path) == Seq("""say "hi""""))
    assert(Xlsx.readSheet(spark, path, """say "hi"""")
      .as[String].collect().toSeq == Seq("v"))
  }

  test("property: random unicode grids round-trip write -> read exactly") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val cell = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf("a&b", "<tag>", "x\"y'z", "héllo", "数据", "", "  pad  "))
    val gridGen = for {
      w <- Gen.chooseNum(1, 5)
      h <- Gen.chooseNum(1, 6)
      rows <- Gen.listOfN(h, Gen.listOfN(w, cell))
    } yield (w, rows)
    (0 until 8).foreach { seed =>
      val (w, rows) = gridGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val header = (0 until w).map(i => s"h$i")
      val path = tmp(s"prop$seed.xlsx")
      Xlsx.write(path, Seq("t" -> (header +: rows.map(_.toSeq))))
      val back = Xlsx.readSheet(spark, path, "t")
      assert(back.columns.toSeq == header)
      val got = back.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(got == rows.map(_.toSeq), s"seed=$seed")
    }
  }

  test("dynamic strings promote through the standard cast path") {
    val path = tmp("cast.xlsx")
    Xlsx.write(path, Seq("t" -> Seq(Seq("id", "price"),
      Seq("1", "10.5"), Seq("2", "oops"))))
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val cast = graft.ops.CoreOps.castColumns(
      Map("id" -> LongType, "price" -> DoubleType))(
      Xlsx.readSheet(spark, path, "t"))
    val got = cast.as[(Long, Option[Double])].collect().toSet
    assert(got == Set((1L, Some(10.5)), (2L, None))) // try_cast semantics
  }
}
