package graft.sources

import graft.SparkSpec
import java.io.{File, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

class XlsxSourceSpec extends SparkSpec {

  /** Build a minimal OOXML workbook by hand (xlsx = zip of XML parts). */
  private def makeXlsx(dir: String): String = {
    val f = new File(dir, "test.xlsx")
    val zip = new ZipOutputStream(new FileOutputStream(f))
    def put(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    }
    put("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst><si><t>Name</t></si><si><t>Id</t></si>""" +
        """<si><t>Atezolizumab</t></si><si><t>Malignant (TNF-alpha) Neoplasm</t></si></sst>""")
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData>""" +
        """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>""" +
        """<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>42.0</v></c>""" +
        """<c r="D2" t="inlineStr"><is><t>inline!</t></is></c></row>""" +
        """<row r="3"><c r="A3" t="s"><v>3</v></c><c r="C3"><v>2.5</v></c></row>""" +
        """</sheetData></worksheet>""")
    put("xl/worksheets/sheet2.xml",
      """<?xml version="1.0"?><worksheet><sheetData>""" +
        """<row r="1"><c r="A1"><v>7</v></c></row></sheetData></worksheet>""")
    zip.close()
    f.getAbsolutePath
  }

  test("reads shared strings, numbers, inline strings; absent cells null; row order kept") {
    withTempDir("graft-xlsx") { dir =>
      val df = XlsxSource.readSheet(spark, makeXlsx(dir), 0, 4)
      val rows = df.orderBy("row_idx").collect()
      assert(rows.length == 3)
      assert(rows(0).getString(0) == "Name" && rows(0).getString(1) == "Id")
      assert(rows(1).getString(0) == "Atezolizumab")
      assert(rows(1).getString(1) == "42") // integral float renders as int (openpyxl parity)
      assert(rows(1).getString(3) == "inline!")
      assert(rows(2).getString(0) == "Malignant (TNF-alpha) Neoplasm")
      assert(rows(2).getString(1) == null && rows(2).getString(2) == "2.5")
    }
  }

  test("sheet indexing and count") {
    withTempDir("graft-xlsx") { dir =>
      val p = makeXlsx(dir)
      assert(XlsxSource.sheetCount(p) == 2)
      assert(XlsxSource.readSheet(spark, p, 1, 1).count() == 1)
      intercept[IllegalArgumentException](XlsxSource.readSheet(spark, p, 9, 1))
    }
  }

  test("omitted interior empty rows surface as all-null rows at the right index") {
    // Excel commonly drops an empty row from the XML entirely; openpyxl's
    // iter_rows still yields it as all-None, and the sheet compiler's
    // stop-at-first-empty-row cutoff must see it. Row 2 is absent here.
    withTempDir("graft-xlsx") { dir =>
      val f = new File(dir, "gap.xlsx")
      val zip = new ZipOutputStream(new FileOutputStream(f))
      def put(name: String, content: String): Unit = {
        zip.putNextEntry(new ZipEntry(name)); zip.write(content.getBytes("UTF-8")); zip.closeEntry()
      }
      put("xl/worksheets/sheet1.xml",
        """<?xml version="1.0"?><worksheet><sheetData>""" +
          """<row r="1"><c r="A1"><v>1</v></c></row>""" +
          """<row r="3"><c r="A3"><v>3</v></c></row>""" +
          """</sheetData></worksheet>""")
      zip.close()
      val rows = XlsxSource.readSheet(spark, f.getAbsolutePath, 0, 2).orderBy("row_idx").collect()
      assert(rows.length == 3)
      assert(rows(0).getString(0) == "1")
      assert(rows(1).getString(0) == null && rows(1).getString(1) == null) // the gap row
      assert(rows(2).getString(0) == "3")
    }
  }

  test("column reference decoding") {
    assert(XlsxSource.colIndex("A1") == 0)
    assert(XlsxSource.colIndex("Z9") == 25)
    assert(XlsxSource.colIndex("AA3") == 26)
    assert(XlsxSource.colIndex("BC12") == 54)
  }
}
