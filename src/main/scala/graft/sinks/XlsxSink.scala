package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import java.io.{BufferedOutputStream, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}
import java.nio.charset.StandardCharsets

/** XLSX sink (SURVEY.md §2.9 K2): one workbook, one sheet per table —
  * dependency-free SpreadsheetML (a zip of XML parts, per the public
  * OOXML/ECMA-376 spec; no POI available offline).
  *
  * Mirrors the reference's documented constraints
  * (`/root/reference/docs/changelog.md:34-44,98-102`, `docs/outputs.md:38`):
  * cells over 32,767 chars are truncated (unicode-safe), NaN/Inf numbers
  * are dropped, illegal XML control chars stripped, sheet names sanitized
  * and truncated to 31 chars.
  *
  * XLSX is inherently a single-file driver-side export — rows are collected
  * per sheet. Like the reference (which disables XLSX in multithreaded
  * mode, `src/lib.rs:222-224`), this is for human-sized extracts: cap rows
  * with `maxRowsPerSheet` (Excel's own limit is 1,048,576) and use the
  * preview/limit option for big tables; the distributed sinks are CSV and
  * parquet.
  */
object XlsxSink {

  private val MaxCellChars = 32767
  private val ExcelMaxRows = 1048576

  def write(tables: Seq[(String, DataFrame)], path: String,
      maxRowsPerSheet: Int = ExcelMaxRows - 1): Unit = {
    Option(java.nio.file.Paths.get(path).toAbsolutePath.getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    val zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try {
      val names = sheetNames(tables.map(_._1))
      put(zos, "[Content_Types].xml", contentTypes(tables.length))
      put(zos, "_rels/.rels", relsRoot)
      put(zos, "xl/workbook.xml", workbook(names))
      put(zos, "xl/_rels/workbook.xml.rels", workbookRels(tables.length))
      tables.zipWithIndex.foreach { case ((_, df), i) =>
        put(zos, s"xl/worksheets/sheet${i + 1}.xml", sheetXml(df, maxRowsPerSheet))
      }
    } finally zos.close()
  }

  /** Sanitize + dedupe sheet names: strip `[]:*?/\`, truncate to 31. */
  private[graft] def sheetNames(raw: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    raw.map { n =>
      val clean0 = n.replaceAll("[\\[\\]:*?/\\\\]", "_")
      val clean = (if (clean0.isEmpty) "sheet" else clean0).take(31)
      var name = clean
      var k = 1
      while (seen.contains(name.toLowerCase)) {
        name = (clean.take(28) + "~" + k).take(31)
        k += 1
      }
      seen(name.toLowerCase) = 1
      name
    }
  }

  private def sheetXml(df: DataFrame, maxRows: Int): String = {
    val sb = new StringBuilder
    sb.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sb.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    // header row
    sb.append("<row>")
    df.schema.fields.foreach(f => sb.append(inlineStr(f.name)))
    sb.append("</row>")
    val fields = df.schema.fields
    df.limit(maxRows).toLocalIterator().forEachRemaining { row =>
      sb.append("<row>")
      fields.zipWithIndex.foreach { case (f, i) =>
        if (row.isNullAt(i)) sb.append("<c/>")
        else f.dataType match {
          case DoubleType | FloatType =>
            val d = row.get(i).toString.toDouble
            if (d.isNaN || d.isInfinite) sb.append("<c/>") // dropped, like the reference
            else sb.append(s"""<c t="n"><v>${num(d)}</v></c>""")
          case _: NumericType =>
            sb.append(s"""<c t="n"><v>${row.get(i)}</v></c>""")
          case BooleanType =>
            sb.append(s"""<c t="b"><v>${if (row.getBoolean(i)) 1 else 0}</v></c>""")
          case _ =>
            sb.append(inlineStr(String.valueOf(row.get(i))))
        }
      }
      sb.append("</row>")
    }
    sb.append("</sheetData></worksheet>")
    sb.toString
  }

  /** Inline-string cell: truncated unicode-safely, control chars stripped,
    * XML-escaped. */
  private[sinks] def inlineStr(s0: String): String = {
    var s = s0
    if (s.length > MaxCellChars) {
      var cut = MaxCellChars
      // don't split a surrogate pair
      if (Character.isHighSurrogate(s.charAt(cut - 1))) cut -= 1
      s = s.substring(0, cut)
    }
    val cleaned = s.filter(c => c == '\n' || c == '\t' || c == '\r' || c >= ' ')
    s"""<c t="inlineStr"><is><t xml:space="preserve">${xmlEscape(cleaned)}</t></is></c>"""
  }

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  private def num(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString

  private def contentTypes(n: Int): String = {
    val sheets = (1 to n).map(i =>
      s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>$sheets</Types>"""
  }

  private val relsRoot: String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""

  private def workbook(names: Seq[String]): String = {
    val sheets = names.zipWithIndex.map { case (n, i) =>
      s"""<sheet name="${xmlEscape(n)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>$sheets</sheets></workbook>"""
  }

  private def workbookRels(n: Int): String = {
    val rels = (1 to n).map(i =>
      s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$rels</Relationships>"""
  }

  private def put(zos: ZipOutputStream, name: String, content: String): Unit = {
    zos.putNextEntry(new ZipEntry(name))
    zos.write(content.getBytes(StandardCharsets.UTF_8))
    zos.closeEntry()
  }
}
