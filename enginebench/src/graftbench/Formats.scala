package graftbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.Charset
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Byte-level writers for the four upload formats the engine reads:
  * classic NetCDF (CDF-1), dBASE III, ESRI shapefile polygons and OOXML
  * workbooks. Written from the public format descriptions, independent
  * of the program's readers, so a benchmark input is a real file. */
object Formats {

  private def pad4(n: Int): Int = (n + 3) & ~3

  /** CHIRPS-shaped CDF-1 file: record dimension `time` (double, CF
    * units), coordinate variables `latitude`/`longitude` (double) and
    * `precip[time][latitude][longitude]` (float, with `_FillValue`).
    * `precip(t)(i * lons.length + j)` is day t at (lats(i), lons(j)). */
  def writeNetcdf(path: Path, days: Array[Double], timeUnits: String,
      lats: Array[Double], lons: Array[Double], precip: Array[Array[Float]],
      fill: Float): Unit = {
    val slab = 4 * lats.length * lons.length
    def header(bLat: Int, bLon: Int, bTime: Int, bPrecip: Int): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val o = new DataOutputStream(bos)
      def name(s: String): Unit = {
        val b = s.getBytes("UTF-8")
        o.writeInt(b.length); o.write(b); o.write(new Array[Byte](pad4(b.length) - b.length))
      }
      def noAtts(): Unit = { o.writeInt(0); o.writeInt(0) }
      o.write("CDF".getBytes("ASCII")); o.write(1)
      o.writeInt(days.length)
      o.writeInt(0x0A); o.writeInt(3)
      name("time"); o.writeInt(0)
      name("latitude"); o.writeInt(lats.length)
      name("longitude"); o.writeInt(lons.length)
      noAtts() // no global attributes
      o.writeInt(0x0B); o.writeInt(4)
      name("latitude"); o.writeInt(1); o.writeInt(1); noAtts()
      o.writeInt(6); o.writeInt(pad4(8 * lats.length)); o.writeInt(bLat)
      name("longitude"); o.writeInt(1); o.writeInt(2); noAtts()
      o.writeInt(6); o.writeInt(pad4(8 * lons.length)); o.writeInt(bLon)
      name("time"); o.writeInt(1); o.writeInt(0)
      o.writeInt(0x0C); o.writeInt(1)
      name("units"); o.writeInt(2)
      val ub = timeUnits.getBytes("UTF-8")
      o.writeInt(ub.length); o.write(ub); o.write(new Array[Byte](pad4(ub.length) - ub.length))
      o.writeInt(6); o.writeInt(8); o.writeInt(bTime)
      name("precip"); o.writeInt(3); o.writeInt(0); o.writeInt(1); o.writeInt(2)
      o.writeInt(0x0C); o.writeInt(1)
      name("_FillValue"); o.writeInt(5); o.writeInt(1); o.writeFloat(fill)
      o.writeInt(5); o.writeInt(pad4(slab)); o.writeInt(bPrecip)
      o.flush(); bos.toByteArray
    }
    val hLen = header(0, 0, 0, 0).length
    val bLon = hLen + pad4(8 * lats.length)
    val bTime = bLon + pad4(8 * lons.length)
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16))
    try {
      out.write(header(hLen, bLon, bTime, bTime + 8))
      lats.foreach(out.writeDouble); out.write(new Array[Byte](pad4(8 * lats.length) - 8 * lats.length))
      lons.foreach(out.writeDouble); out.write(new Array[Byte](pad4(8 * lons.length) - 8 * lons.length))
      for (t <- days.indices) {
        out.writeDouble(days(t))
        val p = precip(t)
        var k = 0
        while (k < p.length) { out.writeFloat(p(k)); k += 1 }
        out.write(new Array[Byte](pad4(slab) - slab))
      }
    } finally out.close()
  }

  /** dBASE III table of character fields in the given charset. */
  def writeDbf(path: Path, fields: Seq[(String, Int)], rows: Seq[Seq[String]],
      charset: String): Unit = {
    val cs = Charset.forName(charset)
    val recLen = 1 + fields.map(_._2).sum
    val hdrLen = 32 + 32 * fields.size + 1
    val buf = ByteBuffer.allocate(hdrLen + recLen * rows.size + 1).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(3.toByte); buf.put(126.toByte); buf.put(1.toByte); buf.put(1.toByte)
    buf.putInt(rows.size); buf.putShort(hdrLen.toShort); buf.putShort(recLen.toShort)
    buf.put(new Array[Byte](20))
    fields.foreach { case (n, len) =>
      val nb = n.getBytes("ASCII")
      require(nb.length <= 10 && len <= 254, s"bad dbf field $n/$len")
      buf.put(nb); buf.put(new Array[Byte](11 - nb.length))
      buf.put('C'.toByte); buf.put(new Array[Byte](4)); buf.put(len.toByte)
      buf.put(new Array[Byte](15))
    }
    buf.put(0x0D.toByte)
    rows.foreach { r =>
      buf.put(' '.toByte)
      r.zip(fields).foreach { case (v, (n, len)) =>
        val b = v.getBytes(cs)
        require(b.length <= len, s"value too wide for dbf field $n: $v")
        buf.put(b); buf.put(Array.fill(len - b.length)(' '.toByte))
      }
    }
    buf.put(0x1A.toByte)
    Files.write(path, buf.array())
  }

  /** Polygon shapefile (`.shp` only — the engine pairs records with
    * the sibling `.dbf` by order). Each record is one outer ring,
    * closed, clockwise in (x = lon, y = lat). */
  def writeShp(path: Path, rings: Seq[Array[(Double, Double)]]): Unit = {
    val contents = rings.map { r =>
      val b = ByteBuffer.allocate(44 + 4 + 16 * r.length).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(5)
      b.putDouble(r.map(_._1).min); b.putDouble(r.map(_._2).min)
      b.putDouble(r.map(_._1).max); b.putDouble(r.map(_._2).max)
      b.putInt(1); b.putInt(r.length); b.putInt(0)
      r.foreach { case (x, y) => b.putDouble(x); b.putDouble(y) }
      b.array()
    }
    val total = 100 + contents.map(8 + _.length).sum
    val out = ByteBuffer.allocate(total)
    out.order(ByteOrder.BIG_ENDIAN).putInt(0, 9994).putInt(24, total / 2)
    out.order(ByteOrder.LITTLE_ENDIAN).putInt(28, 1000).putInt(32, 5)
    val all = rings.flatten
    out.putDouble(36, all.map(_._1).min).putDouble(44, all.map(_._2).min)
      .putDouble(52, all.map(_._1).max).putDouble(60, all.map(_._2).max)
    var off = 100
    contents.zipWithIndex.foreach { case (c, i) =>
      out.order(ByteOrder.BIG_ENDIAN).putInt(off, i + 1).putInt(off + 4, c.length / 2)
      out.position(off + 8); out.put(c)
      off += 8 + c.length
    }
    Files.write(path, out.array())
  }

  private def xmlEsc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  /** OOXML workbook. Cells holding a plain number are written as
    * numeric cells, every other cell through the shared-string table
    * (the way spreadsheet programs save them). */
  def xlsx(sheets: Seq[(String, Seq[Seq[String]])]): Array[Byte] = {
    val shared = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def sid(s: String): Int = shared.getOrElseUpdate(s, shared.size)
    def colRef(i: Int): String =
      if (i < 26) ('A' + i).toChar.toString else colRef(i / 26 - 1) + ('A' + i % 26).toChar
    val sheetXml = sheets.map { case (_, rows) =>
      val body = rows.zipWithIndex.map { case (cells, ri) =>
        val cs = cells.zipWithIndex.collect { case (v, ci) if v.nonEmpty =>
          val ref = s"${colRef(ci)}${ri + 1}"
          if (v.matches("-?[0-9]+(\\.[0-9]+)?")) s"""<c r="$ref"><v>$v</v></c>"""
          else s"""<c r="$ref" t="s"><v>${sid(v)}</v></c>"""
        }.mkString
        s"""<row r="${ri + 1}">$cs</row>"""
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$body</sheetData></worksheet>"""
    }
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    def put(name: String, s: String): Unit = {
      z.putNextEntry(new ZipEntry(name)); z.write(s.getBytes("UTF-8")); z.closeEntry()
    }
    val ns = "http://schemas.openxmlformats.org"
    put("[Content_Types].xml",
      s"""<?xml version="1.0" encoding="UTF-8"?><Types xmlns="$ns/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/></Types>""")
    put("xl/workbook.xml",
      s"""<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="$ns/spreadsheetml/2006/main" xmlns:r="$ns/officeDocument/2006/relationships"><sheets>""" +
        sheets.indices.map(i =>
          s"""<sheet name="${xmlEsc(sheets(i)._1)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>""").mkString +
        "</sheets></workbook>")
    put("xl/_rels/workbook.xml.rels",
      s"""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="$ns/package/2006/relationships">""" +
        sheets.indices.map(i =>
          s"""<Relationship Id="rId${i + 1}" Type="$ns/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""").mkString +
        "</Relationships>")
    sheetXml.zipWithIndex.foreach { case (x, i) => put(s"xl/worksheets/sheet${i + 1}.xml", x) }
    put("xl/sharedStrings.xml",
      s"""<?xml version="1.0" encoding="UTF-8"?><sst xmlns="$ns/spreadsheetml/2006/main" count="${shared.size}" uniqueCount="${shared.size}">""" +
        shared.keys.map(s => s"<si><t>${xmlEsc(s)}</t></si>").mkString + "</sst>")
    z.close()
    bos.toByteArray
  }
}
