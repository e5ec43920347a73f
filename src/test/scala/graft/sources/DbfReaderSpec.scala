package graft.sources

import graft.SparkSpec
import graft.testutil.Adm2Fixture
import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

class DbfReaderSpec extends SparkSpec {

  /** Build a minimal dBASE III file: fields (NAME C10, VAL N5.0, RATE N6.2). */
  private def syntheticDbf(records: Seq[(String, String, String)], deleted: Set[Int]): Array[Byte] = {
    val fields = Seq(("NAME", 'C', 10, 0), ("VAL", 'N', 5, 0), ("RATE", 'N', 6, 2))
    val recordLen = 1 + fields.map(_._3).sum
    val headerLen = 32 + fields.size * 32 + 1
    val out = new ByteArrayOutputStream()
    val head = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
    head.put(0, 0x03.toByte)
    head.putInt(4, records.size)
    head.putShort(8, headerLen.toShort)
    head.putShort(10, recordLen.toShort)
    out.write(head.array())
    fields.foreach { case (name, t, len, dec) =>
      val fd = ByteBuffer.allocate(32)
      val nb = name.getBytes("ASCII")
      fd.position(0); fd.put(nb)
      fd.put(11, t.toByte)
      fd.put(16, len.toByte)
      fd.put(17, dec.toByte)
      out.write(fd.array())
    }
    out.write(0x0d)
    records.zipWithIndex.foreach { case ((n, v, r), i) =>
      out.write(if (deleted(i)) '*' else ' ')
      out.write(n.padTo(10, ' ').getBytes("ASCII"))
      out.write(v.reverse.padTo(5, ' ').reverse.getBytes("ASCII"))
      out.write(r.reverse.padTo(6, ' ').reverse.getBytes("ASCII"))
    }
    out.toByteArray
  }

  test("reads fields, types, skips deleted records") {
    val tmp = Files.createTempFile("graft", ".dbf")
    Files.write(tmp, syntheticDbf(Seq(
      ("alpha", "42", "  1.50"),
      ("gone", "1", "  9.99"),
      ("beta", "", "")), deleted = Set(1)))
    val df = DbfReader.read(spark, tmp.toString, encoding = "ASCII")
    assert(df.columns.toSeq == Seq("NAME", "VAL", "RATE"))
    val rows = df.orderBy("NAME").collect()
    assert(rows.length == 2)
    val alpha = rows.head
    assert(alpha.getAs[String]("NAME") == "alpha")
    assert(alpha.getAs[Long]("VAL") == 42L)
    assert(alpha.getAs[Double]("RATE") == 1.5)
    val beta = rows(1)
    assert(beta.isNullAt(1) && beta.isNullAt(2))
    Files.delete(tmp)
  }

  test("reads the reference's real ADM2 attribute table (928 districts)") {
    val p = "/root/reference/backend/storage/admin/tha_admbnda_adm2_rtsd_20220121.dbf"
    assume(Files.exists(Paths.get(p)))
    val df = DbfReader.read(spark, p) // TIS-620 default
    assert(df.count() == 928)
    assert(df.columns.exists(_.toUpperCase.contains("ADM1")))
  }

  test("reads a generated ADM2 attribute table in the default TIS-620") {
    val p = Adm2Fixture.write()
    try {
      val df = DbfReader.read(spark, p) // TIS-620 default
      assert(df.count() == Adm2Fixture.Provinces.map(_._3.size).sum)
      assert(df.columns.toSeq == Seq("ADM1_EN", "ADM1_TH", "ADM2_EN", "ADM2_TH"))
      val th = df.where(df("ADM1_EN") === "Chiang Mai")
        .select("ADM1_TH").distinct().collect().map(_.getString(0)).toSeq
      assert(th == Seq("เชียงใหม่"))
    } finally Files.delete(Paths.get(p))
  }
}
