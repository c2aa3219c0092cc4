package graft.ops

import graft.SparkSpec

/** Pins the parquet footer walker on golden HAND-PACKED Thrift compact
  * bytes (never Spark's writer), a real parquet-mr round-trip, and the
  * degrade contracts. The cross-implementation differential (this
  * walker vs DuckDB's reader over the same staged files) lives in the
  * `lake_footer_census` oracle gate.
  */
class ParquetFooterSpec extends SparkSpec {

  /** Minimal Thrift compact-protocol writer — just enough to assemble
    * a FileMetaData by hand, so the golden test is independent of any
    * parquet implementation (including the one under test).
    */
  private final class W {
    private val out = new java.io.ByteArrayOutputStream()
    private var lastId = 0
    def bytes: Array[Byte] = out.toByteArray
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def zigzag(v: Long): Unit = varint((v << 1) ^ (v >> 63))
    def field(id: Int, typ: Int): Unit = {
      val delta = id - lastId
      require(delta > 0 && delta <= 15, "test writer: short-form only")
      out.write((delta << 4) | typ); lastId = id
    }
    def i32(id: Int, v: Long): Unit = { field(id, 5); zigzag(v) }
    def i64(id: Int, v: Long): Unit = { field(id, 6); zigzag(v) }
    def str(id: Int, s: String): Unit = { field(id, 8); rawStr(s) }
    /** A bare length-prefixed string (list<string> element payload). */
    def rawStr(s: String): Unit = {
      val b = s.getBytes("UTF-8"); varint(b.length); out.write(b)
    }
    def list(id: Int, elemType: Int, n: Int): Unit = {
      field(id, 9)
      require(n < 15, "test writer: short list only")
      out.write((n << 4) | elemType)
    }
    def struct(id: Int)(body: W => Unit): Unit = { field(id, 12); nested(body) }
    def nested(body: W => Unit): Unit = {
      val w = new W; body(w); w.stop(); out.write(w.bytes, 0, w.bytes.length)
    }
    def stop(): Unit = out.write(0)
  }

  /** version 1, schema root + 2 leaves (one nested under a group), 3
    * rows, 1 row group with 2 chunks (SNAPPY+PLAIN, GZIP+RLE), one kv
    * pair, created_by "graft-golden".
    */
  private def goldenFooter: Array[Byte] = {
    val w = new W
    w.i32(1, 1) // version
    w.list(2, 12, 4) // schema: root, leaf a, group g, leaf g.b
    w.nested { e => e.str(4, "root"); e.i32(5, 2) }
    w.nested { e => e.str(4, "a") }
    w.nested { e => e.str(4, "g"); e.i32(5, 1) }
    w.nested { e => e.str(4, "b") }
    w.i64(3, 3L) // num_rows
    w.list(4, 12, 1) // row_groups
    w.nested { rg =>
      rg.list(1, 12, 2) // columns
      rg.nested { cc =>
        cc.i64(2, 4L) // file_offset
        cc.struct(3) { cm =>
          cm.i32(1, 2) // type INT64
          cm.list(2, 5, 1); cm.zigzag(0) // encodings [PLAIN]
          cm.list(3, 8, 1); cm.rawStr("a")
          cm.i32(4, 1) // codec SNAPPY
          cm.i64(5, 3L)
          cm.i64(6, 100L) // uncompressed
          cm.i64(7, 80L) // compressed
        }
      }
      rg.nested { cc =>
        cc.i64(2, 90L)
        cc.struct(3) { cm =>
          cm.i32(1, 6) // BYTE_ARRAY
          cm.list(2, 5, 2); cm.zigzag(0); cm.zigzag(3) // [PLAIN, RLE]
          cm.list(3, 8, 2); cm.rawStr("g"); cm.rawStr("b")
          cm.i32(4, 2) // GZIP
          cm.i64(5, 3L)
          cm.i64(6, 40L)
          cm.i64(7, 25L)
        }
      }
      rg.i64(2, 140L) // total_byte_size
      rg.i64(3, 3L) // num_rows
    }
    w.list(5, 12, 1) // key_value_metadata
    w.nested { kv => kv.str(1, "k"); kv.str(2, "v") }
    w.str(6, "graft-golden")
    w.stop()
    val body = w.bytes
    val out = new java.io.ByteArrayOutputStream()
    out.write("PAR1".getBytes("US-ASCII"))
    out.write(Array.fill[Byte](16)(0x5a)) // fake page data, never read
    out.write(body)
    out.write(body.length & 0xff); out.write((body.length >>> 8) & 0xff)
    out.write((body.length >>> 16) & 0xff); out.write((body.length >>> 24) & 0xff)
    out.write("PAR1".getBytes("US-ASCII"))
    out.toByteArray
  }

  test("golden hand-packed footer parses field-for-field") {
    val m = ParquetFooter.parseFooter("g", goldenFooter)
    assert(m.parse_ok, m.toString)
    assert(m.version == 1 && m.num_rows == 3L && m.n_row_groups == 1, m.toString)
    assert(m.n_columns == 2, s"leaves: $m") // a, g.b — root and group g are not leaves
    assert(m.created_by.contains("graft-golden"), m.toString)
    assert(m.total_compressed == 105L && m.total_uncompressed == 140L, m.toString)
    assert(m.codecs.contains("GZIP,SNAPPY"), m.toString)
    assert(m.encodings.contains("PLAIN,RLE"), m.toString)
    assert(m.n_kv == 1, m.toString)
  }

  test("real parquet-mr round-trip: Spark-written footer parses and agrees with Spark") {
    import spark.implicits._
    val dir = graft.TempRoots.create("graft_pqfooter").toString
    (1L to 40L).map(i => (i, s"t$i", i.toDouble))
      .toDF("id", "name", "score")
      .coalesce(1).write.mode("overwrite")
      .option("compression", "gzip").parquet(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val m = ParquetFooter.parseFooter(part.getName,
      java.nio.file.Files.readAllBytes(part.toPath))
    assert(m.parse_ok, m.toString)
    assert(m.num_rows == 40L && m.n_row_groups == 1 && m.n_columns == 3, m.toString)
    assert(m.created_by.exists(_.startsWith("parquet-mr")), m.toString)
    assert(m.codecs.contains("GZIP"), m.toString)
    assert(m.n_kv >= 1, s"Spark writes its schema kv pair: $m")
    // the footer's own row count must agree with Spark's read of the file
    assert(spark.read.parquet(dir).count() == m.num_rows)
  }

  test("corrupt / truncated / encrypted payloads degrade to flagged rows") {
    assert(!ParquetFooter.parseFooter("x", null).parse_ok)
    assert(!ParquetFooter.parseFooter("x", Array.emptyByteArray).parse_ok)
    assert(!ParquetFooter.parseFooter("x", "not a parquet file".getBytes).parse_ok)
    val g = goldenFooter
    // encrypted-footer magic PARE must degrade, not misparse
    val enc = g.clone(); enc(enc.length - 1) = 'E'
    assert(!ParquetFooter.parseFooter("x", enc).parse_ok)
    // footer length escaping the file
    val esc = g.clone(); esc(esc.length - 5) = 0x7f
    assert(!ParquetFooter.parseFooter("x", esc).parse_ok)
    // every prefix truncation must flag, never throw
    (1 until g.length).foreach { cut =>
      assert(!ParquetFooter.parseFooter("x",
        java.util.Arrays.copyOf(g, cut)).parse_ok, s"cut=$cut")
    }
  }

  test("parseFooter never throws on arbitrary byte soup (seeded fuzz)") {
    (0 until 500).foreach { seed =>
      val rnd = new java.util.Random(seed)
      val b = new Array[Byte](12 + rnd.nextInt(256))
      rnd.nextBytes(b)
      "PAR1".getBytes.copyToArray(b, 0)
      "PAR1".getBytes.copyToArray(b, b.length - 4)
      ParquetFooter.parseFooter(seed.toString, b)
    }
  }

  test("ranged-tail parse ≡ full parse, incl. the footer-outgrows-slice re-read path") {
    import spark.implicits._
    val dir = graft.TempRoots.create("graft_pqtail").toString
    // several row groups → a footer comfortably larger than a 1 KiB
    // first slice, so the exact-size re-read path is exercised
    (1L to 400L).map(i => (i, s"name-$i", i * 0.5))
      .toDF("id", "name", "score")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", "2048").parquet(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    val full = ParquetFooter.parseFooter("f", bytes)
    assert(full.parse_ok && full.n_row_groups > 1, full.toString)
    // tail slice big enough on the first read
    val big = java.util.Arrays.copyOfRange(bytes,
      math.max(0, bytes.length - 32768), bytes.length)
    assert(ParquetFooter.parseFooterTail("f", big, bytes.length.toLong,
      headMagicOk = true) == full)
    // tail slice too small: parseFooterTail must DEGRADE (the driver
    // re-reads via footerSpan), never misparse
    val small = java.util.Arrays.copyOfRange(bytes, bytes.length - 64,
      bytes.length)
    assert(!ParquetFooter.parseFooterTail("f", small, bytes.length.toLong,
      headMagicOk = true).parse_ok)
    val span = ParquetFooter.footerSpan(small).get
    assert(span > 64 && span < bytes.length, s"span=$span")
    val exact = java.util.Arrays.copyOfRange(bytes,
      bytes.length - span.toInt, bytes.length)
    assert(ParquetFooter.parseFooterTail("f", exact, bytes.length.toLong,
      headMagicOk = true) == full, "exact-size re-read must equal full parse")
    // a failed head probe degrades even with a pristine tail
    assert(!ParquetFooter.parseFooterTail("f", big, bytes.length.toLong,
      headMagicOk = false).parse_ok)
    // distributed tail census over the directory ≡ the full parse
    val viaTail = ParquetFooter.tailCensus(spark, dir, tailBytes = 1024)
      .collect()
    assert(viaTail.length == 1 && viaTail.head.copy(file = "f") == full,
      viaTail.mkString(","))
  }

  test("footerCensus: distributed parse over a payload table matches parseFooter") {
    import spark.implicits._
    val files = Seq(("g1", goldenFooter), ("bad", "PAR1junk".getBytes))
    val got = ParquetFooter.footerCensus(files.toDF("file", "payload"))
      .collect().sortBy(_.file)
    val want = files.map { case (f, b) => ParquetFooter.parseFooter(f, b) }
      .sortBy(_.file)
    assert(got.toSeq == want)
  }
}
