package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Avro Object Container File census — the row-oriented lake ingest
  * format joins the container family (parquet has [[ParquetFooter]];
  * JSONL/CSV/ORC ride the sink round-trips). An OCF (public Avro spec,
  * "Object Container Files") is the `Obj\x01` magic, a file-metadata
  * avro MAP (zigzag-varint block counts, length-prefixed keys/values;
  * `avro.schema` = the writer schema JSON, `avro.codec`), a 16-byte
  * sync marker, then data blocks — [row count varint][payload size
  * varint][payload][sync marker] — until EOF.
  *
  * Census per file: codec, the record schema's name and top-level
  * field count (extracted with a bounded JSON walk, not a regex),
  * metadata pair count, block count, total row count (block headers),
  * and `inflated_bytes` — the REAL decompressed payload total: deflate
  * blocks are actually inflated (raw deflate per the spec, JDK
  * `Inflater(nowrap)`), so a wrong codec path or corrupt stream
  * hash-mismatches instead of shipping a plausible census. Bad magic,
  * a truncated header/block, a data-block sync marker that does not
  * match the header's, an unknown codec, or undecodable schema JSON
  * degrade to `parse_ok = false` rows.
  */
object Avro {

  final case class AvroMeta(
      media_id: Long, parse_ok: Boolean,
      codec: Option[String], schema_name: Option[String],
      n_fields: Int, n_meta: Int, n_blocks: Int, n_rows: Long,
      inflated_bytes: Long)

  private def failed(id: Long) =
    AvroMeta(id, parse_ok = false, None, None, 0, 0, 0, 0L, 0L)

  // ---- minimal JSON reader (just enough for an avro schema walk) ----

  /** Parsed JSON value: Map[String, Any] / List[Any] / String / Double /
    * Boolean / null. Bounded and strict — any malformed input throws,
    * which the census catches into a flagged row.
    */
  private[ops] def parseJson(s: String): Any = {
    var p = 0
    def ws(): Unit = while (p < s.length && s.charAt(p).isWhitespace) p += 1
    def expect(c: Char): Unit = {
      require(p < s.length && s.charAt(p) == c, s"json: expected $c at $p")
      p += 1
    }
    def value(): Any = {
      ws()
      require(p < s.length, "json: truncated")
      s.charAt(p) match {
        case '{' =>
          expect('{'); ws()
          val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
          if (s.charAt(p) != '}') {
            var more = true
            while (more) {
              ws(); val k = str(); ws(); expect(':')
              m(k) = value(); ws()
              if (s.charAt(p) == ',') { p += 1 } else more = false
            }
          }
          expect('}'); m
        case '[' =>
          expect('['); ws()
          val b = scala.collection.mutable.ListBuffer.empty[Any]
          if (s.charAt(p) != ']') {
            var more = true
            while (more) {
              b += value(); ws()
              if (s.charAt(p) == ',') { p += 1 } else more = false
            }
          }
          expect(']'); b.toList
        case '"' => str()
        case 't' => require(s.startsWith("true", p), "json"); p += 4; true
        case 'f' => require(s.startsWith("false", p), "json"); p += 5; false
        case 'n' => require(s.startsWith("null", p), "json"); p += 4; null
        case _ =>
          val st = p
          while (p < s.length && "+-0123456789.eE".indexOf(s.charAt(p)) >= 0) p += 1
          require(p > st, s"json: bad value at $st")
          s.substring(st, p).toDouble
      }
    }
    def str(): String = {
      expect('"')
      val b = new StringBuilder
      var done = false
      while (!done) {
        require(p < s.length, "json: unterminated string")
        s.charAt(p) match {
          case '"' => p += 1; done = true
          case '\\' =>
            require(p + 1 < s.length, "json: bad escape")
            s.charAt(p + 1) match {
              case '"' => b += '"'; case '\\' => b += '\\'; case '/' => b += '/'
              case 'b' => b += '\b'; case 'f' => b += '\f'; case 'n' => b += '\n'
              case 'r' => b += '\r'; case 't' => b += '\t'
              case 'u' =>
                require(p + 5 < s.length, "json: bad \\u")
                b += Integer.parseInt(s.substring(p + 2, p + 6), 16).toChar
                p += 4
              case other => throw new IllegalArgumentException(s"json: escape $other")
            }
            p += 2
          case c => b += c; p += 1
        }
      }
      b.toString
    }
    val v = value(); ws()
    require(p == s.length, "json: trailing bytes")
    v
  }

  // ---- OCF walk ------------------------------------------------------------

  private val KnownCodecs = Set("null", "deflate", "snappy", "bzip2",
    "xz", "zstandard")

  def parseAvro(id: Long, bytes: Array[Byte]): AvroMeta =
    try {
      val b = if (bytes == null) Array.emptyByteArray else bytes
      require(b.length >= 4 && b(0) == 'O' && b(1) == 'b' && b(2) == 'j' &&
        b(3) == 1, "bad magic")
      var p = 4
      def u8(): Int = {
        require(p < b.length, "truncated"); val v = b(p) & 0xff; p += 1; v
      }
      def varlong(): Long = { // avro long: zigzag of ULEB128
        var shift = 0; var v = 0L
        while ({
          val x = u8()
          v |= (x & 0x7fL) << shift
          shift += 7
          require(shift <= 70, "varint too long")
          (x & 0x80) != 0
        }) ()
        (v >>> 1) ^ -(v & 1)
      }
      def rawBytes(n: Long): Array[Byte] = {
        require(n >= 0 && p + n <= b.length, "length escapes payload")
        val out = java.util.Arrays.copyOfRange(b, p, p + n.toInt)
        p += n.toInt; out
      }
      // file metadata map
      var nMeta = 0
      var codec = "null" // absent avro.codec means null per the spec
      var schemaJson: Option[String] = None
      var blockCount = varlong()
      while (blockCount != 0L) {
        val n = if (blockCount < 0) { varlong(): Unit; -blockCount } else blockCount
        var i = 0L
        while (i < n) {
          val key = new String(rawBytes(varlong()), "UTF-8")
          val value = rawBytes(varlong())
          key match {
            case "avro.codec" => codec = new String(value, "UTF-8")
            case "avro.schema" => schemaJson = Some(new String(value, "UTF-8"))
            case _ => ()
          }
          nMeta += 1; i += 1
        }
        blockCount = varlong()
      }
      require(KnownCodecs.contains(codec), s"unknown codec $codec")
      require(codec == "null" || codec == "deflate" || codec == "snappy",
        s"codec $codec not supported by this census") // degrade honestly
      val sync = rawBytes(16L)
      // schema: a record's name + top-level field count
      val schema = parseJson(schemaJson.getOrElse(
        throw new IllegalArgumentException("no avro.schema")))
      val (name, nFields) = schema match {
        case m: scala.collection.Map[_, _] =>
          val mm = m.asInstanceOf[scala.collection.Map[String, Any]]
          require(mm.get("type").contains("record"), "schema: not a record")
          val fs = mm.get("fields") match {
            case Some(l: List[_]) => l.length
            case _ => throw new IllegalArgumentException("schema: no fields")
          }
          (mm.get("name").collect { case s: String => s }
            .getOrElse(throw new IllegalArgumentException("schema: no name")), fs)
        case _ => throw new IllegalArgumentException("schema: not an object")
      }
      // data blocks
      var nBlocks = 0
      var nRows = 0L
      var inflated = 0L
      while (p < b.length) {
        val rows = varlong()
        require(rows > 0, "non-positive block row count")
        val size = varlong()
        val payload = rawBytes(size)
        val blockSync = rawBytes(16L)
        require(java.util.Arrays.equals(blockSync, sync),
          "data-block sync marker mismatch")
        inflated += (codec match {
          case "null" => payload.length.toLong
          case "deflate" => // REAL raw inflate (spec: no zlib wrapper)
            val inf = new java.util.zip.Inflater(true)
            try {
              inf.setInput(payload)
              val buf = new Array[Byte](8192)
              var total = 0L
              while (!inf.finished()) {
                val k = inf.inflate(buf)
                require(k > 0 || inf.finished(), "deflate: stalled stream")
                total += k
              }
              total
            } finally inf.end()
          case "snappy" =>
            // spec: snappy block = compressed bytes + 4-byte BIG-endian
            // CRC-32 of the UNCOMPRESSED data — a real integrity check:
            // decompress, then the checksum must match
            require(payload.length >= 4, "snappy block too short for CRC")
            val body = java.util.Arrays.copyOfRange(payload, 0,
              payload.length - 4)
            val raw = org.xerial.snappy.Snappy.uncompress(body)
            val crc = new java.util.zip.CRC32
            crc.update(raw)
            val stored = ((payload(payload.length - 4) & 0xffL) << 24) |
              ((payload(payload.length - 3) & 0xffL) << 16) |
              ((payload(payload.length - 2) & 0xffL) << 8) |
              (payload(payload.length - 1) & 0xffL)
            require(crc.getValue == stored, "snappy: CRC mismatch")
            raw.length.toLong
        })
        nRows += rows
        nBlocks += 1
      }
      AvroMeta(id, parse_ok = true, Some(codec), Some(name), nFields,
        nMeta, nBlocks, nRows, inflated)
    } catch {
      case _: Exception => failed(id)
    }

  /** OCF census over a binary payload table — one narrow
    * `mapPartitions` pass, one row per file, corrupt payloads flagged.
    */
  def avroMeta(media: DataFrame): Dataset[AvroMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => parseAvro(id, bytes) })
  }

  // --- synthetic fixture ----------------------------------------------------

  /** Deterministic OCF for media `id`, exercising all three census
    * codecs and the formula surface the oracle replays:
    *   - schema: record `Rec<id%4>` with `2 + id%4` fields alternating
    *     long / 3-char string
    *   - codec by id%3: deflate (REAL raw-deflate payloads the parser
    *     must inflate) / null / snappy (REAL snappy blocks whose
    *     4-byte big-endian CRC-32-of-uncompressed the parser verifies)
    *   - metadata: avro.schema (+ avro.codec only when deflate — the
    *     reference writer's behavior), plus a `graft.tag` pair when
    *     id%5=0
    *   - `1 + id%4` data blocks; block j carries `2 + (id + j) % 5`
    *     rows; every long value is sized into [64, 8191] so its zigzag
    *     varint is exactly 2 bytes and every string is exactly 3 chars
    *     (1-byte length prefix) — making the RAW payload size a
    *     closed-form function of (id, j) that DuckDB replays while the
    *     engine must actually inflate to measure it.
    */
  def syntheticAvro(id: Long): Array[Byte] = {
    val k = 2 + (id % 4).toInt
    val nLong = (k + 1) / 2
    val nStr = k / 2
    val codec = (id % 3) match {
      case 0 => "deflate"; case 1 => "null"; case _ => "snappy"
    }
    val out = new java.io.ByteArrayOutputStream()
    def vlong(v0: Long): Unit = {
      var v = (v0 << 1) ^ (v0 >> 63)
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def bstr(s: String): Unit = {
      val raw = s.getBytes("UTF-8"); vlong(raw.length); out.write(raw)
    }
    out.write(Array[Byte]('O', 'b', 'j', 1))
    val fields = (0 until k).map { i =>
      val t = if (i % 2 == 0) "long" else "string"
      s"""{"name":"f$i","type":"$t"}"""
    }.mkString(",")
    val schema =
      s"""{"type":"record","name":"Rec${id % 4}","fields":[$fields]}"""
    val extra = id % 5 == 0
    // avro.codec is written ONLY when a codec is set — the reference
    // DataFileWriter's behavior (absent codec means null per the spec),
    // so the real-writer differential compares meta counts exactly
    vlong(1L + (if (codec != "null") 1 else 0) + (if (extra) 1 else 0))
    bstr("avro.schema"); bstr(schema)
    if (codec != "null") { bstr("avro.codec"); bstr(codec) }
    if (extra) { bstr("graft.tag"); bstr(s"t${id % 7}") }
    vlong(0L) // end of metadata map
    val sync = Array.tabulate[Byte](16)(i => ((id * 17 + i * 29) % 251).toByte)
    out.write(sync)
    val nb = 1 + (id % 4).toInt
    (0 until nb).foreach { j =>
      val rows = 2 + ((id + j) % 5).toInt
      val raw = new java.io.ByteArrayOutputStream()
      def rawVlong(v0: Long): Unit = {
        var v = (v0 << 1) ^ (v0 >> 63)
        while ((v & ~0x7fL) != 0) { raw.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
        raw.write(v.toInt)
      }
      (0 until rows).foreach { r =>
        (0 until k).foreach { i =>
          val v = 64 + (id * 31 + j * 7 + r * 3 + i) % 8000
          if (i % 2 == 0) rawVlong(v) // 2-byte zigzag varint by range
          else { raw.write(3); raw.write(f"s${v % 100}%02d".getBytes("UTF-8")) }
        }
      }
      val rawBytes = raw.toByteArray
      val payload = codec match {
        case "deflate" =>
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          try {
            d.setInput(rawBytes); d.finish()
            val buf = new Array[Byte](rawBytes.length + 64)
            val o = new java.io.ByteArrayOutputStream()
            while (!d.finished()) o.write(buf, 0, d.deflate(buf))
            o.toByteArray
          } finally d.end()
        case "snappy" =>
          val body = org.xerial.snappy.Snappy.compress(rawBytes)
          val crc = new java.util.zip.CRC32
          crc.update(rawBytes)
          val v = crc.getValue
          body ++ Array[Byte](((v >>> 24) & 0xff).toByte,
            ((v >>> 16) & 0xff).toByte, ((v >>> 8) & 0xff).toByte,
            (v & 0xff).toByte)
        case _ => rawBytes
      }
      vlong(rows.toLong)
      vlong(payload.length.toLong)
      out.write(payload)
      out.write(sync)
    }
    out.toByteArray
  }

  /** The same layout written by the REAL Apache Avro `DataFileWriter`
    * (on Spark's runtime classpath) — the gate fixture, so the census
    * gate is a genuine cross-implementation differential (the ZIP
    * gate's JDK-writer pattern): Avro's own writer produces the bytes,
    * this repo's walker parses them, DuckDB replays the formulas. Same
    * deterministic shape as [[syntheticAvro]] (the sync marker is
    * passed explicitly; block boundaries forced with `sync()`; deflate
    * level pinned), so the two writers are interchangeable under the
    * oracle — which the spec asserts census-for-census.
    */
  def realAvro(id: Long): Array[Byte] = {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.file.{CodecFactory, DataFileWriter}
    val k = 2 + (id % 4).toInt
    var fb = SchemaBuilder.record(s"Rec${id % 4}").fields()
    (0 until k).foreach { i =>
      fb = if (i % 2 == 0) fb.requiredLong(s"f$i") else fb.requiredString(s"f$i")
    }
    val schema: Schema = fb.endRecord()
    val out = new java.io.ByteArrayOutputStream()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    try {
      (id % 3) match {
        case 0 => w.setCodec(CodecFactory.deflateCodec(6))
        case 2 => w.setCodec(CodecFactory.snappyCodec())
        case _ => ()
      }
      if (id % 5 == 0) w.setMeta("graft.tag", s"t${id % 7}")
      val sync = Array.tabulate[Byte](16)(i => ((id * 17 + i * 29) % 251).toByte)
      w.create(schema, out, sync)
      val nb = 1 + (id % 4).toInt
      (0 until nb).foreach { j =>
        val rows = 2 + ((id + j) % 5).toInt
        (0 until rows).foreach { r =>
          val rec = new GenericData.Record(schema)
          (0 until k).foreach { i =>
            val v = 64 + (id * 31 + j * 7 + r * 3 + i) % 8000
            if (i % 2 == 0) rec.put(s"f$i", java.lang.Long.valueOf(v))
            else rec.put(s"f$i", f"s${v % 100}%02d")
          }
          w.append(rec)
        }
        w.sync() // force the block boundary the oracle formulas pin
      }
    } finally w.close()
    out.toByteArray
  }

  def realAvroTable(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(s"`$idCol`").cast("long")).as[Long]
      .mapPartitions(it => it.map(id => (id, realAvro(id))))
      .toDF("media_id", "payload")
  }
}
