package graft.core.seqfile

import org.scalatest.funsuite.AnyFunSuite

/** Golden interop tests against the binary fixtures written by real Hadoop
  * (graft.GoldenFiles, generator shape per reference:
  * tests/MakeSequenceFiles.java:16-27), strengthening the
  * reference's print-only smoke checks (reference: tests/Main.hs:13-37) into
  * assertions. */
class SeqFileGoldenSpec extends AnyFunSuite {

  val textInt = graft.GoldenFiles.textInt
  val longDouble = graft.GoldenFiles.longDouble

  /** (records, order-sensitive checksum) of a file's rendered records,
    * through our decoder and through Hadoop's `SequenceFile.Reader`. */
  private def oursDigest(path: String): (Long, Long) = {
    def render(c: ColumnData, i: Int): String = c match {
      case x: BinaryColumn => x.sliceString(i)
      case x: IntColumn => x.values(i).toString
      case x: LongColumn => x.values(i).toString
      case x: DoubleColumn => x.values(i).toString
      case other => fail(s"unexpected golden column $other")
    }
    val r = SeqFile.open(path)
    var n = 0L
    var digest = 0L
    try for (b <- r; i <- 0 until b.count) {
      digest = digest * 31 + s"${render(b.keys.get, i)}\t${render(b.values.get, i)}".hashCode
      n += 1
    } finally r.close()
    (n, digest)
  }

  private def hadoopDigest(path: String): (Long, Long) = {
    import org.apache.hadoop.io.{SequenceFile, Writable}
    val conf = new org.apache.hadoop.conf.Configuration()
    val rd = new SequenceFile.Reader(conf,
      SequenceFile.Reader.file(new org.apache.hadoop.fs.Path(path)))
    val k = org.apache.hadoop.util.ReflectionUtils.newInstance(rd.getKeyClass, conf)
      .asInstanceOf[Writable]
    val v = org.apache.hadoop.util.ReflectionUtils.newInstance(rd.getValueClass, conf)
      .asInstanceOf[Writable]
    var n = 0L
    var digest = 0L
    try while (rd.next(k, v)) {
      digest = digest * 31 + s"$k\t$v".hashCode
      n += 1
    } finally rd.close()
    (n, digest)
  }

  test("interop: every golden leg decodes record-for-record as Hadoop reads it") {
    // the generated fixtures always; the reference's shipped ones (older,
    // native-snappy Hadoop) when a reference checkout is configured
    val legs = Seq("generated" -> graft.tools.GoldenFixtures.Fixtures(textInt, longDouble)) ++
      graft.GoldenFiles.reference.map("reference" -> _)
    for ((leg, f) <- legs; path <- Seq(f.textInt, f.longDouble)) {
      val (n, digest) = oursDigest(path)
      assert(n > 0, s"$leg $path")
      assert((n, digest) === hadoopDigest(path), s"$leg $path")
    }
  }

  test("text-int.seq header: classes, codec, sync") {
    val h = SeqFile.readHeader(textInt)
    assert(h.keyClass === "org.apache.hadoop.io.Text")
    assert(h.valueClass === "org.apache.hadoop.io.IntWritable")
    assert(h.codecClass === SeqHeader.SnappyCodecClass)
    assert(h.metadata.isEmpty)
    assert(h.sync.length === 16)
    assert(h.keyType === WritableType.TextW)
    assert(h.valueType === WritableType.IntW)
  }

  test("text-int.seq: 100,000 records in 2 blocks (count-only scan)") {
    assert(SeqFile.recordCount(textInt) === 100000L)
    val r = SeqFile.open(textInt, decodeKey = false, decodeValue = false)
    try assert(r.size === 2)
    finally r.close()
  }

  test("text-int.seq: full decode — key range, key shape, value range") {
    val r = SeqFile.open(textInt)
    var n = 0L
    var minKey: String = null
    var maxKey: String = null
    try {
      for (b <- r) {
        val keys = b.keys.get.asInstanceOf[BinaryColumn]
        val vals = b.values.get.asInstanceOf[IntColumn]
        assert(keys.size === b.count)
        assert(vals.size === b.count)
        var i = 0
        while (i < b.count) {
          val k = keys.sliceString(i)
          assert(k.length === 8 && k.charAt(0) === 'F', s"key shape: $k")
          if (minKey == null || k < minKey) minKey = k
          if (maxKey == null || k > maxKey) maxKey = k
          val v = vals.values(i)
          assert(v >= 0 && v <= 100, s"value out of range: $v")
          i += 1
        }
        n += b.count
      }
    } finally r.close()
    assert(n === 100000L)
    // generator keys are F%07d over 0..99999 (reference: MakeSequenceFiles.java:23-27)
    assert(minKey === "F0000000")
    assert(maxKey === "F0099999")
  }

  test("long-double.seq decodes fully, both blocks, plausible values") {
    val r = SeqFile.open(longDouble)
    var n = 0L
    var blocks = 0
    try {
      for (b <- r) {
        blocks += 1
        val keys = b.keys.get.asInstanceOf[LongColumn]
        val vals = b.values.get.asInstanceOf[DoubleColumn]
        assert(keys.size === b.count && vals.size === b.count)
        vals.values.foreach(d => assert(!d.isNaN))
        n += b.count
      }
    } finally r.close()
    assert(blocks === 2)
    assert(n > 0)
  }

  test("column pruning decodes only the requested side") {
    val r = SeqFile.open(textInt, decodeKey = true, decodeValue = false)
    try {
      val b = r.next()
      assert(b.keys.isDefined && b.values.isEmpty)
      assert(b.keys.get.size === b.count)
    } finally r.close()
  }

  test("split contract: two splits partition the blocks exactly") {
    val h = SeqFile.readHeader(textInt)
    val fileLen = new java.io.File(textInt).length()
    val mid = fileLen / 2
    def blocksIn(s: Long, e: Long): Seq[Int] = {
      val in = new LocalSeekableInput(java.nio.file.Paths.get(textInt))
      val rd = new SeqBlockReader(in, h, s, e, decodeKey = false, decodeValue = false)
      try rd.map(_.count).toList
      finally rd.close()
    }
    val whole = blocksIn(0, fileLen)
    val left = blocksIn(0, mid)
    val right = blocksIn(mid, fileLen)
    assert(left ++ right === whole)
    assert(whole.map(_.toLong).sum === 100000L)
    // degenerate split entirely inside one block yields nothing
    val none = blocksIn(fileLen - 10, fileLen)
    assert(none.isEmpty)
  }

  test("corrupted sync marker is detected") {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(textInt))
    val h = SeqFile.readHeader(textInt)
    // flip one byte of the first block's sync copy (dataStart+4 .. +20)
    bytes((h.dataStart + 10).toInt) = (bytes((h.dataStart + 10).toInt) ^ 0x5a).toByte
    val tmp = java.nio.file.Files.createTempFile("corrupt", ".seq")
    java.nio.file.Files.write(tmp, bytes)
    try {
      val ex = intercept[SeqFileFormatException] {
        SeqFile.recordCount(tmp.toString)
      }
      assert(ex.getMessage.contains("corrupt"))
    } finally java.nio.file.Files.delete(tmp)
  }

  test("header validation failures match the reference's restrictions") {
    def mutated(f: Array[Byte] => Unit): String = {
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(textInt))
      f(bytes)
      val tmp = java.nio.file.Files.createTempFile("hdr", ".seq")
      java.nio.file.Files.write(tmp, bytes)
      tmp.toString
    }
    // bad magic (reference: Parser.hs:45-47)
    val badMagic = mutated(b => b(0) = 'X'.toByte)
    assert(intercept[SeqFileFormatException](SeqFile.readHeader(badMagic))
      .getMessage.contains("magic"))
    // bad version (reference: Parser.hs:49-51)
    val badVersion = mutated(b => b(3) = 5)
    assert(intercept[SeqFileFormatException](SeqFile.readHeader(badVersion))
      .getMessage.contains("version"))
    // Flipping blockCompressed=0 now parses as a RECORD-compressed header
    // (the reference rejects this at Parser.hs:56-60; we accept all three
    // layouts) — but the data region is still block-layout bytes, so the
    // corruption surfaces at READ time, not header time.
    val boolOff = 4 + 1 + 25 + 1 + 32 // magic+ver, vint+Text, vint+IntWritable
    val notBlock = mutated(b => b(boolOff + 1) = 0)
    assert(SeqFile.readHeader(notBlock).compression === SeqCompression.Record)
    val r = SeqFile.open(notBlock)
    try intercept[Exception] { r.foreach(_ => ()) }
    finally r.close()
    // compressed=false + blockCompressed=true is not a layout Hadoop can
    // write; still rejected at the header
    val impossible = mutated(b => b(boolOff) = 0)
    assert(intercept[SeqFileFormatException](SeqFile.readHeader(impossible))
      .getMessage.contains("blockCompressed=true with compressed=false"))
  }

  test("zero-record block (never produced by writers, legal per grammar) decodes as empty") {
    // craft: our header + one 0-record block + one real 2-record block
    val out = new java.io.ByteArrayOutputStream()
    val tmp0 = java.nio.file.Files.createTempFile("base", ".seq")
    val w = new SeqFileWriter(java.nio.file.Files.newOutputStream(tmp0),
      WritableType.IntW, WritableType.IntW, syncSeed = 3L)
    w.append(1, 10); w.append(2, 20); w.close()
    val base = java.nio.file.Files.readAllBytes(tmp0)
    val h = SeqFile.readHeader(tmp0.toString)
    out.write(base, 0, h.dataStart.toInt) // header
    // empty block: escape + sync + vint 0 + 4 empty framed buffers
    out.write(Array[Byte](-1, -1, -1, -1)); out.write(h.sync)
    VInt.write(out, 0L)
    val emptyFramed = SnappyBlockCodec.compress(Array.emptyByteArray, 0)
    (1 to 4).foreach { _ =>
      VInt.write(out, emptyFramed.length.toLong); out.write(emptyFramed)
    }
    out.write(base, h.dataStart.toInt, base.length - h.dataStart.toInt) // real block
    val tmp = java.nio.file.Files.createTempFile("emptyblock", ".seq")
    java.nio.file.Files.write(tmp, out.toByteArray)
    val r = SeqFile.open(tmp.toString)
    try {
      val blocks = r.toList
      assert(blocks.map(_.count) === List(0, 2))
      assert(blocks(1).keys.get.asInstanceOf[IntColumn].values.toSeq === Seq(1, 2))
    } finally { r.close(); java.nio.file.Files.delete(tmp); java.nio.file.Files.delete(tmp0) }
  }

  test("zero-length snappy chunks are skipped (reference: decode.c:94)") {
    // Hand-build framing: [total][0-len chunk][real chunk] — the reference
    // kernel `continue`s over compressed_size == 0; snappy itself would
    // reject a 0-byte input, so the codec must not call it.
    val payload = "hello snappy".getBytes("UTF-8")
    val comp = org.xerial.snappy.Snappy.compress(payload)
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Int): Unit =
      out.write(Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte))
    be32(payload.length)
    be32(0)           // zero-length chunk, must be skipped
    be32(comp.length) // real chunk
    out.write(comp)
    val got = SnappyBlockCodec.decompress(out.toByteArray)
    assert(new String(got, "UTF-8") === "hello snappy")
  }

  test("corrupt lengths buffer fails at decode, not at row access") {
    // Record length smaller than the Text vint prefix => negative payload
    // length; must throw SeqFileFormatException inside ColumnDecoder.decode
    // so PERMISSIVE/DROPMALFORMED catches it at block-decode time.
    val data = Array[Byte](2, 'h', 'i') // one record: vint(2) + "hi"
    val exVint = intercept[SeqFileFormatException](
      ColumnDecoder.decode(WritableType.TextW, 1, Array(0), Array[Byte](2, 'h', 'i')))
    assert(exVint.getMessage.contains("invalid slice"))
    // BytesWritable: record length 2 < 4-byte prefix
    val exBytes = intercept[SeqFileFormatException](
      ColumnDecoder.decode(WritableType.BytesW, 1, Array(2), Array[Byte](0, 0)))
    assert(exBytes.getMessage.contains("invalid slice"))
    // Slice past buffer end: declared length larger than the buffer
    val exOver = intercept[SeqFileFormatException](
      ColumnDecoder.decode(WritableType.TextW, 1, Array(9), data))
    assert(exOver.getMessage.contains("invalid slice"))
  }

  test("codec acceptance: deflate-family parses (beyond the reference's " +
       "Parser.hs:62-65 snappy-only rule); unknown codecs still rejected") {
    def header(codecClass: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def vstr(s: String): Unit = {
        val b = s.getBytes("UTF-8"); VInt.write(out, b.length.toLong); out.write(b)
      }
      out.write("SEQ".getBytes); out.write(6)
      vstr("org.apache.hadoop.io.Text"); vstr("org.apache.hadoop.io.IntWritable")
      out.write(1); out.write(1)
      vstr(codecClass)
      out.write(Array[Byte](0, 0, 0, 0)) // metadata count (BE)
      out.write(new Array[Byte](16)) // sync
      out.toByteArray
    }
    def parse(codecClass: String): SeqHeader = {
      val tmp = java.nio.file.Files.createTempFile("hdr", ".seq")
      java.nio.file.Files.write(tmp, header(codecClass))
      try SeqFile.readHeader(tmp.toString)
      finally java.nio.file.Files.delete(tmp)
    }
    // Gzip/Default/Deflate now parse (the reference rejects them)
    for (c <- Seq(SeqCodecs.GzipClass, SeqCodecs.DefaultClass, SeqCodecs.DeflateClass)) {
      val h = parse(c)
      assert(h.compression === SeqCompression.Block)
      assert(h.codecClass === c)
    }
    // lz4/zstd joined the registry in round 4 — they parse too
    for (c <- Seq(SeqCodecs.Lz4Class, SeqCodecs.ZstdClass))
      assert(parse(c).codecClass === c)
    // a genuinely unknown codec still fails at the header, with the list
    val ex = intercept[SeqFileFormatException](
      parse("org.apache.hadoop.io.compress.BZip2Codec"))
    assert(ex.getMessage.contains("unsupported codec"))
    assert(ex.getMessage.contains("BZip2Codec"))
  }
}
