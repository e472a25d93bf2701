package graft.ops

import graft.SparkSpec

/** Advisor-grade fuzz for the round-9 decoders (ZstdFrame, ProtoWire,
  * ParquetPages, Mp3Spectra/Mp3Huffman): truncation at EVERY byte offset
  * of a valid input, a byte-flip sweep over every offset, and crafted
  * length-overflow probes — the discipline previously imposed on
  * FLAC/snappy/LZ4. The contract under fuzz is uniform: a decoder may
  * reject (None / ok=false / no rows) or, where the corruption lands in
  * slack bytes, still succeed — but it must RETURN, never throw, and
  * never allocate from an unvalidated length field. */
class DecoderFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def neverThrows[A](label: String)(body: => A): Unit =
    try { body; () } catch {
      case e: Throwable =>
        fail(s"$label threw ${e.getClass.getName}: ${e.getMessage}")
    }

  // ---------------------------------------------------------------- zstd

  private def zstdValid: Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(97)
    Seq(
      "run" -> Array.fill(4096)('a'.toByte),
      "text" -> ("fuzz corpus with enough structure for fse+huffman " * 200)
        .getBytes("UTF-8"),
      "entropy" -> Array.fill(2048)(rnd.nextInt(256).toByte)
    ).flatMap { case (name, data) =>
      Seq(3, 19).map { lvl =>
        (s"$name-l$lvl", com.github.luben.zstd.Zstd.compress(data, lvl))
      }
    }
  }

  test("zstd: truncation at every byte offset returns, never throws") {
    for ((name, comp) <- zstdValid; cut <- 0 until comp.length) {
      val pre = java.util.Arrays.copyOfRange(comp, 0, cut)
      neverThrows(s"zstd $name cut=$cut")(ZstdFrame.decompress(pre))
      neverThrows(s"zstd decode $name cut=$cut")(ZstdFrame.decode(1L, pre))
    }
  }

  test("zstd: byte-flip sweep over every offset returns, never throws") {
    for ((name, comp) <- zstdValid; i <- comp.indices) {
      val mut = comp.clone()
      mut(i) = (mut(i) ^ 0xff).toByte
      neverThrows(s"zstd $name flip=$i")(ZstdFrame.decompress(mut))
    }
  }

  test("zstd: forged frame-content-size cannot drive allocation") {
    // magic + FHD (single_segment, 8-byte FCS) + FCS = 2^62 + one last
    // RLE block claiming 4 bytes: the decoder must reject (output never
    // reaches the forged FCS; MaxOut guards the grow path) — not allocate.
    val b = new java.io.ByteArrayOutputStream()
    b.write(Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte)) // magic LE
    b.write(0xe0) // FHD: fcsFlag=3, single_segment=1
    val fcs = 1L << 62
    (0 until 8).foreach(i => b.write(((fcs >> (8 * i)) & 0xff).toInt))
    // block header LE: last=1 | type=RLE(1)<<1 | size=4<<3
    val bh = 1 | (1 << 1) | (4 << 3)
    b.write(bh & 0xff); b.write((bh >> 8) & 0xff); b.write((bh >> 16) & 0xff)
    b.write('x'.toInt)
    val frame = b.toByteArray
    neverThrows("zstd forged FCS") {
      assert(ZstdFrame.decompress(frame).isEmpty)
    }
  }

  // ------------------------------------------------------------ protobuf

  private def protoValid: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // orc-core's shaded protobuf relocation — the same real runtime
    // ProtoWireSpec cross-validates against
    val c = org.apache.orc.protobuf.CodedOutputStream.newInstance(out)
    c.writeInt64(1, 42L)
    c.writeInt64(2, -7L) // 10-byte varint
    c.writeString(3, "nested fuzz payload")
    c.writeByteArray(4, Array[Byte](1, 2, 3, 4, 5))
    c.writeFixed64(5, 0x1122334455667788L)
    c.writeFixed32(6, 0x55aa55aa)
    c.writeSInt64(7, -123456789L)
    c.flush()
    out.toByteArray
  }

  test("protobuf: truncation at every byte offset returns, never throws") {
    val msg = protoValid
    for (cut <- 0 until msg.length) {
      val pre = java.util.Arrays.copyOfRange(msg, 0, cut)
      neverThrows(s"proto cut=$cut")(ProtoWire.decode(pre))
      neverThrows(s"proto packed cut=$cut")(ProtoWire.packedVarints(pre))
    }
  }

  test("protobuf: byte-flip sweep returns, never throws") {
    val msg = protoValid
    for (i <- msg.indices) {
      val mut = msg.clone()
      mut(i) = (mut(i) ^ 0xff).toByte
      neverThrows(s"proto flip=$i")(ProtoWire.decode(mut))
    }
  }

  test("protobuf: length-delimited field claiming 2^40 bytes is rejected") {
    // tag field 1 wiretype 2, then varint len = 2^40 with no payload: the
    // decoder must bound len against the buffer, not allocate from it.
    val b = new java.io.ByteArrayOutputStream()
    b.write((1 << 3) | 2)
    var len = 1L << 40
    while (len != 0L) {
      val x = (len & 0x7f).toInt
      len >>>= 7
      b.write(if (len != 0L) x | 0x80 else x)
    }
    neverThrows("proto huge len")(assert(ProtoWire.decode(b.toByteArray).isEmpty))
    // an 11-byte varint (more than 64 bits of payload) must also reject
    val over = Array.fill[Byte](11)(0x80.toByte) :+ 1.toByte
    neverThrows("proto 11-byte varint")(assert(ProtoWire.varint(over, 0).isEmpty))
  }

  // ------------------------------------------------------- parquet pages

  /** Minimal thrift-compact writer for crafting hostile PageHeaders. */
  private final class CompactWriter {
    val out = new java.io.ByteArrayOutputStream()
    private var last = 0
    def field(id: Int, tpe: Int): Unit = {
      val delta = id - last
      require(delta >= 1 && delta <= 15)
      out.write((delta << 4) | tpe)
      last = id
    }
    def varint(v: Long): Unit = {
      var x = v
      do {
        val b = (x & 0x7f).toInt
        x >>>= 7
        out.write(if (x != 0L) b | 0x80 else b)
      } while (x != 0L)
    }
    def zig(v: Long): Unit = varint((v << 1) ^ (v >> 63))
    def stop(): Unit = { out.write(0); last = 0 }
  }

  test("parquet pages: crafted bit-packed group count cannot overflow the bounds check") {
    // ADVICE r9: header varint groups=2^28 with w=9 used to wrap
    // nBytes = groups * w negative in Int, pass `pos + nBytes > end`, and
    // read out of range. Must now return None.
    val w = new CompactWriter()
    w.varint(((1L << 28) << 1) | 1L) // bit-packed header, 2^28 groups
    val b = w.out.toByteArray ++ Array.fill[Byte](64)(0)
    neverThrows("rle groups overflow") {
      assert(ParquetPages.rleHybrid(b, 0, b.length, 9, 100).isEmpty)
    }
    // and the exact-boundary sanity: a legal 1-group stream still decodes
    val ok = Array[Byte](((1 << 1) | 1).toByte) ++ Array.fill[Byte](9)(0)
    assert(ParquetPages.rleHybrid(ok, 0, ok.length, 9, 8).isDefined)
  }

  test("parquet pages: crafted delta blockSize=2^31 cannot wrap perMini negative") {
    // ADVICE r10: blockSize=2^31 with miniblocks=1 passes %128/%miniblocks,
    // (blockSize / miniblocks).toInt wraps to Int.MinValue (whose %8 is 0),
    // nBytes = perMini.toLong * w / 8 goes negative past `pos + nBytes >
    // end`, and `pos += nBytes.toInt` drove the next read out of range.
    // The truncation/bit-flip sweeps cannot reach this multi-byte header.
    for (forged <- Seq(1L << 31, 1L << 40, (1L << 31) + (1L << 38))) {
      val w = new CompactWriter()
      w.varint(forged) // blockSize — all forged values are % 128 == 0
      w.varint(1L) // miniblocks per block
      w.varint(16L) // total count
      w.zig(0L) // first value
      w.zig(0L) // first block min-delta
      w.out.write(9) // miniblock bit width
      val b = w.out.toByteArray ++ Array.fill[Byte](64)(0)
      neverThrows(s"delta blockSize=$forged") {
        assert(ParquetPages.deltaBinaryPacked(b, 0, b.length, 16).isEmpty)
      }
    }
    // boundary sanity: a legal minimal header (128/4, single value) decodes
    val ok = new CompactWriter()
    ok.varint(128L); ok.varint(4L); ok.varint(1L); ok.zig(7L)
    val okb = ok.out.toByteArray
    assert(ParquetPages.deltaBinaryPacked(okb, 0, okb.length, 1)
      .map(_._1.toSeq).contains(Seq(7L)))
  }

  test("parquet pages: forged dpNumValues routes to ok=false before allocating") {
    // A structurally valid v1 data-page header whose num_values claims 3e9
    // (negative after .toInt) against a chunk declaring 10 values: the
    // old code hit Array.fill(dpNumValues.toInt) -> NegativeArraySize.
    def header(numValues: Long): Array[Byte] = {
      val w = new CompactWriter()
      w.field(1, 5); w.zig(0L) // page_type = DATA_PAGE
      w.field(2, 5); w.zig(8L) // uncompressed_page_size
      w.field(3, 5); w.zig(8L) // compressed_page_size
      w.field(5, 12) // DataPageHeader
      val inner = new CompactWriter()
      inner.field(1, 5); inner.zig(numValues)
      inner.field(2, 5); inner.zig(0L) // PLAIN
      inner.field(3, 5); inner.zig(3L) // RLE def levels
      inner.stop()
      w.out.write(inner.out.toByteArray)
      w.stop()
      w.out.toByteArray
    }
    val loc = ParquetPages.ChunkLoc(0, 0, 2, 10L, 0L, 0L, required = true)
    for (forged <- Seq(3000000000L, Long.MaxValue, 1L << 30)) {
      val chunk = header(forged) ++ Array.fill[Byte](8)(0)
      neverThrows(s"forged dpNumValues=$forged") {
        assert(!ParquetPages.decodeChunk(chunk, loc, "f").ok)
      }
    }
  }

  private def pqFuzzOne(writeOpts: Map[String, String], column: String,
      decodeBytes: Boolean): Unit = {
    withTempDir("graft-fuzz-pq") { root =>
      val dir = s"$root/t"
      val w = (1 to 800).map(i =>
        (i.toLong, if (i % 5 == 0) None else Some((i * 17L) % 301L),
          if (i % 4 == 0) None else Some(s"val-${i % 23}-${(i * 7) % 53}")))
        .toDF("k", "v", "s")
        .coalesce(1).write
      writeOpts.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }
        .parquet(dir)
      val conf = new org.apache.hadoop.conf.Configuration()
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      val file = fs.listStatus(p).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      val st = fs.getFileStatus(file)
      val bytes = new Array[Byte](st.getLen.toInt)
      val in = fs.open(file)
      try in.readFully(0, bytes) finally in.close()
      val flen = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val footer = java.util.Arrays.copyOfRange(
        bytes, bytes.length - 8 - flen, bytes.length - 8)
      val locs = ParquetPages.parseChunkLocs(footer, column)
      assert(locs.nonEmpty)
      val loc = locs.head
      val chunk = java.util.Arrays.copyOfRange(bytes,
        loc.firstPageOffset.toInt,
        (loc.firstPageOffset + loc.totalCompressedSize).toInt)
      def decode(b: Array[Byte]): Boolean =
        if (decodeBytes) ParquetPages.decodeChunkBytes(b, loc, "f").ok
        else ParquetPages.decodeChunk(b, loc, "f").ok
      assert(decode(chunk))
      for (cut <- 0 until chunk.length) {
        val pre = java.util.Arrays.copyOfRange(chunk, 0, cut)
        neverThrows(s"pq $column cut=$cut")(decode(pre))
      }
      for (i <- chunk.indices) {
        val mut = chunk.clone()
        mut(i) = (mut(i) ^ 0xff).toByte
        neverThrows(s"pq $column flip=$i")(decode(mut))
      }
    }
  }

  test("parquet pages: v2 chunk truncation and byte-flip sweep (long + string)") {
    val v2 = Map("parquet.writer.version" -> "v2",
      "parquet.enable.dictionary" -> "false",
      "compression" -> "snappy", "parquet.page.size" -> "1024")
    pqFuzzOne(v2, "v", decodeBytes = false) // DELTA_BINARY_PACKED
    pqFuzzOne(v2, "s", decodeBytes = true) // DELTA_BYTE_ARRAY
    pqFuzzOne(Map("compression" -> "none", "parquet.page.size" -> "1024"),
      "s", decodeBytes = true) // v1 dictionary strings
  }

  test("parquet pages: chunk truncation at every offset and byte-flip sweep") {
    withTempDir("graft-fuzz-pq") { root =>
      val dir = s"$root/t"
      (1 to 800).map(i =>
        (i.toLong, if (i % 5 == 0) None else Some((i * 17L) % 301L)))
        .toDF("k", "v")
        .coalesce(1).write.option("compression", "snappy")
        .option("parquet.page.size", "1024").parquet(dir)
      val conf = new org.apache.hadoop.conf.Configuration()
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      val file = fs.listStatus(p).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      val st = fs.getFileStatus(file)
      val bytes = new Array[Byte](st.getLen.toInt)
      val in = fs.open(file)
      try in.readFully(0, bytes) finally in.close()
      val flen = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val footer = java.util.Arrays.copyOfRange(
        bytes, bytes.length - 8 - flen, bytes.length - 8)
      val locs = ParquetPages.parseChunkLocs(footer, "v")
      assert(locs.nonEmpty)
      val loc = locs.head
      val chunk = java.util.Arrays.copyOfRange(bytes,
        loc.firstPageOffset.toInt,
        (loc.firstPageOffset + loc.totalCompressedSize).toInt)
      assert(ParquetPages.decodeChunk(chunk, loc, "f").ok)
      for (cut <- 0 until chunk.length) {
        val pre = java.util.Arrays.copyOfRange(chunk, 0, cut)
        neverThrows(s"pq chunk cut=$cut")(
          ParquetPages.decodeChunk(pre, loc, "f"))
      }
      for (i <- chunk.indices) {
        val mut = chunk.clone()
        mut(i) = (mut(i) ^ 0xff).toByte
        neverThrows(s"pq chunk flip=$i")(
          ParquetPages.decodeChunk(mut, loc, "f"))
      }
    }
  }

  // ------------------------------------------------------- mp3 big_values

  // mono 64 kbps @ 44.1 kHz, no CRC, no padding: 208-byte frames — the
  // same independent bit-writer construction as Mp3SpectraSpec, here
  // driving a big-values table-2 granule so the Huffman trie walk,
  // linbits escapes, and sign reads are all under the fuzz.
  private def mp3Frame(): Array[Byte] = {
    val buf = new Array[Byte](208)
    var pos = 0
    def write(v: Long, bits: Int): Unit = {
      var k = bits - 1
      while (k >= 0) {
        val bit = (v >> k) & 1L
        buf(pos >> 3) = (buf(pos >> 3) | (bit << (7 - (pos & 7)))).toByte
        pos += 1
        k -= 1
      }
    }
    write(0xfffb50c0L, 32) // sync + MPEG1 L3 noCRC + 64kbps/44100 + mono
    write(0, 9); write(0, 5); write(0, 4) // main_data_begin/private/scfsi
    for (_ <- 0 until 2) { // two granules' side info
      write(40, 12) // part2_3_length
      write(4, 9) // big_values = 4 pairs
      write(210, 8) // global_gain
      write(0, 4); write(0, 1)
      write(2, 5); write(2, 5); write(2, 5) // table_select = 2 everywhere
      write(0, 7); write(0, 2); write(1, 1)
    }
    for (_ <- 0 until 2) {
      // 4 table-2 pairs: code (1,1)=len6 cod 0x21? use (0,0)=len1 cod 1
      // and (1,1): from ISO table 2: hlen(0,0)=1 cod=1. Keep it simple:
      // 4 × (0,0) pairs = 4 single '1' bits, no signs (both zero).
      write(1, 1); write(1, 1); write(1, 1); write(1, 1)
      // then zero-fill the rest of part2_3 budget
      write(0, 36)
    }
    buf
  }

  test("mp3: truncation at every byte offset returns, never throws") {
    val frame = mp3Frame()
    assert(Mp3Spectra.decode(9L, frame).nonEmpty) // the base stream is live
    for (cut <- 0 until frame.length) {
      val pre = java.util.Arrays.copyOfRange(frame, 0, cut)
      neverThrows(s"mp3 cut=$cut")(Mp3Spectra.decode(9L, pre))
    }
  }

  test("mp3: byte-flip sweep returns, never throws") {
    val frame = mp3Frame()
    for (i <- frame.indices) {
      val mut = frame.clone()
      mut(i) = (mut(i) ^ 0xff).toByte
      neverThrows(s"mp3 flip=$i")(Mp3Spectra.decode(9L, mut))
    }
  }

  test("mp3: random byte streams with a forged sync word never throw") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 0 until 200) {
      val b = Array.fill(64 + rnd.nextInt(256))(rnd.nextInt(256).toByte)
      b(0) = 0xff.toByte; b(1) = 0xfb.toByte // force sync recognition
      neverThrows(s"mp3 rnd trial=$trial")(Mp3Spectra.decode(trial.toLong, b))
    }
  }

  // ------------------------------------------- parquet page-index structs

  /** A well-formed ColumnIndex blob (4 pages, LE INT64 bounds i·10 /
    * i·10+9, ASCENDING, zero null counts) — hand-written compact thrift. */
  private def columnIndexBlob(nPages: Int): Array[Byte] = {
    val w = new CompactWriter()
    w.field(1, 9) // null_pages: list<bool>
    w.out.write((nPages << 4) | 1)
    (0 until nPages).foreach(_ => w.out.write(2)) // all false
    def le8(v: Long): Unit =
      (0 until 8).foreach(b => w.out.write(((v >> (8 * b)) & 0xff).toInt))
    w.field(2, 9) // min_values: list<binary>
    w.out.write((nPages << 4) | 8)
    (0 until nPages).foreach { i => w.varint(8); le8(i * 10L) }
    w.field(3, 9) // max_values
    w.out.write((nPages << 4) | 8)
    (0 until nPages).foreach { i => w.varint(8); le8(i * 10L + 9) }
    w.field(4, 5); w.zig(1) // boundary_order ASCENDING
    w.field(5, 9) // null_counts: list<i64>
    w.out.write((nPages << 4) | 6)
    (0 until nPages).foreach(_ => w.zig(0))
    w.stop()
    w.out.toByteArray
  }

  /** A well-formed OffsetIndex blob: page i at byte 100+50i, 50 bytes,
    * first_row_index 100i. Nested structs written raw (CompactWriter's
    * field() tracks only top-level deltas). */
  private def offsetIndexBlob(nPages: Int): Array[Byte] = {
    val w = new CompactWriter()
    w.field(1, 9)
    w.out.write((nPages << 4) | 12)
    (0 until nPages).foreach { i =>
      w.out.write((1 << 4) | 6); w.zig(100L + i * 50) // offset
      w.out.write((1 << 4) | 5); w.zig(50L)           // compressed size
      w.out.write((1 << 4) | 6); w.zig(i * 100L)      // first_row_index
      w.out.write(0)                                  // struct stop
    }
    w.stop()
    w.out.toByteArray
  }

  test("parquet page index: well-formed blobs round-trip exactly") {
    val ci = ParquetFooter.parseColumnIndex(columnIndexBlob(4))
    assert(ci.isDefined, "ColumnIndex must parse")
    val (nulls, mins, maxs, bo, ncs) = ci.get
    assert(nulls == Seq(false, false, false, false))
    assert(mins.flatten == Seq(0L, 10L, 20L, 30L))
    assert(maxs.flatten == Seq(9L, 19L, 29L, 39L))
    assert(bo == 1 && ncs == Seq(0L, 0L, 0L, 0L))
    val oi = ParquetFooter.parseOffsetIndex(offsetIndexBlob(4))
    assert(oi.contains(Seq((100L, 50L, 0L), (150L, 50L, 100L),
      (200L, 50L, 200L), (250L, 50L, 300L))))
  }

  test("parquet page index: truncation at every byte offset returns, never throws") {
    val ci = columnIndexBlob(4)
    val oi = offsetIndexBlob(4)
    for (i <- 0 to ci.length)
      neverThrows(s"ci trunc=$i")(ParquetFooter.parseColumnIndex(ci.take(i)))
    for (i <- 0 to oi.length)
      neverThrows(s"oi trunc=$i")(ParquetFooter.parseOffsetIndex(oi.take(i)))
  }

  test("parquet page index: byte-flip sweep returns, never throws") {
    val ci = columnIndexBlob(4)
    val oi = offsetIndexBlob(4)
    for (i <- ci.indices) {
      val mut = ci.clone(); mut(i) = (mut(i) ^ 0xff).toByte
      neverThrows(s"ci flip=$i")(ParquetFooter.parseColumnIndex(mut))
    }
    for (i <- oi.indices) {
      val mut = oi.clone(); mut(i) = (mut(i) ^ 0xff).toByte
      neverThrows(s"oi flip=$i")(ParquetFooter.parseOffsetIndex(mut))
    }
  }

  test("parquet page index: negative offsets/sizes route to None, not facts") {
    // forge a PageLocation with offset −1: zigzag(-1) — the parser must
    // reject the whole struct rather than emit a negative byte range
    val w = new CompactWriter()
    w.field(1, 9)
    w.out.write((1 << 4) | 12)
    w.out.write((1 << 4) | 6); w.zig(-1L)
    w.out.write((1 << 4) | 5); w.zig(50L)
    w.out.write((1 << 4) | 6); w.zig(0L)
    w.out.write(0)
    w.stop()
    assert(ParquetFooter.parseOffsetIndex(w.out.toByteArray).isEmpty)
  }
}
