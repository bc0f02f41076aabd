package graft.sources

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{CRC32, Deflater, Inflater}

/** BGZF — blocked gzip: a series of standard gzip members, each
  * ≤64 KiB, carrying its own compressed size (BSIZE) in the gzip
  * FEXTRA field, terminated by a fixed 28-byte empty block. Every
  * block is independently decompressable and the BSIZE chain makes
  * the file SEEKABLE at block granularity, which is what turns an
  * unsplittable .gz into a splittable container — the reference's
  * core trick (BGZFCodec.java:54-101, BgzfBlockGuesser block
  * discovery; spec: the SAM/BAM v1 appendix, public domain).
  *
  * This object is the byte-level half: block framing for the writer,
  * header validation + chain walking for the reader, and the
  * exactly-once split line semantics. The Spark-facing halves live on
  * [[GraftStorage]] (`writeBgzfText` / `readBgzfLines`).
  */
object Bgzf {

  /** Fixed empty block marking EOF (SAM spec §4.1.2). */
  val EofMarker: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff,
    0x06, 0x00, 0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00).map(_.toByte)

  /** Max uncompressed payload per block: stays safely under the
    * 16-bit BSIZE ceiling even for incompressible input (deflate
    * worst case adds ~5 B per 16 KiB window + constants).
    */
  val MaxBlockInput: Int = 60 * 1024

  private val HeaderLen = 18 // 12 fixed + XLEN=6 ("BC" subfield)
  private val FooterLen = 8  // CRC32 + ISIZE

  /** Deflate level of every block: htsjdk's default
    * (`Defaults.COMPRESSION_LEVEL`), the level the reference writes
    * BGZF at. zlib's default 6 costs about twice the CPU for output
    * under 1% smaller.
    */
  val Level: Int = 5

  /** Frame one ≤MaxBlockInput chunk as a BGZF block. */
  def blockOf(data: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val deflater = new Deflater(Level, true)
    try blockWith(deflater, data, off, len) finally deflater.end()
  }

  /** [[blockOf]] through a caller-owned raw `deflater`, which is reset
    * first — one deflater serves a whole stream of blocks.
    */
  private def blockWith(deflater: Deflater, data: Array[Byte], off: Int,
      len: Int): Array[Byte] = {
    require(len <= MaxBlockInput, s"block input $len > $MaxBlockInput")
    deflater.reset()
    deflater.setInput(data, off, len)
    deflater.finish()
    val comp = new ByteArrayOutputStream(len / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) {
      val n = deflater.deflate(buf)
      comp.write(buf, 0, n)
    }
    val payload = comp.toByteArray
    val bsize = HeaderLen + payload.length + FooterLen
    require(bsize <= 65536, s"BGZF block overflow: $bsize")
    val crc = new CRC32
    crc.update(data, off, len)
    val out = new ByteArrayOutputStream(bsize)
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def u32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >> 8) & 0xff).toInt)
      out.write(((v >> 16) & 0xff).toInt); out.write(((v >> 24) & 0xff).toInt)
    }
    out.write(Array(0x1f, 0x8b, 0x08, 0x04).map(_.toByte)) // magic, CM, FEXTRA
    u32(0) // MTIME
    out.write(0) // XFL
    out.write(0xff) // OS = unknown
    u16(6) // XLEN
    out.write('B'); out.write('C'); u16(2); u16(bsize - 1)
    out.write(payload)
    u32(crc.getValue)
    u32(len.toLong)
    out.toByteArray
  }

  /** Streaming block writer: buffers input, emits full blocks, closes
    * with the EOF marker (or without, for terminator-less PARTS that a
    * single-file sink byte-concatenates — the reference's headerless
    * part trick, HeaderlessBamOutputFormat.java:111-130).
    *
    * Records every emitted block's (offset, size) so the caller can
    * persist a `_bgzi` block index at write time — the .gzi/.sbi
    * analogue that lets readers skip the per-block chain walk.
    */
  final class BlockWriter(out: OutputStream,
      blockInput: Int = MaxBlockInput) {
    require(blockInput > 0 && blockInput <= MaxBlockInput)
    private val buf = new Array[Byte](blockInput)
    private var n = 0
    private var written = 0L
    private val offs = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    private val deflater = new Deflater(Level, true)
    def write(bytes: Array[Byte]): Unit = {
      var off = 0
      while (off < bytes.length) {
        val take = math.min(blockInput - n, bytes.length - off)
        System.arraycopy(bytes, off, buf, n, take)
        n += take; off += take
        if (n == blockInput) flushBlock()
      }
    }
    private def flushBlock(): Unit = {
      if (n > 0) {
        val block = blockWith(deflater, buf, 0, n)
        offs += ((written, block.length))
        out.write(block)
        written += block.length
        n = 0
      }
    }
    def close(): Unit = close(writeEof = true)
    def close(writeEof: Boolean): Unit =
      try {
        flushBlock()
        if (writeEof) { out.write(EofMarker); written += EofMarker.length }
        out.close()
      } finally deflater.end()
    /** (offset, size) of every DATA block written (EOF marker
      * excluded), valid after close.
      */
    def blockIndex: Seq[(Long, Int)] = offs.toSeq
    /** Total bytes written including the EOF marker, after close. */
    def bytesWritten: Long = written
  }

  // ---- `_bgzi` sidecar: the write-time block index ----------------
  // Layout: "BGZI" magic, version byte, data-file length (validity
  // check — a rewritten data file invalidates a stale sidecar), block
  // count, then (offset: i64, size: i32) per block. KB-scale per GB
  // of data (one entry per ~64 KiB block).

  private val BgziMagic = Array[Byte]('B', 'G', 'Z', 'I')

  def writeBgziHeader(out: java.io.DataOutputStream, fileLen: Long,
      blockCount: Int): Unit = {
    out.write(BgziMagic)
    out.writeByte(1)
    out.writeLong(fileLen)
    out.writeInt(blockCount)
  }

  def writeBgzi(out: java.io.DataOutputStream, fileLen: Long,
      blocks: Seq[(Long, Int)]): Unit = {
    writeBgziHeader(out, fileLen, blocks.size)
    blocks.foreach { case (off, sz) =>
      out.writeLong(off); out.writeInt(sz)
    }
  }

  /** The block index of `file` from its `_bgzi` sidecar
    * (`<parent>/_bgzi/<name>.bgzi`), or None when there is none or it
    * does not record `fileLen`. The recorded length gates staleness:
    * a rewritten, foreign or torn file falls back to the chain walk,
    * so the sidecar can slow nothing down and never changes results.
    */
  def sidecarBlocks(file: org.apache.hadoop.fs.Path, fileLen: Long,
      conf: org.apache.hadoop.conf.Configuration): Option[Seq[(Long, Int)]] = {
    val si = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(file.getParent, "_bgzi"), file.getName + ".bgzi")
    try {
      val fs = si.getFileSystem(conf)
      if (!fs.exists(si)) None
      else {
        val in = fs.open(si)
        try readBgzi(in).collect { case (len, blocks) if len == fileLen => blocks }
        finally in.close()
      }
    } catch { case _: java.io.IOException => None }
  }

  /** None on any structural problem or version drift — callers fall
    * back to the chain walk, never fail a read over a sidecar.
    */
  def readBgzi(in: java.io.DataInput): Option[(Long, Seq[(Long, Int)])] =
    try {
      val m = new Array[Byte](4)
      in.readFully(m)
      if (!java.util.Arrays.equals(m, BgziMagic)) return None
      if (in.readByte() != 1) return None
      val fileLen = in.readLong()
      val n = in.readInt()
      // the count is UNTRUSTED sidecar bytes: bound it by what the
      // declared data length could even hold (one block ≥ 28 B) and
      // never pre-allocate from it — a garbage count must fall back
      // (EOF → IOException → None), not OOM the task
      if (n < 0 || n.toLong > fileLen / EofMarker.length + 1) return None
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      var i = 0
      while (i < n) { out += ((in.readLong(), in.readInt())); i += 1 }
      Some((fileLen, out.toSeq))
    } catch { case _: java.io.IOException => None }

  /** Parse one block header at the stream's current position; returns
    * (bsize, isize-less payload info) — specifically the full block
    * size. Throws on anything that is not a BGZF block: readers walk
    * the BSIZE chain from offset 0, so a bad header means a corrupt
    * or non-BGZF file, not a seek guess.
    */
  /** Returns (full block size, header length in bytes). The header
    * length is RETURNED, not assumed 18: a spec-valid foreign
    * producer may append extra FEXTRA subfields (XLEN > 6) and may
    * set FNAME/FCOMMENT/FHCRC (older bgzip front-ends do) — the
    * payload begins after ALL of those variable-length fields, so
    * this parser walks each one the gzip spec defines. FEXTRA with a
    * "BC" subfield remains mandatory (it IS the BGZF marker); a
    * member without it — plain gzip — is rejected, and sniffers then
    * route the file to the safe whole-file path instead of silently
    * mis-slicing it.
    */
  private def readHeader(in: java.io.DataInput): (Int, Int) = {
    val h = new Array[Byte](12)
    in.readFully(h)
    val flg = h(3) & 0xff
    require((h(0) & 0xff) == 0x1f && (h(1) & 0xff) == 0x8b &&
      (h(2) & 0xff) == 0x08,
      "not a BGZF block: bad gzip magic")
    require((flg & 0x04) != 0,
      "not a BGZF block: no FEXTRA (plain gzip member)")
    require((flg & 0xe0) == 0,
      "not a BGZF block: reserved FLG bits set")
    val xlen = ((h(10) & 0xff) | ((h(11) & 0xff) << 8))
    require(xlen >= 6, s"BGZF: XLEN $xlen < 6")
    // the BC subfield is first by convention (we always write it
    // first; htsjdk does too); tolerate leading subfields by scanning
    var bsize = -1
    val allExtra = new Array[Byte](xlen)
    in.readFully(allExtra)
    var p = 0
    while (p + 4 <= xlen && bsize < 0) {
      val si1 = allExtra(p) & 0xff
      val si2 = allExtra(p + 1) & 0xff
      val slen = (allExtra(p + 2) & 0xff) | ((allExtra(p + 3) & 0xff) << 8)
      if (si1 == 'B' && si2 == 'C' && slen == 2)
        bsize = ((allExtra(p + 4) & 0xff) | ((allExtra(p + 5) & 0xff) << 8)) + 1
      p += 4 + slen
    }
    require(bsize > 0, "BGZF: no BC subfield")
    var hdr = 12 + xlen
    // FNAME and FCOMMENT are null-terminated; bound the walk by the
    // declared block size so a corrupt member cannot spin past it
    def skipZString(what: String): Unit = {
      var b = in.readByte()
      hdr += 1
      while (b != 0) {
        require(hdr < bsize, s"BGZF: unterminated $what field")
        b = in.readByte(); hdr += 1
      }
    }
    if ((flg & 0x08) != 0) skipZString("FNAME")
    if ((flg & 0x10) != 0) skipZString("FCOMMENT")
    if ((flg & 0x02) != 0) { in.readShort(): Unit; hdr += 2 } // FHCRC
    require(hdr + FooterLen <= bsize,
      s"BGZF: header $hdr overruns declared block size $bsize")
    (bsize, hdr)
  }

  /** Content sniff: is the stream positioned at a BGZF block? BGZF is
    * valid gzip, so the EXTENSION cannot distinguish it — the
    * reference's BGZFEnhancedGzipCodec.java:63-102 makes the same
    * call by inspecting the first member's FEXTRA "BC" subfield.
    * Reads at most one header; any structural violation (plain gzip,
    * truncated file, not gzip at all) means "no".
    */
  def sniffBgzf(in: java.io.DataInput): Boolean =
    try { readHeader(in); true }
    catch { case _: java.io.IOException | _: IllegalArgumentException => false }

  /** Walk the BSIZE chain: offsets of every block in the file,
    * header-reads + seeks only (18 B per block — metadata-rate, the
    * same cost profile as the reference's .gzi/SBI index walk).
    * Excludes the EOF marker block.
    */
  def blockOffsets(in: org.apache.hadoop.fs.FSDataInputStream,
      fileLen: Long): Seq[(Long, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    var pos = 0L
    while (pos < fileLen) {
      in.seek(pos)
      val (bsize, _) = readHeader(in)
      if (pos + bsize >= fileLen && bsize == EofMarker.length) {
        // terminal empty block
        pos = fileLen
      } else {
        out += ((pos, bsize))
        pos += bsize
      }
    }
    out.toSeq
  }

  /** One split: consecutive blocks of one file. `end` is exclusive
    * and block-aligned; a block belongs to the split containing its
    * START.
    */
  final case class Split(file: String, start: Long, end: Long,
      fileLen: Long)

  /** Group a file's blocks into ~targetBytes splits. */
  def splitsOf(file: String, offsets: Seq[(Long, Int)], fileLen: Long,
      targetBytes: Long): Seq[Split] = {
    if (offsets.isEmpty) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[Split]
    var start = offsets.head._1
    var acc = 0L
    offsets.foreach { case (off, bsize) =>
      if (acc >= targetBytes) {
        out += Split(file, start, off, fileLen)
        start = off; acc = 0L
      }
      acc += bsize
    }
    out += Split(file, start, offsets.last._1 + offsets.last._2, fileLen)
    out.toSeq
  }

  /** Decompress one block whose header starts at `pos`; returns
    * (payload bytes — empty for EOF-marker blocks, which may appear
    * mid-stream when BGZF files are concatenated — and the full block
    * size for chain advancement).
    */
  private def inflateBlockAt(in: org.apache.hadoop.fs.FSDataInputStream,
      pos: Long): (Array[Byte], Int) = {
    in.seek(pos)
    val (bsize, headerLen) = readHeader(in)
    val payloadLen = bsize - headerLen - FooterLen
    val comp = new Array[Byte](payloadLen)
    in.readFully(comp)
    val footer = new Array[Byte](FooterLen)
    in.readFully(footer)
    val isize = (footer(4) & 0xff) | ((footer(5) & 0xff) << 8) |
      ((footer(6) & 0xff) << 16) | ((footer(7) & 0xff) << 24)
    if (isize == 0) return (Array.emptyByteArray, bsize)
    val inf = new Inflater(true)
    inf.setInput(comp)
    val out = new Array[Byte](isize)
    var done = 0
    while (done < isize && !inf.finished()) {
      val n = inf.inflate(out, done, isize - done)
      // inflate()==0 with finished()==false means the payload is
      // truncated/corrupt — fail, don't spin forever in the task
      require(n > 0,
        s"BGZF: truncated or corrupt deflate payload at offset $pos")
      done += n
    }
    inf.end()
    require(done == isize, s"BGZF: short inflate $done != $isize")
    (out, bsize)
  }

  /** The exactly-once split line semantics (classic Hadoop text-split
    * rules, stated explicitly because BGZF blocks are NOT
    * line-aligned):
    *
    *   - a split that starts the file emits from byte 0;
    *   - any other split SKIPS through the first newline of its own
    *     content — the skipped prefix is either the tail of a line
    *     owned by the previous split, or a whole line that previous
    *     split emitted as its extension line;
    *   - after its content is exhausted, a split that entered emit
    *     phase ALWAYS extends through the first newline of the
    *     continuation (following splits' blocks) — completing its
    *     final partial line, or emitting exactly the line the next
    *     split skips;
    *   - a split whose content contains no newline at all emits
    *     nothing (some earlier split's extension swallows it).
    *
    * Every line is emitted by exactly one split, for every placement
    * of line boundaries vs block/split boundaries (property-tested in
    * BgzfSpec across randomized layouts).
    */
  // Known bound, recorded honestly: the split's lines materialize in
  // one buffer before the iterator returns (O(split decompressed
  // bytes) task memory, ~3-5× the compressed split size). Safe at the
  // default split targets on warehouse executors; a lazily streaming
  // rewrite of the feed state machine is the fix if split targets
  // grow — the exactly-once property tests in BgzfSpec are the
  // contract any rewrite must keep.
  def linesForSplit(conf: org.apache.hadoop.conf.Configuration,
      split: Split): Iterator[String] = {
    val path = new org.apache.hadoop.fs.Path(split.file)
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    // a line's head from earlier blocks; lines inside one block decode
    // straight from their slice
    val pending = new ByteArrayOutputStream(256)
    var skipping = split.start > 0
    var emitted = false // entered emit phase

    def newlineFrom(chunk: Array[Byte], from: Int): Int = {
      var i = from
      while (i < chunk.length && chunk(i) != '\n') i += 1
      if (i < chunk.length) i else -1
    }

    def feed(chunk: Array[Byte], stopAtFirstNewlinePastContent: Boolean): Boolean = {
      // returns true when the caller should stop (extension newline hit)
      var from = 0
      if (skipping) {
        val nl = newlineFrom(chunk, 0)
        if (nl < 0) return false
        skipping = false
        emitted = true
        from = nl + 1
      }
      if (from < chunk.length) emitted = true
      var nl = newlineFrom(chunk, from)
      while (nl >= 0) {
        lines += (if (pending.size() == 0)
          new String(chunk, from, nl - from, StandardCharsets.UTF_8)
        else {
          pending.write(chunk, from, nl - from)
          val line = pending.toString(StandardCharsets.UTF_8)
          pending.reset()
          line
        })
        from = nl + 1
        if (stopAtFirstNewlinePastContent) return true
        nl = newlineFrom(chunk, from)
      }
      pending.write(chunk, from, chunk.length - from)
      false
    }

    try {
      // content phase: blocks starting in [start, end)
      var pos = split.start
      while (pos < split.end) {
        val (bytes, bsize) = inflateBlockAt(in, pos)
        feed(bytes, stopAtFirstNewlinePastContent = false)
        pos += bsize
      }
      // extension phase: a split that entered emit phase ALWAYS reads
      // the continuation through its first newline — completing its
      // final partial line, or (content ended clean at a newline)
      // emitting exactly the line the next split skips
      if (emitted && !skipping) {
        var stop = false
        var cpos = split.end
        while (!stop && cpos < split.fileLen) {
          val (bytes, bsize) = inflateBlockAt(in, cpos)
          stop = feed(bytes, stopAtFirstNewlinePastContent = true)
          cpos += bsize
        }
        if (!stop && pending.size() > 0) { // file end, no trailing \n
          lines += pending.toString(StandardCharsets.UTF_8)
        }
      }
    } finally in.close()
    lines.iterator
  }
}
