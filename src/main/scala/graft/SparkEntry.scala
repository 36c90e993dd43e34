package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.BabeOps._
import graft.operators.{Clustering, Grouping, Memoize, OnError, TimeParse, Transforms, TypeDetect, NearDedup}
import graft.functions.{Enrich, TextFunctions, VectorFunctions}
import graft.sinks.Sinks
import graft.sources.{Pull, Sources, SqlDump}

/** Driver contract — one registered query per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline operators), each with a DuckDB oracle
  * where ANSI SQL can express it. Column names are aligned between the Spark
  * result and the oracle; numeric outputs avoid engine-specific rounding
  * except where both engines provably agree.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Table scan spread across the cluster before a CPU-heavy per-row
    * kernel (regex scoring, hashing, decode): a single-file/single-row-
    * group table scans as ONE partition, serializing every narrow map
    * stacked on it on one core. `Tuning.spread` repartitions by `key`
    * only in that degenerate case — on an already-parallel scan (any
    * production-scale table) it is a verbatim no-op. Use ONLY for
    * kernel-bound queries: a repartition ahead of a plain aggregation
    * would add an exchange the aggregation's partial pass doesn't need.
    */
  private def tS(s: SparkSession, dir: String, name: String, key: String): DataFrame =
    graft.operators.Tuning.spread(t(s, dir, name), col(key))

  /** Start a streaming query with `n` shuffle partitions (default 8): a
    * stateful streaming query pins ONE state store per shuffle partition
    * for its whole life, and a session-wide 32 is pure init/commit
    * overhead for the bounded-sample parity gates (each micro-batch
    * creates, commits, and snapshots every store). The q193/q199 pattern,
    * shared. The session value is restored immediately after `.start()` —
    * a started stream keeps its own partitioning from its checkpoint.
    */
  private def startStreamFewParts[A](s: SparkSession, n: Int = 8)(start: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try start finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private val derbySeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Microsecond epoch axis for an event-time column, adaptive to the
    * lake's physical type: TIMESTAMP(MICROS) parquet surfaces as
    * TimestampType (`unix_micros`), legacy TIMESTAMP(NANOS) surfaces as
    * BIGINT nanos under spark.sql.legacy.parquet.nanosAsLong (exact
    * integer DIV — no float rounding). Real lakes contain both physical
    * types; the reference's schema model is equally dynamic
    * (/root/reference/pybabe/base.py:37-108), so the engine must not
    * assume one. DuckDB oracles stay on `epoch_us(ts)`, which is
    * type-stable on its side.
    */
  private def tsUs(df: DataFrame, field: String = "ts"): Column =
    df.schema(field).dataType match {
      case TimestampType => unix_micros(col(field))
      // isAdjustedToUTC=false parquet → NTZ; every session here pins the
      // session timezone to UTC, so the cast is the identity wall-clock
      // mapping DuckDB's epoch_us applies to naive timestamps.
      case TimestampNTZType => unix_micros(col(field).cast(TimestampType))
      case LongType         => expr(s"CAST($field DIV 1000 AS BIGINT)")
      case other => throw new IllegalArgumentException(
        s"unsupported event-time type for '$field': $other (expected TIMESTAMP or BIGINT nanos)")
    }

  /** Millisecond variant of [[tsUs]] (streaming queries feed
    * java.sql.Timestamp, whose resolution is ms). */
  private def tsMs(df: DataFrame, field: String = "ts"): Column =
    df.schema(field).dataType match {
      case TimestampType    => unix_millis(col(field))
      case TimestampNTZType => unix_millis(col(field).cast(TimestampType))
      case LongType         => expr(s"CAST($field DIV 1000000 AS BIGINT)")
      case other => throw new IllegalArgumentException(
        s"unsupported event-time type for '$field': $other (expected TIMESTAMP or BIGINT nanos)")
    }

  /** Scratch dir for memoize caches, media fixtures, and embedded-Derby
    * databases. Overridable via SPARK_GRAFT_TMP_DIR: the bench's
    * fork-isolated confirmation JVM points its child here at a sibling dir
    * so the child can never try to boot a Derby database the parent JVM
    * still holds open (embedded Derby keeps every db it ever booted locked
    * until JVM exit, and both processes count derbySeq from 0).
    */
  private def tmpDir(): String = {
    val d = sys.env.getOrElse("SPARK_GRAFT_TMP_DIR", "/root/repo/target/tmp")
    new java.io.File(d).mkdirs(); d
  }

  /** The shared HTML fixture shell for the extraction queries (q135, q138,
    * q139): entity-escapes `text`, wraps it in head/title/style/script
    * boilerplate, a quoted-`>` attribute, named + numeric entities, and a
    * comment. The expected extraction is `htmlExpectedOracleSql`'s formula
    * — change BOTH together or the three oracles diverge.
    */
  private def fixtureHtmlShell(docId: Column, text: Column): Column = {
    val esc = regexp_replace(regexp_replace(regexp_replace(
      text, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), docId,
      lit("</title><style>p { color: red; }</style>" +
        "<script>if (1 < 2) { var x = \"</p>\"; }</script></head>" +
        "<body><h1>Doc "), docId,
      lit("</h1><p id=\"b\" data-x=\"a>b\">"), esc,
      lit("</p><p>x &amp; y &lt;z&gt; &#65;&#x21;</p>" +
        "<!-- hidden --></body></html>"))
  }

  /** DuckDB rendering of Kernels.htmlToText's whitespace-canonicalization
    * chain applied to column/expression `c` — shared by every oracle that
    * replays the extraction (q135, q138, q139).
    */
  private def nrmChainSql(c: String): String =
    s"regexp_replace(regexp_replace(regexp_replace(regexp_replace($c, " +
      "'[ \\t\\r]+', ' ', 'g'), " +
      "' ?\\n ?', chr(10), 'g'), " +
      "'\\n+', chr(10), 'g'), " +
      "'^[\\n ]+|[\\n ]+$$', '', 'g')"

  /** Expected visible text of [[fixtureHtmlShell]] given the canonicalized
    * body in column `t` — the other half of the shared extraction formula.
    */
  private val htmlExpectedTextSql: String =
    "'Doc ' || doc_id || chr(10) || 'Doc ' || doc_id || chr(10) || " +
      "CASE WHEN t = '' THEN '' ELSE t || chr(10) END || 'x & y <z> A!'"

  /** Expected extraction of [[fixtureHtmlShell]] computed straight from
    * `documents.text` — the shared q135/q139 oracle.
    */
  private lazy val htmlExpectedOracleSql: String =
    s"WITH nrm AS (SELECT doc_id, ${nrmChainSql("text")} AS t FROM documents) " +
      s"SELECT doc_id, $htmlExpectedTextSql AS text_out FROM nrm"

  // -- deterministic media fixtures for q73 (values chosen so the real
  //    parsers produce exact binary fractions: hist bin 0.5, RMS 0.5) --
  /** 18×16 24-bit gradient BMP for the dHash queries: gray value = x·14
    * (18 columns → 9 exact 2-px dHash cells, 16 rows → 8 exact 2-px rows),
    * so cell means are strictly increasing in c and every dHash bit
    * derives from the spec, not from running the code: base/brightness-
    * shifted → all 64 bits set (-1), inverted → 0, `dip` zeroes pixels
    * (x ∈ {8,9}, y ∈ {0,1}) = exactly grid cell (0,4), flipping only bit
    * r=0,c=3 → -1 ^ 8 = -9.
    */
  private def fixtureGradientBmp(shift: Int = 0, invert: Boolean = false,
                                 dip: Boolean = false): Array[Byte] = {
    val w = 18; val h = 16
    val stride = ((w * 3 + 3) / 4) * 4 // 54: no row padding at w=18
    val out = new Array[Byte](54 + stride * h)
    def le32(i: Int, v: Int): Unit = { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
      out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte }
    def le16(i: Int, v: Int): Unit = { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte }
    out(0) = 'B'; out(1) = 'M'; le32(2, out.length); le32(10, 54)
    le32(14, 40); le32(18, w); le32(22, h); le16(26, 1); le16(28, 24); le32(34, stride * h)
    for (y <- 0 until h; x <- 0 until w) {
      val base = if (invert) (17 - x) * 14 else x * 14
      val v = if (dip && y < 2 && (x == 8 || x == 9)) 0
              else math.min(255, math.max(0, base + shift))
      val o = 54 + (h - 1 - y) * stride + x * 3
      out(o) = v.toByte; out(o + 1) = v.toByte; out(o + 2) = v.toByte
    }
    out
  }
  private def fixtureBmp(): Array[Byte] = {
    val w = 8; val h = 8
    val stride = ((w * 3 + 3) / 4) * 4
    val out = new Array[Byte](54 + stride * h)
    def le32(i: Int, v: Int): Unit = { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
      out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte }
    def le16(i: Int, v: Int): Unit = { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte }
    out(0) = 'B'; out(1) = 'M'; le32(2, out.length); le32(10, 54)
    le32(14, 40); le32(18, w); le32(22, h); le16(26, 1); le16(28, 24); le32(34, stride * h)
    for (y <- 0 until h; x <- 0 until w; if x >= w / 2) {
      val o = 54 + (h - 1 - y) * stride + x * 3
      out(o) = -1; out(o + 1) = -1; out(o + 2) = -1 // right half white
    }
    out
  }
  /** Grayscale 8×8 PNG, left half black / right half white (luminance bin 0
    * exactly 0.5, like the BMP fixture) — but each scanline is written with
    * a DIFFERENT filter type (None/Sub/Up/Average/Paeth), so the oracle row
    * only matches if the decoder inverts every RFC 2083 filter correctly.
    */
  private def fixturePng(): Array[Byte] = {
    val w = 8; val h = 8
    def gray(x: Int): Int = if (x >= w / 2) 255 else 0
    def paeth(a: Int, up: Int, c: Int): Int = {
      val p = a + up - c
      val pa = math.abs(p - a); val pb = math.abs(p - up); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
    }
    val filters = Array(0, 1, 2, 3, 4, 2, 1, 4)
    val raw = new Array[Byte]((w + 1) * h)
    for (y <- 0 until h) {
      raw(y * (w + 1)) = filters(y).toByte
      for (x <- 0 until w) {
        val g = gray(x)
        val a = if (x > 0) gray(x - 1) else 0
        val up = if (y > 0) gray(x) else 0
        val c = if (x > 0 && y > 0) gray(x - 1) else 0
        val v = filters(y) match {
          case 0 => g
          case 1 => g - a
          case 2 => g - up
          case 3 => g - ((a + up) >> 1)
          case 4 => g - paeth(a, up, c)
        }
        raw(y * (w + 1) + 1 + x) = (v & 0xFF).toByte
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1024)
    while (!defl.finished()) zout.write(buf, 0, defl.deflate(buf))
    defl.end()
    def be32(v: Int): Array[Byte] = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def chunk(typ: String, payload: Array[Byte]): Array[Byte] = {
      val tb = typ.getBytes("ISO-8859-1")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(payload)
      be32(payload.length) ++ tb ++ payload ++ be32(crc.getValue.toInt)
    }
    val sig = Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    val ihdr = be32(w) ++ be32(h) ++ Array[Byte](8, 0, 0, 0, 0)
    sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", zout.toByteArray) ++
      chunk("IEND", Array.empty[Byte])
  }

  /** Grayscale 16×8 baseline JPEG (two DC-only 8×8 MCUs: left pixels 0,
    * right pixels 128 — luminance bin 0 exactly 0.5) hand-built from ITU
    * T.81 with a flat all-ones quant table and trivial huffman tables (DC:
    * twelve 4-bit codes for categories 0–11; AC: a single 1-bit EOB), so
    * the oracle row only matches if the decoder's canonical-huffman entropy
    * decode, EXTEND sign logic, dequantization, and IDCT are all exact.
    */
  private def fixtureJpeg(): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def wr(bytes: Int*): Unit = bytes.foreach(v => out.write(v & 0xFF))
    wr(0xFF, 0xD8)                                            // SOI
    wr(0xFF, 0xDB, 0x00, 0x43, 0x00)                          // DQT tq=0, 8-bit
    (0 until 64).foreach(_ => wr(1))                          // flat: dequant is identity
    wr(0xFF, 0xC0, 0x00, 0x0B, 8, 0x00, 0x08, 0x00, 0x10, 1, 1, 0x11, 0) // SOF0 h=8 w=16 gray
    wr(0xFF, 0xC4, 0x00, 0x1F, 0x00)                          // DHT DC class0 id0
    wr(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)      // 12 codes of length 4
    (0 to 11).foreach(v => wr(v))                             // categories 0..11
    wr(0xFF, 0xC4, 0x00, 0x14, 0x10)                          // DHT AC class1 id0
    wr(1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)       // one code of length 1
    wr(0x00)                                                  // symbol 0x00 = EOB
    wr(0xFF, 0xDA, 0x00, 0x08, 1, 1, 0x00, 0, 63, 0)          // SOS
    // MCU1: DC cat11 '1011' + (-1024 → 01111111111) + EOB '0';
    // MCU2: DC cat11 '1011' + (+1024 → 10000000000) + EOB '0'  = 32 bits
    wr(0xB7, 0xFE, 0xB8, 0x00)
    wr(0xFF, 0xD9)                                            // EOI
    out.toByteArray
  }

  /** The same 16×8 two-block gray image as [[fixtureJpeg]], but PROGRESSIVE
    * (SOF2) across three scans — DC first at successive-approximation level
    * 1, a DC refinement scan, then an AC band scan of pure EOBs — so the
    * multi-scan coefficient accumulation path is on the oracle gate.
    */
  private def fixtureJpegProgressive(): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def wr(bytes: Int*): Unit = bytes.foreach(v => out.write(v & 0xFF))
    wr(0xFF, 0xD8)
    wr(0xFF, 0xDB, 0x00, 0x43, 0x00)
    (0 until 64).foreach(_ => wr(1))
    wr(0xFF, 0xC2, 0x00, 0x0B, 8, 0x00, 0x08, 0x00, 0x10, 1, 1, 0x11, 0) // SOF2 h=8 w=16
    wr(0xFF, 0xC4, 0x00, 0x1F, 0x00)
    wr(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    (0 to 11).foreach(v => wr(v))
    wr(0xFF, 0xC4, 0x00, 0x14, 0x10)
    wr(1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    wr(0x00)
    // scan 1 — DC first, Al=1: -512 (cat 10 '1010' + '0111111111'), then
    // diff +512 ('1010' + '1000000000'); 28 bits, 1-padded
    wr(0xFF, 0xDA, 0x00, 0x08, 1, 1, 0x00, 0, 0, 0x01)
    wr(0xA7, 0xFE, 0xA0, 0x0F)
    // scan 2 — DC refinement, Al=0: one zero bit per block
    wr(0xFF, 0xDA, 0x00, 0x08, 1, 1, 0x00, 0, 0, 0x10)
    wr(0x3F)
    // scan 3 — AC band 1..63: EOB ('0') per block
    wr(0xFF, 0xDA, 0x00, 0x08, 1, 1, 0x00, 1, 63, 0x00)
    wr(0x3F)
    wr(0xFF, 0xD9)
    out.toByteArray
  }

  /** 8×8 GIF89a, left half black / right half white (luminance bin 0
    * exactly 0.5, like the other image fixtures), 4-entry palette, LZW
    * stream written clear-per-pixel (a valid stream per GIF89a appendix F)
    * so the decoder's variable-width code reader and CLEAR handling are
    * both on the oracle path.
    */
  private def fixtureGif(): Array[Byte] = {
    val w = 8; val h = 8
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("ISO-8859-1"))
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    le16(w); le16(h)
    out.write(0xF1); out.write(0); out.write(0)               // GCT flag, 4 entries
    out.write(Array[Byte](0, 0, 0, -1, -1, -1, 127, 127, 127, 127, 127, 127))
    out.write(0x2C); le16(0); le16(0); le16(w); le16(h); out.write(0)
    out.write(2)                                              // LZW min code size
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0; var accBits = 0
    def put(code: Int): Unit = {                              // 3-bit codes, LSB-first
      acc |= code << accBits; accBits += 3
      while (accBits >= 8) { bits.write(acc & 0xFF); acc >>= 8; accBits -= 8 }
    }
    for (x <- 0 until w * h) { put(4); put(if (x % w < 4) 0 else 1) } // CLEAR px …
    put(5)                                                    // END
    if (accBits > 0) bits.write(acc & 0xFF)
    val lzw = bits.toByteArray
    out.write(lzw.length); out.write(lzw, 0, lzw.length); out.write(0)
    out.write(0x3B)
    out.toByteArray
  }

  /** 16-bit PCM WAV whose samples are CONSTANT per 100-sample window, one
    * window per entry of `amps` — window energy is 100·amp², so every
    * audio-fingerprint bit derives from the amplitude sequence by
    * construction (strictly ascending amps → all 64 bits set, descending
    * → 0, a single zeroed window k flips exactly bit k−1).
    */
  private def fixtureEnvelopeWav(amps: Seq[Int]): Array[Byte] = {
    val rate = 8000; val n = amps.length * 100
    val out = new Array[Byte](44 + n * 2)
    def tag(i: Int, s: String): Unit = (0 until 4).foreach(k => out(i + k) = s(k).toByte)
    def le32(i: Int, v: Int): Unit = { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
      out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte }
    def le16(i: Int, v: Int): Unit = { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte }
    tag(0, "RIFF"); le32(4, 36 + n * 2); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, 1); le32(24, rate)
    le32(28, rate * 2); le16(32, 2); le16(34, 16)
    tag(36, "data"); le32(40, n * 2)
    for (w <- amps.indices; s <- 0 until 100) {
      val i = 44 + (w * 100 + s) * 2
      out(i) = amps(w).toByte; out(i + 1) = (amps(w) >> 8).toByte
    }
    out
  }
  private def fixtureWav(): Array[Byte] = {
    val rate = 8000; val n = 8000
    val out = new Array[Byte](44 + n * 2)
    def tag(i: Int, s: String): Unit = (0 until 4).foreach(k => out(i + k) = s(k).toByte)
    def le32(i: Int, v: Int): Unit = { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
      out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte }
    def le16(i: Int, v: Int): Unit = { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte }
    tag(0, "RIFF"); le32(4, 36 + n * 2); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, 1); le32(24, rate)
    le32(28, rate * 2); le16(32, 2); le16(34, 16)
    tag(36, "data"); le32(40, n * 2)
    (0 until n).foreach { i => out(44 + i * 2) = 0; out(45 + i * 2) = 0x40 } // 16384
    out
  }
  /** 25 MPEG1 Layer III frames (64 kbps, 32 kHz, mono, 288 bytes each)
    * behind a 20-byte ID3v2 tag: the frame walk must skip the tag, chain
    * sync words and sum exact per-frame durations — 25 × 1152/32000 s =
    * 900 ms exactly.
    */
  private def fixtureMp3(): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0, 20))
    (0 until 20).foreach(_ => out.write(0))
    for (_ <- 0 until 25) {
      // FF FB: sync + MPEG1 Layer III; 58: bitrate idx 5 (64k) rate idx 2
      // (32000) no pad; C0: mono. 144*64000/32000 = 288 bytes.
      out.write(0xFF); out.write(0xFB); out.write(0x58); out.write(0xC0)
      (4 until 288).foreach(_ => out.write(0x11))
    }
    out.toByteArray
  }
  /** Bit-built FLAC: 48 kHz stereo 16-bit, 96000 total samples → 2000 ms,
    * with REAL frames (not just STREAMINFO): 21 constant frames, one LPC
    * frame, one FIXED+Rice2 frame, and a short mid/side tail frame — every
    * subframe family the decoder implements, all samples ±16384 so the
    * full-stream RMS is exactly 0.5 (the oracle-checked PCM feature).
    * Header CRC-8 (poly 0x07) and frame CRC-16 (poly 0x8005) are computed
    * for real, so any spec-conforming decoder accepts the file.
    */
  private[graft] def fixtureFlac(): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("ISO-8859-1"))
    out.write(Array[Byte](0x80.toByte, 0, 0, 34))            // last block, type 0, len 34
    val si = new Array[Byte](34)
    si(0) = 0x10; si(2) = 0x10                               // min/max block 4096
    si(10) = 0x0B; si(11) = 0xB8.toByte; si(12) = 0x02       // rate 48000, 2 ch
    si(13) = 0xF0.toByte                                     // 16 bps, total>>32 = 0
    si(14) = 0x00; si(15) = 0x01; si(16) = 0x77; si(17) = 0x00 // total 96000
    out.write(si)
    // MSB-first bit writer for one frame
    final class W {
      val bb = new java.io.ByteArrayOutputStream()
      private var cur = 0; private var cnt = 0
      def put(v: Long, n: Int): Unit = {
        var i = n - 1
        while (i >= 0) {
          cur = (cur << 1) | ((v >> i) & 1L).toInt; cnt += 1
          if (cnt == 8) { bb.write(cur); cur = 0; cnt = 0 }
          i -= 1
        }
      }
      def align(): Unit = if (cnt > 0) put(0, 8 - cnt)
      def bytes: Array[Byte] = { align(); bb.toByteArray }
    }
    def crc8(bs: Array[Byte]): Int = {
      var c = 0
      bs.foreach { x =>
        c ^= x & 0xFF
        (0 until 8).foreach(_ => c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xFF else (c << 1) & 0xFF)
      }
      c
    }
    def crc16(bs: Array[Byte]): Int = {
      var c = 0
      bs.foreach { x =>
        c ^= (x & 0xFF) << 8
        (0 until 8).foreach(_ => c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xFFFF else (c << 1) & 0xFFFF)
      }
      c
    }
    val A = 16384
    def sq(i: Int): Int = if (i % 2 == 0) A else -A
    // square-wave order-1 residual stream under Rice2 (param 16): warmup
    // s0, then deltas ±32768 — zigzag 65536/65535, quotient 1/0
    def rice2Order1(w: W, n: Int, bps: Int): Unit = {
      w.put(0, 1); w.put(9, 6); w.put(0, 1)                  // pad, FIXED order 1, no wasted
      w.put(sq(0).toLong & ((1L << bps) - 1), bps)           // warmup s0
      w.put(1, 2); w.put(0, 4); w.put(16, 5)                 // method 01, po 0, param 16
      (1 until n).foreach { i =>
        val u = { val v = sq(i) - sq(i - 1); if (v >= 0) 2L * v else -2L * v - 1 }
        val q = (u >> 16).toInt
        w.put(0, q); w.put(1, 1)                             // unary quotient
        w.put(u & 0xFFFF, 16)
      }
    }
    def constant(w: W, v: Int, bps: Int): Unit = {
      w.put(0, 8)                                            // pad, CONSTANT, no wasted
      w.put(v.toLong & ((1L << bps) - 1), bps)
    }
    def lpcOrder1(w: W, n: Int, bps: Int): Unit = {
      w.put(0, 1); w.put(32, 6); w.put(0, 1)                 // pad, LPC order 1, no wasted
      w.put(sq(0).toLong & ((1L << bps) - 1), bps)           // warmup
      w.put(4, 4)                                            // precision 5 (precM1=4)
      w.put(0, 5)                                            // shift 0
      w.put(1, 5)                                            // coeff c0 = 1
      w.put(1, 2); w.put(0, 4); w.put(16, 5)                 // Rice2 residuals as above
      (1 until n).foreach { i =>
        val u = { val v = sq(i) - sq(i - 1); if (v >= 0) 2L * v else -2L * v - 1 }
        w.put(0, (u >> 16).toInt); w.put(1, 1); w.put(u & 0xFFFF, 16)
      }
    }
    def frame(idx: Int, blockSize: Int, chAssign: Int)(body: W => Unit): Unit = {
      val w = new W
      w.put(0xFFF8L, 16)                                     // sync + fixed blocksize
      val bsCode = blockSize match {
        case 4096 => 12
        case n    => require(n - 1 <= 0xFFFF); 7             // 16-bit at end
      }
      w.put(bsCode.toLong, 4); w.put(0, 4)                   // rate: STREAMINFO
      w.put(chAssign.toLong, 4); w.put(4, 3); w.put(0, 1)    // 16-bit, reserved
      w.put(idx.toLong, 8)                                   // UTF-8 frame number (<128)
      if (bsCode == 7) w.put((blockSize - 1).toLong, 16)
      val hdr = w.bytes                                      // aligned: header is whole bytes
      val w2 = new W
      body(w2)
      val payload = w2.bytes
      val frameBytes = hdr ++ Array(crc8(hdr).toByte) ++ payload
      out.write(frameBytes)
      val c = crc16(frameBytes)
      out.write((c >> 8) & 0xFF); out.write(c & 0xFF)
    }
    // frames 0..20: independent stereo, both channels CONSTANT ±A
    (0 until 21).foreach { f =>
      frame(f, 4096, chAssign = 1) { w =>
        constant(w, if (f % 2 == 0) A else -A, 16)
        constant(w, if (f % 2 == 0) A else -A, 16)
      }
    }
    // frame 21: LPC order-1 square, both channels
    frame(21, 4096, chAssign = 1) { w => lpcOrder1(w, 4096, 16); lpcOrder1(w, 4096, 16) }
    // frame 22: FIXED order-1 + Rice2 square, both channels
    frame(22, 4096, chAssign = 1) { w => rice2Order1(w, 4096, 16); rice2Order1(w, 4096, 16) }
    // frame 23: mid/side tail (1792 samples): l = r = square ⇒ mid = square
    // (FIXED+Rice2), side = 0 (CONSTANT over 17 bits)
    frame(23, 1792, chAssign = 10) { w => rice2Order1(w, 1792, 16); constant(w, 0, 17) }
    out.toByteArray
  }
  /** Two Ogg pages: Vorbis id header (16 kHz mono) + an EOS page with
    * granule position 8000 → 500 ms.
    */
  private def fixtureOgg(): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def page(typ: Int, granule: Long, seq: Int, payload: Array[Byte]): Unit = {
      out.write("OggS".getBytes("ISO-8859-1")); out.write(0); out.write(typ)
      (0 until 8).foreach(k => out.write(((granule >> (8 * k)) & 0xFF).toInt))
      (0 until 4).foreach(_ => out.write(0x42))              // serial
      (0 until 4).foreach(k => out.write((seq >> (8 * k)) & 0xFF))
      (0 until 4).foreach(_ => out.write(0))                 // crc (not verified)
      out.write(1); out.write(payload.length)                // one segment
      out.write(payload)
    }
    val id = new java.io.ByteArrayOutputStream()
    id.write(1); id.write("vorbis".getBytes("ISO-8859-1"))
    (0 until 4).foreach(_ => id.write(0))                    // version
    id.write(1)                                              // channels
    id.write(Array[Byte](0x80.toByte, 0x3E, 0, 0))           // rate 16000 le32
    (0 until 12).foreach(_ => id.write(0))                   // bitrates
    id.write(0x66); id.write(1)                              // blocksizes, framing
    page(0x02, 0L, 0, id.toByteArray)
    page(0x04, 8000L, 1, Array[Byte](0))
    out.toByteArray
  }
  /** One second of G.711 at 8 kHz: a constant companded byte whose exact
    * expansion is known (μ-law 0x80 → +32124, A-law 0xAA → +32256), so the
    * RMS envelope is the exact binary fraction value/32768.
    */
  private def fixtureG711Wav(alaw: Boolean): Array[Byte] = {
    val rate = 8000; val n = 8000
    val out = new Array[Byte](44 + n)
    def tag(i: Int, s: String): Unit = (0 until 4).foreach(k => out(i + k) = s(k).toByte)
    def le32(i: Int, v: Int): Unit = { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
      out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte }
    def le16(i: Int, v: Int): Unit = { out(i) = v.toByte; out(i + 1) = (v >> 8).toByte }
    tag(0, "RIFF"); le32(4, 36 + n); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16); le16(20, if (alaw) 6 else 7); le16(22, 1)
    le32(24, rate); le32(28, rate); le16(32, 1); le16(34, 8)
    tag(36, "data"); le32(40, n)
    java.util.Arrays.fill(out, 44, 44 + n, (if (alaw) 0xAA else 0x80).toByte)
    out
  }
  private def fixtureMp4(): Array[Byte] = {
    def be32(v: Int): Array[Byte] = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32(8 + payload.length) ++ typ.getBytes("ISO-8859-1") ++ payload
    val hdlr = box("hdlr", be32(0) ++ be32(0) ++ "vide".getBytes("ISO-8859-1") ++ new Array[Byte](12))
    val stts = box("stts", be32(0) ++ be32(1) ++ be32(30) ++ be32(1000))
    // mvhd v0: timescale 1000 ticks/s, duration 1234 ticks → 1234 ms
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++ be32(1234))
    box("ftyp", "isom0000".getBytes("ISO-8859-1")) ++
      box("moov", mvhd ++ box("trak", box("mdia", hdlr) ++ box("minf", box("stbl", stts))))
  }
  /** AVI with 48 frames at 40000 µs/frame → 1920 ms. */
  private def fixtureAvi(): Array[Byte] = {
    val avih = new Array[Byte](64)
    def le32(o: Int, v: Int): Unit = { avih(o) = v.toByte; avih(o + 1) = (v >> 8).toByte
      avih(o + 2) = (v >> 16).toByte; avih(o + 3) = (v >> 24).toByte }
    "avih".getBytes("ISO-8859-1").copyToArray(avih)
    // avih payload layout: dwMicroSecPerFrame@0, dwTotalFrames@16
    le32(4, 56); le32(8, 40000); le32(24, 48)   // size, µs/frame, dwTotalFrames
    val hdrl = "hdrl".getBytes("ISO-8859-1") ++ avih
    val list = "LIST".getBytes("ISO-8859-1") ++
      Array[Byte](hdrl.length.toByte, 0, 0, 0) ++ hdrl
    val out = new java.io.ByteArrayOutputStream()
    out.write("RIFF".getBytes("ISO-8859-1"))
    val total = 4 + list.length
    out.write(total & 0xFF); out.write((total >> 8) & 0xFF)
    out.write((total >> 16) & 0xFF); out.write((total >> 24) & 0xFF)
    out.write("AVI ".getBytes("ISO-8859-1")); out.write(list)
    out.toByteArray
  }
  /** WebM (Matroska) with Info Duration 1500.0 ticks at the default
    * 1 ms TimestampScale → 1500 ms.
    */
  private def fixtureWebm(): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def wr(bytes: Int*): Unit = bytes.foreach(v => out.write(v & 0xFF))
    wr(0x1A, 0x45, 0xDF, 0xA3, 0x80)                       // EBML header, empty
    wr(0x18, 0x53, 0x80, 0x67, 0x94)                       // Segment, size 20
    wr(0x15, 0x49, 0xA9, 0x66, 0x8F)                       // Info, size 15
    wr(0x2A, 0xD7, 0xB1, 0x84, 0x00, 0x0F, 0x42, 0x40)     // TimestampScale 1e6 ns
    wr(0x44, 0x89, 0x84, 0x44, 0xBB, 0x80, 0x00)           // Duration f32 1500.0
    out.toByteArray
  }

  /** Flagship query (driver smoke-checks rows>0 at sf0.001): revenue per
    * nation — lineitem ⋈ orders ⋈ customer ⋈ nation with broadcast dims,
    * partial-agg groupBy. The classic star-join shape this engine exists for.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = t(spark, dir, "lineitem")
      .withColumn("revenue", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    // Scale shapes: lineitem⋈orders and orders⋈customer are fact-to-fact
    // shuffle joins (co-partitioned on the join keys by the exchange);
    // only nation — a true dimension — is broadcast.
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(cast_double_sum(col("revenue")).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc)
  }

  /** Exact distributive sum for doubles with 2-4 decimal digits: sum in
    * decimal (order-independent, exact), surface as double.
    */
  private def cast_double_sum(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast(DoubleType)

  // Lexicon literals for the DuckDB oracles, generated from the same source
  // of truth the Spark expressions use.
  private lazy val lexValuesSql: String = TextFunctions.lexicons.toSeq.sortBy(_._1)
    .map { case (l, ws) => s"('$l', [${ws.map(w => s"'$w'").mkString(", ")}])" }
    .mkString(", ")
  private lazy val stopListSql: String = TextFunctions.lexicons.values.flatten.toSeq
    .distinct.sorted.map(w => s"'$w'").mkString("[", ", ", "]")

  private val uaRows = Seq(
    (1L, "Mozilla/5.0 (Windows NT 5.1; rv:11.0) Gecko/20100101 Firefox/11.0"),
    (2L, "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36"),
    (3L, "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Mobile/15E148 Safari/604.1"),
    (4L, "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91"),
    (5L, "Mozilla/5.0 (compatible; MSIE 10.0; Windows NT 6.1; Trident/6.0)"),
    (6L, "curl/8.4.0"))

  private val geoRows = Seq(
    ("Flo", "82.231.177.189"), ("Fla", "4.3.1.432"), ("G", "8.8.8.8"),
    ("Uk", "92.40.1.1"), ("Bad", "300.1.2.3"), ("Jp", "133.7.8.9"))

  private val sqlDumpText =
    "CREATE TABLE BLABLA;\n" +
      "INSERT INTO `foobar` VALUES (11,435787,'Yes\\r\\nI\\'m good.','2011-07-03 12:15:44')," +
      "(13,242393,'Foo','Bar');\n" +
      "MORE BLABLA;\n"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------------------------------
    // Projections / column ops (SURVEY §2.3)
    // ------------------------------------------------------------------
    "q01_filter_columns" -> ((s, d) =>
      t(s, d, "lineitem").filterColumns(keep = Seq("l_orderkey", "l_linenumber", "l_quantity"))),
    "q02_rename" -> ((s, d) =>
      t(s, d, "lineitem").filterColumns(keep = Seq("l_orderkey", "l_quantity"))
        .renameColumns("l_orderkey" -> "orderkey", "l_quantity" -> "qty")),
    "q03_map_insert" -> ((s, d) =>
      t(s, d, "lineitem")
        .mapToInsert("revenue" -> (col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .filterColumns(keep = Seq("l_orderkey", "l_linenumber", "revenue"))),
    "q04_replace_value" -> ((s, d) =>
      t(s, d, "documents").filterColumns(keep = Seq("doc_id", "lang"))
        .replaceValue("en", "english", fields = Seq("lang"))),
    "q05_replace_in_string" -> ((s, d) =>
      t(s, d, "documents").filterColumns(keep = Seq("doc_id", "text"))
        .replaceInString("the", "THE", "text")),
    "q06_insert_rows" -> ((s, d) =>
      t(s, d, "region").insertRows(Seq(Row(5, "NOWHERE")))),

    // ------------------------------------------------------------------
    // Filters (SURVEY §2.4)
    // ------------------------------------------------------------------
    "q07_filter_values" -> ((s, d) =>
      t(s, d, "orders").filterColumns(keep = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))
        .filterValues("o_orderstatus" -> "F")),
    "q08_filter_out_null" -> ((s, d) =>
      t(s, d, "events").filterColumns(keep = Seq("event_id", "value"))
        .mapToInsert("val2" -> when(col("value") < 50.0, lit(null).cast(DoubleType)).otherwise(col("value")))
        .filterOutNullValues(Seq("val2"))
        .filterColumns(keep = Seq("event_id", "val2"))),
    "q09_filter_regexp" -> ((s, d) =>
      t(s, d, "part").filterColumns(keep = Seq("p_partkey", "p_name"))
        .filterByRegexp("p_name", "b")),
    "q10_dedup" -> ((s, d) =>
      t(s, d, "customer").filterColumns(keep = Seq("c_nationkey", "c_mktsegment")).dedup()),
    "q11_dedup_fields" -> ((s, d) =>
      t(s, d, "orders").filterColumns(keep = Seq("o_custkey", "o_orderkey", "o_totalprice"))
        .dedupByFields(Seq("o_custkey"), col("o_orderkey"))),

    // ------------------------------------------------------------------
    // Sorts / limits / top-k (SURVEY §2.8)
    // ------------------------------------------------------------------
    "q12_head" -> ((s, d) =>
      t(s, d, "orders").filterColumns(keep = Seq("o_orderkey", "o_totalprice"))
        .headBabe(10, Seq(col("o_orderkey")))),
    "q13_skip" -> ((s, d) =>
      t(s, d, "orders").filterColumns(keep = Seq("o_orderkey", "o_totalprice"))
        .skipBabe(100, Seq(col("o_orderkey")))),
    "q14_maxn" -> ((s, d) =>
      t(s, d, "orders").filterColumns(keep = Seq("o_orderkey", "o_totalprice"))
        .maxN("o_totalprice", 10, Seq(col("o_orderkey")))),
    "q15_minn" -> ((s, d) =>
      t(s, d, "orders").filterColumns(keep = Seq("o_orderkey", "o_totalprice"))
        .minN("o_totalprice", 10, Seq(col("o_orderkey")))),
    "q16_head_per_partition" -> ((s, d) =>
      t(s, d, "events").filterColumns(keep = Seq("user_id", "event_id", "value"))
        .headPerPartition(3, Seq("user_id"), Seq(col("value").desc, col("event_id")))),

    // ------------------------------------------------------------------
    // Join (SURVEY §2.5) — 4 on_error modes
    // ------------------------------------------------------------------
    "q17_join_warn" -> ((s, d) =>
      t(s, d, "customer").filterColumns(keep = Seq("c_custkey", "c_name", "c_nationkey"))
        .joinBabe(t(s, d, "nation"), "c_nationkey", "n_nationkey", OnError.Warn)),
    "q18_join_nullpad" -> ((s, d) =>
      t(s, d, "customer").filterColumns(keep = Seq("c_custkey", "c_name", "c_nationkey"))
        .joinBabe(t(s, d, "nation").filter(col("n_regionkey") < 2),
          "c_nationkey", "n_nationkey", OnError.NullPad)),

    // ------------------------------------------------------------------
    // Aggregation (SURVEY §2.6)
    // ------------------------------------------------------------------
    "q19_group" -> ((s, d) =>
      Grouping.group(t(s, d, "lineitem"), Seq("l_returnflag"),
        "sum_qty" -> cast_double_sum(col("l_quantity")),
        "cnt" -> count(lit(1)))),
    "q20_group_all" -> ((s, d) =>
      Grouping.groupAll(t(s, d, "orders"),
        "max_price" -> max(col("o_totalprice")),
        "min_price" -> min(col("o_totalprice")),
        "cnt" -> count(lit(1)))),
    "q21_group_reduce" -> ((s, d) => {
      val in = t(s, d, "lineitem").select(col("l_returnflag"), col("l_quantity"))
      val outSchema = StructType(Seq(
        StructField("l_returnflag", StringType), StructField("n", LongType),
        StructField("sum_qty", DoubleType)))
      Grouping.groupReduce(in, Seq("l_returnflag"), outSchema) { (k, it) =>
        var n = 0L
        var sum = BigDecimal(0)
        it.foreach { r => n += 1; sum += BigDecimal(java.math.BigDecimal.valueOf(r.getDouble(1))) }
        Seq(Row(k.getString(0), n, sum.toDouble))
      }
    }),

    // ------------------------------------------------------------------
    // Reshaping (SURVEY §2.3/§2.6)
    // ------------------------------------------------------------------
    "q22_pivot" -> ((s, d) =>
      t(s, d, "events").filterColumns(keep = Seq("user_id", "event_type", "event_id", "value"))
        .pivotBabe(Seq("user_id"), "event_type", col("event_id"), Seq("value"))),
    "q23_unpivot" -> ((s, d) =>
      t(s, d, "lineitem")
        .filterColumns(keep = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"))
        .unpivotBabe(Seq("l_orderkey", "l_linenumber"), Seq("l_quantity", "l_discount", "l_tax"))),
    "q24_transpose" -> ((s, d) =>
      t(s, d, "region").transposeBabe("r_regionkey")),
    "q25_split" -> ((s, d) =>
      t(s, d, "documents").filterColumns(keep = Seq("doc_id", "text"))
        .splitField("text", " ")),

    // ------------------------------------------------------------------
    // Window (SURVEY §2.7)
    // ------------------------------------------------------------------
    "q26_window_by" -> ((s, d) =>
      t(s, d, "events").filterColumns(keep = Seq("user_id", "event_id", "value"))
        .windowMapBy(3, Seq("user_id"), Seq(col("event_id")),
          "rsum" -> (w => sum(col("value")).over(w)))),
    "q27_window_global" -> ((s, d) =>
      t(s, d, "nation").filterColumns(keep = Seq("n_nationkey"))
        .windowMap(3, Seq(col("n_nationkey")),
          "rsum" -> (w => sum(col("n_nationkey").cast(LongType)).over(w)))),

    // ------------------------------------------------------------------
    // Set ops / concat (SURVEY §2.9)
    // ------------------------------------------------------------------
    "q28_concat" -> ((s, d) => {
      val li = t(s, d, "lineitem").filterColumns(keep = Seq("l_orderkey", "l_linenumber", "l_quantity"))
      Sources.concat(Seq(li.filter(col("l_quantity") < 5.0), li.filter(col("l_quantity") >= 45.0)))
    }),

    // ------------------------------------------------------------------
    // Typing / schema inference (SURVEY §1.2, §2.6)
    // ------------------------------------------------------------------
    "q29_typedetect" -> ((s, d) => {
      val strings = tS(s, d, "lineitem", "l_orderkey").select(
        col("l_orderkey").cast(StringType).as("okey"),
        col("l_quantity").cast(StringType).as("qty"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("sdate"),
        col("l_returnflag").as("flag"))
      TypeDetect(strings)
    }),
    "q30_pk_detect" -> ((s, d) => {
      import s.implicits._
      val pk = TypeDetect.primaryKeyDetect(
        t(s, d, "orders").select(col("o_orderstatus"), col("o_orderkey"), col("o_custkey")))
      Seq(pk.getOrElse("none")).toDF("pk_col")
    }),
    "q31_parse_time" -> ((s, d) => {
      // tsUs adapts to the lake's physical ts type (micros timestamp vs
      // legacy nanos-as-long) in exact integer arithmetic.
      val ev = t(s, d, "events")
      val in = ev.select(col("event_id"),
        date_format(timestamp_micros(tsUs(ev)), "yyyy-MM-dd HH:mm:ss").as("st"))
      TimeParse(in, "st", inputTimezone = "CET", outputTimezone = "UTC", outputField = "t")
        .select(col("event_id"), date_format(col("t_time"), "yyyy-MM-dd HH:mm:ss").as("t_str"),
          col("t_date"), col("t_hour"))
    }),

    // ------------------------------------------------------------------
    // UDTF / batched UDF surface (SURVEY §2.12)
    // ------------------------------------------------------------------
    "q32_flatmap" -> ((s, d) => {
      val in = t(s, d, "events").select(col("event_id"), col("value"))
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("v", DoubleType)))
      Transforms.flatMapRows(in, schema) { r =>
        Seq(Row(r.getLong(0), r.getDouble(1)), Row(r.getLong(0), -r.getDouble(1)))
      }
    }),
    "q33_bulkmap" -> ((s, d) => {
      val in = t(s, d, "events").select(col("event_id"), col("value"))
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("v2", DoubleType)))
      Transforms.bulkMap(in, schema, bulkSize = 100) { batch =>
        batch.map(r => Row(r.getLong(0), r.getDouble(1) * 2.0))
      }
    }),

    // ------------------------------------------------------------------
    // Sources / sinks (SURVEY §2.1, §2.2)
    // ------------------------------------------------------------------
    "q34_sqldump" -> ((s, d) => {
      val path = tmpDir() + "/dump.sql"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sqlDumpText)
      SqlDump.read(s, path, "foobar", Seq("id", "number", "title", "datetime"))
    }),
    "q35_zip_csv" -> ((s, d) => {
      val path = tmpDir() + "/test.csv.zip"
      val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
      zos.putNextEntry(new java.util.zip.ZipEntry("data.csv"))
      zos.write("a,b\n1,2\n3,4\n".getBytes("UTF-8"))
      zos.closeEntry(); zos.close()
      Pull(s, path)
    }),
    "q36_push_roundtrip" -> ((s, d) => {
      val out = tmpDir() + s"/roundtrip_csv"
      val top = t(s, d, "orders").filterColumns(keep = Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
        .maxN("o_totalprice", 5, Seq(col("o_orderkey")))
      Sinks.push(top, out, format = Some("csv"))
      Sources.csv(s, out, delimiter = Some(","))
        .filterColumns(keep = Seq("o_orderkey", "o_orderstatus"))
    }),
    "q37_memoize" -> ((s, d) => {
      val agg = Grouping.group(t(s, d, "lineitem"), Seq("l_returnflag"), "cnt" -> count(lit(1)))
      Memoize.memoize(agg, tmpDir() + "/memo")
    }),

    // ------------------------------------------------------------------
    // Enrichment (SURVEY §2.10)
    // ------------------------------------------------------------------
    "q38_user_agent" -> ((s, d) => {
      import s.implicits._
      Enrich.userAgent(uaRows.toDF("id", "useragent"), "useragent")
    }),
    "q39_geoip" -> ((s, d) => {
      import s.implicits._
      Enrich.geoipCountryCode(geoRows.toDF("name", "ip"), "ip")
        .filterColumns(keep = Seq("name", "ip", "country_code"))
    }),

    // ------------------------------------------------------------------
    // LLM-pipeline: text analysis
    // ------------------------------------------------------------------
    "q40_wordcount" -> ((s, d) => {
      val words = t(s, d, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("word"))
      Grouping.group(words, Seq("word"), "cnt" -> count(lit(1)))
        .maxN("cnt", 20, Seq(col("word")))
    }),
    "q41_text_stats" -> ((s, d) =>
      tS(s, d, "documents", "doc_id").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        TextFunctions.punctRatio(col("text")).as("punct_ratio"),
        TextFunctions.meanWordLength(col("text")).as("mean_word_len"),
        TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"))),
    "q42_lang_id" -> ((s, d) =>
      tS(s, d, "documents", "doc_id").select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_id"))),
    "q43_quality_score" -> ((s, d) =>
      tS(s, d, "documents", "doc_id").select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("score"))),
    "q44_subword_count" -> ((s, d) =>
      tS(s, d, "documents", "doc_id").select(col("doc_id"),
        TextFunctions.subwordCount(col("text")).cast(LongType).as("n_subwords"))),

    // ------------------------------------------------------------------
    // LLM-pipeline: dedup
    // ------------------------------------------------------------------
    "q45_exact_dedup" -> ((s, d) => {
      // documents has no exact dups, so inject copies (doc_id+100000) to
      // make the dedup path non-trivial; exactDedup keeps the min-id rep.
      val docs = t(s, d, "documents")
      val dups = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 100000L)
      NearDedup.exactDedupMd5(docs.unionByName(dups), "doc_id", "text")
        .filterColumns(keep = Seq("doc_id", "lang", "source", "n_chars"))
    }),
    "q46_ngram_jaccard" -> ((s, d) =>
      // Exact-jaccard baseline via explode + join-on-shingle (linear
      // shuffles, no cartesian). The slice stays bounded only because the
      // DuckDB oracle replays it with an all-pairs cross join.
      NearDedup.ngramJaccardPairs(
        t(s, d, "documents").filter(col("doc_id") < 600), "doc_id", "text",
        shingleSize = 3, threshold = 0.5)),
    "q47_minhash_pairs" -> ((s, d) =>
      NearDedup.minhashPairs(t(s, d, "documents"), "doc_id", "text",
        shingleSize = 3, numPerms = 32, bands = 8, threshold = 0.7)),
    "q48_minhash_dedup" -> ((s, d) =>
      NearDedup.minhashDedup(t(s, d, "documents"), "doc_id", "text")
        .filterColumns(keep = Seq("doc_id", "lang", "source"))),
    "q49_simhash_pairs" -> ((s, d) =>
      NearDedup.simhashPairs(t(s, d, "documents"), "doc_id", "text", maxHamming = 3)),

    // ------------------------------------------------------------------
    // LLM-pipeline: similarity search
    // ------------------------------------------------------------------
    "q50_cosine_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("embedding"))
      VectorFunctions.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
    }),
    "q51_lsh_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("embedding"))
      // bits/tables validated by RecallSpec: recall@5 >= 0.8 vs q50's brute
      // force even on this near-orthogonal noise corpus (the LSH worst case)
      VectorFunctions.lshTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        dim = 64, k = 5, bits = 4, tables = 16)
    }),
    "q52_ivf_topk" -> ((s, d) => {
      // nProbe validated by RecallSpec: recall@5 >= 0.8 vs q50 on raw noise
      val emb = t(s, d, "embeddings")
      VectorFunctions.ivfTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nCentroids = 32, nProbe = 20)
    }),
    "q53_cosine_neardup" -> ((s, d) => {
      // embeddings has no near-identical pairs, so inject exact copies
      // (vec_id+100000): sign-LSH must bucket them together (identical
      // signatures in every table), making this a recall check too.
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("embedding"))
      val dups = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 100000L)
      VectorFunctions.cosineNearDupPairs(emb.unionByName(dups), "vec_id", "embedding", dim = 64,
        threshold = 0.95, bits = 8, tables = 4)
    }),

    // ------------------------------------------------------------------
    // Nested flattening + event-log parsing (SURVEY §2.1 twitter/kontagent)
    // ------------------------------------------------------------------
    "q54_flatten_json" -> ((s, d) => {
      import s.implicits._
      val df = s.read.json(Seq(
        """{"id":1,"author":{"name":"flo","geo":{"lat":48.8}}}""",
        """{"id":2,"author":{"name":"dou","geo":{"lat":51.5}}}""").toDS())
      graft.operators.Nested.flatten(df)
    }),
    "q55_eventlog_parse" -> ((s, d) => {
      import s.implicits._
      val lines = Seq("s=123&st=1346806200&n=hello%20world", "s=124&st=1&n=x").toDF("line")
      val parsed = lines.select(graft.sources.EventLogs.parseQueryStringDecoded(col("line")).as("m"))
      graft.sources.EventLogs.extractEventColumns(parsed, "m",
        Seq("s" -> LongType, "st" -> LongType, "n" -> StringType)).drop("m")
    }),
    "q56_window_global_twopass" -> ((s, d) =>
      t(s, d, "orders").filterColumns(keep = Seq("o_orderkey", "o_totalprice"))
        .windowMapGlobal(5, col("o_orderkey"),
          "rsum" -> (w => sum(col("o_totalprice")).over(w)))),
    "q57_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
      graft.operators.Joins.asofJoin(views, purchases, "user_id", "ts", "ts",
        Seq("purchase_value")).drop("ts")
    }),
    "q58_range_join" -> ((s, d) => {
      import s.implicits._
      val bands = Seq((0L, 50L, "low"), (50L, 120L, "mid"), (120L, 1000L, "high"))
        .toDF("s", "e", "band")
      graft.operators.Joins.rangeJoin(
        t(s, d, "events").select(col("event_id"), col("value")),
        "value", bands, "s", "e", bucketWidth = 50L)
        .select("event_id", "value", "band")
    }),
    "q59_salted_agg" -> ((s, d) =>
      // salted two-phase rollup must equal the plain groupBy (decimal-exact
      // sums make the assertion order-independent)
      graft.operators.Skew.saltedAggregate(t(s, d, "lineitem"), Seq("l_returnflag"), 16,
        partials = Seq(
          "sum_qty" -> sum(col("l_quantity").cast(DecimalType(18, 2))),
          "cnt" -> count(lit(1))),
        merges = Seq(
          "sum_qty" -> (n => sum(col(n))),
          "cnt" -> (n => sum(col(n)))))
        .select(col("l_returnflag"), col("sum_qty").cast(DoubleType).as("sum_qty"),
          col("cnt").cast(LongType).as("cnt"))),
    "q60_distinct_agg" -> ((s, d) =>
      Grouping.group(t(s, d, "orders"), Seq("o_orderstatus"),
        "n_cust" -> count_distinct(col("o_custkey")),
        "n_orders" -> count(lit(1)))),

    // ------------------------------------------------------------------
    // Deterministic recall gates for the hash-seeded approximate paths:
    // inject EXACT copies (id + 100000) and restrict the output to the
    // injected pairs. Identical content guarantees identical signatures in
    // every band/table/cell, so the approximate operator MUST surface every
    // injected pair — making the result deterministic and SQL-oracle-able
    // even though the machinery (minhash banding, simhash chunks, sign-LSH,
    // IVF cells) is the same code the full-result queries exercise.
    // ------------------------------------------------------------------
    "q61_minhash_exact_recall" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dups = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 100000L)
      NearDedup.minhashPairs(docs.unionByName(dups), "doc_id", "text",
        shingleSize = 3, numPerms = 32, bands = 8, threshold = 0.7)
        .filter(col("id_b") === col("id_a") + 100000L)
    }),
    "q62_simhash_exact_recall" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dups = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 100000L)
      NearDedup.simhashPairs(docs.unionByName(dups), "doc_id", "text", maxHamming = 3)
        .filter(col("id_b") === col("id_a") + 100000L)
    }),
    "q63_lsh_self_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("embedding"))
      val dups = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 100000L)
      VectorFunctions.lshTopK(emb.unionByName(dups), emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", dim = 64, k = 1, bits = 8, tables = 4)
        .filter(col("neighbor_id") === col("query_id") + 100000L)
    }),
    "q64_ivf_self_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("embedding"))
      val dups = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 100000L)
      VectorFunctions.ivfTopK(emb.unionByName(dups), emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 1, nCentroids = 32, nProbe = 8)
        .filter(col("neighbor_id") === col("query_id") + 100000L)
    }),
    "q65_mongo_dump" -> ((s, d) => {
      import s.implicits._
      graft.sources.Mongo.pullMongoDumpLines(Seq(
        """{"_id":{"$oid":"507f1f77bcf86cd799439011"},"rown":{"$numberLong":"1"},"f":4.3,"s":"coucou"}""",
        """{"_id":{"$oid":"507f1f77bcf86cd799439012"},"rown":{"$numberLong":"2"},"f":4.2,"s":"salut"}""").toDS())
    }),
    "q66_repetition" -> ((s, d) => {
      // Gopher/C4 repetition quality signals via the one-pass native kernel
      // (HOF-parity asserted in ExpressionsSpec); lines synthesized from the
      // flat text so the line-dup paths are non-trivially exercised
      val lined = TextFunctions.repetitionStats(
        regexp_replace(col("text"), "\\. ", ".\n"), 2)
      val flat = TextFunctions.repetitionStats(col("text"), 2)
      tS(s, d, "documents", "doc_id").select(
        col("doc_id"),
        element_at(lined, 1).as("dup_line_frac"),
        element_at(lined, 2).as("dup_char_frac"),
        element_at(flat, 3).as("top2gram_frac"))
    }),
    "q68_sessionize_batch" -> ((s, d) => {
      // 30-minute gap; microsecond time axis (tsUs is type-adaptive, and
      // DuckDB's epoch_us compares at micros on its side)
      val ev = t(s, d, "events")
      graft.operators.Sessionize.sessions(
        ev.select(col("user_id"), tsUs(ev).as("ts_us")),
        "user_id", "ts_us", 1800L * 1000 * 1000)
    }),
    "q72_top_terms" -> ((s, d) =>
      TextFunctions.topTermsWithDf(tS(s, d, "documents", "doc_id"), "doc_id", "text", 3)),
    "q73_media_decode" -> ((s, d) => {
      // real parsers over deterministic fixtures: BMP pixels (hist bin
      // exactly 0.5), PNG pixels through inflate + all five scanline
      // filters (hist bin exactly 0.5), baseline-JPEG pixels through the
      // huffman+IDCT path (hist bin exactly 0.5), GIF pixels through the
      // LZW path (hist bin exactly 0.5), PCM WAV (RMS exactly 0.5), G.711
      // μ-law/A-law expansion (exact known RMS), MP3 frame walk through an
      // ID3v2 tag (25 frames, 900 ms), FLAC PAYLOAD decode — 24 real
      // frames through constant/LPC/fixed+Rice2/mid-side subframes, RMS
      // exactly 0.5, 2000 ms — Ogg
      // granules (500 ms), MP4 stts + mvhd (30 frames, 1234 ms), AVI avih
      // (48 frames, 1920 ms), WebM Info duration (1500 ms)
      val dir = tmpDir() + "/media_q73"
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/img.bmp"), fixtureBmp())
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/img.png"), fixturePng())
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/img.jpg"), fixtureJpeg())
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/img.gif"), fixtureGif())
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/img2.jpg"), fixtureJpegProgressive())
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/sound.wav"), fixtureWav())
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/ulaw.wav"), fixtureG711Wav(alaw = false))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/alaw.wav"), fixtureG711Wav(alaw = true))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/sound.mp3"), fixtureMp3())
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/sound.flac"), fixtureFlac())
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/sound.ogg"), fixtureOgg())
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/clip.mp4"), fixtureMp4())
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/clip.avi"), fixtureAvi())
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/clip.webm"), fixtureWebm())
      val media = graft.operators.Multimodal.readMedia(s, s"$dir/*")
      graft.operators.Multimodal.decode(media).select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
        col("media_type"), col("width"), col("height"), col("n_frames"),
        col("sample_rate"), col("duration_ms"),
        when(col("media_type") === "video", lit(0.0d))
          .otherwise(element_at(col("feature"), 1).cast(DoubleType)).as("f0"))
    }),
    "q71_funnel" -> ((s, d) => {
      // product-analytics funnel: steps completed in order per user
      val ev = t(s, d, "events")
      graft.operators.Funnel.funnelSteps(
        ev.select(col("user_id"), tsUs(ev).as("ts_us"), col("event_type")),
        "user_id", "ts_us", "event_type", Seq("view", "click", "purchase"))
    }),
    "q69_set_ops" -> ((s, d) => {
      // §2.9: INTERSECT / EXCEPT extensions over the reference's
      // union-only surface (distinct semantics, like SQL)
      val a = t(s, d, "orders").filter(col("o_orderkey") < 2000).select("o_custkey")
      val b = t(s, d, "orders").filter(col("o_orderkey") >= 1000).select("o_custkey")
      a.intersect(b).withColumn("op", lit("both"))
        .unionByName(a.except(b).withColumn("op", lit("only_low")))
    }),
    "q70_corpus_clean" -> ((s, d) => {
      // composite C4-style cleaning pipeline: language filter -> quality
      // floor -> repetition cap -> exact dedup -> PII redaction; every
      // stage individually oracle-verified (q42/q43/q66/q45/q67)
      val docs = tS(s, d, "documents", "doc_id")
      // Materialize the scored relation: the keep-filter below would
      // otherwise be PUSHED beneath the spread exchange (PushDownPredicate
      // substitutes the score aliases), re-serializing the whole regex
      // battery onto the single scan split — the filter-only columns made
      // the pushed filter the sole (serial) evaluation site. The
      // checkpoint pins scoring above the exchange: parallel, and exactly
      // once per doc.
      val scored = docs.select(col("doc_id"), col("text"),
        TextFunctions.langId(col("text")).as("lang_id"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        element_at(TextFunctions.repetitionStats(
          regexp_replace(col("text"), "\\. ", ".\n"), 2), 1).as("dlf"))
        .localCheckpoint()
      val kept = scored
        .filter(col("lang_id") === "en" && col("quality") >= 0.5 && col("dlf") <= 0.3)
      NearDedup.exactDedupMd5(kept, "doc_id", "text")
        .select(col("doc_id"), TextFunctions.redactPii(col("text")).as("clean_text"))
    }),
    "q67_redact_pii" -> ((s, d) =>
      // inject PII shapes so every row exercises all three redactions
      tS(s, d, "documents", "doc_id").select(
        col("doc_id"),
        TextFunctions.redactPii(concat(col("text"),
          lit(" contact bob@example.com at 10.1.2.3 or +12025550123 now")))
          .as("clean"))),
    "q74_cc_components" -> ((s, d) => {
      // transitive near-dup clusters: exact-jaccard pairs -> min-label CC;
      // the slice is bounded only because the oracle replays the pair
      // relation with a recursive CTE
      val pairs = NearDedup.ngramJaccardPairs(
        t(s, d, "documents").filter(col("doc_id") < 600), "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      Clustering.connectedComponents(pairs).select(col("id"), col("comp"))
    }),
    "q75_cc_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("doc_id") < 600)
      val pairs = NearDedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      Clustering.dedupByComponents(docs, "doc_id", pairs)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),
    "q76_heavy_hitters" -> ((s, d) => {
      // exact top-20 corpus tokens via MG candidates + exact recount; the
      // full token vocabulary never reaches a shuffle
      val toks = t(s, d, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .filter(length(col("term")) > 0)
      graft.operators.Sketches.topKExact(toks, col("term"), k = 20, capacity = 1024)
        .select(col("item").as("term"), col("cnt"), col("exact_guaranteed"))
    }),
    "q77_salted_join" -> ((s, d) => {
      // salted fact-dim join must equal the plain inner join; salt spread
      // is a deterministic hash of the fact row id (reproducible results)
      val li = t(s, d, "lineitem")
      val sup = t(s, d, "supplier").select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.operators.Skew.saltedJoin(li, sup, "l_suppkey", col("l_orderkey"), salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
          count(lit(1)).as("cnt"))
    }),
    "q78_quantiles" -> ((s, d) =>
      // exact interpolated percentiles (the correctness anchor; at 100 TB
      // the same call sites take percentile_approx — contract-tested in
      // SketchesSpec against this exact path)
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(percentile(col("l_quantity"), lit(0.5)).as("p50"),
          percentile(col("l_quantity"), lit(0.95)).as("p95"),
          count(lit(1)).as("cnt"))),
    "q79_partition_reload" -> ((s, d) => {
      // write partitioned by lang, then dynamic-overwrite ONLY the 'en'
      // partition with reprocessed rows; other partitions must survive
      val out = tmpDir() + "/q79_part"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      Sinks.push(docs, out, Some("parquet"), partitionBy = Seq("lang"))
      val reload = docs.filter(col("lang") === "en")
        .withColumn("n_chars", lit(-1L))
      Sinks.pushPartitionReload(reload, out, Seq("lang"), Some("parquet"))
      s.read.parquet(out).select(col("doc_id"), col("lang"), col("n_chars"))
    }),
    "q80_decontaminate" -> ((s, d) => {
      // benchmark decontamination: docs 0-4 stand in for the eval set; any
      // doc sharing a word-5-gram with them (including themselves) is out
      val docs = tS(s, d, "documents", "doc_id")
      graft.operators.Contamination.decontaminate(
        docs, "doc_id", "text", docs.filter(col("doc_id") < 5), "text", n = 5)
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    "q81_line_filter" -> ((s, d) =>
      // C4-style boilerplate-line filter; the synthetic corpus has no
      // punctuation, so inject per-row keep/drop lines (q67's pattern):
      // the raw text line and 'nav' must drop, the two sentences survive
      tS(s, d, "documents", "doc_id").select(col("doc_id"),
        TextFunctions.cleanLines(concat_ws("\n",
          col("text"),
          lit("This synthetic doc ends properly."),
          lit("nav"),
          concat(lit("Total chars "), col("n_chars").cast(StringType), lit(" counted."))),
          minWords = 3).as("clean"))
        .filter(length(col("clean")) > 0)),
    "q82_sequence_pack" -> ((s, d) =>
      // GPT-style contiguous packing: per-source token stream chopped into
      // 512-token training sequences; each doc tagged with where it starts
      graft.operators.Packing.packSequences(
        t(s, d, "documents").select(col("doc_id"), col("source"), col("text")),
        shardCol = "source", orderCol = "doc_id",
        tokens = TextFunctions.tokenCount(col("text")), budget = 512)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("seq_id"), col("seq_offset"))),
    "q83_quantize_int8" -> ((s, d) => {
      // symmetric int8 vector quantization (4x memory for ~1e-2 cosine
      // error); first 4 lanes exploded so the oracle compares scalars
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          VectorFunctions.int8Scale(col("embedding")).as("sc"))
      e.select(col("vec_id"),
        posexplode(slice(VectorFunctions.int8Quantize(col("embedding"), col("sc")), 1, 4)))
        .toDF("vec_id", "pos", "q")
    }),
    "q84_asof_forward" -> ((s, d) => {
      // forward as-of: each view matched to the EARLIEST purchase at or
      // after it (same join-free one-shuffle plan on a negated axis)
      val ev = t(s, d, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
      graft.operators.Joins.asofJoin(views, purchases, "user_id", "ts", "ts",
        Seq("purchase_value"), direction = "forward").drop("ts")
    }),
    "q85_txt_roundtrip" -> ((s, d) => {
      // txt sink + pull: whole line <-> single text column (§2.1/2.2)
      val out = tmpDir() + "/roundtrip_txt"
      import s.implicits._
      Sinks.push(Seq("first line", "second line", "third line").toDF("text"),
        out, format = Some("txt"))
      Pull(s, out + "/part*.txt").orderBy("text")
    }),
    "q86_xlsx_roundtrip" -> ((s, d) => {
      // xlsx write + read (§2.1/2.2): values survive the OOXML roundtrip
      // as strings (xlsx read is schema-less by design, like the reference)
      val out = tmpDir() + "/roundtrip.xlsx"
      import s.implicits._
      graft.sinks.Xlsx.write(
        Seq((1L, "alpha", 1.5), (2L, "beta", 2.0)).toDF("id", "name", "score"), out)
      graft.sinks.Xlsx.read(s, out)
    }),
    "q87_mojibake" -> ((s, d) => {
      // charset repair (§2.10): UTF-8 read as latin-1 -> re-encoded back;
      // expected outputs stated independently in the oracle
      import s.implicits._
      Seq(("cafÃ©", 1L), ("naÃ¯ve", 2L), ("already clean", 3L))
        .toDF("broken", "id")
        .select(col("id"), TextFunctions.fixMojibake(col("broken")).as("fixed"))
    }),
    "q88_jdbc_roundtrip" -> ((s, d) => {
      // real JDBC engine (embedded Derby from the Spark jars): DDL ->
      // insert -> idempotent partition delete+reload -> read back (§2.1/2.2
      // pull_sql/push_sql; the reference's test_sql.py shape)
      import s.implicits._
      // unique db per invocation: embedded Derby keeps a database BOOTED
      // for the JVM's life, so re-running against a deleted-then-recreated
      // directory fails — the bench's min-of-2 protocol hit exactly that
      val base = tmpDir() + s"/q88_derby_${derbySeq.incrementAndGet()}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val url = s"jdbc:derby:$base/db;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        st.execute(graft.sources.Jdbc.createTableDdl("events88", Seq("day", "k", "v")))
        st.close()
      } finally conn.close()
      val day1 = Seq(("2024-01-01", "a", "1"), ("2024-01-01", "b", "2")).toDF("day", "k", "v")
      val day2 = Seq(("2024-01-02", "c", "3")).toDF("day", "k", "v")
      graft.sources.Jdbc.pushSql(day1, url, "events88")
      graft.sources.Jdbc.pushSql(day2, url, "events88")
      graft.sources.Jdbc.pushSql(day1, url, "events88",
        deletePartition = Some(Map("day" -> "2024-01-01")))
      graft.sources.Jdbc.pullSql(s, url, "events88")
    }),
    "q89_http_pull" -> ((s, d) => {
      // protocol-http pull through a loopback server (zero egress): the
      // spool is eager, so the server stops before the frame returns
      val server = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      val body = "a,b\n7,x\n8,y\n".getBytes("UTF-8")
      server.createContext("/data.csv", (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.getResponseHeaders.set("Content-Type", "text/csv")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
        ex.close()
      })
      server.start()
      try graft.sources.Protocols.pull(s,
        s"http://127.0.0.1:${server.getAddress.getPort}/data.csv")
      finally server.stop(0)
    }),
    "q90_lm_quality" -> ((s, d) => {
      // CCNet-style statistical quality: mean corpus frequency of each
      // doc's char trigrams (integer-exact aggregates, one final division).
      // Train/serve split like q132: the corpus-global gram table is built
      // once per sf dir ("offline" per corpus snapshot) and every scoring
      // pass reuses it — the serve side is ONE narrow compiled scan.
      val docs = tS(s, d, "documents", "doc_id")
      val table = gramTables.getOrElseUpdate(d,
        TextFunctions.buildGramTable(docs, "text"))
      TextFunctions.corpusFrequencyScoreWith(docs, "doc_id", "text", table)
    }),
    "q91_profile" -> ((s, d) =>
      // per-column profile; string/long columns only — double/timestamp
      // min/max string renderings diverge between engines, oracle skips them
      graft.operators.Profile.profile(t(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))),
    "q92_quantized_topk" -> ((s, d) => {
      // the memory-bound ANN path, oracle-replayed end to end: int8 rank ->
      // exact rescore (deterministic arithmetic, so DuckDB reproduces it)
      val emb = t(s, d, "embeddings")
      VectorFunctions.quantizedTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, rescoreFactor = 4)
    }),
    "q93_minhash_portable" -> ((s, d) =>
      // the FULL LSH pipeline on its portable md5 hash basis: hashing,
      // seeded permutations, banding, candidate join, and jaccard verify
      // are all replayed bit-for-bit by the DuckDB oracle. The same
      // pipeline as q47, kept under both names for the bench history.
      NearDedup.minhashPairs(t(s, d, "documents"), "doc_id", "text")),
    "q94_simhash_portable" -> ((s, d) =>
      // 60-bit majority-vote signatures over md5 token hashes, chunk
      // buckets under the window cap and the Hamming verify, all replayed
      // by the oracle. The same pipeline as q49, kept under both names for
      // the bench history.
      NearDedup.simhashPairs(t(s, d, "documents"), "doc_id", "text")),
    "q95_lsh_portable" -> ((s, d) =>
      // sign-LSH bucketed embedding near-dup on shared plane literals —
      // signatures, bucket pairs, and cosine verify all oracle-replayed
      VectorFunctions.cosineNearDupPairs(t(s, d, "embeddings"),
        "vec_id", "embedding", dim = 64, threshold = 0.25, bits = 6)),
    "q97_dup_spans" -> ((s, d) =>
      // span-level duplication stats (Lee et al. 2022 shape): per doc, how
      // many word-8-grams also occur in other docs, and the longest
      // consecutive duplicated run
      graft.operators.SpanDedup.spanStats(t(s, d, "documents"),
        "doc_id", "text", n = 8)),
    "q98_hash_split" -> ((s, d) =>
      // deterministic train/val/test tagging from the portable 60-bit md5
      // hash of the id — re-runs and retries reproduce membership exactly
      graft.operators.Sampling.hashSplit(t(s, d, "documents"), col("doc_id"),
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))),
    "q99_domain_cap" -> ((s, d) =>
      // anti-head-domination quota: keep <= 20 docs per source, ranked by
      // the deterministic portable hash (a reproducible "random 20")
      graft.operators.Sampling.capPerGroup(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        col("source"), k = 20, tieBreak = col("doc_id"))
        .select(col("doc_id"), col("source"), col("rk"))),
    "q100_chunk_overlap" -> ((s, d) =>
      // RAG-style sliding-window chunking: 64-token chunks, stride 48
      // (16-token overlap); last partial chunk kept
      graft.operators.Packing.chunkSliding(t(s, d, "documents"),
        "doc_id", "text", chunkSize = 64, stride = 48)),
    "q101_weighted_mix" -> ((s, d) =>
      // Pile-style training mix: even-numbered sources upsampled to 1.5
      // epochs, odd-numbered downsampled to half — deterministic copies
      graft.operators.Sampling.weightedMix(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        col("doc_id"),
        when(regexp_extract(col("source"), "(\\d+)$", 1).cast("int") % 2 === 0,
          150L).otherwise(50L))),
    "q102_span_remove" -> ((s, d) =>
      // Lee et al. 2022 duplicated-span REMOVAL (the policy q97 measures):
      // excise every >= 20-token span of word-8-grams shared with another
      // doc, rebuild the text from surviving tokens
      graft.operators.SpanDedup.removeDupSpans(t(s, d, "documents"),
        "doc_id", "text", n = 8, minSpanTokens = 20)),
    "q103_semdedup" -> ((s, d) => {
      // SemDeDup (Abbas et al. 2023): quantized Lloyd k-means, then
      // within-cluster cosine dedup. The synthetic embeddings carry no
      // natural near-dups, so exact copies are injected under fresh ids
      // (+10001 keeps them off the % 25 centroid seed) — the q53/q67
      // injection pattern; every copy must come back kept=false.
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val withCopies = emb.unionByName(
        emb.filter(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 10001L).as("vec_id"), col("embedding")))
      // Lloyd update on the deterministic 20% id-sample (trainEvery=5,
      // mirrored in the oracle) — the bounded-sample training shape
      graft.functions.VectorFunctions.semDedupPortable(withCopies,
        "vec_id", "embedding", threshold = 0.99, centroidEvery = 25,
        trainEvery = 5)
    }),
    "q191_semdedup_capped" -> ((s, d) => {
      // q103's SemDeDup with the degenerate-cell guard ON (maxCell=25, the
      // mean cell size): cells above the cap are excluded from pair
      // generation behind an observed dropped-cells metric — the bucket-cap
      // contract every other pair generator in the repo already carries,
      // here proven oracle-exact (the cap is plain SQL: cells sized by a
      // count, oversized ones anti-joined out of the pairing)
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val withCopies = emb.unionByName(
        emb.filter(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 10001L).as("vec_id"), col("embedding")))
      graft.functions.VectorFunctions.semDedupPortable(withCopies,
        "vec_id", "embedding", threshold = 0.99, centroidEvery = 25,
        trainEvery = 5, maxCell = 25)
    }),
    "q193_winnow_stream" -> ((s, d) => {
      // STREAMING intake gated against the released corpus: q182's
      // substring-contamination check with the fresh side arriving through
      // a MemoryStream. The release's winnow index (winnowSnapshotIndex,
      // the persistable (prior_id, fp) relation) joins STREAM-STATIC, the
      // per-doc fingerprint selection runs as winnowFpSets' typed
      // mapPartitions kernel (streaming accepts typed maps; it only rejects
      // window functions), and one complete-mode count per
      // (fresh_id, prior_id) yields `shared`. Feed = the deterministic
      // sample doc_id % 5 == 0 of the fresh half, collected into a
      // MemoryStream — a TEST-HARNESS boundary: the collect grows linearly
      // with sf (920 rows at sf0.1, ~9.2k at sf1), acceptable at benched
      // scales; a production intake replaces MemoryStream with a Kafka/file
      // source and no driver collect exists. Oracle: the q182 replay
      // restricted to the same sample — batch parity IS the check.
      import s.implicits._
      val docs = t(s, d, "documents")
      val priorIdx = NearDedup.winnowSnapshotIndex(
        docs.filter(col("doc_id") < 400), "doc_id", "text", k = 16, w = 8)
      val sample = docs
        .filter(col("doc_id") >= 400 && col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      mem.addData(sample: _*)
      val fresh = mem.toDF().toDF("doc_id", "text")
      // broadcast: the release index is the SMALL side by design (distinct
      // fps of the released corpus, df-capped) — broadcasting it removes
      // the fp-key exchange from every microbatch.
      val hits = NearDedup.winnowFpSets(fresh, "doc_id", "text", k = 16, w = 8)
        .select(col("doc_id").as("fresh_id"), explode(col("fps")).as("fp"))
        .join(broadcast(priorIdx), Seq("fp"))
        .groupBy(col("fresh_id"), col("prior_id"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2)
      val qn = s"q193_winnow_${memSeq.incrementAndGet()}"
      // Streaming aggs pin one state store per shuffle partition for the
      // query's life; 32 stores for a complete-mode gate is pure init
      // overhead. 8 is plenty for the (fresh_id, prior_id) state width.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val q =
        try hits.writeStream.format("memory").queryName(qn)
          .outputMode("complete").start()
        finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      try q.processAllAvailable() finally q.stop()
      s.table(qn)
    }),
    "q192_jdbc_sharded" -> ((s, d) => {
      // SHARDED pull_sql: the same embedded-Derby engine as q88, but the
      // read comes back through FOUR partitioned executor connections
      // (partitionColumn range predicates) — the shape a 1000-executor
      // JDBC ingest needs, since an unsharded JDBC read is one connection
      // regardless of cluster size. Oracle = the unsharded parquet truth;
      // a PlanShapeSpec row asserts the 4-partition scan.
      val base = tmpDir() + s"/q192_derby_${derbySeq.incrementAndGet()}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val url = s"jdbc:derby:$base/db;create=true"
      val nation = t(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      graft.sources.Jdbc.pushSql(nation, url, "nation192")
      graft.sources.Jdbc.pullSql(s, url, "nation192",
        partitionColumn = Some("n_nationkey"), lowerBound = 0L,
        upperBound = 25L, numPartitions = 4)
    }),
    "q104_prototype_prune" -> ((s, d) =>
      // Sorscher et al. 2022 data pruning: rank by cosine-to-centroid
      // within each k-means cell, keep the hardest (least prototypical)
      // half of every cell
      graft.functions.VectorFunctions.prototypePrune(
        t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", keepPct = 50, centroidEvery = 25,
        trainEvery = 5)),
    "q105_epoch_shuffle" -> ((s, d) =>
      // deterministic training order: 2 epochs x 8 shards, each epoch an
      // independent hash permutation, contiguous positions within shards
      graft.operators.Sampling.epochShuffle(
        t(s, d, "documents").select(col("doc_id")),
        col("doc_id"), epochs = 2, nShards = 8)),
    "q106_quality_classifier" -> ((s, d) =>
      // fastText-style hashed linear quality scorer (the model-based
      // filtering pass of CCNet/FineWeb-Edu/DCLM): integer bucket weights
      // make the whole narrow-map pipeline oracle-replayable bit-for-bit
      graft.functions.Classifier.scoreDocsPortable(
        tS(s, d, "documents", "doc_id"), "doc_id", "text")),
    "q107_keyword_topk" -> ((s, d) =>
      // inverted-index keyword retrieval: integer tf scoring, term filter
      // before any shuffle, TakeOrderedAndProject top-k (BM25 is the
      // spec-verified float twin — ln is not bit-portable across engines)
      graft.operators.Retrieval.keywordTopK(t(s, d, "documents"),
        "doc_id", "text", Seq("spark", "join", "window"), k = 10)),
    "q108_line_dedup" -> ((s, d) =>
      // C4/RefinedWeb global line dedup (keep first occurrence): the
      // synthetic corpus has no newlines, so lines are constructed per doc
      // (q67/q81 injection pattern) — a unique body line, a footer shared
      // by ALL docs, and a banner shared within each source
      graft.operators.SpanDedup.removeDupLines(
        t(s, d, "documents").select(col("doc_id"),
          concat_ws("\n", col("text"), lit("standard footer line"),
            concat(lit("source banner "), col("source"))).as("text")),
        "doc_id", "text")),
    "q109_vocab_coverage" -> ((s, d) =>
      // tokenizer sizing curve: top-20 vocabulary with exact cumulative
      // corpus coverage (integer counts, one final division)
      graft.operators.Vocab.vocabCoverage(t(s, d, "documents"), "text",
        vocabSize = 20)),
    "q110_bpe_pairs" -> ((s, d) =>
      // one BPE round's statistics (Sennrich et al. 2016) on the
      // word-frequency table: adjacent symbol-pair counts incl. the </w>
      // marker; the iterative trainer (Vocab.train) is spec-verified
      graft.operators.Vocab.pairCounts(
        graft.operators.Vocab.wordFreq(t(s, d, "documents"), "text")
          .select(graft.operators.Vocab.charSymbols(col("word")).as("syms"),
            col("freq")))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc).limit(20)),
    "q111_bloom_decontaminate" -> ((s, d) => {
      // Bloom-filter decontamination: q80's benchmark (docs 0-4) but the
      // exclusion set is a FIXED-SIZE m-bit filter (k=3 md5 positions,
      // m=4096) instead of the exact gram set; per-doc count of grams the
      // filter claims. m is deliberately small enough that the driver also
      // exercises the false-positive path at sf0.1.
      val docs = tS(s, d, "documents", "doc_id")
      val bits = graft.operators.Contamination.bloomBuild(
        docs.filter(col("doc_id") < 5), "text", n = 5, k = 3, m = 4096L)
      graft.operators.Contamination.bloomContaminatedIds(
        docs, "doc_id", "text", bits, n = 5, k = 3, m = 4096L)
    }),
    "q112_dsir" -> ((s, d) => {
      // DSIR (Xie et al. 2023) importance weights: make the corpus look
      // like the src0/src1 slice; hashed unigram+bigram buckets, portable
      // exact-integer ratio scoring (the log-weight twin is spec-verified)
      val docs = tS(s, d, "documents", "doc_id")
      graft.operators.Importance.importanceScoresPortable(
        docs, "doc_id", "text",
        docs.filter(col("source").isin("src0", "src1")), "text",
        buckets = 256)
    }),
    "q113_len_histogram" -> ((s, d) =>
      // token-budget planning: power-of-two document-length histogram with
      // EXACT integer floor(log2) buckets (length of the base-2 string)
      graft.operators.Profile.lengthHistogram(t(s, d, "documents"),
        size(split(trim(col("text")), "\\s+")))),
    "q114_url_canonicalize" -> ((s, d) => {
      // crawl URL hygiene (CCNet/RefinedWeb stage): canonicalize messy
      // URLs (case, default ports, tracking params, fragments), extract
      // the registered domain, flag blocklisted domains. The synthetic
      // corpus has no URL column, so URLs are constructed deterministically
      // from (source, doc_id) — q67/q81's injection pattern.
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://www.")).otherwise(lit("http://sub.")),
        col("source"),
        when(col("doc_id") % 2 === 0, lit(".co.uk:443/Docs/")).otherwise(lit(".org:80/Docs/")),
        col("doc_id").cast(StringType),
        lit("/page?utm_source=feed&q="), (col("doc_id") % 3).cast(StringType),
        lit("&utm_campaign=x&gclid=abc#frag"))
      t(s, d, "documents").select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          graft.functions.UrlFunctions.urlCanonicalize(col("url")).as("canon"),
          graft.functions.UrlFunctions.registeredDomain(
            graft.functions.UrlFunctions.urlHost(col("url"))).as("domain"))
        .withColumn("blocked",
          col("domain").isin("src3.co.uk", "src7.org"))
    }),
    "q115_wet_roundtrip" -> ((s, d) => {
      // WARC/WET (ISO 28500) round-trip: write the corpus as sharded WET
      // conversion records, re-ingest via the Content-Length byte parser,
      // recover (doc_id, text) — the CommonCrawl front door
      val out = tmpDir() + "/wet"
      graft.sources.Warc.writeWet(
        t(s, d, "documents").select(
          concat(lit("https://corpus.local/doc/"), col("doc_id").cast(StringType)).as("uri"),
          col("text")),
        "uri", "text", out)
      graft.sources.Warc.readWet(s, out)
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("content_length"), col("payload").as("text"))
    }),
    "q116_countmin" -> ((s, d) => {
      // count-min point-frequency estimates for the whole vocabulary next
      // to exact counts — est >= exact always; width 512 forces visible
      // collisions so the bound is exercised, not vacuous
      val words = tS(s, d, "documents", "doc_id")
        .select(explode(split(trim(col("text")), "\\s+")).as("item"))
        .filter(length(col("item")) > 0)
      val sketch = graft.operators.Sketches.countMinSketch(
        words, col("item"), depth = 4, width = 512L)
      // Three corpus explodes by design (round 16: tried anchoring the
      // query side + comparison join on one checkpointed vocab-sized exact
      // aggregate — 6-run A/B at sf0.1 was a wash, mins 0.99 vs 0.96 —
      // the explode+partial-agg passes are cheap enough that the eager
      // checkpoint job repaid nothing; reverted).
      graft.operators.Sketches.countMinEstimate(
          sketch, words.distinct(), depth = 4, width = 512L)
        .join(words.groupBy("item").agg(count(lit(1)).as("exact")), Seq("item"))
    }),
    "q117_hll" -> ((s, d) => {
      // portable HyperLogLog distinct-word estimate (exact-integer harmonic
      // sum, one final double division) next to the exact distinct count
      val words = tS(s, d, "documents", "doc_id")
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
      graft.operators.Sketches.hllEstimate(words, col("w"), p = 8)
        .crossJoin(words.agg(count_distinct(col("w")).as("exact_distinct")))
    }),
    "q118_vocab_encode" -> ((s, d) => {
      // corpus -> token ids under the induced top-20 vocabulary (rank = id,
      // OOV = 0): the encode step between vocabulary induction (q109) and
      // sequence packing (q82)
      val docs = t(s, d, "documents")
      val vocab = graft.operators.Vocab.vocabCoverage(docs, "text", 20)
        .select(col("token"), col("rank").as("id"))
      graft.operators.Vocab.encodeIds(docs, "doc_id", "text", vocab)
        // ids surfaced as a joined string: the driver compare sorts rows by
        // every column and raw arrays are unsortable on the pandas side
        .select(col("doc_id"), array_join(col("ids"), " ").as("ids"),
          col("n_tokens"), col("n_oov"))
    }),
    "q119_temperature_mix" -> ((s, d) =>
      // multilingual-style source balancing: p_i ~ sqrt(n_i) (alpha = 0.5,
      // the exactly-rounded IEEE power), exact integer epoch allocation
      graft.operators.Sampling.temperatureMixWeights(
        t(s, d, "documents"), col("source"), epochSize = 100000L)),
    "q120_cross_source_overlap" -> ((s, d) =>
      // source-pair duplication audit; the synthetic corpus is
      // collision-free, so a boilerplate text is injected on doc_id % 5
      // (q108's injection pattern) to give sources real shared content
      graft.operators.NearDedup.crossSourceOverlap(
        t(s, d, "documents").select(
          when(col("doc_id") % 5 === 0, lit("shared boilerplate snippet"))
            .otherwise(col("text")).as("text"),
          col("source")),
        "text", "source")),
    "q121_gopher_rules" -> ((s, d) =>
      // the full Gopher/MassiveText rule battery; bullet/ellipsis/symbol/
      // stopword lines injected per doc (q81's pattern) so every counter
      // and both keep verdicts are exercised
      graft.functions.TextFunctions.gopherRules(
        tS(s, d, "documents", "doc_id").select(col("doc_id"),
          concat_ws("\n",
            col("text"),
            lit("- a bullet item"),
            when(col("doc_id") % 3 === 0, lit("drifting off..."))
              .otherwise(lit("The words belong together with meaning.")),
            when(col("doc_id") % 7 === 0, lit("# # #"))
              .otherwise(lit("of that we have spoken"))).as("text")),
        "text")
        .select("doc_id", "n_words", "sum_chars", "n_symbols", "n_lines",
          "bullet_lines", "ellipsis_lines", "alpha_words", "n_stop", "keep")),
    "q122_unicode_normalize" -> ((s, d) => {
      // NFC canonicalization before byte-level dedup: decomposed sequences
      // (e + combining acute, i + combining diaeresis) injected per doc
      // must compose; DuckDB's nfc_normalize is the independent oracle
      val raw = concat(col("text"), lit(" café naïve"))
      tS(s, d, "documents", "doc_id").select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          graft.expressions.GraftFunctions.unicodeNormalize(col("raw"), "NFC").as("norm"),
          length(col("raw")).cast("long").as("n_before"))
        .withColumn("n_after", length(col("norm")).cast("long"))
    }),
    "q123_script_profile" -> ((s, d) =>
      // writing-system routing profile; non-Latin snippets injected on
      // doc_id % 4 so every counter and the tie-break order are exercised
      graft.functions.TextFunctions.scriptProfile(
        tS(s, d, "documents", "doc_id").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 4 === 1, lit(" привет мир"))
              .when(col("doc_id") % 4 === 2, lit(" 你好世界 こんにちは"))
              .when(col("doc_id") % 4 === 3, lit(" مرحبا بالعالم"))
              .otherwise(lit(""))).as("text")),
        "text")
        .select("doc_id", "latin", "cyrillic", "greek", "cjk", "arabic",
          "hangul", "devanagari", "dominant")),
    "q124_dedup_snapshot" -> ((s, d) => {
      // daily-ingest dedup: docs < 250 are the released snapshot, the whole
      // corpus is the fresh batch; %5 boilerplate injection (q120) gives
      // real cross-batch and in-batch duplication
      val all = t(s, d, "documents").select(col("doc_id"), col("source"),
        when(col("doc_id") % 5 === 0, lit("shared boilerplate snippet"))
          .otherwise(col("text")).as("text"))
      graft.operators.NearDedup.dedupAgainstSnapshot(
        all, "doc_id", "text", all.filter(col("doc_id") < 250), "text")
        .select(col("doc_id"), col("source"))
    }),
    "q125_topk_per_group" -> ((s, d) =>
      // three longest documents per source (deterministic tie-break on id)
      graft.operators.Grouping.topKPerGroup(
        t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        Seq(col("source")), k = 3,
        Seq(col("n_chars").desc, col("doc_id").asc))),
    "q126_rollup" -> ((s, d) =>
      // native OLAP rollup: per (source, lang), per source, grand total;
      // explicit grouping() bitmask so the level id replays anywhere
      t(s, d, "documents")
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          (grouping(col("source")) * 2 + grouping(col("lang"))).cast(LongType).as("gid"))),
    "q127_range_frame" -> ((s, d) => {
      // time-range window frame: per-user trailing 1-hour event count and
      // integer-scaled value sum (RANGE frame on the microsecond axis —
      // float sums would hit engine-order differences, integers don't)
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, d, "events")
      val e = ev.select(col("event_id"), col("user_id"),
        tsUs(ev).as("t_us"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("v_scaled"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"))
        .rangeBetween(-3600000000L, 0L)
      e.select(col("event_id"), col("user_id"), col("t_us"),
        count(lit(1)).over(w).as("events_1h"),
        sum(col("v_scaled")).over(w).as("value_1h_scaled"))
    }),
    "q128_pq_topk" -> ((s, d) => {
      // product-quantization ADC (Jégou et al. 2011): 8 subspaces x 8 dims,
      // integer Lloyd codebooks, sum-of-table-lookups ranking — training,
      // encoding and ADC all exact-integer, replayed by the oracle. Lloyd
      // runs over the deterministic 20% id-sample (trainEvery=5, mirrored
      // in the oracle's d0 filter) — FAISS-style bounded-sample training.
      // Since round 13 this runs the DEFAULT centroid budget
      // (DefaultMaxCentroids=256, replayed by the oracle's row_number≤256
      // seed rule): the unbudgeted k ∝ n seed was the sf1→sf10 decade's
      // worst entry (×109) and is now explicit-opt-in (maxCentroids=0).
      val emb = t(s, d, "embeddings")
      VectorFunctions.pqTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, dim = 64, trainEvery = 5)
    }),
    "q129_zorder_key" -> ((s, d) =>
      // Morton keys for 2-D data-skipping layout (Delta/Iceberg OPTIMIZE
      // ZORDER): pure shift/mask codegen, replayed bit-for-bit in SQL;
      // the layout rewrite itself (zorderSort) is spec-verified
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        graft.operators.Layout.zorderKey(
          col("l_partkey"), col("l_suppkey"), bits = 16).as("zkey"))),
    "q130_sparse_tfidf" -> ((s, d) => {
      // inverted-index doc-to-doc similarity: df-weighted tf dot product,
      // integer-exact; the sparse counterpart of the embedding ANN surface
      val docs = t(s, d, "documents")
      graft.operators.Retrieval.sparseTfIdfTopK(
        docs, "doc_id", "text", docs.filter(col("doc_id") < 3), k = 5)
    }),
    "q131_cube" -> ((s, d) =>
      // full grouping-sets lattice (cube = rollup q126 plus the
      // lang-only marginal); native Expand, one aggregation
      t(s, d, "documents")
        .cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          (grouping(col("source")) * 2 + grouping(col("lang"))).cast(LongType).as("gid"))),
    "q132_pq_reuse" -> ((s, d) => {
      // the production PQ shape: codebooks trained ONCE per corpus release
      // (here: first call per sf dir, cached local rows — "offline"), every
      // query served through pqTopKWith without retraining. Identical
      // output to q128 (same seeds/rounds), so it shares q128's oracle;
      // its bench time is the serve-only cost q128's in-query training hid.
      val emb = t(s, d, "embeddings")
      val (schema, rows) = pqBooks.getOrElseUpdate(d, {
        val b = VectorFunctions.pqTrain(emb, "vec_id", "embedding", dim = 64,
          trainEvery = 5)
        (b.schema, b.collect())
      })
      val book = s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      VectorFunctions.pqTopKWith(emb, emb.filter(col("vec_id") < 5), book,
        "vec_id", "embedding", k = 5, dim = 64)
    }),
    "q133_sessionize_stream" -> ((s, d) => {
      // batch-parity gate for the STREAMING sessionizer: the full events
      // table replayed through a MemoryStream into
      // Streams.sessionize (flatMapGroupsWithState), oracle-checked against
      // the same windowed-SQL sessionization as batch q68 (ms precision —
      // java.sql.Timestamp's axis). One sentinel event per user, 10 gaps
      // after the corpus max, forces every REAL session closed and emitted
      // within the batch; the sentinel's own session stays open in state
      // and is never emitted (no processing-time timeout fires), so no
      // wall-clock dependence. MemoryStream is driver-fed by design — this
      // is a verification surface; production streams use readStream
      // sources with the same sessionize call. The feed is a DETERMINISTIC
      // BOUNDED SAMPLE (user_id % 100 < 5, mirrored in the oracle SQL):
      // parity evidence is just as strong on ~5% of users, and the driver
      // materializes O(sample) rows at any sf instead of the whole corpus
      // (the full-table collect was the round-6 verdict's scale-killer).
      import s.implicits._
      val gapMs = 1800L * 1000
      val ev = t(s, d, "events")
      val base = ev
        .filter(col("user_id") % 100 < 5)
        .select(col("user_id"), tsMs(ev).as("ms"))
        .as[(Long, Long)].collect()
      val maxMs = base.iterator.map(_._2).max
      val rows: Seq[(Long, java.sql.Timestamp)] =
        base.toSeq.map { case (u, ms) => (u, new java.sql.Timestamp(ms)) } ++
          base.iterator.map(_._1).toSeq.distinct
            .map(u => (u, new java.sql.Timestamp(maxMs + 10 * gapMs)))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp)]
      mem.addData(rows: _*)
      val qn = s"q133_sessions_${memSeq.incrementAndGet()}"
      val q = startStreamFewParts(s)(
        graft.streaming.Streams.sessionize(mem.toDS(), gapMs)
          .writeStream.format("memory").queryName(qn).outputMode("append").start())
      // ProcessingTimeTimeout makes the engine trigger batches continuously,
      // so processAllAvailable never latches noNewData — poll the sink
      // instead. ALL real sessions close inside batch 1 (every user's last
      // real event is followed by its sentinel in the same batch) and the
      // memory sink commits a batch atomically, so rows>0 ⇒ complete.
      try {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (s.table(qn).isEmpty && q.exception.isEmpty && System.nanoTime() < deadline)
          Thread.sleep(100)
        q.exception.foreach(throw _) // surface the real failure, not a timeout
        require(!s.table(qn).isEmpty, "q133: streaming sessionize produced no output in 120s")
      } finally q.stop()
      s.table(qn)
        .filter(unix_millis(col("start")) <= maxMs) // belt-and-braces vs sentinel
        .select(col("key").as("user_id"),
          unix_millis(col("start")).as("session_start"),
          unix_millis(col("end")).as("session_end"),
          col("events"))
    }),
    "q134_dedup_stream" -> ((s, d) => {
      // batch-parity gate for STREAMING dedup: the events table replayed
      // through a MemoryStream into Streams.dedupWithinWatermark keyed on
      // (user_id, event_type). One micro-batch holds the whole corpus (the
      // initial watermark is MIN, so nothing is dropped for lateness), and
      // the surviving set is exactly the distinct key set; projecting keys
      // only makes the output deterministic regardless of which concrete
      // row survives per key. Oracle: DISTINCT over the same sample.
      // Production streams use readStream sources with the same
      // dedupWithinWatermark call — state stays bounded by the 30-minute
      // horizon. Like q133, the feed is the deterministic bounded sample
      // user_id % 100 < 5 so driver memory is O(sample) at any sf.
      import s.implicits._
      val ev = t(s, d, "events")
      val rows = ev
        .filter(col("user_id") % 100 < 5)
        .select(col("user_id"), col("event_type"), tsMs(ev).as("ms"))
        .as[(Long, String, Long)].collect().toSeq
        .map { case (u, e, ms) => (u, e, new java.sql.Timestamp(ms)) }
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, java.sql.Timestamp)]
      mem.addData(rows: _*)
      val qn = s"q134_dedup_${memSeq.incrementAndGet()}"
      val q = startStreamFewParts(s)(
        graft.streaming.Streams.dedupWithinWatermark(
            mem.toDF().toDF("user_id", "event_type", "ts"), "ts", "30 minutes",
            Seq("user_id", "event_type"))
          .select("user_id", "event_type")
          .writeStream.format("memory").queryName(qn).outputMode("append").start())
      try q.processAllAvailable() finally q.stop()
      s.table(qn).select(col("user_id"), col("event_type"))
    }),
    "q135_html_extract" -> ((s, d) => {
      // WARC→WET extraction: wrap each document's text in a realistic HTML
      // shell (head/title/style/script boilerplate, entity-escaped body,
      // named + numeric entities, a comment), then extract visible text
      // with the single-pass codegen'd kernel. Round-trip oracle: the
      // boilerplate must vanish, the body must come back exactly as the
      // whitespace-canonicalized original — DuckDB replays the expected
      // output directly from `text` without an HTML parser.
      val html = fixtureHtmlShell(col("doc_id"), col("text"))
      t(s, d, "documents")
        .select(col("doc_id"), graft.functions.Html.htmlToText(html).as("text_out"))
    }),
    "q136_html_title_links" -> ((s, d) => {
      // title + href harvesting (the link-graph side of crawl extraction):
      // titles via the RE2-safe <title> regex, hrefs in document order
      // with attribute entities decoded. Links joined to one string (array
      // cells break the driver compare).
      val html = concat(
        lit("<html><head><title>  Doc "), col("doc_id"), lit(" of "),
        col("source"),
        lit(" </title></head><body><a href=\"https://ex.org/d/"),
        col("doc_id"),
        lit("\">first</a><p><A CLASS=\"z\" HREF=\"https://ex.org/s/"),
        col("source"), lit("?a=1&amp;b=2\">second</A></p>" +
          "<a href=\"#frag\">third</a></body></html>"))
      t(s, d, "documents").select(
        col("doc_id"),
        graft.functions.Html.htmlTitle(html).as("title"),
        array_join(graft.functions.Html.htmlLinks(html), "|").as("links"))
    }),
    "q137_hybrid_rrf" -> ((s, d) => {
      // hybrid retrieval: sparse (inverted-index tf·1/df, q130's ranker)
      // and dense (brute-force cosine, q50's ranker) candidate lists for
      // the same query ids, fused by reciprocal rank — the standard
      // lexical+embedding combination (RAG / retrieval-curation stage).
      // Integer ranks → 1/(60+r) arithmetic is bit-replayable by DuckDB.
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast(DoubleType)).as("embedding"))
      val sparse = graft.operators.Retrieval.sparseTfIdfTopK(
          docs, "doc_id", "text", docs.filter(col("doc_id") < 3), k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val dense = VectorFunctions.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.operators.Retrieval.rrfFuse(sparse, dense, k = 10)
    }),
    "q138_crawl_pipeline" -> ((s, d) => {
      // the end-to-end crawl-curation composite — every stage is an
      // operator that is ALSO individually oracle-green: URL → registered
      // domain (q114's chain), deterministic per-domain quota (q99's
      // capPerGroup), HTML shell → single-pass extraction (q135's shell),
      // token/word-length quality floor, exact dedup on the canonical
      // fingerprint of the EXTRACTED text (q45's md5 twin). One pipeline,
      // one oracle replaying all five stages.
      val docs = t(s, d, "documents")
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://www.")).otherwise(lit("http://sub.")),
        col("source"),
        when(col("doc_id") % 2 === 0, lit(".co.uk:443/d/")).otherwise(lit(".org:80/d/")),
        col("doc_id").cast(StringType))
      val withDomain = docs.withColumn("domain",
        graft.functions.UrlFunctions.registeredDomain(graft.functions.UrlFunctions.urlHost(url)))
      val capped = graft.operators.Sampling.capPerGroup(
        withDomain, col("domain"), k = 10, tieBreak = col("doc_id")).drop("rk")
      val html = fixtureHtmlShell(col("doc_id"), col("text"))
      val gated = capped
        .withColumn("text_out", graft.functions.Html.htmlToText(html))
        .withColumn("__toks", split(trim(col("text_out")), "\\s+"))
        .withColumn("n_words", size(col("__toks")).cast(LongType))
        .withColumn("mwl",
          aggregate(col("__toks"), lit(0L), (acc, x) => acc + length(x))
            .cast(DoubleType) / col("n_words"))
        .filter(col("n_words") >= 10 && col("mwl").between(2.0, 12.0))
      graft.operators.NearDedup.exactDedupMd5(gated, "doc_id", "text_out")
        .select(col("doc_id"), col("domain"), col("n_words"))
    }),
    "q139_warc_to_wet" -> ((s, d) => {
      // the authentic raw-crawl chain: write WARC RESPONSE records (full
      // HTTP envelopes around the q135 HTML shell), shard-parallel
      // re-ingest, split the HTTP envelope, extract visible text — i.e.
      // the actual WARC→WET conversion CommonCrawl publishes, end to end.
      // Oracle: q135's expected-extraction formula keyed by URI doc id.
      val html = fixtureHtmlShell(col("doc_id"), col("text"))
      val out = tmpDir() + "/warc_raw"
      graft.sources.Warc.writeWarcResponses(
        t(s, d, "documents").select(
          concat(lit("https://corpus.local/doc/"), col("doc_id").cast(StringType)).as("uri"),
          html.as("html")),
        "uri", "html", out)
      graft.sources.Warc.warcToWet(s, out)
        .select(regexp_extract(col("uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("text").as("text_out"))
    }),
    "q140_ngram_containment" -> ((s, d) =>
      // asymmetric near-dup: shingle-set containment |A∩B|/|A| — catches
      // quotes/excerpts that Jaccard's symmetric denominator dilutes.
      // Bounded slice because the oracle replays it all-pairs (q46's deal).
      NearDedup.ngramContainmentPairs(
        t(s, d, "documents").filter(col("doc_id") < 600), "doc_id", "text",
        shingleSize = 3, threshold = 0.6)),
    "q141_boilerplate_sentences" -> ((s, d) => {
      // sentence-level boilerplate mining: segment (lookaround-free, RE2-
      // replayable), explode, count cross-document repetition — the
      // sentence-granularity sibling of C4 line dedup; top repeated
      // sentences are removal candidates. The synthetic corpus has no
      // naturally repeated sentences, so footer boilerplate is injected
      // deterministically (q45's injection pattern) for the miner to find.
      // leading '.' terminates any unterminated trailing fragment of the
      // original text, so the injected sentences segment identically in
      // every document
      val boiler = when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(". Subscribe to our newsletter! All rights reserved.")))
        .when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(". All rights reserved.")))
        .otherwise(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.sentences(boiler)).as("sentence"))
        .groupBy(col("sentence"))
        .agg(count_distinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_total"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("n_total").desc, col("sentence").asc)
        .limit(20)
    }),
    "q144_dsir_serve" -> ((s, d) => {
      // DSIR's production shape: the per-bucket weight table (≤ buckets
      // rows, the persistable selection artifact) trained once per
      // (corpus, target) pair and cached per sf dir; every scoring pass —
      // here the registered query — is then one narrow feature explode +
      // broadcast join + aggregation over the shard being scored. Same
      // output as q112 by construction ⇒ shares q112's oracle; its bench
      // time is the per-shard serve cost q112's in-query training hides.
      val docs = tS(s, d, "documents", "doc_id")
      val weights = dsirWeights.getOrElseUpdate(d, {
        val w = graft.operators.Importance.importanceWeightsPortable(
          docs, docs.filter(col("source").isin("src0", "src1")), "text", "text",
          buckets = 256)
        (w.schema, w.collect())
      })
      val w = s.createDataFrame(
        java.util.Arrays.asList(weights._2: _*), weights._1)
      graft.operators.Importance.importanceScoresPortableWith(
        docs, "doc_id", "text", w, buckets = 256)
    }),
    "q142_pq_serve" -> ((s, d) => {
      // the FULL production ANN serve shape: codebooks trained once
      // (pqBooks, shared with q132), corpus codes ENCODED ONCE and
      // persisted as a parquet index (Memoize keys on plan+input files, so
      // each sf dir gets its own index), then a single query ranked
      // against the stored index — quantize the query, broadcast its ADC
      // table over the codes, aggregate, exact-refine the candidate slice.
      // This is the latency a user pays per query against a built index;
      // q128 (in-query training) and q132 (serve incl. encode) bound the
      // other two cost tiers. Same seeds/rounds/k as q128 ⇒ the oracle is
      // q128's replay restricted to query 0.
      val emb = t(s, d, "embeddings")
      val (schema, rows) = pqBooks.getOrElseUpdate(d, {
        val b = VectorFunctions.pqTrain(emb, "vec_id", "embedding", dim = 64,
          trainEvery = 5)
        (b.schema, b.collect())
      })
      val book = s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      // the memoize fingerprint itself costs an analysis + file listing per
      // call; the resolved index reader is cached per sf dir so repeated
      // queries pay pure serve cost (the TrieMap mirrors pqBooks)
      val codes = servedIndexes.getOrElseUpdate("pq:" + d,
        graft.operators.Memoize.memoize(
          VectorFunctions.pqEncode(emb, book, "vec_id", "embedding", dim = 64),
          tmpDir() + "/pq_index"))
      VectorFunctions.pqTopKWithCodes(codes, emb,
        emb.filter(col("vec_id") === 0), book,
        "vec_id", "embedding", k = 5, dim = 64)
    }),
    "q143_tfidf_serve" -> ((s, d) => {
      // the sparse-retrieval serve shape: the weighted postings index is
      // built once and persisted (what an IR system stores), then a single
      // query document is tokenized and ranked through one term-keyed join
      // against the stored index. q130 bounds the build+serve cost; this
      // is the per-query latency against the prebuilt index.
      val docs = t(s, d, "documents")
      val index = servedIndexes.getOrElseUpdate("tfidf:" + d,
        graft.operators.Memoize.memoize(
          graft.operators.Retrieval.sparseTfIdfIndex(docs, "doc_id", "text"),
          tmpDir() + "/tfidf_index"))
      graft.operators.Retrieval.sparseTfIdfTopKWith(
        index, docs.filter(col("doc_id") === 0), "doc_id", "text", k = 5)
    }),
    "q145_schema_canary" -> ((s, d) => {
      // Schema-drift canary: every table's (name, column, canonical type)
      // as SPARK sees it, oracle-checked against DuckDB's DESCRIBE mapped
      // through the same canonical tokens. The reference's schema model is
      // fully dynamic (/root/reference/pybabe/base.py:37-108) — type
      // introspection is an operator surface, and this row set turns a
      // silent testdata regeneration (round 7: events.ts nanos -> micros)
      // into a red correctness row instead of six downstream failures.
      // Schema metadata only — rows never touch the data, so this is
      // scale-free by construction.
      import s.implicits._
      fixtureTables.flatMap { tb =>
        t(s, d, tb).schema.fields.map(f => (tb, f.name, canonType(f.dataType)))
      }.toDF("tbl", "col_name", "ctype")
    }),
    "q146_cosine_dup_portable" -> ((s, d) => {
      // q53's injected-exact-copy recall path at bits 6: copies
      // (vec_id+100000) hash to identical signatures in every table, so
      // the bucket pair search MUST surface them and the 0.95-threshold verify
      // keeps them (cosine exactly 1.0). The full pipeline — planes,
      // signatures, hot-bucket cap, candidate pairs, exact verify — replays
      // bit-for-bit in DuckDB, as q53's does at bits 8.
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val dups = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 100000L)
      VectorFunctions.cosineNearDupPairs(emb.unionByName(dups),
        "vec_id", "embedding", dim = 64, threshold = 0.95, bits = 6)
    }),
    "q147_heavy_hitters_stream" -> ((s, d) => {
      // batch-parity gate for STREAMING heavy hitters (Misra-Gries in
      // flatMapGroupsWithState, Streams.streamingHeavyHitters): with
      // capacity >= distinct items per shard the MG summary never
      // decrements, so est is the EXACT per-(shard, item) count and the
      // candidate set is the full count table — oracle-checkable as a
      // GROUP BY, with err replaying as floor(shard_rows / (capacity+1)).
      // Items are (event_type, user-bucket) pairs over the bounded
      // deterministic sample (q133/q134's driver-feed contract); shard
      // routing uses the portable md5 hash so the oracle reproduces it.
      import s.implicits._
      val ev = t(s, d, "events")
      val items = ev.filter(col("user_id") % 100 < 5)
        .filter(col("event_type").isNotNull) // mirrored in the oracle
        .select(concat(col("event_type"), lit("_"),
          (col("user_id") % 7).cast(StringType)).as("item"))
      val feed = items
        .select(pmod(graft.operators.Sampling.portableHash60(col("item")),
          lit(hhShards.toLong)).cast(IntegerType).as("shard"), col("item"))
        .as[(Int, String)].collect().toSeq
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Int, String)]
      mem.addData(feed: _*)
      val qn = s"q147_hh_${memSeq.incrementAndGet()}"
      val q = startStreamFewParts(s)(
        graft.streaming.Streams.streamingHeavyHitters(mem.toDS(), capacity = hhCapacity)
          .writeStream.format("memory").queryName(qn).outputMode("update").start())
      try q.processAllAvailable() finally q.stop()
      s.table(qn).select(col("shard"), col("item"), col("est"), col("err"))
    }),
    "q148_quantile_thresholds" -> ((s, d) =>
      // curation-threshold quantiles: exact quantile_disc of doc length
      // WITHOUT a global sort (value-keyed counts -> running sum over the
      // bounded distinct-value table -> integer rank pick) — the "P10
      // quality floor / P99 length cap" primitive, bit-exact on any engine
      graft.operators.Profile.exactQuantilesLong(
        t(s, d, "documents"), col("n_chars"),
        Seq(10, 25, 50, 75, 90, 99))),
    "q149_group_quantiles" -> ((s, d) =>
      // the stratified form: per-source length quantiles (a global cap
      // over-trims the long-document source); the cumulative pass
      // partitions by group, so no single-partition stage exists at all
      graft.operators.Profile.groupQuantilesLong(
        t(s, d, "documents"), col("source"), col("n_chars"),
        Seq(50, 90, 99))),
    "q150_snapshot_diff" -> ((s, d) => {
      // release-over-release keyed diff: build "release N+1" from the
      // documents table deterministically (drop %97 keys, bump %89 lengths,
      // inject 30 new ids) so all three statuses appear, then diff on the
      // md5 row fingerprint. The oracle replays the column comparison
      // directly — independent evidence the fingerprint equality IS
      // row equality here.
      val docs = t(s, d, "documents")
      val newRel = docs.filter(col("doc_id") % 97 =!= 0)
        .withColumn("n_chars", when(col("doc_id") % 89 === 0,
          col("n_chars") + 1).otherwise(col("n_chars")))
        .unionByName(docs.filter(col("doc_id") < 30)
          .withColumn("doc_id", col("doc_id") + 200000L))
      graft.operators.Releases.snapshotDiff(docs, newRel,
        Seq("doc_id"), Seq("text", "lang", "source", "n_chars"))
    }),
    "q151_cdc_apply" -> ((s, d) => {
      // MERGE INTO as one window over union: a deterministic CDC feed
      // (v1 deletes %13, v1 doubles %11 lengths, v2 triples the even %11
      // subset, v1 inserts 20 fresh ids) applied onto the base snapshot.
      // Keys hit by both D and U at the same version resolve U-first
      // (op desc tie-break) — pinned on both engines.
      val docs = t(s, d, "documents")
      def ch(df: DataFrame, v: Long, op: String): DataFrame =
        df.withColumn("version", lit(v)).withColumn("op", lit(op))
      val feed = ch(docs.filter(col("doc_id") % 13 === 0), 1L, "D")
        .unionByName(ch(docs.filter(col("doc_id") % 11 === 0)
          .withColumn("n_chars", col("n_chars") * 2), 1L, "U"))
        .unionByName(ch(docs.filter(col("doc_id") % 11 === 0 && col("doc_id") % 2 === 0)
          .withColumn("n_chars", col("n_chars") * 3), 2L, "U"))
        .unionByName(ch(docs.filter(col("doc_id") < 20)
          .withColumn("doc_id", col("doc_id") + 300000L), 1L, "I"))
      graft.operators.Releases.applyCdc(docs, feed, Seq("doc_id"), "version", "op")
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),
    "q152_collocations" -> ((s, d) =>
      // word2phrase collocation mining; the synthetic corpus draws words
      // near-independently, so scores sit at ~1.0x the independence
      // baseline and threshold=1 keeps the deterministic above-baseline set
      graft.operators.Phrases.collocations(t(s, d, "documents"), "text",
        minCount = 5L, delta = 5L, threshold = 1L)),
    "q153_fuzzy_pairs" -> ((s, d) => {
      // blocked record linkage, production composition: exact-collapse
      // FIRST (one representative per distinct (name, brand) — min key),
      // THEN fuzzy-link the representatives within (brand, first-token)
      // blocks at edit distance <= 2. The collapse bounds the quadratic
      // stage by the distinct-name domain, not the corpus — matching the
      // entity-resolution practice of deduping before linking (a
      // duplicate-heavy corpus otherwise pays pair counts quadratic in
      // multiplicity: measured 10.3 s at sf1 vs 0.3 s with the collapse).
      // Planted positives: last-char-clipped names, q45's injection pattern.
      val p = t(s, d, "part")
      val parts = p.select(col("p_partkey"), col("p_name"), col("p_brand"))
        .unionByName(p.filter(col("p_partkey") % 40 === 1)
          .select((col("p_partkey") + 1000000L).as("p_partkey"),
            expr("substr(p_name, 1, length(p_name) - 1)").as("p_name"),
            col("p_brand")))
      val reps = parts.groupBy(col("p_name"), col("p_brand"))
        .agg(min(col("p_partkey")).as("rep_id"))
      // cap disabled here (unlike the portable minhash/simhash paths,
      // whose whole-bucket HAVING cap the oracle replays): this oracle's
      // SQL joins all blocks, so the production block cap must not be
      // able to silently diverge the two — safe because the blocked
      // relation is the pre-grouped reps table, not the raw corpus
      NearDedup.editDistancePairs(reps, "rep_id", "p_name",
        concat_ws("|", col("p_brand"), element_at(split(col("p_name"), " "), 1)),
        maxDist = 2, maxBlockSize = Int.MaxValue)
    }),
    "q154_minhash_dedup_portable" -> ((s, d) =>
      // the FULL near-dedup pipeline oracle-checked end to end: minhash
      // pairs (q93's relation) -> pointer-doubling connected components ->
      // min-id representative kept (q48 keeps the greedy pairwise rule)
      NearDedup.minhashDedupCC(t(s, d, "documents"), "doc_id", "text")
        .filterColumns(keep = Seq("doc_id", "lang", "source"))),
    "q155_quality_buckets" -> ((s, d) =>
      // CCNet head/middle/tail assignment (Wenzek et al. 2020 §4.3):
      // per-source value terciles via exact integer rank arithmetic —
      // the calibration that makes one score comparable across sources
      graft.operators.Profile.groupRankBuckets(
        t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        col("source"), col("n_chars"), nBuckets = 3)),
    "q156_interval_join" -> ((s, d) => {
      // which user sessions overlapped an error-incident window: 30-min-gap
      // sessions interval-joined against [error - 2min, error + 2min] on the
      // bucket-equi-join shape; claim-bucket keeps each pair exactly once
      val ev = t(s, d, "events")
      val sessions = graft.operators.Sessionize.sessions(
          ev.select(col("user_id"), tsUs(ev).as("ts_us")),
          "user_id", "ts_us", 1800L * 1000 * 1000)
        .select(col("user_id"), col("session_seq"),
          col("session_start"), col("session_end"))
      val incidents = ev.filter(col("event_type") === "error")
        .select(col("event_id"),
          (tsUs(ev) - lit(120L * 1000 * 1000)).as("inc_start"),
          (tsUs(ev) + lit(120L * 1000 * 1000)).as("inc_end"))
      graft.operators.Joins.intervalOverlapJoin(
          sessions, "session_start", "session_end",
          incidents, "inc_start", "inc_end",
          bucketWidth = 3600L * 1000 * 1000)
        .select(col("user_id"), col("session_seq"), col("event_id"))
    }),
    "q157_pagerank" -> ((s, d) => {
      // integer fixed-point PageRank over the customer -> supplier purchase
      // graph (supplier ids offset into a disjoint node space), 3
      // iterations — the domain-authority ranking crawl curation uses,
      // bit-exact on any engine because every step is integer arithmetic
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_suppkey") + 10000000L).as("dst"))
      graft.operators.Clustering.pageRankInt(edges, "src", "dst", iters = 3)
    }),
    "q158_hard_negatives" -> ((s, d) => {
      // DPR-style hard-negative mining: top-5 lexical candidates per query
      // doc, with the query's near-duplicates (3-gram Jaccard >= 0.5 on the
      // q74 slice) anti-joined out BEFORE the rank cut — doc 8's near-dup
      // partner tops the raw ranking and must be absent from the output
      val docs = t(s, d, "documents")
      val idx = graft.operators.Retrieval.sparseTfIdfIndex(docs, "doc_id", "text")
      // Materialize the pair list once: the positives union's two branches
      // (and every downstream consumer of positives) re-execute the whole
      // inverted-shingle pipeline otherwise — measured as the dominant
      // stage of this query. Pair lists are id-only and pair-bounded (the
      // CC-edge contract).
      val jp = NearDedup.ngramJaccardPairs(
        docs.filter(col("doc_id") < 600), "doc_id", "text",
        shingleSize = 3, threshold = 0.5).localCheckpoint()
      val positives = jp.select(col("id_a").as("query_id"), col("id_b").as("doc_id"))
        .union(jp.select(col("id_b").as("query_id"), col("id_a").as("doc_id")))
      graft.operators.Retrieval.hardNegatives(idx,
        docs.filter(col("doc_id") < 10), "doc_id", "text", positives, k = 5)
    }),
    "q159_contrastive_pairs" -> ((s, d) => {
      // (anchor, positive) supervision mined from near-dup clusters: the
      // star rooted at each component representative (c-1 pairs per
      // cluster, never the quadratic clique), cluster_size as the
      // downsampling weight
      val pairs = NearDedup.ngramJaccardPairs(
        t(s, d, "documents").filter(col("doc_id") < 600), "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      graft.operators.Clustering.contrastivePairs(
        graft.operators.Clustering.connectedComponents(pairs))
    }),
    "q160_stupid_backoff" -> ((s, d) => {
      // Brants et al. 2007 Stupid Backoff LM quality scores: bigram model
      // counted on the even-id half (the "trusted" corpus), every doc
      // scored under it — integer-exact, so seen/backoff branch choices
      // and the final means replay bit-for-bit in the oracle
      val docs = tS(s, d, "documents", "doc_id")
      graft.operators.LanguageModel.stupidBackoffScore(
        docs.filter(col("doc_id") % 2 === 0), docs, "doc_id", "text")
    }),
    "q161_leakage_split" -> ((s, d) => {
      // leakage-free 80/10/10 split: near-dup clusters share a split key
      // (their component representative), so eval contamination by
      // duplicates is structurally impossible — Lee et al. 2022's C4
      // train/val overlap is the failure this prevents
      val docs = t(s, d, "documents").filter(col("doc_id") < 600)
      val pairs = NearDedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      graft.operators.Sampling.leakageFreeSplit(docs, "doc_id", pairs,
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select(col("doc_id"), col("split_key"), col("split"))
    }),
    "q162_release_manifest" -> ((s, d) =>
      // per-source release manifest: counts, chars, distinct canonical
      // fingerprints, and the XOR-of-row-hash corpus checksum — the
      // order-independent integrity record a shipped release carries
      graft.operators.Releases.manifest(
        t(s, d, "documents"), "source", "doc_id", "text")),
    "q163_sentence_chunks" -> ((s, d) =>
      // sentence-respecting RAG chunks at a 20-token budget: boundaries
      // never cut a sentence, the straddler stays with its chunk. The
      // fixture corpus is punctuation-free, so sentence structure is
      // injected deterministically (the q141 pattern): a period after
      // every 'table' token
      graft.operators.Packing.chunkBySentences(
        t(s, d, "documents").withColumn("text",
          regexp_replace(col("text"), "\\btable\\b", "table.")),
        "doc_id", "text", budget = 20)),
    "q164_cdc_stream" -> ((s, d) => {
      // batch-parity gate for STREAMING CDC apply: q151's deterministic
      // feed (v1 D on %13, v1 U doubling %11, v2 U tripling even %11, v1
      // inserts) replayed through a MemoryStream into applyCdcStream in
      // one micro-batch; the Update-mode emissions ARE the merged current
      // table, and the oracle is the batch MERGE of the same sample.
      // Bounded deterministic sample doc_id % 100 < 10 keeps the driver
      // feed O(sample) at any sf (the q133/q134 contract).
      import s.implicits._
      val d0 = t(s, d, "documents").filter(col("doc_id") % 100 < 10)
        .select(col("doc_id"), col("source"), col("n_chars"))
      def ch(df: DataFrame, v: Long, op: String): DataFrame =
        df.withColumn("version", lit(v)).withColumn("op", lit(op))
      val feed = ch(d0.filter(col("doc_id") % 13 === 0), 1L, "D")
        .unionByName(ch(d0.filter(col("doc_id") % 11 === 0)
          .withColumn("n_chars", col("n_chars") * 2), 1L, "U"))
        .unionByName(ch(d0.filter(col("doc_id") % 11 === 0 && col("doc_id") % 2 === 0)
          .withColumn("n_chars", col("n_chars") * 3), 2L, "U"))
        .unionByName(ch(d0.filter(col("doc_id") < 20)
          .withColumn("doc_id", col("doc_id") + 300000L), 1L, "I"))
      val rows = ch(d0, Long.MinValue, "I").unionByName(feed)
        .select(col("doc_id"), col("version"), col("op"), col("source"), col("n_chars"))
        .as[(Long, Long, String, String, Long)].collect().toSeq
        .map { case (k, v, op, src, nc) =>
          graft.streaming.Streams.CdcChange(k, v, op, src, nc) }
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streams.CdcChange]
      mem.addData(rows: _*)
      val qn = s"q164_cdc_${memSeq.incrementAndGet()}"
      val q = startStreamFewParts(s)(
        graft.streaming.Streams.applyCdcStream(mem.toDS())
          .writeStream.format("memory").queryName(qn).outputMode("update").start())
      try q.processAllAvailable() finally q.stop()
      s.table(qn).select(col("key").as("doc_id"), col("source"),
        col("nChars").as("n_chars"))
    }),
    "q165_semantic_decontaminate" -> ((s, d) => {
      // embedding-level decontamination: benchmark = vectors 0-4, corpus =
      // the table plus injected "rephrased" leaks (benchmark vectors with
      // the first component nudged +0.01 under fresh ids — cosine ~0.9999,
      // the paraphrase that n-gram checks miss). At threshold 0.95 the
      // flagged set must be exactly the benchmark rows themselves (cosine
      // 1) and the five injected leaks; the noise corpus peaks at ~0.40.
      val emb = t(s, d, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("embedding"))
      val bench = emb.filter(col("vec_id") < 5)
      val rephrased = bench.select((col("vec_id") + 100000L).as("vec_id"),
        concat(array(element_at(col("embedding"), 1) + lit(0.01d)),
          slice(col("embedding"), 2, 63)).as("embedding"))
      graft.operators.Contamination.semanticContaminatedIds(
          emb.unionByName(rephrased), "vec_id", "embedding", bench,
          minCosine = 0.95)
        .select(col("vec_id"), round(col("max_cosine"), 6).as("max_cosine"),
          col("n_hits"))
    }),
    "q166_near_dedup_snapshot" -> ((s, d) => {
      // incremental MinHash near-dedup: docs < 250 are the released
      // corpus, the rest arrive as the fresh batch; fresh docs near-dup
      // (jaccard >= 0.7) to ANY released doc are dropped. The prior side
      // is exactly the persistable (bands, shingles) index — daily
      // batches never rescan released text.
      val docs = t(s, d, "documents")
      NearDedup.nearDedupAgainstSnapshotMinhash(
          docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
          "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    "q167_key_skew" -> ((s, d) =>
      // pre-flight skew profile of the lineitem join key: exact top-10
      // heaviest suppliers with share and skew factor — the number that
      // decides salting vs AQE before the job runs
      graft.operators.Skew.keySkewProfile(
        t(s, d, "lineitem"), col("l_suppkey"), topN = 10)),
    "q168_token_budget" -> ((s, d) =>
      // fill a 15k-token budget best-first: score = coarse n_chars bucket
      // (deliberately tied so the boundary score has real multiplicity and
      // the hash-ordered greedy fill is exercised), tokens = word count
      graft.operators.Sampling.selectToTokenBudget(
        t(s, d, "documents"), "doc_id", expr("n_chars div 100"),
        size(filter(split(trim(coalesce(col("text"), lit(""))), "\\s+"),
          w => length(w) > 0)),
        budget = 15000L)),
    "q169_budget_per_source" -> ((s, d) => {
      // per-source budget filling: each source gets its own allocation
      // (300 + 40*index tokens — every source hits its boundary at this
      // fixture density), the two-operator pipeline a temperature mix
      // feeds in production. Zero single-partition stages: both windows
      // partition by source.
      val docs = t(s, d, "documents")
      val budgets = docs.select(col("source")).distinct()
        .withColumn("budget",
          lit(300L) + expr("CAST(substring(source, 4) AS LONG)") * 40L)
      graft.operators.Sampling.selectToTokenBudgetPerGroup(docs, "doc_id",
        "source", expr("n_chars div 100"),
        size(filter(split(trim(coalesce(col("text"), lit(""))), "\\s+"),
          w => length(w) > 0)),
        budgets)
    }),
    "q172_training_triples" -> ((s, d) => {
      // the complete contrastive-training data pipeline: positives mined
      // from near-dup structure (the q159 signal), hard negatives mined
      // lexically with those same positives excluded (the q158 contract),
      // emitted as the (query, positive, negative, rank) triples a
      // DPR-style trainer consumes
      val docs = t(s, d, "documents")
      val idx = graft.operators.Retrieval.sparseTfIdfIndex(docs, "doc_id", "text")
      // jp materialized once — see q158: positives fans out to three
      // consumers here (query derivation, the anti-join, the final join),
      // each of which re-executed both union branches' full pair pipeline.
      val jp = NearDedup.ngramJaccardPairs(
        docs.filter(col("doc_id") < 600), "doc_id", "text",
        shingleSize = 3, threshold = 0.5).localCheckpoint()
      val positives = jp.select(col("id_a").as("query_id"), col("id_b").as("positive_id"))
        .union(jp.select(col("id_b").as("query_id"), col("id_a").as("positive_id")))
      val queries = docs.join(
        positives.select(col("query_id").as("doc_id")).distinct(), Seq("doc_id"))
      val negs = graft.operators.Retrieval.hardNegatives(idx, queries,
        "doc_id", "text",
        positives.select(col("query_id"), col("positive_id").as("doc_id")), k = 3)
      negs.select(col("query_id"), col("doc_id").as("negative_id"), col("rank"))
        .join(positives, Seq("query_id"))
        .select(col("query_id"), col("positive_id"), col("negative_id"), col("rank"))
    }),
    "q173_contamination_spans" -> ((s, d) => {
      // contamination ATTRIBUTION: maximal word-index spans of consecutive
      // benchmark 5-gram hits — the reviewer-facing view behind q80's
      // drop decision (docs 0-4 are the benchmark, so they self-attribute
      // as full-length spans and true leaks show as partial ones)
      val docs = tS(s, d, "documents", "doc_id")
      graft.operators.Contamination.contaminationSpans(
        docs, "doc_id", "text", docs.filter(col("doc_id") < 5), "text", n = 5)
    }),
    "q174_contamination_excise" -> ((s, d) => {
      // span EXCISION: cut exactly the word ranges q173 attributes and keep
      // the rest — the surgical alternative to q80's whole-document drop.
      // Benchmark docs (0-4) self-attribute fully and come out empty; clean
      // docs pass through rejoined with 0 removed. Disjoint spans (the
      // round-9 merge fix) are what make the removed-word count exact.
      val docs = tS(s, d, "documents", "doc_id")
      graft.operators.Contamination.exciseContaminatedSpans(
        docs, "doc_id", "text", docs.filter(col("doc_id") < 5), "text", n = 5)
    }),
    "q175_winnow_fingerprints" -> ((s, d) =>
      // winnowing (Schleimer et al. 2003, the MOSS fingerprinter): rightmost
      // minimal 32-bit gram hash per 4-window over character 8-grams of the
      // whitespace-stripped text — every selected (pos, fp) replays
      // bit-exactly from the portable md5 fold, so the full local-
      // fingerprinting pipeline is oracle-checked, not just counted
      NearDedup.winnowFingerprints(t(s, d, "documents"), "doc_id", "text",
        k = 16, w = 8)),
    "q176_winnow_pairs" -> ((s, d) =>
      // substring-level near-dup candidates: pairs sharing >= 2 winnowing
      // fingerprints. Deterministic recall floor: any shared verbatim
      // canonical substring of length >= k + w - 1 = 23 chars shares a
      // fingerprint — the quote/plagiarism signal MinHash's whole-document
      // similarity dilutes away
      NearDedup.winnowPairs(t(s, d, "documents"), "doc_id", "text",
        k = 16, w = 8, minShared = 2)),
    "q177_image_dhash" -> ((s, d) => {
      // perceptual image hashing over REAL decoded pixels: 64-bit dHash of
      // by-construction gradient BMPs — base and brightness-shifted
      // gradients hash to all-ones (-1: every cell brighter to the right),
      // the inverted gradient to 0, and a single-cell dip flips exactly
      // bit 3 (-9). Every expected value derives from the dHash spec.
      val dir = tmpDir() + "/media_q177"
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.bmp"), fixtureGradientBmp())
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.bmp"), fixtureGradientBmp(shift = 17))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c.bmp"), fixtureGradientBmp(invert = true))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/f.bmp"), fixtureGradientBmp(dip = true))
      graft.operators.Multimodal.imageDHashes(
          graft.operators.Multimodal.readMedia(s, s"$dir/*"))
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
          col("width"), col("height"), col("dhash"))
    }),
    "q178_image_neardup" -> ((s, d) => {
      // image near-dup pairs within a Hamming-8 ball of dHash signatures:
      // the brightness-shifted copy sits at distance 0 from its base, the
      // one-cell dip at distance 1 from both, the inverted gradient (64
      // bits away) pairs with nothing. Candidates come from the pigeonhole
      // chunk scheme (hammingPairs64), never a cartesian.
      val dir = tmpDir() + "/media_q178"
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.bmp"), fixtureGradientBmp())
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.bmp"), fixtureGradientBmp(shift = 17))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c.bmp"), fixtureGradientBmp(invert = true))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/f.bmp"), fixtureGradientBmp(dip = true))
      val hashes = graft.operators.Multimodal.imageDHashes(
          graft.operators.Multimodal.readMedia(s, s"$dir/*"))
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"), col("dhash"))
      graft.operators.Multimodal.imageNearDupPairs(hashes, "file", "dhash", maxHamming = 8)
        .select(col("id_a").as("file_a"), col("id_b").as("file_b"), col("hamming"))
    }),
    "q181_cluster_balance" -> ((s, d) =>
      // semantic topic balancing (the DataComp/Dolma curation step): assign
      // embeddings to their k-means cell (the q103/q104 Lloyd core), keep
      // at most 10 per cell in portable-hash order — over-represented
      // regions capped, rare topics survive whole. Runs the round-13
      // DEFAULT centroid budget (DefaultMaxCentroids=256, replayed by the
      // oracle's ORDER BY…LIMIT seed rule) — the unbudgeted k ∝ n path
      // measured ×58 across the sf1→sf10 decade and is now opt-in.
      graft.functions.VectorFunctions.clusterBalancedSample(
        t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", perCellCap = 10, centroidEvery = 25,
        trainEvery = 5)),
    "q195_pq_budget" -> ((s, d) => {
      // q128's PQ pipeline with a FIXED per-subspace codebook budget that
      // BINDS at oracle scale (maxCentroids=8 < the 10 sf0.01 seeds from
      // id % 50 over 500 vectors), so the row_number≤k replay rule is
      // exercised by the correctness gate, not dormant. Since round 13 the
      // budget is also the library DEFAULT (DefaultMaxCentroids=256 —
      // q128 takes that path); this query pins the rule at a k where it
      // filters. The bare unbudgeted seed grows the codebook with the
      // corpus, making train/encode joins n²/50 — the sf1→sf10 decade
      // measured ×109 on that path (SCALING.md).
      val emb = t(s, d, "embeddings")
      VectorFunctions.pqTopK(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, dim = 64, trainEvery = 5,
        maxCentroids = 8)
    }),
    "q194_lloyd_budget" -> ((s, d) =>
      // q181 with a FIXED centroid budget that BINDS at oracle scale
      // (maxCentroids=12 < the 20 sf0.01 seeds from id % 25 over 500
      // vectors), so the ORDER BY…LIMIT replay rule is exercised by the
      // correctness gate, not dormant. Since round 13 the budget is also
      // the library DEFAULT (DefaultMaxCentroids=256 — q181 takes that
      // path); this query pins the rule at a k where it filters. The bare
      // systematic seed grows k with the corpus, so brute assignment is
      // n·k = n²/25 — measured ×58 across the sf1→sf10 decade; a fixed
      // budget restores linear assignment (the fixed-k k-means/IVF regime).
      graft.functions.VectorFunctions.clusterBalancedSample(
        t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", perCellCap = 10, centroidEvery = 25,
        trainEvery = 5, maxCentroids = 12)),
    "q190_bloom_roundtrip" -> ((s, d) => {
      // point-lookup layout: documents re-written with a doc_id bloom
      // filter, then probed with an IN filter — the row groups that
      // survive come from bloom skipping, and the rows must equal the
      // plain-scan answer (false positives cost IO, never correctness)
      val dir = tmpDir() + "/bloom_q190"
      graft.sinks.Bucketing.writeWithBloomFilters(
        t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
        dir, Seq("doc_id"), ndv = 100000L)
      s.read.parquet(dir)
        .filter(col("doc_id").isin(3L, 97L, 205L, 444L))
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),
    "q189_image_hash_stream" -> ((s, d) => {
      // batch-parity gate for STREAMING perceptual dedup: the q177
      // gradient fixtures (plus their brightness-shifted duplicates) fed
      // through a MemoryStream, dHash computed by the SAME mapPartitions
      // decode stage inside the streaming query, then a complete-mode
      // count per hash — the dedup signal (hash -1 carries the duplicate
      // pair at n_images=2)
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Array[Byte])]
      mem.addData(
        ("a.bmp", fixtureGradientBmp()),
        ("b.bmp", fixtureGradientBmp(shift = 17)),
        ("c.bmp", fixtureGradientBmp(invert = true)),
        ("f.bmp", fixtureGradientBmp(dip = true)))
      val qn = s"q189_imghash_${memSeq.incrementAndGet()}"
      val q = startStreamFewParts(s)(
        graft.operators.Multimodal.imageDHashes(
            mem.toDF().toDF("path", "content"))
          .groupBy(col("dhash")).agg(count(lit(1)).as("n_images"))
          .writeStream.format("memory").queryName(qn).outputMode("complete").start())
      try q.processAllAvailable() finally q.stop()
      s.table(qn)
    }),
    "q188_datasheet" -> ((s, d) =>
      // the release data card (Datasheets for Datasets accounting): one
      // exact-integer row per source — volume, language makeup with the
      // deterministic dominant language, exact-dup copies, PII exposure —
      // co-signable by any engine reading the same parquet
      graft.operators.Profile.datasheet(
        t(s, d, "documents"), "source", "doc_id", "text", "lang")),
    "q187_robots_filter" -> ((s, d) => {
      // crawl compliance (RFC 9309): parse robots.txt bodies into agent
      // rule groups, classify URLs by longest-matching prefix. The
      // expectations are hand-derived from the RFC: the exact-agent group
      // overrides '*' entirely, Allow beats a shorter Disallow,
      // consecutive User-agent lines share one group, no match = allowed
      import s.implicits._
      val robots = Seq(
        ("hosta.example", "User-agent: graftbot\nDisallow: /private/\nAllow: /private/pub/\n# comment\nUser-agent: *\nDisallow: /"),
        ("hostb.example", "User-agent: otherbot\nUser-agent: graftbot\nDisallow: /tmp/\nDisallow:")
      ).toDF("host", "content")
      val urls = Seq(
        "http://hosta.example/private/secret",
        "http://hosta.example/private/pub/x",
        "http://hosta.example/open",
        "http://hosta.example",
        "http://hostb.example/tmp/x",
        "http://hostb.example/",
        "http://hostc.example/anything").toDF("url")
      val rules = graft.functions.UrlFunctions.parseRobots(
        robots, "host", "content", "graftbot")
      graft.functions.UrlFunctions.robotsFilter(urls, "url", rules)
    }),
    "q186_dedup_keep_best" -> ((s, d) => {
      // quality-aware cluster dedup: q75's near-dup clusters, but the
      // SURVIVOR is the longest member (coalesced n_chars, id tie-break)
      // instead of the arbitrary min id — what production pipelines keep
      // (the other copies are truncations and boilerplate-wrapped mirrors)
      val docs = t(s, d, "documents").filter(col("doc_id") < 600)
      val pairs = NearDedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      graft.operators.Clustering.dedupByComponentsBest(
          docs, "doc_id", coalesce(col("n_chars"), lit(-1L)), pairs)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),
    "q185_pr_curve" -> ((s, d) => {
      // threshold tuning for the model-based filter: the exact PR curve of
      // "keep iff classifier score >= t" against the lang=='en' ground
      // truth — integer confusion counts, one division each for P/R, the
      // operating-point table a CCNet/FineWeb-style pipeline reads off
      val docs = t(s, d, "documents")
      val scored = graft.functions.Classifier.scoreDocsPortable(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), (col("lang") === "en").as("label")), Seq("doc_id"))
      graft.functions.Classifier.prCurve(scored, "score", "label")
    }),
    "q184_sft_transcripts" -> ((s, d) => {
      // interaction logs -> SFT training examples: per-user chat-format
      // transcript with the assistant lines' char ranges as the loss mask
      // (gradients flow only through assistant spans); ordering pinned by
      // (ts, event_id), offsets exact-integer so the example replays
      val ev = t(s, d, "events").filter(col("user_id") % 10 === 0)
      val turns = ev.select(col("user_id"), tsUs(ev).as("t"), col("event_id"),
        when(col("event_type").isin("view", "click", "signup"), lit("user"))
          .otherwise(lit("assistant")).as("role"),
        col("event_type").as("txt"))
      graft.operators.Transcripts.assemble(turns, Seq("user_id"),
        Seq(col("t"), col("event_id")), "role", "txt")
    }),
    "q183_pii_audit" -> ((s, d) => {
      // PII audit BEFORE redaction: per-type hit counts, injected
      // deterministically so the three classes vary per doc (the q67
      // injection pattern, varied by doc_id residues) — the drop-vs-redact
      // decision input (a doc that is mostly PII is a directory dump)
      val docs = t(s, d, "documents")
      val injected = concat(coalesce(col("text"), lit("")),
        when(col("doc_id") % 7 === 0, lit(" mail a@b.co and c@d.org")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" from 10.0.0.1")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" call +15551234567")).otherwise(lit("")))
      graft.operators.Tuning.spread(docs, col("doc_id")).select(col("doc_id"),
          graft.functions.TextFunctions.piiCounts(injected).as("p"))
        .select(col("doc_id"), col("p.n_emails"), col("p.n_ips"), col("p.n_phones"),
          (col("p.n_emails") + col("p.n_ips") + col("p.n_phones")).as("pii_total"))
    }),
    "q182_winnow_snapshot" -> ((s, d) => {
      // incremental substring-level contamination check: fresh docs (ids
      // >= 400) winnow-fingerprinted against the released corpus (ids
      // < 400) — a fresh doc embedding >= 23 canonical chars of released
      // text ALWAYS surfaces, the local-match case whole-document MinHash
      // similarity dilutes away
      val docs = t(s, d, "documents")
      NearDedup.winnowAgainstSnapshot(
        docs.filter(col("doc_id") >= 400), docs.filter(col("doc_id") < 400),
        "doc_id", "text", k = 16, w = 8, minShared = 2)
    }),
    "q179_audio_fingerprint" -> ((s, d) => {
      // the audio twin of q177: delta-sign energy fingerprints over REAL
      // decoded PCM — ascending per-window amplitudes hash to all-ones
      // (-1), a doubled-gain copy identically (loudness invariance), the
      // descending ramp to 0, one muted window flips exactly bit 3 (-9)
      val dir = tmpDir() + "/media_q179"
      new java.io.File(dir).mkdirs()
      val asc = (1 to 65).map(_ * 450)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.wav"), fixtureEnvelopeWav(asc))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.wav"), fixtureEnvelopeWav(asc.map(v => (v * 101) / 100)))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c.wav"), fixtureEnvelopeWav(asc.reverse))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/f.wav"), fixtureEnvelopeWav(asc.updated(4, 0)))
      graft.operators.Multimodal.audioFingerprints(
          graft.operators.Multimodal.readMedia(s, s"$dir/*"))
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
          col("sample_rate"), col("afp"))
    }),
    "q180_audio_neardup" -> ((s, d) => {
      // audio near-dup pairs within a Hamming-8 ball: the gain-shifted copy
      // at distance 0, the one-window mute at distance 1 from both, the
      // reversed envelope (64 bits away) pairs with nothing
      val dir = tmpDir() + "/media_q180"
      new java.io.File(dir).mkdirs()
      val asc = (1 to 65).map(_ * 450)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.wav"), fixtureEnvelopeWav(asc))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.wav"), fixtureEnvelopeWav(asc.map(v => (v * 101) / 100)))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c.wav"), fixtureEnvelopeWav(asc.reverse))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/f.wav"), fixtureEnvelopeWav(asc.updated(4, 0)))
      val fps = graft.operators.Multimodal.audioFingerprints(
          graft.operators.Multimodal.readMedia(s, s"$dir/*"))
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"), col("afp"))
      graft.operators.Multimodal.audioNearDupPairs(fps, "file", "afp", maxHamming = 8)
        .select(col("id_a").as("file_a"), col("id_b").as("file_b"), col("hamming"))
    }),
    "q170_manifest_stream" -> ((s, d) => {
      // batch-parity gate for the STREAMING manifest: the bounded document
      // sample replayed through a MemoryStream; Update-mode re-emission
      // after the single batch IS the manifest of everything seen, and the
      // oracle is the batch aggregation of the same sample. XOR's order
      // independence is the property under test.
      import s.implicits._
      val rows = t(s, d, "documents").filter(col("doc_id") % 100 < 20)
        .select(col("doc_id"), col("source"), coalesce(col("text"), lit("")))
        .as[(Long, String, String)].collect().toSeq
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String)]
      mem.addData(rows: _*)
      val qn = s"q170_manifest_${memSeq.incrementAndGet()}"
      val q = startStreamFewParts(s)(
        graft.streaming.Streams.streamingManifest(
            mem.toDF().toDF("doc_id", "source", "text"),
            "source", "doc_id", "text")
          .writeStream.format("memory").queryName(qn).outputMode("update").start())
      try q.processAllAvailable() finally q.stop()
      s.table(qn)
    }),
    "q171_mix_budget_fill" -> ((s, d) => {
      // the documented two-operator pipeline end to end: the temperature
      // mix's integer epoch allocation (q119) IS the per-source budget
      // relation the fill consumes — compute the mix, fill each share
      // best-first
      val docs = t(s, d, "documents")
      val budgets = graft.operators.Sampling.temperatureMixWeights(
          docs, col("source"), epochSize = 10000L)
        .select(col("source"), col("alloc").as("budget"))
      graft.operators.Sampling.selectToTokenBudgetPerGroup(docs, "doc_id",
        "source", expr("n_chars div 100"),
        size(filter(split(trim(coalesce(col("text"), lit(""))), "\\s+"),
          w => length(w) > 0)),
        budgets)
    }),
    "q197_tfidf_champion" -> ((s, d) => {
      // q130's doc-to-doc sparse serve on a CHAMPION-LIST index (round 14):
      // uncapped, every posting list on this fixture grows ∝ n/31 (the
      // 31-term synthetic vocabulary) and the serve join pays
      // |query terms| × df(t) rows — q130 timed out (>900 s) at sf100.
      // maxPostings=100 keeps only each term's 100 highest-tf docs in the
      // index (Manning et al. IR §7.1.3; df/weights stay full-corpus), so
      // serve cost is |query terms| × 100 REGARDLESS of corpus size. A df
      // cap (stop-listing) cannot work here: the fixture's df distribution
      // is bimodal (one term at 5%·n, the rest at ~77%·n), so any binding
      // absolute or relative cap empties the query overlap. The truncation
      // binds at oracle scale (sf0.01 posting lists are ~380 docs), so the
      // champion rule is exercised by the correctness gate, not dormant —
      // the q191/q194/q195 pattern.
      val docs = t(s, d, "documents")
      graft.operators.Retrieval.sparseTfIdfTopK(
        docs, "doc_id", "text", docs.filter(col("doc_id") < 3), k = 5,
        maxPostings = 100)
    }),
    "q198_tfidf_champion_serve" -> ((s, d) => {
      // q197's champion-list index on the SERVE TIER (round 15, the q143
      // pattern): the truncated index is built once per corpus, persisted
      // (Memoize parquet — what an IR system stores), and a single query
      // document ranks through one term-keyed join against the STORED
      // champion lists. This is the production shape the sf100 story
      // needs: build cost is paid per corpus release, serve cost is
      // |query terms| × maxPostings rows per query regardless of corpus
      // size — the flat-serve claim q197 makes, measured here without the
      // in-query index build.
      val docs = t(s, d, "documents")
      val index = servedIndexes.getOrElseUpdate("tfidf_champ:" + d,
        graft.operators.Memoize.memoize(
          graft.operators.Retrieval.sparseTfIdfIndex(
            docs, "doc_id", "text", maxPostings = 100),
          tmpDir() + "/tfidf_champ_index"))
      graft.operators.Retrieval.sparseTfIdfTopKWith(
        index, docs.filter(col("doc_id") === 0), "doc_id", "text", k = 5)
    }),
    "q199_tfidf_champion_stream" -> ((s, d) => {
      // The STREAMING serve tier of the stored champion index (round 15 —
      // completes the q197/q198 treatment): query documents arrive through
      // a MemoryStream and rank against the persisted champion lists
      // without re-tokenizing the corpus, the shape of a live retrieval
      // intake (RAG queries, decontamination triage) over a 100 TB release.
      // Streaming legality comes from the round-15 termCounts kernel:
      // per-query tf is row-local (no aggregation), the index joins
      // STREAM-STATIC (broadcast — champion lists are |vocab|×maxPostings
      // bounded by construction, so no per-microbatch exchange), and the
      // one streaming aggregation is the (query, doc) score sum in
      // complete mode. The rank-at-k cut (a window — not streaming-legal)
      // runs batch over the drained sink table, bounded by
      // |queries| × |query terms| × maxPostings rows. Feed = the
      // deterministic sample doc_id % 97 == 0 collected into the
      // MemoryStream (test-harness boundary, as q193); the oracle is the
      // q198 SQL with the same sample predicate — batch parity IS the
      // check.
      import s.implicits._
      val docs = t(s, d, "documents")
      val index = servedIndexes.getOrElseUpdate("tfidf_champ:" + d,
        graft.operators.Memoize.memoize(
          graft.operators.Retrieval.sparseTfIdfIndex(
            docs, "doc_id", "text", maxPostings = 100),
          tmpDir() + "/tfidf_champ_index"))
      val sample = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      mem.addData(sample: _*)
      val queries = mem.toDF().toDF("doc_id", "text")
      val scored = graft.operators.Retrieval.sparseTfIdfScored(
        broadcast(index), queries, "doc_id", "text")
      val qn = s"q199_champ_${memSeq.incrementAndGet()}"
      // one state store per shuffle partition for the query's life (q193):
      // 8 is plenty for the (query_id, doc_id) state width
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      val q =
        try scored.writeStream.format("memory").queryName(qn)
          .outputMode("complete").start()
        finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      try q.processAllAvailable() finally q.stop()
      graft.operators.Retrieval.sparseTfIdfRankCutK(s.table(qn), k = 5)
    }))

  /** The full driver fixture set — shared by the q145 schema canary, the
    * Bench warm-up, and the fixture-rewriting specs so a new table needs
    * exactly one edit.
    */
  val fixtureTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** q147 Misra-Gries parity constants — the ONLY definition; the oracle
    * SQL interpolates them so capacity/shard changes cannot desync the two
    * sides. Capacity is deliberately generous: exactness needs
    * distinct (event_type, user-bucket) items per shard <= capacity, and
    * 512 leaves an order of magnitude of headroom over any plausible
    * fixture regeneration (5 types x 7 buckets today).
    */
  private val hhCapacity = 512
  private val hhShards = 4

  /** Engine-neutral type tokens for the schema canary: both Spark types
    * (here) and DuckDB DESCRIBE strings (oracle SQL) collapse onto these,
    * so a drift on EITHER side of the oracle compare shows as a value
    * mismatch. Legacy nanos-as-long timestamps surface as `i64` on the
    * Spark side while DuckDB reports TIMESTAMP_NS -> `ts` — exactly the
    * round-7 drift — so that lake shape is canary-red by design.
    */
  private def canonType(dt: org.apache.spark.sql.types.DataType): String = dt match {
    case LongType    => "i64"
    case IntegerType => "i32"
    case ShortType   => "i16"
    case ByteType    => "i8"
    case DoubleType  => "f64"
    case FloatType   => "f32"
    case StringType  => "str"
    case BooleanType => "bool"
    case DateType    => "date"
    case BinaryType  => "bin"
    case TimestampType | TimestampNTZType => "ts"
    // DuckDB DESCRIBE says DECIMAL(p,s) -> ELSE lower(t); emit the same
    case d: DecimalType  => s"decimal(${d.precision},${d.scale})"
    case ArrayType(e, _) => s"arr<${canonType(e)}>"
    case MapType(k, v, _) => s"map<${canonType(k)},${canonType(v)}>"
    case st: StructType =>
      st.fields.map(f => s"${f.name}:${canonType(f.dataType)}")
        .mkString("struct<", ",", ">")
    case other => other.simpleString
  }

  /** Unique memory-sink names for streaming parity queries (Bench reruns
    * each query several times in one session).
    */
  private val memSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-sf-dir trained PQ codebooks (tiny: ~centroids × subspaces rows) —
    * the "train offline once, serve many" cache behind q132.
    */
  private val pqBooks =
    scala.collection.concurrent.TrieMap.empty[String, (org.apache.spark.sql.types.StructType, Array[Row])]

  /** Per-sf-dir corpus gram tables (bounded by |charset|^n) — the
    * train-once/serve-many cache behind q90, mirroring pqBooks.
    */
  private val gramTables = scala.collection.concurrent.TrieMap
    .empty[String, java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Long]]

  /** Per-(kind, sf-dir) parquet-backed index readers for the serve-latency
    * queries (q142 PQ codes, q143 postings) — the DataFrame wraps a plain
    * parquet read of the memoized index, cached so repeated queries skip
    * the memoize fingerprint (an analysis + file listing per call).
    */
  private val servedIndexes =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Per-sf-dir DSIR weight tables (≤ buckets rows) — the train-once cache
    * behind q144, mirroring pqBooks.
    */
  private val dsirWeights = scala.collection.concurrent.TrieMap
    .empty[String, (org.apache.spark.sql.types.StructType, Array[Row])]

  // =====================================================================
  // DuckDB oracles — same column names, deterministic result sets; every
  // registered query has one (PlanShapeSpec pins queries.keySet ==
  // oracleSql.keySet).
  // =====================================================================
  def oracleSql: Map[String, String] = Map(
    "q01_filter_columns" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
    "q02_rename" ->
      "SELECT l_orderkey AS orderkey, l_quantity AS qty FROM lineitem",
    "q03_map_insert" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) AS revenue FROM lineitem",
    "q04_replace_value" ->
      "SELECT doc_id, CASE WHEN lang = 'en' THEN 'english' ELSE lang END AS lang FROM documents",
    "q05_replace_in_string" ->
      "SELECT doc_id, replace(text, 'the', 'THE') AS text FROM documents",
    "q06_insert_rows" ->
      "SELECT r_regionkey, r_name FROM region UNION ALL SELECT 5, 'NOWHERE'",
    "q07_filter_values" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'",
    "q08_filter_out_null" ->
      "SELECT event_id, value AS val2 FROM events WHERE value >= 50.0",
    "q09_filter_regexp" ->
      "SELECT p_partkey, p_name FROM part WHERE p_name IS NOT NULL AND regexp_matches(p_name, '^(?:b)')",
    "q10_dedup" ->
      "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
    "q11_dedup_fields" ->
      "SELECT o_custkey, o_orderkey, o_totalprice FROM orders QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1",
    "q12_head" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 10",
    "q13_skip" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey OFFSET 100",
    "q14_maxn" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q15_minn" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice ASC, o_orderkey LIMIT 10",
    "q16_head_per_partition" ->
      "SELECT user_id, event_id, value FROM events QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) <= 3",
    "q17_join_warn" ->
      "SELECT c_custkey, c_name, c_nationkey, n_name, n_regionkey FROM customer JOIN nation ON c_nationkey = n_nationkey",
    "q18_join_nullpad" ->
      "SELECT c_custkey, c_name, c_nationkey, n_name, n_regionkey FROM customer LEFT JOIN (SELECT * FROM nation WHERE n_regionkey < 2) n ON c_nationkey = n_nationkey",
    "q19_group" ->
      "SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, count(*) AS cnt FROM lineitem GROUP BY l_returnflag",
    "q20_group_all" ->
      "SELECT max(o_totalprice) AS max_price, min(o_totalprice) AS min_price, count(*) AS cnt FROM orders",
    "q21_group_reduce" ->
      "SELECT l_returnflag, count(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty FROM lineitem GROUP BY l_returnflag",
    "q22_pivot" ->
      ("SELECT user_id, " +
        Seq("click", "error", "purchase", "signup", "view").map(v =>
          s"arg_max(CASE WHEN event_type = '$v' THEN value END, CASE WHEN event_type = '$v' THEN event_id END) AS \"value-$v\"")
          .mkString(", ") +
        " FROM events GROUP BY user_id"),
    "q23_unpivot" ->
      ("SELECT l_orderkey, l_linenumber, 'l_quantity' AS field, l_quantity AS value FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem"),
    "q24_transpose" ->
      ("SELECT 'r_name' AS field, " + (0 to 4).map(k =>
        s"max(CASE WHEN r_regionkey = $k THEN r_name END) AS \"$k\"").mkString(", ") +
        " FROM region"),
    "q25_split" ->
      "SELECT doc_id, unnest(string_split(text, ' ')) AS text FROM documents",
    "q26_window_by" ->
      "SELECT user_id, event_id, value, sum(value) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS rsum FROM events",
    "q27_window_global" ->
      "SELECT n_nationkey, CAST(sum(n_nationkey) OVER (ORDER BY n_nationkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS rsum FROM nation",
    "q28_concat" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity < 5.0 " +
        "UNION ALL SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity >= 45.0"),
    "q29_typedetect" ->
      "SELECT l_orderkey AS okey, l_quantity AS qty, CAST(l_shipdate AS DATE) AS sdate, l_returnflag AS flag FROM lineitem",
    "q30_pk_detect" ->
      ("SELECT CASE WHEN count(DISTINCT o_orderstatus) = count(*) THEN 'o_orderstatus' " +
        "WHEN count(DISTINCT o_orderkey) = count(*) THEN 'o_orderkey' " +
        "WHEN count(DISTINCT o_custkey) = count(*) THEN 'o_custkey' ELSE 'none' END AS pk_col FROM orders"),
    "q31_parse_time" ->
      ("WITH p AS (SELECT event_id, strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS nt FROM events), " +
        "c AS (SELECT event_id, timezone('UTC', timezone('CET', nt)) AS ot FROM p) " +
        "SELECT event_id, strftime(ot, '%Y-%m-%d %H:%M:%S') AS t_str, CAST(ot AS DATE) AS t_date, CAST(hour(ot) AS INTEGER) AS t_hour FROM c"),
    "q32_flatmap" ->
      "SELECT event_id, value AS v FROM events UNION ALL SELECT event_id, -value FROM events",
    "q33_bulkmap" ->
      "SELECT event_id, value * 2.0 AS v2 FROM events",
    "q34_sqldump" ->
      "SELECT * FROM (VALUES ('11', '435787', 'Yes' || chr(13) || chr(10) || 'I''m good.', '2011-07-03 12:15:44'), ('13', '242393', 'Foo', 'Bar')) AS t(id, \"number\", title, datetime)",
    "q35_zip_csv" ->
      "SELECT * FROM (VALUES ('1', '2'), ('3', '4')) AS t(a, b)",
    "q36_push_roundtrip" ->
      "SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey, o_orderstatus FROM (SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5)",
    "q37_memoize" ->
      "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag",
    "q38_user_agent" -> uaOracleSql,
    "q39_geoip" -> geoOracleSql,
    "q40_wordcount" ->
      ("SELECT word, cnt FROM (SELECT word, count(*) AS cnt FROM " +
        "(SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word FROM documents) " +
        "GROUP BY word) ORDER BY cnt DESC, word LIMIT 20"),
    "q41_text_stats" -> textStatsOracleSql,
    "q42_lang_id" -> langIdOracleSql,
    "q43_quality_score" -> qualityOracleSql,
    // subwordCount's lookahead split = counting maximal class runs (letter+,
    // digit+, other+ non-space), which IS RE2-expressible via extract_all —
    // the lookaheads themselves are not.
    "q44_subword_count" ->
      ("SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST(1 AS BIGINT) ELSE " +
        "CAST(len(regexp_extract_all(trim(text), '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+')) AS BIGINT) " +
        "END AS n_subwords FROM documents"),
    "q45_exact_dedup" ->
      ("WITH all_docs AS (SELECT * FROM documents UNION ALL " +
        "SELECT doc_id + 100000, text, lang, source, n_chars FROM documents WHERE doc_id < 50) " +
        "SELECT doc_id, lang, source, n_chars FROM all_docs WHERE doc_id IN " +
        "(SELECT min(doc_id) FROM all_docs GROUP BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"),
    "q46_ngram_jaccard" -> ngramJaccardOracleSql,
    "q140_ngram_containment" ->
      s"""WITH sh AS (SELECT doc_id, list_distinct(
  CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 3
       THEN [array_to_string(regexp_split_to_array(trim(text), '\\s+'), ' ')]
       ELSE list_transform(range(1, len(regexp_split_to_array(trim(text), '\\s+')) - 1),
         i -> array_to_string(regexp_split_to_array(trim(text), '\\s+')[i:i+2], ' ')) END) AS s
  FROM documents WHERE doc_id < 600),
pairs AS (SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
  len(list_intersect(a.s, b.s)) AS i, len(a.s) AS n_a
  FROM sh a, sh b WHERE a.doc_id <> b.doc_id)
SELECT contained_id, container_id, round(CAST(i AS DOUBLE) / n_a, 4) AS containment
FROM pairs WHERE CAST(i AS DOUBLE) / n_a >= 0.6""",
    "q141_boilerplate_sentences" ->
      """WITH b AS (SELECT doc_id,
  CASE WHEN doc_id % 7 = 0 THEN text || '. Subscribe to our newsletter! All rights reserved.'
       WHEN doc_id % 5 = 0 THEN text || '. All rights reserved.'
       ELSE text END AS text FROM documents),
sen AS (SELECT doc_id, trim(regexp_replace(x, '\s+', ' ', 'g')) AS sentence
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[^.!?]+[.!?]+|[^.!?]+$')) AS x FROM b) t
  WHERE trim(regexp_replace(x, '\s+', ' ', 'g')) <> ''),
agg AS (SELECT sentence, count(DISTINCT doc_id) AS n_docs, count(*) AS n_total
  FROM sen GROUP BY sentence HAVING count(DISTINCT doc_id) >= 2)
SELECT sentence, n_docs, n_total FROM agg
ORDER BY n_docs DESC, n_total DESC, sentence ASC LIMIT 20""",
    "q50_cosine_topk" -> cosineTopkOracleSql,
    "q51_lsh_topk" -> lshTopKOracleSql(embVectorsSql, queriesBelow = 5, k = 5, bits = 4, tables = 16),
    "q52_ivf_topk" -> ivfTopKOracleSql(nCentroids = 32, nProbe = 20, k = 5, queryFilter = "vec_id < 5"),
    "q53_cosine_neardup" -> lshPairsOracleSql(embWithCopiesSql, "0.95", bits = 8, tables = 4),
    "q54_flatten_json" ->
      ("SELECT * FROM (VALUES (48.8, 'flo', CAST(1 AS BIGINT)), (51.5, 'dou', CAST(2 AS BIGINT))) " +
        "AS t(author_geo_lat, author_name, id)"),
    "q55_eventlog_parse" ->
      ("SELECT * FROM (VALUES (CAST(123 AS BIGINT), CAST(1346806200 AS BIGINT), 'hello world'), " +
        "(CAST(124 AS BIGINT), CAST(1 AS BIGINT), 'x')) AS t(s, st, n)"),
    "q56_window_global_twopass" ->
      ("SELECT o_orderkey, o_totalprice, sum(o_totalprice) OVER " +
        "(ORDER BY o_orderkey ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS rsum FROM orders"),
    "q57_asof_join" ->
      ("WITH v AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'), " +
        "p AS (SELECT user_id, ts, value AS purchase_value FROM events WHERE event_type = 'purchase') " +
        "SELECT v.event_id, v.user_id, v.value, p.purchase_value " +
        "FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts"),
    "q58_range_join" ->
      ("SELECT ev.event_id, ev.value, b.band FROM events ev " +
        "JOIN (VALUES (0, 50, 'low'), (50, 120, 'mid'), (120, 1000, 'high')) b(s, e, band) " +
        "ON ev.value >= b.s AND ev.value < b.e"),
    "q59_salted_agg" ->
      ("SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "count(*) AS cnt FROM lineitem GROUP BY l_returnflag"),
    "q60_distinct_agg" ->
      ("SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders " +
        "FROM orders GROUP BY o_orderstatus"),
    // Injected-exact-copy recall gates: the expected result is exactly the
    // injected pair set (identical content can never be missed by the
    // banding/chunking/bucketing, and exact jaccard/hamming/cosine of
    // identical content is exactly 1 / 0 / 1.0).
    "q61_minhash_exact_recall" ->
      ("SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(1.0 AS DOUBLE) AS jaccard " +
        "FROM documents WHERE doc_id < 50"),
    "q62_simhash_exact_recall" ->
      ("SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS INTEGER) AS hamming " +
        "FROM documents WHERE doc_id < 50"),
    "q63_lsh_self_recall" ->
      ("SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id, " +
        "CAST(1.0 AS DOUBLE) AS cosine, CAST(1 AS INTEGER) AS rank " +
        "FROM embeddings WHERE vec_id < 20"),
    "q64_ivf_self_recall" ->
      ("SELECT vec_id AS query_id, vec_id + 100000 AS neighbor_id, " +
        "CAST(1.0 AS DOUBLE) AS cosine, CAST(1 AS INTEGER) AS rank " +
        "FROM embeddings WHERE vec_id < 20"),
    "q65_mongo_dump" ->
      ("SELECT * FROM (VALUES " +
        "('507f1f77bcf86cd799439011', CAST(4.3 AS DOUBLE), CAST(1 AS BIGINT), 'coucou'), " +
        "('507f1f77bcf86cd799439012', CAST(4.2 AS DOUBLE), CAST(2 AS BIGINT), 'salut')) " +
        "AS t(_id, f, rown, s)"),
    "q66_repetition" -> repetitionOracleSql,
    "q69_set_ops" ->
      ("SELECT o_custkey, 'both' AS op FROM (SELECT o_custkey FROM orders WHERE o_orderkey < 2000 " +
        "INTERSECT SELECT o_custkey FROM orders WHERE o_orderkey >= 1000) " +
        "UNION ALL " +
        "SELECT o_custkey, 'only_low' AS op FROM (SELECT o_custkey FROM orders WHERE o_orderkey < 2000 " +
        "EXCEPT SELECT o_custkey FROM orders WHERE o_orderkey >= 1000)"),
    "q70_corpus_clean" -> corpusCleanOracleSql,
    "q73_media_decode" ->
      ("SELECT * FROM (VALUES " +
        "('img.bmp', 'image', 8, 8, 1, 0, CAST(0 AS BIGINT), CAST(0.5 AS DOUBLE)), " +
        "('img.gif', 'image', 8, 8, 1, 0, CAST(0 AS BIGINT), CAST(0.5 AS DOUBLE)), " +
        "('img.jpg', 'image', 16, 8, 1, 0, CAST(0 AS BIGINT), CAST(0.5 AS DOUBLE)), " +
        "('img2.jpg', 'image', 16, 8, 1, 0, CAST(0 AS BIGINT), CAST(0.5 AS DOUBLE)), " +
        "('img.png', 'image', 8, 8, 1, 0, CAST(0 AS BIGINT), CAST(0.5 AS DOUBLE)), " +
        "('sound.wav', 'audio', 0, 0, 1, 8000, CAST(1000 AS BIGINT), CAST(0.5 AS DOUBLE)), " +
        // G.711 expansions are exact integers over a power-of-two scale:
        // μ-law 0x80 → 32124/32768, A-law 0xAA → 32256/32768
        "('ulaw.wav', 'audio', 0, 0, 1, 8000, CAST(1000 AS BIGINT), CAST(0.9803466796875 AS DOUBLE)), " +
        "('alaw.wav', 'audio', 0, 0, 1, 8000, CAST(1000 AS BIGINT), CAST(0.984375 AS DOUBLE)), " +
        "('sound.mp3', 'audio', 0, 0, 25, 32000, CAST(900 AS BIGINT), CAST(0.0 AS DOUBLE)), " +
        // FLAC payload decoded for real (24 frames: constant/LPC/fixed-
        // Rice2/mid-side, all samples ±16384): RMS exactly 0.5
        "('sound.flac', 'audio', 0, 0, 24, 48000, CAST(2000 AS BIGINT), CAST(0.5 AS DOUBLE)), " +
        "('sound.ogg', 'audio', 0, 0, 1, 16000, CAST(500 AS BIGINT), CAST(0.0 AS DOUBLE)), " +
        "('clip.mp4', 'video', 0, 0, 30, 0, CAST(1234 AS BIGINT), CAST(0.0 AS DOUBLE)), " +
        "('clip.avi', 'video', 0, 0, 48, 0, CAST(1920 AS BIGINT), CAST(0.0 AS DOUBLE)), " +
        "('clip.webm', 'video', 0, 0, 1, 0, CAST(1500 AS BIGINT), CAST(0.0 AS DOUBLE))) " +
        "AS t(file, media_type, width, height, n_frames, sample_rate, duration_ms, f0)"),
    "q72_top_terms" ->
      ("WITH terms AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM terms WHERE length(term) > 0 GROUP BY 1, 2), " +
        "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "ranked AS (SELECT doc_id, term, tf, CAST(row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS INTEGER) AS rank FROM tf) " +
        "SELECT doc_id, term, tf, df, rank FROM ranked JOIN dfreq USING (term) WHERE rank <= 3"),
    // greedy subsequence = step-wise "min ts of step k strictly after step
    // k-1" (tie equivalence argued in Funnel's scaladoc)
    "q71_funnel" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events), " +
        "s1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id) " +
        "WHERE event_type = 'click' AND t > t1 GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id) " +
        "WHERE event_type = 'purchase' AND t > t2 GROUP BY e.user_id) " +
        "SELECT u.user_id, CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 " +
        "WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS steps_completed " +
        "FROM (SELECT DISTINCT user_id FROM e) u " +
        "LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"),
    "q68_sessionize_batch" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events), " +
        "m AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER " +
        "(PARTITION BY user_id ORDER BY t) > 1800000000 THEN 1 ELSE 0 END AS nw FROM e), " +
        "s AS (SELECT user_id, t, SUM(nw) OVER (PARTITION BY user_id ORDER BY t " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT user_id, CAST(sid AS BIGINT) AS session_seq, min(t) AS session_start, " +
        "max(t) AS session_end, count(*) AS events FROM s GROUP BY user_id, sid"),
    "q134_dedup_stream" ->
      "SELECT DISTINCT user_id, event_type FROM events WHERE user_id % 100 < 5",
    // round-trip ground truth: boilerplate must vanish, body must come back
    // as the whitespace-canonicalized original (shared with q139)
    "q135_html_extract" -> htmlExpectedOracleSql,
    "q136_html_title_links" ->
      ("SELECT doc_id, 'Doc ' || doc_id || ' of ' || source AS title, " +
        "'https://ex.org/d/' || doc_id || '|https://ex.org/s/' || source || " +
        "'?a=1&b=2|#frag' AS links FROM documents"),
    // replays BOTH upstream rankers (q130's sparse CTEs, q50's cosine
    // CTEs) at k=20, then the fusion arithmetic: CAST(1 AS DOUBLE) guards
    // against DuckDB's DECIMAL literal parsing
    "q137_hybrid_rrf" ->
      """WITH tok AS (SELECT doc_id, w AS t FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) AS w FROM documents) x WHERE len(w) > 0),
tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t),
dft AS (SELECT t, count(*) AS df, greatest(1000000 // count(*), 1) AS w FROM tf GROUP BY t),
qtf AS (SELECT doc_id AS query_id, t, tf AS qtf FROM tf WHERE doc_id < 3),
sc AS (SELECT q.query_id, tf.doc_id, CAST(sum(q.qtf * tf.tf * dft.w) AS BIGINT) AS score
  FROM qtf q JOIN dft USING (t) JOIN tf USING (t)
  WHERE tf.doc_id <> q.query_id GROUP BY q.query_id, tf.doc_id),
sp AS (SELECT query_id, doc_id, rank FROM
  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM sc)
  WHERE rank <= 20),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
  CASE WHEN sqrt(list_sum(list_transform(qv, x -> x * x))) * sqrt(list_sum(list_transform(v, x -> x * x))) = 0.0 THEN 0.0
       ELSE list_sum(list_transform(list_zip(qv, v), p -> p[1] * p[2]))
            / (sqrt(list_sum(list_transform(qv, x -> x * x))) * sqrt(list_sum(list_transform(v, x -> x * x)))) END AS c
  FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id),
de AS (SELECT query_id, neighbor_id AS doc_id, rank FROM
  (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS rank FROM scored)
  WHERE rank <= 20),
f AS (SELECT coalesce(sp.query_id, de.query_id) AS query_id,
  coalesce(sp.doc_id, de.doc_id) AS doc_id,
  coalesce(CAST(1 AS DOUBLE) / (60 + sp.rank), CAST(0 AS DOUBLE)) +
  coalesce(CAST(1 AS DOUBLE) / (60 + de.rank), CAST(0 AS DOUBLE)) AS rrf_score
  FROM sp FULL JOIN de ON sp.query_id = de.query_id AND sp.doc_id = de.doc_id)
SELECT query_id, doc_id, rrf_score, CAST(rank AS INTEGER) AS rank FROM
  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank FROM f)
WHERE rank <= 10""",
    // five-stage replay: domain (q114's chain), quota (q99's), extraction
    // round-trip (shared nrmChainSql/htmlExpectedTextSql fragments),
    // word-count/mean-word-length floor, md5 dedup
    "q138_crawl_pipeline" ->
      s"""WITH u AS (SELECT doc_id, text,
  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://www.' ELSE 'http://sub.' END) || source ||
  (CASE WHEN doc_id % 2 = 0 THEN '.co.uk:443/d/' ELSE '.org:80/d/' END) ||
  CAST(doc_id AS VARCHAR) AS url FROM documents),
hp AS (SELECT doc_id, text,
  lower(regexp_replace(regexp_replace(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2), '^[^@]*@', ''), ':[0-9]*$$', '')) AS host FROM u),
dm AS (SELECT doc_id, text,
  CASE WHEN len(str_split(host, '.')) >= 3
        AND (str_split(host, '.')[-2] || '.' || str_split(host, '.')[-1]) IN
          ('co.uk', 'org.uk', 'ac.uk', 'gov.uk', 'co.jp', 'ne.jp', 'or.jp',
           'com.au', 'net.au', 'org.au', 'co.nz', 'com.br', 'com.cn', 'com.mx',
           'co.in', 'co.kr', 'com.sg', 'com.tr', 'com.ar')
    THEN str_split(host, '.')[-3] || '.' || str_split(host, '.')[-2] || '.' || str_split(host, '.')[-1]
    WHEN len(str_split(host, '.')) >= 2
    THEN str_split(host, '.')[-2] || '.' || str_split(host, '.')[-1]
    ELSE host END AS domain FROM hp),
cap AS (SELECT doc_id, text, domain FROM
  (SELECT *, row_number() OVER (PARTITION BY domain ORDER BY ${portableHash60Sql("doc_id")}, doc_id) AS rk FROM dm)
  WHERE rk <= 10),
eo AS (SELECT doc_id, domain, $htmlExpectedTextSql AS text_out FROM
  (SELECT doc_id, domain, ${nrmChainSql("text")} AS t FROM cap) x),
g AS (SELECT doc_id, domain, text_out,
  CAST(len(regexp_split_to_array(trim(text_out), '\\s+')) AS BIGINT) AS n_words,
  CAST(list_sum(list_transform(regexp_split_to_array(trim(text_out), '\\s+'), w -> length(w))) AS DOUBLE)
    / len(regexp_split_to_array(trim(text_out), '\\s+')) AS mwl FROM eo),
gt AS (SELECT * FROM g WHERE n_words >= 10 AND mwl BETWEEN 2.0 AND 12.0),
fp AS (SELECT *, md5(lower(trim(regexp_replace(text_out, '\\s+', ' ', 'g')))) AS f FROM gt)
SELECT doc_id, domain, n_words FROM
  (SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn FROM fp)
WHERE rn = 1""",
    // same expected-extraction ground truth as q135 — the WARC envelope and
    // HTTP split must be lossless around it
    "q139_warc_to_wet" -> htmlExpectedOracleSql,
    "q133_sessionize_stream" ->
      ("WITH e AS (SELECT user_id, epoch_ms(ts) AS t FROM events " +
        "WHERE user_id % 100 < 5), " +
        "m AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER " +
        "(PARTITION BY user_id ORDER BY t) > 1800000 THEN 1 ELSE 0 END AS nw FROM e), " +
        "s AS (SELECT user_id, t, SUM(nw) OVER (PARTITION BY user_id ORDER BY t " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT user_id, min(t) AS session_start, max(t) AS session_end, " +
        "count(*) AS events FROM s GROUP BY user_id, sid"),
    "q67_redact_pii" ->
      ("""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(""" +
        """text || ' contact bob@example.com at 10.1.2.3 or +12025550123 now', """ +
        """'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), """ +
        """'\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'), """ +
        """'\+[0-9]{7,15}\b', '<PHONE>', 'g') AS clean FROM documents"""),
    "q74_cc_components" ->
      (ccLabelsSql + "\nSELECT id, comp FROM labels"),
    "q75_cc_dedup" ->
      (ccLabelsSql + "\nSELECT doc_id, lang, n_chars FROM documents " +
        "WHERE doc_id < 600 AND doc_id NOT IN (SELECT id FROM labels WHERE comp <> id)"),
    "q76_heavy_hitters" ->
      ("WITH terms AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term " +
        "FROM documents), " +
        "c AS (SELECT term, count(*) AS cnt FROM terms WHERE length(term) > 0 GROUP BY 1), " +
        "n AS (SELECT count(*) AS n FROM terms WHERE length(term) > 0) " +
        "SELECT term, cnt, cnt > n / 1024.0 AS exact_guaranteed FROM c, n " +
        "ORDER BY cnt DESC, term LIMIT 20"),
    "q77_salted_join" ->
      ("SELECT s_nationkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "count(*) AS cnt FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "GROUP BY s_nationkey"),
    "q78_quantiles" ->
      ("SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS p50, " +
        "quantile_cont(l_quantity, 0.95) AS p95, count(*) AS cnt " +
        "FROM lineitem GROUP BY l_returnflag"),
    "q79_partition_reload" ->
      ("SELECT doc_id, lang, n_chars FROM documents WHERE lang <> 'en' " +
        "UNION ALL SELECT doc_id, lang, CAST(-1 AS BIGINT) AS n_chars " +
        "FROM documents WHERE lang = 'en'"),
    "q80_decontaminate" ->
      ("WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), " +
        "sh AS (SELECT doc_id, CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')] " +
        "ELSE list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')) END AS s FROM tk), " +
        "bg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 5), " +
        "hit AS (SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest(s) AS g FROM sh) t JOIN bg USING (g)) " +
        "SELECT doc_id, lang, source FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM hit)"),
    "q81_line_filter" ->
      ("WITH src AS (SELECT doc_id, text || chr(10) || 'This synthetic doc ends properly.' " +
        "|| chr(10) || 'nav' || chr(10) || 'Total chars ' || CAST(n_chars AS VARCHAR) " +
        "|| ' counted.' AS t FROM documents), " +
        "l AS (SELECT doc_id, list_filter(regexp_split_to_array(t, '\\n'), " +
        "x -> length(trim(x)) > 0 AND regexp_matches(trim(x), '[.!?\"]$') " +
        "AND len(regexp_split_to_array(trim(x), '\\s+')) >= 3) AS ls FROM src) " +
        "SELECT doc_id, array_to_string(ls, chr(10)) AS clean FROM l WHERE len(ls) > 0"),
    "q82_sequence_pack" ->
      ("WITH d AS (SELECT doc_id, source, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, source, n_tokens, CAST(SUM(n_tokens) OVER " +
        "(PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS s FROM d) " +
        "SELECT doc_id, source, n_tokens, CAST(floor(s / 512) AS BIGINT) AS seq_id, " +
        "s % 512 AS seq_offset FROM c"),
    "q83_quantize_int8" ->
      ("WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "s AS (SELECT vec_id, v, 127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) AS sc FROM e), " +
        "q AS (SELECT vec_id, list_transform(v, x -> CAST(floor(x * sc + 0.5) AS INTEGER)) AS qv FROM s) " +
        "SELECT vec_id, CAST(t.pos AS INTEGER) AS pos, qv[t.pos + 1] AS q FROM q, range(4) t(pos)"),
    "q84_asof_forward" ->
      ("WITH v AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'), " +
        "p AS (SELECT user_id, ts, value AS purchase_value FROM events WHERE event_type = 'purchase') " +
        "SELECT v.event_id, v.user_id, v.value, p.purchase_value " +
        "FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts <= p.ts"),
    "q85_txt_roundtrip" ->
      "SELECT * FROM (VALUES ('first line'), ('second line'), ('third line')) AS t(text)",
    "q86_xlsx_roundtrip" ->
      "SELECT * FROM (VALUES ('1', 'alpha', '1.5'), ('2', 'beta', '2.0')) AS t(id, name, score)",
    "q87_mojibake" ->
      ("SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'café'), (2, 'naïve'), " +
        "(3, 'already clean')) AS t(id, fixed)"),
    "q88_jdbc_roundtrip" ->
      ("SELECT * FROM (VALUES ('2024-01-01', 'a', '1'), ('2024-01-01', 'b', '2'), " +
        "('2024-01-02', 'c', '3')) AS t(day, k, v)"),
    "q89_http_pull" ->
      "SELECT * FROM (VALUES ('7', 'x'), ('8', 'y')) AS t(a, b)",
    "q90_lm_quality" ->
      (s"""WITH s AS (SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS tx FROM documents),
tris AS (SELECT doc_id, CASE WHEN length(tx) < 3 THEN [tx]
  ELSE list_transform(range(0, length(tx) - 2), i -> substr(tx, i + 1, 3)) END AS gs FROM s),
e AS (SELECT doc_id, unnest(gs) AS g FROM tris),
c AS (SELECT g, count(*) AS c FROM e GROUP BY g)
SELECT doc_id, count(*) AS n_grams, CAST(SUM(c) AS BIGINT) AS freq_sum,
  CAST(SUM(c) AS DOUBLE) / count(*) AS mean_freq
FROM e JOIN c USING (g) GROUP BY doc_id"""),
    "q91_profile" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .map(c => s"SELECT '$c' AS \"column\", count(*) AS n, " +
        s"count(*) - count($c) AS nulls, count(DISTINCT $c) AS n_distinct, " +
        s"CAST(min($c) AS VARCHAR) AS min_str, CAST(max($c) AS VARCHAR) AS max_str FROM orders")
      .mkString(" UNION ALL "),
    "q92_quantized_topk" -> quantizedTopkOracleSql,
    "q47_minhash_pairs" -> minhashPairsOracleSql,
    "q48_minhash_dedup" -> minhashDedupOracleSql,
    "q49_simhash_pairs" -> simhashPairsOracleSql,
    "q93_minhash_portable" -> minhashPairsOracleSql,
    "q94_simhash_portable" -> simhashPairsOracleSql,
    "q95_lsh_portable" -> lshPairsOracleSql(embVectorsSql, "0.25", bits = 6, tables = 4),
    "q97_dup_spans" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks FROM documents),
g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, array_to_string(toks[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)], ' ') AS g
  FROM tk CROSS JOIN UNNEST(range(1, greatest(len(toks) - 8, 0) + 2)) AS r(i)),
d AS (SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
m AS (SELECT g.doc_id, g.pos, CASE WHEN d.g IS NULL THEN 0 ELSE 1 END AS dup
  FROM g LEFT JOIN d ON g.g = d.g),
p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams, CAST(sum(dup) AS BIGINT) AS n_dup
  FROM m GROUP BY doc_id),
runs AS (SELECT doc_id, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM m WHERE dup = 1),
mr AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_dup_run FROM
  (SELECT doc_id, grp, count(*) AS c FROM runs GROUP BY doc_id, grp) GROUP BY doc_id)
SELECT p.doc_id, p.n_grams, p.n_dup, COALESCE(mr.max_dup_run, CAST(0 AS BIGINT)) AS max_dup_run
FROM p LEFT JOIN mr USING (doc_id)""",
    "q98_hash_split" ->
      s"""WITH h AS (SELECT source, n_chars, ${portableHash60Sql("doc_id")} % 100 AS b FROM documents),
s AS (SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
  source, n_chars FROM h)
SELECT split, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
FROM s GROUP BY split, source""",
    "q99_domain_cap" ->
      s"""WITH h AS (SELECT doc_id, source, ${portableHash60Sql("doc_id")} AS hv FROM documents)
SELECT doc_id, source, CAST(rk AS INTEGER) AS rk FROM
  (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rk FROM h)
WHERE rk <= 20""",
    "q100_chunk_overlap" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
st AS (SELECT doc_id, toks, CAST(s AS BIGINT) AS tok_start, CAST(s // 48 AS BIGINT) AS chunk_id
  FROM tk CROSS JOIN UNNEST(range(0, ((greatest(len(toks), 1) - 1) // 48) * 48 + 1, 48)) AS r(s))
SELECT doc_id, chunk_id, tok_start, CAST(least(64, len(toks) - tok_start) AS BIGINT) AS n_toks,
  array_to_string(toks[CAST(tok_start + 1 AS INTEGER):CAST(tok_start + 64 AS INTEGER)], ' ') AS chunk
FROM st""",
    "q101_weighted_mix" ->
      s"""WITH h AS (SELECT doc_id, source,
  CASE WHEN CAST(regexp_extract(source, '(\\d+)$$', 1) AS INTEGER) % 2 = 0 THEN 150 ELSE 50 END AS w,
  ${portableHash60Sql("doc_id")} % 100 AS b FROM documents),
c AS (SELECT doc_id, source, w // 100 + CASE WHEN b < w % 100 THEN 1 ELSE 0 END AS copies FROM h)
SELECT doc_id, source, CAST(cp AS BIGINT) AS copy
FROM c CROSS JOIN UNNEST(range(copies)) AS r(cp) WHERE copies > 0""",
    "q102_span_remove" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS toks FROM documents),
t AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[CAST(i AS INTEGER)] AS tok
  FROM tk CROSS JOIN UNNEST(range(1, len(toks) + 1)) AS r(i)),
g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, array_to_string(toks[CAST(i AS INTEGER):CAST(i + 7 AS INTEGER)], ' ') AS g
  FROM tk CROSS JOIN UNNEST(range(1, greatest(len(toks) - 8, 0) + 2)) AS r(i)),
d AS (SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
runs AS (SELECT g.doc_id, g.pos, g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS grp
  FROM g JOIN d ON g.g = d.g),
iv AS (SELECT doc_id, min(pos) AS s0, count(*) AS r FROM runs GROUP BY doc_id, grp
  HAVING count(*) + 7 >= 20),
cov AS (SELECT DISTINCT doc_id, CAST(s0 + u AS BIGINT) AS pos
  FROM iv CROSS JOIN UNNEST(range(0, r + 7)) AS ru(u))
SELECT t.doc_id,
  COALESCE(string_agg(CASE WHEN cov.pos IS NULL THEN t.tok END, ' ' ORDER BY t.pos), '') AS clean_text,
  CAST(sum(CASE WHEN cov.pos IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id AND t.pos = cov.pos
GROUP BY t.doc_id""",
    "q103_semdedup" -> semDedupOracleSql,
    "q191_semdedup_capped" -> semDedupCappedOracleSql,
    "q192_jdbc_sharded" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "q193_winnow_stream" ->
      // q182's replay with the fresh side restricted to the streamed
      // sample (doc_id % 5 == 0) — the batch-parity gate for streaming
      // winnow-vs-release contamination checking
      s"""WITH c AS (SELECT doc_id, lower(regexp_replace(coalesce(text, ''), '\\s+', '', 'g')) AS c FROM documents),
c2 AS (SELECT doc_id, c, CAST(length(c) - 15 AS BIGINT) AS ng FROM c WHERE length(c) >= 23),
g AS (SELECT doc_id, ng, CAST(i - 1 AS BIGINT) AS pos, substr(c, CAST(i AS INTEGER), 16) AS g
  FROM c2 CROSS JOIN UNNEST(range(1, ng + 1)) AS r(i)),
hh AS (SELECT doc_id, ng, pos,
  (${portableHash60Sql("g")} % CAST(4294967296 AS BIGINT)) * CAST(2147483648 AS BIGINT)
    + (CAST(2147483647 AS BIGINT) - pos) AS code FROM g),
wnd AS (SELECT doc_id, ng, pos, min(code) OVER (PARTITION BY doc_id ORDER BY pos
  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m FROM hh),
sel AS (SELECT DISTINCT doc_id, CAST(m // CAST(2147483648 AS BIGINT) AS BIGINT) AS fp
  FROM wnd WHERE pos <= ng - 8),
f AS (SELECT doc_id AS fresh_id, fp FROM sel WHERE doc_id >= 400 AND doc_id % 5 = 0),
p0 AS (SELECT doc_id AS prior_id, fp FROM sel WHERE doc_id < 400),
pdf AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM p0 GROUP BY fp) WHERE df <= 1000),
p AS (SELECT p0.prior_id, p0.fp FROM p0 JOIN pdf USING (fp))
SELECT f.fresh_id, p.prior_id, count(*) AS shared
FROM f JOIN p USING (fp) GROUP BY 1, 2 HAVING count(*) >= 2""",
    "q104_prototype_prune" -> prototypePruneOracleSql,
    "q105_epoch_shuffle" ->
      s"""WITH e AS (SELECT doc_id, CAST(ep AS INTEGER) AS epoch
  FROM documents CROSS JOIN UNNEST(range(2)) AS r(ep)),
h AS (SELECT doc_id, epoch,
  ${portableHash60Sql("CAST(epoch AS VARCHAR) || '_' || CAST(doc_id AS VARCHAR)")} AS hv FROM e)
SELECT doc_id, epoch, CAST(hv % 8 AS INTEGER) AS shard,
  CAST(row_number() OVER (PARTITION BY epoch, hv % 8 ORDER BY hv, doc_id) AS BIGINT) AS pos
FROM h""",
    "q106_quality_classifier" ->
      s"""WITH tok AS (SELECT doc_id, t FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) AS t FROM documents) x WHERE len(t) > 0),
w AS (SELECT doc_id, ((${portableHash60Sql("t")} % 32768) * 2654435761 % 1001) - 500 AS wt FROM tok),
sc AS (SELECT doc_id, CAST(sum(wt) AS BIGINT) AS score, CAST(count(*) AS BIGINT) AS n_tokens
  FROM w GROUP BY doc_id)
SELECT d.doc_id, COALESCE(sc.score, 0) AS score, COALESCE(sc.n_tokens, 0) AS n_tokens,
  CASE WHEN COALESCE(sc.n_tokens, 0) = 0 THEN 0.0
       ELSE CAST(sc.score AS DOUBLE) / CAST(sc.n_tokens AS DOUBLE) END AS quality
FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""",
    "q107_keyword_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) AS t FROM documents),
m AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS score, CAST(count(DISTINCT t) AS BIGINT) AS n_terms
  FROM tok WHERE t IN ('spark', 'join', 'window') GROUP BY doc_id)
SELECT doc_id, score, n_terms FROM m ORDER BY score DESC, doc_id LIMIT 10""",
    "q108_line_dedup" ->
      """WITH d AS (SELECT doc_id,
  text || chr(10) || 'standard footer line' || chr(10) || 'source banner ' || source AS tx FROM documents),
tk AS (SELECT doc_id, string_split(tx, chr(10)) AS ls FROM d),
l AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ls[CAST(i AS INTEGER)] AS line
  FROM tk CROSS JOIN UNNEST(range(1, len(ls) + 1)) AS r(i)),
k AS (SELECT doc_id, pos, line,
  CASE WHEN len(trim(line)) = 0 THEN 1
       ELSE row_number() OVER (PARTITION BY trim(line) ORDER BY doc_id, pos) END AS rk FROM l),
r AS (SELECT doc_id, string_agg(CASE WHEN rk = 1 THEN line END, chr(10) ORDER BY pos) AS clean_text,
  CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed FROM k GROUP BY doc_id)
SELECT doc_id, COALESCE(clean_text, '') AS clean_text, n_removed FROM r""",
    "q109_vocab_coverage" ->
      """WITH w AS (SELECT unnest(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) AS word FROM documents),
f AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w WHERE len(word) > 0 GROUP BY word),
t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM f),
top AS (SELECT word, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rank
  FROM f QUALIFY rank <= 20)
SELECT rank, word AS token, cnt,
  CAST(CAST(sum(cnt) OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE)
    / CAST(total AS DOUBLE) AS coverage
FROM top CROSS JOIN t""",
    "q110_bpe_pairs" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) AS w FROM documents),
f AS (SELECT w, count(*) AS freq FROM tok WHERE len(w) > 0 GROUP BY w),
p AS (SELECT substr(w, CAST(i AS INTEGER), 1) AS a,
  CASE WHEN CAST(i AS INTEGER) = len(w) THEN '</w>' ELSE substr(w, CAST(i AS INTEGER) + 1, 1) END AS b,
  freq FROM f CROSS JOIN UNNEST(range(1, len(w) + 1)) AS r(i)),
c AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY a, b)
SELECT a, b, cnt FROM c ORDER BY cnt DESC, a, b LIMIT 20""",
    "q111_bloom_decontaminate" ->
      s"""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
sh AS (SELECT doc_id, CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
  ELSE list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')) END AS s FROM tk),
gr AS (SELECT DISTINCT doc_id, unnest(s) AS g FROM sh),
pos AS (SELECT doc_id, g, ${portableHash60Sql("(CAST(k.i AS VARCHAR) || ':' || g)")} % 4096 AS pos
  FROM gr CROSS JOIN (VALUES (0), (1), (2)) k(i)),
bits AS (SELECT DISTINCT pos FROM pos WHERE doc_id < 5),
miss AS (SELECT DISTINCT doc_id, g FROM pos WHERE pos NOT IN (SELECT pos FROM bits))
SELECT doc_id, count(*) AS hit_grams FROM gr
WHERE NOT EXISTS (SELECT 1 FROM miss m WHERE m.doc_id = gr.doc_id AND m.g = gr.g)
GROUP BY doc_id""",
    // q144 trains the same weight table offline and serves through the
    // same pipeline - identical output, shared replay
    "q144_dsir_serve" -> dsirOracleSql,
    "q112_dsir" -> dsirOracleSql,
    "q113_len_histogram" ->
      """WITH d AS (SELECT CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS len FROM documents),
b AS (SELECT CASE WHEN len <= 0 THEN CAST(-1 AS BIGINT)
  ELSE CAST(length(to_base(len, 2)) - 1 AS BIGINT) END AS bucket, len FROM d)
SELECT bucket, count(*) AS n_docs,
  CAST(sum(CASE WHEN len > 0 THEN len ELSE 0 END) AS BIGINT) AS total_tokens,
  CAST(min(len) AS BIGINT) AS min_len, CAST(max(len) AS BIGINT) AS max_len,
  CASE WHEN bucket < 0 THEN CAST(0 AS BIGINT)
    ELSE (CAST(1 AS BIGINT) << CAST(bucket AS INTEGER)) END AS bucket_lo
FROM b GROUP BY bucket""",
    "q114_url_canonicalize" ->
      """WITH u AS (SELECT doc_id,
  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://www.' ELSE 'http://sub.' END) || source ||
  (CASE WHEN doc_id % 2 = 0 THEN '.co.uk:443/Docs/' ELSE '.org:80/Docs/' END) ||
  CAST(doc_id AS VARCHAR) || '/page?utm_source=feed&q=' || CAST(doc_id % 3 AS VARCHAR) ||
  '&utm_campaign=x&gclid=abc#frag' AS url FROM documents),
parts AS (SELECT doc_id, url,
  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
  regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)', 2) AS hostport,
  regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://[^/?#]*([^?#]*)', 2) AS path,
  regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS query FROM u),
hp AS (SELECT doc_id, url, scheme, path, query,
  lower(regexp_replace(regexp_replace(hostport, '^[^@]*@', ''), ':[0-9]*$', '')) AS host,
  regexp_extract(regexp_replace(hostport, '^[^@]*@', ''), ':([0-9]*)$', 1) AS port FROM parts),
pp AS (SELECT doc_id, url, scheme, path, host, port,
  list_filter(str_split(query, '&'),
    p -> p <> '' AND NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|gclid|fbclid)(=|$)')) AS params FROM hp),
cn AS (SELECT doc_id, host,
  scheme || '://' || host ||
  (CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
        AND NOT (scheme = 'https' AND port = '443') THEN ':' || port ELSE '' END) ||
  (CASE WHEN path = '' THEN '/' ELSE path END) ||
  (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END) AS canon FROM pp),
dm AS (SELECT doc_id, canon,
  CASE WHEN len(str_split(host, '.')) >= 3
        AND (str_split(host, '.')[-2] || '.' || str_split(host, '.')[-1]) IN
          ('co.uk', 'org.uk', 'ac.uk', 'gov.uk', 'co.jp', 'ne.jp', 'or.jp',
           'com.au', 'net.au', 'org.au', 'co.nz', 'com.br', 'com.cn', 'com.mx',
           'co.in', 'co.kr', 'com.sg', 'com.tr', 'com.ar')
    THEN str_split(host, '.')[-3] || '.' || str_split(host, '.')[-2] || '.' || str_split(host, '.')[-1]
    WHEN len(str_split(host, '.')) >= 2
    THEN str_split(host, '.')[-2] || '.' || str_split(host, '.')[-1]
    ELSE host END AS domain FROM cn)
SELECT doc_id, canon, domain, domain IN ('src3.co.uk', 'src7.org') AS blocked FROM dm""",
    "q115_wet_roundtrip" ->
      "SELECT doc_id, CAST(strlen(text) AS BIGINT) AS content_length, text FROM documents",
    "q116_countmin" ->
      s"""WITH wf AS (SELECT w AS item FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents) t WHERE len(w) > 0),
sk AS (SELECT k.i AS r, ${portableHash60Sql("(CAST(k.i AS VARCHAR) || ':' || item)")} % 512 AS c, count(*) AS cnt
  FROM wf CROSS JOIN (VALUES (0), (1), (2), (3)) k(i) GROUP BY 1, 2),
q AS (SELECT DISTINCT item FROM wf),
qc AS (SELECT item, k.i AS r, ${portableHash60Sql("(CAST(k.i AS VARCHAR) || ':' || item)")} % 512 AS c
  FROM q CROSS JOIN (VALUES (0), (1), (2), (3)) k(i)),
est AS (SELECT item, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
  FROM qc LEFT JOIN sk USING (r, c) GROUP BY item),
ex AS (SELECT item, count(*) AS exact FROM wf GROUP BY item)
SELECT item, est, exact FROM est JOIN ex USING (item)""",
    "q117_hll" ->
      s"""WITH wf AS (SELECT w FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w FROM documents) t WHERE len(w) > 0),
h AS (SELECT ${portableHash60Sql("w")} AS h FROM wf),
rk AS (SELECT h >> 52 AS register,
  CAST(52 - (CASE WHEN h % 4503599627370496 = 0 THEN 0 ELSE length(to_base(h % 4503599627370496, 2)) END) + 1 AS BIGINT) AS rank FROM h),
regs AS (SELECT register, max(rank) AS max_rank FROM rk GROUP BY register),
agg AS (SELECT CAST(sum(CAST(1 AS BIGINT) << CAST(54 - max_rank AS INTEGER)) AS BIGINT) AS s_seen,
  count(*) AS m_seen FROM regs),
sc AS (SELECT CAST(256 AS BIGINT) AS m,
  s_seen + CAST(256 - m_seen AS BIGINT) * CAST(18014398509481984 AS BIGINT) AS s_scaled FROM agg)
SELECT m, s_scaled,
  (CAST(${0.7213 / (1.0 + 1.079 / 256.0) * 256 * 256} AS DOUBLE) * CAST(18014398509481984 AS DOUBLE)) / CAST(s_scaled AS DOUBLE) AS estimate,
  (SELECT CAST(count(DISTINCT w) AS BIGINT) FROM wf) AS exact_distinct
FROM sc""",
    "q118_vocab_encode" ->
      """WITH wf AS (SELECT w AS token, count(*) AS freq FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents) t WHERE len(w) > 0 GROUP BY w),
v AS (SELECT token, CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS id FROM wf ORDER BY freq DESC, token LIMIT 20),
tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[CAST(i AS INTEGER)] AS word
  FROM tk CROSS JOIN UNNEST(range(1, len(toks) + 1)) AS r(i)
  WHERE len(toks[CAST(i AS INTEGER)]) > 0),
j AS (SELECT doc_id, pos, COALESCE(v.id, 0) AS tid FROM tok LEFT JOIN v ON tok.word = v.token),
enc AS (SELECT doc_id, array_to_string(list(tid ORDER BY pos), ' ') AS ids, count(*) AS n_tokens,
  CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM j GROUP BY doc_id)
SELECT d.doc_id, COALESCE(enc.ids, '') AS ids,
  COALESCE(enc.n_tokens, 0) AS n_tokens, COALESCE(enc.n_oov, 0) AS n_oov
FROM documents d LEFT JOIN enc ON d.doc_id = enc.doc_id""",
    "q119_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
s AS (SELECT source, n_docs,
  CAST(floor(CAST(1000000 AS DOUBLE) * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w_scaled FROM c),
t AS (SELECT CAST(sum(w_scaled) AS BIGINT) AS tot FROM s)
SELECT source, n_docs, w_scaled,
  CAST(w_scaled AS DOUBLE) / CAST(tot AS DOUBLE) AS weight,
  (w_scaled * 100000) // tot AS alloc
FROM s CROSS JOIN t""",
    "q120_cross_source_overlap" ->
      """WITH d AS (SELECT DISTINCT
  md5(lower(trim(regexp_replace(CASE WHEN doc_id % 5 = 0 THEN 'shared boilerplate snippet' ELSE text END, '\s+', ' ', 'g')))) AS fp,
  source FROM documents)
SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_fps
FROM d a JOIN d b ON a.fp = b.fp AND a.source < b.source
GROUP BY a.source, b.source""",
    "q121_gopher_rules" ->
      """WITH base AS (SELECT doc_id,
  text || chr(10) || '- a bullet item' || chr(10) ||
  (CASE WHEN doc_id % 3 = 0 THEN 'drifting off...' ELSE 'The words belong together with meaning.' END) || chr(10) ||
  (CASE WHEN doc_id % 7 = 0 THEN '# # #' ELSE 'of that we have spoken' END) AS t
  FROM documents),
tk AS (SELECT doc_id, t,
  regexp_split_to_array(trim(t), '\s+') AS toks,
  list_filter(str_split(t, chr(10)), l -> length(trim(l)) > 0) AS lines FROM base),
m AS (SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_words,
  CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT) AS sum_chars,
  CAST((length(t) - length(regexp_replace(t, '#', '', 'g'))) +
       ((length(t) - length(regexp_replace(t, '\.\.\.', '', 'g'))) // 3) +
       (length(t) - length(regexp_replace(t, '…', '', 'g'))) AS BIGINT) AS n_symbols,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[•\-\*]'))) AS BIGINT) AS bullet_lines,
  CAST(len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS BIGINT) AS ellipsis_lines,
  CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
    s1 -> list_contains(list_transform(toks, w -> lower(w)), s1))) AS BIGINT) AS n_stop
 FROM tk)
SELECT doc_id, n_words, sum_chars, n_symbols, n_lines, bullet_lines, ellipsis_lines,
  alpha_words, n_stop,
  (n_words >= 50 AND n_words <= 100000 AND sum_chars >= n_words * 3 AND sum_chars <= n_words * 10
   AND n_symbols * 10 <= n_words AND bullet_lines * 10 <= n_lines * 9
   AND ellipsis_lines * 10 <= n_lines * 3 AND alpha_words * 10 >= n_words * 8
   AND n_stop >= 2) AS keep
FROM m""",
    "q122_unicode_normalize" ->
      """WITH r AS (SELECT doc_id,
  text || ' cafe' || chr(769) || ' nai' || chr(776) || 've' AS raw FROM documents)
SELECT doc_id, nfc_normalize(raw) AS norm,
  CAST(length(raw) AS BIGINT) AS n_before,
  CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_after
FROM r""",
    "q123_script_profile" ->
      """WITH src AS (SELECT doc_id,
  text || (CASE WHEN doc_id % 4 = 1 THEN ' привет мир'
                WHEN doc_id % 4 = 2 THEN ' 你好世界 こんにちは'
                WHEN doc_id % 4 = 3 THEN ' مرحبا بالعالم'
                ELSE '' END) AS t FROM documents),
m AS (SELECT doc_id,
  CAST(length(regexp_replace(t, '[^A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS BIGINT) AS latin,
  CAST(length(regexp_replace(t, '[^\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS cyrillic,
  CAST(length(regexp_replace(t, '[^\x{0370}-\x{03FF}]', '', 'g')) AS BIGINT) AS greek,
  CAST(length(regexp_replace(t, '[^\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]', '', 'g')) AS BIGINT) AS cjk,
  CAST(length(regexp_replace(t, '[^\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS arabic,
  CAST(length(regexp_replace(t, '[^\x{AC00}-\x{D7AF}]', '', 'g')) AS BIGINT) AS hangul,
  CAST(length(regexp_replace(t, '[^\x{0900}-\x{097F}]', '', 'g')) AS BIGINT) AS devanagari
 FROM src),
d AS (SELECT *, greatest(latin, cyrillic, greek, cjk, arabic, hangul, devanagari) AS mx FROM m)
SELECT doc_id, latin, cyrillic, greek, cjk, arabic, hangul, devanagari,
  CASE WHEN mx = 0 THEN 'none'
       WHEN latin = mx THEN 'latin'
       WHEN cyrillic = mx THEN 'cyrillic'
       WHEN greek = mx THEN 'greek'
       WHEN cjk = mx THEN 'cjk'
       WHEN arabic = mx THEN 'arabic'
       WHEN hangul = mx THEN 'hangul'
       ELSE 'devanagari' END AS dominant
FROM d""",
    "q124_dedup_snapshot" ->
      """WITH d AS (SELECT doc_id, source,
  CASE WHEN doc_id % 5 = 0 THEN 'shared boilerplate snippet' ELSE coalesce(text, '') END AS text FROM documents),
fp AS (SELECT doc_id, source,
  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f FROM d),
prior AS (SELECT DISTINCT f FROM fp WHERE doc_id < 250),
fresh AS (SELECT doc_id, source, f FROM fp WHERE f NOT IN (SELECT f FROM prior)),
r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn FROM fresh)
SELECT doc_id, source FROM r WHERE rn = 1""",
    "q125_topk_per_group" ->
      """SELECT doc_id, source, n_chars, CAST(rk AS INTEGER) AS rk FROM
  (SELECT doc_id, source, n_chars,
    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
   FROM documents)
WHERE rk <= 3""",
    "q126_rollup" ->
      """SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
  CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid
FROM documents GROUP BY ROLLUP (source, lang)""",
    "q127_range_frame" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
  CAST(floor(value * 1000) AS BIGINT) AS v_scaled FROM events)
SELECT event_id, user_id, t_us,
  count(*) OVER w AS events_1h,
  CAST(sum(v_scaled) OVER w AS BIGINT) AS value_1h_scaled
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY t_us
  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",
    "q128_pq_topk" -> pqTopkOracleSql("s.id < 5"),
    "q195_pq_budget" -> pqTopkOracleSql("s.id < 5", maxCentroids = 8),
    // q132 trains the same codebooks (same seeds/rounds) offline and serves
    // through pqTopKWith — bit-identical result, same replay.
    "q132_pq_reuse" -> pqTopkOracleSql("s.id < 5"),
    // stored-index serve: q128's replay restricted to query 0
    "q142_pq_serve" -> pqTopkOracleSql("s.id = 0"),
    "q129_zorder_key" -> {
      val zterms = (0 until 16).flatMap(i => Seq(
        s"(((l_partkey >> $i) & 1) << ${2 * i})",
        s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
  CAST($zterms AS BIGINT) AS zkey FROM lineitem"""
    },
    "q130_sparse_tfidf" -> sparseTfIdfOracleSql("doc_id < 3"),
    // q130 on a champion-list index (the sf100 scale path; truncation binds)
    "q197_tfidf_champion" -> sparseTfIdfOracleSql("doc_id < 3", maxPostings = 100),
    // stored-index serve: q130's replay restricted to query 0
    "q143_tfidf_serve" -> sparseTfIdfOracleSql("doc_id = 0"),
    // stored CHAMPION-index serve: q197's replay restricted to query 0 —
    // the oracle rebuilds the truncated index, the engine serves the
    // memoized one; identical rows prove the stored index is the built one
    "q198_tfidf_champion_serve" -> sparseTfIdfOracleSql("doc_id = 0", maxPostings = 100),
    // q198's SQL with the streamed sample's predicate: the streaming serve
    // tier must match the batch serve bit-for-bit (complete-mode score agg
    // + batch rank cut ≡ sparseTfIdfTopKWith — the q193 parity pattern)
    "q199_tfidf_champion_stream" ->
      sparseTfIdfOracleSql("doc_id % 97 = 0", maxPostings = 100),
    "q131_cube" ->
      """SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars,
  CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid
FROM documents GROUP BY CUBE (source, lang)""",
    // DuckDB's DESCRIBE strings collapsed onto the same canonical tokens as
    // canonType: any physical-type drift in the fixtures (either engine's
    // view of them) becomes a value mismatch on this row set. TIMESTAMP%
    // covers TIMESTAMP/TIMESTAMP_NS/TIMESTAMP WITH TIME ZONE — all 'ts';
    // the Spark side maps legacy nanos-as-long to 'i64', so a nanos lake is
    // deliberately canary-red.
    "q145_schema_canary" -> {
      val d = fixtureTables.map(tb =>
        s"SELECT '$tb' AS tbl, column_name AS col_name, column_type AS t FROM (DESCRIBE $tb)")
        .mkString(" UNION ALL ")
      s"""WITH d AS ($d)
SELECT tbl, col_name, CASE
  WHEN t = 'BIGINT'   THEN 'i64'
  WHEN t = 'INTEGER'  THEN 'i32'
  WHEN t = 'SMALLINT' THEN 'i16'
  WHEN t = 'TINYINT'  THEN 'i8'
  WHEN t = 'DOUBLE'   THEN 'f64'
  WHEN t = 'FLOAT'    THEN 'f32'
  WHEN t = 'VARCHAR'  THEN 'str'
  WHEN t = 'BOOLEAN'  THEN 'bool'
  WHEN t = 'DATE'     THEN 'date'
  WHEN t = 'BLOB'     THEN 'bin'
  WHEN t LIKE 'TIMESTAMP%' THEN 'ts'
  WHEN t = 'BIGINT[]'  THEN 'arr<i64>'
  WHEN t = 'INTEGER[]' THEN 'arr<i32>'
  WHEN t = 'DOUBLE[]'  THEN 'arr<f64>'
  WHEN t = 'FLOAT[]'   THEN 'arr<f32>'
  WHEN t = 'VARCHAR[]' THEN 'arr<str>'
  ELSE lower(t) END AS ctype
FROM d""" },
    // q53's recall path replayed end-to-end at bits 6: same threshold,
    // corpus with the injected exact copies unioned in.
    "q146_cosine_dup_portable" -> lshPairsOracleSql(embWithCopiesSql, "0.95", bits = 6, tables = 4),
    // capacity >= distinct items ⇒ Misra-Gries counts are exact ⇒ the
    // streaming candidate table equals this GROUP BY; err is the per-shard
    // MG bound floor(rows/(capacity+1)).
    "q147_heavy_hitters_stream" ->
      s"""WITH e AS (SELECT event_type || '_' || CAST(user_id % 7 AS VARCHAR) AS item
  FROM events WHERE user_id % 100 < 5 AND event_type IS NOT NULL),
h AS (SELECT item, CAST(${portableHash60Sql("item")} % $hhShards AS INTEGER) AS shard FROM e),
c AS (SELECT shard, item, count(*) AS est FROM h GROUP BY shard, item),
tot AS (SELECT shard, count(*) AS n FROM h GROUP BY shard)
SELECT c.shard, c.item, c.est, CAST(n // ${hhCapacity + 1} AS BIGINT) AS err
FROM c JOIN tot USING (shard)""",
    // identical cumulative-count formulation on the DuckDB side (SUM over
    // BIGINT yields HUGEINT there — CAST back, the q126 lesson)
    "q148_quantile_thresholds" ->
      """WITH cnt AS (SELECT CAST(n_chars AS BIGINT) AS v, count(*) AS c FROM documents
  WHERE n_chars IS NOT NULL GROUP BY 1),
cum AS (SELECT v, c, CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
  CAST(sum(c) OVER () AS BIGINT) AS n FROM cnt),
p(pct) AS (SELECT * FROM (VALUES (10), (25), (50), (75), (90), (99))),
pick AS (SELECT pct, v, cum, n, row_number() OVER (PARTITION BY pct ORDER BY v) AS rn
  FROM cum CROSS JOIN p WHERE cum * 100 >= pct * n)
SELECT CAST(pct AS INTEGER) AS pct, v AS value, cum AS cum_n, n FROM pick WHERE rn = 1""",
    "q149_group_quantiles" ->
      """WITH cnt AS (SELECT source AS "group", CAST(n_chars AS BIGINT) AS v, count(*) AS c FROM documents
  WHERE n_chars IS NOT NULL GROUP BY 1, 2),
cum AS (SELECT "group", v, c,
  CAST(sum(c) OVER (PARTITION BY "group" ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
  CAST(sum(c) OVER (PARTITION BY "group") AS BIGINT) AS n FROM cnt),
p(pct) AS (SELECT * FROM (VALUES (50), (90), (99))),
pick AS (SELECT "group", pct, v, cum, n,
  row_number() OVER (PARTITION BY "group", pct ORDER BY v) AS rn
  FROM cum CROSS JOIN p WHERE cum * 100 >= pct * n)
SELECT "group", CAST(pct AS INTEGER) AS pct, v AS value, cum AS cum_n, n FROM pick WHERE rn = 1""",
    // the diff oracle compares COLUMNS, not fingerprints — independent
    // evidence that snapshotDiff's md5 row-fingerprint equality is exactly
    // row equality on this data
    "q150_snapshot_diff" ->
      """WITH newrel AS (
  SELECT doc_id, text, lang, source,
    CASE WHEN doc_id % 89 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 200000, text, lang, source, n_chars FROM documents WHERE doc_id < 30)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
  CASE WHEN n.doc_id IS NULL THEN 'removed'
       WHEN o.doc_id IS NULL THEN 'added'
       ELSE 'changed' END AS status
FROM documents o FULL OUTER JOIN newrel n ON o.doc_id = n.doc_id
WHERE n.doc_id IS NULL OR o.doc_id IS NULL
   OR (o.text <> n.text OR o.lang <> n.lang OR o.source <> n.source OR o.n_chars <> n.n_chars)""",
    "q151_cdc_apply" ->
      """WITH changes AS (
  SELECT doc_id, text, lang, source, n_chars, 1 AS version, 'D' AS op FROM documents WHERE doc_id % 13 = 0
  UNION ALL SELECT doc_id, text, lang, source, n_chars * 2, 1, 'U' FROM documents WHERE doc_id % 11 = 0
  UNION ALL SELECT doc_id, text, lang, source, n_chars * 3, 2, 'U' FROM documents WHERE doc_id % 11 = 0 AND doc_id % 2 = 0
  UNION ALL SELECT doc_id + 300000, text, lang, source, n_chars, 1, 'I' FROM documents WHERE doc_id < 20),
unioned AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
    CAST(-9223372036854775808 AS BIGINT) AS version, 'I' AS op FROM documents
  UNION ALL SELECT doc_id, source, CAST(n_chars AS BIGINT), CAST(version AS BIGINT), op FROM changes),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY version DESC, op DESC) AS rn FROM unioned)
SELECT doc_id, source, n_chars FROM r WHERE rn = 1 AND op <> 'D'""",
    "q152_collocations" ->
      """WITH tk AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
  WHERE trim(coalesce(text, '')) <> ''),
uc AS (SELECT w, count(*) AS c FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY w),
n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uc),
bi AS (SELECT toks[i] AS w1, toks[i+1] AS w2
  FROM tk CROSS JOIN UNNEST(range(1, len(toks))) AS r(i) WHERE len(toks) >= 2),
bc AS (SELECT w1, w2, count(*) AS c_ab FROM bi GROUP BY w1, w2 HAVING count(*) >= 5)
SELECT w1, w2, c_ab, a.c AS c_a, b.c AS c_b,
  CAST((c_ab - 5) * n AS BIGINT) AS score_num, CAST(a.c * b.c AS BIGINT) AS score_den
FROM bc JOIN uc a ON bc.w1 = a.w JOIN uc b ON bc.w2 = b.w CROSS JOIN n
WHERE (c_ab - 5) * n >= 1 * a.c * b.c""",
    "q153_fuzzy_pairs" ->
      """WITH parts AS (SELECT p_partkey, p_name, p_brand FROM part
  UNION ALL SELECT p_partkey + 1000000, substr(p_name, 1, length(p_name) - 1), p_brand
  FROM part WHERE p_partkey % 40 = 1),
reps AS (SELECT p_name, p_brand, min(p_partkey) AS rep_id FROM parts GROUP BY p_name, p_brand),
b AS (SELECT rep_id AS id, p_name AS s,
  p_brand || '|' || split_part(p_name, ' ', 1) AS blk FROM reps)
SELECT a.id AS id_a, bb.id AS id_b, CAST(levenshtein(a.s, bb.s) AS INTEGER) AS dist
FROM b a JOIN b bb ON a.blk = bb.blk AND a.id < bb.id
WHERE levenshtein(a.s, bb.s) <= 2""",
    "q154_minhash_dedup_portable" -> minhashDedupCCOracleSql,
    "q155_quality_buckets" ->
      // NULLS FIRST pins DuckDB to Spark's ASC default (nulls rank first ->
      // bucket 0, the operator's documented policy); latent until a fixture
      // carries a null n_chars, but the contract should not depend on that
      """SELECT doc_id, source, n_chars, CAST(((rk - 1) * 3) // n AS BIGINT) AS bucket FROM (
  SELECT doc_id, source, n_chars,
    rank() OVER (PARTITION BY source ORDER BY n_chars NULLS FIRST) AS rk,
    count(*) OVER (PARTITION BY source) AS n
  FROM documents)""",
    "q156_interval_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events),
m AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800000000
  THEN 1 ELSE 0 END AS nw FROM e),
s AS (SELECT user_id, t, SUM(nw) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM m),
sess AS (SELECT user_id, CAST(sid AS BIGINT) AS session_seq,
  min(t) AS session_start, max(t) AS session_end FROM s GROUP BY user_id, sid),
inc AS (SELECT event_id, t - 120000000 AS inc_start, t + 120000000 AS inc_end
  FROM e WHERE event_type = 'error')
SELECT sess.user_id, sess.session_seq, inc.event_id
FROM sess JOIN inc
  ON sess.session_start <= inc.inc_end AND inc.inc_start <= sess.session_end""",
    "q157_pagerank" -> pageRankOracleSql,
    "q158_hard_negatives" ->
      """WITH tok AS (SELECT doc_id, w AS t FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) AS w FROM documents) x WHERE len(w) > 0),
tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t),
dft AS (SELECT t, count(*) AS df, greatest(1000000 // count(*), 1) AS w FROM tf GROUP BY t),
qtf AS (SELECT doc_id AS query_id, t, tf AS qtf FROM tf WHERE doc_id < 10),
sh AS (SELECT doc_id, list_distinct(
  CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3
       THEN [array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ')]
       ELSE list_transform(range(1, len(regexp_split_to_array(trim(text), '\s+')) - 1),
         i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' ')) END) AS s
  FROM documents WHERE doc_id < 600),
jp0 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a, sh b WHERE a.doc_id < b.doc_id
    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
pos AS (SELECT id_a AS query_id, id_b AS doc_id FROM jp0
        UNION SELECT id_b AS query_id, id_a AS doc_id FROM jp0),
sc AS (SELECT q.query_id, tf.doc_id,
  CAST(sum(q.qtf * tf.tf * dft.w) AS BIGINT) AS score, count(*) AS shared_terms
  FROM qtf q JOIN dft USING (t) JOIN tf USING (t)
  WHERE tf.doc_id <> q.query_id GROUP BY q.query_id, tf.doc_id),
neg AS (SELECT sc.* FROM sc LEFT JOIN pos p ON p.query_id = sc.query_id AND p.doc_id = sc.doc_id WHERE p.query_id IS NULL)
SELECT query_id, doc_id, score, shared_terms, CAST(rank AS INTEGER) AS rank FROM
  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM neg)
WHERE rank <= 5""",
    "q159_contrastive_pairs" ->
      (ccLabelsSql + """,
sz AS (SELECT comp, count(*) AS cluster_size FROM labels GROUP BY comp)
SELECT comp AS anchor_id, id AS positive_id, cluster_size
FROM labels JOIN sz USING (comp) WHERE id <> comp"""),
    "q160_stupid_backoff" ->
      """WITH sw AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\s+'), x -> length(x) > 0) AS w FROM documents),
trw AS (SELECT w FROM sw WHERE doc_id % 2 = 0),
c1 AS (SELECT t, count(*) AS c1 FROM (SELECT unnest(w) AS t FROM trw) GROUP BY t),
tot AS (SELECT greatest(count(*), 1) AS n FROM (SELECT unnest(w) AS t FROM trw)),
trbg AS (SELECT p[1] AS w1, p[2] AS w2 FROM (SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p FROM trw WHERE len(w) >= 2)),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM trbg GROUP BY w1, w2),
sbg AS (SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (SELECT doc_id, unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p FROM sw WHERE len(w) >= 2)),
sc AS (SELECT s.doc_id,
  CASE WHEN c2.c2 IS NOT NULL THEN 1000000 * c2.c2 // u1.c1
       ELSE (400000 * coalesce(u2.c1, 0)) // (SELECT n FROM tot) END AS sb
  FROM sbg s LEFT JOIN c2 ON s.w1 = c2.w1 AND s.w2 = c2.w2
  LEFT JOIN c1 u1 ON s.w1 = u1.t LEFT JOIN c1 u2 ON s.w2 = u2.t)
SELECT doc_id, count(*) AS n_bigrams, CAST(sum(sb) AS BIGINT) AS sb_sum,
  CAST(sum(sb) // count(*) AS BIGINT) AS sb_score
FROM sc GROUP BY doc_id""",
    "q161_leakage_split" ->
      (ccLabelsSql + s""",
k AS (SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS split_key
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.id WHERE d.doc_id < 600),
h AS (SELECT doc_id, split_key, ${portableHash60Sql("split_key")} % 100 AS b FROM k)
SELECT doc_id, split_key,
  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
FROM h"""),
    "q162_release_manifest" ->
      s"""WITH m AS (SELECT source, doc_id, coalesce(text, '') AS txt FROM documents),
h AS (SELECT source, length(txt) AS len,
  lower(trim(regexp_replace(txt, '\\s+', ' ', 'g'))) AS canon,
  ${portableHash60Sql("coalesce(CAST(doc_id AS VARCHAR), chr(2)) || chr(1) || txt")} AS hv FROM m)
SELECT source, count(*) AS n_rows, CAST(sum(len) AS BIGINT) AS n_chars,
  count(DISTINCT canon) AS n_distinct, CAST(bit_xor(hv) AS BIGINT) AS checksum
FROM h GROUP BY source""",
    "q163_sentence_chunks" ->
      """WITH s0 AS (SELECT doc_id, list_filter(list_transform(
    regexp_extract_all(regexp_replace(coalesce(text, ''), '\btable\b', 'table.', 'g'), '[^.!?]+[.!?]+|[^.!?]+$'),
    x -> trim(regexp_replace(x, '\s+', ' ', 'g'))), x -> length(x) > 0) AS ss FROM documents),
sen AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ss[CAST(i AS INTEGER)] AS sentence,
  CAST(len(regexp_split_to_array(ss[CAST(i AS INTEGER)], ' ')) AS BIGINT) AS n_toks
  FROM s0 CROSS JOIN UNNEST(range(1, len(ss) + 1)) AS r(i)),
cw AS (SELECT *, CAST(coalesce(sum(n_toks) OVER (PARTITION BY doc_id ORDER BY pos
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // 20 AS raw_chunk FROM sen),
dr AS (SELECT *, dense_rank() OVER (PARTITION BY doc_id ORDER BY raw_chunk) - 1 AS chunk_id FROM cw)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
  string_agg(sentence, ' ' ORDER BY pos) AS text,
  count(*) AS n_sentences, CAST(sum(n_toks) AS BIGINT) AS n_toks
FROM dr GROUP BY doc_id, chunk_id""",
    "q164_cdc_stream" ->
      """WITH docs AS (SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 100 < 10),
changes AS (
  SELECT doc_id, source, n_chars, 1 AS version, 'D' AS op FROM docs WHERE doc_id % 13 = 0
  UNION ALL SELECT doc_id, source, n_chars * 2, 1, 'U' FROM docs WHERE doc_id % 11 = 0
  UNION ALL SELECT doc_id, source, n_chars * 3, 2, 'U' FROM docs WHERE doc_id % 11 = 0 AND doc_id % 2 = 0
  UNION ALL SELECT doc_id + 300000, source, n_chars, 1, 'I' FROM docs WHERE doc_id < 20),
unioned AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
    CAST(-9223372036854775808 AS BIGINT) AS version, 'I' AS op FROM docs
  UNION ALL SELECT doc_id, source, CAST(n_chars AS BIGINT), CAST(version AS BIGINT), op FROM changes),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY version DESC, op DESC) AS rn FROM unioned)
SELECT doc_id, source, n_chars FROM r WHERE rn = 1 AND op <> 'D'""",
    "q165_semantic_decontaminate" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
b AS (SELECT v AS bv FROM e WHERE vec_id < 5),
reph AS (SELECT vec_id + 100000 AS vec_id, list_concat([v[1] + 0.01], v[2:len(v)]) AS v FROM e WHERE vec_id < 5),
corpus AS (SELECT vec_id, v FROM e UNION ALL SELECT vec_id, v FROM reph),
sc AS (SELECT c.vec_id,
  CASE WHEN sqrt(list_sum(list_transform(c.v, x -> x * x))) * sqrt(list_sum(list_transform(b.bv, x -> x * x))) = 0.0 THEN 0.0
       ELSE list_sum(list_transform(list_zip(c.v, b.bv), p -> p[1] * p[2]))
            / (sqrt(list_sum(list_transform(c.v, x -> x * x))) * sqrt(list_sum(list_transform(b.bv, x -> x * x)))) END AS cos
  FROM corpus c CROSS JOIN b)
SELECT vec_id, round(max(cos), 6) AS max_cosine, count(*) AS n_hits
FROM sc WHERE cos >= 0.95 GROUP BY vec_id""",
    "q166_near_dedup_snapshot" -> nearDedupSnapshotOracleSql,
    "q167_key_skew" ->
      """WITH c AS (SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY l_suppkey),
st AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys FROM c)
SELECT key, cnt, total, n_keys, cnt * 10000 // total AS share_bp,
  cnt * 100 // greatest(total // n_keys, 1) AS skew_x100
FROM c, st ORDER BY cnt DESC, key LIMIT 10""",
    "q168_token_budget" ->
      s"""WITH bb AS (SELECT doc_id, n_chars // 100 AS score,
  CAST(len(list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'), x -> length(x) > 0)) AS BIGINT) AS n_toks
  FROM documents WHERE n_chars IS NOT NULL),
b2 AS (SELECT * FROM bb WHERE n_toks > 0),
ps AS (SELECT score, CAST(sum(n_toks) AS BIGINT) AS st FROM b2 GROUP BY score),
mk AS (SELECT score, st, CAST(coalesce(sum(st) OVER (ORDER BY score DESC
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bf FROM ps),
fullin AS (SELECT b.doc_id, b.score, b.n_toks FROM b2 b JOIN mk ON b.score = mk.score
  WHERE mk.bf + mk.st <= 15000),
bnd AS (SELECT score, 15000 - bf AS remaining FROM mk WHERE bf < 15000 AND bf + st > 15000),
bp AS (SELECT b.doc_id, b.score, b.n_toks,
  CAST(coalesce(sum(b.n_toks) OVER (PARTITION BY b.score ORDER BY b.h, b.doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum, r.remaining
  FROM (SELECT *, ${portableHash60Sql("doc_id")} AS h FROM b2) b JOIN bnd r ON b.score = r.score)
SELECT doc_id, score, n_toks FROM fullin
UNION ALL SELECT doc_id, score, n_toks FROM bp WHERE cum + n_toks <= remaining""",
    "q169_budget_per_source" ->
      s"""WITH bb AS (SELECT doc_id, source, n_chars // 100 AS score,
  CAST(len(list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'), x -> length(x) > 0)) AS BIGINT) AS n_toks
  FROM documents WHERE n_chars IS NOT NULL),
b2 AS (SELECT * FROM bb WHERE n_toks > 0),
bud AS (SELECT source, 300 + CAST(substr(source, 4) AS BIGINT) * 40 AS budget
  FROM (SELECT DISTINCT source FROM documents)),
b3 AS (SELECT b2.*, bud.budget FROM b2 JOIN bud USING (source)),
ps AS (SELECT source, score, CAST(sum(n_toks) AS BIGINT) AS st, min(budget) AS budget
  FROM b3 GROUP BY source, score),
mk AS (SELECT source, score, st, budget, CAST(coalesce(sum(st) OVER (PARTITION BY source
    ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bf FROM ps),
fullin AS (SELECT b.doc_id, b.source, b.score, b.n_toks FROM b3 b
  JOIN mk ON b.source = mk.source AND b.score = mk.score WHERE mk.bf + mk.st <= mk.budget),
bnd AS (SELECT source, score, budget - bf AS remaining FROM mk WHERE bf < budget AND bf + st > budget),
bp AS (SELECT b.doc_id, b.source, b.score, b.n_toks,
  CAST(coalesce(sum(b.n_toks) OVER (PARTITION BY b.source, b.score ORDER BY b.h, b.doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum, r.remaining
  FROM (SELECT *, ${portableHash60Sql("doc_id")} AS h FROM b3) b
  JOIN bnd r ON b.source = r.source AND b.score = r.score)
SELECT doc_id, source, score, n_toks FROM fullin
UNION ALL SELECT doc_id, source, score, n_toks FROM bp WHERE cum + n_toks <= remaining""",
    "q172_training_triples" ->
      """WITH tok AS (SELECT doc_id, w AS t FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) AS w FROM documents) x WHERE len(w) > 0),
tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t),
dft AS (SELECT t, count(*) AS df, greatest(1000000 // count(*), 1) AS w FROM tf GROUP BY t),
sh AS (SELECT doc_id, list_distinct(
  CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3
       THEN [array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ')]
       ELSE list_transform(range(1, len(regexp_split_to_array(trim(text), '\s+')) - 1),
         i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2], ' ')) END) AS s
  FROM documents WHERE doc_id < 600),
jp0 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a, sh b WHERE a.doc_id < b.doc_id
    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
pos AS (SELECT id_a AS query_id, id_b AS positive_id FROM jp0
        UNION SELECT id_b AS query_id, id_a AS positive_id FROM jp0),
qtf AS (SELECT doc_id AS query_id, t, tf AS qtf FROM tf
  WHERE doc_id IN (SELECT query_id FROM pos)),
sc AS (SELECT q.query_id, tf.doc_id,
  CAST(sum(q.qtf * tf.tf * dft.w) AS BIGINT) AS score, count(*) AS shared_terms
  FROM qtf q JOIN dft USING (t) JOIN tf USING (t)
  WHERE tf.doc_id <> q.query_id GROUP BY q.query_id, tf.doc_id),
neg AS (SELECT sc.* FROM sc LEFT JOIN pos p
  ON p.query_id = sc.query_id AND p.positive_id = sc.doc_id WHERE p.query_id IS NULL),
rk AS (SELECT query_id, doc_id AS negative_id, CAST(rank AS INTEGER) AS rank FROM
  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM neg)
  WHERE rank <= 3)
SELECT p.query_id, p.positive_id, r.negative_id, r.rank FROM pos p JOIN rk r USING (query_id)""",
    "q173_contamination_spans" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\s+'), x -> length(x) > 0) AS w FROM documents),
bg AS (SELECT DISTINCT array_to_string(w[CAST(i AS INTEGER):CAST(i + 4 AS INTEGER)], ' ') AS g
  FROM tk CROSS JOIN UNNEST(range(1, len(w) - 3)) AS r(i) WHERE doc_id < 5 AND len(w) >= 5),
pg AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
  array_to_string(w[CAST(i AS INTEGER):CAST(i + 4 AS INTEGER)], ' ') AS g
  FROM tk CROSS JOIN UNNEST(range(1, len(w) - 3)) AS r(i) WHERE len(w) >= 5),
hits AS (SELECT doc_id, pos FROM pg JOIN bg USING (g)),
nw AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 5
  THEN 0 ELSE 1 END AS flag FROM hits),
isl AS (SELECT doc_id, pos, SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM nw)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_word,
  CAST(max(pos) + 4 AS BIGINT) AS end_word, count(*) AS n_grams
FROM isl GROUP BY doc_id, grp""",
    "q174_contamination_excise" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\s+'), x -> length(x) > 0) AS w FROM documents),
bg AS (SELECT DISTINCT array_to_string(w[CAST(i AS INTEGER):CAST(i + 4 AS INTEGER)], ' ') AS g
  FROM tk CROSS JOIN UNNEST(range(1, len(w) - 3)) AS r(i) WHERE doc_id < 5 AND len(w) >= 5),
pg AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
  array_to_string(w[CAST(i AS INTEGER):CAST(i + 4 AS INTEGER)], ' ') AS g
  FROM tk CROSS JOIN UNNEST(range(1, len(w) - 3)) AS r(i) WHERE len(w) >= 5),
hits AS (SELECT doc_id, pos FROM pg JOIN bg USING (g)),
nw AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 5
  THEN 0 ELSE 1 END AS flag FROM hits),
isl AS (SELECT doc_id, pos, SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM nw),
spans AS (SELECT doc_id, grp, min(pos) AS s, max(pos) + 4 AS e FROM isl GROUP BY doc_id, grp),
wp AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, w[CAST(i AS INTEGER)] AS word
  FROM tk CROSS JOIN UNNEST(range(1, len(w) + 1)) AS r(i)),
cov AS (SELECT DISTINCT wp.doc_id, wp.p FROM wp JOIN spans s
  ON wp.doc_id = s.doc_id AND wp.p BETWEEN s.s AND s.e),
kept AS (SELECT wp.doc_id, wp.p, wp.word FROM wp LEFT JOIN cov
  ON wp.doc_id = cov.doc_id AND wp.p = cov.p WHERE cov.p IS NULL),
agg AS (SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS txt, count(*) AS nk FROM kept GROUP BY doc_id)
SELECT tk.doc_id, coalesce(agg.txt, '') AS clean_text,
  CAST(len(tk.w) - coalesce(agg.nk, 0) AS BIGINT) AS n_removed_words
FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id""",
    "q175_winnow_fingerprints" ->
      s"""WITH c AS (SELECT doc_id, lower(regexp_replace(coalesce(text, ''), '\\s+', '', 'g')) AS c FROM documents),
c2 AS (SELECT doc_id, c, CAST(length(c) - 15 AS BIGINT) AS ng FROM c WHERE length(c) >= 23),
g AS (SELECT doc_id, ng, CAST(i - 1 AS BIGINT) AS pos, substr(c, CAST(i AS INTEGER), 16) AS g
  FROM c2 CROSS JOIN UNNEST(range(1, ng + 1)) AS r(i)),
hh AS (SELECT doc_id, ng, pos,
  (${portableHash60Sql("g")} % CAST(4294967296 AS BIGINT)) * CAST(2147483648 AS BIGINT)
    + (CAST(2147483647 AS BIGINT) - pos) AS code FROM g),
wnd AS (SELECT doc_id, ng, pos, min(code) OVER (PARTITION BY doc_id ORDER BY pos
  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m FROM hh)
SELECT DISTINCT doc_id, CAST(2147483647 - (m % CAST(2147483648 AS BIGINT)) AS BIGINT) AS pos,
  CAST(m // CAST(2147483648 AS BIGINT) AS BIGINT) AS fp
FROM wnd WHERE pos <= ng - 8""",
    "q176_winnow_pairs" ->
      s"""WITH c AS (SELECT doc_id, lower(regexp_replace(coalesce(text, ''), '\\s+', '', 'g')) AS c FROM documents),
c2 AS (SELECT doc_id, c, CAST(length(c) - 15 AS BIGINT) AS ng FROM c WHERE length(c) >= 23),
g AS (SELECT doc_id, ng, CAST(i - 1 AS BIGINT) AS pos, substr(c, CAST(i AS INTEGER), 16) AS g
  FROM c2 CROSS JOIN UNNEST(range(1, ng + 1)) AS r(i)),
hh AS (SELECT doc_id, ng, pos,
  (${portableHash60Sql("g")} % CAST(4294967296 AS BIGINT)) * CAST(2147483648 AS BIGINT)
    + (CAST(2147483647 AS BIGINT) - pos) AS code FROM g),
wnd AS (SELECT doc_id, ng, pos, min(code) OVER (PARTITION BY doc_id ORDER BY pos
  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m FROM hh),
sel AS (SELECT DISTINCT doc_id, CAST(m // CAST(2147483648 AS BIGINT) AS BIGINT) AS fp
  FROM wnd WHERE pos <= ng - 8),
dfc AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM sel GROUP BY fp) WHERE df <= 1000),
kept AS (SELECT sel.doc_id, sel.fp FROM sel JOIN dfc USING (fp))
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2""",
    "q177_image_dhash" ->
      // spec-derived expectations (see fixtureGradientBmp): strict left-to-
      // right gradient => every dHash bit set (-1), brightness shift is
      // invariant, inversion clears all bits, the one-cell dip clears bit 3
      """SELECT * FROM (VALUES
  ('a.bmp', 18, 16, CAST(-1 AS BIGINT)),
  ('b.bmp', 18, 16, CAST(-1 AS BIGINT)),
  ('c.bmp', 18, 16, CAST(0 AS BIGINT)),
  ('f.bmp', 18, 16, CAST(-9 AS BIGINT))) AS t(file, width, height, dhash)""",
    "q178_image_neardup" ->
      """SELECT * FROM (VALUES
  ('a.bmp', 'b.bmp', 0),
  ('a.bmp', 'f.bmp', 1),
  ('b.bmp', 'f.bmp', 1)) AS t(file_a, file_b, hamming)""",
    "q190_bloom_roundtrip" ->
      """SELECT doc_id, source, n_chars FROM documents
WHERE doc_id IN (3, 97, 205, 444)""",
    "q189_image_hash_stream" ->
      // the spec-derived q177 hashes aggregated: the gradient and its
      // brightness-shifted duplicate share -1, inversion and dip are alone
      """SELECT * FROM (VALUES
  (CAST(-1 AS BIGINT), CAST(2 AS BIGINT)),
  (CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
  (CAST(-9 AS BIGINT), CAST(1 AS BIGINT))) AS t(dhash, n_images)""",
    "q188_datasheet" ->
      """WITH m AS (SELECT source, doc_id, coalesce(text, '') AS txt, coalesce(lang, '') AS lang FROM documents),
pii AS (SELECT source, lang, length(txt) AS len,
  lower(trim(regexp_replace(txt, '\s+', ' ', 'g'))) AS canon,
  len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
  len(regexp_extract_all(regexp_replace(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS i,
  len(regexp_extract_all(regexp_replace(regexp_replace(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'), '\+[0-9]{7,15}\b')) AS p
FROM m),
base AS (SELECT source, count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS n_chars,
  count(*) - count(DISTINCT canon) AS dup_docs,
  CAST(sum(CASE WHEN e + i + p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs
FROM pii GROUP BY source),
pl AS (SELECT source, lang, count(*) AS n FROM pii GROUP BY source, lang),
tl AS (SELECT source, count(*) AS n_langs FROM pl GROUP BY source),
top AS (SELECT source, lang AS top_lang, CAST(n AS BIGINT) AS top_lang_docs FROM
  (SELECT *, row_number() OVER (PARTITION BY source ORDER BY n DESC, lang) AS rk FROM pl) WHERE rk = 1)
SELECT b.source, b.n_docs, b.n_chars, b.dup_docs, b.pii_docs,
  tl.n_langs, top.top_lang, top.top_lang_docs
FROM base b JOIN tl USING (source) JOIN top USING (source)""",
    "q187_robots_filter" ->
      // hand-derived from RFC 9309: exact-agent group governs hosta (the
      // '*' Disallow / is ignored), /private/pub/ outranks /private/ by
      // length, hostb's multi-UA group disallows /tmp/ (the empty
      // "Disallow:" contributes nothing), hostc has no rules
      """SELECT * FROM (VALUES
  ('http://hosta.example/private/secret', false, '/private/'),
  ('http://hosta.example/private/pub/x', true, '/private/pub/'),
  ('http://hosta.example/open', true, CAST(NULL AS VARCHAR)),
  ('http://hosta.example', true, CAST(NULL AS VARCHAR)),
  ('http://hostb.example/tmp/x', false, '/tmp/'),
  ('http://hostb.example/', true, CAST(NULL AS VARCHAR)),
  ('http://hostc.example/anything', true, CAST(NULL AS VARCHAR))
) AS t(url, allowed, matched_prefix)""",
    "q186_dedup_keep_best" ->
      (ccLabelsSql + """,
lq AS (SELECT l.id, l.comp, coalesce(d.n_chars, -1) AS q FROM labels l
  JOIN documents d ON l.id = d.doc_id),
win AS (SELECT id FROM (SELECT id,
  row_number() OVER (PARTITION BY comp ORDER BY q DESC, id ASC) AS rn FROM lq) WHERE rn = 1)
SELECT doc_id, lang, n_chars FROM documents
WHERE doc_id < 600 AND (doc_id NOT IN (SELECT id FROM labels)
  OR doc_id IN (SELECT id FROM win))"""),
    "q185_pr_curve" ->
      s"""WITH tok AS (SELECT doc_id, t FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) AS t FROM documents) x WHERE len(t) > 0),
w AS (SELECT doc_id, ((${portableHash60Sql("t")} % 32768) * 2654435761 % 1001) - 500 AS wt FROM tok),
sc AS (SELECT doc_id, CAST(sum(wt) AS BIGINT) AS score FROM w GROUP BY doc_id),
lab AS (SELECT d.doc_id, COALESCE(sc.score, 0) AS score, d.lang = 'en' AS label
  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
bys AS (SELECT score AS threshold, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np FROM lab GROUP BY score),
tot AS (SELECT CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS t FROM lab),
cum AS (SELECT threshold,
  CAST(SUM(n) OVER (ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pred,
  CAST(SUM(np) OVER (ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp FROM bys)
SELECT threshold, tp, pred - tp AS fp, (SELECT t FROM tot) - tp AS fn,
  CAST(tp AS DOUBLE) / CAST(pred AS DOUBLE) AS precision,
  CASE WHEN (SELECT t FROM tot) = 0 THEN 0.0
       ELSE CAST(tp AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE) END AS recall
FROM cum""",
    "q184_sft_transcripts" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id,
  CASE WHEN event_type IN ('view', 'click', 'signup') THEN 'user' ELSE 'assistant' END AS role,
  event_type AS txt FROM events WHERE user_id % 10 = 0),
l AS (SELECT user_id, t, event_id, role, role || ': ' || txt AS line FROM e),
w AS (SELECT *, CAST(length(line) AS BIGINT) AS len,
  CAST(coalesce(SUM(length(line) + 1) OVER (PARTITION BY user_id ORDER BY t, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s FROM l)
SELECT user_id, string_agg(line, chr(10) ORDER BY t, event_id) AS transcript,
  count(*) AS n_turns,
  coalesce(string_agg(CASE WHEN role = 'assistant' THEN s || '-' || (s + len) END, ';' ORDER BY t, event_id), '') AS mask
FROM w GROUP BY user_id""",
    "q183_pii_audit" ->
      """WITH inj AS (SELECT doc_id, coalesce(text, '')
    || CASE WHEN doc_id % 7 = 0 THEN ' mail a@b.co and c@d.org' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.0.1' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN ' call +15551234567' ELSE '' END AS t FROM documents),
st AS (SELECT doc_id, t,
  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 FROM inj),
st2 AS (SELECT doc_id, t, t1,
  regexp_replace(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS t2 FROM st),
c AS (SELECT doc_id,
  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(t2, '\+[0-9]{7,15}\b')) AS BIGINT) AS n_phones
FROM st2)
SELECT doc_id, n_emails, n_ips, n_phones,
  n_emails + n_ips + n_phones AS pii_total FROM c""",
    "q181_cluster_balance" -> (lloydCtesSql(withInjectedCopies = false) +
      s"""r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY cid
  ORDER BY ${portableHash60Sql("vec_id")}, vec_id) AS rk FROM a1)
SELECT vec_id, cid AS cell, CAST(rk AS BIGINT) AS cell_rank, rk <= 10 AS kept FROM r"""),
    "q194_lloyd_budget" -> (lloydCtesSql(withInjectedCopies = false, maxCentroids = 12) +
      s"""r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY cid
  ORDER BY ${portableHash60Sql("vec_id")}, vec_id) AS rk FROM a1)
SELECT vec_id, cid AS cell, CAST(rk AS BIGINT) AS cell_rank, rk <= 10 AS kept FROM r"""),
    "q182_winnow_snapshot" ->
      s"""WITH c AS (SELECT doc_id, lower(regexp_replace(coalesce(text, ''), '\\s+', '', 'g')) AS c FROM documents),
c2 AS (SELECT doc_id, c, CAST(length(c) - 15 AS BIGINT) AS ng FROM c WHERE length(c) >= 23),
g AS (SELECT doc_id, ng, CAST(i - 1 AS BIGINT) AS pos, substr(c, CAST(i AS INTEGER), 16) AS g
  FROM c2 CROSS JOIN UNNEST(range(1, ng + 1)) AS r(i)),
hh AS (SELECT doc_id, ng, pos,
  (${portableHash60Sql("g")} % CAST(4294967296 AS BIGINT)) * CAST(2147483648 AS BIGINT)
    + (CAST(2147483647 AS BIGINT) - pos) AS code FROM g),
wnd AS (SELECT doc_id, ng, pos, min(code) OVER (PARTITION BY doc_id ORDER BY pos
  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m FROM hh),
sel AS (SELECT DISTINCT doc_id, CAST(m // CAST(2147483648 AS BIGINT) AS BIGINT) AS fp
  FROM wnd WHERE pos <= ng - 8),
f AS (SELECT doc_id AS fresh_id, fp FROM sel WHERE doc_id >= 400),
p0 AS (SELECT doc_id AS prior_id, fp FROM sel WHERE doc_id < 400),
pdf AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM p0 GROUP BY fp) WHERE df <= 1000),
p AS (SELECT p0.prior_id, p0.fp FROM p0 JOIN pdf USING (fp))
SELECT f.fresh_id, p.prior_id, count(*) AS shared
FROM f JOIN p USING (fp) GROUP BY 1, 2 HAVING count(*) >= 2""",
    "q179_audio_fingerprint" ->
      // spec-derived (see fixtureEnvelopeWav): strictly ascending window
      // energies => all 64 delta-sign bits set (-1), gain shift invariant,
      // reversal clears all bits, muting window 4 flips exactly bit 3
      """SELECT * FROM (VALUES
  ('a.wav', 8000, CAST(-1 AS BIGINT)),
  ('b.wav', 8000, CAST(-1 AS BIGINT)),
  ('c.wav', 8000, CAST(0 AS BIGINT)),
  ('f.wav', 8000, CAST(-9 AS BIGINT))) AS t(file, sample_rate, afp)""",
    "q180_audio_neardup" ->
      """SELECT * FROM (VALUES
  ('a.wav', 'b.wav', 0),
  ('a.wav', 'f.wav', 1),
  ('b.wav', 'f.wav', 1)) AS t(file_a, file_b, hamming)""",
    "q170_manifest_stream" ->
      s"""WITH m AS (SELECT source, doc_id, coalesce(text, '') AS txt
  FROM documents WHERE doc_id % 100 < 20),
h AS (SELECT source, length(txt) AS len,
  ${portableHash60Sql("coalesce(CAST(doc_id AS VARCHAR), chr(2)) || chr(1) || txt")} AS hv FROM m)
SELECT source, count(*) AS n_rows, CAST(sum(len) AS BIGINT) AS n_chars,
  CAST(bit_xor(hv) AS BIGINT) AS checksum
FROM h GROUP BY source""",
    "q171_mix_budget_fill" ->
      s"""WITH cnts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
ws AS (SELECT source,
  CAST(floor(CAST(1000000 AS DOUBLE) * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w_scaled FROM cnts),
tt AS (SELECT CAST(sum(w_scaled) AS BIGINT) AS tot FROM ws),
bud AS (SELECT source, (w_scaled * 10000) // tot AS budget FROM ws CROSS JOIN tt),
bb AS (SELECT doc_id, source, n_chars // 100 AS score,
  CAST(len(list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'), x -> length(x) > 0)) AS BIGINT) AS n_toks
  FROM documents WHERE n_chars IS NOT NULL),
b2 AS (SELECT * FROM bb WHERE n_toks > 0),
b3 AS (SELECT b2.*, bud.budget FROM b2 JOIN bud USING (source)),
ps AS (SELECT source, score, CAST(sum(n_toks) AS BIGINT) AS st, min(budget) AS budget
  FROM b3 GROUP BY source, score),
mk AS (SELECT source, score, st, budget, CAST(coalesce(sum(st) OVER (PARTITION BY source
    ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bf FROM ps),
fullin AS (SELECT b.doc_id, b.source, b.score, b.n_toks FROM b3 b
  JOIN mk ON b.source = mk.source AND b.score = mk.score WHERE mk.bf + mk.st <= mk.budget),
bnd AS (SELECT source, score, budget - bf AS remaining FROM mk WHERE bf < budget AND bf + st > budget),
bp AS (SELECT b.doc_id, b.source, b.score, b.n_toks,
  CAST(coalesce(sum(b.n_toks) OVER (PARTITION BY b.source, b.score ORDER BY b.h, b.doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum, r.remaining
  FROM (SELECT *, ${portableHash60Sql("doc_id")} AS h FROM b3) b
  JOIN bnd r ON b.source = r.source AND b.score = r.score)
SELECT doc_id, source, score, n_toks FROM fullin
UNION ALL SELECT doc_id, source, score, n_toks FROM bp WHERE cum + n_toks <= remaining""")

  /** DuckDB replay of q157's integer PageRank: the iteration constants live
    * HERE ONCE and the unrolled CTE chain is generated, so the Spark loop
    * and the oracle cannot drift. Every step is floor division and exact
    * integer addition — aggregation-order-independent, unlike IEEE-double
    * PageRank.
    */
  private lazy val pageRankOracleSql: String = {
    val scale = 1000000L
    val (dampNum, dampDen) = (85L, 100L)
    val base = (scale * (dampDen - dampNum)) / dampDen
    val iters = 3
    val sb = new StringBuilder
    sb ++= s"""WITH edges AS (SELECT DISTINCT o_custkey AS src, CAST(l_suppkey + 10000000 AS BIGINT) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS n FROM edges UNION SELECT DISTINCT dst FROM edges),
r0 AS (SELECT n, CAST($scale AS BIGINT) AS r FROM nodes)"""
    for (i <- 1 to iters) {
      sb ++= s""",
c$i AS (SELECT e.dst AS n, CAST(sum(r.r // d.d) AS BIGINT) AS s
  FROM edges e JOIN deg d ON e.src = d.src JOIN r${i - 1} r ON r.n = e.src GROUP BY e.dst),
r$i AS (SELECT nodes.n, CAST($base + ($dampNum * COALESCE(c$i.s, 0)) // $dampDen AS BIGINT) AS r
  FROM nodes LEFT JOIN c$i ON nodes.n = c$i.n)"""
    }
    sb ++= s"\nSELECT n, r FROM r$iters"
    sb.toString
  }

  /** DuckDB replay of the full PQ pipeline (training, encoding, ADC,
    * refine) — shared by q128 (in-query training), q132 (offline-trained
    * reuse) and q142 (stored-index serve), which produce identical results
    * by construction; `queryPred` selects the query id set (__QPRED__ in
    * the template).
    */
  /** `maxCentroids > 0` replays pqTrain's fixed per-subspace codebook
    * budget: the k smallest seed ids per sub (row_number ≤ k), the
    * corpus-linear training regime (see q194/q195 and SCALING.md).
    */
  private def pqTopkOracleSql(
      queryPred: String,
      maxCentroids: Int = VectorFunctions.DefaultMaxCentroids): String = {
    val seedMarker =
      "seed AS (SELECT sub, id AS cid, sv AS cv FROM sub WHERE id % 50 = 0),"
    // Guard against silent template drift: if the seed CTE is ever
    // reformatted, the .replace below would no-op and the oracle would
    // replay the unbudgeted codebook while Spark applies maxCentroids.
    require(pqTopkOracleTemplate.contains(seedMarker),
      "pqTopkOracleTemplate seed CTE marker drifted — update pqTopkOracleSql")
    require(pqTopkOracleTemplate.contains("__QPRED__"),
      "pqTopkOracleTemplate __QPRED__ placeholder missing")
    val seed =
      if (maxCentroids <= 0) seedMarker
      else
        "seed AS (SELECT sub, cid, cv FROM (SELECT sub, id AS cid, sv AS cv, " +
          "row_number() OVER (PARTITION BY sub ORDER BY id) AS sr " +
          s"FROM sub WHERE id % 50 = 0) WHERE sr <= $maxCentroids),"
    pqTopkOracleTemplate
      .replace(seedMarker, seed)
      .replace("__QPRED__", queryPred)
  }

  /** DuckDB replay of the full DSIR pipeline — shared by q112
    * (in-query weight training) and q144 (offline-trained serve),
    * identical results by construction.
    */
  private lazy val dsirOracleSql: String =
    s"""WITH tk AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
feats AS (
  SELECT doc_id, source, unnest(toks) AS f FROM tk
  UNION ALL
  SELECT doc_id, source, unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
    ELSE list_transform(range(1, len(toks)), i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i AS INTEGER) + 1]) END) AS f
  FROM tk),
fb AS (SELECT doc_id, source, ${portableHash60Sql("f")} % 256 AS bucket FROM feats),
qc AS (SELECT bucket, count(*) AS qcnt FROM fb GROUP BY bucket),
pc AS (SELECT bucket, count(*) AS pcnt FROM fb WHERE source IN ('src0', 'src1') GROUP BY bucket),
tot AS (SELECT (SELECT count(*) FROM fb) AS qtot,
               (SELECT count(*) FROM fb WHERE source IN ('src0', 'src1')) AS ptot),
w AS (SELECT qc.bucket, COALESCE(pc.pcnt, 0) AS pcnt, qc.qcnt AS qcnt FROM qc LEFT JOIN pc USING (bucket))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
  CAST(sum((1000000 * (w.pcnt + 1) * (tot.qtot + 256)) // ((w.qcnt + 1) * (tot.ptot + 256))) AS BIGINT) AS score_scaled
FROM fb JOIN w USING (bucket) CROSS JOIN tot GROUP BY doc_id"""

  /** DuckDB replay of the sparse tf·idf ranker — shared by q130
    * (build+serve) and q143 (stored-index serve), identical results by
    * construction; `queryPred` selects the query doc set.
    */
  private def sparseTfIdfOracleSql(queryPred: String,
                                   maxPostings: Int = 0): String = {
    // champion lists: truncate each term's postings to the maxPostings
    // highest-tf docs (ties to the lower doc id) — df/w stay full-corpus.
    // (No maxDf/stop-list branch here: no oracle query exercises one — the
    // fixture's bimodal df distribution makes any binding cap empty the
    // query overlap, see q197 — and dead oracle SQL is untested oracle SQL.)
    val corpus =
      if (maxPostings <= 0) "SELECT doc_id, t, tf FROM tf"
      else s"""SELECT doc_id, t, tf FROM
  (SELECT *, row_number() OVER (PARTITION BY t ORDER BY tf DESC, doc_id) AS prn FROM tf)
  WHERE prn <= $maxPostings"""
    ("""WITH tok AS (SELECT doc_id, w AS t FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(coalesce(text, '')), '\s+')) AS w FROM documents) x WHERE len(w) > 0),
tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t),
dft AS (SELECT t, count(*) AS df, greatest(1000000 // count(*), 1) AS w FROM tf GROUP BY t),
corpus AS (__CORPUS__),
qtf AS (SELECT doc_id AS query_id, t, tf AS qtf FROM tf WHERE __QPRED__),
sc AS (SELECT q.query_id, corpus.doc_id,
  CAST(sum(q.qtf * corpus.tf * dft.w) AS BIGINT) AS score, count(*) AS shared_terms
  FROM qtf q JOIN dft USING (t) JOIN corpus USING (t)
  WHERE corpus.doc_id <> q.query_id GROUP BY q.query_id, corpus.doc_id)
SELECT query_id, doc_id, score, shared_terms, CAST(rank AS INTEGER) AS rank FROM
  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM sc)
WHERE rank <= 5""").replace("__QPRED__", queryPred)
      .replace("__CORPUS__", corpus)
  }

  private val pqTopkOracleTemplate: String =
      """WITH iv AS (SELECT vec_id AS id,
  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 256 + 0.5) AS BIGINT)) AS v FROM embeddings),
sub AS (SELECT id, CAST(s AS BIGINT) AS sub,
  v[CAST(s * 8 + 1 AS INTEGER):CAST(s * 8 + 8 AS INTEGER)] AS sv
  FROM iv CROSS JOIN UNNEST(range(0, 8)) AS r(s)),
seed AS (SELECT sub, id AS cid, sv AS cv FROM sub WHERE id % 50 = 0),
d0 AS (SELECT s.id, s.sub, s.sv, c.cid,
  CAST(list_sum(list_transform(list_zip(s.sv, c.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
  FROM sub s JOIN seed c USING (sub) WHERE s.id % 5 = 0),
a0 AS (SELECT id, sub, sv, cid FROM
  (SELECT *, row_number() OVER (PARTITION BY id, sub ORDER BY d2, cid) AS rn FROM d0) WHERE rn = 1),
comp AS (SELECT sub, cid, CAST(dd AS BIGINT) AS d, sv[CAST(dd AS INTEGER)] AS x
  FROM a0 CROSS JOIN UNNEST(range(1, 9)) AS r(dd)),
upd AS (SELECT sub, cid, d,
  CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS mc
  FROM comp GROUP BY sub, cid, d),
book AS (SELECT sub, cid, list(mc ORDER BY d) AS cv FROM upd GROUP BY sub, cid),
d1 AS (SELECT s.id, s.sub, c.cid,
  CAST(list_sum(list_transform(list_zip(s.sv, c.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
  FROM sub s JOIN book c USING (sub)),
codes AS (SELECT id, sub, cid FROM
  (SELECT *, row_number() OVER (PARTITION BY id, sub ORDER BY d2, cid) AS rn FROM d1) WHERE rn = 1),
tab AS (SELECT s.id AS query_id, s.sub, c.cid,
  CAST(list_sum(list_transform(list_zip(s.sv, c.cv), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
  FROM sub s JOIN book c USING (sub) WHERE __QPRED__),
adc AS (SELECT t.query_id, c.id AS neighbor_id, CAST(sum(t.d2) AS BIGINT) AS adc_d2
  FROM codes c JOIN tab t ON c.sub = t.sub AND c.cid = t.cid
  WHERE c.id <> t.query_id GROUP BY t.query_id, c.id),
cand AS (SELECT query_id, neighbor_id FROM
  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rn FROM adc)
  WHERE rn <= 20),
ex AS (SELECT c.query_id, c.neighbor_id,
  CAST(list_sum(list_transform(list_zip(n.v, q.v), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
  FROM cand c JOIN iv n ON c.neighbor_id = n.id JOIN iv q ON c.query_id = q.id)
SELECT query_id, neighbor_id, d2, CAST(rank AS INTEGER) AS rank FROM
  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id) AS rank FROM ex)
WHERE rank <= 5"""

  /** DuckDB replay of [[graft.operators.Sampling.portableHash60]] — folds the
    * first 15 hex digits of md5(col) into a 60-bit BIGINT (digit 1 most
    * significant, matching `conv(substring(md5(x),1,15),16,10)`).
    */
  private def portableHash60Sql(colName: String): String =
    s"""CAST(list_sum(list_transform(range(1, 16),
  i -> (CAST(strpos('0123456789abcdef', substr(md5(CAST($colName AS VARCHAR)), CAST(i AS INTEGER), 1)) - 1 AS BIGINT)
        << ((15 - CAST(i AS INTEGER)) * 4)))) AS BIGINT)"""

  private def portableCosSql(a: String, b: String): String =
    s"(CASE WHEN sqrt(list_sum(list_transform($a, x -> x * x))) * " +
      s"sqrt(list_sum(list_transform($b, x -> x * x))) = 0.0 THEN 0.0 " +
      s"ELSE list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2])) " +
      s"/ (sqrt(list_sum(list_transform($a, x -> x * x))) * " +
      s"sqrt(list_sum(list_transform($b, x -> x * x)))) END)"

  /** Shared Lloyd-core CTE chain (the SQL twin of
    * VectorFunctions.quantizedLloyd): quantized components, optional
    * injected copies, systematic seed, one unrolled round whose update
    * trains on the deterministic 20% id-sample (trainEvery=5 — the a0
    * filter mirrors the Scala side). Ends with `a1` = final FULL-corpus
    * assignment and `c1` = final centroids.
    */
  private def lloydCtesSql(
      withInjectedCopies: Boolean,
      maxCentroids: Int = VectorFunctions.DefaultMaxCentroids): String = {
    val cos = portableCosSql _
    val vd =
      if (withInjectedCopies)
        "vd AS (SELECT * FROM v0 UNION ALL " +
          "SELECT vec_id + 10001 AS vec_id, v FROM v0 WHERE vec_id % 50 = 0), "
      else "vd AS (SELECT * FROM v0), "
    // maxCentroids > 0 replays quantizedLloyd's fixed centroid budget:
    // the k smallest systematic seeds (ORDER BY ... LIMIT k)
    val seedBound =
      if (maxCentroids > 0) s" ORDER BY vec_id LIMIT $maxCentroids" else ""
    "WITH v0 AS (SELECT vec_id, list_transform(embedding, " +
      "x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 65536.0 + 0.5) AS BIGINT) AS DOUBLE)) AS v " +
      "FROM embeddings), " + vd +
      s"c0 AS (SELECT vec_id AS cid, v AS cv FROM vd WHERE vec_id % 25 = 0$seedBound), " +
      "a0 AS (SELECT vec_id, cid, v FROM (" +
      "SELECT vd.vec_id, c0.cid, vd.v, row_number() OVER (PARTITION BY vd.vec_id " +
      "ORDER BY " + cos("vd.v", "c0.cv") + " DESC, c0.cid) AS rn " +
      "FROM (SELECT * FROM vd WHERE vec_id % 5 = 0) vd CROSS JOIN c0) WHERE rn = 1), " +
      "u AS (SELECT cid, d, CAST(floor(CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS m " +
      "FROM (SELECT a0.cid, CAST(i AS INTEGER) AS d, a0.v[CAST(i AS INTEGER)] AS x " +
      "FROM a0 CROSS JOIN UNNEST(range(1, 65)) AS r(i)) GROUP BY cid, d), " +
      "c1 AS (SELECT cid, list(CAST(m AS DOUBLE) ORDER BY d) AS cv FROM u GROUP BY cid), " +
      "a1 AS (SELECT vec_id, cid, v FROM (" +
      "SELECT vd.vec_id, c1.cid, vd.v, row_number() OVER (PARTITION BY vd.vec_id " +
      "ORDER BY " + cos("vd.v", "c1.cv") + " DESC, c1.cid) AS rn " +
      "FROM vd CROSS JOIN c1) WHERE rn = 1), "
  }

  /** DuckDB replay of the full SemDeDup pipeline — injected copies,
    * quantized components, systematic seed, one unrolled Lloyd round,
    * within-cell cosine dedup. Every arithmetic step is exact-integer or a
    * single IEEE op on identical operands, so the replay is bit-for-bit.
    */
  private lazy val semDedupOracleSql: String =
    lloydCtesSql(withInjectedCopies = true) +
      "dropped AS (SELECT DISTINCT b.vec_id AS id FROM a1 a JOIN a1 b " +
      "ON a.cid = b.cid AND a.vec_id < b.vec_id WHERE " +
      portableCosSql("a.v", "b.v") + " >= 0.99) " +
      "SELECT a1.vec_id, a1.cid AS cell, d.id IS NULL AS kept " +
      "FROM a1 LEFT JOIN dropped d ON a1.vec_id = d.id"

  /** DuckDB replay of q103's SemDeDup with the maxCell=25 degenerate-cell
    * guard: cells sized by a count, oversized ones excluded from the
    * pairing (their members stay kept), everything else identical.
    */
  private lazy val semDedupCappedOracleSql: String =
    lloydCtesSql(withInjectedCopies = true) +
      "sizes AS (SELECT cid, count(*) AS n FROM a1 GROUP BY cid), " +
      "elig AS (SELECT a1.* FROM a1 JOIN sizes USING (cid) WHERE n <= 25), " +
      "dropped AS (SELECT DISTINCT b.vec_id AS id FROM elig a JOIN elig b " +
      "ON a.cid = b.cid AND a.vec_id < b.vec_id WHERE " +
      portableCosSql("a.v", "b.v") + " >= 0.99) " +
      "SELECT a1.vec_id, a1.cid AS cell, d.id IS NULL AS kept " +
      "FROM a1 LEFT JOIN dropped d ON a1.vec_id = d.id"

  /** DuckDB replay of prototypicality pruning (Sorscher et al. 2022) on the
    * same Lloyd core: rank by cosine-to-centroid ascending within the cell,
    * keep rank ≤ ceil(keepPct·n/100) via exact integer comparison.
    */
  private lazy val prototypePruneOracleSql: String =
    lloydCtesSql(withInjectedCopies = false) +
      "pr AS (SELECT a1.vec_id, a1.cid, " +
      "row_number() OVER (PARTITION BY a1.cid ORDER BY " +
      portableCosSql("a1.v", "c1.cv") + " ASC, a1.vec_id) AS rank, " +
      "count(*) OVER (PARTITION BY a1.cid) AS n " +
      "FROM a1 JOIN c1 USING (cid)) " +
      "SELECT vec_id, cid AS cell, CAST(rank AS BIGINT) AS proto_rank, " +
      "(rank - 1) * 100 < n * 50 AS kept FROM pr"

  /** DuckDB replay of [[VectorFunctions.ivfTopK]]: the md5-spread seed
    * (cid = 0-based rank by (portableHash60(vec_id), vec_id) among
    * non-null vectors), argmax-cosine assignment and top-`nProbe` probing
    * with (cosine desc, cid) tie rules, the exact-cosine verify ranked by
    * (cosine desc, neighbor_id). Queries are the embeddings matching
    * `queryFilter`.
    */
  private def ivfTopKOracleSql(nCentroids: Int, nProbe: Int, k: Int,
                               queryFilter: String): String = {
    val cos = portableCosSql _
    s"WITH emb AS ($embVectorsSql), " +
      s"cents AS (SELECT row_number() OVER (ORDER BY ${portableHash60Sql("vec_id")}, vec_id) - 1 AS cid, " +
      s"v AS cv FROM emb WHERE v IS NOT NULL ORDER BY cid LIMIT $nCentroids), " +
      "assign0 AS (SELECT e.vec_id AS id, c.cid, e.v, " +
      "row_number() OVER (PARTITION BY e.vec_id ORDER BY " + cos("e.v", "c.cv") + " DESC, c.cid) AS rn " +
      "FROM emb e CROSS JOIN cents c WHERE e.v IS NOT NULL), " +
      "assigned AS (SELECT id, cid AS cell, v FROM assign0 WHERE rn = 1), " +
      "probes0 AS (SELECT q.vec_id AS query_id, c.cid, q.v AS qv, " +
      "row_number() OVER (PARTITION BY q.vec_id ORDER BY " + cos("q.v", "c.cv") + " DESC, c.cid) AS rn " +
      s"FROM (SELECT * FROM emb WHERE $queryFilter) q CROSS JOIN cents c), " +
      s"probes AS (SELECT query_id, qv, cid AS cell FROM probes0 WHERE rn <= $nProbe), " +
      "scored AS (SELECT p.query_id, a.id AS neighbor_id, " + cos("p.qv", "a.v") + " AS c " +
      "FROM probes p JOIN assigned a ON a.cell = p.cell WHERE a.id <> p.query_id) " +
      "SELECT query_id, neighbor_id, round(c, 6) AS cosine, " +
      "CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rank " +
      s"FROM scored QUALIFY rank <= $k"
  }

  /** The embeddings as (vec_id, v DOUBLE[]) — the emb CTE of the sign-LSH
    * replays; the second form adds q53/q146's injected exact copies.
    */
  private lazy val embVectorsSql =
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings"
  private lazy val embWithCopiesSql = embVectorsSql +
    " UNION ALL SELECT vec_id + 100000, list_transform(embedding, x -> CAST(x AS DOUBLE)) " +
    "FROM embeddings WHERE vec_id < 20"

  /** Shared CTE chain of the sign-LSH DuckDB replay — the ONLY definition
    * of VectorFunctions' bucket relation in SQL: plane literals from the
    * same portablePlanes call as the Spark plan, the sequential dot per
    * (vector, table, plane), the signature per (vector, table) (`sig`),
    * and the corpus buckets under the whole-bucket window cap (`keep`,
    * interpolating VectorFunctions.DefaultMaxBucketSize). A dot is NULL,
    * so its bit unset, unless the vector has the plane's length and no
    * NULL element — Kernels.planeSigs' rule; `list_sum` alone would skip
    * the NULL products `list_zip` pads in. A NULL vector has no `sig`
    * rows, as `posexplode` of a NULL signature array emits none.
    */
  private def lshCtes(embCte: String, bits: Int, tables: Int): String = {
    val planes = VectorFunctions.portablePlanes(64, bits, tables)
    val planeValues = (0 until tables).flatMap { t =>
      (0 until bits).map { b =>
        s"($t, $b, [${planes(t * bits + b).mkString(", ")}])"
      }
    }.mkString(", ")
    s"emb AS ($embCte), " +
      s"planes(t, b, w) AS (SELECT * FROM (VALUES $planeValues) AS p(t, b, w)), " +
      "dots AS (SELECT vec_id, t, b, CASE WHEN len(v) = len(w) AND list_count(v) = len(v) " +
      "THEN list_sum(list_transform(list_zip(v, w), p -> p[1] * p[2])) END AS d " +
      "FROM emb CROSS JOIN planes WHERE v IS NOT NULL), " +
      "sig AS (SELECT vec_id, t, CAST(SUM(CASE WHEN d >= 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) " +
      "ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig FROM dots GROUP BY vec_id, t), " +
      "keep AS (SELECT vec_id, t, sig FROM (SELECT vec_id, t, sig, " +
      "count(*) OVER (PARTITION BY t, sig) AS n FROM sig) " +
      s"WHERE n <= ${VectorFunctions.DefaultMaxBucketSize})"
  }

  /** Exact cosine of the DOUBLE[] columns `va` and `vb`, in Kernels.cosine's
    * operation order.
    */
  private lazy val lshCosSql =
    "(CASE WHEN sqrt(list_sum(list_transform(va, x -> x * x))) * " +
      "sqrt(list_sum(list_transform(vb, x -> x * x))) = 0.0 THEN 0.0 " +
      "ELSE list_sum(list_transform(list_zip(va, vb), p -> p[1] * p[2])) " +
      "/ (sqrt(list_sum(list_transform(va, x -> x * x))) * " +
      "sqrt(list_sum(list_transform(vb, x -> x * x)))) END)"

  /** DuckDB replay of `cosineNearDupPairs` over the emb CTE body: the
    * bucket self-join over `keep` (the same pairs `bucketPairs` reads from
    * each bucket's id list), then the exact-cosine verify at
    * `threshold` — q95 (raw corpus, low threshold), q146 and q53 (injected
    * exact copies at 0.95).
    */
  private def lshPairsOracleSql(embCte: String, threshold: String,
                                bits: Int, tables: Int): String =
    s"WITH ${lshCtes(embCte, bits, tables)}, " +
      "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b " +
      "FROM keep a JOIN keep b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id), " +
      "pairs AS (SELECT id_a, id_b, ea.v AS va, eb.v AS vb FROM cand " +
      "JOIN emb ea ON ea.vec_id = cand.id_a JOIN emb eb ON eb.vec_id = cand.id_b) " +
      s"SELECT id_a, id_b, round($lshCosSql, 6) AS cosine FROM pairs WHERE $lshCosSql >= $threshold"

  /** DuckDB replay of `lshTopK` with the corpus as the emb CTE body and the
    * queries its rows with vec_id < `queriesBelow`: each query's uncapped
    * signatures probe `keep`, and bucket-mates other than the query itself
    * rank by (cosine desc, neighbor_id) — q51.
    */
  private def lshTopKOracleSql(embCte: String, queriesBelow: Int, k: Int,
                               bits: Int, tables: Int): String =
    s"WITH ${lshCtes(embCte, bits, tables)}, " +
      "cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id " +
      "FROM sig q JOIN keep c ON q.t = c.t AND q.sig = c.sig " +
      s"WHERE q.vec_id < $queriesBelow AND c.vec_id <> q.vec_id), " +
      "pairs AS (SELECT query_id, neighbor_id, eq.v AS va, ec.v AS vb FROM cand " +
      "JOIN emb eq ON eq.vec_id = cand.query_id JOIN emb ec ON ec.vec_id = cand.neighbor_id), " +
      s"scored AS (SELECT query_id, neighbor_id, $lshCosSql AS c FROM pairs) " +
      "SELECT query_id, neighbor_id, round(c, 6) AS cosine, " +
      "CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rank " +
      s"FROM scored QUALIFY rank <= $k"

  /** Shared CTE chain of the minhash DuckDB replay (hashing,
    * permutations, banding, hot-bucket exclusion, candidate join,
    * jaccard) — the ONLY definition; q47/q93 select the pair relation from
    * it, q48 drops each pair's larger id, q154 closes the pairs into
    * components, and q166 filters the cross fresh/prior pairs, so the
    * oracles cannot drift apart. The permutation constants come from the
    * SAME MinHash.perms call that builds the Spark plan, so both engines
    * compute identical signatures and band keys. The
    * keptbk CTE replays minhashPairs' whole-bucket window-count
    * exclusion with the cap interpolated from the SAME constant the Scala
    * defaults use (NearDedup.DefaultMaxBucketSize — round-13 advice: a
    * literal here silently diverged the moment a caller passed a
    * non-default cap). q166's combined-count variant is the same rule —
    * counting per bucket over ALL documents when fresh/prior partition
    * the corpus.
    */
  private lazy val minhashCtes: String = {
    val (as, bs) = graft.expressions.MinHash.perms(32, graft.expressions.MinHash.Seed)
    val permValues = (0 until 32).map(i => s"(${i}, ${as(i)}, ${bs(i)})").mkString(", ")
    s"""perms(i, a, b) AS (SELECT * FROM (VALUES $permValues) AS v(i, a, b)),
sh AS (SELECT doc_id, list_distinct(
  CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 3
       THEN [array_to_string(regexp_split_to_array(trim(text), '\\s+'), ' ')]
       ELSE list_transform(range(1, len(regexp_split_to_array(trim(text), '\\s+')) - 1),
         i -> array_to_string(regexp_split_to_array(trim(text), '\\s+')[i:i+2], ' ')) END) AS s
  FROM documents),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
hx AS (SELECT doc_id, CAST(list_sum(list_transform(range(1, 16),
  i -> (CAST(strpos('0123456789abcdef', substr(md5(g), CAST(i AS INTEGER), 1)) - 1 AS BIGINT)
        << ((15 - CAST(i AS INTEGER)) * 4)))) AS BIGINT) % 2147483647 AS hm FROM ex),
sig AS (SELECT doc_id, p.i, min((hm * p.a + p.b) % 2147483647) AS sig
  FROM hx CROSS JOIN perms p GROUP BY doc_id, p.i),
bk AS (SELECT doc_id, i // 4 AS band, md5(string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i)) AS bk
  FROM sig GROUP BY doc_id, i // 4),
keptbk AS (SELECT doc_id, band, bk FROM (
  SELECT doc_id, band, bk, count(*) OVER (PARTITION BY band, bk) AS n FROM bk)
  WHERE n <= ${graft.operators.NearDedup.DefaultMaxBucketSize}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM keptbk a JOIN keptbk b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id),
j AS (SELECT id_a, id_b, len(list_intersect(sa.s, sb.s)) AS i, len(sa.s) AS na, len(sb.s) AS nb
  FROM cand JOIN sh sa ON sa.doc_id = cand.id_a JOIN sh sb ON sb.doc_id = cand.id_b)"""
  }

  /** q49/q94: the simhash pipeline replayed — whitespace tokens of the
    * trimmed text, the 60-bit md5-prefix majority vote, hammingPairs64's
    * 4×16-bit chunks under the window-count cap (interpolated from
    * NearDedup.DefaultMaxBucketSize, like minhashCtes' keptbk), the chunk
    * self-join and the Hamming verify.
    */
  private lazy val simhashPairsOracleSql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t FROM documents),
hx AS (SELECT doc_id, CAST(list_sum(list_transform(range(1, 16),
  i -> (CAST(strpos('0123456789abcdef', substr(md5(t), CAST(i AS INTEGER), 1)) - 1 AS BIGINT)
        << ((15 - CAST(i AS INTEGER)) * 4)))) AS BIGINT) AS h FROM tok),
votes AS (SELECT doc_id, j, SUM(CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hx CROSS JOIN range(60) r(j) GROUP BY doc_id, j),
sig AS (SELECT doc_id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
  FROM votes GROUP BY doc_id),
ch AS (SELECT doc_id, sig, CAST(q AS INTEGER) AS qi, (sig >> CAST(q * 16 AS INTEGER)) & 65535 AS qv
  FROM sig CROSS JOIN range(4) r(q)),
keep AS (SELECT doc_id, sig, qi, qv FROM (
  SELECT *, count(*) OVER (PARTITION BY qi, qv) AS n FROM ch)
  WHERE n <= ${graft.operators.NearDedup.DefaultMaxBucketSize}),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.sig, b.sig)) AS hamming
  FROM keep a JOIN keep b ON a.qi = b.qi AND a.qv = b.qv AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming FROM pairs WHERE hamming <= 3"""

  private lazy val minhashPairsOracleSql: String =
    s"""WITH $minhashCtes
SELECT id_a, id_b, round(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
FROM j WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7"""

  /** q48: the greedy pairwise dedup over the q93 pair relation — every
    * document that is the larger id of a qualifying pair drops.
    */
  private lazy val minhashDedupOracleSql: String =
    s"""WITH $minhashCtes,
pp AS (SELECT id_a, id_b FROM j WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM pp)"""

  /** q154: the q93 pair relation closed into components (recursive min-label
    * propagation, the q74/q75 ground-truth formulation) with the min-id
    * representative kept — the full minhashDedup pipeline replayed.
    */
  private lazy val minhashDedupCCOracleSql: String =
    s"""WITH RECURSIVE $minhashCtes,
p AS (SELECT id_a, id_b FROM j WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7),
e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
reach(id, comp) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, r.comp FROM e JOIN reach r ON e.dst = r.id),
losers AS (SELECT id FROM (SELECT id, min(comp) AS comp FROM reach GROUP BY id) WHERE comp < id)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT id FROM losers)"""

  /** q166: the incremental near-dedup decision replayed from the SAME
    * portable-minhash CTE chain as q93/q154 — a cross (prior, fresh) pair
    * always lands as (id_a < 250 <= id_b) because the pair relation is
    * ordered id_a < id_b, so the contaminated set is one filter over it.
    */
  private lazy val nearDedupSnapshotOracleSql: String =
    s"""WITH $minhashCtes,
pp AS (SELECT id_a, id_b FROM j WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.7)
SELECT doc_id, lang, source FROM documents
WHERE doc_id >= 250
  AND doc_id NOT IN (SELECT id_b FROM pp WHERE id_a < 250 AND id_b >= 250)"""

  /** DuckDB replay of the two-stage quantized ANN: same quantization
    * arithmetic as q83, cosine on the quantized vectors for the candidate
    * rank (scale-invariant, no dequantization), exact cosine rescoring of
    * the k×4 candidates. Deterministic tie-breaks make the candidate sets
    * engine-identical.
    */
  private lazy val quantizedTopkOracleSql: String = {
    def cosine(a: String, b: String): String =
      s"(CASE WHEN sqrt(list_sum(list_transform($a, x -> x * x))) * " +
        s"sqrt(list_sum(list_transform($b, x -> x * x))) = 0.0 THEN 0.0 " +
        s"ELSE list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2])) " +
        s"/ (sqrt(list_sum(list_transform($a, x -> x * x))) * " +
        s"sqrt(list_sum(list_transform($b, x -> x * x)))) END)"
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      "s AS (SELECT vec_id, v, 127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) AS sc FROM e), " +
      "qz AS (SELECT vec_id, v, list_transform(v, x -> CAST(floor(x * sc + 0.5) AS DOUBLE)) AS qv FROM s), " +
      "cand AS (SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id, cc.v AS cv, qq.v AS qvf, " +
      cosine("qq.qv", "cc.qv") + " AS ac " +
      "FROM qz qq JOIN qz cc ON cc.vec_id <> qq.vec_id WHERE qq.vec_id < 5), " +
      "top AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ac DESC, neighbor_id) AS ar FROM cand), " +
      "resc AS (SELECT query_id, neighbor_id, " + cosine("qvf", "cv") + " AS c FROM top WHERE ar <= 20) " +
      "SELECT query_id, neighbor_id, round(c, 6) AS cosine, " +
      "CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rank " +
      "FROM resc QUALIFY rank <= 5"
  }

  /** Transitive closure of the q46 exact-jaccard pair relation: DuckDB
    * recursive CTE propagating the min reachable doc_id along symmetrized
    * edges — the ground truth for min-label connected components.
    */
  private lazy val ccLabelsSql: String =
    s"""WITH RECURSIVE sh AS (SELECT doc_id, list_distinct(
  CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 3
       THEN [array_to_string(regexp_split_to_array(trim(text), '\\s+'), ' ')]
       ELSE list_transform(range(1, len(regexp_split_to_array(trim(text), '\\s+')) - 1),
         i -> array_to_string(regexp_split_to_array(trim(text), '\\s+')[i:i+2], ' ')) END) AS s
  FROM documents WHERE doc_id < 600),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a, sh b WHERE a.doc_id < b.doc_id
    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
e AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
reach(id, comp) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.src, r.comp FROM e JOIN reach r ON e.dst = r.id),
labels AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)"""

  /** Composite C4-style pipeline: each stage reuses the SQL of its
    * already-verified standalone oracle (q42 langid, q43 quality, q66
    * dup-line fraction, q45 canonical dedup, q67 redaction).
    */
  private lazy val corpusCleanOracleSql: String =
    s"""WITH b AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks,
  list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS dl FROM documents),
lang AS (
  SELECT doc_id, CASE WHEN s <= 0 THEN 'und' ELSE lang END AS lang_id FROM (
    SELECT doc_id, s, lang, row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang ASC) AS rn
    FROM (SELECT b.doc_id, L.lang, len(list_intersect(b.dl, L.lex)) AS s
          FROM b CROSS JOIN (SELECT * FROM (VALUES $lexValuesSql) AS v(lang, lex)) L))
  WHERE rn = 1),
q AS (SELECT doc_id,
  least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.25
  + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0) * 0.25
  + (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.25
  + least((CASE WHEN len(dl) = 0 THEN 0.0 ELSE CAST(len(list_intersect(dl, $stopListSql)) AS DOUBLE) / len(dl) END) * 4.0, 1.0) * 0.25 AS quality
  FROM b),
rep AS (SELECT doc_id,
  CASE WHEN len(ls) = 0 THEN 0.0 ELSE 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls) END AS dlf
  FROM (SELECT doc_id, list_filter(string_split(regexp_replace(text, '\\. ', '.' || chr(10), 'g'), chr(10)),
        x -> length(trim(x)) > 0) AS ls FROM documents)),
kept AS (SELECT d.doc_id, d.text FROM documents d
  JOIN lang USING (doc_id) JOIN q USING (doc_id) JOIN rep USING (doc_id)
  WHERE lang.lang_id = 'en' AND q.quality >= 0.5 AND rep.dlf <= 0.3),
deduped AS (SELECT doc_id, text FROM kept WHERE doc_id IN
  (SELECT min(doc_id) FROM kept GROUP BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,
  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
  '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
  '\\+[0-9]{7,15}\\b', '<PHONE>', 'g') AS clean_text
FROM deduped"""

  // s-interpolator on purpose: it processes \\ escapes inside triple quotes,
  // so '\\s+' reaches DuckDB as '\s+' (a plain triple-quoted string would
  // ship the double backslash verbatim and the regex would never match)
  private lazy val repetitionOracleSql: String =
    s"""WITH base AS (SELECT doc_id, text,
  list_filter(string_split(regexp_replace(text, '\\. ', '.' || chr(10), 'g'), chr(10)),
              x -> length(trim(x)) > 0) AS ls,
  regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents),
g AS (SELECT doc_id, text, ls,
  CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
       ELSE list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')) END AS grams,
  len(toks) AS ntoks
  FROM base),
m AS (SELECT doc_id, text, ls, grams, ntoks,
  COALESCE(list_sum(list_transform(ls, x -> length(x))), 0) AS total_chars,
  COALESCE(list_sum(list_transform(list_distinct(ls),
    d -> CASE WHEN len(list_filter(ls, x -> x = d)) > 1
              THEN len(list_filter(ls, x -> x = d)) * length(d) ELSE 0 END)), 0) AS dup_chars,
  list_max(list_transform(list_distinct(grams),
    g2 -> {'c': len(list_filter(grams, x -> x = g2)), 'g': g2})) AS best
  FROM g)
SELECT doc_id,
  CASE WHEN len(ls) = 0 THEN 0.0
       ELSE 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls) END AS dup_line_frac,
  CASE WHEN total_chars = 0 THEN 0.0
       ELSE CAST(dup_chars AS DOUBLE) / total_chars END AS dup_char_frac,
  CASE WHEN ntoks < 2 OR length(text) = 0 OR best IS NULL THEN 0.0
       ELSE least(CAST(best.c AS DOUBLE) * length(best.g) / length(text), 1.0) END AS top2gram_frac
FROM m"""

  private lazy val uaOracleSql: String = {
    val values = uaRows.map { case (id, ua) => s"($id, '${ua.replace("'", "''")}')" }.mkString(", ")
    s"""WITH u AS (SELECT * FROM (VALUES $values) AS t(id, useragent))
SELECT CAST(id AS BIGINT) AS id, useragent,
  CASE WHEN regexp_matches(useragent, 'iPad') THEN 'iPad'
       WHEN regexp_matches(useragent, 'iPhone') THEN 'iPhone'
       WHEN regexp_matches(useragent, 'Android') THEN 'Android'
       WHEN regexp_matches(useragent, 'Windows') THEN 'Windows'
       WHEN regexp_matches(useragent, 'Mac OS X|Macintosh') THEN 'Macintosh'
       WHEN regexp_matches(useragent, 'Linux') THEN 'Linux' END AS os,
  CASE WHEN regexp_matches(useragent, 'Edg(e|A|iOS)?/') THEN 'Edge'
       WHEN regexp_matches(useragent, 'OPR/|Opera') THEN 'Opera'
       WHEN regexp_matches(useragent, 'Firefox/') THEN 'Firefox'
       WHEN regexp_matches(useragent, 'Chrom(e|ium)/') THEN 'Chrome'
       WHEN regexp_matches(useragent, 'Safari/') THEN 'Safari'
       WHEN regexp_matches(useragent, 'MSIE |Trident/') THEN 'Microsoft Internet Explorer' END AS browser,
  NULLIF(CASE WHEN regexp_matches(useragent, 'Edg(e|A|iOS)?/') THEN regexp_extract(useragent, 'Edg(?:e|A|iOS)?/([0-9.]+)', 1)
       WHEN regexp_matches(useragent, 'OPR/') THEN regexp_extract(useragent, 'OPR/([0-9.]+)', 1)
       WHEN regexp_matches(useragent, 'Opera') THEN regexp_extract(useragent, 'Version/([0-9.]+)', 1)
       WHEN regexp_matches(useragent, 'Firefox/') THEN regexp_extract(useragent, 'Firefox/([0-9.]+)', 1)
       WHEN regexp_matches(useragent, 'Chrom(e|ium)/') THEN regexp_extract(useragent, 'Chrom(?:e|ium)/([0-9.]+)', 1)
       WHEN regexp_matches(useragent, 'Safari/') THEN regexp_extract(useragent, 'Version/([0-9.]+)', 1)
       WHEN regexp_matches(useragent, 'MSIE ') THEN regexp_extract(useragent, 'MSIE ([0-9.]+)', 1)
       WHEN regexp_matches(useragent, 'Trident/') THEN regexp_extract(useragent, 'rv:([0-9.]+)', 1) END, '') AS browser_version
FROM u"""
  }

  private lazy val geoOracleSql: String = {
    val values = geoRows.map { case (n, ip) => s"('$n', '$ip')" }.mkString(", ")
    s"""WITH g AS (SELECT * FROM (VALUES $values) AS t(name, ip)),
n AS (SELECT name, ip,
  CASE WHEN regexp_matches(ip, '^[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}$$')
        AND NOT EXISTS (SELECT 1 FROM unnest(string_split(ip, '.')) AS u(p) WHERE CAST(p AS INTEGER) > 255)
       THEN CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216 + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
          + CAST(string_split(ip, '.')[3] AS BIGINT) * 256 + CAST(string_split(ip, '.')[4] AS BIGINT) END AS x
  FROM g)
SELECT name, ip,
  CASE WHEN x BETWEEN 67108864 AND 83886079 THEN 'US'
       WHEN x BETWEEN 134744064 AND 134744319 THEN 'US'
       WHEN x BETWEEN 1390411776 AND 1392508927 THEN 'FR'
       WHEN x BETWEEN 1546125312 AND 1547698175 THEN 'GB'
       WHEN x BETWEEN 2231369728 AND 2248146943 THEN 'JP' END AS country_code
FROM n"""
  }

  private lazy val textStatsOracleSql: String =
    s"""WITH b AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks,
  list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS dl FROM documents)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
  CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END AS mean_word_len,
  CASE WHEN len(dl) = 0 THEN 0.0 ELSE CAST(len(list_intersect(dl, $stopListSql)) AS DOUBLE) / len(dl) END AS stopword_ratio
FROM b"""

  private lazy val langIdOracleSql: String =
    s"""WITH toks AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t FROM documents),
L AS (SELECT * FROM (VALUES $lexValuesSql) AS v(lang, lex)),
scores AS (SELECT doc_id, lang, len(list_intersect(t, lex)) AS s FROM toks CROSS JOIN L),
best AS (SELECT doc_id, s, lang, row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang ASC) AS rn FROM scores)
SELECT doc_id, CASE WHEN s <= 0 THEN 'und' ELSE lang END AS lang_id FROM best WHERE rn = 1"""

  private lazy val qualityOracleSql: String =
    s"""WITH b AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks,
  list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS dl FROM documents),
m AS (SELECT doc_id, text,
  CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
  CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END AS mwl,
  CASE WHEN len(dl) = 0 THEN 0.0 ELSE CAST(len(list_intersect(dl, $stopListSql)) AS DOUBLE) / len(dl) END AS sr
  FROM b)
SELECT doc_id,
  least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.25
  + greatest(0.0, 1.0 - pr * 5.0) * 0.25
  + (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.25
  + least(sr * 4.0, 1.0) * 0.25 AS score
FROM m"""

  private lazy val ngramJaccardOracleSql: String =
    s"""WITH sh AS (SELECT doc_id, list_distinct(
  CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 3
       THEN [array_to_string(regexp_split_to_array(trim(text), '\\s+'), ' ')]
       ELSE list_transform(range(1, len(regexp_split_to_array(trim(text), '\\s+')) - 1),
         i -> array_to_string(regexp_split_to_array(trim(text), '\\s+')[i:i+2], ' ')) END) AS s
  FROM documents WHERE doc_id < 600),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  len(list_intersect(a.s, b.s)) AS i, len(a.s) AS n_a, len(b.s) AS n_b
  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b, round(CAST(i AS DOUBLE) / (n_a + n_b - i), 4) AS jaccard
FROM pairs WHERE CAST(i AS DOUBLE) / (n_a + n_b - i) >= 0.5"""

  private lazy val cosineTopkOracleSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
  CASE WHEN sqrt(list_sum(list_transform(qv, x -> x * x))) * sqrt(list_sum(list_transform(v, x -> x * x))) = 0.0 THEN 0.0
       ELSE list_sum(list_transform(list_zip(qv, v), p -> p[1] * p[2]))
            / (sqrt(list_sum(list_transform(qv, x -> x * x))) * sqrt(list_sum(list_transform(v, x -> x * x)))) END AS c
  FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id)
SELECT query_id, neighbor_id, round(c, 6) AS cosine,
  CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS INTEGER) AS rank
FROM scored QUALIFY rank <= 5"""
}
