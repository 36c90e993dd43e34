package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.expressions.{Expression, GetArrayItem, Literal, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Compiled kernels for the LLM-operator hot paths.
  *
  * The declarative formulations (aggregate/transform/zip_with higher-order
  * functions) are semantically right but Catalyst INTERPRETS lambda
  * higher-order functions — they sit outside whole-stage codegen, and a
  * 64-bit simhash becomes 64 interpreted array traversals per row. These
  * static methods compute the same values in one compiled loop. Each is
  * declared once in [[GraftFunctions]] as a `StaticInvoke` (see
  * [[KernelCall]]), whose generated code calls the method directly, so the
  * projection stays inside the generated code path (one static call per
  * row, no closure dispatch).
  *
  * Value parity with the expression formulations is exact (the same md5
  * prefix hash as `conv(substring(md5(s), 1, 15), 16, 10)`, the same fold
  * order for doubles), so swapping implementations never changes results.
  */
object Kernels {

  // -- HTML → text extraction (the WARC→WET step of a crawl pipeline) --

  /** Tags that separate text blocks: emitting '\n' for these (and ' ' for
    * inline tags) preserves line structure for downstream line-level ops
    * (lineDedup, C4 line filters) the way WET extraction does.
    */
  private val blockTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("html", "head", "body", "title", "p", "div", "br", "hr", "li", "ul",
      "ol", "dl", "dt", "dd", "table", "tr", "td", "th", "blockquote", "pre",
      "h1", "h2", "h3", "h4", "h5", "h6", "section", "article", "aside",
      "nav", "header", "footer", "form", "figure", "figcaption")
      .foreach(s.add)
    s
  }

  private val namedEntities: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("amp", "&"); m.put("lt", "<"); m.put("gt", ">"); m.put("quot", "\"")
    m.put("apos", "'"); m.put("nbsp", " "); m.put("copy", "©")
    m.put("reg", "®"); m.put("trade", "™"); m.put("mdash", "—")
    m.put("ndash", "–"); m.put("hellip", "…"); m.put("rsquo", "’")
    m.put("lsquo", "‘"); m.put("rdquo", "”"); m.put("ldquo", "“")
    m
  }

  /** Decode one entity body (between '&' and ';'): named subset, decimal
    * `#NNN`, hex `#xHH`. Returns null for unknown/invalid so the caller
    * emits the raw '&' literally (browser-like leniency).
    */
  private def decodeEntity(body: String): String = {
    if (body.isEmpty) return null
    if (body.charAt(0) == '#') {
      val hex = body.length > 1 && (body.charAt(1) == 'x' || body.charAt(1) == 'X')
      val radix = if (hex) 16 else 10
      val digits = body.substring(if (hex) 2 else 1)
      // ASCII digits only: parseInt alone also takes a sign and non-ASCII digits
      if (digits.isEmpty || digits.length > 7 ||
          !digits.forall(c => c < 128 && Character.digit(c, radix) >= 0)) return null
      try {
        val cp = Integer.parseInt(digits, radix)
        if (cp <= 0 || cp > 0x10FFFF || (cp >= 0xD800 && cp <= 0xDFFF)) null
        else new String(Character.toChars(cp))
      } catch { case _: NumberFormatException => null }
    } else namedEntities.get(body)
  }

  // Whitespace canonicalization pipeline — the EXACT chain an oracle must
  // replay: [ \t\r]+ → ' ', then ' ?\n ?' → '\n', then '\n+' → '\n', then
  // strip leading/trailing [\n ]. All four are RE2-compatible.
  private val wsSpaces = java.util.regex.Pattern.compile("[ \\t\\r]+")
  private val wsAroundNl = java.util.regex.Pattern.compile(" ?\\n ?")
  private val wsNlRuns = java.util.regex.Pattern.compile("\\n+")
  private val wsTrim = java.util.regex.Pattern.compile("^[\\n ]+|[\\n ]+$")

  /** Single-pass HTML → visible text: drops `<script>`/`<style>` bodies and
    * comments, strips tags (block tags become '\n', inline tags ' ',
    * honoring quoted attribute values so an attribute `>` doesn't close the
    * tag), decodes named + numeric character entities, then canonicalizes
    * whitespace. A lone '<' not opening a tag is kept as text (HTML5
    * tokenizer behavior). Reference has no HTML path (pybabe reads
    * delimited/structured formats only); this is the crawl-corpus
    * WARC→WET extraction step alongside Warc.readWet.
    */
  def htmlToText(s: UTF8String): UTF8String = {
    val in = s.toString
    val n = in.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = in.charAt(i)
      if (c == '<') {
        if (in.regionMatches(i, "<!--", 0, 4)) {
          val e = in.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
          sb.append(' ')
        } else if (in.regionMatches(true, i + 1, "script", 0, 6) &&
            isTagBoundary(in, i + 7)) {
          i = skipRawText(in, i, "</script")
          sb.append(' ')
        } else if (in.regionMatches(true, i + 1, "style", 0, 5) &&
            isTagBoundary(in, i + 6)) {
          i = skipRawText(in, i, "</style")
          sb.append(' ')
        } else if (i + 1 < n && (in.charAt(i + 1) == '!' || in.charAt(i + 1) == '?')) {
          // doctype / processing instruction: skip to '>'
          val e = in.indexOf('>', i + 1)
          i = if (e < 0) n else e + 1
          sb.append(' ')
        } else if (i + 1 < n &&
            (Character.isLetter(in.charAt(i + 1)) || in.charAt(i + 1) == '/')) {
          var k = i + 1
          if (in.charAt(k) == '/') k += 1
          val nameStart = k
          while (k < n && Character.isLetterOrDigit(in.charAt(k))) k += 1
          val name = in.substring(nameStart, k).toLowerCase(java.util.Locale.ROOT)
          // scan to the closing '>' honoring single/double-quoted attributes
          var quote = '\u0000'
          var m = k
          var close = -1
          while (m < n && close < 0) {
            val ch = in.charAt(m)
            if (quote != '\u0000') { if (ch == quote) quote = '\u0000' }
            else if (ch == '"' || ch == '\'') quote = ch
            else if (ch == '>') close = m
            m += 1
          }
          i = if (close < 0) n else close + 1
          sb.append(if (blockTags.contains(name)) '\n' else ' ')
        } else {
          sb.append('<'); i += 1                   // lone '<' is text
        }
      } else if (c == '&') {
        val semi = in.indexOf(';', i + 1)
        val dec = if (semi > i && semi - i <= 10) decodeEntity(in.substring(i + 1, semi)) else null
        if (dec != null) { sb.append(dec); i = semi + 1 }
        else { sb.append('&'); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    var out = sb.toString
    out = wsSpaces.matcher(out).replaceAll(" ")
    out = wsAroundNl.matcher(out).replaceAll("\n")
    out = wsNlRuns.matcher(out).replaceAll("\n")
    out = wsTrim.matcher(out).replaceAll("")
    UTF8String.fromString(out)
  }

  /** Squared L2 distance between two equal-length long arrays in one
    * compiled loop — the PQ encode/train inner kernel. The HOF
    * formulation (`aggregate(zip_with(...))`) is interpreted per joined
    * row, which dominates the corpus×centroid encode join; value parity
    * is exact (same integer arithmetic, same order).
    */
  def longL2(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Reused per-thread deflater: one native zlib context per executor
    * thread, not one per row.
    */
  private val deflaterTl = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED, true)
  }

  /** zlib-deflate compression ratio (compressed/raw bytes) — the
    * Gopher/RedPajama-family redundancy signal: boilerplate, templated, or
    * repeated text compresses far below prose (~0.3–0.6 for natural
    * language, <0.1 for degenerate repetition). Deterministic for a fixed
    * zlib level within a JVM, but NOT SQL-replayable — verification is
    * spec-level (like bm25's float path), not a DuckDB oracle.
    */
  def deflateRatio(s: UTF8String): Double = {
    val bytes = s.getBytes
    if (bytes.length == 0) return 1.0
    val d = deflaterTl.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    var total = 0L
    val buf = new Array[Byte](8192)
    while (!d.finished()) total += d.deflate(buf)
    total.toDouble / bytes.length
  }

  /** True when position `k` ends a tag name (whitespace, '>', '/', or EOF)
    * — distinguishes `<script>` from `<scripture>`.
    */
  private def isTagBoundary(in: String, k: Int): Boolean =
    k >= in.length || {
      val c = in.charAt(k)
      c == '>' || c == '/' || Character.isWhitespace(c)
    }

  /** Skip a raw-text element (`script`/`style`): from the opening '<' past
    * the matching case-insensitive close tag's '>'. Quoted strings inside
    * do NOT hide the close tag — that matches the HTML5 tokenizer (and the
    * `(?s)<script[^>]*>.*?</script>` oracle regex).
    */
  private def skipRawText(in: String, from: Int, closeTag: String): Int = {
    val gt = in.indexOf('>', from + 1)
    if (gt < 0) return in.length
    var k = gt + 1
    val n = in.length
    while (k < n) {
      if (in.regionMatches(true, k, closeTag, 0, closeTag.length)) {
        val e = in.indexOf('>', k + closeTag.length)
        return if (e < 0) n else e + 1
      }
      k += 1
    }
    n
  }

  private def pmod(x: Long, p: Long): Long = { val m = x % p; if (m < 0) m + p else m }

  /** Unicode normalization (NFC/NFD/NFKC/NFKD via java.text.Normalizer) —
    * the canonicalization step before any byte-level dedup of multilingual
    * text (the same logical form can arrive precomposed or decomposed).
    */
  def unicodeNormalize(s: UTF8String, form: String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.valueOf(form)))

  /** 60-bit SimHash: bit j is 1 when more tokens have bit j of their
    * [[md5Prefix60]] hash set than clear (bits 60-63 are always 0). Tokens
    * are exactly Spark's `split(trim(text), "\\s+")`: a 0x20-only trim,
    * then a split on runs of `[ \t\n\x0B\f\r]` that keeps a leading and a
    * trailing empty segment, so `""` is one empty token. Value parity with
    * that split + md5 vote, which the DuckDB oracle replays.
    *
    * Works on the UTF-8 bytes like [[shingles]]: in valid UTF-8 every byte
    * <= 0x7F is its own character, and each token's bytes are hashed in
    * place. Malformed UTF-8 is decoded first (bad bytes to U+FFFD), as the
    * split does.
    */
  def simhash64(text: UTF8String): Long = {
    val bytes = (if (text.isValid) text else UTF8String.fromString(text.toString)).trim().getBytes
    val n = bytes.length
    def isSep(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')
    val counts = new Array[Int](60)
    def vote(from: Int, to: Int): Unit = {
      val h = md5Prefix60(bytes, from, to - from)
      var j = 0
      while (j < 60) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
    }
    var s = 0
    var i = 0
    while (i < n) {
      if (isSep(bytes(i))) {
        vote(s, i)
        while (i < n && isSep(bytes(i))) i += 1
        s = i
      } else i += 1
    }
    vote(s, n)
    var sig = 0L
    var j = 0
    while (j < 60) { if (counts(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  private final class Md5State {
    val md: java.security.MessageDigest = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Byte](16)
  }
  private val md5State = ThreadLocal.withInitial[Md5State](() => new Md5State)

  /** The first 60 bits of md5(utf8(s)) as a non-negative long — the
    * engine-portable hash, the kernel form of Sampling.portableHash60
    * (`conv(substring(md5(s), 1, 15), 16, 10)`).
    */
  private def md5Prefix60(s: UTF8String): Long = {
    val b = s.getBytes
    md5Prefix60(b, 0, b.length)
  }

  /** [[md5Prefix60]] of `len` bytes of `b` from `off`. */
  private def md5Prefix60(b: Array[Byte], off: Int, len: Int): Long = {
    val m = md5State.get
    m.md.update(b, off, len)
    m.md.digest(m.out, 0, 16)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (m.out(i) & 0xffL); i += 1 }
    h >>> 4
  }

  /** MinHash signature: min over shingles of pmod(pmod(h(s),p)*a+b, p) per
    * permutation, where h is [[md5Prefix60]] — parity with the md5/conv/min
    * SQL an external engine replays.
    */
  def minhashSig(shingles: ArrayData, a: Array[Long], b: Array[Long], p: Long): ArrayData = {
    val n = shingles.numElements()
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      hashes(i) = pmod(md5Prefix60(shingles.getUTF8String(i)), p)
      i += 1
    }
    val sig = new Array[Long](a.length)
    var k = 0
    while (k < a.length) {
      var mn = Long.MaxValue
      var j = 0
      while (j < n) {
        val v = pmod(hashes(j) * a(k) + b(k), p)
        if (v < mn) mn = v
        j += 1
      }
      sig(k) = if (n == 0) 0L else mn
      k += 1
    }
    new GenericArrayData(sig)
  }

  /** Distinct word n-gram shingles of the trimmed text: sliding n-token
    * windows joined by spaces; fewer than n tokens → the whole text as one
    * shingle. Parity with array_distinct(TextFunctions.shingles(text, n))
    * except at the edges: this trims every character up to U+0020, where
    * SQL `trim` strips spaces only, so a leading tab or newline gives that
    * formulation an empty first token.
    *
    * Works on the UTF-8 bytes, with no decode, regex or re-encode: it trims
    * bytes <= 0x20 from both ends (`String.trim`), splits on runs of
    * `[ \t\n\x0B\f\r]` (java.util.regex's default `\s`) and keeps the
    * first-seen order of the distinct shingles. In valid UTF-8 every byte
    * <= 0x7F is its own character, so this is value-identical to the
    * `String` formulation. Each shingle is copied into its own array,
    * never a slice of `text`, whose buffer the columnar reader reuses.
    * Malformed UTF-8 (and n <= 0) takes the `String` path, which decodes
    * bad bytes to U+FFFD.
    */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    if (n <= 0 || !text.isValid) return shinglesDecoded(text, n)
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes()
    def at(i: Int): Byte = Platform.getByte(base, off + i)
    def isSep(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')
    var from = 0
    var to = len
    while (from < to && (at(from) & 0xff) <= 0x20) from += 1
    while (to > from && (at(to - 1) & 0xff) <= 0x20) to -= 1
    // token t spans bytes [starts(t), ends(t))
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var nt = 0
    var i = from
    while (i < to) {
      val s = i
      while (i < to && !isSep(at(i))) i += 1
      if (nt == starts.length) {
        starts = java.util.Arrays.copyOf(starts, nt * 2)
        ends = java.util.Arrays.copyOf(ends, nt * 2)
      }
      starts(nt) = s; ends(nt) = i; nt += 1
      while (i < to && isSep(at(i))) i += 1
    }
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (nt == 0) out.add(UTF8String.EMPTY_UTF8)
    else {
      val w = math.min(n, nt)
      var t = 0
      while (t + w <= nt) {
        val last = t + w - 1
        // When every gap in the window is one space, the shingle is one
        // copy of the input's bytes; otherwise its tokens are joined.
        var size = w - 1
        var spaced = true
        var g = t
        while (g <= last) {
          size += ends(g) - starts(g)
          if (g < last) spaced &&= starts(g + 1) - ends(g) == 1 && at(ends(g)) == ' '
          g += 1
        }
        val sh = new Array[Byte](size)
        if (spaced) Platform.copyMemory(base, off + starts(t), sh, Platform.BYTE_ARRAY_OFFSET, size)
        else {
          var p = 0
          g = t
          while (g <= last) {
            if (g > t) { sh(p) = ' '; p += 1 }
            val tl = ends(g) - starts(g)
            Platform.copyMemory(base, off + starts(g), sh, Platform.BYTE_ARRAY_OFFSET + p, tl)
            p += tl
            g += 1
          }
        }
        out.add(UTF8String.fromBytes(sh))
        t += 1
      }
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** The `String` formulation of [[shingles]]: decode, trim, regex split. */
  private def shinglesDecoded(text: UTF8String, n: Int): ArrayData = {
    val tokens = text.toString.trim.split("\\s+")
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (tokens.length < n) {
      out.add(UTF8String.fromString(tokens.mkString(" ")))
    } else {
      var i = 0
      val sb = new java.lang.StringBuilder
      while (i + n <= tokens.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(tokens(i + j))
          j += 1
        }
        out.add(UTF8String.fromString(sb.toString))
        i += 1
      }
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** Per-document character n-gram counts in one compiled pass: sliding
    * code-point windows of the (already normalized) text, counted into
    * insertion-ordered (gram, count) pairs. Shorter-than-n text counts as
    * one whole-string gram — parity with the `when(length < n, array(tx))`
    * column formulation. Pre-aggregating per doc INSIDE the projection is
    * the 100 TB shape for corpus-frequency scoring: the exploded stream
    * (and everything shuffled after it) is sized by distinct grams per doc,
    * not by gram occurrences, and no occurrence-level strings are ever
    * allocated more than once.
    */
  def charNgramCounts(text: UTF8String, n: Int): ArrayData = {
    val out = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    val len = text.numChars()
    if (len < n) out.put(text, 1L)
    else {
      var i = 0
      while (i + n <= len) {
        val g = text.substringSQL(i + 1, n)
        val prev = out.get(g)
        out.put(g, if (prev == null) java.lang.Long.valueOf(1L)
                   else java.lang.Long.valueOf(prev.longValue() + 1L))
        i += 1
      }
    }
    val rows = new Array[Any](out.size())
    val it = out.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      rows(k) = org.apache.spark.sql.catalyst.InternalRow(e.getKey, e.getValue)
      k += 1
    }
    new GenericArrayData(rows)
  }

  /** Per-document n-gram corpus-frequency stats in one compiled pass:
    * slides the same code-point windows as [[charNgramCounts]] and sums the
    * corpus count of each gram from a broadcast hash table (O(1) probes, no
    * per-gram string survives the loop). Returns [n_grams, freq_sum].
    * Grams absent from the table count 0 (cannot happen when the table was
    * built from the same corpus).
    */
  def charNgramFreqStats(text: UTF8String, n: Int,
                         table: java.util.HashMap[UTF8String, java.lang.Long]): ArrayData = {
    val len = text.numChars()
    var nGrams = 0L
    var freqSum = 0L
    if (len < n) {
      nGrams = 1L
      val c = table.get(text)
      if (c != null) freqSum = c.longValue()
    } else {
      var i = 0
      while (i + n <= len) {
        val c = table.get(text.substringSQL(i + 1, n))
        if (c != null) freqSum += c.longValue()
        nGrams += 1L
        i += 1
      }
    }
    new GenericArrayData(Array(nGrams, freqSum))
  }

  private def daysInMonth(y: Int, m: Int): Int = m match {
    case 4 | 6 | 9 | 11 => 30
    case 2              => if (y % 4 == 0 && (y % 100 != 0 || y % 400 == 0)) 29 else 28
    case _              => 31
  }

  /** Type-shape probe for TypeDetect's stats pass: one char-scan instead of
    * four java.util.regex matches per value. Bitmask parity with the
    * TypeDetect regexes:
    *    1 = int    ^-?[0-9]+$
    *    2 = float  ^-?[0-9]+\.[0-9]+$
    *    4 = date   ^\d{2,4}[-/ ]\d{1,2}[-/ ]\d{1,2}$
    *    8 = ts     ^\d{2,4}[-/ ]\d{1,2}[-/ ]\d{1,2}[ T]\d{1,2}:\d{2}(:\d{2})?(\.\d+)?$
    *   16 = date KNOWN-VALID: 4-digit year >= 1, '-'/'/' separators, real
    *        proleptic-Gregorian calendar day — guarantees the
    *        try_to_timestamp('yyyy-M-d') parse succeeds, so TypeDetect can
    *        skip it (the hot-path win for ISO data). Conservative: anything
    *        uncertain (2-3 digit years, space separators) leaves the bit
    *        unset and falls back to the real parse.
    *   32 = ts KNOWN-VALID: bit-16 date part, ' '/'T' time separator,
    *        h<=23, mm<=59, ss<=59, no fractional seconds.
    */
  def typeProbe(text: UTF8String): Int = {
    val s = text.toString
    val len = s.length
    var mask = 0
    // int / float
    var i = if (len > 0 && s.charAt(0) == '-') 1 else 0
    val digitsStart = i
    while (i < len && s.charAt(i) >= '0' && s.charAt(i) <= '9') i += 1
    if (i > digitsStart) {
      if (i == len) mask |= 1
      else if (s.charAt(i) == '.') {
        val fs = i + 1
        var j = fs
        while (j < len && s.charAt(j) >= '0' && s.charAt(j) <= '9') j += 1
        if (j > fs && j == len) mask |= 2
      }
    }
    // date / ts
    def digits(from: Int, lo: Int, hi: Int): Int = {
      var j = from
      while (j < len && j - from < hi && s.charAt(j) >= '0' && s.charAt(j) <= '9') j += 1
      if (j - from >= lo) j else -1
    }
    def sep(at: Int): Boolean =
      at < len && (s.charAt(at) == '-' || s.charAt(at) == '/' || s.charAt(at) == ' ')
    def num(from: Int, to: Int): Int = {
      var v = 0; var j = from
      while (j < to) { v = v * 10 + (s.charAt(j) - '0'); j += 1 }
      v
    }
    var p = digits(0, 2, 4)
    if (p > 0 && sep(p)) {
      val m = digits(p + 1, 1, 2)
      if (m > 0 && sep(m)) {
        val d = digits(m + 1, 1, 2)
        if (d > 0) {
          // bit-16 precondition: the normalized value ('/'->'-') must parse
          // under 'yyyy-M-d', so space separators and short years opt out.
          def dateValid: Boolean = {
            if (p != 4 || s.charAt(p) == ' ' || s.charAt(m) == ' ') false
            else {
              val y = num(0, 4); val mo = num(p + 1, m); val dy = num(m + 1, d)
              y >= 1 && mo >= 1 && mo <= 12 && dy >= 1 && dy <= daysInMonth(y, mo)
            }
          }
          if (d == len) {
            mask |= 4
            if (dateValid) mask |= 16
          } else if (s.charAt(d) == ' ' || s.charAt(d) == 'T') {
            val h = digits(d + 1, 1, 2)
            if (h > 0 && h < len && s.charAt(h) == ':') {
              val mi = digits(h + 1, 2, 2)
              if (mi > 0) {
                var q = mi
                var secEnd = -1
                if (q < len && s.charAt(q) == ':') {
                  val sec = digits(q + 1, 2, 2)
                  if (sec > 0) { secEnd = sec; q = sec }
                }
                var frac = false
                if (q < len && s.charAt(q) == '.') {
                  val fr = digits(q + 1, 1, Int.MaxValue)
                  if (fr > 0) { q = fr; frac = true }
                }
                if (q == len) {
                  mask |= 8
                  // the 'yyyy-M-d H:mm[:ss]' patterns carry no fraction
                  if (!frac && dateValid) {
                    val hv = num(d + 1, h); val miv = num(h + 1, mi)
                    val sv = if (secEnd > 0) num(mi + 1, secEnd) else 0
                    if (hv <= 23 && miv <= 59 && sv <= 59) mask |= 32
                  }
                }
              }
            }
          }
        }
      }
    }
    mask
  }

  // -- multi-format timestamp fast path (TimeParse's q31 kernel) --

  /** Sentinel: shape not certified either way — caller must fall back to the
    * formatter coalesce. Magnitude is far outside the representable
    * [year 1, year 9999] epoch-micros range, so no real parse collides.
    */
  final val TsFallback: Long = Long.MinValue
  /** Sentinel: certified unparseable under every TimeParse format — caller
    * can emit NULL without paying 9 formatter failures (the worst case of
    * the coalesce: garbage rows cost 9 exceptions each).
    */
  final val TsNoParse: Long = Long.MinValue + 1

  /** Days from 1970-01-01 in the proleptic Gregorian calendar (Howard
    * Hinnant's civil-days algorithm — public domain, same calendar java.time
    * uses), valid for all years in [1, 9999].
    */
  private def daysFromCivil(yy: Int, m: Int, d: Int): Long = {
    val y = if (m <= 2) yy - 1 else yy
    val era = (if (y >= 0) y else y - 399) / 400
    val yoe = y - era * 400L
    val doy = (153L * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }

  /** One-scan structural parse of TimeParse's 9-format surface
    * (yyyy-M-d / d-M-yyyy dates, optional " H[:mm[:ss[.SSSSSS]]]" time,
    * '/' ',' normalized to '-' and 'T' to ' ' exactly like
    * TimeParse.parseExpr's regexp_replace pair). Returns epoch MICROS of
    * the naive local datetime resolved in `zone` (same gap/overlap rules as
    * the formatter path: ZonedDateTime.ofLocal), or a sentinel:
    *
    *  - TsNoParse  — the string provably fails ALL formats: it contains a
    *    character no pattern literal/field can match, has no date
    *    separator at all, or is a canonical-shape date with an impossible
    *    calendar day (strict resolver ⇒ every format throws);
    *  - TsFallback — anything structurally unusual (5-digit years, signs,
    *    3-digit fields, padding spaces, nonstandard fraction width …):
    *    correctness is delegated to the real formatter coalesce, so the
    *    fast path never has to replicate EXCEEDS_PAD sign rules or
    *    variable-width field parsing. Parity holds by construction: the
    *    kernel only answers where its answer is the formatter's answer
    *    (property-checked against the coalesce formulation in
    *    TimeTypeSpec).
    *
    * Cost on certified rows: one char scan + integer arithmetic (fixed
    * zones skip java.time entirely) versus an interpreted 9-way
    * DateTimeFormatter cascade — the q31 30µs/row → ~0.1µs/row fix.
    */
  def parseMultiTs(text: UTF8String, zone: java.time.ZoneId): Long = {
    val s = text.toString
    val len = s.length
    if (len == 0) return TsNoParse
    // normalized char view: the kernel sees what the regexp_replace pair
    // would have produced without materializing a second string
    def nc(i: Int): Char = {
      val c = s.charAt(i)
      if (c == '/' || c == ',') '-' else if (c == 'T') ' ' else c
    }
    var hasDash = false
    var i = 0
    while (i < len) {
      val c = nc(i)
      if (c == '-') hasDash = true
      else if (!((c >= '0' && c <= '9') || c == ' ' || c == ':' || c == '.')) {
        // '+' can begin an EXCEEDS_PAD wide year ("+10000-..."): uncertain.
        // Any other character matches no pattern literal and no strict
        // DecimalStyle digit -> provably unparseable by every format.
        return if (c == '+') TsFallback else TsNoParse
      }
      i += 1
    }
    if (!hasDash) return TsNoParse // every format has mandatory '-' literals
    if (nc(0) == ' ' || nc(len - 1) == ' ') return TsFallback // trim semantics: formatter's call
    def isDigit(i: Int): Boolean = { val c = s.charAt(i); c >= '0' && c <= '9' }
    def scanDigits(from: Int): Int = {
      var j = from; while (j < len && isDigit(j)) j += 1; j
    }
    def num(from: Int, to: Int): Int = {
      var v = 0; var j = from
      while (j < to) { v = v * 10 + (s.charAt(j) - '0'); j += 1 }
      v
    }
    // date: f1 sep f2 sep f3
    val e1 = scanDigits(0)
    if (e1 == 0 || e1 >= len || nc(e1) != '-') return TsFallback
    val s2 = e1 + 1
    val e2 = scanDigits(s2)
    if (e2 == s2 || e2 >= len || nc(e2) != '-') return TsFallback
    val s3 = e2 + 1
    val e3 = scanDigits(s3)
    if (e3 == s3) return TsFallback
    val (n1, n2, n3) = (e1, e2 - s2, e3 - s3)
    var y = 0; var mo = 0; var dy = 0; var yearFirst = false
    if (n1 == 4 && n2 <= 2 && n3 <= 2) { // year-first wins on ambiguity
      y = num(0, e1); mo = num(s2, e2); dy = num(s3, e3); yearFirst = true
    } else if (n1 <= 2 && n2 <= 2 && n3 == 4) {
      dy = num(0, e1); mo = num(s2, e2); y = num(s3, e3)
    } else return TsFallback // 3/5+-digit fields: variable-width formatter territory
    if (y < 1) return TsFallback // year 0: era-resolution subtleties -> formatter
    if (mo < 1 || mo > 12 || dy < 1 || dy > daysInMonth(y, mo))
      return TsNoParse // canonical shape, impossible day: STRICT kills every format
    // time: ' ' H [":" mm [":" ss ["." SSSSSS]]]
    var h = 0; var mi = 0; var sec = 0; var micro = 0L
    if (e3 < len) {
      if (nc(e3) != ' ') return TsFallback
      val st = e3 + 1
      val eh = scanDigits(st)
      if (eh == st || eh - st > 2) return TsFallback
      h = num(st, eh)
      if (h > 23) return TsFallback
      if (eh < len) {
        if (nc(eh) != ':') return TsFallback
        val sm = eh + 1
        val em = scanDigits(sm)
        if (em - sm != 2) return TsFallback
        mi = num(sm, em)
        if (mi > 59) return TsFallback
        if (em < len) {
          if (nc(em) != ':') return TsFallback
          val sq = em + 1
          val eq = scanDigits(sq)
          if (eq - sq != 2) return TsFallback
          sec = num(sq, eq)
          if (sec > 59) return TsFallback
          if (eq < len) {
            if (nc(eq) != '.') return TsFallback
            // the fractional format exists ONLY in the year-first family
            // (timeparse.py's matrix has no "d-M-yyyy H:mm:ss.SSSSSS"):
            // a day-first date with a fraction fails every format
            if (!yearFirst) return TsNoParse
            val sf = eq + 1
            val ef = scanDigits(sf)
            if (ef != len || ef - sf != 6) return TsFallback // SSSSSS: exactly 6
            micro = num(sf, ef).toLong
          }
        }
      }
    }
    val localSec = daysFromCivil(y, mo, dy) * 86400L + h * 3600L + mi * 60L + sec
    val rules = zone.getRules
    val epochSec =
      if (rules.isFixedOffset)
        localSec - rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds
      else // ZonedDateTime.ofLocal: the formatter path's gap/overlap rules
        java.time.LocalDateTime.of(y, mo, dy, h, mi, sec)
          .atZone(zone).toEpochSecond
    epochSec * 1000000L + micro
  }

  /** One-pass repetition signals: (duplicateLineFraction,
    * duplicateLineCharFraction, topNgramCharFraction) as a 3-double array —
    * value parity with the TextFunctions HOF formulations (same line
    * filtering, same (count, gram)-max tie-break), but one compiled scan
    * with hash maps instead of O(distinct × lines) interpreted array folds
    * per row. `lineSep` lets callers synthesize lines (e.g. "\\. " → ".\n")
    * before the split, matching the HOF call sites. Lengths count code
    * points, like SQL `length`.
    */
  def repetitionStats(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString
    // Catalyst's trim strips SPACES only (not \t/\n like java.lang.String
    // .trim) and split keeps trailing empty tokens — both replicated here,
    // or parity with the HOF formulations breaks on exotic whitespace.
    def spaceTrim(x: String): String = {
      var b = 0; var e = x.length
      while (b < e && x.charAt(b) == ' ') b += 1
      while (e > b && x.charAt(e - 1) == ' ') e -= 1
      x.substring(b, e)
    }
    // --- duplicate-line fractions over non-empty (trimmed) lines ---
    val lineCounts = new java.util.HashMap[String, Int]()
    var nLines = 0
    var totalChars = 0L
    s.split("\n", -1).foreach { l =>
      if (spaceTrim(l).nonEmpty) {
        nLines += 1
        totalChars += l.codePointCount(0, l.length)
        lineCounts.merge(l, 1, (a, b) => a + b)
      }
    }
    var dupChars = 0L
    val it = lineCounts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue > 1) dupChars += e.getValue.toLong * e.getKey.codePointCount(0, e.getKey.length)
    }
    val dlf = if (nLines == 0) 0.0
      else 1.0 - lineCounts.size.toDouble / nLines
    val dcf = if (totalChars == 0) 0.0 else dupChars.toDouble / totalChars
    // --- top word-n-gram char fraction ---
    val toks = spaceTrim(s).split("\\s+", -1)
    var tgf = 0.0
    if (toks.length >= n && s.length > 0) {
      val gramCounts = new java.util.HashMap[String, Int]()
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        gramCounts.merge(sb.toString, 1, (a, b) => a + b)
        i += 1
      }
      // max by (count, gram) — identical to array_max over (c, g) structs;
      // gram ties compare as UTF8String (binary order), matching Catalyst's
      // string ordering rather than Java's UTF-16 code-unit order
      var bestC = -1
      var bestG: String = null
      val git = gramCounts.entrySet().iterator()
      while (git.hasNext) {
        val e = git.next()
        if (e.getValue > bestC || (e.getValue == bestC &&
            UTF8String.fromString(e.getKey).compareTo(UTF8String.fromString(bestG)) > 0)) {
          bestC = e.getValue; bestG = e.getKey
        }
      }
      if (bestC > 0) tgf = math.min(bestC.toDouble * bestG.codePointCount(0, bestG.length) /
        s.codePointCount(0, s.length), 1.0)
    }
    new GenericArrayData(Array[Double](dlf, dcf, tgf))
  }

  /** Distinct-set Jaccard of two string arrays in ONE compiled pass —
    * exact value parity with
    * `size(array_intersect(a,b)) / size(array_union(a,b))` (both builtins
    * are SET-semantic: distinct common elements / distinct elements of
    * both), whose interpreted evaluation materializes two fresh arrays and
    * three hash sets per pair. This runs once per CANDIDATE pair in every
    * LSH verify stage — the dominant term of the minhash pairs at sf10 —
    * so it builds two int-free hash sets and no output arrays. The
    * division of the same two ints is bit-identical IEEE in any engine
    * (the oracle replays list_intersect/list_union and divides the same
    * integers); two empty inputs give 0/0 → NaN, where the builtin
    * formulation's division by zero fails under ANSI (shingles() never
    * emits an empty array, so unreachable from the library's own call
    * sites).
    */
  def jaccardSim(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    val setA = new java.util.HashSet[UTF8String](math.max(4, na * 2))
    var i = 0
    while (i < na) { setA.add(a.getUTF8String(i)); i += 1 }
    val seenB = new java.util.HashSet[UTF8String](math.max(4, nb * 2))
    var inter = 0
    i = 0
    while (i < nb) {
      val s = b.getUTF8String(i)
      if (seenB.add(s) && setA.contains(s)) inter += 1
      i += 1
    }
    val union = setA.size + seenB.size - inter
    inter.toDouble / union
  }

  /** Cosine similarity of two double arrays over their common prefix; 0.0
    * when either norm is 0 — parity with the zip_with/aggregate fold
    * (left-to-right sums) over the prefix.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** cid of the argmax-COSINE centroid, ties to the lowest cid — the
    * compiled quantized-Lloyd cell assignment (VectorFunctions'
    * SemDeDup/prototype-prune/cluster-balance core). The per-centroid
    * cosine accumulates dot/na/nb each left-to-right exactly like
    * [[cosine]] (zero denom → 0.0), so the result is bit-identical to the
    * broadcast-HOF formulation `max_by(cid, (cosine(v, cv), -cid))` that
    * the DuckDB oracles replay — asserted in ExpressionsSpec. One compiled
    * dim×k loop per row; no corpus×k candidate rows ever materialize,
    * which removes the per-pair 64-dim array allocation that made the
    * cross-join formulation the registry's heaviest transient allocator
    * (q103's 3× sf1 session spread).
    */
  def nearestCentroidCos(vec: ArrayData, cents: Array[Array[Double]],
                         cids: Array[Long]): Long = {
    val k = cents.length
    val n = vec.numElements()
    var bestCid = 0L
    var bestCs = 0.0
    var first = true
    var i = 0
    while (i < k) {
      val c = cents(i)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var j = 0
      val m = math.min(n, c.length)
      while (j < m) {
        val x = vec.getDouble(j); val y = c(j)
        dot += x * y; na += x * x; nb += y * y
        j += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      val cs = if (denom == 0.0) 0.0 else dot / denom
      val cid = cids(i)
      // NaN ordering parity with the max_by struct twin: Spark (and DuckDB)
      // order NaN ABOVE every double, so a NaN cosine (a NaN component
      // propagates through dot/norm) must WIN against any finite best and
      // TIE against another NaN (then lower cid). A bare `>` never lets a
      // NaN candidate win unless it runs first — silently breaking the
      // claimed bit-parity on non-finite embeddings.
      val csNaN = java.lang.Double.isNaN(cs)
      val bestNaN = java.lang.Double.isNaN(bestCs)
      val gt = if (csNaN) !bestNaN else !bestNaN && cs > bestCs
      val eq = (csNaN && bestNaN) || cs == bestCs
      if (first || gt || (eq && cid < bestCid)) {
        bestCs = cs; bestCid = cid; first = false
      }
      i += 1
    }
    bestCid
  }

  /** cid of the argmin-squared-L2 codebook entry for subspace `sub`, ties
    * to the lowest cid — the compiled PQ encode (exact long arithmetic,
    * identical to [[longL2]] + `min_by(cid, (d2, cid))` over the codebook
    * join, asserted in ExpressionsSpec). One compiled dsub×k loop per
    * (row, subspace); no corpus×k joined rows. Throws with the
    * joinBookGuarded guidance when the subspace has no codebook entries
    * (the collector checks this up front, so reaching it here means a
    * malformed `sub` value).
    */
  def nearestCodeL2(sv: ArrayData, sub: Long,
                    books: Array[Array[Array[Long]]],
                    cids: Array[Array[Long]]): Long = {
    if (sub < 0 || sub >= books.length || books(sub.toInt).length == 0)
      throw new IllegalStateException(
        s"pq encode: empty PQ codebook for subspace $sub — train with " +
          "pqTrain on an id space containing centroidEvery multiples")
    val s = sub.toInt
    val book = books(s)
    val ids = cids(s)
    val n = sv.numElements()
    var bestCid = 0L
    var bestD2 = Long.MaxValue
    var first = true
    var i = 0
    while (i < book.length) {
      val c = book(i)
      var d2 = 0L
      var j = 0
      val m = math.min(n, c.length)
      while (j < m) { val d = sv.getLong(j) - c(j); d2 += d * d; j += 1 }
      val cid = ids(i)
      if (first || d2 < bestD2 || (d2 == bestD2 && cid < bestCid)) {
        bestD2 = d2; bestCid = cid; first = false
      }
      i += 1
    }
    bestCid
  }

  /** Per-table sign-LSH signatures over a LITERAL plane matrix (the
    * PORTABLE basis, planes(t*bits + b) = table t's plane b): one compiled
    * loop over tables × bits × dim per row, replacing tables × bits
    * interpreted zip_with/aggregate HOF folds. Bit-parity with that fold
    * (and the oracle's list_sum replay): the dot sums products
    * left-to-right, and a null element or a length mismatch — which the
    * HOF turns into a NULL dot via zip_with's null padding — leaves the
    * bit unset exactly as `WHEN null >= 0` does, and a NaN dot sets it
    * exactly as `WHEN NaN >= 0` does. Asserted in ExpressionsSpec.
    */
  def planeSigs(vec: ArrayData, planes: Array[Array[Double]], bits: Int): ArrayData = {
    val tables = planes.length / bits
    val nv = vec.numElements()
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var b = 0
      while (b < bits) {
        val plane = planes(t * bits + b)
        if (nv == plane.length) {
          var dot = 0.0
          var sawNull = false
          var j = 0
          while (j < nv && !sawNull) {
            if (vec.isNullAt(j)) sawNull = true
            else { dot += vec.getDouble(j) * plane(j); j += 1 }
          }
          // !(dot < 0), not dot >= 0: SQL orders NaN above every number,
          // so a NaN dot sets the bit in the fold (and in the oracle)
          if (!sawNull && !(dot < 0.0)) sig |= (1L << b)
        }
        b += 1
      }
      out(t) = sig
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Subword count in ONE byte scan — value parity with
    * `size(split(trim(text), "\\s+|…lookaround transitions…"))` (the
    * five-branch regex in TextFunctions), asserted in ExpressionsSpec.
    * Replicates Spark's split(limit=-1) edge semantics on the space-trimmed
    * string: a leading regex-whitespace run contributes one empty segment
    * and so does a trailing one; empty input → 1. All non-ASCII bytes fall
    * in the "other" class and other→other never splits, so a byte walk and
    * a codepoint walk agree.
    */
  def subwordCount(s: UTF8String): Int = {
    val t = s.trim() // like Spark's trim(): 0x20 only
    val n = t.numBytes()
    if (n == 0) return 1
    // classes: 0 = regex \s (ASCII), 1 = letter, 2 = digit, 3 = other
    def cls(b: Byte): Int =
      if (b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r') 0
      else if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) 1
      else if (b >= '0' && b <= '9') 2
      else 3
    var count = 0
    if (cls(t.getByte(0)) == 0) count += 1     // leading empty segment
    if (cls(t.getByte(n - 1)) == 0) count += 1 // trailing empty segment
    var prev = 0
    var i = 0
    while (i < n) {
      val c = cls(t.getByte(i))
      if (c != 0 && (prev == 0 ||
        (prev == 1 && c == 2) || (prev == 2 && c == 1) ||
        ((prev == 1 || prev == 2) && c == 3) || (prev == 3 && (c == 1 || c == 2))))
        count += 1
      prev = c
      i += 1
    }
    count
  }

  /** Per-script codepoint counts (TextFunctions.ScriptRanges order: latin,
    * cyrillic, greek, cjk, arabic, hangul, devanagari) in ONE pass — value
    * parity with seven `length(regexp_replace(text, "[^range]", ""))`
    * scans, asserted in ExpressionsSpec. All ranges are BMP, so UTF-16
    * iteration counts exactly the codepoints the regexes keep (surrogate
    * halves of astral codepoints match no range on either side).
    */
  def scriptCounts(s: UTF8String): ArrayData = {
    val str = s.toString
    val out = new Array[Long](7)
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= 0x00C0 && c <= 0x024F)) out(0) += 1
      else if (c >= 0x0400 && c <= 0x04FF) out(1) += 1
      else if (c >= 0x0370 && c <= 0x03FF) out(2) += 1
      else if ((c >= 0x4E00 && c <= 0x9FFF) || (c >= 0x3040 && c <= 0x30FF)) out(3) += 1
      else if (c >= 0x0600 && c <= 0x06FF) out(4) += 1
      else if (c >= 0xAC00 && c <= 0xD7AF) out(5) += 1
      else if (c >= 0x0900 && c <= 0x097F) out(6) += 1
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** A compiled kernel call. The wrapped `StaticInvoke` of a [[Kernels]]
  * method evaluates the call and emits it into the generated code; this
  * wrapper names it (`graft_minhash_sig`, …) and renders its object-typed
  * constants (plane matrix, centroid table, codebook, permutation
  * constants, n-gram table, normalization form) by content: Java type,
  * length and an MD5 of the values. Equal constants thus give the same
  * `explain` text and Memoize fingerprint in every session, where a bare
  * JVM array prints as `[[D@64e6ef25`.
  *
  * The wrapper is also not null-intolerant, unlike a StaticInvoke with
  * `propagateNull`: the optimizer would otherwise infer `isnotnull` of a
  * kernel's inputs from any filter or join condition on its result, and
  * push that filter below the projection computing the inputs, so the
  * shingles or the `transform` feeding the kernel ran twice per row.
  */
case class KernelCall(name: String, child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = name
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)
  private def render(text: Expression => String): String = (child match {
    case call: StaticInvoke => call.arguments
    case folded => Seq(folded)
  }).map {
    case Literal(v: AnyRef, _: ObjectType) => KernelCall.describe(v)
    case arg => text(arg)
  }.mkString(s"$name(", ", ", ")")
  override def toString: String = render(_.toString)
  override def sql: String = render(_.sql)
  override protected def withNewChildInternal(newChild: Expression): KernelCall =
    copy(child = newChild)
}

object KernelCall {
  /** A kernel constant's rendering: a string as itself, anything else as
    * its Java type, length and the MD5 of its values.
    */
  private def describe(value: AnyRef): String = value match {
    case s: String => s"'$s'"
    case _ =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val out = new java.io.DataOutputStream(new java.security.DigestOutputStream(
        java.io.OutputStream.nullOutputStream(), md))
      feed(out, value)
      out.flush()
      val size = value match {
        case m: java.util.Map[_, _] => m.size
        case a => java.lang.reflect.Array.getLength(a)
      }
      val javaType = CodeGenerator.javaType(ObjectType(value.getClass))
      val shape = javaType.indexOf('[') match {
        case -1 => s"$javaType($size)"
        case i => s"${javaType.take(i)}[$size]${javaType.drop(i + 2)}"
      }
      s"$shape md5:${md.digest().map("%02x".format(_)).mkString}"
  }

  /** A canonical byte stream of a constant's values; map entries in key order. */
  private def feed(out: java.io.DataOutputStream, v: Any): Unit = v match {
    case a: Array[Long] => out.writeByte('J'); out.writeInt(a.length); a.foreach(out.writeLong)
    case a: Array[Double] =>
      out.writeByte('D'); out.writeInt(a.length)
      a.foreach(x => out.writeLong(java.lang.Double.doubleToLongBits(x)))
    case a: Array[AnyRef] => out.writeByte('A'); out.writeInt(a.length); a.foreach(feed(out, _))
    case m: java.util.Map[_, _] =>
      out.writeByte('M'); out.writeInt(m.size)
      val entries = new java.util.ArrayList[java.util.Map.Entry[_, _]](m.entrySet())
      entries.sort((x, y) => x.getKey.toString.compareTo(y.getKey.toString))
      entries.forEach { e => feed(out, e.getKey); feed(out, e.getValue) }
    case s: UTF8String => out.writeByte('S'); out.writeInt(s.numBytes()); out.write(s.getBytes)
    case l: java.lang.Long => out.writeByte('j'); out.writeLong(l)
    case other => throw new IllegalArgumentException(
      s"no content rendering for a kernel constant of type ${other.getClass.getName}")
  }
}

/** The minhash permutation constants, the one definition the kernel and the
  * DuckDB oracle SQL (SparkEntry's minhash CTEs) share.
  */
object MinHash {
  // Canonical MinHash prime: 2^31-1. An earlier HOF formulation used 2^61-1,
  // which risked silent long overflow in h*a under ANSI-off eval; signatures
  // produced under that prime are NOT comparable to these — any persisted
  // signature caches (Memoize/parquet) from before the switch must be rebuilt.
  val P: Long = 2147483647L

  /** The permutation seed of every minhash pipeline and its oracle. */
  val Seed: Long = 42L

  /** The (a, b) permutation constants, a_i in [1, P-1] and b_i in [0, P-1]:
    * all a_i drawn from the seeded generator before all b_i. The SAME
    * arrays parameterize the Spark plan's signature kernel and the
    * external oracle SQL, so both engines compute identical signatures.
    * P = 2^31-1 keeps a·h+b inside 2^62 (ANSI-safe).
    */
  def perms(numPerms: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val a = Array.fill(numPerms)(math.abs(rnd.nextLong()) % (P - 1) + 1)
    (a, Array.fill(numPerms)(math.abs(rnd.nextLong()) % P))
  }
}

/** Structural multi-format timestamp probe+parse (see Kernels.parseMultiTs):
  * LongType epoch micros for shape-certified strings, Kernels.TsNoParse for
  * provably unparseable ones, Kernels.TsFallback when only the real
  * formatter cascade can decide. Timezone-aware because the naive local
  * datetime resolves in the session zone, exactly like try_to_timestamp;
  * ResolveTimeZone injects the session zone during analysis.
  */
case class MultiTsExpr(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_multi_ts"
  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))
  @transient private lazy val zone: java.time.ZoneId =
    DateTimeUtils.getZoneId(timeZoneId.get)
  override protected def nullSafeEval(s: Any): Any =
    Kernels.parseMultiTs(s.asInstanceOf[UTF8String], zone)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val zid = ctx.addReferenceObj("graftTsZone", zone, "java.time.ZoneId")
    defineCodeGen(ctx, ev, c => s"graft.expressions.Kernels.parseMultiTs($c, $zid)")
  }
  override protected def withNewChildInternal(newChild: Expression): MultiTsExpr =
    copy(child = newChild)
}

/** Column-builder surface for the compiled kernels: one declaration each. */
object GraftFunctions {

  /** `Kernels.<method>(args)`, named `graft_<method in snake case>`: a
    * direct static call in generated code (a reflective one when
    * interpreted), null when any argument is null.
    */
  private def kernel(method: String, dataType: DataType, args: Expression*): Column =
    Shim.column(KernelCall(
      "graft_" + method.replaceAll("([A-Z])", "_$1").toLowerCase(java.util.Locale.ROOT),
      StaticInvoke(Kernels.getClass, dataType, method, args,
        propagateNull = true, returnNullable = false)))
  /** An object-typed kernel constant, handed to generated code by reference. */
  private def const(v: AnyRef): Expression = Literal(v, ObjectType(v.getClass))
  private def e(c: Column): Expression = Shim.expression(c)
  private val longs = ArrayType(LongType, containsNull = false)

  def htmlToText(c: Column): Column = kernel("htmlToText", StringType, e(c))
  def deflateRatio(c: Column): Column = kernel("deflateRatio", DoubleType, e(c))
  def longL2(a: Column, b: Column): Column = kernel("longL2", LongType, e(a), e(b))
  def jaccardSim(a: Column, b: Column): Column = kernel("jaccardSim", DoubleType, e(a), e(b))
  def simhash64(c: Column): Column = kernel("simhash64", LongType, e(c))
  def shingles(c: Column, n: Int): Column =
    kernel("shingles", ArrayType(StringType, containsNull = false), e(c), Literal(n))
  def typeProbe(c: Column): Column = kernel("typeProbe", IntegerType, e(c))

  /** `form` is one of NFC/NFD/NFKC/NFKD, validated here. */
  def unicodeNormalize(c: Column, form: String = "NFC"): Column = {
    java.text.Normalizer.Form.valueOf(form)
    kernel("unicodeNormalize", StringType, e(c), const(form))
  }

  /** MinHash signature of a shingle array (see [[MinHash]]). */
  def minhashSignature(c: Column, numPerms: Int, seed: Long = MinHash.Seed): Column = {
    val (a, b) = MinHash.perms(numPerms, seed)
    kernel("minhashSig", longs, e(c), const(a), const(b), Literal(MinHash.P))
  }
  def cosine(a: Column, b: Column): Column = kernel("cosine", DoubleType, e(a), e(b))
  /** One `bits`-bit sign-LSH signature over `dim` Gaussian planes drawn
    * from `Random(seed)` — table 0 of [[planeSigs]] over
    * `VectorFunctions.portablePlanes(dim, bits, 1, seed)`, so a null
    * element or a length other than `dim` leaves the bits it touches unset.
    */
  def hyperplaneSignature(c: Column, dim: Int, bits: Int, seed: Long = 7L): Column =
    Shim.column(GetArrayItem(
      e(planeSigs(c, graft.functions.VectorFunctions.portablePlanes(dim, bits, 1, seed), bits)),
      Literal(0)))
  def planeSigs(c: Column, planes: Seq[Seq[Double]], bits: Int): Column =
    kernel("planeSigs", longs, e(c), const(planes.map(_.toArray).toArray), Literal(bits))

  /** Compiled quantized-Lloyd cell assignment: cid of the argmax-cosine
    * centroid, ties to the lowest cid (see Kernels.nearestCentroidCos).
    */
  def nearestCentroidCos(c: Column, cents: Array[Array[Double]],
                         cids: Array[Long]): Column = {
    require(cents.length == cids.length && cents.nonEmpty,
      s"nearestCentroidCos needs a non-empty centroid table with matching " +
        s"ids (got ${cents.length} centroids / ${cids.length} ids)")
    kernel("nearestCentroidCos", LongType, e(c), const(cents), const(cids))
  }

  /** Compiled PQ encode: cid of the argmin-integer-L2 codebook entry for the
    * row's subspace, ties to the lowest cid (see Kernels.nearestCodeL2).
    */
  def nearestCodeL2(sv: Column, sub: Column,
                    books: Array[Array[Array[Long]]],
                    cids: Array[Array[Long]]): Column = {
    require(books.length == cids.length && books.nonEmpty &&
      books.indices.forall(s => books(s).length == cids(s).length),
      "nearestCodeL2 needs per-subspace codebooks with matching cid arrays")
    kernel("nearestCodeL2", LongType, e(sv), e(sub), const(books), const(cids))
  }
  def repetitionStats(c: Column, n: Int): Column =
    kernel("repetitionStats", ArrayType(DoubleType, containsNull = false), e(c), Literal(n))
  def charNgramCounts(c: Column, n: Int): Column =
    kernel("charNgramCounts", ArrayType(
      StructType(Seq(StructField("g", StringType, nullable = false),
                     StructField("c", LongType, nullable = false))),
      containsNull = false), e(c), Literal(n))
  def charNgramFreqStats(c: Column, n: Int,
                         table: java.util.HashMap[UTF8String, java.lang.Long]): Column =
    kernel("charNgramFreqStats", longs, e(c), Literal(n), const(table))
  def subwordCount(c: Column): Column = kernel("subwordCount", IntegerType, e(c))
  def scriptCounts(c: Column): Column = kernel("scriptCounts", longs, e(c))
  def multiTsMicros(c: Column): Column = Shim.column(MultiTsExpr(e(c)))

  private def intArg(c: Column, name: String): Int = e(c) match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$name must be an int literal, got $other")
  }
  private def longArg(c: Column, name: String): Long = e(c) match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _)  => v.toLong
    case other => throw new IllegalArgumentException(s"$name must be a long literal, got $other")
  }

  /** The SQL surface GraftExtensions registers: each function's name and
    * its builder over the call's arguments.
    */
  private[graft] val sqlFunctions: Seq[(String, Seq[Column] => Column)] = Seq(
    "graft_simhash64" -> (a => simhash64(a(0))),
    "graft_shingles" -> (a => shingles(a(0), intArg(a(1), "n"))),
    "graft_type_probe" -> (a => typeProbe(a(0))),
    "graft_cosine" -> (a => cosine(a(0), a(1))),
    "graft_minhash_sig" -> (a => minhashSignature(a(0), intArg(a(1), "numPerms"),
      if (a.length > 2) longArg(a(2), "seed") else MinHash.Seed)),
    "graft_hyperplane_sig" -> (a => hyperplaneSignature(a(0), intArg(a(1), "dim"),
      intArg(a(2), "bits"), if (a.length > 3) longArg(a(3), "seed") else 7L)),
    "graft_repetition_stats" -> (a => repetitionStats(a(0), intArg(a(1), "n"))),
    "graft_subword_count" -> (a => subwordCount(a(0))),
    "graft_script_counts" -> (a => scriptCounts(a(0))),
    "graft_html_to_text" -> (a => htmlToText(a(0))),
    "graft_deflate_ratio" -> (a => deflateRatio(a(0))),
    // session zone injected by ResolveTimeZone, like try_to_timestamp
    "graft_multi_ts" -> (a => multiTsMicros(a(0))))
}
