package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis functions for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, fingerprinting. All pure
  * Catalyst expression trees (`org.apache.spark.sql.functions`) — codegen'd,
  * whole-stage-fused, no UDFs anywhere, so a 100 TB scan stays CPU-bound in
  * generated code rather than serialization.
  */
object TextFunctions {

  /** Whitespace tokenization of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish subword count: splits on whitespace AND on transitions
    * between letter/digit/other classes, approximating subword segmentation
    * without a vocab (useful as a cheap token budget estimate). Runs as the
    * compiled one-scan `Kernels.subwordCount` — the declarative equivalent
    * (`subwordCountRegex`, five java.util.regex lookaround branches per
    * position) is kept as the parity reference and is ~5× slower.
    */
  def subwordCount(text: Column): Column =
    graft.expressions.GraftFunctions.subwordCount(text)

  /** The original regex formulation of [[subwordCount]] — semantics anchor
    * for ExpressionsSpec parity; not used on hot paths.
    */
  def subwordCountRegex(text: Column): Column =
    size(split(trim(text),
      "\\s+|(?<=[a-zA-Z])(?=[0-9])|(?<=[0-9])(?=[a-zA-Z])|(?<=[a-zA-Z0-9])(?=[^a-zA-Z0-9\\s])|(?<=[^a-zA-Z0-9\\s])(?=[a-zA-Z0-9])"))

  /** Word n-gram shingles: contiguous n-token windows joined by a space.
    * Pure higher-order-function pipeline: transform over an index sequence
    * + slice, no explode until the caller wants rows.
    */
  def shingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) < n, array(concat_ws(" ", t)))
      .otherwise(transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + 1, lit(n)))))
  }

  /** Character n-grams of the normalized string (for language ID / fuzzy
    * matching). Normalization: lowercase, collapse whitespace.
    */
  /** PERF CAVEAT: the normalization subexpression is referenced inside the
    * transform lambda and Catalyst does NOT CSE across lambda boundaries —
    * passing a computed expression re-evaluates it per element (one regex
    * per character). For hot paths, project the normalized string to a
    * column first and pass that attribute (see corpusFrequencyScore).
    */
  def charNgrams(text: Column, n: Int): Column = {
    val s = lower(regexp_replace(trim(text), "\\s+", " "))
    when(length(s) < n, array(s))
      .otherwise(transform(sequence(lit(0), length(s) - n),
        i => s.substr(i + 1, lit(n))))
  }

  // -- language ID ----------------------------------------------------------

  /** Tiny per-language stopword lists (public common-word lists). The scoring
    * is `size(array_intersect(tokens, lexicon))` per language — one codegen'd
    * expression per language, argmax via a `when` chain. At scale this is a
    * narrow map over the text column only.
    */
  val lexicons: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "was", "for", "with", "are", "this", "be"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "que", "pour", "dans", "qui", "pas"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "den", "von", "zu", "auf", "sich"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "que", "un", "una", "es", "en", "por", "para", "con"),
    "it" -> Seq("il", "la", "di", "e", "che", "un", "una", "per", "con", "sono", "del", "le", "si", "non"),
    "pt" -> Seq("o", "a", "os", "as", "de", "e", "que", "um", "uma", "para", "com", "por", "do", "da"))

  /** Heuristic language ID: the language whose lexicon intersects the token
    * set most; 'und' (undetermined) when no lexicon hits.
    */
  def langId(text: Column): Column = {
    val toks = array_distinct(tokens(lower(text)))
    val scores = lexicons.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> size(array_intersect(toks, array(words.map(lit): _*)))
    }
    // argmax with deterministic (alphabetical) tie-break: fold a struct(max,lang).
    val best = scores.map { case (lang, s) => struct(s.as("s"), lit(lang).as("l")) }
      .reduceLeft((a, b) => when(b.getField("s") > a.getField("s"), b).otherwise(a))
    when(best.getField("s") <= 0, lit("und")).otherwise(best.getField("l"))
  }

  // -- quality scoring ------------------------------------------------------

  /** Non-alphanumeric (excluding spaces) character count: the length of the
    * text with alphanumerics and spaces stripped.
    */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[a-zA-Z0-9 ]", ""))

  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(punctCount(text).cast(DoubleType) / length(text))

  def meanWordLength(text: Column): Column =
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(aggregate(tokens(text), lit(0L),
        (acc, t) => acc + length(t)).cast(DoubleType) / tokenCount(text))

  def stopwordRatio(text: Column): Column = {
    val all = lexicons.values.flatten.toSeq.distinct.sorted
    val toks = tokens(lower(text))
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(array_intersect(array_distinct(toks), array(all.map(lit): _*)))
        .cast(DoubleType) / size(array_distinct(toks)))
  }

  /** Composite [0,1] quality heuristic: enough length, not punctuation soup,
    * plausible word lengths, contains function words — the standard cheap
    * pre-filter before expensive dedup/classification stages.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast(DoubleType) / 200.0, lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
    val wordScore = when(meanWordLength(text).between(2.0, 12.0), 1.0).otherwise(0.3)
    val stopScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    lenScore * 0.25 + punctScore * 0.25 + wordScore * 0.25 + stopScore * 0.25
  }

  // -- charset cleanup ------------------------------------------------------

  /** Undo the classic mojibake (UTF-8 bytes decoded as latin-1: "Ã©" → "é")
    * — the reference's UTF8RecoderWithCleanup capability
    * (/root/reference/pybabe/charset.py:10-37). Re-encodes suspect strings
    * to ISO-8859-1 and re-decodes as UTF-8; guarded by the mojibake marker
    * characters so clean text passes through untouched.
    */
  def fixMojibake(text: Column): Column =
    when(text.rlike("[Â-Ã]"), decode(encode(text, "ISO-8859-1"), "UTF-8"))
      .otherwise(text)

  // ------------------------------------------------------------------
  // Repetition signals (the Gopher/C4 quality-filter family): documents
  // dominated by repeated lines or one repeated n-gram are boilerplate.
  // All pure expression trees over one split — no explode, no shuffle.
  // ------------------------------------------------------------------

  /** Non-empty lines of the text. */
  private def textLines(text: Column): Column =
    filter(split(text, "\n"), l => length(trim(l)) > 0)

  /** C4-style line filter: keep lines that are non-empty, end in terminal
    * punctuation, and carry at least `minWords` words; survivors re-joined
    * with '\n'. Pure expression tree over one split — narrow, no shuffle.
    * (The C4 pipeline drops boilerplate/navigation lines this way before
    * document-level quality scoring.)
    */
  def cleanLines(text: Column, minWords: Int = 3): Column =
    array_join(
      filter(split(text, "\n"), l =>
        length(trim(l)) > 0 &&
          trim(l).rlike("[.!?\"]$") &&
          size(split(trim(l), "\\s+")) >= minWords),
      "\n")

  /** Fraction of non-empty lines that repeat an earlier line
    * (1 - distinct/total; 0 for line-less documents).
    */
  def duplicateLineFraction(text: Column): Column = {
    val ls = textLines(text)
    when(size(ls) === 0, lit(0.0d))
      .otherwise(lit(1.0d) - size(array_distinct(ls)).cast(DoubleType) / size(ls))
  }

  /** Fraction of line characters belonging to lines that occur more than
    * once (char-weighted duplicate-line mass).
    */
  def duplicateLineCharFraction(text: Column): Column = {
    val ls = textLines(text)
    val total = aggregate(ls, lit(0L), (acc, l) => acc + length(l).cast(LongType))
    val dup = aggregate(array_distinct(ls), lit(0L), (acc, d) => {
      val cnt = size(filter(ls, l => l === d))
      acc + when(cnt > 1, cnt.cast(LongType) * length(d).cast(LongType)).otherwise(lit(0L))
    })
    when(total === 0L, lit(0.0d)).otherwise(dup.cast(DoubleType) / total.cast(DoubleType))
  }

  /** Fraction of text characters covered by the single most common word
    * n-gram (count × gram length / text length; most-common ties resolved
    * to the lexicographically LARGEST gram so engines agree).
    */
  def topNgramCharFraction(text: Column, n: Int): Column = {
    val grams = shingles(text, n)
    val best = array_max(transform(array_distinct(grams),
      g => struct(size(filter(grams, x => x === g)).as("c"), g.as("g"))))
    val chars = best.getField("c").cast(DoubleType) * length(best.getField("g")).cast(DoubleType)
    // documents shorter than n tokens have no real n-gram: no signal
    when(size(tokens(text)) < n || length(text) === 0 || best.isNull, lit(0.0d))
      .otherwise(least(chars / length(text).cast(DoubleType), lit(1.0d)))
  }

  /** All three repetition signals in ONE compiled pass (hash-map counting,
    * no interpreted array folds) — value parity with the three HOF functions
    * above asserted in ExpressionsSpec. This is the 100 TB hot-path form;
    * the HOF versions remain as the executable reference semantics.
    * Returns array(dupLineFrac, dupLineCharFrac, topNgramCharFrac).
    */
  def repetitionStats(text: Column, n: Int): Column =
    graft.expressions.GraftFunctions.repetitionStats(text, n)

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private val PhoneRe = "\\+[0-9]{7,15}\\b"

  /** Redact common PII shapes — emails, IPv4 addresses, international-format
    * phone numbers — with typed placeholders. Patterns are deliberately
    * RE2-compatible (no lookarounds) so external engines can reproduce them.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text, EmailRe, "<EMAIL>")
    val ip = regexp_replace(email, Ipv4Re, "<IP>")
    regexp_replace(ip, PhoneRe, "<PHONE>")
  }

  /** Per-type PII hit counts — the AUDIT companion of [[redactPii]]: the
    * decision input BEFORE redaction (a document that is mostly email
    * addresses is a directory dump to drop whole; one stray address is
    * redactable in place). Counts follow redaction's exact composition —
    * emails on the raw text, IPs on the email-redacted text, phones after
    * both — so `n_emails + n_ips + n_phones` equals the number of
    * placeholders [[redactPii]] would emit, and the same three RE2 passes
    * replay in any engine. Returns a struct (n_emails, n_ips, n_phones).
    */
  def piiCounts(text: Column): Column = {
    val t = coalesce(text, lit(""))
    val afterEmail = regexp_replace(t, EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    struct(
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(afterEmail, lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(afterIp, lit(PhoneRe), lit(0))).cast("long").as("n_phones"))
  }

  /** Corpus-statistical quality score, the CCNet-style perplexity-proxy
    * filter: how typical is each document's character-n-gram distribution
    * of the corpus it sits in? Gibberish / non-linguistic docs are built
    * from rare n-grams and score low. The statistic is the MEAN CORPUS
    * FREQUENCY of the doc's char n-grams — integer aggregates plus one
    * final division, so results are bit-exact across engines (a log-space
    * average would accumulate doubles in partition order and diverge in
    * the last ulp).
    *
    * Scale shape: two narrow corpus scans and NO corpus-sized shuffle.
    * Pass 1 counts grams per document inside the projection (native
    * [[graft.expressions.Kernels.charNgramCounts]] — one compiled pass, no
    * occurrence-level rows or strings ever exist) and rolls the counts up
    * to the global table, whose cardinality is bounded by |charset|^n
    * REGARDLESS of corpus size — the shuffle after map-side combine is at
    * most that many rows per partition, and the table collects to the
    * driver behind a fail-fast guard (the same bounded-plan-time-collect
    * contract as pivot's value list and IVF's centroid seed). Pass 2 is a
    * single compiled projection probing that table per gram
    * ([[graft.expressions.Kernels.charNgramFreqStats]]) — a second scan
    * beats shuffling a corpus-sized gram stream by orders of magnitude at
    * 100 TB, and the result needs no per-doc aggregate at all.
    *
    * `maxVocab` guards the driver: char n-grams over normalized text stay
    * tens-of-thousands small, but a pathological charset/n combination
    * fails fast instead of OOMing the driver.
    */
  // The normalization (regexp_replace+lower) is materialized as a COLUMN
  // before the kernel calls so it runs once per row whatever the optimizer
  // does with the surrounding plan. Shared by both LM-score passes so the
  // train and serve sides see byte-identical gram streams.
  private def lmNorm(textCol: String) =
    lower(regexp_replace(trim(col(textCol)), "\\s+", " "))

  /** Pass 1 (the "train" side): the corpus-global gram frequency table.
    * Bounded by |charset|^n regardless of corpus size; collected behind a
    * fail-fast guard. In a production release pipeline this runs ONCE per
    * corpus snapshot and serves every scoring pass — callers that score
    * repeatedly (or score shards of the same corpus) should build it once
    * and reuse it via [[corpusFrequencyScoreWith]], the same
    * train-once/serve-many split as PQ's pqTrain/pqTopKWith.
    */
  def buildGramTable(docs: org.apache.spark.sql.DataFrame, textCol: String,
                     n: Int = 3, maxVocab: Int = 1 << 22)
      : java.util.HashMap[UTF8String, java.lang.Long] = {
    val global = docs
      .select(explode(
        graft.expressions.GraftFunctions.charNgramCounts(lmNorm(textCol).as("__tx"), n)).as("__e"))
      .groupBy(col("__e.g").as("__g")).agg(sum("__e.c").as("__c"))
      .limit(maxVocab + 1)
      .collect()
    require(global.length <= maxVocab,
      s"corpusFrequencyScore: gram vocabulary exceeds maxVocab=$maxVocab; " +
        "raise the bound or reduce n")
    val table = new java.util.HashMap[UTF8String, java.lang.Long](global.length * 2)
    global.foreach(r => table.put(UTF8String.fromString(r.getString(0)),
      java.lang.Long.valueOf(r.getLong(1))))
    table
  }

  /** Pass 2 (the "serve" side): one compiled projection probing a
    * previously built gram table — a single narrow corpus scan, zero
    * shuffle.
    */
  def corpusFrequencyScoreWith(docs: org.apache.spark.sql.DataFrame, idCol: String,
                               textCol: String,
                               table: java.util.HashMap[UTF8String, java.lang.Long],
                               n: Int = 3): org.apache.spark.sql.DataFrame =
    docs
      .select(col(idCol),
        graft.expressions.GraftFunctions.charNgramFreqStats(lmNorm(textCol), n, table).as("__s"))
      .select(col(idCol),
        col("__s").getItem(0).as("n_grams"),
        col("__s").getItem(1).as("freq_sum"))
      .withColumn("mean_freq", col("freq_sum").cast(DoubleType) / col("n_grams"))

  /** Convenience composition: train + serve in one call (two corpus scans). */
  def corpusFrequencyScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
                           textCol: String, n: Int = 3,
                           maxVocab: Int = 1 << 22): org.apache.spark.sql.DataFrame =
    corpusFrequencyScoreWith(docs, idCol, textCol,
      buildGramTable(docs, textCol, n, maxVocab), n)

  /** Per-document top-k terms by term frequency, with corpus document
    * frequency attached — the integer core of TF-IDF (idf weighting is a
    * consumer-side log over df; kept out so results stay engine-exact).
    * Deterministic: ties by term ascending. Two shuffles, both keyed on
    * (doc, term)/(term) — standard inverted-index build shape, linear in
    * corpus size.
    */
  def topTermsWithDf(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(tokens(lower(col(textCol)))).as("term"))
      .filter(length(col("term")) > 0)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tf").desc, col("term").asc)
    tf.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .join(df, Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rank"))
  }

  // -- fingerprinting -------------------------------------------------------

  /** Canonical-form document fingerprint: md5 of the lowercased,
    * whitespace-collapsed, punctuation-stripped text. Exact-dup detection
    * groups on this instead of the full text (hash shuffle keys stay small
    * at 100 TB).
    */
  /** The Gopher/MassiveText quality-rule battery (Rae et al. 2021,
    * Appendix A): word-count bounds, mean word length 3-10, symbol-to-word
    * ratio (# and ellipsis), bullet-start and ellipsis-end line fractions,
    * alphabetic-word fraction >= 80%, and >= 2 distinct function words.
    * Emits every counter (so thresholds are auditable) plus the combined
    * `keep` verdict; all rule comparisons are INTEGER cross-multiplications
    * (10*symbols <= words, not symbols/words <= 0.1), so the whole battery
    * is bit-portable with no float boundary cases.
    *
    * Narrow map only. The token/line arrays are PROJECTED columns —
    * expressions referenced inside filter/aggregate lambdas re-evaluate per
    * element otherwise (the q90/q112 lesson).
    */
  def gopherRules(df: org.apache.spark.sql.DataFrame, textCol: String,
                  minWords: Long = 50L, maxWords: Long = 100000L)
      : org.apache.spark.sql.DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val t = coalesce(col(textCol), lit(""))
    val hashCnt = length(t) - length(regexp_replace(t, "#", ""))
    // symbol ellipses: ASCII "..." (3 chars each) plus the Unicode '…'
    // (1 char each) — matching the ellipsis_lines regex, which accepts both
    val ellCnt = ((length(t) -
      length(regexp_replace(t, "\\.\\.\\.", ""))).cast(DoubleType) / 3.0)
      .cast("long") +
      (length(t) - length(regexp_replace(t, "…", "")))
    df.withColumn("__toks", tokens(t))
      .withColumn("__lines", filter(split(t, "\n"), l => length(trim(l)) > 0))
      .withColumn("n_words", size(col("__toks")).cast("long"))
      .withColumn("sum_chars",
        aggregate(col("__toks"), lit(0L), (a, w) => a + length(w)))
      .withColumn("n_symbols", hashCnt.cast("long") + ellCnt)
      .withColumn("n_lines", size(col("__lines")).cast("long"))
      .withColumn("bullet_lines",
        size(filter(col("__lines"), l => trim(l).rlike("^[•\\-\\*]"))).cast("long"))
      .withColumn("ellipsis_lines",
        size(filter(col("__lines"), l => rtrim(l).rlike("(\\.\\.\\.|…)$"))).cast("long"))
      .withColumn("alpha_words",
        size(filter(col("__toks"), w => w.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("n_stop",
        size(array_intersect(transform(col("__toks"), w => lower(w)),
          typedLit(stop))).cast("long"))
      .withColumn("keep",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("sum_chars") >= col("n_words") * 3 &&
          col("sum_chars") <= col("n_words") * 10 &&
          col("n_symbols") * 10 <= col("n_words") &&
          col("bullet_lines") * 10 <= col("n_lines") * 9 &&
          col("ellipsis_lines") * 10 <= col("n_lines") * 3 &&
          col("alpha_words") * 10 >= col("n_words") * 8 &&
          col("n_stop") >= 2)
      .drop("__toks", "__lines")
  }

  /** Script blocks recognized by [[scriptProfile]], in tie-break priority
    * order. Ranges use \x{...} escapes — the syntax BOTH java.util.regex
    * and RE2 accept, so the same pattern replays in the oracle.
    */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-z\\x{00C0}-\\x{024F}",
    "cyrillic" -> "\\x{0400}-\\x{04FF}",
    "greek" -> "\\x{0370}-\\x{03FF}",
    "cjk" -> "\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}",
    "arabic" -> "\\x{0600}-\\x{06FF}",
    "hangul" -> "\\x{AC00}-\\x{D7AF}",
    "devanagari" -> "\\x{0900}-\\x{097F}")

  /** Per-script character counts plus the dominant script — the
    * writing-system profile multilingual pipelines route on (which
    * tokenizer, which language-ID model, which normalization). One narrow
    * map: ALL seven counts come from a single codegen'd scan
    * (`Kernels.scriptCounts`) instead of seven keep-only regex replaces — the
    * regex formulation (`scriptProfileRegex`) is kept as the parity
    * reference; `dominant` is the first script (in [[ScriptRanges]] order)
    * reaching the max count, "none" when no scripted character occurs.
    */
  def scriptProfile(df: org.apache.spark.sql.DataFrame, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val withArr = df.withColumn("__sc", graft.expressions.GraftFunctions.scriptCounts(t))
    val withCounts = ScriptRanges.zipWithIndex.foldLeft(withArr) {
      case (acc, ((n, _), i)) => acc.withColumn(n, element_at(col("__sc"), i + 1))
    }.drop("__sc")
    val m = greatest(ScriptRanges.map { case (n, _) => col(n) }: _*)
    val dom = ScriptRanges.foldRight(lit("none"): Column) {
      case ((n, _), acc) => when(col(n) === m && m > 0, lit(n)).otherwise(acc)
    }
    withCounts.withColumn("dominant", dom)
  }

  /** The original seven-regex formulation of [[scriptProfile]] — semantics
    * anchor for ExpressionsSpec parity; not used on hot paths.
    */
  def scriptProfileRegex(df: org.apache.spark.sql.DataFrame, textCol: String)
      : org.apache.spark.sql.DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val withCounts = ScriptRanges.foldLeft(df) { case (acc, (n, p)) =>
      acc.withColumn(n, length(regexp_replace(t, s"[^$p]", "")).cast("long"))
    }
    val m = greatest(ScriptRanges.map { case (n, _) => col(n) }: _*)
    val dom = ScriptRanges.foldRight(lit("none"): Column) {
      case ((n, _), acc) => when(col(n) === m && m > 0, lit(n)).otherwise(acc)
    }
    withCounts.withColumn("dominant", dom)
  }

  def fingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** 64-bit rolling-style content hash (xxhash64 of the canonical form) —
    * cheaper join/shuffle key than the md5 hex string.
    */
  def fingerprint64(text: Column): Column =
    xxhash64(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Sentence segmentation as an array column: maximal runs up to a
    * terminator cluster ([.!?]+), plus an unterminated tail. The pattern is
    * deliberately lookaround-free so any RE2 engine replays it (the
    * classic `(?<=[.!?])\s+` split is Java-only). Each sentence is
    * whitespace-trimmed; whitespace-only fragments are dropped. The unit
    * for sentence-level dedup and boilerplate mining.
    */
  def sentences(text: Column): Column =
    filter(
      transform(
        regexp_extract_all(text, lit("[^.!?]+[.!?]+|[^.!?]+$"), lit(0)),
        s => trim(regexp_replace(s, "\\s+", " "))),
      s => length(s) > 0)

  /** zlib compression ratio of the text (compressed/raw bytes) — the
    * redundancy quality signal from the Gopher/RedPajama filter families:
    * degenerate repetition and templated boilerplate compress far below
    * natural prose, so a low ratio flags low-information documents that
    * token-level repetition stats can miss (long-range repeats). Codegen'd
    * single pass (`Kernels.deflateRatio`); deterministic within a JVM but not
    * SQL-replayable, so its verification is spec-level like [[Retrieval
    * .bm25TopK]]'s float path.
    */
  def compressionRatio(text: Column): Column =
    graft.expressions.GraftFunctions.deflateRatio(text)
}
