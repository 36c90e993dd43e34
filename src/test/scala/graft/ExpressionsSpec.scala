package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expressions.{GraftFunctions, MinHash}
import graft.functions.{TextFunctions, VectorFunctions}

/** Native codegen'd expressions: value parity with the HOF formulations and
  * the SQL surface registered via SparkSessionExtensions.
  */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("htmlToText: tags, raw-text elements, entities, whitespace, edge cases") {
    def x(html: String): String =
      Seq(html).toDF("h").select(GraftFunctions.htmlToText(col("h"))).as[String].head()
    // block vs inline tags: block boundaries become line breaks
    assert(x("<p>a</p><p>b</p>") == "a\nb")
    assert(x("a<b>bold</b>c") == "a bold c")
    // script/style bodies vanish even when they contain tag-like strings
    assert(x("""<script>if (1 < 2) { var x = "</p>"; }</script>after""") == "after")
    assert(x("<style>p { color: red; }</style>text") == "text")
    assert(x("<SCRIPT>x</SCRIPT>y") == "y")        // case-insensitive close
    assert(x("<scripture>verse</scripture>") == "verse") // name-boundary check
    // quoted '>' inside an attribute does not close the tag
    assert(x("""<p data-x="a>b">inner</p>""") == "inner")
    // comments and doctype vanish
    assert(x("<!DOCTYPE html>a<!-- note -->b") == "a b")
    // entities: named, decimal, hex, unknown kept literal, amp not rescanned
    assert(x("x &amp; y &lt;z&gt; &#65;&#x21; &bogus; &amp;lt;") == "x & y <z> A! &bogus; &lt;")
    // lone '<' is text (HTML5 tokenizer behavior)
    assert(x("1 < 2 and 3 > 2") == "1 < 2 and 3 > 2")
    // whitespace canonicalization: runs collapse, edges trim
    assert(x("<p>  a\t b </p>\n\n<p> c </p>") == "a b\nc")
    // unterminated structures fail soft, never loop
    assert(x("<p>a<script>never closed") == "a")
    assert(x("a<p unclosed") == "a")
    assert(x("a<!-- unclosed") == "a")
    // null in, null out
    val nullOut = Seq(Option.empty[String]).toDF("h")
      .select(GraftFunctions.htmlToText(col("h"))).collect()(0)
    assert(nullOut.isNullAt(0))
    // title + links surface
    val row = Seq("""<html><head><title> T </title></head><body><a href="u?a=1&amp;b=2">l</a><A HREF="v">m</A></body></html>""")
      .toDF("h")
      .select(graft.functions.Html.htmlTitle(col("h")).as("t"),
        array_join(graft.functions.Html.htmlLinks(col("h")), "|").as("l"))
      .as[(String, String)].head()
    assert(row == (("T", "u?a=1&b=2|v")))
  }

  test("longL2 expression matches the HOF formulation exactly") {
    val rnd = new scala.util.Random(3)
    val rows = Seq.fill(100)((Seq.fill(8)(rnd.nextInt(1 << 17).toLong),
      Seq.fill(8)(rnd.nextInt(1 << 17).toLong)))
    val df = rows.toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
    val diffs = df.select((GraftFunctions.longL2(col("a"), col("b")) - hof).as("d"))
      .agg(max(abs(col("d")))).as[Long].head()
    assert(diffs == 0L)
    // null propagates
    val n = Seq((Option.empty[Seq[Long]], Option(Seq(1L)))).toDF("a", "b")
      .select(GraftFunctions.longL2(col("a"), col("b"))).collect()(0)
    assert(n.isNullAt(0))
  }

  test("cosine expression matches the HOF formulation bit-exactly") {
    val rnd = new scala.util.Random(1)
    val vecs = Seq.fill(50)((Seq.fill(16)(rnd.nextGaussian()), Seq.fill(16)(rnd.nextGaussian())))
    val df = vecs.toDF("a", "b")
    val diff = df.select(
      (GraftFunctions.cosine(col("a"), col("b")) - VectorFunctions.cosineHof(col("a"), col("b"))).as("d"))
      .agg(max(abs(col("d")))).as[Double].head()
    assert(diff == 0.0)
  }

  test("simhash expression: same tokens -> same signature; token order matters not") {
    val df = Seq("the quick brown fox", "the quick brown fox", "fox brown quick the", "other")
      .toDF("t").select(GraftFunctions.simhash64(col("t")).as("s"))
    val sigs = df.as[Long].collect()
    assert(sigs(0) == sigs(1))
    assert(sigs(0) == sigs(2)) // bag-of-tokens: order-insensitive
    assert(sigs(0) != sigs(3))
  }

  test("minhash signature expression is deterministic and length-correct") {
    val df = Seq(Seq("a b", "b c"), Seq("a b", "b c"), Seq("x y"))
      .toDF("sh").select(GraftFunctions.minhashSignature(col("sh"), 16).as("sig"))
    val sigs = df.as[Seq[Long]].collect()
    assert(sigs.forall(_.length == 16))
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
    val p = 2147483647L
    assert(sigs.flatten.forall(v => v >= 0 && v < p))
  }

  test("hyperplane signature expression: identical vectors share all buckets") {
    val df = Seq(Seq(1.0, 2.0, -1.0), Seq(1.0, 2.0, -1.0), Seq(-1.0, -2.0, 1.0))
      .toDF("v").select(GraftFunctions.hyperplaneSignature(col("v"), 3, 12).as("s"))
    val sigs = df.as[Long].collect()
    assert(sigs(0) == sigs(1))
    // antipodal vector flips every sign bit
    assert((sigs(0) ^ sigs(2)) == (1L << 12) - 1)
  }

  test("repetitionStats kernel matches the three HOF formulations") {
    val cases = Seq(
      "", " ", "one line only", "a\na\na", "a\nb\na\nc\n\n",
      "x y x y x y x y", "té café té café",
      "dup line\ndup line\nother much longer line here",
      ".\n.\n.", "word", "a b", "  lead trail  \n  lead trail  ",
      "tab\there\ttab\there", "1 2 3 1 2 3 1 2",
      "x\n\t\nx", "a b \n", "\na b\n", " spaced  out ")
    val df = cases.toDF("t").select(
      TextFunctions.repetitionStats(col("t"), 2).as("k"),
      TextFunctions.duplicateLineFraction(col("t")).as("h1"),
      TextFunctions.duplicateLineCharFraction(col("t")).as("h2"),
      TextFunctions.topNgramCharFraction(col("t"), 2).as("h3"))
    df.collect().foreach { r =>
      val k = r.getAs[scala.collection.Seq[Double]]("k")
      assert(k(0) == r.getAs[Double]("h1"), s"dlf mismatch for ${r}")
      assert(k(1) == r.getAs[Double]("h2"), s"dcf mismatch for ${r}")
      assert(k(2) == r.getAs[Double]("h3"), s"tgf mismatch for ${r}")
    }
  }

  test("nearestCentroidCos matches max_by over the cosine broadcast join bit-exactly") {
    // The compiled quantized-Lloyd assignment must reproduce the
    // max_by(cid, (cosine, -cid)) formulation the DuckDB oracles replay —
    // including ties (duplicate centroids) and the zero-norm → 0.0 branch.
    val rnd = new scala.util.Random(7)
    val base = Array.fill(6)(Array.fill(8)(
      math.floor(rnd.nextGaussian() * 65536.0 + 0.5)))
    // duplicate centroid under a HIGHER cid (tie must go to the lower cid)
    // + a zero centroid (denom 0 → cs 0.0 for every row)
    val cents = base ++ Array(base(2).clone(), Array.fill(8)(0.0))
    val cids = Array(0L, 25L, 50L, 75L, 100L, 125L, 150L, 175L)
    val vecs = Seq.fill(60)(Seq.fill(8)(
      math.floor(rnd.nextGaussian() * 65536.0 + 0.5))) ++
      Seq(base(2).toSeq, Seq.fill(8)(0.0)) // exact centroid hit; zero row
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val centsDf = cids.zip(cents).toSeq
      .map { case (c, cv) => (c, cv.toSeq) }.toDF("cid", "__cv")
    val viaJoin = df.crossJoin(broadcast(centsDf))
      .withColumn("__cs", GraftFunctions.cosine(col("v"), col("__cv")))
      .groupBy(col("id"))
      .agg(max_by(col("cid"), struct(col("__cs"), -col("cid"))).as("cid"))
    val viaKernel = df.select(col("id"),
      GraftFunctions.nearestCentroidCos(col("v"), cents, cids).as("kcid"))
    assert(viaJoin.join(viaKernel, Seq("id"))
      .filter(col("cid") =!= col("kcid")).count() == 0)
  }

  test("jaccardSim matches size(array_intersect)/size(array_union) exactly") {
    // the compiled LSH verify kernel must reproduce the builtin SET
    // semantics bit-for-bit: duplicates collapse, order is irrelevant,
    // disjoint arrays give 0.0, identical sets give 1.0
    val rnd = new scala.util.Random(11)
    val vocab = Vector.tabulate(40)(i => s"tok$i")
    val arrays = Seq.fill(80)(Seq.fill(1 + rnd.nextInt(20))(
      vocab(rnd.nextInt(vocab.size)))) ++
      Seq(Seq("a", "a", "b"), Seq("b", "a"), Seq("zz"), Seq("a"))
    val pairs = arrays.zip(arrays.reverse).zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
    val df = pairs.toDF("id", "sa", "sb")
    val out = df.select(
      (size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb")))).as("builtin"),
      GraftFunctions.jaccardSim(col("sa"), col("sb")).as("kernel"))
    assert(out.filter(col("builtin") =!= col("kernel")).count() == 0)
    // absolute anchors
    val anchor = Seq((Seq("a", "a", "b"), Seq("b", "a")),
      (Seq("a"), Seq("b")), (Seq("x", "y"), Seq("y", "x")))
      .toDF("sa", "sb")
      .select(GraftFunctions.jaccardSim(col("sa"), col("sb")))
      .collect().map(_.getDouble(0)).toSeq
    assert(anchor == Seq(1.0, 0.0, 1.0))
  }

  test("nearestCentroidCos NaN ordering matches Spark's max_by (NaN wins, ties to lower cid)") {
    // Spark (and DuckDB) order NaN ABOVE every double, so max_by over a
    // NaN cosine picks the NaN candidate. The kernel's comparison must
    // reproduce that — a bare `>` never lets NaN win unless it runs first
    // (round-13 ADVICE). Two shapes: a NaN CENTROID (finite rows get one
    // NaN cosine — it must win regardless of position), and a NaN ROW
    // (every cosine NaN — all tie, lowest cid must win).
    val cents = Array(
      Array(1.0, 2.0, 3.0, 4.0),
      Array(Double.NaN, 2.0, 3.0, 4.0), // NaN centroid, NOT first
      Array(4.0, 3.0, 2.0, 1.0))
    val cids = Array(0L, 25L, 50L)
    val vecs = Seq(
      Seq(1.0, 2.0, 3.0, 4.0),          // exact hit on cid 0, but NaN wins
      Seq(-1.0, 5.0, 0.5, 2.0),
      Seq(Double.NaN, 1.0, 1.0, 1.0))   // NaN row: all cosines NaN
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val centsDf = cids.zip(cents).toSeq
      .map { case (c, cv) => (c, cv.toSeq) }.toDF("cid", "__cv")
    val viaJoin = df.crossJoin(broadcast(centsDf))
      .withColumn("__cs", GraftFunctions.cosine(col("v"), col("__cv")))
      .groupBy(col("id"))
      .agg(max_by(col("cid"), struct(col("__cs"), -col("cid"))).as("cid"))
    val viaKernel = df.select(col("id"),
      GraftFunctions.nearestCentroidCos(col("v"), cents, cids).as("kcid"))
    assert(viaJoin.join(viaKernel, Seq("id"))
      .filter(col("cid") =!= col("kcid")).count() == 0)
    // and the absolute expectation, not just parity: NaN centroid wins for
    // finite rows; the all-NaN row ties down to the lowest cid
    val got = viaKernel.orderBy("id").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(25L, 25L, 0L))
  }

  test("nearestCodeL2 matches min_by over the longL2 codebook join exactly") {
    // The compiled PQ encode must reproduce min_by(cid, (d2, cid)) over
    // the broadcast codebook join — exact long arithmetic, ties (duplicate
    // codebook vectors under distinct cids) resolved to the lower cid.
    val rnd = new scala.util.Random(11)
    val m = 4
    val dsub = 6
    val books: Array[Array[Array[Long]]] = Array.tabulate(m) { s =>
      val base = Array.fill(4)(Array.fill(dsub)(rnd.nextInt(500).toLong))
      base ++ Array(base(1).clone()) // duplicate vector, higher cid → tie
    }
    val cids: Array[Array[Long]] = Array.tabulate(m)(s =>
      Array.tabulate(books(s).length)(i => (i * 50 + s).toLong))
    val rows = (0 until 80).flatMap { id =>
      (0 until m).map(s => (id.toLong, s.toLong,
        Seq.fill(dsub)(rnd.nextInt(500).toLong)))
    } ++ (0 until m).map(s => (999L, s.toLong, books(s)(1).toSeq)) // exact hit
    val df = rows.toDF("id", "sub", "sv")
    val bookDf = (0 until m).flatMap(s => books(s).indices.map(i =>
      (s.toLong, cids(s)(i), books(s)(i).toSeq))).toDF("sub", "cid", "cv")
    val viaJoin = df.join(broadcast(bookDf), Seq("sub"))
      .withColumn("__d2", GraftFunctions.longL2(col("sv"), col("cv")))
      .groupBy(col("id"), col("sub"))
      .agg(min_by(col("cid"), struct(col("__d2"), col("cid"))).as("cid"))
    val viaKernel = df.select(col("id"), col("sub"),
      GraftFunctions.nearestCodeL2(col("sv"), col("sub"), books, cids).as("kcid"))
    assert(viaJoin.join(viaKernel, Seq("id", "sub"))
      .filter(col("cid") =!= col("kcid")).count() == 0)
  }

  test("type probe bitmask has exact parity with the TypeDetect regexes") {
    val IntRe = "^-?[0-9]+$".r
    val FloatRe = "^-?[0-9]+\\.[0-9]+$".r
    val DateRe = "^\\d{2,4}[-/ ]\\d{1,2}[-/ ]\\d{1,2}$".r
    val DateTimeRe = ("^\\d{2,4}[-/ ]\\d{1,2}[-/ ]\\d{1,2}[ T]" +
      "\\d{1,2}:\\d{2}(:\\d{2})?(\\.\\d+)?$").r
    val cases = Seq(
      "1", "-42", "007", "1.5", "-0.25", "1.", ".5", "-", "", "x", "1e5",
      "2012-04-03", "12-4-3", "99-99-99", "2012/04/03", "2012 04 03",
      "12345-1-1", "123-4-5", "2012-123-4", "1-1-1", "2012-04-03 10:20",
      "2012-04-03T10:20:30", "2012-04-03 10:20:30.123", "2012-04-03 10:20.5",
      "2012-04-03 100:20", "2012-04-03 10:2", "2012-04-03 10:20:3",
      "2012-04-0310:20", "10:20", "a-b-c", " 1", "1 ", "--1", "1.2.3")
    cases.foreach { s =>
      val mask = graft.expressions.Kernels.typeProbe(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      def bit(b: Int) = (mask & b) != 0
      assert(bit(1) == IntRe.matches(s), s"int parity for '$s'")
      assert(bit(2) == FloatRe.matches(s), s"float parity for '$s'")
      assert(bit(4) == DateRe.matches(s), s"date parity for '$s'")
      assert(bit(8) == DateTimeRe.matches(s), s"ts parity for '$s'")
    }
  }

  test("type probe KNOWN-VALID bits imply try_to_timestamp success") {
    // bits 16/32 let TypeDetect SKIP the parse, so they must never be set on
    // a value the parser would reject (the converse — parser accepts, bit
    // unset — is fine: it just falls back to the parse).
    val cases = Seq(
      // valid ISO dates (bit 16 expected)
      "2012-04-03", "2012/04/03", "1996-02-29", "2012-1-5", "9999-12-31",
      // calendar-invalid or uncertifiable (bit 16 must be off)
      "1994-02-29", "1900-02-29", "2012-13-01", "2012-00-10", "2012-04-31",
      "2012-04-00", "99-04-03", "123-4-5", "2012 04 03", "0000-01-01",
      // valid timestamps (bit 32 expected)
      "2012-04-03 10:20", "2012-04-03T23:59:59", "2012/04/03 0:00:00",
      // invalid or uncertifiable timestamps (bit 32 must be off)
      "2012-04-03 24:00", "2012-04-03 10:60", "2012-04-03 10:20:60",
      "2012-04-03 10:20:30.5", "1994-02-29 10:20", "99-04-03 10:20")
    val df = cases.toDF("v").select(
      col("v"),
      graft.expressions.GraftFunctions.typeProbe(col("v")).as("mask"),
      try_to_timestamp(translate(col("v"), "/,", "--"), lit("yyyy-M-d")).isNotNull.as("d_ok"),
      coalesce(
        try_to_timestamp(translate(col("v"), "/,T", "-- "), lit("yyyy-M-d H:mm:ss")),
        try_to_timestamp(translate(col("v"), "/,T", "-- "), lit("yyyy-M-d H:mm"))).isNotNull.as("t_ok"))
    df.collect().foreach { r =>
      val (v, mask, dOk, tOk) =
        (r.getString(0), r.getInt(1), r.getBoolean(2), r.getBoolean(3))
      if ((mask & 16) != 0) assert(dOk, s"bit16 set but date parse fails for '$v'")
      if ((mask & 32) != 0) assert(tOk, s"bit32 set but ts parse fails for '$v'")
    }
    // and the fast path actually fires on the common case
    def mask(s: String) = graft.expressions.Kernels.typeProbe(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    assert((mask("2012-04-03") & 16) != 0)
    assert((mask("2012-04-03 10:20:30") & 32) != 0)
  }

  // strings chosen to hit every split/count edge: class transitions, tabs
  // surviving the space-only trim at both ends (leading/trailing empty
  // segments), punctuation runs, mixed scripts, astral codepoints (surrogate
  // pairs), empty and whitespace-only inputs
  private val trickyTexts = Seq(
    "abc123 x-y", "hello, world!!", "", " ", "\t", "\ta b\t", "a \t b",
    "x1y2z3", "...---...", "日本語 text кирилица", "한글과 العربية देवनागरी",
    "Ωμέγα œuf Ça", "emoji 😀 mix", "a", "1", "-", "  padded  ",
    "tab\tsep\tvals", "under_score-dash.dot", "\n\n", "M1x3d 4lph4",
    "ΕΛΛΗΝΙΚΑ ΚΕΦΑΛΑΙΑ", "ひらがな カタカナ 漢字混じり")

  test("subwordCount kernel has exact parity with the lookaround-regex split") {
    val df = (trickyTexts :+ null).toDF("t")
    val got = df.select(
      TextFunctions.subwordCount(col("t")).as("fast"),
      TextFunctions.subwordCountRegex(col("t")).as("slow"))
      .collect()
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.isNullAt(0) == r.isNullAt(1) &&
        (r.isNullAt(0) || r.getInt(0) == r.getInt(1)),
        s"row $i (${if (i < trickyTexts.length) trickyTexts(i) else "null"}): " +
          s"fast=${r.get(0)} slow=${r.get(1)}")
    }
  }

  test("scriptCounts kernel has exact parity with the seven-regex profile") {
    val df = trickyTexts.toDF("text")
    val cols = TextFunctions.ScriptRanges.map(_._1) :+ "dominant"
    val fast = TextFunctions.scriptProfile(df, "text")
      .select(cols.map(col): _*).collect().map(_.toSeq)
    val slow = TextFunctions.scriptProfileRegex(df, "text")
      .select(cols.map(col): _*).collect().map(_.toSeq)
    assert(fast.toSeq == slow.toSeq)
  }

  /** Runs `body` once with every projection code-generated (whole-stage
    * on, no interpreted fallback) and once fully interpreted, over inputs
    * read back from parquet so no optimizer rule folds the projection
    * into a local relation before execution.
    */
  private def inBothCodegenModes(body: String => Unit): Unit =
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try body(mode)
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  private def assertSameRows(got: DataFrame, want: DataFrame, clue: String): Unit = {
    val extra = got.exceptAll(want).collect()
    val missing = want.exceptAll(got).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$clue: extra ${extra.take(5).mkString(", ")}; missing ${missing.take(5).mkString(", ")}")
  }

  test("portable minhash kernel matches the explode/md5/min-aggregate bands exactly") {
    import graft.operators.NearDedup
    // the kernel's constants ARE the ones the oracle SQL interpolates
    val (as, bs) = MinHash.perms(32, MinHash.Seed)

    // The formulation the kernel replaced: one row per shingle, md5 → 60
    // bits → mod p, then 32 min aggregates grouped by id.
    def reference(sh: DataFrame): DataFrame = {
      val p = MinHash.P
      val ex = sh.select(col("id"), explode(col("sh")).as("s"))
        .withColumn("hm",
          conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long") % p)
      val aggs = (0 until 32).map(i => min((col("hm") * as(i) + bs(i)) % p).as(s"sig$i"))
      val sigs = ex.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      val bands = (0 until 8).map { b =>
        struct(lit(b).as("band"),
          md5(concat_ws(",", (0 until 4).map(r => col(s"sig${b * 4 + r}")): _*)).as("bk"))
      }
      sigs.select(col("id"), explode(array(bands: _*)).as("q"))
        .select(col("id"), col("q.band").as("band"), col("q.bk").as("bk"))
    }

    val rnd = new scala.util.Random(5)
    val vocab = Vector("the", "cat", "sat", "on", "mat", "dog", "ran", "far", "a", "b")
    val generated = (0 until 120).map(i => (i.toLong,
      Seq.fill(1 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val edgeTexts = Seq(null, "", "   ", "one", "two words", "emoji 😀 𝄞 text 😀 emoji",
      "café résumé naïve café résumé", "a b c a b c a b c a b c")
    val texts = generated ++ edgeTexts.zipWithIndex.map { case (t, i) => (1000L + i, t) }
    val shingled = texts.toDF("id", "text")
      .select(col("id"), GraftFunctions.shingles(col("text"), 3).as("sh"))
    // arrays no shingler emits: empty, and a repeated shingle
    val direct = Seq((2000L, Seq.empty[String]), (2001L, Seq("x y z", "x y z", "p q r")))
      .toDF("id", "sh")
    val dir = tmp("portable_minhash")
    shingled.unionByName(direct).write.mode("overwrite").parquet(dir)

    inBothCodegenModes { mode =>
      val sh = spark.read.parquet(dir)
      val got = NearDedup.minhashBands(sh, 32, 8, MinHash.Seed)
      val want = reference(sh)
      // 8 bands per signed row; the null text and the empty array get none
      assert(got.collect().length == (texts.count(_._2 != null) + 1) * 8)
      assertSameRows(got, want, mode)
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("graft_minhash_sig"), s"$mode: kernel not in plan:\n$plan")
      assert(plan.contains("*(") == (mode == "CODEGEN_ONLY"), s"$mode:\n$plan")
    }
  }

  test("planeSigs kernel matches the zip_with/aggregate sign fold bit for bit") {
    val dim = 6
    val bits = 5
    val planes = VectorFunctions.portablePlanes(dim, bits, 3)
    // The formulation the kernel replaced: per table, the sign bits of a
    // left-to-right dot fold. A null element or a length mismatch makes
    // the dot NULL (zip_with pads with null) and leaves the bit unset.
    val hof = array((0 until planes.length / bits).map { t =>
      (0 until bits).map { b =>
        val d = VectorFunctions.dot(col("v"), typedLit(planes(t * bits + b)))
        when(d >= 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)
    val rnd = new scala.util.Random(9)
    val generated = Seq.fill(60)(Seq.fill(dim)(Option(rnd.nextGaussian())))
    val edges = Seq(
      Seq.fill(dim)(Option(0.0)), Seq.fill(dim)(Option(-0.0)),
      Seq(Option(1.0), None, Option(1.0), Option(1.0), Option(1.0), Option(1.0)),
      Seq.fill(dim - 1)(Option(1.0)), Seq.fill(dim + 1)(Option(-1.0)), Seq.empty[Option[Double]],
      Seq(Option(Double.NaN)) ++ Seq.fill(dim - 1)(Option(1.0)),
      Seq(Option(Double.PositiveInfinity)) ++ Seq.fill(dim - 1)(Option(0.0)),
      Seq(Option(Double.NegativeInfinity)) ++ Seq.fill(dim - 1)(Option(0.0)),
      Seq(Option(Double.MaxValue), Option(Double.MaxValue)) ++ Seq.fill(dim - 2)(Option(1.0)))
    val dir = tmp("plane_sigs")
    (generated ++ edges).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v").union(Seq((-1L, Option.empty[Seq[Option[Double]]])).toDF("id", "v")
        .select(col("id"), col("v").cast("array<double>")))
      .write.mode("overwrite").parquet(dir)

    inBothCodegenModes { mode =>
      val df = spark.read.parquet(dir)
      val out = df.filter(col("v").isNotNull).select(col("id"),
        GraftFunctions.planeSigs(col("v"), planes, bits).as("kernel"), hof.as("hof"))
      val diff = out.filter(!(col("kernel") <=> col("hof"))).collect()
      assert(diff.isEmpty, s"$mode: ${diff.mkString(", ")}")
      assert(out.count() == generated.size + edges.size)
      // a null vector has no signature (the fold would give all-zero bits)
      val nullSig = df.filter(col("v").isNull)
        .select(GraftFunctions.planeSigs(col("v"), planes, bits)).collect()
      assert(nullSig.length == 1 && nullSig(0).isNullAt(0), mode)
    }
  }

  /** The inputs a kernel call reads, as columns of the differential table. */
  private case class KernelInputs(t: Column, sa: Column, sb: Column, la: Column, lb: Column,
                                  va: Column, vb: Column, sub: Column)

  /** One row of the differential table: the kernel call, the dataType it
    * had as a hand-written expression class (its nullability was that of
    * its inputs), and the reference formulation it must equal wherever
    * every input is non-null. `view` maps the kernel's raw value to what
    * the reference computes (identity for all but the two probe kernels).
    */
  private case class KernelCase(name: String, dataType: String,
                                inputs: KernelInputs => Seq[Column],
                                kernel: Seq[Column] => Column,
                                reference: Seq[Column] => Column,
                                view: (Column, Seq[Column]) => Column = (k, _) => k)

  /** The simhash64 kernel's reference: Spark's own split of the
    * space-trimmed text, md5-prefix votes over 60 bits.
    */
  private def simhashRef(t: Column): Column = {
    val toks = split(trim(t), "\\s+")
    (0 until 60).map { j =>
      val votes = aggregate(toks, lit(0), (acc, tok) => acc +
        when(shiftrightunsigned(conv(substring(md5(tok), 1, 15), 16, 10).cast("long"), j)
          .bitwiseAND(1L) === 1L, 1).otherwise(-1))
      when(votes > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  test("every compiled kernel matches its reference formulation (table, both codegen modes)") {
    import graft.expressions.Kernels
    import graft.operators.TimeParse
    val rnd = new scala.util.Random(17)
    val vocab = Vector("the", "cat", "sat", "on", "mat", "dog", "😀", "𝄞x", "é", "x1")
    val texts: Seq[String] = trickyTexts ++ Seq(null, "a\na\nb", "😀 😀\n😀 😀\nab",
      "dup 𝄞 line\ndup 𝄞 line\nother much longer line", "e\u0301 ﬁ Å ①",
      "2012-04-03", "2012/4/3 7:05", "2012-02-30", "0000-01-01", "12\n", "-0.5",
      "2012-04-03 10:20:30", "2012-04-03T23:59:59", "2012-04-03 24:00", "03-04-2012 10:20",
      "2012-04-03 10:20:30.123456", "10/13/2012",
      """<html><head><title> T </title><style>p{}</style></head><body><p id="b" data-x="a>b">x &amp; y &lt;z&gt; &#65;&#x21; &#x1F600; &bogus; &#0; &#+65;</p><!-- c --><br/>tail</body></html>""",
      "<SCRIPT type=x>if (1 < 2) { '</p>' }</SCRIPT >after <scripture>v</scripture> 1 < 2",
      "<p>a<script>never closed", "a<p unclosed", "a<!-- unclosed", "<!DOCTYPE html><?xml?>x</ >y",
      "<div>\t a \r\n\n b </div>&nbsp;&mdash;&hellip;&#x10FFFF;&#1114112;&#xD800;",
      // whitespace edges of split(trim(t), "\\s+"): a leading tab, a
      // trailing space before a newline, whitespace only, \x0B, \f
      "\tlead tab", "trail space \n", "two\n\n", " \t\r\n\u000B\u000C ", "\u000B",
      "v\u000Btab\u000Cfeed\rret",
      // non-BMP tokens, and tokens past one md5 block (55 bytes)
      "𝄞𝄞 😀x 𝄞𝄞", "x" * 56 + " y " + "é" * 40 + " " + "😀" * 30) ++
      Seq.fill(16)(Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val strs: Seq[Seq[String]] = Seq(null, Seq.empty, Seq("a"), Seq("a", "a", "b"), Seq("b", "a"),
      Seq("😀 x", "𝄞"), Seq("")) ++
      Seq.fill(10)(Seq.fill(1 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))))
    val longs: Seq[Seq[Long]] = Seq(null, Seq.empty, Seq(1L, 2L, 3L), Seq(1L, 2L), Seq(7L, 0L, -3L, 9L)) ++
      Seq.fill(8)(Seq.fill(3)(rnd.nextInt(100).toLong - 50))
    val dim = 4
    val doubles: Seq[Seq[Double]] = Seq(null, Seq.empty, Seq.fill(dim)(0.0), Seq.fill(dim)(-0.0),
      Seq(1.0, 2.0, 3.0), Seq(1.0, -2.0, 3.0, -4.0, 5.0), Seq(Double.NaN, 1.0, 1.0, 1.0),
      Seq(Double.PositiveInfinity, 0.0, 0.0, 0.0)) ++ Seq.fill(12)(Seq.fill(dim)(rnd.nextGaussian()))
    val dir = tmp("kernel_table")
    (0 until 2 * texts.size).map { i =>
      (i.toLong, texts(i % texts.size), strs(i % strs.size), strs((7 * i + 3) % strs.size),
        longs(i % longs.size), longs((5 * i + 1) % longs.size),
        doubles(i % doubles.size), doubles((3 * i + 2) % doubles.size),
        if (i % 9 == 0) None else Some((i % 2).toLong))
    }.toDF("id", "t", "sa", "sb", "la", "lb", "va", "vb", "sub").write.mode("overwrite").parquet(dir)

    // kernel constants
    val cents = Array.fill(6)(Array.fill(dim)(rnd.nextGaussian()))
    val centsDup = cents :+ cents(2).clone() // a tie the lower cid must win
    val centIds = Array(0L, 25L, 50L, 75L, 100L, 125L, 150L)
    val books = Array.fill(2)(Array.fill(3)(Array.fill(3)(rnd.nextInt(100).toLong - 50)))
    books(1)(2) = books(1)(0).clone()
    val bookIds = Array(Array(0L, 5L, 9L), Array(8L, 4L, 1L))
    val planes = VectorFunctions.portablePlanes(dim, 3, 2)
    val gramCounts: Map[String, Long] = texts.filter(_ != null).take(20).flatMap { s =>
      val cps = s.codePoints().toArray
      if (cps.length < 3) Seq(s) else cps.sliding(3).map(w => new String(w, 0, 3)).toSeq
    }.groupBy(identity).toSeq.sortBy(_._1).zipWithIndex
      .collect { case ((g, gs), i) if i % 5 != 0 => g -> gs.size.toLong }.toMap // some grams absent
    val gramTable = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
    gramCounts.foreach { case (g, c) =>
      gramTable.put(org.apache.spark.unsafe.types.UTF8String.fromString(g), java.lang.Long.valueOf(c)) }
    val (pmA, pmB) = graft.expressions.MinHash.perms(8, 42L)

    // reference building blocks
    val p = graft.expressions.MinHash.P
    def javaTrimTokens(c: Column) = split(regexp_replace(c, "^[\\x00-\\x20]+|[\\x00-\\x20]+\\z", ""), "\\s+")
    def prefixes(a: Column, b: Column): (Column, Column) = {
      val n = least(size(a), size(b))
      (slice(a, lit(1), n), slice(b, lit(1), n))
    }
    def dotHof(a: Column, b: Column) = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (s, v) => s + v)
    def cosHof(a: Column, b: Column) = {
      val d = VectorFunctions.l2Norm(a) * VectorFunctions.l2Norm(b)
      when(d === 0.0d, lit(0.0d)).otherwise(dotHof(a, b) / d)
    }
    def sqL2(a: Column, b: Column, zero: Column) = {
      val (x, y) = prefixes(a, b)
      aggregate(zip_with(x, y, (u, v) => (u - v) * (u - v)), zero, (s, v) => s + v)
    }
    def minhashRef(sh: Column, hash: Column => Column, a: Array[Long], b: Array[Long]) =
      array(a.indices.map(k => coalesce(array_min(transform(sh, s =>
        pmod(pmod(hash(s), lit(p)) * lit(a(k)) + lit(b(k)), lit(p)))), lit(0L))): _*)
    def charGrams(t: Column) = when(length(t) < 3, array(t))
      .otherwise(transform(sequence(lit(0), length(t) - 3), i => t.substr(i + 1, lit(3))))
    def full(re: String) = s"\\A(?:$re)\\z"
    val dateShape = "\\d{2,4}[-/ ]\\d{1,2}[-/ ]\\d{1,2}"
    val isoDate = "[0-9]{4}[-/][0-9]{1,2}[-/][0-9]{1,2}"
    def typeMaskRef(t: Column) = {
      val iso = translate(t, "/T", "- ")
      Seq(
        t.rlike(full("-?[0-9]+")) -> 1, t.rlike(full("-?[0-9]+\\.[0-9]+")) -> 2,
        t.rlike(full(dateShape)) -> 4,
        t.rlike(full(dateShape + "[ T]\\d{1,2}:\\d{2}(:\\d{2})?(\\.\\d+)?")) -> 8,
        // 16/32 certify a parse for years 1-9999 only (the bits are conservative)
        (t.rlike(full(isoDate)) && substring(t, 1, 4) =!= "0000" &&
          try_to_timestamp(iso, lit("yyyy-M-d")).isNotNull) -> 16,
        (t.rlike(full(isoDate + "[ T][0-9]{1,2}:[0-9]{2}(:[0-9]{2})?")) && substring(t, 1, 4) =!= "0000" &&
          coalesce(try_to_timestamp(iso, lit("yyyy-M-d H:mm:ss")),
            try_to_timestamp(iso, lit("yyyy-M-d H:mm"))).isNotNull) -> 32
      ).map { case (c, bit) => when(c, lit(bit)).otherwise(lit(0)) }.reduce(_ + _)
    }
    // htmlToText: split into the scanner's tokens (one construct or one
    // character each), map every token to its text, then canonicalize
    // whitespace with the kernel's four regexes
    def rawText(tag: String) = s"(?i:<$tag)(?=[\\p{javaWhitespace}>/]|\\z)" +
      s"(?:[^>]*>(?s:.*?)(?:(?i:</$tag)[^>]*(?:>|\\z)|\\z)|[^>]*\\z)"
    val named = Map("amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
      "nbsp" -> " ", "copy" -> "©", "reg" -> "®", "trade" -> "™", "mdash" -> "—",
      "ndash" -> "–", "hellip" -> "…", "rsquo" -> "’", "lsquo" -> "‘", "rdquo" -> "”", "ldquo" -> "“")
    val tokenRe = Seq("<!--(?s:.*?)(?:-->|\\z)", rawText("script"), rawText("style"),
      "<[!?][^>]*(?:>|\\z)",
      "<(?=[\\p{javaLetter}/])/?\\p{javaLetterOrDigit}*(?:[^\"'>]|\"[^\"]*(?:\"|\\z)|'[^']*(?:'|\\z))*(?:>|\\z)",
      "&(?:#[0-9]{1,7}|#[xX][0-9a-fA-F]{1,7}|" + named.keys.mkString("|") + ");",
      "(?s:.)").mkString("|")
    val blockTags = typedLit(Seq("html", "head", "body", "title", "p", "div", "br", "hr", "li", "ul",
      "ol", "dl", "dt", "dd", "table", "tr", "td", "th", "blockquote", "pre",
      "h1", "h2", "h3", "h4", "h5", "h6", "section", "article", "aside",
      "nav", "header", "footer", "form", "figure", "figcaption"))
    def htmlRef(t: Column) = {
      val text = transform(regexp_extract_all(t, lit(tokenRe), lit(0)), tok => {
        val cp = coalesce(regexp_extract(tok, "^&#([0-9]+);$", 1).try_cast("int"),
          conv(regexp_extract(tok, "^&#[xX]([0-9a-fA-F]+);$", 1), 16, 10).try_cast("int"))
        val tagName = lower(regexp_extract(tok, "^</?(\\p{javaLetterOrDigit}*)", 1))
        when(tok.rlike("^<(!|\\?|(?i:script|style)(?:[\\p{javaWhitespace}>/]|$))"), lit(" "))
          .when(tok.rlike("^<[\\p{javaLetter}/]"),
            when(array_contains(blockTags, tagName), lit("\n")).otherwise(lit(" ")))
          .when(tok.startsWith("&#"),
            when(cp > 0 && cp <= 0x10FFFF && !cp.between(0xD800, 0xDFFF),
              decode(unhex(lpad(hex(cp), 8, "0")), "UTF-32")).otherwise(tok))
          .when(tok.startsWith("&") && length(tok) > 1,
            element_at(typedLit(named), regexp_extract(tok, "^&(.*);$", 1)))
          .otherwise(tok)
      })
      Seq("[ \\t\\r]+" -> " ", " ?\\n ?" -> "\n", "\\n+" -> "\n", "^[\\n ]+|[\\n ]+$" -> "")
        .foldLeft(array_join(text, "")) { case (s, (re, rep)) => regexp_replace(s, re, rep) }
    }
    val deflateRef = udf { (s: String) =>
      val bytes = s.getBytes("UTF-8")
      if (bytes.isEmpty) 1.0 else {
        val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED, true)
        d.setInput(bytes); d.finish()
        val buf = new Array[Byte](1 << 16)
        var total = 0L
        while (!d.finished()) total += d.deflate(buf)
        d.end()
        total.toDouble / bytes.length
      }
    }
    val nfkcRef = udf((s: String) => java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC))
    val formatterMicros = (t: Column) => unix_micros(TimeParse.formatterExpr(t))

    val G = GraftFunctions
    val text = (in: KernelInputs) => Seq(in.t)
    val cases = Seq(
      KernelCase("htmlToText", "StringType", text, c => G.htmlToText(c(0)), c => htmlRef(c(0))),
      KernelCase("deflateRatio", "DoubleType", text, c => G.deflateRatio(c(0)), c => deflateRef(c(0))),
      KernelCase("longL2", "LongType", in => Seq(in.la, in.lb), c => G.longL2(c(0), c(1)),
        c => sqL2(c(0), c(1), lit(0L))),
      KernelCase("jaccardSim", "DoubleType", in => Seq(in.sa, in.sb), c => G.jaccardSim(c(0), c(1)), c => {
        val union = size(array_union(c(0), c(1)))
        // 0/0 is NaN in the kernel; SQL division by zero fails under ANSI
        when(union === 0, lit(Double.NaN))
          .otherwise(size(array_intersect(c(0), c(1))).cast("double") / union)
      }),
      KernelCase("simhash64", "LongType", text, c => G.simhash64(c(0)), c => simhashRef(c(0))),
      KernelCase("shingles", "ArrayType(StringType,false)", text, c => G.shingles(c(0), 3), c => {
        val toks = javaTrimTokens(c(0))
        array_distinct(when(size(toks) < 3, array(concat_ws(" ", toks)))
          .otherwise(transform(sequence(lit(0), size(toks) - 3),
            i => concat_ws(" ", slice(toks, i + 1, lit(3))))))
      }),
      KernelCase("typeProbe", "IntegerType", text, c => G.typeProbe(c(0)), c => typeMaskRef(c(0))),
      KernelCase("unicodeNormalize", "StringType", text, c => G.unicodeNormalize(c(0), "NFKC"),
        c => nfkcRef(c(0))),
      KernelCase("minhashSig portable", "ArrayType(LongType,false)", in => Seq(in.sa),
        c => G.minhashSignature(c(0), 8),
        c => minhashRef(c(0), s => conv(substring(md5(s), 1, 15), 16, 10).cast("long"), pmA, pmB)),
      KernelCase("cosine", "DoubleType", in => Seq(in.va, in.vb), c => G.cosine(c(0), c(1)), c => {
        val (a, b) = prefixes(c(0), c(1))
        cosHof(a, b)
      }),
      KernelCase("planeSigs", "ArrayType(LongType,false)", in => Seq(in.va), c => G.planeSigs(c(0), planes, 3),
        c => array((0 until planes.length / 3).map { t =>
          (0 until 3).map { b =>
            when(dotHof(c(0), typedLit(planes(t * 3 + b))) >= 0, lit(1L << b)).otherwise(lit(0L))
          }.reduce(_ + _)
        }: _*)),
      KernelCase("nearestCentroidCos", "LongType", in => Seq(in.va),
        c => G.nearestCentroidCos(c(0), centsDup, centIds), c => {
          val best = array_max(transform(typedLit(centIds.toSeq.zip(centsDup.map(_.toSeq).toSeq)), e => {
            val (v, cv) = prefixes(c(0), e.getField("_2"))
            struct(cosHof(v, cv).as("cs"), (-e.getField("_1")).as("nid"))
          }))
          -best.getField("nid")
        }),
      KernelCase("nearestCodeL2", "LongType", in => Seq(in.la, in.sub),
        c => G.nearestCodeL2(c(0), c(1), books, bookIds), c => {
          val book = element_at(typedLit(books.indices.map(s =>
            bookIds(s).toSeq.zip(books(s).map(_.toSeq).toSeq))), (c(1) + 1).cast("int"))
          array_min(transform(book, e =>
            struct(sqL2(c(0), e.getField("_2"), lit(0L)).as("d2"), e.getField("_1").as("cid"))))
            .getField("cid")
        }),
      KernelCase("repetitionStats", "ArrayType(DoubleType,false)", text, c => G.repetitionStats(c(0), 2),
        c => array(TextFunctions.duplicateLineFraction(c(0)),
          TextFunctions.duplicateLineCharFraction(c(0)), TextFunctions.topNgramCharFraction(c(0), 2))),
      KernelCase("charNgramCounts",
        "ArrayType(StructType(StructField(g,StringType,false),StructField(c,LongType,false)),false)",
        text, c => G.charNgramCounts(c(0), 3), c => {
          val grams = charGrams(c(0))
          transform(array_distinct(grams), g =>
            struct(g.as("g"), size(filter(grams, x => x === g)).cast("long").as("c")))
        }),
      KernelCase("charNgramFreqStats", "ArrayType(LongType,false)", text,
        c => G.charNgramFreqStats(c(0), 3, gramTable), c => {
          val grams = charGrams(c(0))
          array(size(grams).cast("long"), aggregate(grams, lit(0L), (acc, g) =>
            acc + coalesce(try_element_at(typedLit(gramCounts), g), lit(0L))))
        }),
      KernelCase("subwordCount", "IntegerType", text, c => G.subwordCount(c(0)),
        c => TextFunctions.subwordCountRegex(c(0))),
      KernelCase("scriptCounts", "ArrayType(LongType,false)", text, c => G.scriptCounts(c(0)),
        c => array(TextFunctions.ScriptRanges.map { case (_, r) =>
          length(regexp_replace(c(0), s"[^$r]", "")).cast("long") }: _*)),
      // the kernel certifies a value or defers to the formatter cascade
      KernelCase("multiTsMicros", "LongType", text, c => G.multiTsMicros(c(0)),
        c => formatterMicros(c(0)), view = (k, c) =>
          when(k === Kernels.TsFallback, formatterMicros(c(0)))
            .when(k === Kernels.TsNoParse, lit(null).cast("long")).otherwise(k)))

    val df0 = spark.read.parquet(dir)
    val nullable = KernelInputs(col("t"), col("sa"), col("sb"), col("la"), col("lb"),
      col("va"), col("vb"), col("sub"))
    val nonNull = KernelInputs(coalesce(col("t"), lit("")),
      coalesce(col("sa"), typedLit(Seq.empty[String])), coalesce(col("sb"), typedLit(Seq.empty[String])),
      coalesce(col("la"), typedLit(Seq.empty[Long])), coalesce(col("lb"), typedLit(Seq.empty[Long])),
      coalesce(col("va"), typedLit(Seq.empty[Double])), coalesce(col("vb"), typedLit(Seq.empty[Double])),
      coalesce(col("sub"), lit(0L)))
    cases.foreach { kc =>
      val onNullable = df0.select(kc.kernel(kc.inputs(nullable))).schema.head
      val onNonNull = df0.select(kc.kernel(kc.inputs(nonNull))).schema.head
      assert(onNullable.dataType.toString == kc.dataType, kc.name)
      assert(onNullable.nullable && !onNonNull.nullable, kc.name)
    }

    inBothCodegenModes { mode =>
      val df = spark.read.parquet(dir)
      val failures = cases.flatMap { kc =>
        val in = kc.inputs(nullable)
        val got = kc.view(kc.kernel(in), in)
        val want = when(in.map(_.isNotNull).reduce(_ && _), kc.reference(in))
        val out = df.select(col("id"), col("t"), got.as("got"), want.as("want"))
        // the higher-order references keep their own projection out of
        // whole-stage codegen, so the kernel's stage is checked alone
        val plan = df.select(kc.kernel(in)).queryExecution.executedPlan.toString
        val compiled = plan.linesIterator.exists(l => l.contains("Project") && l.contains("*("))
        val bad = out.filter(!(col("got") <=> col("want"))).collect()
        (if (compiled || mode != "CODEGEN_ONLY") Nil else Seq(s"${kc.name}: not compiled\n$plan")) ++
          bad.take(3).map(r => s"${kc.name} id=${r.get(0)} t=${r.get(1)}: got ${r.get(2)}, want ${r.get(3)}")
      }
      assert(failures.isEmpty, s"$mode:\n${failures.mkString("\n")}")
    }
  }

  test("byte-level shingles kernel matches the String/regex formulation byte for byte") {
    import org.apache.spark.unsafe.types.UTF8String
    // The kernel body before it moved to bytes: decode, trim, regex split,
    // StringBuilder join, re-encode.
    def reference(text: UTF8String, n: Int): Seq[Seq[Byte]] = {
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
      out.toArray(new Array[UTF8String](0)).toSeq.map(_.getBytes.toSeq)
    }
    def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val malformed = Seq(
      bytes('a', ' ', 0xFF, 'b', ' ', 'c', ' ', 'd'),            // invalid lead byte
      bytes('a', 'b', ' ', 0xE2, 0x82, ' ', 'c', ' ', 'd'),      // truncated sequence
      bytes(0xC0, 0xAF, ' ', 'x', ' ', 'y', ' ', 'z'),           // overlong '/'
      bytes('s', ' ', 0xED, 0xA0, 0x80, ' ', 't', ' ', 'u'),     // encoded surrogate
      bytes(0x80, ' ', 'p', ' ', 'q', ' ', 0xF4, 0x90, 0x80, 0x80), // stray continuation, > U+10FFFF
      bytes('x', ' ', 'y', '\t', 'z', ' ', 0xC3))                // cut off at the end
    malformed.foreach(b => assert(!UTF8String.fromBytes(b).isValid, b.toSeq))
    val rnd = new scala.util.Random(23)
    val seps = Vector(" ", "  ", "\t", "\r\n", "\u000B", "\u000C", " \t ")
    val words = Vector("the", "cat", "😀", "café", "x\u0001y", "a" * 40, "𝄞", "naïve")
    val texts: Seq[Array[Byte]] = Seq(
      null, utf8(""), utf8("  \t\n\r\u000B\u000C "), utf8("one"), utf8("two words"),
      utf8("a b c d"),
      // runs of separators
      utf8("a\t\tb\r\n\r\nc\u000B\u000Bd\u000C\u000Ce\r\tf \n g"),
      // control bytes that are not separators: inside tokens they stay,
      // at the ends they are trimmed
      utf8("\u0001\u0002a\u0003b c\u0008d e\u000Ef g\u001Fh\u001E"),
      utf8("x\u001Cy z\u001Dw v\u0007u \u0000"),
      // characters outside Java's default \s: NBSP, U+2028, NEL, U+3000
      utf8("a\u00A0b c\u2028d e\u0085f \u3000g h"),
      utf8("\u00A0lead mid trail\u00A0"),
      utf8("emoji 😀 𝄞 text 😀 emoji 𝄞"), utf8("café résumé naïve café résumé naïve"),
      // doubled spaces: the shingle is joined, not a slice of the input
      utf8("a  b c   d e  f g"), utf8("the cat  the cat the  cat the cat"),
      utf8("a b a b a b a b")) ++ malformed ++
      Seq.fill(12)(utf8(Seq.fill(1 + rnd.nextInt(40))(
        words(rnd.nextInt(words.size)) + seps(rnd.nextInt(seps.size))).mkString))
    val dir = tmp("shingles_bytes")
    texts.zipWithIndex.map { case (b, i) => (i.toLong, Option(b)) }.toDF("id", "b")
      .select(col("id"), col("b").cast("string").as("t"))
      .write.mode("overwrite").parquet(dir)

    inBothCodegenModes { mode =>
      val df = spark.read.parquet(dir)
      // the malformed bytes reach the kernel as written
      val stored = df.select(col("id"), col("t").cast("binary")).collect()
        .map(r => r.getLong(0) -> Option(r.getAs[Array[Byte]](1)).map(_.toSeq)).toMap
      assert(stored == texts.indices.map(i => i.toLong -> Option(texts(i)).map(_.toSeq)).toMap)
      for (n <- Seq(1, 2, 3, 5)) {
        val got = df.select(col("id"),
            GraftFunctions.shingles(col("t"), n).cast("array<binary>")).collect()
          .map(r => r.getLong(0) -> Option(r.getSeq[Array[Byte]](1)).map(_.map(_.toSeq))).toMap
        val bad = texts.indices.flatMap { i =>
          val want = Option(texts(i)).map(b => reference(UTF8String.fromBytes(b), n))
          def hex(sh: Option[Seq[Seq[Byte]]]) =
            sh.map(_.map(_.map(b => f"${b & 0xff}%02x").mkString).mkString("[", " ", "]"))
          if (got(i.toLong) == want) None
          else Some(s"n=$n id=$i: got ${hex(got(i.toLong))}, want ${hex(want)}")
        }
        assert(bad.isEmpty, s"$mode:\n${bad.take(3).mkString("\n")}")
      }
      val plan = df.select(GraftFunctions.shingles(col("t"), 3)).queryExecution.executedPlan.toString
      assert(plan.contains("*(") == (mode == "CODEGEN_ONLY"), s"$mode:\n$plan")
      // the simhash kernel walks the same bytes: malformed text hashes
      // the tokens Spark's split makes of its decoded form
      val simBad = df.filter(col("t").isNotNull &&
          !(GraftFunctions.simhash64(col("t")) <=> simhashRef(col("t"))))
        .select("id").as[Long].collect()
      assert(simBad.isEmpty, s"$mode: simhash64 differs on ids ${simBad.toSeq}")
    }

    // Shingles own their bytes: overwriting the input buffer (as the
    // columnar reader does between batches) leaves them unchanged.
    val buf = utf8("alpha beta  gamma delta beta alpha")
    val sh = graft.expressions.Kernels.shingles(UTF8String.fromBytes(buf, 0, buf.length), 2)
    val before = sh.toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    java.util.Arrays.fill(buf, 'z'.toByte)
    assert(sh.toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString).toSeq == before)
    assert(before == Seq("alpha beta", "beta gamma", "gamma delta", "delta beta", "beta alpha"))
  }

  test("SQL surface via SparkSessionExtensions (graft_* functions)") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val extSession = SparkSession.builder().master("local[2]")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val viaSql = extSession.sql("SELECT graft_simhash64('a b c') AS s, " +
        "graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c, " +
        "graft_hyperplane_sig(array(1.0d, 2.0d), 2, 4) AS h, " +
        "size(graft_minhash_sig(array('x'), 8)) AS m, " +
        "graft_repetition_stats('a\\na\\nb', 2)[0] AS r, " +
        "graft_html_to_text('<p>a</p><p>b</p>') AS ht, " +
        "graft_deflate_ratio('') AS dr, " +
        "timestamp_micros(graft_multi_ts('2012-04-03 10:20:30')) AS ts").collect()(0)
      val viaCol = Seq("a b c").toDF("t")
        .select(GraftFunctions.simhash64(col("t"))).as[Long].head()
      assert(viaSql.getLong(0) == viaCol)
      assert(viaSql.getDouble(1) == 1.0)
      assert(viaSql.getInt(3) == 8)
      assert(math.abs(viaSql.getDouble(4) - (1.0 - 2.0 / 3.0)) < 1e-12)
      assert(viaSql.getString(5) == "a\nb")
      assert(viaSql.getDouble(6) == 1.0)
      assert(viaSql.getTimestamp(7).toInstant.toString == "2012-04-03T10:20:30Z")

      // Every registered name, called from SQL, equals the Column API on the
      // same rows, nulls included: a dropped or mis-wired name fails here.
      val docs = extSession.createDataFrame(Seq(
        (1L, "a b c d", "<p>x</p> &amp; y", "2012-04-03 10:20:30", Seq("a b", "b c"),
          Seq(1.0, 2.0), Seq(0.5, -1.0)),
        (2L, "tab\there 😀 12\n12", "<br>z", "3/4/2012", Seq("x"), Seq(0.0, 3.0), Seq(1.0, 1.0)),
        (3L, null, null, null, null, null, null))).toDF("id", "t", "h", "ts", "sh", "v", "w")
      docs.createOrReplaceTempView("docs")
      val G = GraftFunctions
      val calls = Seq(
        "graft_simhash64" -> ("graft_simhash64(t)", G.simhash64(col("t"))),
        "graft_shingles" -> ("graft_shingles(t, 2)", G.shingles(col("t"), 2)),
        "graft_type_probe" -> ("graft_type_probe(ts)", G.typeProbe(col("ts"))),
        "graft_cosine" -> ("graft_cosine(v, w)", G.cosine(col("v"), col("w"))),
        "graft_minhash_sig" -> ("graft_minhash_sig(sh, 8)", G.minhashSignature(col("sh"), 8)),
        "graft_minhash_sig" -> ("graft_minhash_sig(sh, 8, 5)", G.minhashSignature(col("sh"), 8, 5L)),
        "graft_hyperplane_sig" -> ("graft_hyperplane_sig(v, 2, 4)", G.hyperplaneSignature(col("v"), 2, 4)),
        "graft_hyperplane_sig" -> ("graft_hyperplane_sig(v, 2, 4, 9)",
          G.hyperplaneSignature(col("v"), 2, 4, 9L)),
        "graft_repetition_stats" -> ("graft_repetition_stats(t, 2)", G.repetitionStats(col("t"), 2)),
        "graft_subword_count" -> ("graft_subword_count(t)", G.subwordCount(col("t"))),
        "graft_script_counts" -> ("graft_script_counts(t)", G.scriptCounts(col("t"))),
        "graft_html_to_text" -> ("graft_html_to_text(h)", G.htmlToText(col("h"))),
        "graft_deflate_ratio" -> ("graft_deflate_ratio(t)", G.deflateRatio(col("t"))),
        "graft_multi_ts" -> ("graft_multi_ts(ts)", G.multiTsMicros(col("ts"))))
      assert(calls.map(_._1).toSet == G.sqlFunctions.map(_._1).toSet)
      calls.foreach { case (_, (call, viaColumn)) =>
        assertSameRows(extSession.sql(s"SELECT id, $call AS v FROM docs"),
          docs.select(col("id"), viaColumn.as("v")), call)
      }
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
