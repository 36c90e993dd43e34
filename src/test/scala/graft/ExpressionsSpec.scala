package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.Literal
import graft.expressions.{GraftFunctions, MinHashSigExpr}
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

  test("nearestCentroids expression matches the HOF (distance, index) sort") {
    val rnd = new scala.util.Random(5)
    val cents: Array[Array[Double]] = Array.fill(10)(Array.fill(8)(rnd.nextGaussian()))
    val centLit = typedLit(cents.map(_.toSeq).toSeq)
    def hofNearest(vec: org.apache.spark.sql.Column, n: Int) = {
      val scored = transform(
        zip_with(centLit, sequence(lit(0), lit(cents.length - 1)), (c, i) => struct(c.as("c"), i.as("i"))),
        s => struct(
          aggregate(zip_with(vec, s.getField("c"), (x, y) => (x - y) * (x - y)),
            lit(0.0d), (acc, v) => acc + v).as("d"),
          s.getField("i").as("i")))
      slice(transform(array_sort(scored), s => s.getField("i")), 1, n)
    }
    val vecs = Seq.fill(40)(Seq.fill(8)(rnd.nextGaussian())).toDF("v")
    val out = vecs.select(
      GraftFunctions.nearestCentroids(col("v"), cents, 3).as("native"),
      hofNearest(col("v"), 3).as("hof"))
    assert(out.filter(col("native") =!= col("hof")).count() == 0)
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
    val (as, bs) = NearDedup.portablePerms(32)
    // the kernel's constants ARE the ones the oracle SQL interpolates; the
    // native basis keeps its interleaved draw
    val portableExpr = MinHashSigExpr(Literal(null), 32, 42L, portable = true)
    assert(portableExpr.perms._1.toSeq == as && portableExpr.perms._2.toSeq == bs)
    val rnd0 = new scala.util.Random(42L)
    val interleaved = Seq.fill(32)((math.abs(rnd0.nextLong()) % (MinHashSigExpr.P - 1) + 1,
      math.abs(rnd0.nextLong()) % MinHashSigExpr.P))
    val nativeExpr = MinHashSigExpr(Literal(null), 32, 42L)
    assert(nativeExpr.perms._1.toSeq == interleaved.map(_._1) &&
      nativeExpr.perms._2.toSeq == interleaved.map(_._2))
    assert(nativeExpr.perms._1.toSeq != as)

    // The formulation the kernel replaced: one row per shingle, md5 → 60
    // bits → mod p, then 32 min aggregates grouped by id.
    def reference(sh: DataFrame): DataFrame = {
      val p = MinHashSigExpr.P
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
      val got = NearDedup.portableBands(sh, 32, 8, 42L)
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
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
