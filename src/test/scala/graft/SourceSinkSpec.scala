package graft

import org.apache.spark.sql.functions._
import graft.sinks.Sinks
import graft.sources.{Jdbc, Pull, Sources, SqlDump}
import graft.operators.Memoize

/** Sources (sql-dump, zip, dispatch, sniffer) and sinks (csv golden,
  * html, push) — /root/reference/tests/test_sql.py:59-73, test_zip.py,
  * format_csv.py, base.py:330-333/345-358.
  */
class SourceSinkSpec extends SparkSpec {
  import spark.implicits._

  test("sql-dump golden: escapes, CRLF, quotes (test_sql.py:59-73)") {
    val rows = SqlDump.parseString(
      "CREATE TABLE BLABLA;\n" +
        "INSERT INTO `foobar` VALUES (11,435787,'Yes\\r\\nI\\'m good.','2011-07-03 12:15:44')," +
        "(13,242393,'Foo','Bar');\nMORE BLABLA;\n",
      "foobar", Seq("id", "number", "title", "datetime"))
    assert(rows == Seq(
      Seq("11", "435787", "Yes\r\nI'm good.", "2011-07-03 12:15:44"),
      Seq("13", "242393", "Foo", "Bar")))
  }

  test("sql-dump NULL and numeric literals (format_sql.py:10-46)") {
    val rows = SqlDump.parseString(
      "INSERT INTO `t` VALUES (1,NULL,-2.5),(2,1e5,0xFF);\n", "t", Seq("a", "b", "c"))
    assert(rows == Seq(Seq("1", null, "-2.5"), Seq("2", "1e5", "0xFF")))
  }

  test("pull guesses (format, compression) from extension (base.py:345-358)") {
    assert(Pull.guess("x.csv") == ("csv", None))
    assert(Pull.guess("x.csv.gz") == ("csv", Some("gz")))
    assert(Pull.guess("x.txt.zip") == ("txt", Some("zip")))
    assert(Pull.guess("x.parquet") == ("parquet", None))
    assert(Pull.guess("dump.sql") == ("sql", None))
  }

  test("zip pull reads a one-member archive and rejects multi-member (base.py:424-425)") {
    val dir = tmp("zip")
    val one = s"$dir/one.csv.zip"
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(one))
    zos.putNextEntry(new java.util.zip.ZipEntry("data.csv"))
    zos.write("a,b\n1,2\n".getBytes("UTF-8")); zos.closeEntry(); zos.close()
    val df = Pull(spark, one)
    assert(df.columns.toSeq == Seq("a", "b") && df.count() == 1)

    val two = s"$dir/two.csv.zip"
    val z2 = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(two))
    z2.putNextEntry(new java.util.zip.ZipEntry("m1.csv")); z2.write("a\n1\n".getBytes)
    z2.closeEntry(); z2.putNextEntry(new java.util.zip.ZipEntry("m2.csv"))
    z2.write("a\n2\n".getBytes); z2.closeEntry(); z2.close()
    intercept[Exception] { Pull(spark, two).count() }
  }

  test("csv sniffer finds the delimiter (format_csv.py:50-73)") {
    val dir = tmp("sniff")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/t.csv"),
      "a\tb\n1\t2\n3\t4\n")
    assert(Sources.sniffDelimiter(spark, s"$dir/t.csv") == "\t")
    val df = Sources.csv(spark, s"$dir/t.csv")
    assert(df.columns.toSeq == Seq("a", "b") && df.count() == 2)
  }

  test("csv nullValue handling golden (test_transform.py:165-172)") {
    val dir = tmp("nulls")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/n.csv"),
      "foo,bar\n1,2\n2,NULL\n")
    val df = Sources.csv(spark, s"$dir/n.csv", nullValue = "NULL", delimiter = Some(","))
    assert(golden(df.orderBy("foo")) == "foo,bar\r\n1,2\r\n2,\r\n")
  }

  test("to_string CSV golden helper quotes and formats like the reference (charset.py:60-67)") {
    val df = Seq((1, "a,b", "2012-04-03 10:20:30")).toDF("k", "s", "t")
      .withColumn("t", col("t").cast("timestamp"))
    assert(golden(df) == "k,s,t\r\n1,\"a,b\",2012-04-03 10:20:30\r\n")
  }

  test("html push renders header + rows (format_html.py:18-47)") {
    val html = Sinks.toHtmlString(Seq((1, "<x>")).toDF("a", "b"), name = "s")
    assert(html.contains("<h2>s</h2>"))
    assert(html.contains("<th>a</th><th>b</th>"))
    assert(html.contains("<td>1</td><td>&lt;x&gt;</td>"))
  }

  test("html push verified by an INDEPENDENT parser (javax DOM) over sf0.001 data") {
    // substring assertions can't prove well-formedness or complete
    // escaping; parse the rendered report with the JDK's XML parser (an
    // independent implementation) over real generated data whose comment
    // strings carry specials, and compare the extracted table against the
    // DataFrame cell-for-cell.
    val src = "/root/testdata/sf0.001/nation.parquet"
    assume(new java.io.File(src).exists())
    val df = spark.read.parquet(src).orderBy("n_nationkey")
      .selectExpr("CAST(n_nationkey AS STRING) AS k", "n_name",
        // derived column forces the escaping path on every row
        "concat(n_name, ' <&\"> ', CAST(n_regionkey AS STRING)) AS mix")
    val expected = df.collect().map(_.toSeq.map(String.valueOf)).toSeq
    val html = Sinks.toHtmlString(df, name = "nations & <specials>",
      description = Some("a < b & c"))
    // esc() guarantees XML well-formedness of the fragment; parse it
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(
        s"<root>$html</root>".getBytes("UTF-8")))
    assert(doc.getElementsByTagName("h2").item(0).getTextContent
      == "nations & <specials>") // title survives escaping round-trip
    assert(doc.getElementsByTagName("i").item(0).getTextContent == "a < b & c")
    val trs = doc.getElementsByTagName("tr")
    val header = trs.item(0).asInstanceOf[org.w3c.dom.Element]
      .getElementsByTagName("th")
    assert((0 until header.getLength).map(header.item(_).getTextContent)
      == df.columns.toSeq)
    val body = (1 until trs.getLength).map { r =>
      val tds = trs.item(r).asInstanceOf[org.w3c.dom.Element]
        .getElementsByTagName("td")
      (0 until tds.getLength).map(tds.item(_).getTextContent)
    }
    assert(body == expected, "DOM-extracted table != source rows")
  }

  test("push csv + pull round-trips (base.py:463-567)") {
    val dir = tmp("push") + "/out.csv"
    val df = Seq((1, "x"), (2, "y")).toDF("k", "v")
    Sinks.push(df, dir, format = Some("csv"))
    val back = Sources.csv(spark, dir, delimiter = Some(","))
    assert(back.orderBy("k").collect().map(_.toSeq).toSeq ==
      Seq(Seq("1", "x"), Seq("2", "y")))
  }

  test("push orc + pull round-trips with native types (format guessed from extension)") {
    val dir = tmp("push_orc") + "/out.orc"
    val df = Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("k", "v", "d")
    Sinks.push(df, dir) // .orc extension routes the guess
    val back = graft.sources.Pull(spark, dir)
    // ORC keeps types, unlike csv (readers relax nullability; ignore it)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("k").collect().toSeq == df.orderBy("k").collect().toSeq)
  }

  test("push partitionBy writes hive-style partition dirs (base.py:517-541)") {
    val dir = tmp("part") + "/out"
    val df = Seq(("2012-04-04", "a", 1), ("2012-04-05", "b", 2)).toDF("date", "name", "value")
    Sinks.push(df, dir, format = Some("parquet"), partitionBy = Seq("date"))
    val dirs = new java.io.File(dir).list().filter(_.startsWith("date=")).sorted
    assert(dirs.toSeq == Seq("date=2012-04-04", "date=2012-04-05"))
  }

  test("jdbc DDL + partition-delete SQL generation (sql.py:284-305)") {
    assert(Jdbc.createTableDdl("test_table", Seq("id", "value")) ==
      """CREATE TABLE test_table ("id" VARCHAR(255), "value" VARCHAR(255))""")
    assert(Jdbc.deletePartitionSql("t", Map("date" -> "2012-04-04")) ==
      """DELETE FROM t WHERE "date" = '2012-04-04'""")
    assert(Jdbc.deletePartitionSql("t", Map("v" -> "o'x")) ==
      """DELETE FROM t WHERE "v" = 'o''x'""")
  }

  test("CLI pull->push round-trips a file (reference __main__.py)") {
    val dir = tmp("cli")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/in.csv"),
      "a,b\n1,x\n2,y\n".getBytes("UTF-8"))
    // run the conversion body directly against the shared session (Main's
    // main() would tear the session down)
    val df = graft.sources.Protocols.pull(spark, s"$dir/in.csv")
    graft.sinks.Sinks.push(df, s"$dir/out.parquet")
    val back = spark.read.parquet(s"$dir/out.parquet")
    assert(back.orderBy("a").collect().map(_.toSeq).toSeq ==
      Seq(Seq("1", "x"), Seq("2", "y")))
  }

  test("mail composes a MIME message with html body + csv attachment (mail.py:16-87)") {
    val msg = Sinks.mailString(Seq((1, "x")).toDF("a", "b"),
      "a@ex.com", Seq("b@ex.com"), "hello", name = "s")
    assert(msg.contains("Subject: hello"))
    assert(msg.contains("Content-Type: multipart/mixed"))
    assert(msg.contains("<h2>s</h2>"))
    assert(msg.contains("""filename="s.csv""""))
    val b64 = msg.split("Content-Transfer-Encoding: base64\r\n\r\n")(1)
      .split("\r\n--")(0).replace("\r\n", "")
    assert(new String(java.util.Base64.getDecoder.decode(b64), "UTF-8") ==
      "a,b\r\n1,x\r\n")
  }

  test("mail delivers over SMTP to a loopback stub server (mail.py:80-87)") {
    // in-JVM stub SMTP server: accepts one session, records the DATA payload
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    @volatile var received: String = null
    @volatile var sawAuth = false
    val t = new Thread(() => {
      val s = server.accept()
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(s.getInputStream, "UTF-8"))
      val out = new java.io.OutputStreamWriter(s.getOutputStream, "UTF-8")
      def reply(r: String): Unit = { out.write(r + "\r\n"); out.flush() }
      reply("220 stub ready")
      var line = in.readLine()
      val buf = new StringBuilder
      var inData = false
      while (line != null) {
        if (inData) {
          if (line == ".") { inData = false; received = buf.toString; reply("250 ok") }
          else buf.append(line).append("\r\n")
        } else if (line.startsWith("EHLO")) reply("250 stub")
        else if (line.startsWith("AUTH PLAIN")) { sawAuth = true; reply("235 ok") }
        else if (line.startsWith("MAIL") || line.startsWith("RCPT")) reply("250 ok")
        else if (line == "DATA") { inData = true; reply("354 go") }
        else if (line == "QUIT") { reply("221 bye"); line = null }
        if (line != null) line = in.readLine()
      }
      s.close()
    })
    t.start()
    try {
      graft.sinks.Smtp.mail(Seq((1, "x")).toDF("a", "b"),
        "127.0.0.1", server.getLocalPort, "a@ex.com", Seq("b@ex.com"), "hello",
        name = "s", login = "user", password = "pw")
      t.join(15000)
      assert(sawAuth)
      assert(received != null && received.contains("Subject: hello"))
      assert(received.contains("""filename="s.csv""""))
    } finally server.close()
  }

  test("memoize caches by plan fingerprint and replays (base.py:177-253)") {
    val dir = tmp("memo")
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val first = Memoize.memoize(df.filter(col("k") > 0), dir)
    assert(first.count() == 2)
    val cached = new java.io.File(dir).list()
    assert(cached.length == 1) // one fingerprint dir
    val second = Memoize.memoize(df.filter(col("k") > 0), dir)
    assert(second.count() == 2)
    assert(new java.io.File(dir).list().length == 1) // same plan -> same cache entry
    val third = Memoize.memoize(df.filter(col("k") > 1), dir)
    assert(third.count() == 1)
    assert(new java.io.File(dir).list().length == 2) // different plan -> new entry
  }

  test("memoize fingerprint distinguishes identical plans over different paths") {
    val dir = tmp("memo_paths")
    val d1 = tmp("memo_src1"); val d2 = tmp("memo_src2")
    Seq((1, "a")).toDF("k", "v").write.mode("overwrite").parquet(s"$d1/t")
    Seq((2, "b"), (3, "c")).toDF("k", "v").write.mode("overwrite").parquet(s"$d2/t")
    // same pipeline shape, different source dirs — must NOT share a cache entry
    val r1 = Memoize.memoize(spark.read.parquet(s"$d1/t").groupBy("v").count(), dir)
    assert(r1.count() == 1)
    val r2 = Memoize.memoize(spark.read.parquet(s"$d2/t").groupBy("v").count(), dir)
    assert(r2.count() == 2)
    assert(new java.io.File(dir).list().length == 2)
  }

  test("memoize fingerprint distinguishes checkpointed (LogicalRDD) plans over different inputs") {
    // a localCheckpoint erases both the plan text and the input-file list
    // (bare `LogicalRDD [cols]`), so two checkpointed pipelines over
    // DIFFERENT data printed identically and collided on one cache entry —
    // round 15's stored-index-serve bug (the sf0.001 spec-suite index was
    // replayed for the sf0.01 oracle gate). The RDD-id salt must keep them
    // apart.
    val dir = tmp("memo_ckpt")
    val a = Seq((1, "a")).toDF("k", "v").localCheckpoint()
    val b = Seq((2, "b"), (3, "c")).toDF("k", "v").localCheckpoint()
    assert(Memoize.planFingerprint(a.groupBy("v").count()) !=
      Memoize.planFingerprint(b.groupBy("v").count()))
    val r1 = Memoize.memoize(a.groupBy("v").count(), dir)
    assert(r1.count() == 1)
    val r2 = Memoize.memoize(b.groupBy("v").count(), dir)
    assert(r2.count() == 2)
    assert(new java.io.File(dir).list().length == 2)
  }

  test("memoize fingerprint sees every column of a wide projection") {
    // The analyzed plan's default rendering cuts the project list after
    // spark.sql.debug.maxToStringFields (25) entries, so two projections
    // differing only in column 28 hashed alike and the second replayed
    // the first one's cache.
    val dir = tmp("memo_wide")
    def wide(v: Int) = spark.range(1).select((0 until 30).map(i =>
      (if (i == 28) lit(v) else lit(i)).as(s"c$i")): _*)
    assert(Memoize.planFingerprint(wide(1)) != Memoize.planFingerprint(wide(2)))
    assert(Memoize.memoize(wide(1), dir).select("c28").as[Int].head() == 1)
    assert(Memoize.memoize(wide(2), dir).select("c28").as[Int].head() == 2)
    // each expression also cuts its own argument list at that limit
    def wideArray(v: Int) = spark.range(1).select(array((0 until 30).map(i =>
      if (i == 27) lit(v) else lit(i)): _*).as("a"))
    assert(Memoize.planFingerprint(wideArray(27)) != Memoize.planFingerprint(wideArray(99)))
    assert(spark.conf.get("spark.sql.debug.maxToStringFields") == "25")
  }

  test("memoize fingerprint renders kernel constants by content") {
    // Array-typed kernel constants (centroids, codebooks) used to print as
    // a JVM identity (`[[D@64e6ef25`): equal pipelines fingerprinted apart
    // in every session and a later session could never be served.
    import graft.expressions.GraftFunctions
    val rnd = new scala.util.Random(3)
    val cents = Array.fill(10)(Array.fill(8)(rnd.nextGaussian()))
    val books = Array.fill(2)(Array.fill(4)(Array.fill(3)(rnd.nextInt(100).toLong)))
    val cids = Array.fill(2)(Array.tabulate(4)(_.toLong))
    val centIds = Array.tabulate(10)(_.toLong)
    val vecs = Seq((Seq.fill(8)(0.5), 0L, Seq(1L, 2L, 3L))).toDF("v", "sub", "sv")
    def fp(c: Array[Array[Double]], b: Array[Array[Array[Long]]]) =
      Memoize.planFingerprint(vecs.select(
        GraftFunctions.nearestCentroidCos(col("v"), c, centIds).as("nc"),
        GraftFunctions.nearestCodeL2(col("sv"), col("sub"), b, cids).as("code")))
    def copyOf(c: Array[Array[Double]]) = c.map(_.clone)
    def booksCopy = books.map(_.map(_.clone))
    assert(fp(cents, books) == fp(copyOf(cents), booksCopy))
    val changedCent = copyOf(cents); changedCent(7)(5) += 1e-9
    assert(fp(cents, books) != fp(changedCent, books))
    val changedBook = booksCopy; changedBook(1)(3)(2) += 1
    assert(fp(cents, books) != fp(cents, changedBook))
  }

  test("pushPartitionReload overwrites only the loaded partitions, idempotently") {
    import spark.implicits._
    val dir = tmp("partreload") + "/t"
    val base = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("id", "part", "v")
    graft.sinks.Sinks.push(base, dir, Some("parquet"), partitionBy = Seq("part"))
    val reload = Seq((1L, "a", 99L)).toDF("id", "part", "v")
    graft.sinks.Sinks.pushPartitionReload(reload, dir, Seq("part"), Some("parquet"))
    // run twice: the reload must be idempotent
    graft.sinks.Sinks.pushPartitionReload(reload, dir, Seq("part"), Some("parquet"))
    val got = spark.read.parquet(dir).select("id", "part", "v")
      .orderBy("id").as[(Long, String, Long)].collect().toSeq
    // partition a fully replaced (row 2 gone), partition b untouched
    assert(got == Seq((1L, "a", 99L), (3L, "b", 30L)))
    // session conf restored
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode").forall(_ != "dynamic") ||
      spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static")
  }

  test("warcToWet keeps only 200 text/html responses and splits the HTTP envelope") {
    import graft.sources.Warc
    val dir = java.nio.file.Files.createTempDirectory("warcresp").toString
    def record(uri: String, status: String, ctype: String, body: String): String = {
      val payload = s"HTTP/1.1 $status\r\nContent-Type: $ctype\r\nX-Other: y\r\n\r\n$body"
      s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${payload.getBytes("UTF-8").length}\r\n\r\n$payload\r\n"
    }
    val member = record("https://a/1", "200 OK", "text/html; charset=utf-8",
        "<p>kept &amp; extracted</p>") ++
      record("https://a/2", "404 Not Found", "text/html", "<p>gone</p>") ++
      record("https://a/3", "200 OK", "image/png", "PNG") ++
      record("https://a/4", "200 OK", "TEXT/HTML", "<p>case kept</p>")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/m.warc"),
      member.getBytes("UTF-8"))
    val got = Warc.warcToWet(spark, dir)
      .orderBy("uri").as[(String, String)].collect().toSeq
    assert(got == Seq("https://a/1" -> "kept & extracted",
      "https://a/4" -> "case kept"))
    // the envelope split itself: status and media type come back typed
    val resp = Warc.readWarcResponses(spark, dir)
      .select("target_uri", "http_status", "content_type")
      .orderBy("target_uri").as[(String, Int, String)].collect().toSeq
    assert(resp == Seq(("https://a/1", 200, "text/html"),
      ("https://a/2", 404, "text/html"),
      ("https://a/3", 200, "image/png"),
      ("https://a/4", 200, "text/html")))
  }

  test("bloom-filter parquet writes: filter present in the footer, membership exact-ish") {
    import graft.sinks.Bucketing
    val dir = tmp("bloomwrite")
    val df = spark.range(0, 5000).coalesce(1)
      .selectExpr("id", "CAST(id % 7 AS STRING) AS tag")
    Bucketing.writeWithBloomFilters(df, s"$dir/t", Seq("id"), ndv = 5000L)
    // footer-level proof: the id column chunk carries a bloom filter, the
    // non-requested column does not
    val conf = spark.sparkContext.hadoopConfiguration
    val part = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath), conf))
    try {
      val cols = reader.getRowGroups.get(0).getColumns
      val byName = (0 until cols.size()).map(i => cols.get(i))
        .map(c => c.getPath.toDotString -> c).toMap
      assert(byName("id").getBloomFilterOffset >= 0, "no bloom filter on id")
      assert(byName("tag").getBloomFilterOffset < 0, "unexpected bloom filter on tag")
      // the filter answers membership: every written id hits, absent keys
      // mostly miss (false positives allowed by contract, negatives never)
      val bf = reader.getBloomFilterDataReader(reader.getRowGroups.get(0))
        .readBloomFilter(byName("id"))
      def mightContain(v: Long): Boolean = bf.findHash(bf.hash(v))
      assert((0L until 5000L by 500L).forall(mightContain))
      val misses = (100000L until 100100L).count(!mightContain(_))
      assert(misses > 90, s"implausible false-positive rate: ${100 - misses}%")
    } finally reader.close()
    // and the data reads back intact through the normal scan
    assert(spark.read.parquet(s"$dir/t").count() == 5000L)
  }
}
