package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry
import graft.expressions.Kernels

/** One benchmark run in one fresh JVM, driven by run.py.
  *
  * Runs the named registry queries (`graft.SparkEntry.queries`) against a
  * generated data directory. The cold pass, first in the fresh session,
  * writes every result as parquet under `--check`, as a batch job would;
  * run.py compares those files with the DuckDB oracles after the JVM has
  * exited. Then whole warm passes run until `--seconds` have elapsed, each
  * query written to Spark's `noop` sink. With `--trace 1` untraced passes alternate
  * with passes traced by [[Tracer]]; the per-layer numbers come from the
  * traced ones only. Everything is written as one JSON object to `--out`.
  *
  * Usage: Runner --data DIR --queries q1,q2 --seconds S --trace 0|1
  *   --cpus N --out FILE --check DIR [--spans FILE]
  */
object Runner {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val names = opt("queries").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val spark = Setup.session(opt("cpus"))
    val readyMs = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("OFF")

    val errors = mutable.LinkedHashMap[String, String]()
    def fail(q: String, e: Throwable): Unit = if (!errors.contains(q))
      errors(q) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    // Query-final state (persisted tees, cached plans, final checkpoints)
    // is dropped between queries, outside the timings, so one query's
    // leftovers never load the next.
    def dropQueryState(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

    val retained = mutable.ArrayBuffer[Double]()
    var probeGc = 0.0 // GC seconds the heap probes force
    // CPU time of the whole JVM. Unlike wall time it does not count time
    // the host gave this VM's vCPUs to other guests (steal), nor time a
    // thread waited for a core.
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    /** One pass over every query; returns per-query (wall, JVM CPU) seconds,
      * NaN when the query failed.
      * Results go to the `noop` sink, or as parquet under `output`. With
      * `probe`, the live heap each query leaves is recorded after its write,
      * outside the timing and before its state is dropped.
      */
    def pass(tracer: Option[Tracer], output: Option[String] = None,
             probe: Boolean = false): Seq[(Double, Double)] = names.map { q =>
      val fn = SparkEntry.queries(q)
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      val secs = try {
        val df = fn(spark, data)
        val t1 = System.nanoTime(); val m1 = System.currentTimeMillis()
        output match {
          case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$q")
          case None => df.write.format("noop").mode("overwrite").save()
        }
        val t2 = System.nanoTime()
        tracer.foreach(_.query(q, m0, m1, System.currentTimeMillis(),
          (t1 - t0) / 1e9, (t2 - t1) / 1e9))
        ((t2 - t0) / 1e9, (os.getProcessCpuTime - c0) / 1e9)
      } catch { case e: Throwable => fail(q, e); (Double.NaN, Double.NaN) }
      if (probe) {
        val gc0 = Heap.gcSeconds()
        retained += Heap.retainedMb()
        probeGc += Heap.gcSeconds() - gc0
      }
      dropQueryState()
      secs
    }

    // JIT seconds and Janino compilations so far, after each timed pass:
    // diagnostics that show whether a pass still compiled code
    val jit = ManagementFactory.getCompilationMXBean
    val passJit = mutable.ArrayBuffer[Double]()
    val passCodegen = mutable.ArrayBuffer[Long]()
    /** Whole passes until `seconds` have elapsed, at least two untraced
      * ones; with a tracer, passes run untraced, traced, traced, untraced,
      * and so on (at least two of each), so both kinds see the same warm-up
      * and host. The last untraced pass of that minimum probes the heap.
      */
    def timedPasses(tracer: Option[Tracer]): Seq[(Boolean, Seq[(Double, Double)])] = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      val out = mutable.ArrayBuffer[(Boolean, Seq[(Double, Double)])]()
      val minPasses = if (tracer.isDefined) 4 else 2
      while (out.size < minPasses || System.nanoTime() < end) {
        val on = tracer.isDefined && (out.size % 4 == 1 || out.size % 4 == 2)
        if (on) tracer.get.attach()
        val times = pass(if (on) tracer else None, probe = out.size == minPasses - 1)
        if (on) tracer.get.detach()
        out += (on -> times)
        passJit += jit.getTotalCompilationTime / 1e3
        passCodegen += CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      }
      out.toSeq
    }

    val coldStart = System.nanoTime()
    val check = opt("check")
    val cold = pass(None, Some(check))
    val coldWall = (System.nanoTime() - coldStart) / 1e9
    val calibration = Calibrate.loopSeconds()

    val res = mutable.LinkedHashMap[String, Any](
      "ready_ms" -> readyMs,
      "cold" -> cold.map(_._1),
      "cold_cpu" -> cold.map(_._2),
      "cold_wall_s" -> coldWall,
      "calibration_s" -> calibration)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val (tracedPasses, untraced) = timedPasses(tracer).partition(_._1)
    res("passes") = untraced.map(_._2.map(_._1))
    res("passes_cpu") = untraced.map(_._2.map(_._2))
    res("retained_mb") = retained.toSeq
    res("pass_jit_s") = passJit.toSeq
    res("pass_codegen") = passCodegen.toSeq
    tracer.foreach { t =>
      // JVM totals from start to the end of the passes, before the
      // microbenchmarks below and without the probes' forced GCs
      val jvm = Map("jvm.gc_s" -> (Heap.gcSeconds() - probeGc),
        "jvm.jit_s" -> jit.getTotalCompilationTime / 1e3)
      res("traced_passes") = tracedPasses.map(_._2.map(_._1))
      res("layers") = t.layers(tracedPasses.size) ++ jvm ++
        KernelBench.nsPerRow(spark, data) +
        ("sources.resolve_s" -> Sources.resolveSeconds(spark, data))
      opt.get("spans").foreach(p => Files.writeString(Paths.get(p), t.spansJson()))
    }

    Files.writeString(Paths.get(s"$check/oracle_sql.json"), Json.render(
      SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))

    res("queries") = names
    res("errors") = errors.toMap
    Files.writeString(Paths.get(opt("out")), Json.render(res.toMap))
    spark.stop()
  }
}

/** The session every run uses: the settings of graft.Bench, and a
  * generated-code cache that holds a workload's classes. A verbs pass
  * generates about 115 classes; Spark's default cache of 100 evicted each
  * before the next pass came back to it, so every warm pass recompiled most
  * of them with Janino and C1. Code generation is measured by the cold pass.
  */
object Setup {
  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.codegen.cache.maxEntries", "2000")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Heap measurements: the live heap after a full collection, and the JVM's
  * total GC time.
  */
object Heap {
  def retainedMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
}

/** A fixed single-threaded integer loop: its time tracks how much CPU the
  * host gave this JVM, independent of the program under test.
  */
object Calibrate {
  def loopSeconds(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L; var i = 0
      while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) println(x)
      (System.nanoTime() - t0) / 1e9
    }
    Seq.fill(5)(once()).sorted.apply(2)
  }
}

/** `sources.resolve_s`: `spark.read.parquet` (file listing plus footer and
  * schema resolution) per fixture table, median of three, summed.
  */
object Sources {
  def resolveSeconds(spark: SparkSession, data: String): Double =
    SparkEntry.fixtureTables.map { t =>
      Seq.fill(3) {
        val t0 = System.nanoTime()
        spark.read.parquet(s"$data/$t.parquet")
        (System.nanoTime() - t0) / 1e9
      }.sorted.apply(1)
    }.sum
}

/** `expressions.<kernel>.ns_per_row`: the compiled kernels behind the
  * graft expressions, called single-threaded on the run's own documents and
  * embeddings; median of five timed loops after one warm-up loop.
  */
object KernelBench {
  def nsPerRow(spark: SparkSession, data: String): Map[String, Double] = {
    val texts = spark.read.parquet(s"$data/documents.parquet").select("text")
      .limit(4000).collect().map(r => UTF8String.fromString(r.getString(0)))
    val vecs = spark.read.parquet(s"$data/embeddings.parquet").select("embedding")
      .limit(2000).collect()
      .map(r => new GenericArrayData(r.getSeq[Float](0).map(_.toDouble).toArray))
    val html = texts.map(t => UTF8String.fromString(
      s"<html><head><title>t</title><script>var x = 1;</script></head>" +
        s"<body><h1>doc</h1><p>$t</p><p>a &amp; b</p></body></html>"))
    val shingles = texts.map(Kernels.shingles(_, 3))
    val rnd = new scala.util.Random(42)
    val p = 2147483647L
    val a = Array.fill(32)(math.abs(rnd.nextLong()) % (p - 1) + 1)
    val b = Array.fill(32)(math.abs(rnd.nextLong()) % p)
    val planes = Array.fill(64)(Array.fill(64)(rnd.nextGaussian()))
    var sink = 0L
    def time(n: Int)(f: Int => Any): Double = {
      def loop(): Long = {
        val t0 = System.nanoTime(); var i = 0
        while (i < n) { sink += f(i).hashCode; i += 1 }
        System.nanoTime() - t0
      }
      loop()
      Seq.fill(5)(loop()).sorted.apply(2).toDouble / n.max(1)
    }
    val nt = texts.length
    val out = Map(
      "simhash64" -> time(nt)(i => Kernels.simhash64(texts(i))),
      "shingles" -> time(nt)(i => Kernels.shingles(texts(i), 3)),
      "minhashSig" -> time(nt)(i => Kernels.minhashSig(shingles(i), a, b, p)),
      "planeSigs" -> time(vecs.length)(i => Kernels.planeSigs(vecs(i), planes, 4)),
      "subwordCount" -> time(nt)(i => Kernels.subwordCount(texts(i))),
      "scriptCounts" -> time(nt)(i => Kernels.scriptCounts(texts(i))),
      "htmlToText" -> time(nt)(i => Kernels.htmlToText(html(i))),
      "deflateRatio" -> time(nt)(i => Kernels.deflateRatio(texts(i))))
    if (sink == 42L) println(sink)
    out.map { case (k, v) => s"expressions.$k.ns_per_row" -> v }
  }
}

/** Minimal JSON rendering for the run's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
