package graft

import org.apache.spark.sql.SparkSession

/** Diagnostics main: run ONE registered query under EXACTLY the bench
  * session config (same master, shuffle partitions, timezone, and the
  * `nanosAsLong` parquet flag — without which nanosecond-timestamp tables
  * fail with a misleading scan error that Bench never sees) and print each
  * run's wall seconds + GC delta. `Probe <query> [sfDir] [runs]`. Unlike
  * Bench it prints full cause chains on failure and never writes a
  * snapshot — the iterate-on-one-query tool, with measurements that are
  * comparable to BENCH_detail's.
  *
  * Each run also prints the plan's OBSERVED METRICS (`df.observe` nodes —
  * LSH dropped-bucket volume, verify-stage candidate counts, winnow
  * fingerprint drops) via a QueryExecutionListener: the stage-attribution
  * evidence for the natives whose cost is dominated by a single join
  * (round 14: q47/q48's exact-verify term at sf10) comes from here, with
  * no extra pass over the data.
  */
object Probe {
  private def gcMs(): Long = {
    val it = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.iterator()
    var s = 0L
    while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) s += t }
    s
  }

  def main(args: Array[String]): Unit = {
    val q = if (args.length > 0) args(0) else "q147_heavy_hitters_stream"
    val dir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Attribution runs want the opt-in candidate-stream observes in the
    // plan (see Tuning.observeMetrics — they are pushdown barriers, so
    // Bench plans never carry them; Probe's whole point is attribution).
    // Honor an explicit =0 from the caller for an A/B of the barrier cost.
    if (!sys.props.contains("graft.observeMetrics") &&
        !sys.env.contains("SPARK_GRAFT_OBSERVE"))
      sys.props("graft.observeMetrics") = "1"
    // Observed-metrics capture: every `observe` node in the executed plan
    // reports its row aggregates here after the action completes. The
    // listener fires asynchronously on a separate thread, so runs drain it
    // AFTER the action returns (the queue is thread-safe; onFailure events
    // are ignored — the catch below already prints the cause chain).
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          observed.add(name -> row.schema.fieldNames.zip(row.toSeq)
            .map { case (f, v) => s"$f=$v" }.mkString(", "))
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })
    def drainObserved(): Unit = {
      // listener delivery is async: give the bus a beat, then drain
      Thread.sleep(300)
      var e = observed.poll()
      while (e != null) { println(s"  observed ${e._1}: ${e._2}"); e = observed.poll() }
    }
    // Job-level attribution (SPARK_GRAFT_JOBPROF=1): per Spark job, the
    // wall time, stage/task counts, and the job group/description — the
    // "where do a multi-action query's seconds go" view (localCheckpoint
    // materializations, loop rounds, and streaming micro-batches are all
    // separate jobs that a single wall number can't separate). Each stage
    // line adds the stage's executor CPU (summed over its tasks), the
    // records it read (scan input plus shuffle read) and the shuffle
    // records it wrote: which operator's rows cost the CPU.
    val jobProf = sys.env.get("SPARK_GRAFT_JOBPROF").contains("1")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    if (jobProf) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(js.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("")
          jobStart.put(js.jobId, (js.time, s"stages=${js.stageIds.size} $desc"))
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobStart.remove(je.jobId)).foreach { case (t0, meta) =>
            jobLines.add(f"  job ${je.jobId}%4d ${(je.time - t0) / 1000.0}%7.3f s  $meta")
          }
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val ms = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
            .getOrElse(-1L)
          val m = si.taskMetrics // the stage's sums over its tasks
          jobLines.add(f"    stage ${si.stageId}%4d ${ms / 1000.0}%7.3f s tasks=${si.numTasks}%4d " +
            f"cpu=${m.executorCpuTime / 1e9}%7.3f s " +
            f"read=${m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead}%9d " +
            f"shuffle_w=${m.shuffleWriteMetrics.recordsWritten}%9d  ${si.name.take(110)}")
        }
      })
    def drainJobs(): Unit = if (jobProf) {
      Thread.sleep(300)
      var l = jobLines.poll()
      while (l != null) { println(l); l = jobLines.poll() }
    }
    try {
      for (i <- 1 to runs) {
        val g0 = gcMs(); val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        println(f"OK $q run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s, gc ${gcMs() - g0} ms")
        drainObserved()
        drainJobs()
      }
    } catch { case e: Throwable =>
      var c: Throwable = e
      while (c != null) {
        println("CAUSE: " + c.getClass.getName + ": " +
          Option(c.getMessage).getOrElse("").take(500))
        c = c.getCause
      }
    }
    spark.stop()
  }
}
