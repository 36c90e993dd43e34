package perfbench

import scala.collection.mutable

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recording for the traced passes, from Spark's public listener
  * interfaces only: task and stage ends (operators, sources, sinks), job
  * starts and ends (materialization at DataFrame build time), each action's
  * `QueryExecution.tracker` phases (Catalyst analysis, optimization and
  * planning) and streaming progress (micro-batches).
  *
  * [[query]] closes one query: it drains the listener bus, then files
  * everything that arrived into spans, each with a parent:
  * query -> build | execute -> phase | job. Spans stay in memory until
  * [[spansJson]].
  */
final class Tracer(spark: SparkSession) {
  private final case class Span(id: Int, parent: Int, name: String, query: String,
                                startMs: Long, endMs: Long)
  private val spans = mutable.ArrayBuffer[Span]()
  private val sum = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val skews = mutable.ArrayBuffer[Double]()
  private val batchMs = mutable.ArrayBuffer[Double]()

  // filled on the listener bus thread, drained by query()
  private val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  private val jobs = mutable.ArrayBuffer[(Long, Long)]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageTasks = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  private def add(k: String, v: Double): Unit = sum(k) += v

  private val sparkListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      add("operators.tasks", 1)
      if (m != null) {
        add("sources.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
        add("sinks.output_mb", m.outputMetrics.bytesWritten / 1048576.0)
        add("sinks.output_rows", m.outputMetrics.recordsWritten.toDouble)
        add("operators.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("operators.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("operators.shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add("operators.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        add("operators.executor_run_s", m.executorRunTime / 1e3)
        add("operators.executor_cpu_s", m.executorCpuTime / 1e9)
      }
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer()) +=
        e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        add("operators.stages", 1)
        stageTasks.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { ts =>
          if (ts.size >= 2) {
            val s = ts.sorted
            skews += s.last.toDouble / s(s.size / 2).max(1L)
          }
        }
      }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized { jobStart(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobs += (t0 -> e.time))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) => phases += ((name, p.startTimeMs, p.endTimeMs)) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        add("streaming.batches", 1)
        batchMs += ms("triggerExecution")
        add("streaming.commit_ms", ms("walCommit") + ms("commitOffsets"))
        add("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      }
  }

  /** Registers the listeners; passes run between attach and detach are traced. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Files one query's events. `m0..m2` are wall-clock ms at the query's
    * start, end of build and end of execution.
    */
  def query(q: String, m0: Long, m1: Long, m2: Long, buildS: Double, execS: Double): Unit = {
    ListenerDrain(spark.sparkContext)
    val sc = spark.sparkContext
    val storageMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    val rddsLeft = sc.getPersistentRDDs.size
    synchronized {
      def span(parent: Int, name: String, s: Long, e: Long): Int = {
        val id = spans.size + 1
        spans += Span(id, parent, name, q, s, e); id
      }
      val root = span(0, "query", m0, m2)
      val build = span(root, "build", m0, m1)
      val exec = span(root, "execute", m1, m2)
      add("plan.build_s", buildS)
      add("trace.query_s", buildS + execS)
      phases.foreach { case (name, s, e) =>
        val inBuild = s < m1
        span(if (inBuild) build else exec, s"phase.$name", s, e)
        if (!inBuild) add(s"plan.${name}_s", (e - s) / 1e3)
      }
      jobs.foreach { case (s, e) =>
        val inBuild = s < m1
        span(if (inBuild) build else exec, "job", s, e)
        if (inBuild) {
          add("materialization.build_jobs", 1)
          add("materialization.build_job_s", (e - s) / 1e3)
        }
      }
      phases.clear(); jobs.clear()
      sum("materialization.storage_mb_peak") = sum("materialization.storage_mb_peak").max(storageMb)
      add("materialization.rdds_left", rddsLeft)
    }
  }

  /** Per-layer metrics, sums divided by the number of traced passes. */
  def layers(passes: Int): Map[String, Double] = synchronized {
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
    val perPass = sum.toMap.map {
      case (k @ "materialization.storage_mb_peak", v) => k -> v
      case (k, v) => k -> v / passes
    }
    val names = Seq("plan.build_s", "plan.analysis_s", "plan.optimization_s",
      "plan.planning_s", "sources.input_mb", "sources.input_rows",
      "operators.shuffle_write_mb", "operators.shuffle_read_mb",
      "operators.shuffle_records", "operators.stages", "operators.tasks",
      "operators.spill_mb", "operators.executor_run_s", "operators.executor_cpu_s",
      "materialization.build_jobs", "materialization.build_job_s",
      "materialization.storage_mb_peak", "materialization.rdds_left",
      "streaming.batches", "streaming.commit_ms", "streaming.state_rows",
      "sinks.output_mb", "sinks.output_rows")
    val base = names.map(n => n -> perPass.getOrElse(n, 0.0)).toMap
    val driver = base("plan.build_s") - base("materialization.build_job_s") +
      base("plan.analysis_s") + base("plan.optimization_s") + base("plan.planning_s")
    val total = perPass.getOrElse("trace.query_s", 0.0)
    base ++ Map(
      "plan.share" -> (if (total > 0) driver / total else 0.0),
      "operators.task_skew" -> median(skews.toSeq),
      "streaming.batch_ms_p50" -> median(batchMs.toSeq))
  }

  def spansJson(): String = synchronized {
    spans.map { s =>
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "query" -> s.query, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
