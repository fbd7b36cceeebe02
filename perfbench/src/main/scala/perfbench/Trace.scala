package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds, so the runner's
  * own spans line up with the times Spark stamps on listener events.
  * `counts` carries the work measured at the span's boundary.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, end: Long, counts: Map[String, Double] = Map.empty)

/** In-memory span and event store fed by three listeners registered from
  * outside the library: a SparkListener (jobs, stages, tasks, block
  * updates), a QueryExecutionListener (Catalyst phase times per SQL
  * execution) and a StreamingQueryListener (micro-batch progress).
  *
  * Jobs find their parent span through the `perfbench.span` local
  * property the runner sets around each `entry` and `exec` call; jobs
  * submitted from threads that did not inherit it are parented by time.
  * Everything stays in memory until [[Trace.write]] at the end of a run.
  */
final class Trace {
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  /** (time ms, kind, values) for events that are not intervals. */
  val points = new ConcurrentLinkedQueue[(Long, String, Map[String, Double])]()

  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageCounts =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), scala.collection.mutable.Map[String, Double]]()

  def nextId(): Long = ids.incrementAndGet()

  /** Run `body` inside a new span; `body` gets the span id and returns
    * the counts to attach at its end boundary. */
  def span(parent: Long, kind: String, name: String)(body: Long => Map[String, Double]): Unit = {
    val id = nextId()
    val t0 = System.currentTimeMillis()
    var counts = Map.empty[String, Double]
    try counts = body(id)
    finally spans.add(Span(id, parent, kind, name, t0, System.currentTimeMillis(), counts))
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
        .map(_.toLong).getOrElse(-1L)
      val job = Span(nextId(), parent, "job", s"job ${e.jobId}", e.time, -1L)
      openJobs.put(e.jobId, job)
      e.stageIds.foreach(s => stageJob.put(s, job.id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { job =>
        val failed = if (e.jobResult == JobSucceeded) 0.0 else 1.0
        spans.add(job.copy(end = e.time, counts = Map("failed" -> failed)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val key = (i.stageId, i.attemptNumber())
      val c = Option(stageCounts.remove(key)).map(_.toMap).getOrElse(Map.empty[String, Double])
      val parent = Option(stageJob.get(i.stageId)).map(_.longValue).getOrElse(-1L)
      spans.add(Span(nextId(), parent, "stage", s"stage ${i.stageId}.${i.attemptNumber()}",
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        c + ("tasks" -> i.numTasks.toDouble)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = stageCounts.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => scala.collection.mutable.Map.empty[String, Double])
      def add(k: String, v: Double): Unit = c.synchronized { c(k) = c.getOrElse(k, 0.0) + v }
      if (!e.taskInfo.successful) add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("run_ms", m.executorRunTime.toDouble)
        add("cpu_ns", m.executorCpuTime.toDouble)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("shuffle_read_b", (m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead).toDouble)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill_b", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
        add("read_b", m.inputMetrics.bytesRead.toDouble)
        add("read_rows", m.inputMetrics.recordsRead.toDouble)
        add("write_b", m.outputMetrics.bytesWritten.toDouble)
        add("write_rows", m.outputMetrics.recordsWritten.toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        points.add((System.currentTimeMillis(), "block",
          Map("stored_b" -> (b.memSize + b.diskSize).toDouble)))
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String): Double = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      points.add((System.currentTimeMillis(), "sql",
        Map("analysis_ms" -> d("analysis"), "optimization_ms" -> d("optimization"),
          "planning_ms" -> d("planning"))))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val ops = p.stateOperators.toSeq
      points.add((System.currentTimeMillis(), "batch", Map(
        "trigger_ms" -> d("triggerExecution"), "add_batch_ms" -> d("addBatch"),
        "wal_commit_ms" -> (d("walCommit") + d("commitOffsets")),
        "state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
        "state_rows" -> ops.map(_.numRowsTotal.toDouble).sum,
        "state_mem_b" -> ops.map(_.memoryUsedBytes.toDouble).sum)))
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Spans and points as JSON lines, for offline inspection. */
  def write(file: java.io.File): Unit = {
    val pw = new java.io.PrintWriter(file, "UTF-8")
    def m(c: Map[String, Double]) = c.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    try {
      spans.asScala.toSeq.sortBy(s => (s.start, s.id)).foreach { s =>
        pw.println(s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${Json.esc(s.name)}","start":${s.start},"end":${s.end},"counts":${m(s.counts)}}""")
      }
      points.asScala.toSeq.sortBy(_._1).foreach { case (t, k, c) =>
        pw.println(s"""{"time":$t,"kind":"$k","counts":${m(c)}}""")
      }
    } finally pw.close()
  }
}

object Trace {
  val SpanProp = "perfbench.span"
}
