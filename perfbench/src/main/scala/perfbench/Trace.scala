package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is 0 for the run span. Times are epoch
  * milliseconds, the clock Spark's listener events carry. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double) {
  def durS: Double = (endMs - startMs) / 1000.0
}

/** Named counters of one op. Listener threads and the driver thread both
  * write, so every access is synchronized. */
final class Stats {
  private val m = mutable.LinkedHashMap[String, Double]()
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def max(k: String, v: Double): Unit = synchronized { m(k) = math.max(m.getOrElse(k, 0.0), v) }
  def snapshot: Map[String, Double] = synchronized { m.toMap }
}

/** The counters and span of one traced op. */
final class OpTrace(val spanId: Long, val group: String) { val stats = new Stats }

/** Spans and per-op counters for the traced passes. The listeners are
  * attached only around traced passes; end-to-end metrics always come
  * from passes that run without them. */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  def newId(): Long = ids.incrementAndGet()
  private val spans = mutable.ArrayBuffer[Span]()
  def record(s: Span): Unit = spans.synchronized { spans += s }
  def allSpans: Seq[Span] = spans.synchronized { spans.toList }

  /** The op whose events the listeners are receiving. The driver waits
    * for the listener bus before it moves on, so no event of one op is
    * delivered while the next is current. */
  @volatile private var current: OpTrace = null
  private val byGroup = new ConcurrentHashMap[String, OpTrace]()
  def begin(spanId: Long, group: String): OpTrace = {
    val op = new OpTrace(spanId, group)
    byGroup.put(group, op)
    current = op
    op
  }
  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def end(op: OpTrace): Unit = {
    drain()
    lastState.values.foreach { case (rows, mem) =>
      op.stats.add("streaming.state_rows", rows)
      op.stats.add("streaming.state_mem_mb", mem / 1048576.0)
    }
    lastState.clear()
    byGroup.remove(op.group)
    current = null
  }

  private final case class OpenJob(op: OpTrace, spanId: Long, startMs: Long)
  private val jobs = new ConcurrentHashMap[Int, OpenJob]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private def opOfStage(stageId: Int): Option[OpTrace] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))
      .map(_.op).orElse(Option(current))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      group.flatMap(g => Option(byGroup.get(g))).orElse(Option(current))
        .foreach { op =>
          op.stats.add("exec.jobs", 1)
          jobs.put(e.jobId, OpenJob(op, newId(), e.time))
          e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { j =>
        record(Span(j.spanId, j.op.spanId, "job", s"job ${e.jobId}",
          j.startMs, e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val job = Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j)))
      job.map(_.op).orElse(Option(current)).foreach { op =>
        op.stats.add("exec.stages", 1)
        for (t0 <- info.submissionTime; t1 <- info.completionTime)
          record(Span(newId(), job.map(_.spanId).getOrElse(op.spanId), "stage",
            s"stage ${info.stageId}.${info.attemptNumber()} ${info.name.takeWhile(_ != ' ')}",
            t0, t1))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      opOfStage(e.stageId).foreach { op =>
        val s = op.stats
        s.add("exec.tasks", 1)
        if (e.taskInfo.failed || e.taskInfo.killed) s.add("exec.failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          s.add("exec.task_run_s", m.executorRunTime / 1e3)
          s.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
          s.add("exec.gc_s", m.jvmGCTime / 1e3)
          s.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
          s.add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
          s.add("exec.spill_mb", m.diskBytesSpilled / 1048576.0)
          s.add("exec.input_mb", m.inputMetrics.bytesRead / 1048576.0)
          s.add("exec.input_records", m.inputMetrics.recordsRead.toDouble)
          s.max("exec.max_task_records",
            (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead).toDouble)
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Option(current).foreach { op =>
      qe.tracker.phases.foreach { case (phase, p) =>
        op.stats.add(s"driver.${phase}_s", p.durationMs / 1e3)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  /** Last reported (state rows, state bytes) of each streaming query. */
  private val lastState = new ConcurrentHashMap[java.util.UUID, (Double, Double)]().asScala
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Option(current).foreach(_.stats.add("streaming.queries", 1))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(current).foreach { op =>
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1e3 }
        val s = op.stats
        s.add("streaming.batches", 1)
        if (p.numInputRows == 0) s.add("streaming.empty_batches", 1)
        s.add("streaming.trigger_s", d.getOrElse("triggerExecution", 0.0))
        s.add("streaming.add_batch_s", d.getOrElse("addBatch", 0.0))
        s.add("streaming.commit_s",
          d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
        s.add("streaming.planning_s", d.getOrElse("queryPlanning", 0.0))
        lastState(p.id) = (p.stateOperators.map(_.numRowsTotal.toDouble).sum,
          p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

/** Janino compiles of the whole JVM: an exact count. Spark keeps compile
  * times only in a decaying-reservoir histogram, whose mean favours
  * recent compiles, so no compile time is reported. */
object Codegen {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Process-wide file I/O from /proc/self/io (bytes read and written
  * through read/write system calls, page cache included). */
object ProcIo {
  private def lines(path: String): Seq[String] = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isReadable(p))
      java.nio.file.Files.readAllLines(p).toArray.toSeq.map(_.toString)
    else Nil
  }
  def counters(): (Long, Long) = {
    val kv = lines("/proc/self/io").flatMap { l =>
      l.split(":\\s*") match {
        case Array(k, v) => Some(k -> v.trim.toLong)
        case _ => None
      }
    }.toMap
    (kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
  }
  def peakRssMb(): Double =
    lines("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}
