package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch-nanosecond clock with `nanoTime` resolution, so spans taken on
  * the client thread line up with Spark's epoch-millisecond event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epoch0 + (System.nanoTime() - nano0)
}

/** One traced interval, in epoch nanoseconds. `parent` is the id of the
  * span that caused it; plan spans carry no parent and are attributed
  * later to the client span whose interval contains them. */
final case class Span(id: String, parent: String, request: Long, layer: String,
                      start: Long, end: Long, counts: Map[String, Double] = Map.empty) {
  def toJson: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "request" -> request, "layer" -> layer, "start" -> start, "end" -> end,
    "counts" -> counts)
}

/** The request -> client span -> plan / Spark job -> stage tree of a
  * traced run. Client spans come from [[Ctx]]; jobs and stages from a
  * `SparkListener`; analysis, optimization and planning phases from a
  * `QueryExecutionListener`. Jobs find their parent through local
  * properties set on the client thread, stages through their job. */
final class Tracer(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, (String, Long, Long)]() // id -> (parent, request, start ns)
  private val stageJob = new ConcurrentHashMap[Int, Integer]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).map(_.getProperty(Tracer.SpanProp)).orNull
      if (parent != null) {
        val req = e.properties.getProperty(Tracer.RequestProp).toLong
        jobs.put(e.jobId, (parent, req, e.time * 1000000L))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { case (parent, req, start) =>
        spans.add(Span(s"j${e.jobId}", parent, req, "job", start, e.time * 1000000L))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      for {
        job <- Option(stageJob.get(info.stageId))
        (_, req, _) <- Option(jobs.get(job.intValue))
        sub <- info.submissionTime
        done <- info.completionTime
      } {
        val m = info.taskMetrics
        val counts: Map[String, Double] = if (m == null) Map("tasks" -> info.numTasks.toDouble)
        else Map(
          "tasks" -> info.numTasks.toDouble,
          "run_s" -> m.executorRunTime / 1e3,
          "cpu_s" -> m.executorCpuTime / 1e9,
          "gc_s" -> m.jvmGCTime / 1e3,
          "input_rows" -> m.inputMetrics.recordsRead.toDouble,
          "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / 1e6,
          "shuffle_read_mb" -> m.shuffleReadMetrics.totalBytesRead / 1e6,
          "fetch_wait_s" -> m.shuffleReadMetrics.fetchWaitTime / 1e3,
          "spill_mb" -> (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        spans.add(Span(s"s${info.stageId}.${info.attemptNumber()}", s"j$job", req,
          "stage", sub * 1000000L, done * 1000000L, counts))
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        spans.add(Span(s"p${qe.id}.$phase", null, -1L, s"plan.$phase",
          s.startTimeMs * 1000000L, s.endTimeMs * 1000000L))
      }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  /** Waits until every event posted so far has been delivered, then
    * detaches the listeners. */
  def stop(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Tracer {
  val SpanProp = "graftbench.span"
  val RequestProp = "graftbench.request"
}

/** What ran during a call: the call sites of every job started and the
  * physical plan of every SQL execution. The check pass looks here for
  * a dense-kernel request's `kernel` text. */
final class PathProbe(spark: SparkSession) {
  private val seen = new ConcurrentLinkedQueue[String]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      e.stageInfos.foreach { s => seen.add(s.name); seen.add(s.details) }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => seen.add(x.physicalPlanDescription)
      case _ => ()
    }
  }

  /** Runs `body`; returns its result and the text of what ran inside it. */
  def observe[T](body: => T): (T, String) = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.BenchBus.drain(sc)
      (out, seen.asScala.mkString("\n"))
    } finally {
      sc.removeSparkListener(listener)
      seen.clear()
    }
  }
}

/** What a request sees of the runner: named client spans around each
  * call into a layer, and counts it reports itself. Untraced, `span`
  * only runs the body. */
final class Ctx(spark: SparkSession, val request: Long, traced: Boolean) {
  val spans = scala.collection.mutable.ArrayBuffer[Span]()
  val counts = scala.collection.mutable.Map[String, Double]()
  private var seq = 0

  def span[T](layer: String)(body: => T): T =
    if (!traced) body
    else {
      seq += 1
      val id = s"c$request.$seq"
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.SpanProp, id)
      sc.setLocalProperty(Tracer.RequestProp, request.toString)
      val t0 = Clock.now()
      try body
      finally {
        spans += Span(id, s"r$request", request, layer, t0, Clock.now())
        sc.setLocalProperty(Tracer.SpanProp, null)
        sc.setLocalProperty(Tracer.RequestProp, null)
      }
    }

  def count(name: String, v: Double): Unit = counts(name) = counts.getOrElse(name, 0.0) + v
}
