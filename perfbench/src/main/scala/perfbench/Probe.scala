package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

import graft.functions.Embedder

/** Spark work attributed to one traced request. */
final class SparkWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var planMs = 0.0
  val jobSpans = ArrayBuffer.empty[(Long, Long)] // (start, end) epoch ms
  /** Time any of the request's jobs was running, in ms. */
  def jobMs: Double = {
    var covered = 0L
    var reach = Long.MinValue
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) { covered += e - from; reach = e }
    }
    covered.toDouble
  }
}

/** Benchmark-registered Spark listener. A traced request sets the
  * local property [[Probe.OpKey]] on its calling thread; every job,
  * stage and task it starts, and the planning time of every query
  * execution those jobs belong to, is charged to that request. Every
  * job is also counted by call site, which is how compaction's
  * `localCheckpoint` shows up when a write triggers it. */
final class Probe extends SparkListener {
  private val byReq = new ConcurrentHashMap[String, SparkWork]()
  private val stageReq = new ConcurrentHashMap[Int, String]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, String, Long)]() // req, call site, start
  private val execReq = new ConcurrentHashMap[Long, String]()
  private val planByExec = new ConcurrentHashMap[Long, Double]()
  /** (call site, duration ms) of every finished job. */
  val jobs = new ConcurrentLinkedQueue[(String, Long)]()

  private def work(req: String) = byReq.computeIfAbsent(req, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val req = Option(e.properties).map(_.getProperty(Probe.OpKey)).orNull
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobInfo.put(e.jobId, (req, site, e.time))
    if (req != null) {
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .flatMap(_.toLongOption).foreach(execReq.put(_, req))
      val w = work(req)
      w.synchronized(w.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (req, site, start) =>
      jobs.add((site, e.time - start))
      if (req != null) { val w = work(req); w.synchronized(w.jobSpans += ((start, e.time))) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Probe.OpKey))).foreach { req =>
      stageReq.put(e.stageInfo.stageId, req)
      val w = work(req)
      w.synchronized(w.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageReq.get(e.stageId)).foreach { req =>
      val w = work(req)
      val cpu = Option(e.taskMetrics).map(_.executorCpuTime).getOrElse(0L)
      w.synchronized { w.tasks += 1; w.cpuNs += cpu }
    }

  /** Planning time comes from the `QueryExecution` that the
    * execution-end event carries (the same object a
    * `QueryExecutionListener` receives, but keyed by execution id). */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Option(classOf[SparkListenerSQLExecutionEnd].getMethod("qe").invoke(end))
        .foreach(qe => planByExec.put(end.executionId, Probe.planMs(qe.asInstanceOf[QueryExecution])))
    case _ =>
  }

  /** The Spark work charged to `req`, with planning time folded in. */
  def workOf(req: String): SparkWork = {
    val w = work(req)
    w.planMs = execReq.asScala.collect { case (id, r) if r == req => id }
      .map(id => planByExec.getOrDefault(id, 0.0)).sum
    w
  }
}

object Probe {
  val OpKey = "perfbench.request"

  private def planMs(qe: QueryExecution): Double = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum.toDouble
  }

  def register(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    p
  }

  /** Listener events arrive on Spark's bus thread; give it time to drain. */
  def settle(): Unit = Thread.sleep(1500)
}

/** One traced request and its child spans, kept in memory. */
final class Span(val req: Long, val name: String, val parent: String) {
  val startNs: Long = System.nanoTime()
  var endNs: Long = startNs
  def ms: Double = (endNs - startNs) / 1e6
}

object Trace {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]()

  /** Runs `body` as the root span of request `req`. */
  def request[A](req: Long, name: String)(body: => A): (A, Span) = {
    val s = new Span(req, name, "")
    current.set(s)
    try {
      val a = body
      s.endNs = System.nanoTime()
      (a, s)
    } finally {
      current.remove()
      spans.add(s)
    }
  }

  /** Runs `body` as a child of the thread's innermost open span; a
    * no-op wrapper outside a traced request. */
  def child[A](name: String)(body: => A): A = {
    val parent = current.get()
    if (parent == null) body
    else {
      val s = new Span(parent.req, name, parent.name)
      current.set(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        current.set(parent)
        spans.add(s)
      }
    }
  }
}

/** The engine's default embedder, with each call recorded as an
  * `embed` child span of the current traced request. Outside a traced
  * request it only delegates. */
final class TimedEmbedder(inner: Embedder) extends Embedder {
  def dimension: Int = inner.dimension
  def embed(texts: Seq[String]): Seq[Array[Float]] = Trace.child("embed")(inner.embed(texts))
}
