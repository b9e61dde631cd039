package perfbench

import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.SparkSession

import graft.api.{HttpApi, JsonCodec, VectorDb}
import graft.functions.Embedder
import graft.model.{SearchQuery, SearchResponse}

/** What the serving workloads share: closed-loop callers, the traced
  * search request, brute-force ground truth and the raw-result JSON. */
abstract class Serve(val spark: SparkSession, val seed: Long) {
  val clients: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  val k = 10
  protected val reqIds = new AtomicLong(0)
  protected var db: VectorDb = _
  protected var api: HttpApi = _

  /** Builds the workload's state from nothing; returns nothing, is timed
    * by the caller. Repeated runs start over. */
  def setup(rep: Int): Unit
  /** Sends the workload's mix over HTTP for `seconds`, drawing inputs
    * from the seeded stream named `stream`. */
  def httpPhase(seconds: Double, stream: String): (Seq[Sample], Double)
  /** Output checks after the HTTP phase: (attempted, failure messages). */
  def check(out: ObjectNode): (Int, Seq[String])
  /** The same mix in-process, each call a traced request. */
  def tracedPhase(seconds: Double, probe: Probe, out: ObjectNode): Unit

  /** Runs `f` once per client, each on its own thread. */
  protected def perClient[A](f: Int => A): Seq[A] = {
    val results = new Array[Any](clients)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() =>
        try results(c) = f(c)
        catch { case e: Throwable => errors.add(e) }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    results.toSeq.map(_.asInstanceOf[A])
  }

  /** Runs one closed-loop caller per client until `seconds` pass;
    * returns every caller's results and the phase's wall time. A
    * caller gets its index, the phase start (ms) and a still-running test. */
  protected def closedLoop[A](seconds: Double)(caller: (Int, Double, () => Boolean) => Seq[A]): (Seq[A], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val results = perClient(c => caller(c, t0 / 1e6, () => System.nanoTime() < deadline))
    (results.flatten, (System.nanoTime() - t0) / 1e9)
  }

  protected def nowMs: Double = System.nanoTime() / 1e6

  /** One search as a traced request: the catalog view and the index's
    * driver-side work are timed beside the search call, which embeds
    * (child span `embed`) and runs the Spark jobs; then the response is
    * encoded as the HTTP layer would. */
  protected def tracedSearch(libId: String, q: Corpus.Query,
      indexWork: Array[Float] => Unit): (SearchResponse, Span, Long) = {
    val req = reqIds.incrementAndGet()
    val sq = SearchQuery(queryText = Some(q.text), k = k, metadataFilters = q.filters)
    val sc = spark.sparkContext
    val ((resp, bytes), span) = Trace.request(req, "search") {
      sc.setLocalProperty(Probe.OpKey, req.toString)
      try {
        Trace.child("catalog.view")(db.catalog.chunksFiltered(libId, q.filters))
        val vec = Embedder.default.embedOne(q.text)
        Trace.child("index.driver")(indexWork(vec))
        val resp = Trace.child("search.service")(db.search(libId, sq))
          .getOrElse(throw new IllegalStateException(s"search failed on $libId"))
        val json = Trace.child("api.encode")(JsonCodec.searchResponseJson(resp, Some(sq)))
        (resp, json.length.toLong)
      } finally sc.setLocalProperty(Probe.OpKey, null)
    }
    (resp, span, bytes)
  }

  /** A traced write/read call, charged to its own request. */
  protected def tracedCall[A](name: String)(body: => A): (A, Span) = {
    val req = reqIds.incrementAndGet()
    val sc = spark.sparkContext
    Trace.request(req, name) {
      sc.setLocalProperty(Probe.OpKey, req.toString)
      try body
      finally sc.setLocalProperty(Probe.OpKey, null)
    }
  }

  /** One traced-request record: wall time, child spans, Spark work. */
  protected def record(arr: ArrayNode, span: Span, kind: String, startMs: Double,
      ok: Boolean, bytes: Long): ObjectNode = {
    val o = arr.addObject()
    o.put("req", span.req)
    o.put("op", span.name)
    o.put("kind", kind)
    o.put("start_ms", startMs)
    o.put("wall_ms", span.ms)
    o.put("ok", ok)
    o.put("bytes", bytes)
    o
  }

  /** Adds each request's child-span times and Spark work, once all
    * requests are done and the listener bus has drained. */
  protected def finishRecords(arr: ArrayNode, probe: Probe): Unit = {
    Probe.settle()
    val children = scala.jdk.CollectionConverters.CollectionHasAsScala(Trace.spans).asScala
      .filter(_.parent.nonEmpty).groupBy(_.req)
    (0 until arr.size()).foreach { i =>
      val o = arr.get(i).asInstanceOf[ObjectNode]
      val req = o.get("req").asLong()
      val spans = o.putObject("spans")
      children.getOrElse(req, Nil).groupBy(_.name).foreach { case (n, ss) =>
        spans.put(n, ss.map(_.ms).sum)
      }
      val w = probe.workOf(req.toString)
      o.put("jobs", w.jobs)
      o.put("stages", w.stages)
      o.put("tasks", w.tasks)
      o.put("cpu_ms", w.cpuNs / 1e6)
      o.put("plan_ms", w.planMs)
      o.put("job_ms", w.jobMs)
    }
  }

  /** Opens `next` as the workload's engine behind a fresh HTTP server,
    * dropping the previous repetition's server and cached data. */
  protected def serve(next: VectorDb): Unit = {
    if (api != null) { api.stop(); releaseCaches() }
    db = next
    api = new HttpApi(db, 0)
    api.start()
  }

  def close(): Unit = if (api != null) api.stop()

  /** Partitions of the chunk table's base: the read view's partitions
    * minus those of the driver-side write buffer's local scan. */
  def basePartitions(): Int = {
    val view = db.catalog.chunks
    val local = view.queryExecution.sparkPlan.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l.execute().getNumPartitions
    }.sum
    view.rdd.getNumPartitions - local
  }

  /** Drops a discarded repetition's cached and checkpointed data. */
  protected def releaseCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** Exact top-k over the generated corpus, computed by the benchmark. */
object Truth {
  final case class Row(id: String, vec: Array[Float], meta: Map[String, String])

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** (id, score) by descending score then ascending id. */
  def topK(rows: Iterable[Row], q: Array[Float], filters: Map[String, String], k: Int): Vector[(String, Double)] =
    rows.iterator.filter(r => filters.forall { case (key, v) => r.meta.get(key).contains(v) })
      .map(r => (r.id, cosine(r.vec, q))).toVector
      .sortBy { case (id, s) => (-s, id) }.take(k)

  /** Whether `got` is the exact answer: the same scores rank by rank,
    * and the same ids except among scores tied (within `eps`) with the
    * k-th, where either of the tied rows is a correct answer. */
  def sameTopK(got: Seq[(String, Double)], want: Seq[(String, Double)], eps: Double = 1e-6): Boolean =
    got.size == want.size && got.map(_._1).distinct.size == got.size &&
      got.zip(want).forall { case ((_, gs), (_, ws)) => math.abs(gs - ws) <= eps } &&
      got.forall { case (id, s) => want.exists(_._1 == id) || math.abs(s - want.last._2) <= eps }

  def recall(got: Seq[String], want: Seq[String]): Double =
    if (want.isEmpty) 1.0 else got.count(want.toSet).toDouble / want.size
}

object Serve {
  def samplesJson(out: ObjectNode, name: String, samples: Seq[Sample], elapsed: Double): Unit = {
    val ph = out.putObject(name)
    ph.put("elapsed_s", elapsed)
    val arr = ph.putArray("samples")
    samples.sortBy(_.startMs).foreach { s =>
      val a = arr.addArray()
      a.add(s.op); a.add(s.kind); a.add(s.startMs); a.add(s.clientMs)
      if (s.serverMs.isNaN) a.addNull() else a.add(s.serverMs)
      a.add(s.ok); a.add(s.bytes)
    }
  }
}
