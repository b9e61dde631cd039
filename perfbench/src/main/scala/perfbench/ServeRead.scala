package perfbench

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.api.VectorDb
import graft.functions.Embedder
import graft.model.GraftConfig

/** `serve_read`: six libraries, one per index type, each holding the
  * same seeded corpus; four closed-loop clients search them round-robin
  * over HTTP. */
final class ServeRead(spark: SparkSession, seed: Long) extends Serve(spark, seed) {
  val types: Vector[String] = Vector("exact", "lsh", "ivf", "hnsw", "ivfpq", "binary")
  val corpusSize = 2000
  val docsPerLibrary = 4

  final class Lib(val kind: String, val id: String, val rows: Vector[Truth.Row])

  private val payload = Corpus.chunks(seed, "serve_read", corpusSize)
  private val vectors = Embedder.default.embed(payload.map(_._1)).toVector
  private var libs: Vector[Lib] = Vector.empty
  var buildSeconds: Map[String, Double] = Map.empty

  def setup(rep: Int): Unit = {
    serve(new VectorDb(spark, new TimedEmbedder(Embedder.default)))
    val per = corpusSize / docsPerLibrary
    libs = types.map { t =>
      val lib = db.createLibrary(s"read-$t", indexType = t).toOption.get
      val ids = (0 until docsPerLibrary).flatMap { d =>
        val doc = db.createDocument(lib.id, s"doc-$d").toOption.get
        db.catalog.createChunks(doc.id, payload.slice(d * per, (d + 1) * per)).toOption.get.map(_.id)
      }
      new Lib(t, lib.id, ids.indices.map(i => Truth.Row(ids(i), vectors(i), payload(i)._2)).toVector)
    }
    db.catalog.compact()
    val c = new Client(api.boundPort, timeoutS = 600)
    buildSeconds = libs.map { l =>
      val r = c.call("POST", s"/api/v1/libraries/${l.id}/index?index_type=${l.kind}")
      require(r.ok, s"index build failed for ${l.kind}: ${r.status} ${r.body}")
      l.kind -> r.clientMs / 1000.0
    }.toMap
    // warm-up: one search per library, so lazy state is built before timing
    perClient { i =>
      val wc = new Client(api.boundPort)
      libs.indices.filter(_ % clients == i).foreach(j => require(wc.call("POST",
        s"/api/v1/search/libraries/${libs(j).id}", Client.searchBody(Corpus.Query("spark table", Map.empty), k)).ok))
    }
  }

  def httpPhase(seconds: Double, stream: String): (Seq[Sample], Double) = closedLoop(seconds) { (c, t0, running) =>
    val client = new Client(api.boundPort)
    val qs = Corpus.queries(Corpus.rng(seed, s"serve_read.$stream", c))
    val out = ArrayBuffer.empty[Sample]
    var i = c
    while (running()) {
      val lib = libs(i % libs.size)
      i += 1
      val q = qs.next()
      val start = nowMs - t0
      val rep = client.call("POST", s"/api/v1/search/libraries/${lib.id}", Client.searchBody(q, k))
      val ok = rep.ok && scala.util.Try(Client.hits(rep.json).size <= k).getOrElse(false)
      out += Sample("search", lib.kind, start, rep.clientMs, rep.serverMs, ok, rep.body.length)
    }
    out.toSeq
  }

  /** The exact library must return the brute-force top-k on a fixed
    * sample of queries, a quarter of them filtered. */
  def check(out: ObjectNode): (Int, Seq[String]) = {
    val exact = libs.find(_.kind == "exact").get
    val client = new Client(api.boundPort)
    val r = Corpus.rng(seed, "serve_read.check")
    val queries = (0 until 8).map(i => Corpus.query(r, filtered = i % 4 == 0))
    val failures = queries.flatMap { q =>
      val rep = client.call("POST", s"/api/v1/search/libraries/${exact.id}", Client.searchBody(q, k))
      val want = Truth.topK(exact.rows, Embedder.default.embedOne(q.text), q.filters, k)
      if (!rep.ok) Some(s"exact search '${q.text}' returned ${rep.status}")
      else if (!Truth.sameTopK(Client.hits(rep.json), want))
        Some(s"exact search '${q.text}' ${q.filters} differs from brute force")
      else None
    }
    (queries.size, failures)
  }

  /** Driver-side work the index does per query, called as the search
    * service would call it. */
  private def indexWork(lib: Lib): Array[Float] => Unit = {
    val st = db.catalog.indexState(lib.id).get
    lib.kind match {
      case "lsh" =>
        val flips = GraftConfig.lshActivePreset.map(_.flips).getOrElse(GraftConfig.lshMultiProbeFlips)
        v => st.lsh.get.multiProbeBucketsOf(v, flips)
      case "ivf" => v => st.ivf.get.probe(v)
      case "hnsw" => v => st.hnsw.get.graph.search(v, math.max(4 * k, 50), ef = math.max(100, math.max(4 * k, 50)))
      case "ivfpq" => v => st.ivfpq.get.candidatesWith(v, GraftConfig.ivfNprobe, math.max(4 * k, 50))
      case "binary" => v => graft.index.BinaryQuant.pack(v)
      case _ => _ => ()
    }
  }

  /** Candidate rows handed to the exact rerank, per result returned. */
  private def candidatesPerResult(lib: Lib, q: Corpus.Query): Double = {
    val v = Embedder.default.embedOne(q.text)
    val st = db.catalog.indexState(lib.id).get
    val universe = db.catalog.chunksFiltered(lib.id, q.filters).count()
    val fetch = math.max(4 * k, 50)
    val candidates: Long = lib.kind match {
      case "lsh" =>
        val flips = GraftConfig.lshActivePreset.map(_.flips).getOrElse(GraftConfig.lshMultiProbeFlips)
        val n = st.lsh.get.multiProbeCandidates(st.signatures.get, v, flips).count()
        if (n == 0) universe else n
      case "ivf" => st.ivf.get.candidates(st.assigned.get, v).count()
      case "hnsw" => fetch
      case "ivfpq" => st.ivfpq.get.candidatesWith(v, GraftConfig.ivfNprobe, fetch).count()
      case "binary" =>
        val n = st.sigCount.getOrElse(st.signatures.get.count())
        math.max(math.max(4 * k, 64), math.ceil(n * GraftConfig.binaryCandidateFraction).toLong)
      case _ => universe
    }
    val results = db.search(lib.id, graft.model.SearchQuery(Some(q.text), None, k, q.filters))
      .toOption.get.results.size
    candidates.toDouble / math.max(results, 1)
  }

  def tracedPhase(seconds: Double, probe: Probe, out: ObjectNode): Unit = {
    val work = libs.map(l => l.id -> indexWork(l)).toMap
    val arr = out.putArray("requests")
    val (recs, elapsed) = closedLoop(seconds) { (c, t0, running) =>
      val qs = Corpus.queries(Corpus.rng(seed, "serve_read.traced", c))
      val done = ArrayBuffer.empty[(Span, Lib, Double, Long, Corpus.Query, Seq[String])]
      var i = c
      while (running()) {
        val lib = libs(i % libs.size)
        i += 1
        val q = qs.next()
        val start = nowMs - t0
        val (resp, span, bytes) = tracedSearch(lib.id, q, work(lib.id))
        done += ((span, lib, start, bytes, q, resp.results.map(_.chunk.id)))
      }
      done.toSeq
    }
    // recall against brute force, computed after the phase so it does
    // not hold up the callers
    recs.sortBy(_._3).foreach { case (span, lib, start, bytes, q, got) =>
      val want = Truth.topK(lib.rows, Embedder.default.embedOne(q.text), q.filters, k).map(_._1)
      record(arr, span, lib.kind, start, ok = true, bytes).put("recall", Truth.recall(got, want))
    }
    out.put("elapsed_s", elapsed)
    finishRecords(arr, probe)
    out.put("base_partitions_end", basePartitions())
    val r = Corpus.rng(seed, "serve_read.candidates")
    val cands = out.putObject("candidates_per_result")
    libs.foreach { l =>
      val qs = Seq(Corpus.query(r), Corpus.query(r, filtered = true))
      cands.put(l.kind, qs.map(candidatesPerResult(l, _)).sum / qs.size)
    }
  }
}
