package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.api.{HttpApi, VectorDb}
import graft.catalog.DurableCatalog
import graft.functions.Embedder

/** `serve_mixed`: one exact-indexed library on a write-ahead-logged
  * catalog, preloaded through the durable path; four closed-loop
  * clients run 40% create, 10% update, 10% delete, 20% get and 20%
  * search. The WAL flush policy is the catalog's default: one commit
  * file per mutation, no hsync. */
final class ServeMixed(spark: SparkSession, seed: Long, work: File) extends Serve(spark, seed) {
  val corpusSize = 10000
  val docs = 20
  /** Written and deleted ids each client reads back through GET. */
  val checkSample = 6

  private val payload = Corpus.chunks(seed, "serve_mixed", corpusSize)
  private var root: File = _
  private var libId: String = _
  private var docIds: Vector[String] = Vector.empty

  /** What clients were told: live id -> last text, and deleted ids.
    * Each client owns the ids it was dealt or created, so no two
    * clients race on one id and every op is expected to succeed. */
  final class Owned {
    val live = mutable.ArrayBuffer.empty[String]
    val text = mutable.HashMap.empty[String, String]
    val deleted = mutable.ArrayBuffer.empty[String]
    val touched = mutable.LinkedHashSet.empty[String]
    def pick(r: scala.util.Random): Int = r.nextInt(live.size)
    def remove(i: Int): String = {
      val id = live(i)
      live(i) = live(live.size - 1)
      live.remove(live.size - 1)
      id
    }
  }
  private var owned: Vector[Owned] = Vector.empty
  private val catalogNotes = mutable.LinkedHashMap.empty[String, Double]

  def setup(rep: Int): Unit = {
    root = new File(work, s"mixed-$rep")
    val dc = DurableCatalog.recover(spark, root.getAbsolutePath)
    libId = dc.createLibrary("mixed", indexType = "exact").toOption.get.id
    val per = corpusSize / docs
    val created = (0 until docs).map { d =>
      val doc = dc.createDocument(libId, s"doc-$d").toOption.get
      (doc.id, dc.createChunks(doc.id, payload.slice(d * per, (d + 1) * per)).toOption.get)
    }
    docIds = created.map(_._1).toVector
    // The engine replays the preload from the WAL, folds it into a
    // snapshot and compacts its write buffer into a base. Checkpointing
    // before reopening instead would hit the defect `reopenLostWrites`
    // measures.
    serve(new VectorDb(spark, new TimedEmbedder(Embedder.default), durableRoot = Some(root.getAbsolutePath)))
    db.checkpoint()
    db.catalog.compact()
    owned = Vector.fill(clients)(new Owned)
    created.flatMap(_._2).zipWithIndex.foreach { case (row, i) =>
      val o = owned(i % clients)
      o.live += row.id
      o.text(row.id) = row.text
    }
    // warm-up: each op once, on a chunk that is deleted again, so the
    // measured phase starts from the preloaded live set
    val c = new Client(api.boundPort)
    val made = c.call("POST", s"/api/v1/chunks?document_id=${docIds(0)}", Client.chunkBody("warm up", None))
    require(made.ok)
    val tmp = made.json.get("id").asText()
    require(c.call("PUT", s"/api/v1/chunks/$tmp", Client.chunkBody("warm up again", None)).ok)
    require(c.call("GET", s"/api/v1/chunks/$tmp").ok)
    require(c.call("GET", s"/api/v1/chunks/${owned(0).live(0)}").ok)
    require(c.call("DELETE", s"/api/v1/chunks/$tmp").ok)
    require(c.call("POST", s"/api/v1/search/libraries/$libId",
      Client.searchBody(Corpus.Query("spark table", Map.empty), k)).ok)
  }

  private def walStats(): (Int, Long) = {
    val files = Option(new File(root, "wal").listFiles()).getOrElse(Array.empty[File])
    (files.count(_.getName.endsWith(".json")), files.map(_.length()).sum)
  }

  private def chunkText(json: com.fasterxml.jackson.databind.JsonNode): String = json.get("text").asText()

  def httpPhase(seconds: Double, stream: String): (Seq[Sample], Double) = {
    catalogNotes("base_partitions_start") = basePartitions()
    val (files0, bytes0) = walStats()
    val res = closedLoop(seconds) { (c, t0, running) =>
      val client = new Client(api.boundPort)
      val r = Corpus.rng(seed, s"serve_mixed.$stream", c)
      val ops = Corpus.deck(r, ServeMixed.Mix)
      val qs = Corpus.queries(r)
      val me = owned(c)
      val out = mutable.ArrayBuffer.empty[Sample]
      while (running()) {
        val u = ops.next()
        val start = nowMs - t0
        val s: Sample =
          if (u == "create" || me.live.isEmpty) {
            val text = Corpus.text(r)
            val doc = docIds(r.nextInt(docIds.size))
            val rep = client.call("POST", s"/api/v1/chunks?document_id=$doc",
              Client.chunkBody(text, Some(Corpus.metadata(r))))
            if (rep.ok) {
              val id = rep.json.get("id").asText()
              me.live += id; me.text(id) = text; me.touched += id
            }
            Sample("create", "exact", start, rep.clientMs, rep.serverMs, rep.ok, rep.body.length)
          } else if (u == "update") {
            val id = me.live(me.pick(r))
            val text = Corpus.text(r)
            val rep = client.call("PUT", s"/api/v1/chunks/$id", Client.chunkBody(text, None))
            if (rep.ok) { me.text(id) = text; me.touched += id }
            Sample("update", "exact", start, rep.clientMs, rep.serverMs,
              rep.ok && chunkText(rep.json) == text, rep.body.length)
          } else if (u == "delete") {
            val i = me.pick(r)
            val id = me.live(i)
            val rep = client.call("DELETE", s"/api/v1/chunks/$id")
            if (rep.ok) { me.remove(i); me.text.remove(id); me.deleted += id; me.touched -= id }
            Sample("delete", "exact", start, rep.clientMs, rep.serverMs, rep.ok, rep.body.length)
          } else if (u == "get") {
            val id = me.live(me.pick(r))
            val rep = client.call("GET", s"/api/v1/chunks/$id")
            Sample("get", "exact", start, rep.clientMs, rep.serverMs,
              rep.ok && chunkText(rep.json) == me.text(id), rep.body.length)
          } else {
            val q = qs.next()
            val rep = client.call("POST", s"/api/v1/search/libraries/$libId", Client.searchBody(q, k))
            val ok = rep.ok && scala.util.Try(Client.hits(rep.json).size == k).getOrElse(false)
            Sample("search", "exact", start, rep.clientMs, rep.serverMs, ok, rep.body.length)
          }
        out += s
      }
      out.toSeq
    }
    val (files1, bytes1) = walStats()
    val writes = res._1.count(s => s.ok && Set("create", "update", "delete")(s.op))
    catalogNotes("writes") = writes
    catalogNotes("wal_files_per_write") = (files1 - files0).toDouble / math.max(writes, 1)
    catalogNotes("wal_bytes_per_write") = (bytes1 - bytes0).toDouble / math.max(writes, 1)
    catalogNotes("base_partitions_end") = basePartitions()
    res
  }

  /** Ids written in the run read back with their last text and
    * deleted ids are gone (a fixed sample of each, through GET), the
    * full listing equals the acknowledged live set, and a fresh
    * recovery from the run's WAL reproduces it. */
  def check(out: ObjectNode): (Int, Seq[String]) = {
    val expected: Map[String, String] = owned.flatMap(_.text).toMap
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val reads = perClient { c =>
      val client = new Client(api.boundPort)
      val me = owned(c)
      me.touched.toSeq.take(checkSample).map { id =>
        val rep = client.call("GET", s"/api/v1/chunks/$id")
        if (rep.ok && chunkText(rep.json) == me.text(id)) None else Some(s"GET $id: ${rep.status}")
      } ++ me.deleted.toSeq.take(checkSample).map { id =>
        val rep = client.call("GET", s"/api/v1/chunks/$id")
        if (rep.status == 404) None else Some(s"deleted $id: ${rep.status}")
      }
    }.flatten
    attempted += reads.size
    failures ++= reads.flatten

    val client = new Client(api.boundPort, timeoutS = 120)
    val listing = client.call("GET", s"/api/v1/chunks/library/$libId?include_embeddings=false")
    attempted += 1
    if (!listing.ok) failures += s"listing: ${listing.status}"
    else {
      val js = listing.json
      val got = (0 until js.size()).map(i => js.get(i).get("id").asText() -> js.get(i).get("text").asText()).toMap
      if (got != expected) failures += s"listing: ${got.size} chunks, expected ${expected.size}; " +
        s"${(got.toSet diff expected.toSet).size} unexpected, ${(expected.toSet diff got.toSet).size} missing"
    }

    attempted += 1
    val t0 = System.nanoTime()
    val recovered = DurableCatalog.recover(spark, root.getAbsolutePath)
    catalogNotes("recover_s") = (System.nanoTime() - t0) / 1e9
    val rec = recovered.inner.chunksByLibrary(libId).select("id", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    if (rec != expected) failures += s"recovery: ${rec.size} chunks, expected ${expected.size}; " +
      s"${(rec.toSet diff expected.toSet).size} unexpected, ${(expected.toSet diff rec.toSet).size} missing"

    val cat = out.putObject("catalog")
    catalogNotes.foreach { case (k, v) => cat.put(k, v) }
    (attempted, failures.toSeq)
  }

  def tracedPhase(seconds: Double, probe: Probe, out: ObjectNode): Unit = {
    val arr = out.putArray("requests")
    val (recs, elapsed) = closedLoop(seconds) { (c, t0, running) =>
      val r = Corpus.rng(seed, "serve_mixed.traced", c)
      val ops = Corpus.deck(r, ServeMixed.Mix)
      val qs = Corpus.queries(r)
      val me = owned(c)
      val done = mutable.ArrayBuffer.empty[(Span, Double, Boolean, Long)]
      while (running()) {
        val u = ops.next()
        val start = nowMs - t0
        if (u == "create" || me.live.isEmpty) {
          val text = Corpus.text(r)
          val doc = docIds(r.nextInt(docIds.size))
          val meta = Corpus.metadata(r)
          val (row, span) = tracedCall("create") {
            val row = Trace.child("catalog.write")(db.createChunk(doc, text, meta)).toOption
            row.foreach(rw => Trace.child("api.encode")(HttpApi.chunkJson(rw)))
            row
          }
          row.foreach { rw => me.live += rw.id; me.text(rw.id) = text }
          done += ((span, start, row.isDefined, 0L))
        } else if (u == "update") {
          val id = me.live(me.pick(r))
          val text = Corpus.text(r)
          val (row, span) = tracedCall("update") {
            val row = Trace.child("catalog.write")(db.updateChunk(id, Some(text))).toOption
            row.foreach(rw => Trace.child("api.encode")(HttpApi.chunkJson(rw)))
            row
          }
          if (row.isDefined) me.text(id) = text
          done += ((span, start, row.exists(_.text == text), 0L))
        } else if (u == "delete") {
          val i = me.pick(r)
          val id = me.live(i)
          val (res, span) = tracedCall("delete")(Trace.child("catalog.write")(db.deleteChunk(id)))
          if (res.isRight) { me.remove(i); me.text.remove(id); me.deleted += id }
          done += ((span, start, res.isRight, 0L))
        } else if (u == "get") {
          val id = me.live(me.pick(r))
          val (row, span) = tracedCall("get") {
            val row = Trace.child("catalog.get")(db.getChunk(id)).toOption
            row.foreach(rw => Trace.child("api.encode")(HttpApi.chunkJson(rw)))
            row
          }
          done += ((span, start, row.exists(_.text == me.text(id)), 0L))
        } else {
          val q = qs.next()
          val (resp, span, bytes) = tracedSearch(libId, q, _ => ())
          done += ((span, start, resp.results.size == k, bytes))
        }
      }
      done.toSeq
    }
    recs.sortBy(_._2).foreach { case (span, start, ok, bytes) =>
      record(arr, span, "exact", start, ok, bytes)
    }
    out.put("elapsed_s", elapsed)
    finishRecords(arr, probe)
    out.put("base_partitions_end", basePartitions())
    out.put("reopen_lost_writes", reopenLostWrites())
  }

  /** Acknowledged writes that a recovery loses when a durable root is
    * reopened after a checkpoint and written to: the reopened log
    * restarts its sequence below the snapshot's fence, so replay skips
    * those records. Measured on a small root of its own. */
  def reopenLostWrites(): Int = {
    val dir = new File(work, "reopen-probe").getAbsolutePath
    val first = DurableCatalog.recover(spark, dir)
    val lib = first.createLibrary("probe", indexType = "exact").toOption.get.id
    val doc = first.createDocument(lib, "doc").toOption.get.id
    first.createChunks(doc, Corpus.chunks(seed, "reopen-probe", 8))
    first.checkpoint()
    val reopened = DurableCatalog.recover(spark, dir)
    val written = (0 until 4).map(i => reopened.createChunk(doc, s"after reopen $i").toOption.get.id)
    val recovered = DurableCatalog.recover(spark, dir).inner.chunksByLibrary(lib)
      .select("id").collect().map(_.getString(0)).toSet
    written.count(id => !recovered(id))
  }
}

object ServeMixed {
  /** One pass of the op mix: 40% create, 10% update, 10% delete,
    * 20% get, 20% search. */
  val Mix: Seq[String] = Seq.fill(4)("create") ++ Seq("update", "delete") ++
    Seq.fill(2)("get") ++ Seq.fill(2)("search")
}
