package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.catalog.{IndexType, VectorCatalog}
import graft.functions.GraftFunctions._
import graft.model._
import graft.search.SearchService

/** The ANN search path's plan shape: candidate ids gathered on the
  * driver, then one narrow exact rerank. Checked against the previous
  * semi-join formulation (kept below as the oracle), by job count, and
  * by the executed plans themselves. */
class SearchPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val annTypes = Seq("lsh", "ivf", "ivfpq", "binary")
  private val allTypes = annTypes ++ Seq("exact", "hnsw")
  private val vocab = ("spark sql vector index search cluster query engine table " +
    "stream batch shuffle join filter graph token corpus embedding rerank bucket " +
    "partition").split(' ')

  private def sentence(r: scala.util.Random, n: Int): String =
    Seq.fill(n)(vocab(r.nextInt(vocab.length))).mkString(" ")

  /** One catalog, one library per index type over the same 300 chunks
    * (past IVF's nlist = 100 training threshold), compacted the way a
    * served catalog is. */
  private lazy val (cat, libs) = {
    val c = new VectorCatalog(spark)
    val r = new scala.util.Random(7)
    val items = (0 until 300).map(i =>
      (sentence(r, 6) + s" doc$i", Map("lang" -> (if (i % 3 == 0) "de" else "en"))))
    val ids = allTypes.map { t =>
      val lib = c.createLibrary(s"plan-$t", indexType = t).toOption.get
      val doc = c.createDocument(lib.id, "D").toOption.get
      assert(c.createChunks(doc.id, items).isRight)
      t -> lib.id
    }.toMap
    c.compact()
    allTypes.foreach(t => assert(c.indexLibrary(ids(t), t).isRight))
    assert(c.indexState(ids("ivf")).get.ivf.isDefined)
    assert(c.indexState(ids("ivfpq")).get.ivfpq.isDefined)
    (c, ids)
  }
  private lazy val svc = new SearchService(cat)

  /** 24 seeded queries, every fourth filtered to `lang = en`. */
  private lazy val queries: Seq[SearchQuery] = {
    val r = new scala.util.Random(11)
    (0 until 24).map { i =>
      SearchQuery(queryText = Some(sentence(r, 3)), k = 10,
        metadataFilters = if (i % 4 == 3) Map("lang" -> "en") else Map.empty)
    }
  }

  private def flips: Int =
    GraftConfig.lshActivePreset.map(_.flips).getOrElse(GraftConfig.lshMultiProbeFlips)

  private def scored(rs: Seq[SearchResult]): Seq[(String, Double)] =
    rs.map(r => (r.chunk.id, r.similarityScore))

  /** The semi-join formulation the search path used before, as oracle. */
  private def semiJoinSearch(c: VectorCatalog, libId: String, q: SearchQuery): Seq[(String, Double)] = {
    val k = GraftConfig.clampK(q.k)
    val vec = c.embedder.embedOne(q.queryText.get)
    val universe = c.chunksFiltered(libId, q.metadataFilters).filter(col("embedding").isNotNull)
    def exact(df: DataFrame): Seq[(String, Double)] =
      df.withColumn("s", cosine_sim(col("embedding"), typedLit(vec)))
        .orderBy(col("s").desc, col("id").asc).limit(k)
        .select("id", "s").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    def semi(cands: DataFrame) = exact(universe.join(cands, Seq("id"), "left_semi"))
    val st = c.indexState(libId).get
    st.indexType match {
      case IndexType.Lsh =>
        val cands = st.lsh.get.multiProbeCandidates(st.signatures.get, vec, flips)
        if (cands.isEmpty) exact(universe) else semi(cands)
      case IndexType.Ivf =>
        st.ivf.fold(Seq.empty[(String, Double)])(m =>
          semi(m.candidates(st.assigned.get, vec).select("id")))
      case IndexType.IvfPq =>
        st.ivfpq.fold(Seq.empty[(String, Double)])(s =>
          semi(s.candidatesWith(vec, nprobe = GraftConfig.ivfNprobe,
            n = math.max(4 * k, 50)).select("id")))
      case IndexType.Binary =>
        val fetch = math.max(math.max(4 * k, 64),
          math.ceil(st.sigCount.get * GraftConfig.binaryCandidateFraction).toInt)
        semi(st.signatures.get
          .withColumn("ham", hamming_dist(col("sig"),
            typedLit(graft.index.BinaryQuant.pack(vec).toSeq)))
          .orderBy(col("ham").asc, col("id").asc).limit(fetch).select("id"))
      case other => fail(s"no oracle for $other")
    }
  }

  /** Runs `body`, returning its result, the Spark jobs it started (on
    * this thread, tagged by a local property) and the query executions
    * of this session that completed. */
  private def observed[A](body: => A): (A, Int, Seq[QueryExecution]) = {
    val sc = spark.sparkContext
    val tagKey = "graft.test.searchPlan"
    val tag = java.util.UUID.randomUUID().toString
    Bridge.waitListenerBus(sc)
    @volatile var jobs = 0
    val execs = new ConcurrentLinkedQueue[QueryExecution]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tagKey) == tag) jobs += 1
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = execs.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = execs.add(qe)
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    sc.setLocalProperty(tagKey, tag)
    try {
      val r = body
      Bridge.waitListenerBus(sc)
      (r, jobs, execs.asScala.toSeq)
    } finally {
      sc.setLocalProperty(tagKey, null)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  private def exchangesAndJoins(plan: SparkPlan): Seq[String] =
    collectWithSubqueries(plan) {
      case e: Exchange => e.nodeName
      case j: BaseJoinExec => j.nodeName
    }

  test("two-phase search returns the semi-join formulation's ids and scores") {
    for (t <- annTypes; (q, i) <- queries.zipWithIndex) {
      val got = scored(svc.search(libs(t), q).toOption.get.results)
      val want = semiJoinSearch(cat, libs(t), q)
      assert(got == want, s"$t query $i (${q.queryText.get}, filters ${q.metadataFilters})")
    }
    // the differential is only worth something if the tiers answer
    assert(annTypes.forall(t => queries.exists(q =>
      svc.search(libs(t), q).toOption.get.results.nonEmpty)))
  }

  test("a search is 2 Spark jobs on the ANN tiers and 1 on exact and hnsw") {
    for (t <- allTypes; q <- Seq(queries.head, queries(3))) {
      val (resp, jobs, _) = observed(svc.search(libs(t), q))
      assert(resp.toOption.get.results.nonEmpty, t)
      val want = if (annTypes.contains(t)) 2 else 1
      assert(jobs == want, s"$t (filters ${q.metadataFilters}): $jobs jobs")
    }
  }

  test("no executed search plan holds an Exchange or a join") {
    for (t <- allTypes; q <- Seq(queries.head, queries(3))) {
      val (_, _, execs) = observed(svc.search(libs(t), q))
      assert(execs.nonEmpty, t)
      execs.foreach { qe =>
        val bad = exchangesAndJoins(qe.executedPlan)
        assert(bad.isEmpty, s"$t: $bad in\n${qe.executedPlan}")
      }
    }
  }

  test("LSH with zero candidates still falls back to the full scan") {
    val c = new VectorCatalog(spark)
    val s = new SearchService(c)
    val lib = c.createLibrary("L", indexType = "lsh").toOption.get
    val doc = c.createDocument(lib.id, "D").toOption.get
    c.createChunks(doc.id, Seq("spark sql engine", "vector database search",
      "distributed query processing").map(_ -> Map.empty[String, String]))
    c.indexLibrary(lib.id, "lsh")
    val st = c.indexState(lib.id).get
    val indexed = st.signatures.get.select("bucket").collect().map(_.getLong(0)).toSet
    // a seeded vector none of whose probe buckets holds a chunk
    val r = new scala.util.Random(3)
    val vec = Iterator.continually(Array.fill(c.embeddingDim)(r.nextGaussian().toFloat))
      .find(v => !st.lsh.get.multiProbeBucketsOf(v, flips)
        .exists(indexed)).get
    val got = s.search(lib.id, SearchQuery(queryEmbedding = Some(vec), k = 3)).toOption.get
    assert(got.results.size == 3, "zero candidates must full-scan, not return empty")
    c.indexLibrary(lib.id, "exact")
    val exact = s.search(lib.id, SearchQuery(queryEmbedding = Some(vec), k = 3)).toOption.get
    assert(scored(got.results) == scored(exact.results))
  }

  test("LSH candidates the metadata filter removes leave fewer than k, no fallback") {
    val c = new VectorCatalog(spark)
    val s = new SearchService(c)
    val lib = c.createLibrary("L", indexType = "lsh").toOption.get
    val doc = c.createDocument(lib.id, "D").toOption.get
    val rows = c.createChunks(doc.id, Seq(
      "spark sql engine" -> Map("lang" -> "en"),
      "vector database search" -> Map("lang" -> "de"),
      "distributed query processing" -> Map("lang" -> "de"))).toOption.get
    c.indexLibrary(lib.id, "lsh")
    val q = SearchQuery(queryEmbedding = rows.head.embedding, k = 3,
      metadataFilters = Map("lang" -> "de"))
    val got = scored(s.search(lib.id, q).toOption.get.results)
    val st = c.indexState(lib.id).get
    val cands = st.lsh.get.multiProbeCandidates(st.signatures.get, rows.head.embedding.get, flips)
      .collect().map(_.getString(0)).toSet
    assert(cands.contains(rows.head.id))
    assert(got.map(_._1).toSet == cands.intersect(rows.tail.map(_.id).toSet))
    assert(got.size < 3)
  }

  test("untrained IVF and IVF-PQ still return no results") {
    val c = new VectorCatalog(spark)
    val s = new SearchService(c)
    for (t <- Seq("ivf", "ivfpq")) {
      val lib = c.createLibrary(t, indexType = t).toOption.get
      val doc = c.createDocument(lib.id, "D").toOption.get
      c.createChunks(doc.id, (0 until 20).map(i => s"short text $i" -> Map.empty[String, String]))
      c.indexLibrary(lib.id, t)
      val (resp, jobs, _) = observed(s.search(lib.id, SearchQuery(queryText = Some("text"), k = 5)))
      assert(resp.toOption.get.results.isEmpty, t)
      assert(jobs == 0, s"$t: an untrained index answers without a Spark job")
    }
  }
}
