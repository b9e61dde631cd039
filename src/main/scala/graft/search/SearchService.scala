package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.{HnswState, IndexState, IndexType, VectorCatalog}
import graft.functions.GraftFunctions._
import graft.model._

/**
 * Search orchestration replicating the reference's
 * `SearchService.search_library` order of operations
 * (search_service.py:24-77 / SURVEY.md §2.10 Q4):
 *
 *   1. validate query (text XOR embedding)         models.py:116-120
 *   2. library must exist                          search_service.py:37-39
 *   3. clamp k                                     config.py:62-68
 *   4. resolve embedding (pass-through or embed)   search_service.py:79-86
 *   5. PRE-filter chunk universe by metadata, then
 *      the index search POST-filters its candidates
 *      against that universe                       search_service.py:98-110
 *   6. exact cosine rerank -> top-k, timed         indexes.py:162-168
 *
 * Every ANN tier runs in two narrow phases with no join and no
 * exchange: its candidate ids are gathered on the driver (one job over
 * the tier's cached index table, or no job at all for the driver-held
 * HNSW graph), then [[rerank]] runs the exact tier's single scan over
 * the universe restricted to those ids. Spark plans an id list of more
 * than 10 entries as an `InSet` hash lookup that ships once per stage
 * in the task binary, so the rerank is one stage whatever the tier —
 * where a semi-join against a candidate DataFrame costs a shuffle or
 * broadcast stage, and AQE stage jobs, per search.
 *
 * Post-filter semantics preserved deliberately: with a selective filter
 * an ANN index may return < k rows even when k matches exist — that is
 * the reference's observable behavior (SURVEY.md §7 risk register).
 * Edge semantics preserved: IVF untrained => empty (indexes.py:343);
 * LSH zero candidates => full-scan fallback (indexes.py:151-153).
 */
final class SearchService(catalog: VectorCatalog) {

  def search(libraryId: String, query: SearchQuery): Either[ApiError, SearchResponse] =
    for {
      q <- query.validated
      _ <- catalog.getLibrary(libraryId)
    } yield {
      val t0 = System.nanoTime()
      val k = GraftConfig.clampK(q.k)
      val queryVec = q.queryEmbedding.getOrElse(catalog.embedder.embedOne(q.queryText.get))

      // (5) metadata pre-filter defines the chunk universe
      val universe = catalog.chunksFiltered(libraryId, q.metadataFilters)
        .filter(col("embedding").isNotNull)

      // candidate ids of the library's index tier; None = brute force
      // (exact index type, index never built, or LSH's empty-set fallback)
      val candidates: Option[Seq[String]] = catalog.indexState(libraryId).flatMap { s =>
        s.indexType match {
          case IndexType.Lsh if s.signatures.isDefined =>
            Some(lshCandidates(s, queryVec)).filter(_.nonEmpty)
          case IndexType.Ivf => // members of the probed cells; untrained => empty
            Some(s.ivf.fold(Seq.empty[String])(m =>
              collectIds(m.candidates(s.assigned.get, queryVec))))
          case IndexType.Hnsw if s.hnsw.isDefined =>
            Some(hnswCandidates(s.hnsw.get, queryVec, k))
          case IndexType.IvfPq => // residual-ADC top 4k (floor 50); untrained => empty
            Some(s.ivfpq.fold(Seq.empty[String])(p => collectIds(
              p.candidatesWith(queryVec, nprobe = GraftConfig.ivfNprobe, n = math.max(4 * k, 50)))))
          case IndexType.Binary if s.signatures.isDefined =>
            Some(binaryCandidates(s, queryVec, k))
          case _ => None
        }
      }
      val results = candidates match {
        case None => exactTopK(universe, queryVec, k)
        case Some(Seq()) => Seq.empty
        case Some(ids) => rerank(universe, ids, queryVec, k)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      SearchResponse(results, results.size, ms)
    }

  /** Q1 exact: cosine + euclid, deterministic tiebreak (desc score, asc id). */
  private def exactTopK(universe: DataFrame, queryVec: Array[Float], k: Int): Seq[SearchResult] =
    collectResults(universe
      .withColumn("similarity_score", cosine_sim(col("embedding"), typedLit(queryVec)))
      .withColumn("distance", euclidean_dist(col("embedding"), typedLit(queryVec)))
      .orderBy(col("similarity_score").desc, col("id").asc)
      .limit(k))

  /** The shared second phase of every ANN tier: post-filter the
    * candidates against the universe and exact-rerank them, in the
    * exact tier's one-stage plan. */
  private def rerank(universe: DataFrame, ids: Seq[String],
      queryVec: Array[Float], k: Int): Seq[SearchResult] =
    exactTopK(universe.filter(col("id").isin(ids: _*)), queryVec, k)

  /** Runs a candidate-id plan as one job and de-duplicates on the driver. */
  private def collectIds(candidates: DataFrame): Seq[String] =
    candidates.select("id").collect().map(_.getString(0)).distinct.toSeq

  /** Q2: the query's bucket keys filter the signature table. An EMPTY
    * CANDIDATE SET falls back to a full scan (indexes.py:151-153 — the
    * fallback fires before the universe membership check, so a
    * non-empty candidate set that the metadata post-filter eliminates
    * correctly returns < k rows, it does NOT fall back). The id set
    * of `LshModel.multiProbeCandidates`, de-duplicated on the driver
    * where its `dropDuplicates` would cost a shuffle stage. */
  private def lshCandidates(state: IndexState, queryVec: Array[Float]): Seq[String] = {
    // flips=0 is exactly the reference's single-probe candidates;
    // >0 adds Lv-et-al multi-probe buckets (opt-in, GraftConfig —
    // either the explicit flips knob or the active recall preset)
    val flips = GraftConfig.lshActivePreset.map(_.flips)
      .getOrElse(GraftConfig.lshMultiProbeFlips)
    val buckets = state.lsh.get.multiProbeBucketsOf(queryVec, flips)
    collectIds(state.signatures.get
      .filter(col("bucket").isin(buckets.toIndexedSeq.map(Long.box): _*)))
  }

  /** HNSW tier: graph navigation proposes a candidate set on the driver
    * (fetch factor 4k, floor 50 — the two-tier contract: graph error is
    * removed by the exact rerank). The graph covers all indexed chunks,
    * so like IVF a selective metadata filter may return < k — the
    * reference's observable post-filter semantics. */
  private def hnswCandidates(hs: HnswState, queryVec: Array[Float], k: Int): Seq[String] = {
    val fetch = math.max(4 * k, 50)
    hs.graph.search(queryVec, fetch, ef = math.max(100, fetch))
      .map { case (node, _) => hs.chunkIds(node.toInt) }
  }

  /** Binary sign-quantization tier: Hamming top-C over the packed
    * signature table (integer distance, id tiebreak — a per-partition
    * heap over 8-byte-per-64-dims rows, the cheapest prefilter scan of
    * any tier). The candidate set is never empty for a non-empty index
    * (every indexed chunk has a signature), so there is no LSH-style
    * fallback. */
  private def binaryCandidates(state: IndexState, queryVec: Array[Float], k: Int): Seq[String] = {
    // n-proportional candidate budget: 1-bit/dim signatures lose
    // recall at FIXED C as the corpus grows (measured curve in
    // GraftConfig.binaryCandidateFraction's doc). The count was
    // captured when the cached table was materialized at
    // build/refresh/restore — no Spark job on the search hot path.
    val n = state.sigCount.getOrElse(state.signatures.get.count())
    val fetch = math.max(math.max(4 * k, 64),
      math.ceil(n * GraftConfig.binaryCandidateFraction).toInt)
    val qSig = graft.index.BinaryQuant.pack(queryVec)
    collectIds(state.signatures.get
      .withColumn("ham", hamming_dist(col("sig"), typedLit(qSig.toSeq)))
      .orderBy(col("ham").asc, col("id").asc)
      .limit(fetch))
  }

  private def collectResults(df: DataFrame): Seq[SearchResult] = {
    import df.sparkSession.implicits._
    df.select(col("id"), col("document_id"), col("library_id"), col("text"),
        col("embedding"), col("metadata"), col("created_at"), col("updated_at"),
        col("similarity_score"), col("distance"))
      .collect()
      .map { r =>
        val chunk = ChunkRow(r.getString(0), r.getString(1), r.getString(2), r.getString(3),
          Option(r.getAs[scala.collection.Seq[Float]]("embedding")).map(_.toArray),
          Option(r.getAs[scala.collection.Map[String, String]]("metadata")).map(_.toMap).getOrElse(Map.empty),
          r.getTimestamp(6), r.getTimestamp(7))
        SearchResult(chunk, r.getDouble(8), r.getDouble(9))
      }.toSeq
  }
}
