package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Embedder
import graft.sources.CorpusStore

/** The flagship retrieval pipeline — the reference's §3.1 chat-query data
  * path (/root/reference/src/rag/rag_graph.py:365-510) minus the LLM
  * calls, composed from the engine's operators:
  *
  *   validate components (F5) → adaptive k (T2) → per-component
  *   partition-pruned exact top-k + bag union (F3/J1/T1/A4) → lexical
  *   rerank (T3/V6) → URL rewrite (X1) → first-seen reference numbering
  *   (A5) → ordered context concat (A3).
  *
  * The LangGraph control flow collapses to driver code (SURVEY §3.1);
  * every data-touching step is a DataFrame op that scales with the
  * corpus, and the candidate set after top-k is tiny, so everything
  * downstream of retrieval costs O(k·components) regardless of corpus
  * size.
  *
  * [[retrieve]] is the lazy DataFrame form (one row per kept candidate,
  * with rank / rerank score / rewritten URL / reference number);
  * [[answer]] materializes it into the reference's answer payload
  * (context string + numbered reference list).
  *
  * Each form runs as ONE Spark job: the per-component legs, the rerank
  * and the reference numbering are one plan. The numbering is two
  * windows over the reranked top-10, which already sits in one
  * partition, so no join, no broadcast and no Exchange is planned
  * after the rerank; [[answer]] collects that plan once and folds the
  * ≤ 10 rows on the driver.
  */
object RagPipeline {

  case class Answer(
      context: String,
      references: Seq[(Int, String)],
      nCandidates: Long)

  /** Everything after candidate retrieval: rerank (T3), stable rank,
    * URL rewrite (X1) and first-seen reference numbering (A5), as
    * three Dataset calls on top of the rerank's TakeOrderedAndProject
    * (each call re-analyses the plan, so there are no more than the
    * window dependencies need).
    *
    * The numbering is two windows over the ≤ 10 reranked rows:
    * `min(final_rank) over (partition by url)` is each row's url's
    * first-seen rank, and `dense_rank() over (order by` that `)` numbers
    * the urls 1..n in first-seen order. `final_rank` is unique, so each
    * url has its own first-seen rank and `dense_rank` counts urls — the
    * same `ref_id` as [[PostRetrieval.refNumbering]] joined back on the
    * url. A window partition groups NULLs together, so candidates with
    * a NULL url (missing metadata) share one number, like the
    * `groupBy`'s null group, and every row is kept exactly once. The
    * rerank's output is one partition, which satisfies both windows
    * and the closing sort: no Exchange and no broadcast is planned
    * above it, and the whole post-process runs inside the job that
    * produces the candidates. Rows come out in `final_rank` order. */
  private def postProcess(
      candidates: DataFrame,
      queryText: String,
      urlRules: Seq[(String, String)],
      idCol: String,
      docCol: String,
      urlExpr: Column): DataFrame = {
    val ranked = Rerank.rerank(candidates, docCol,
        Rerank.LexicalScorer(queryText), tieBreak = idCol)
      .withColumns(Map(
        "final_rank" -> row_number().over(
          Window.orderBy(col("rerank_score").desc, col(idCol))),
        "url" -> PostRetrieval.rewriteUrls(urlExpr, urlRules)))
    ranked.select(col("*"),
      dense_rank().over(Window.orderBy(
        min(col("final_rank")).over(Window.partitionBy(col("url")))))
        .as("ref_id"))
      .orderBy(col("final_rank"))
  }

  /** The §3.1 data path as one lazy DataFrame: pruned per-component
    * top-k against `queryVec`, lexically reranked for `queryText`, with
    * rewritten URLs and reference numbers. Callers pick their own
    * column subset; [[answer]] folds it into the chat payload. */
  def retrieve(
      corpus: DataFrame,
      queryVec: Seq[Float],
      queryText: String,
      componentCodes: Seq[Int],
      rerank: Boolean = true,
      urlRules: Seq[(String, String)] = Nil,
      idCol: String = "id",
      vecCol: String = "embedding",
      partitionCol: String = "component_code",
      docCol: String = "document",
      urlExpr: Option[Column] = None,
      metric: KnnSearch.Metric = KnnSearch.L2,
      rankRoundDp: Option[Int] = None): DataFrame = {
    val candidates = KnnSearch.searchComponents(
      corpus, vecCol, partitionCol, queryVec, componentCodes,
      rerank = rerank, metric = metric, tieBreak = Some(idCol),
      rankRoundDp = rankRoundDp)
    postProcess(candidates, queryText, urlRules, idCol, docCol,
      urlExpr.getOrElse(col("metadata.doc_url")))
  }

  /** Candidate hydration shared by the thin-table forms: the
    * ≤ k·components candidate rows reach the (corpus-scale) docs table
    * as an EXPLICIT broadcast hash — the docs table is scanned once
    * against a hash of candidate ids, never shuffled against them. */
  private def hydrate(
      candidates: DataFrame,
      docs: DataFrame,
      docKeyCol: String,
      idCol: String): DataFrame =
    broadcast(candidates)
      .join(docs, candidates(idCol) === docs(docKeyCol))

  /** The scale-correct two-table form: top-k runs on the THIN vector
    * table alone (id, vector, component — the only columns retrieval
    * needs), and document text/metadata are joined in only for the
    * ≤ k·components candidates, explicitly broadcast — the reference's
    * "fetch full docs for the hits" shape. Joining a 100 TB document
    * table into the corpus BEFORE retrieval would shuffle both tables to
    * discard all but k rows; here the docs table is scanned once against
    * a broadcast hash of the candidate ids. Use [[retrieve]] when the
    * corpus already stores text inline (CorpusStore's layout). */
  def retrieveThin(
      vectors: DataFrame,
      docs: DataFrame,
      docKeyCol: String,
      queryVec: Seq[Float],
      queryText: String,
      componentCodes: Seq[Int],
      rerank: Boolean = true,
      urlRules: Seq[(String, String)] = Nil,
      idCol: String = "id",
      vecCol: String = "embedding",
      partitionCol: String = "component_code",
      docCol: String = "document",
      urlExpr: Option[Column] = None,
      metric: KnnSearch.Metric = KnnSearch.L2,
      rankRoundDp: Option[Int] = None): DataFrame = {
    val candidates = KnnSearch.searchComponents(
      vectors, vecCol, partitionCol, queryVec, componentCodes,
      rerank = rerank, metric = metric, tieBreak = Some(idCol),
      rankRoundDp = rankRoundDp)
    postProcess(hydrate(candidates, docs, docKeyCol, idCol), queryText,
      urlRules, idCol, docCol, urlExpr.getOrElse(col("metadata.doc_url")))
  }

  /** [[retrieveThin]] through a component-scoped [[IvfIndex]] — the
    * reference's flagship retrieval made scale-shaped end-to-end:
    * `similarity_search_by_vector(..., partition_names=[comp])` runs ANN
    * inside pruned LIST partitions (rag_graph.py:365-417 via
    * doc_embedder.py:196-220), and here each per-component top-k leg is
    * ONE doubly-pruned directory scan (component partition AND probed
    * clusters are both parquet PartitionFilters — asserted in
    * RagPipelineSpec), so a routed query reads
    * ~|components|/ncomponents × nprobe/nlist of the corpus. Candidate
    * hydration and post-processing are identical to [[retrieveThin]]:
    * docs join only the ≤ k·components candidates, broadcast. The
    * trade is IVF recall (tunable via nprobe; nprobe ≥ nlist makes each
    * leg exact and the result equal to [[retrieveThin]] on the same
    * scope). Requires an index built with `componentCol` — the unscoped
    * layout cannot prune the component level and [[IvfIndex#search]]
    * refuses rather than silently scanning out of scope. */
  def retrieveThinIvf(
      index: IvfIndex,
      docs: DataFrame,
      docKeyCol: String,
      queryVec: Seq[Float],
      queryText: String,
      componentCodes: Seq[Int],
      nprobe: Int,
      rerank: Boolean = true,
      urlRules: Seq[(String, String)] = Nil,
      docCol: String = "document",
      urlExpr: Option[Column] = None,
      metric: KnnSearch.Metric = KnnSearch.L2,
      rankRoundDp: Option[Int] = None): DataFrame = {
    val idCol = index.idCol
    val candidates =
      if (componentCodes.isEmpty)
        // same zero-component contract as KnnSearch.searchComponents
        index.assigned.withColumn("dist", lit(0.0)).filter(lit(false))
      else {
        val k = KnnSearch.adaptiveK(componentCodes.size, rerank)
        // one scoped leg per component (the reference's per-partition
        // top-k semantics), bag-unioned — each leg prunes both
        // directory levels; probe planning is driver-side per leg over
        // the same tiny centroid set
        componentCodes
          .map(code => index.search(queryVec, k, nprobe, metric,
            tieBreak = Some(idCol), components = Seq(code),
            rankRoundDp = rankRoundDp))
          .reduce(_ unionByName _)
      }
    postProcess(hydrate(candidates, docs, docKeyCol, idCol), queryText,
      urlRules, idCol, docCol, urlExpr.getOrElse(col("metadata.doc_url")))
  }

  /** Job description of the one Spark action [[answer]] runs. */
  val AnswerJobDescription = "graft:rag/answer"

  /** The §3.1 chat-query payload in ONE Spark job: the processed
    * candidates (the [[retrieve]] plan, plus the pre-rerank candidate
    * count as `count(1) over ()` on the candidate union) are collected
    * once, under the job description [[AnswerJobDescription]], and
    * folded on the driver — ≤ 10 rows. The context concatenates the
    * documents in `final_rank` order with [[PostRetrieval.ContextSep]]
    * (NULL documents skipped, like `array_join`), and the references
    * are the distinct `(ref_id, url)` pairs in `ref_id` order; a NULL
    * url is one reference like any other. Nothing is cached, so no
    * block outlives the call, whether it returns or throws. */
  def answer(
      spark: SparkSession,
      corpus: DataFrame,
      embedder: Embedder,
      queryText: String,
      requestedComponents: Seq[String],
      componentMap: Map[String, Int] = CorpusStore.defaultComponents,
      defaultComponent: String = "observer",
      rerank: Boolean = true,
      urlRules: Seq[(String, String)] = Nil): Answer = {

    // F5: validate + dedup + force default (driver-side — the list is tiny)
    val valid = {
      val kept = requestedComponents.distinct
        .filter(componentMap.contains)
      if (kept.contains(defaultComponent)) kept
      else kept :+ defaultComponent
    }
    val codes = valid.map(componentMap)

    // V2: embed the query once
    val qVec = embedder.embedQuery(spark, queryText)

    // F3/J1/T1/T2/A4: pruned per-component top-k, bag union; the
    // candidate count rides along on every row
    val candidates = KnnSearch.searchComponents(
        corpus, "embedding", "component_code", qVec, codes,
        rerank = rerank, tieBreak = Some("id"))
      .withColumn("__n_candidates", count(lit(1)).over())
    val rows = withJobDescription(spark, AnswerJobDescription) {
      postProcess(candidates, queryText, urlRules, "id", "document",
          col("metadata.doc_url"))
        .select("document", "ref_id", "url", "__n_candidates")
        .collect()
    }

    // A3: context concat (rows arrive in final_rank order); A5: the
    // numbered reference list
    Answer(
      rows.flatMap(r => Option(r.getString(0)))
        .mkString(PostRetrieval.ContextSep),
      rows.map(r => (r.getInt(1), r.getString(2))).distinct
        .sortBy(_._1).toSeq,
      rows.headOption.fold(0L)(_.getLong(3)))
  }

  /** Runs `body` with the Spark job description `desc`, restoring the
    * caller's description (or its absence) however `body` exits. */
  private def withJobDescription[T](spark: SparkSession, desc: String)(
      body: => T): T = {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val prev = sc.getLocalProperty(key)
    sc.setJobDescription(desc)
    try body finally sc.setLocalProperty(key, prev)
  }
}
