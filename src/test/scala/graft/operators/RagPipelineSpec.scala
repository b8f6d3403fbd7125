package graft.operators

import org.apache.spark.sql.{Column, SparkSession}

import graft.SparkSpec
import graft.functions.{Embedder, HashEmbedder}
import graft.sources.{CorpusStore, MarkdownIngest}

class RagPipelineSpec extends SparkSpec {

  private val corpusDir = getClass.getResource("/corpus").getPath
  private lazy val embedder = HashEmbedder(dim = 16)

  private lazy val corpus = {
    val chunks = MarkdownIngest.ingest(spark, corpusDir, Seq("oracle"))
    CorpusStore.fromChunks(chunks, "observer", embedder)
      .union(CorpusStore.fromChunks(chunks, "ocp", embedder))
      .cache()
  }

  test("end-to-end answer: validated components, context, numbered refs") {
    val ans = RagPipeline.answer(spark, corpus, embedder,
      queryText = "vector search index",
      requestedComponents = Seq("ocp", "bogus", "ocp"),
      urlRules = Seq(("^file:", "https://docs.example.com/")))
    // F5: ocp kept, bogus dropped, observer (default) appended -> 2 comps;
    // rerank=true -> k=10 per component, capped by the 8 chunks per comp
    assert(ans.nCandidates == 16)
    assert(ans.context.nonEmpty)
    assert(ans.context.contains("\n=====\n"))
    // A5: refs numbered 1..n, urls rewritten, unique
    val ids = ans.references.map(_._1)
    assert(ids == (1 to ids.size))
    assert(ans.references.forall(_._2.startsWith("https://docs.example.com/")))
    assert(ans.references.map(_._2).distinct.size == ans.references.size)
  }

  test("no-rerank path uses adaptive k") {
    val ans = RagPipeline.answer(spark, corpus, embedder,
      queryText = "query", requestedComponents = Seq("observer"),
      rerank = false)
    // 1 component, no rerank: k = max(3, 13-3) = 10, capped by 8 chunks
    assert(ans.nCandidates == 8)
  }

  test("unknown components fall back to the default component only") {
    val ans = RagPipeline.answer(spark, corpus, embedder,
      queryText = "anything", requestedComponents = Seq("nope", "zilch"))
    assert(ans.nCandidates == 8) // observer only
  }

  /** an embedder that hands `answer` a fixed query vector, or throws */
  private def embedding(q: => Seq[Float]) = new Embedder {
    val dim = 16
    def embedCol(text: Column) = embedder.embedCol(text)
    override def embedQuery(s: SparkSession, text: String) = q
  }

  test("reference numbering equals refNumbering + the null-safe join, " +
      "row for row: NULL urls, shared urls and rerank-score ties") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val queryText = "spark join table"
    // (id, vector, document, url): rerank scores 3,3 / 2,2,2 / 1 / 0,0
    val rows = Seq(
      (1L, Seq(0.1f, 0.0f), "spark join", Option("u1")),
      (2L, Seq(0.2f, 0.0f), "spark table", Option("u2")),
      (3L, Seq(0.3f, 0.0f), "join table spark", None),
      (4L, Seq(0.4f, 0.0f), "nothing", Option("u1")),
      (5L, Seq(0.5f, 0.0f), "spark", Option("u3")),
      (6L, Seq(0.6f, 0.0f), "table join", None),
      (7L, Seq(0.7f, 0.0f), "spark join table", Option("u2")),
      (8L, Seq(0.8f, 0.0f), "other words", Option("u4")))
    val hand = rows.toDF("id", "embedding", "document", "url")
      .select(col("id"), col("embedding"), col("document"),
        struct(col("url").as("doc_url")).as("metadata"),
        lit(1).as("component_code"))
    val q = Seq(0.0f, 0.0f)
    def numbered(df: org.apache.spark.sql.DataFrame) =
      df.select(col("final_rank"), col("id"), col("url"), col("ref_id"))
        .as[(Int, Long, Option[String], Int)].collect().toSeq
        .sortBy(_._1)

    val got = numbered(RagPipeline.retrieve(hand, q, queryText, Seq(1)))

    // the numbering as it was: refNumbering's groupBy, joined back
    // on the url with null-safe equality, broadcast
    val withUrl = Rerank.rerank(
        KnnSearch.searchComponents(hand, "embedding", "component_code", q,
          Seq(1), rerank = true, tieBreak = Some("id")),
        "document", Rerank.LexicalScorer(queryText), tieBreak = "id")
      .withColumn("final_rank", row_number().over(
        Window.orderBy(col("rerank_score").desc, col("id"))))
      .withColumn("url", col("metadata.doc_url"))
    val refs = PostRetrieval.refNumbering(withUrl, "url", "final_rank")
      .select(col("ref_id"), col("url").as("__ref_url"))
    val joined = withUrl
      .join(broadcast(refs), col("url") <=> col("__ref_url"))
      .drop("__ref_url")
    assert(got == numbered(joined))

    assert(got == Seq(
      (1, 3L, None, 1), (2, 7L, Some("u2"), 2), (3, 1L, Some("u1"), 3),
      (4, 2L, Some("u2"), 2), (5, 6L, None, 1), (6, 5L, Some("u3"), 4),
      (7, 4L, Some("u1"), 3), (8, 8L, Some("u4"), 5)))
    // each NULL-url candidate is kept exactly once, and numbered
    val nullUrl = got.filter(_._3.isEmpty)
    assert(nullUrl.map(_._2) == Seq(3L, 6L))
    assert(nullUrl.map(_._4).distinct == Seq(1))

    // answer folds the same rows: context in rank order, one reference
    // per url — the NULL url included — in ref_id order
    val ans = RagPipeline.answer(spark, hand, embedding(q), queryText,
      Seq("c"), componentMap = Map("c" -> 1), defaultComponent = "c")
    assert(ans.nCandidates == 8)
    val byId = rows.map(r => r._1 -> r._3).toMap
    assert(ans.context ==
      got.map(r => byId(r._2)).mkString(PostRetrieval.ContextSep))
    assert(ans.references == Seq((1, null), (2, "u2"), (3, "u1"),
      (4, "u3"), (5, "u4")))
  }

  test("answer runs ONE driver action, as one Spark job, and leaves no " +
      "persisted block behind, on success and when the embedder throws") {
    val q = embedder.embedQuery(spark, "vector search index")
    def run(e: Embedder) = RagPipeline.answer(spark, corpus, e,
      queryText = "vector search index", requestedComponents = Seq("ocp"))
    val warm = run(embedding(q)) // materializes the cached corpus
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted

    val marker = "graft_spec_marker"
    var again: RagPipeline.Answer = null
    val actions = executedPlans(_.contains(marker)) {
      again = run(embedding(q))
      spark.range(1).toDF(marker).collect()
    }.filterNot(_.contains(marker))
    assert(again == warm)
    assert(actions.size == 1 && actions.head.startsWith("collect"),
      s"answer ran ${actions.size} actions: ${actions.map(_.take(80))}")
    // the parent's cache + count + head + distinct/orderBy collect ran 6
    assert(jobsRun { run(embedding(q)) } == 1)
    assert(persisted == before)

    val e = intercept[IllegalStateException] {
      run(embedding(throw new IllegalStateException("embedder down")))
    }
    assert(e.getMessage == "embedder down")
    assert(persisted == before)
  }

  test("answer describes its job as graft:rag/answer and restores the " +
      "caller's job description") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val q = embedder.embedQuery(spark, "vector search index")
    val marker = "graft-spec-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = String.valueOf(e.properties.getProperty(key))
        if (d == marker) flushed.countDown() else seen.add(d)
      }
    }
    // warm up first, so the corpus cache is not built under the listener
    RagPipeline.answer(spark, corpus, embedding(q), "vector search index",
      Seq("ocp"))
    sc.addSparkListener(listener)
    try {
      for (prev <- Seq("caller's job", null)) {
        sc.setJobDescription(prev)
        RagPipeline.answer(spark, corpus, embedding(q),
          "vector search index", Seq("ocp"))
        assert(sc.getLocalProperty(key) == prev)
      }
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(10, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val descriptions = seen.asScala.toSeq
    assert(descriptions.nonEmpty)
    assert(descriptions.forall(_ == RagPipeline.AnswerJobDescription),
      s"job descriptions: $descriptions")
  }

  test("retrieveThinIvf: each leg prunes BOTH directory levels, hydration stays broadcast, full probe equals the exact path") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val docsT = docs.select(col("doc_id"), col("text").as("document"),
      struct(lit("file:x").as("doc_url")).as("metadata"))
    val tmp = tempDir("graft-rag-ivf-").toString
    IvfIndex.build(emb, "vec_id", "embedding", nlist = 8,
      componentCol = Some("label")).write(s"$tmp/ivf")
    val idx = IvfIndex.load(spark, s"$tmp/ivf", "vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)

    // the parquet scan's shape: the resident tier reads no files
    val pruned = onSparkPath(RagPipeline.retrieveThinIvf(idx, docsT,
      "doc_id", q, "spark table", Seq(1, 3), nprobe = 2))
    val plan = pruned.queryExecution.executedPlan.toString
    // every index-scan leg must carry PartitionFilters on BOTH the
    // component and the cluster directory level — the flagship
    // partition_names+ANN query as one doubly-pruned scan per component
    val legs = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(plan)
      .toSeq.filter(_.contains(IvfIndex.ClusterCol))
    assert(legs.nonEmpty, s"no pruned index scan in plan:\n$plan")
    assert(legs.forall(_.contains("label")),
      s"index legs missing the component prune: $legs")
    // the ≤ k·components candidate side reaches the docs scan broadcast
    assert(plan.contains("BroadcastExchange"), s"no broadcast in:\n$plan")

    // nprobe ≥ nlist makes each leg exact, so the IVF path must return
    // exactly what the exact pruned path returns — same ranks, same docs
    val full = RagPipeline.retrieveThinIvf(idx, docsT, "doc_id", q,
        "spark table", Seq(1, 3), nprobe = idx.nlist)
      .select(col("final_rank"), col("vec_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val vectors = emb.select(col("vec_id").as("id"), col("embedding"),
      col("label").as("component_code"))
    val exact = RagPipeline.retrieveThin(vectors, docsT, "doc_id", q,
        "spark table", Seq(1, 3), rerank = true)
      .select(col("final_rank"), col("id"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(full == exact)
  }

  test("retrieveThin broadcasts the candidate set into the docs join") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val vectors = emb.select(col("vec_id").as("id"), col("embedding"),
      col("label").as("component_code"))
    val docsT = docs.select(col("doc_id"), col("text").as("document"),
      struct(lit("file:x").as("doc_url")).as("metadata"))
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val df = RagPipeline.retrieveThin(vectors, docsT, "doc_id", q,
      "spark table", Seq(1, 3), rerank = true)
    val plan = df.queryExecution.executedPlan.toString
    // the ≤ k·components candidate side must reach the docs scan as a
    // broadcast — never a shuffle of the documents table against it
    assert(plan.contains("BroadcastExchange"), s"no broadcast in:\n$plan")
    val rows = df.select("final_rank", "id", "ref_id").collect()
    assert(rows.nonEmpty && rows.length <= 10)
  }
}
