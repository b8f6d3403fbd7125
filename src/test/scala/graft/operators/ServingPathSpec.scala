package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{Embedder, HashEmbedder, VectorFunctions}
import graft.plans.VectorExpressions
import graft.sources.{CorpusStore, MarkdownIngest}

/** Per-request work on the serving path: a single top-k is one lazy
  * plan run as one Spark job, and a new query vector compiles no new
  * generated class — what a query costs is only what the query itself
  * needs. */
class ServingPathSpec extends SparkSpec {

  /** 400 seeded 64-dim vectors */
  private lazy val embeddings = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0L until 400L).map(i => (i, Seq.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding").cache()
  }
  private lazy val tmp =
    tempDir("graft-serving-").toString

  /** a quantized IVF root, written and loaded back */
  private lazy val ivf = {
    IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 8)
      .write(s"$tmp/ivf", quantize = true)
    IvfIndex.load(spark, s"$tmp/ivf", "vec_id", "embedding")
  }
  private lazy val layout = Some((ivf.centroids, ivf.clusterIds))
  private lazy val books =
    Pq.fit(embeddings, "vec_id", "embedding", m = 8, ksub = 16)

  /** the four PQ root shapes Pq.topK serves, each written and loaded */
  private lazy val pqRoots: Seq[(String, Pq.PqRoot)] = {
    val perm = Pq.opqPermutation(embeddings, "embedding", 8)
    val opqBooks = Pq.fit(
      embeddings.withColumn("__r", Pq.permuteCol("embedding", perm)),
      "vec_id", "__r", m = 8, ksub = 16)
    val residualBooks = Pq.fitResidual(ivf.assigned, "vec_id", "embedding",
      ivf.centroids, ivf.clusterIds, m = 8, ksub = 16)
    Pq.writeRoot(spark, s"$tmp/pq_flat", embeddings, "embedding", books)
    Pq.writeRoot(spark, s"$tmp/pq_ivf", embeddings, "embedding", books,
      ivf = layout)
    Pq.writeRoot(spark, s"$tmp/pq_resid", embeddings, "embedding",
      residualBooks, residual = true, ivf = layout)
    Pq.writeRoot(spark, s"$tmp/pq_opq", embeddings, "embedding", opqBooks,
      perm = Some(perm))
    Seq("flat", "ivf", "resid", "opq").map(n =>
      n -> Pq.loadRoot(spark, s"$tmp/pq_$n"))
  }

  /** the RagPipeline corpus: chunks embedded into two components, with
    * its own 16-dim vectors */
  private lazy val ragEmbedder = HashEmbedder(dim = 16)
  private lazy val ragCorpus = {
    val chunks = MarkdownIngest.ingest(spark,
      getClass.getResource("/corpus").getPath, Seq("oracle"))
    CorpusStore.fromChunks(chunks, "observer", ragEmbedder)
      .union(CorpusStore.fromChunks(chunks, "ocp", ragEmbedder)).cache()
  }
  private lazy val ragComponents = ragCorpus.select("component_code")
    .distinct().collect().map(_.getInt(0)).toSeq

  private def queryVec(id: Long): Seq[Float] =
    embeddings.filter(col("vec_id") === id).head().getSeq[Float](1)

  private def pqSearch(root: Pq.PqRoot, data: DataFrame)(
      q: Seq[Float]): DataFrame =
    Pq.topK(data, "vec_id", "embedding", q, 10, root,
      nprobe = 3, tieBreak = Some("vec_id"), rankRoundDp = Some(4))

  /** a quantized IVF root laid out by component and cluster */
  private lazy val scopedIvf = {
    IvfIndex.build(embeddings.withColumn("component",
        (col("vec_id") % 4).cast("int")), "vec_id", "embedding", nlist = 8,
        componentCol = Some("component"))
      .write(s"$tmp/ivf_scoped", quantize = true)
    IvfIndex.load(spark, s"$tmp/ivf_scoped", "vec_id", "embedding")
  }

  test("a single quantized top-k is ONE Spark job: IVF-SQ8 and PQ on " +
      "flat, IVF, residual and OPQ roots") {
    val q = queryVec(3L)
    // the IVF root read through its parquet scan; the resident tier's
    // zero-job rows are below
    val searches: Seq[(String, () => DataFrame)] =
      ("IvfIndex.searchQuantized", () => onSparkPath(ivf.searchQuantized(q,
        10, nprobe = 3, tieBreak = Some("vec_id"), rankRoundDp = Some(4)))) +:
        pqRoots.map { case (name, root) =>
          val data = root.data(spark)
          (s"Pq.topK $name", () => pqSearch(root, data)(q))
        }
    for ((name, search) <- searches) {
      val first = search().collect()
      assert(first.length == 10, s"$name returned ${first.length} rows")
      var again: Array[org.apache.spark.sql.Row] = null
      val jobs = jobsRun { again = search().collect() }
      assert(jobs == 1, s"$name ran $jobs Spark jobs, expected one")
      assert(again.toSeq == first.toSeq, s"$name is not deterministic")
    }
  }

  test("a resident IVF root answers search (scoped and unscoped), " +
      "searchQuantized and searchBatch with ZERO Spark jobs, and a second " +
      "query vector compiles no class") {
    import spark.implicits._
    VectorExpressions.ensureRegistered(spark)
    def batch(ids: Seq[Long]) = ids.map(i => (i, queryVec(i))).toDF("qid", "qvec")
    val (qa, qb) = (queryVec(3L), queryVec(11L))
    val batches = Map(qa -> batch(Seq(3L, 5L, 8L)),
      qb -> batch(Seq(11L, 13L, 21L)))
    val searches: Seq[(String, Seq[Float] => DataFrame)] = Seq(
      ("IvfIndex.search", q => scopedIvf.search(q, 10, nprobe = 3,
        metric = KnnSearch.NativeL2, tieBreak = Some("vec_id"),
        rankRoundDp = Some(4))),
      ("IvfIndex.search scoped", q => scopedIvf.search(q, 10, nprobe = 3,
        metric = KnnSearch.NativeL2, tieBreak = Some("vec_id"),
        components = Seq(1), rankRoundDp = Some(4))),
      ("IvfIndex.searchQuantized", q => scopedIvf.searchQuantized(q, 10,
        nprobe = 3, tieBreak = Some("vec_id"), rankRoundDp = Some(4))),
      ("IvfIndex.searchBatch", q => scopedIvf.searchBatch(
        batches(q), "qid", "qvec", 10, nprobe = 3,
        tieBreak = "vec_id", rankRoundDp = Some(4),
        metric = KnnSearch.NativeL2)),
      ("IvfIndex.searchQuantizedBatch", q => scopedIvf.searchQuantizedBatch(
        batches(q), "qid", "qvec", 10, nprobe = 3, tieBreak = "vec_id",
        rankRoundDp = Some(4))))
    for ((name, search) <- searches) {
      val first = search(qa).collect()
      assert(first.nonEmpty, s"$name returned no rows")
      var again: Array[org.apache.spark.sql.Row] = null
      val jobs = jobsRun { again = search(qa).collect() }
      assert(jobs == 0, s"$name ran $jobs Spark jobs on a resident root")
      assert(again.toSeq == first.toSeq, s"$name is not deterministic")
      val compiled = classesCompiled { search(qb).collect() }
      assert(compiled == 0,
        s"$name compiled $compiled new classes for a second query vector")
    }
  }

  test("over parquet a quantized batch is one lazy plan: 3 Spark jobs, " +
      "call plus collect, where the join re-rank ran 6 (IVF-SQ8 and " +
      "IVF-PQ)") {
    import spark.implicits._
    val qs = Seq(3L, 5L, 8L, 13L).map(i => (i, queryVec(i))).toDF("qid", "qvec")
    val pqIvf = pqRoots.toMap.apply("ivf")
    val pqData = pqIvf.data(spark)
    // (name, batch, jobs of the join re-rank, which collected the
    // candidate pairs at call time)
    val batches: Seq[(String, () => DataFrame, Int)] = Seq(
      ("IvfIndex.searchQuantizedBatch", () => onSparkPath(
        ivf.searchQuantizedBatch(qs, "qid", "qvec", 10, nprobe = 3,
          tieBreak = "vec_id", rankRoundDp = Some(4))), 6),
      ("Pq.topKBatch ivf", () => Pq.topKBatch(pqData, "vec_id", "embedding",
        qs, "qid", "qvec", 10, pqIvf, nprobe = 3, tieBreak = "vec_id",
        rankRoundDp = Some(4)), 6))
    for ((name, batch, before) <- batches) {
      val first = batch().collect()
      assert(first.length == 40, s"$name returned ${first.length} rows")
      var again: Array[org.apache.spark.sql.Row] = null
      val jobs = jobsRun { again = batch().collect() }
      assert(jobs <= 3 && jobs < before,
        s"$name ran $jobs Spark jobs, call plus collect")
      assert(again.toSet == first.toSet, s"$name is not deterministic")
    }
  }

  test("a query of the wrong dimension fails with one defined error on " +
      "every IVF search form, resident and over parquet") {
    import spark.implicits._
    val q = queryVec(3L)
    val pqIvf = pqRoots.toMap.apply("ivf")
    val pqData = pqIvf.data(spark)
    for (bad <- Seq(q :+ 0.5f, q.dropRight(1)); resident <- Seq(true, false)) {
      val qs = Seq((1L, bad)).toDF("qid", "qvec")
      val forms: Seq[(String, () => DataFrame)] = Seq(
        ("search", () => ivf.search(bad, 5, nprobe = 3)),
        ("searchQuantized", () => ivf.searchQuantized(bad, 5, nprobe = 3)),
        ("searchBatch", () => ivf.searchBatch(qs, "qid", "qvec", 5,
          nprobe = 3, tieBreak = "vec_id")),
        ("searchQuantizedBatch", () => ivf.searchQuantizedBatch(qs, "qid",
          "qvec", 5, nprobe = 3, tieBreak = "vec_id")),
        ("Pq.topK ivf", () => Pq.topK(
          if (resident) IvfIndex.residentRows(pqData).get else pqData,
          "vec_id", "embedding", bad, 5, pqIvf, nprobe = 3)))
      for ((name, run) <- forms) {
        val ex = intercept[IllegalArgumentException] {
          if (resident) run().collect() else onSparkPath(run()).collect()
        }
        assert(ex.getMessage.contains("dimension mismatch"),
          s"$name, ${bad.length}-dim query, resident=$resident: $ex")
      }
    }
  }

  test("RagPipeline.retrieve is ONE Spark job: the reference numbering " +
      "plans no join, no broadcast and no Exchange after the rerank") {
    val q = ragEmbedder.embedQuery(spark, "vector search index")
    def retrieve() = RagPipeline.retrieve(ragCorpus, q,
      "vector search index", ragComponents)
    val first = retrieve().collect()
    assert(first.length == 10)
    val df = retrieve()
    var again: Array[org.apache.spark.sql.Row] = null
    val jobs = jobsRun { again = df.collect() }
    assert(jobs == 1, s"RagPipeline.retrieve ran $jobs Spark jobs")
    assert(again.toSeq == first.toSeq)
    val plan = df.queryExecution.executedPlan.toString
    for (op <- Seq("BroadcastExchange", "SortMergeJoin", "BroadcastHashJoin"))
      assert(!plan.contains(op), s"$op in the plan:\n$plan")
    // the rerank is the first TakeOrderedAndProject from the top; the
    // numbering windows and the closing sort above it need no Exchange
    val aboveRerank = plan.linesIterator
      .takeWhile(!_.contains("TakeOrderedAndProject")).toSeq
    assert(aboveRerank.size < plan.linesIterator.size,
      s"no rerank in the plan:\n$plan")
    assert(!aboveRerank.exists(_.contains("Exchange")),
      s"an Exchange above the rerank:\n$plan")
  }

  test("a second query vector compiles no new class on any top-k path") {
    VectorExpressions.ensureRegistered(spark)
    val (qa, qb) = (queryVec(3L), queryVec(11L))
    val binRoot = s"$tmp/binary"
    BinaryHash.writeRoot(spark, binRoot, embeddings, "embedding", qa.length)
    val bin = spark.read.parquet(s"$binRoot/${BinaryHash.DataSubdir}")
    def cosine(q: Seq[Float]) = (v: org.apache.spark.sql.Column) =>
      KnnSearch.roundHalfUpCol(
        VectorFunctions.cosineSimilarityNative(v, KnnSearch.litVec(q)), 4)
    val (pqRoot, pqData) = {
      val r = pqRoots.toMap.apply("ivf")
      (r, r.data(spark))
    }
    val ragVecs = ragCorpus.select("embedding").distinct().take(2)
      .map(_.getSeq[Float](0))
    // the thin-table form over the same rows: vectors alone, documents
    // hydrated by id
    val ragVectors = ragCorpus.select("id", "embedding", "component_code")
    val ragDocs = ragCorpus.select(col("id").as("doc_id"), col("document"),
      col("metadata"))
    // answer embeds its query text; this embedder hands back the vector
    // under test, so the same text runs with a second query vector
    def embedding(q: Seq[Float]) = new Embedder {
      val dim = q.size
      def embedCol(text: Column) = ragEmbedder.embedCol(text)
      override def embedQuery(s: SparkSession, text: String) = q
    }

    val paths: Seq[(String, Seq[Float] => DataFrame)] = Seq(
      ("IvfIndex.search", q => ivf.search(q, 10, nprobe = 3,
        metric = KnnSearch.NativeL2, tieBreak = Some("vec_id"),
        rankRoundDp = Some(4))),
      ("IvfIndex.searchQuantized", q => ivf.searchQuantized(q, 10,
        nprobe = 3, tieBreak = Some("vec_id"), rankRoundDp = Some(4))),
      ("Pq.topK", pqSearch(pqRoot, pqData)),
      ("BinaryHash.topK", q => BinaryHash.topK(embeddings, "embedding",
        "vec_id", q, k = 10, candidates = 40, rerank = cosine(q))),
      ("BinaryHash.topKStored", q => BinaryHash.topKStored(bin,
        BinaryHash.CodeCol, "embedding", "vec_id", q, k = 10,
        candidates = 40, rerank = cosine(q))),
      ("KnnSearch.topK", q => KnnSearch.topK(embeddings, "embedding", q, 10,
        KnnSearch.NativeL2, tieBreak = Some("vec_id"),
        rankRoundDp = Some(4))))
    // the RagPipeline corpus has its own 16-dim vectors
    val ragPaths: Seq[(String, Seq[Float] => Any)] = Seq(
      ("RagPipeline.retrieve", q => RagPipeline.retrieve(ragCorpus, q,
        "vector search index", ragComponents, metric = KnnSearch.NativeL2,
        rankRoundDp = Some(4)).collect()),
      ("RagPipeline.retrieveThin", q => RagPipeline.retrieveThin(
        ragVectors, ragDocs, "doc_id", q, "vector search index",
        ragComponents, metric = KnnSearch.NativeL2,
        rankRoundDp = Some(4)).collect()),
      ("RagPipeline.answer", q => RagPipeline.answer(spark, ragCorpus,
        embedding(q), "vector search index", Seq("ocp"))))
    val cases =
      paths.map { case (name, search) =>
        (name, (q: Seq[Float]) => search(q).collect(), qa, qb)
      } ++ ragPaths.map { case (name, run) =>
        (name, run, ragVecs(0), ragVecs(1))
      }
    for ((name, run, a, b) <- cases) {
      run(a)
      val compiled = classesCompiled { run(b) }
      assert(compiled == 0,
        s"$name compiled $compiled new classes for a second query vector")
    }
  }
}
