package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{HashEmbedder, VectorFunctions}
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
    java.nio.file.Files.createTempDirectory("graft-serving-").toString

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

  private def queryVec(id: Long): Seq[Float] =
    embeddings.filter(col("vec_id") === id).head().getSeq[Float](1)

  private def pqSearch(root: Pq.PqRoot, data: DataFrame)(
      q: Seq[Float]): DataFrame =
    Pq.topK(data, "vec_id", "embedding", q, 10, root,
      nprobe = 3, tieBreak = Some("vec_id"), rankRoundDp = Some(4))

  test("a single quantized top-k is ONE Spark job: IVF-SQ8 and PQ on " +
      "flat, IVF, residual and OPQ roots") {
    val q = queryVec(3L)
    val searches: Seq[(String, () => DataFrame)] =
      ("IvfIndex.searchQuantized", () => ivf.searchQuantized(q, 10,
        nprobe = 3, tieBreak = Some("vec_id"), rankRoundDp = Some(4))) +:
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
    // the RagPipeline corpus: chunks embedded into two components
    val embedder = HashEmbedder(dim = 16)
    val chunks = MarkdownIngest.ingest(spark,
      getClass.getResource("/corpus").getPath, Seq("oracle"))
    val ragCorpus = CorpusStore.fromChunks(chunks, "observer", embedder)
      .union(CorpusStore.fromChunks(chunks, "ocp", embedder)).cache()
    val ragVecs = ragCorpus.select("embedding").distinct().take(2)
      .map(_.getSeq[Float](0))
    val ragComponents = ragCorpus.select("component_code").distinct()
      .collect().map(_.getInt(0)).toSeq

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
    val cases = paths.map { case (name, search) => (name, search, qa, qb) } :+
      (("RagPipeline.retrieve", (q: Seq[Float]) =>
        RagPipeline.retrieve(ragCorpus, q, "vector search index",
          ragComponents, metric = KnnSearch.NativeL2, rankRoundDp = Some(4)),
        ragVecs(0), ragVecs(1)))
    for ((name, search, a, b) <- cases) {
      search(a).collect()
      val compiled = classesCompiled { search(b).collect() }
      assert(compiled == 0,
        s"$name compiled $compiled new classes for a second query vector")
    }
  }
}
