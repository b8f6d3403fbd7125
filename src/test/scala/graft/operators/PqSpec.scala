package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class PqSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"
  private lazy val embeddings =
    spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
  private lazy val books =
    Pq.fit(embeddings, "vec_id", "embedding", m = 8, ksub = 16)
  private lazy val encoded =
    Pq.encode(embeddings, "embedding", books).cache()

  /** the index description of an in-memory encode: flat unless an IVF
    * layout is named */
  private def pqIndex(b: Pq.Codebooks, ivf: Option[IvfIndex] = None,
      residual: Boolean = false,
      perm: Option[Array[Int]] = None): Pq.PqRoot =
    Pq.PqRoot("", b, residual, ivf.map(i => (i.centroids, i.clusterIds)),
      perm)

  private def queryVecs(n: Int): Seq[Seq[Float]] =
    embeddings.orderBy("vec_id").limit(n)
      .select("embedding").collect().map(_.getSeq[Float](0)).toSeq

  /** the filtered parity input: a ~1/3 predicate and its selectivity */
  private val thirdFilter = pmod(col("vec_id"), lit(3L)) === 1L
  private val third = Some(1.0 / 3)

  /** batch rows per query, each query's (id, dist) sorted */
  private def batchRows(df: org.apache.spark.sql.DataFrame)
      : Map[Long, Seq[(Long, Double)]] =
    df.select("query_id", "vec_id", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(t => (t._2, t._3))
        .sortBy(identity).toSeq }

  /** the single-query rows of queries 0, 1, 2 in [[batchRows]]' shape */
  private def singleRows(search: Seq[Float] => org.apache.spark.sql.DataFrame)
      : Map[Long, Seq[(Long, Double)]] =
    Seq(0L, 1L, 2L).map { qid =>
      val qv = embeddings.filter(col("vec_id") === qid)
        .select("embedding").head().getSeq[Float](0)
      qid -> search(qv).select("vec_id", "dist").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(identity).toSeq
    }.toMap

  test("a books sidecar rewritten by another process is re-read, not served stale") {
    // the books entry keys on a content stamp of the sidecar files (r21
    // verdict #7 / advice): a rewrite by a writer that fires no in-JVM
    // eviction hook must be observed by the next load
    import spark.implicits._
    val tmp = tempDir("graft-pq-stamp")
      .toString
    books.write(spark, s"$tmp/books")
    val first = Pq.load(spark, s"$tmp/books")
    // foreign rewrite: same schema, shifted centroid values, written
    // directly with spark (no in-JVM invalidation fires)
    (for (s <- 0 until first.m; c <- 0 until first.ksub)
      yield (s, c, first.cb(s)(c).map(_ + 1.0f).toSeq, first.normalized))
      .toDF("sub", "code", "centroid", "normalized")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/books")
    val second = Pq.load(spark, s"$tmp/books")
    assert(second.cb(0)(0).toSeq == first.cb(0)(0).map(_ + 1.0f).toSeq,
      "Pq.load served stale cached books after a foreign rewrite")
    // N more foreign rewrites, each observed: the superseded stamps are
    // dropped, so the path holds ONE cache entry, not N + 2
    for (i <- 2 to 4) {
      (for (s <- 0 until first.m; c <- 0 until first.ksub)
        yield (s, c, first.cb(s)(c).map(_ + i.toFloat).toSeq, false))
        .toDF("sub", "code", "centroid", "normalized")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/books")
      assert(Pq.load(spark, s"$tmp/books").cb(0)(0).toSeq ==
        first.cb(0)(0).map(_ + i.toFloat).toSeq)
    }
    def entries(kind: String, path: String): Int =
      graft.sources.PersistedRoot.cachedKeys(spark, path).count(_._2 == kind)
    assert(entries("pq.books", s"$tmp/books") == 1)
    // the root-metadata cache evicts the same way: a flat root whose
    // meta sidecar is rewritten in place N times
    val root = s"$tmp/root"
    Pq.writeRoot(spark, root, embeddings.limit(64), "embedding", books)
    assert(!Pq.loadRoot(spark, root).residual)
    for (_ <- 1 to 3) {
      Seq(false).toDF("residual").coalesce(1).write.mode("overwrite")
        .parquet(s"$root/${Pq.MetaSubdir}")
      Pq.loadRoot(spark, root)
    }
    assert(entries("pq.root", root) == 1)
  }

  test("PqRoot.data serves a cached schema: writeRoot, appendEncoded and " +
      "a foreign rewrite are each seen; one entry per root") {
    val tmp = tempDir("graft-pq-schema")
      .toString
    val root = s"$tmp/root"
    val dataPath = s"$root/${Pq.DataSubdir}"
    val raw = embeddings.select("vec_id", "embedding")
    def data() = Pq.loadRoot(spark, root).data(spark)
    def entries(): Int = graft.sources.PersistedRoot
      .cachedKeys(spark, dataPath).count(_._2 == "pq.schema")
    Pq.writeRoot(spark, root, raw.filter(col("vec_id") < 64L), "embedding",
      books)
    assert(data().count() == 64)
    // a cache hit reads the root without a schema-inference job
    val loaded = Pq.loadRoot(spark, root)
    assert(jobsRun(loaded.data(spark)) == 0,
      "a cached-schema read must launch no Spark job")
    // appendEncoded: the appended rows are read
    Pq.appendEncoded(spark, root,
      raw.filter(col("vec_id") >= 64L && col("vec_id") < 72L), "embedding")
    assert(data().count() == 72)
    // writeRoot with a new column: the new schema is served
    Pq.writeRoot(spark, root,
      raw.filter(col("vec_id") < 64L).withColumn("tag", lit("a")),
      "embedding", books)
    assert(data().columns.contains("tag") && data().count() == 64)
    // foreign rewrites (no in-JVM invalidation fires): each new schema
    // is seen, and the superseded stamps are dropped
    for (i <- 1 to 3) {
      val next = spark.read.parquet(dataPath)
        .withColumn(s"foreign_$i", lit(i)).localCheckpoint()
      next.write.mode("overwrite").parquet(dataPath)
      assert(data().columns.contains(s"foreign_$i"),
        s"PqRoot.data served a stale schema after foreign rewrite $i")
    }
    assert(entries() == 1, s"${entries()} schema entries for one root")
    // and the in-JVM invalidation evicts the root's entry
    graft.sources.PersistedRoot.invalidate(spark, root)
    assert(entries() == 0)
  }

  test("fit and encode are deterministic; round-trip through parquet") {
    val again = Pq.fit(embeddings, "vec_id", "embedding", m = 8,
      ksub = 16)
    books.cb.zip(again.cb).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
    }
    val tmp = tempDir("graft-pq-")
      .toString
    books.write(spark, s"$tmp/books")
    val loaded = Pq.load(spark, s"$tmp/books")
    assert(loaded.dim == books.dim && loaded.m == books.m &&
      loaded.ksub == books.ksub)
    loaded.cb.zip(books.cb).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
    }
    // identical codes from the loaded codebooks
    val c1 = encoded.select("vec_id", Pq.CodeCol).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val c2 = Pq.encode(embeddings, "embedding", loaded)
      .select("vec_id", Pq.CodeCol).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(c1 == c2)
  }

  test("full-refine ADC equals the exact search; recall holds at the " +
      "production refine") {
    val q = queryVecs(1).head
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "dist").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // refine covering the corpus: the exact re-rank sees every row, so
    // the lossy candidate cut cannot drop a true neighbor
    val full = rows(Pq.topK(encoded, "vec_id", "embedding", q, 10,
      pqIndex(books), refine = 100000, tieBreak = Some("vec_id"),
      rankRoundDp = Some(4)))
    val exact = rows(KnnSearch.topK(
      embeddings, "embedding", q, 10, KnnSearch.NativeL2,
      tieBreak = Some("vec_id"), rankRoundDp = Some(4)))
    assert(full == exact, "full-refine PQ must equal exact search")
    // recall at the production margin — uniform synthetic vectors are
    // PQ's WORST case (no cluster structure for the codebooks to
    // exploit), so the bound is modest by design; real embedding
    // corpora sit far higher
    val rs = queryVecs(10).map { qv =>
      val ex = KnnSearch.topK(embeddings, "embedding", qv, 10,
          KnnSearch.L2, tieBreak = Some("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val ap = Pq.topK(encoded, "vec_id", "embedding", qv, 10,
          pqIndex(books), refine = 4, tieBreak = Some("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      ex.intersect(ap).size.toDouble / 10
    }
    val recall = rs.sum / rs.size
    assert(recall >= 0.5, s"PQ recall at refine=4: $recall")
    // and refine widens recall monotonically toward exact
    val rs16 = queryVecs(10).map { qv =>
      val ex = KnnSearch.topK(embeddings, "embedding", qv, 10,
          KnnSearch.L2, tieBreak = Some("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val ap = Pq.topK(encoded, "vec_id", "embedding", qv, 10,
          pqIndex(books), refine = 16, tieBreak = Some("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      ex.intersect(ap).size.toDouble / 10
    }
    assert(rs16.sum / rs16.size >= recall,
      "recall must not shrink as refine grows")
  }

  test("guards: null vectors, dimension mismatch, code collision, " +
      "bad params") {
    import spark.implicits._
    intercept[Exception] {
      Pq.encode(Seq((1L, null: Seq[Float])).toDF("vec_id", "embedding"),
        "embedding", books).collect()
    }
    intercept[Exception] {
      Pq.encode(Seq((1L, Seq(1f, 2f))).toDF("vec_id", "embedding"),
        "embedding", books).collect()
    }
    intercept[IllegalArgumentException] {
      Pq.encode(encoded, "embedding", books)
    }
    intercept[IllegalArgumentException] {
      Pq.topK(embeddings, "vec_id", "embedding", queryVecs(1).head,
        10, pqIndex(books))
    }
    intercept[IllegalArgumentException] {
      Pq.topK(encoded, "vec_id", "embedding", Seq(1f, 2f), 10,
        pqIndex(books))
    }
    intercept[IllegalArgumentException] {
      Pq.Codebooks(64, 7, books.cb) // m must divide dim
    }
  }

  test("IVF-PQ: full-probe equals flat ADC; the probe filter prunes " +
      "partitions; missing cluster layout refused") {
    val idx = IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 8)
    val tmp = tempDir("graft-ivfpq-")
      .toString
    Pq.encode(idx.assigned, "embedding", books)
      .write.partitionBy(IvfIndex.ClusterCol).parquet(s"$tmp/data")
    val enc = spark.read.parquet(s"$tmp/data")
    val q = queryVecs(1).head
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "dist").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // nprobe = nlist: every cluster probed — identical to flat ADC
    val full = rows(Pq.topK(enc, "vec_id", "embedding", q, 10,
      pqIndex(books, Some(idx)), nprobe = idx.nlist, refine = 4,
      tieBreak = Some("vec_id"), rankRoundDp = Some(4)))
    val flat = rows(Pq.topK(encoded, "vec_id", "embedding", q, 10,
      pqIndex(books), refine = 4, tieBreak = Some("vec_id"),
      rankRoundDp = Some(4)))
    assert(full == flat, "full-probe IVF-PQ must equal flat ADC")
    // the probed narrow scan is directory-pruned
    val probes = IvfIndex.probeOrder(idx.centroids, idx.clusterIds, q)
      .take(2)
    val plan = enc
      .filter(col(IvfIndex.ClusterCol).isin(probes: _*))
      .select(col("vec_id"), col(Pq.CodeCol))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains(IvfIndex.ClusterCol),
      s"expected a partition-pruned code scan:\n$plan")
    // a corpus without the cluster layout is refused loudly
    intercept[IllegalArgumentException] {
      Pq.topK(encoded, "vec_id", "embedding", q, 10, pqIndex(books, Some(idx)),
        nprobe = 2)
    }
  }

  test("batch IVF-PQ is bit-equal per query to single topKProbed; " +
      "guards hold") {
    import spark.implicits._
    val idx = IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 8)
    val tmp = tempDir("graft-ivfpqb-")
      .toString
    Pq.encode(idx.assigned, "embedding", books)
      .write.partitionBy(IvfIndex.ClusterCol).parquet(s"$tmp/data")
    val enc = spark.read.parquet(s"$tmp/data")
    val queries = embeddings.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // unfiltered, and filtered with a widened probe budget
    for ((filter, sel) <- Seq((None, None), (Some(thirdFilter), third))) {
      val batch = batchRows(Pq.topKBatch(enc, "vec_id", "embedding",
        queries, "qid", "qv", k = 3, pqIndex(books, Some(idx)), nprobe = 4,
        refine = 4, tieBreak = "vec_id", rankRoundDp = Some(4),
        filter = filter, filterSelectivity = sel))
      val single = singleRows(qv => Pq.topK(enc, "vec_id", "embedding",
        qv, 3, pqIndex(books, Some(idx)), nprobe = 4, refine = 4,
        tieBreak = Some("vec_id"), rankRoundDp = Some(4), filter = filter,
        filterSelectivity = sel))
      assert(batch == single, "batch IVF-PQ must equal the single-query " +
        s"path per query (filter = $filter)")
    }
    // corpus/books mismatch fails LOUDLY, not with wrong neighbors:
    // wrong m (code length) and wrong ksub (code byte out of range)
    val books4 = Pq.fit(embeddings, "vec_id", "embedding", m = 4,
      ksub = 16)
    val e1 = intercept[Exception] {
      Pq.topK(encoded, "vec_id", "embedding", queryVecs(1).head, 3,
        pqIndex(books4)).collect()
    }
    assert(e1.getMessage != null && e1.getMessage.contains("codebooks"),
      s"wrong-m error should name the codebooks: ${e1.getMessage}")
    val books8 = Pq.fit(embeddings, "vec_id", "embedding", m = 8,
      ksub = 8)
    val e2 = intercept[Exception] {
      Pq.topK(encoded, "vec_id", "embedding", queryVecs(1).head, 3,
        pqIndex(books8)).collect()
    }
    assert(e2.getMessage != null && e2.getMessage.contains("codebooks"),
      s"wrong-ksub error should name the codebooks: ${e2.getMessage}")
    // batch collision + missing-layout guards
    intercept[IllegalArgumentException] {
      Pq.topKBatch(encoded, "vec_id", "embedding", queries, "qid",
        "qv", 3, pqIndex(books, Some(idx)), nprobe = 2)
    }
    intercept[IllegalArgumentException] {
      Pq.topKBatch(enc.withColumn("dist", lit(0.0)), "vec_id",
        "embedding", queries, "qid", "qv", 3, pqIndex(books, Some(idx)),
        nprobe = 2)
    }
  }

  test("a degenerate subspace keeps its own codebook small without " +
      "collapsing the others") {
    import spark.implicits._
    // subspace 0 constant (a zero-padded dimension block); subspaces
    // 1..3 carry real signal. Before the per-subspace fit, ONE such
    // block clamped every codebook to a single centroid, flattening
    // ADC distances corpus-wide.
    val rows = (0 until 32).map { i =>
      (i.toLong, Seq(0f, 0f) ++ Seq.tabulate(6)(j =>
        ((i * 7 + j * 13) % 29).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val b = Pq.fit(df, "vec_id", "embedding", m = 4, ksub = 4,
      sampleN = 32)
    // rectangular, padded to the largest subspace's k
    assert(b.ksub == 4, s"healthy subspaces must keep ksub=4, got " +
      s"${b.ksub}")
    // the degenerate subspace is all-padding (one distinct centroid)
    assert(b.cb(0).map(_.toSeq).distinct.length == 1)
    // the healthy ones are not collapsed
    assert(b.cb(1).map(_.toSeq).distinct.length == 4)
    // padded codes never appear in encodes, and ADC still separates
    val enc2 = Pq.encode(df, "embedding", b)
    val codes = enc2.select(Pq.CodeCol).collect()
      .map(_.getAs[Array[Byte]](0))
    assert(codes.forall(_(0) == 0), "degenerate subspace codes all 0")
    val top = Pq.topK(enc2, "vec_id", "embedding",
        rows(5)._2, 3, pqIndex(b), refine = 8, tieBreak = Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0))
    assert(top.head == 5L,
      s"self should be its own nearest neighbor, got ${top.toSeq}")
  }

  test("residual IVF-PQ: deterministic, guards hold, recall at equal " +
      "m is >= raw-vector PQ") {
    val idx = IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 8)
    val rbooks = Pq.fitResidual(idx.assigned, "vec_id", "embedding",
      idx.centroids, idx.clusterIds, m = 8, ksub = 16)
    val renc = Pq.encodeResidual(idx.assigned, "embedding", rbooks,
      idx.centroids, idx.clusterIds).cache()
    // residual fit + encode are deterministic end to end
    val rbooks2 = Pq.fitResidual(idx.assigned, "vec_id", "embedding",
      idx.centroids, idx.clusterIds, m = 8, ksub = 16)
    rbooks.cb.zip(rbooks2.cb).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
    }
    val c1 = renc.select("vec_id", Pq.CodeCol).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val c2 = Pq.encodeResidual(idx.assigned, "embedding", rbooks2,
        idx.centroids, idx.clusterIds)
      .select("vec_id", Pq.CodeCol).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(c1 == c2)
    // the original float vectors ride through for the exact re-rank
    assert(renc.columns.contains("embedding") &&
      !renc.columns.contains("__pq_resid"))
    // recall head-to-head at identical (m, ksub, nprobe, refine):
    // residual coding spends all codebook resolution on the
    // within-cluster delta, so it must not lose to raw-vector coding
    val rawEnc = Pq.encode(idx.assigned, "embedding", books).cache()
    val nprobe = 4
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val nq = 20
    val pairs = queryVecs(nq).map { qv =>
      val ex = ids(KnnSearch.topK(embeddings, "embedding", qv, 10,
        KnnSearch.L2, tieBreak = Some("vec_id")))
      val raw = ids(Pq.topK(rawEnc, "vec_id", "embedding", qv,
        10, pqIndex(books, Some(idx)), nprobe, refine = 4,
        tieBreak = Some("vec_id")))
      val res = ids(Pq.topK(renc, "vec_id", "embedding", qv, 10,
        pqIndex(rbooks, Some(idx), residual = true), nprobe, refine = 4,
        tieBreak = Some("vec_id")))
      (ex.intersect(raw).size, ex.intersect(res).size)
    }
    val rawRecall = pairs.map(_._1).sum.toDouble / (10 * nq)
    val resRecall = pairs.map(_._2).sum.toDouble / (10 * nq)
    info(s"recall@10 over $nq queries: raw-PQ $rawRecall, " +
      s"residual-PQ $resRecall")
    // DOCUMENTED PARITY on this corpus: the synthetic vectors are
    // uniform — k-means centroids sit near the global mean, so the
    // residuals are merely centered raw vectors and carry the same
    // coding difficulty (PLANS.md round 13). On clustered real
    // embeddings the residual form's within-cluster delta is strictly
    // easier to code — the reason FAISS defaults IVFPQ to residuals.
    // Guard against regression, not for a win the data cannot show:
    assert(resRecall >= rawRecall - 0.05,
      s"residual-PQ recall $resRecall fell more than noise-width " +
        s"below raw-PQ $rawRecall")
    // guards: missing layout / foreign centroids are loud
    intercept[IllegalArgumentException] {
      Pq.encodeResidual(embeddings, "embedding", rbooks,
        idx.centroids, idx.clusterIds)
    }
    val e = intercept[Exception] {
      Pq.encodeResidual(
        idx.assigned.withColumn(IvfIndex.ClusterCol, lit(9999)),
        "embedding", rbooks, idx.centroids, idx.clusterIds).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("centroid"))
  }

  test("batch residual IVF-PQ is bit-equal per query to single " +
      "topKProbedResidual; guards hold") {
    val idx = IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 8)
    val rbooks = Pq.fitResidual(idx.assigned, "vec_id", "embedding",
      idx.centroids, idx.clusterIds, m = 8, ksub = 16)
    val renc = Pq.encodeResidual(idx.assigned, "embedding", rbooks,
      idx.centroids, idx.clusterIds).cache()
    val queries = embeddings.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val resid = pqIndex(rbooks, Some(idx), residual = true)
    for ((filter, sel) <- Seq((None, None), (Some(thirdFilter), third))) {
      val batch = batchRows(Pq.topKBatch(renc, "vec_id", "embedding",
        queries, "qid", "qv", k = 3, resid, nprobe = 4, refine = 4,
        tieBreak = "vec_id", rankRoundDp = Some(4), filter = filter,
        filterSelectivity = sel))
      val single = singleRows(qv => Pq.topK(renc, "vec_id", "embedding",
        qv, 3, resid, nprobe = 4, refine = 4, tieBreak = Some("vec_id"),
        rankRoundDp = Some(4), filter = filter, filterSelectivity = sel))
      assert(batch == single, "batch residual IVF-PQ must equal the " +
        s"single-query path per query (filter = $filter)")
    }
    // normalized books are refused (the single-query residual contract)
    val cosBooks = Pq.fit(embeddings, "vec_id", "embedding", m = 8,
      ksub = 16, normalized = true)
    intercept[IllegalArgumentException] {
      Pq.topKBatch(renc, "vec_id", "embedding", queries, "qid", "qv", 3,
        pqIndex(cosBooks, Some(idx), residual = true), nprobe = 2)
    }
    // collision + missing-layout guards
    intercept[IllegalArgumentException] {
      Pq.topKBatch(renc.withColumn("dist", lit(0.0)), "vec_id",
        "embedding", queries, "qid", "qv", 3, resid, nprobe = 2)
    }
    intercept[IllegalArgumentException] {
      Pq.topKBatch(embeddings, "vec_id", "embedding", queries, "qid",
        "qv", 3, resid, nprobe = 2)
    }
  }

  test("cosine PQ: metric<->books enforced both ways, sidecar " +
      "round-trips geometry, full-refine equals exact cosine") {
    val cosBooks = Pq.fit(embeddings, "vec_id", "embedding", m = 8,
      ksub = 16, normalized = true)
    assert(cosBooks.normalized)
    val cosEnc = Pq.encode(embeddings, "embedding", cosBooks).cache()
    val q = queryVecs(1).head
    // contract: raw books refuse cosine, normalized books refuse L2
    intercept[IllegalArgumentException] {
      Pq.topK(encoded, "vec_id", "embedding", q, 5, pqIndex(books),
        metric = KnnSearch.Cosine)
    }
    intercept[IllegalArgumentException] {
      Pq.topK(cosEnc, "vec_id", "embedding", q, 5, pqIndex(cosBooks))
    }
    // the sidecar carries the geometry; a legacy sidecar (no column)
    // loads as raw books
    val tmp = tempDir("graft-pqcos-")
      .toString
    cosBooks.write(spark, s"$tmp/books")
    assert(Pq.load(spark, s"$tmp/books").normalized)
    spark.read.parquet(s"$tmp/books").drop("normalized")
      .write.parquet(s"$tmp/legacy")
    assert(!Pq.load(spark, s"$tmp/legacy").normalized)
    // full-refine cosine ADC == the exact cosine search (the lossy
    // candidate cut cannot drop a true neighbor when it sees all rows)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "dist").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = rows(Pq.topK(cosEnc, "vec_id", "embedding", q, 10,
      pqIndex(cosBooks), refine = 100000, tieBreak = Some("vec_id"),
      rankRoundDp = Some(4), metric = KnnSearch.Cosine))
    val exact = rows(KnnSearch.topK(embeddings, "embedding", q, 10,
      KnnSearch.NativeCosine, tieBreak = Some("vec_id"),
      rankRoundDp = Some(4)))
    assert(full == exact, "full-refine cosine PQ must equal exact " +
      "cosine search")
    // the residual form refuses normalized books loudly
    val idx = IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 8)
    intercept[IllegalArgumentException] {
      Pq.topK(cosEnc, "vec_id", "embedding", q, 5,
        pqIndex(cosBooks, Some(idx), residual = true), nprobe = 2)
    }
    // batch cosine is bit-equal per query to single probed cosine
    import spark.implicits._
    val clusterEnc = Pq.encode(idx.assigned, "embedding", cosBooks)
      .cache()
    val queries = embeddings.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    for ((filter, sel) <- Seq((None, None), (Some(thirdFilter), third))) {
      val batch = batchRows(Pq.topKBatch(clusterEnc, "vec_id",
        "embedding", queries, "qid", "qv", k = 3, pqIndex(cosBooks, Some(idx)),
        nprobe = 4, refine = 4, tieBreak = "vec_id", rankRoundDp = Some(4),
        metric = KnnSearch.Cosine, filter = filter,
        filterSelectivity = sel))
      val single = singleRows(qv => Pq.topK(clusterEnc, "vec_id",
        "embedding", qv, 3, pqIndex(cosBooks, Some(idx)), nprobe = 4,
        refine = 4, tieBreak = Some("vec_id"), rankRoundDp = Some(4),
        metric = KnnSearch.Cosine, filter = filter,
        filterSelectivity = sel))
      assert(batch == single, "batch cosine IVF-PQ must equal the " +
        s"single-query path per query (filter = $filter)")
    }
  }

  // ---- OPQ: variance-balanced dimension permutation --------------------

  /** an ANISOTROPIC corpus built to punish the identity subspace
    * split: the 4 high-variance dims are CONSECUTIVE (0..3), so
    * identity PQ burns one subspace's whole codebook on them while
    * the other three subspaces quantize noise — the variance
    * allocation deals them one per bucket */
  private def anisoVec(i: Long, dim: Int): Seq[Float] =
    (0 until dim).map { j =>
      // a DIFFERENT stride per dim (3 + 2j coprime-ish with 97) so
      // dims are pseudo-independent — a shared stride would make the
      // hot dims shifted copies of one curve, which identity PQ
      // quantizes just fine and the test would measure nothing
      val base = ((i * (3 + 2 * j) + j * j * 5) % 97) / 97f - 0.5f
      if (j < 4) base * 8f else base * 0.25f
    }
  private lazy val aniso = {
    import spark.implicits._
    (0L until 300L).map(i => (i, anisoVec(i, 16)))
      .toDF("vec_id", "embedding").cache()
  }

  test("opqPermutation: a deterministic permutation that balances subspace variance") {
    val p1 = Pq.opqPermutation(aniso, "embedding", m = 4)
    val p2 = Pq.opqPermutation(aniso, "embedding", m = 4)
    assert(p1.sameElements(p2), "permutation must be deterministic")
    assert(p1.sorted.sameElements(0 until 16), "must be a permutation")
    // the 4 high-variance dims land one per subspace
    val buckets = p1.grouped(4).toSeq
    assert(buckets.forall(b => b.count(_ < 4) == 1),
      s"variance allocation must deal the hot dims apart, got " +
        buckets.map(_.toSeq).toString)
  }

  test("flat topKBatch is bit-equal per query to topK, with and without perm") {
    import spark.implicits._
    val perm = Pq.opqPermutation(aniso, "embedding", m = 4)
    val booksP = Pq.fit(aniso, "vec_id", "embedding", m = 4, ksub = 16)
    val booksO = Pq.fit(
      aniso.withColumn("__r", Pq.permuteCol("embedding", perm)),
      "vec_id", "__r", m = 4, ksub = 16)
    val encP = Pq.encode(aniso, "embedding", booksP).cache()
    val encO = Pq.encode(
        aniso.withColumn("__r", Pq.permuteCol("embedding", perm)),
        "__r", booksO).drop("__r").cache()
    val qs = (0L until 4L).map(i =>
      (i, anisoVec(i, 16).map(_ * 1.03f)))
    val qDf = qs.toDF("qid", "qv")
    for ((enc, books, perm0) <- Seq(
        (encP, booksP, None),
        (encO, booksO, Some(perm)));
        filter <- Seq(None, Some(thirdFilter))) {
      val index = pqIndex(books, perm = perm0)
      val batch = Pq.topKBatch(enc, "vec_id", "embedding", qDf,
          "qid", "qv", k = 5, index, refine = 4, tieBreak = "vec_id",
          rankRoundDp = Some(4), filter = filter)
        .select(col("query_id"), col("vec_id"), col("dist"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1)
      for ((qid, q) <- qs) {
        val single = Pq.topK(enc, "vec_id", "embedding", q, k = 5,
            index, refine = 4, tieBreak = Some("vec_id"),
            rankRoundDp = Some(4), filter = filter)
          .select(col("vec_id"), col("dist")).collect()
          .map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
        assert(batch(qid).toSeq == single, s"batch != single for " +
          s"query $qid (perm=${perm0.nonEmpty}, filter=$filter)")
        if (filter.nonEmpty)
          assert(single.forall(_._2 % 3 == 1), "filtered rows leaked")
      }
    }
  }

  test("OPQ recall >= plain PQ at equal code budget on the anisotropic corpus") {
    import spark.implicits._
    val perm = Pq.opqPermutation(aniso, "embedding", m = 4)
    val booksP = Pq.fit(aniso, "vec_id", "embedding", m = 4, ksub = 16)
    val booksO = Pq.fit(
      aniso.withColumn("__r", Pq.permuteCol("embedding", perm)),
      "vec_id", "__r", m = 4, ksub = 16)
    val encP = Pq.encode(aniso, "embedding", booksP).cache()
    val encO = Pq.encode(
        aniso.withColumn("__r", Pq.permuteCol("embedding", perm)),
        "__r", booksO).drop("__r").cache()
    val queries = (0L until 10L).map(i =>
      anisoVec(i * 17, 16).map(_ * 1.05f))
    // refine = 1: no exact-re-rank headroom — the candidate cut IS the
    // answer, so the codes' own resolution is what's measured
    def hits(enc: org.apache.spark.sql.DataFrame, books: Pq.Codebooks,
        p: Option[Array[Int]]): Int = queries.map { q =>
      val approx = Pq.topK(enc, "vec_id", "embedding", q, 10,
          pqIndex(books, perm = p), refine = 1, tieBreak = Some("vec_id"),
          rankRoundDp = Some(4))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val exact = KnnSearch.topK(aniso, "embedding", q, 10,
          KnnSearch.NativeL2, tieBreak = Some("vec_id"),
          rankRoundDp = Some(4))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      approx.intersect(exact).size
    }.sum
    val (hp, ho) = (hits(encP, booksP, None),
      hits(encO, booksO, Some(perm)))
    info(s"plain PQ hits: $hp/100, OPQ hits: $ho/100")
    // measured 55 vs 100 on this corpus — pinned as a STRICT win so a
    // permutation regression (or an encode path silently ignoring it)
    // fails loudly, not as a tie
    assert(ho > hp,
      s"OPQ recall ($ho) did not beat plain PQ ($hp) at equal budget")
  }

  test("probed OPQ root: probe filters prune cluster dirs; all-probe == flat") {
    // the q185 cell: writeRoot composes the permutation with the IVF
    // layout — the probed scan must still prune cluster DIRECTORIES
    // (the permutation only reorders what the codes see), and probing
    // every cluster must reproduce the flat OPQ search exactly (the
    // layout changes where rows live, never what they score)
    val perm = Pq.opqPermutation(aniso, "embedding", m = 4)
    val booksO = Pq.fit(
      aniso.withColumn("__r", Pq.permuteCol("embedding", perm)),
      "vec_id", "__r", m = 4, ksub = 16)
    val idx = IvfIndex.build(aniso, "vec_id", "embedding", nlist = 4)
    val tmp = tempDir("graft-pq-opqivf-").toString
    Pq.writeRoot(spark, tmp, aniso, "embedding", booksO,
      ivf = Some((idx.centroids, idx.clusterIds)), perm = Some(perm))
    val data = spark.read.parquet(s"$tmp/${Pq.DataSubdir}")
    val q = anisoVec(5, 16).map(_ * 1.01f)
    val root = Pq.loadRoot(spark, tmp)
    val probed = Pq.topK(data, "vec_id", "embedding", q, 5, root,
      nprobe = 2, refine = 2, tieBreak = Some("vec_id"),
      rankRoundDp = Some(4))
    val plan = probed.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(plan)
    assert(pf.exists(_.contains(IvfIndex.ClusterCol)),
      s"expected a cluster-pruned scan on the OPQ root, got $pf in:\n$plan")
    val all = Pq.topK(data, "vec_id", "embedding", q, 5, root,
        nprobe = 4, refine = 2, tieBreak = Some("vec_id"),
        rankRoundDp = Some(4))
      .select("vec_id", "dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val flatEnc = Pq.encode(
      aniso.withColumn("__r", Pq.permuteCol("embedding", perm)),
      "__r", booksO).drop("__r")
    val flat = Pq.topK(flatEnc, "vec_id", "embedding", q, 5,
        pqIndex(booksO, perm = Some(perm)), refine = 2,
        tieBreak = Some("vec_id"), rankRoundDp = Some(4))
      .select("vec_id", "dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(all == flat,
      s"all-probe OPQ-IVF must equal the flat OPQ search: $all vs $flat")
  }

  test("the approximate pass reads only (id, code) — never the floats") {
    val tmp = tempDir("graft-pq-scan-")
      .toString
    encoded.write.mode("overwrite").parquet(s"$tmp/data")
    val onDisk = spark.read.parquet(s"$tmp/data")
    // the narrow projection the PQ search scans internally
    val plan = onDisk.select(col("vec_id"), col(Pq.CodeCol))
      .queryExecution.executedPlan.toString
    assert(plan.contains(Pq.CodeCol) && !plan.contains("embedding"),
      s"approx pass must not read the float column:\n$plan")
  }

  test("refitRoot: refit of a maintained root bit-equals the fresh build; OPQ perm re-derives; same-path refused") {
    import spark.implicits._
    val emb = embeddings.select("vec_id", "embedding")
    val base = emb.filter(pmod(col("vec_id"), lit(5L)) =!= 3L)
    val appended = emb.filter(pmod(col("vec_id"), lit(5L)) === 3L)
    val tmp = tempDir("graft-refit-")
      .toString
    // MAINTAINED root: books fit on 80%, the rest appended against
    // them (q186's drift construction, unshifted is enough here —
    // bit-equality is the claim, not recall)
    val maintained = s"$tmp/maintained"
    Pq.writeRoot(spark, maintained, base, "embedding",
      Pq.fit(base, "vec_id", "embedding", m = 8, ksub = 16))
    Pq.appendEncoded(spark, maintained, appended, "embedding")
    val refit = s"$tmp/refit"
    Pq.refitRoot(spark, maintained, refit, "vec_id", "embedding")
    // FRESH build over the full corpus with the same hyperparameters
    val fresh = s"$tmp/fresh"
    Pq.writeRoot(spark, fresh, emb, "embedding",
      Pq.fit(emb, "vec_id", "embedding", m = 8, ksub = 16))
    def codesOf(p: String): Map[Long, Seq[Byte]] =
      spark.read.parquet(s"$p/data")
        .select("vec_id", Pq.CodeCol).collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val (rBooks, fBooks) =
      (Pq.load(spark, s"$refit/books"), Pq.load(spark, s"$fresh/books"))
    rBooks.cb.zip(fBooks.cb).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(x.sameElements(y),
        "refit books must bit-equal the fresh fit") }
    }
    assert(codesOf(refit) == codesOf(fresh),
      "refit codes must bit-equal the fresh encode, row for row")

    // OPQ root: the refit must RE-DERIVE the permutation from the
    // current rows and stay loadable/searchable
    val perm = Pq.opqPermutation(base, "embedding", 8)
    val opqSrc = s"$tmp/opq"
    Pq.writeRoot(spark, opqSrc, base, "embedding",
      Pq.fit(base.withColumn("__ov", Pq.permuteCol("embedding", perm)),
        "vec_id", "__ov", m = 8, ksub = 16),
      perm = Some(perm))
    Pq.appendEncoded(spark, opqSrc, appended, "embedding")
    val opqRefit = s"$tmp/opq_refit"
    Pq.refitRoot(spark, opqSrc, opqRefit, "vec_id", "embedding")
    val loaded = Pq.loadRoot(spark, opqRefit)
    assert(loaded.perm.nonEmpty, "OPQ refit must keep a permutation")
    val freshPerm = Pq.opqPermutation(emb, "embedding", 8)
    assert(loaded.perm.get.sameElements(freshPerm),
      "the refit permutation must re-derive from the CURRENT rows")
    assert(loaded.data(spark).count() == emb.count())

    intercept[IllegalArgumentException](
      Pq.refitRoot(spark, refit, refit, "vec_id", "embedding"))
  }
}
