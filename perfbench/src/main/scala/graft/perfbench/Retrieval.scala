package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{BinaryHash, IvfIndex, KnnSearch, Pq, RagPipeline}
import graft.sources.CorpusStore

/** The roots one set-up builds over a corpus of text chunks: the
  * component-partitioned corpus table (CorpusStore, LIST partitions on
  * `component_code`; only when `withCorpus`), a quantized IVF root
  * partitioned by component and cluster, an IVF-PQ root and a binary
  * sign-code root. Shared by `rag_retrieval` and `corpus_maintain`. */
final class Roots(spark: SparkSession, base: String, dim: Int, nlist: Int,
    pqM: Int, res: Result, withCorpus: Boolean = true) {
  val corpusPath = s"$base/corpus"
  val ivfPath = s"$base/ivf"
  val pqPath = s"$base/pq"
  val binPath = s"$base/binary"
  def paths: Seq[String] =
    (if (withCorpus) Seq(corpusPath) else Nil) ++ Seq(ivfPath, pqPath, binPath)

  private def part[T](name: String)(body: => T): T = {
    val (v, ms) = Measure.timed(Trace.span("setup", name)(body))
    res.setupParts(s"${name}_ms") = ms
    v
  }

  /** Ingest the chunks (text and vectors), then build every index from the persisted
    * corpus. Returns rows written to roots and the seconds spent in
    * write calls. */
  def build(chunks: DataFrame): (Long, Double) = {
    val t0 = System.nanoTime()
    if (withCorpus)
      part("ingest")(CorpusStore.write(chunks, corpusPath, SaveMode.Overwrite))
    var writeMs = Measure.msSince(t0)
    val vecs = (if (withCorpus) corpus else chunks)
      .select("vec_id", "embedding", "component_code")
    val idx = part("ivf_build")(IvfIndex.build(vecs, "vec_id", "embedding",
      nlist = nlist, componentCol = Some("component_code")))
    val t1 = System.nanoTime()
    part("ivf_write")(idx.write(ivfPath, quantize = true))
    writeMs += Measure.msSince(t1)
    val loaded = ivf
    val t2 = System.nanoTime()
    part("pq_root") {
      val books = Pq.fit(vecs, "vec_id", "embedding", m = pqM)
      Pq.writeRoot(spark, pqPath, vecs.select("vec_id", "embedding"),
        "embedding", books, ivf = Some((loaded.centroids, loaded.clusterIds)))
    }
    val t3 = System.nanoTime()
    part("binary_root")(BinaryHash.writeRoot(spark, binPath,
      vecs.select("vec_id", "embedding"), "embedding", dim))
    writeMs += (t3 - t2) / 1e6 + Measure.msSince(t3)
    ((if (withCorpus) 4L else 3L) * vecs.count(), writeMs / 1000.0)
  }

  def corpus: DataFrame = spark.read.parquet(corpusPath)
  def ivf: IvfIndex = IvfIndex.load(spark, ivfPath, "vec_id", "embedding")
  def pq: Pq.PqRoot = Pq.loadRoot(spark, pqPath)
  def bin: DataFrame = spark.read.parquet(s"$binPath/${BinaryHash.DataSubdir}")
}

/** Exact top-k ids and rounded distances for one query. */
final case class Truth(ids: Seq[Long], dists: Seq[Double])

object Truth {
  def of(rows: Array[Row], idCol: String, distCol: String): Truth =
    Truth(rows.map(_.getAs[Long](idCol)).toSeq,
      rows.map(_.getAs[Double](distCol)).toSeq)

  def recall(got: Seq[Long], truth: Truth): Double =
    got.count(truth.ids.toSet) / truth.ids.size.toDouble
}

/** `rag_retrieval`: the serving path. Two clients in a closed loop send
  * a seeded mix of top-10 requests over one 384-dim corpus in 8
  * components: IVF scoped to one component and unscoped, SQ8, IVF-PQ,
  * binary with exact re-rank, exact, a batch of 32 IVF queries and the
  * hybrid `RagPipeline.retrieve`. Exact requests must equal the ground
  * truth run.py computed from the generated vectors; approximate ones
  * are scored for recall against it. */
final class Retrieval(spark: SparkSession, a: Args, res: Result)
    extends Workload {
  import Retrieval._
  private var roots: Roots = _
  private var queries: Array[(Long, Seq[Float], Int, String)] = _
  private val truth = mutable.Map[Long, Truth]()
  private val scopedTruth = mutable.Map[Long, Truth]()
  private var idx: IvfIndex = _
  private var pq: Pq.PqRoot = _
  private var bin: DataFrame = _
  private var corpus: DataFrame = _
  private var ivfPartitions = 1L
  private val ivfScans = mutable.ArrayBuffer[(ScanStats.Scan, Int)]()
  private val clients = 2

  def setup(): Unit = {
    roots = new Roots(spark, s"${a.work}/roots", Dim, Nlist, PqM, res)
    val (rows, secs) = roots.build(spark.read.parquet(s"${a.input}/corpus.parquet"))
    res.writeRows = rows
    res.writeS = secs
    idx = roots.ivf
    pq = roots.pq
    bin = roots.bin
    corpus = roots.corpus
  }

  override def groundTruth(): Unit = {
    ivfPartitions = Measure.leafPartitions(roots.ivfPath)
    val qs = spark.read.parquet(s"${a.input}/queries.parquet")
      .select("qid", "qvec", "component", "text")
    queries = qs.collect().map(r => (r.getLong(0), r.getSeq[Float](1),
      r.getInt(2), r.getString(3)))
    // exact top-10s computed by run.py from the generated vectors, over
    // the whole corpus and over each query's component
    spark.read.parquet(s"${a.input}/truth.parquet").collect()
      .groupBy(r => (r.getAs[Long]("qid"), r.getAs[Boolean]("scoped")))
      .foreach { case ((q, scoped), rs) =>
        val t = Truth.of(rs.sortBy(_.getAs[Int]("rank")), "vec_id", "dist")
        (if (scoped) scopedTruth else truth)(q) = t
      }
    require(queries.forall(q => truth.contains(q._1) &&
      scopedTruth.contains(q._1)), "ground truth misses a query")
  }

  override def warmUp(): Unit =
    // one untimed request of each kind, shared between the clients: first
    // calls compile code and load classes, which a serving process pays once
    runClients { (c, rng) =>
      Kinds.zipWithIndex.filter(_._2 % clients == c)
        .foreach { case (kind, _) => one(kind, rng, record = false) } }

  def timedPhase(seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // requests are dealt as shuffled decks holding one of each kind, and
    // a client finishes the deck it is in, so every run holds the kinds
    // in equal shares whatever the seed
    // throughput is the sum of the clients' own rates, so a client that
    // finished its last deck early does not count its wait for the other
    runClients { (_, rng) =>
      val t0 = System.nanoTime()
      var done = 0
      while (System.nanoTime() < deadline)
        rng.shuffle(Kinds).foreach(kind => if (one(kind, rng)) done += 1)
      res.clientRates.add(done / (Measure.msSince(t0) / 1000.0))
    }
  }

  /** Runs `body` on each client thread with the client's index and own
    * seeded generator, and waits for all of them. */
  private def runClients(body: (Int, scala.util.Random) => Unit): Unit = {
    val threads = (0 until clients).map { c =>
      val rng = new scala.util.Random(a.seed * 1000003L + c)
      val t = new Thread(() => body(c, rng))
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  /** One request; true when it completed and passed its check. */
  private def one(kind: String, rng: scala.util.Random,
      record: Boolean = true): Boolean = {
    val (qid, q, comp, text) = queries(rng.nextInt(queries.length))
    if (!record) { build(kind, rng, q, comp, text).collect(); return true }
    val t0 = System.nanoTime()
    try Trace.request(kind) {
      val (df, callMs) = Measure.timed(Trace.span("operators", s"$kind.call")(
        build(kind, rng, q, comp, text)))
      val rows = Trace.span("operators", s"$kind.materialise") {
        val qe = df.queryExecution
        Trace.span("plans", "optimize")(qe.optimizedPlan)
        Trace.span("plans", "physical")(qe.executedPlan)
        df.collect()
      }
      val ms = Measure.msSince(t0)
      val (ok, recall, err) = check(kind, qid, rows)
      res.add(Req(kind, ms, callMs, ok, error = err, rows = rows.length,
        recall = recall))
      if (a.trace && kind.startsWith("ivf"))
        synchronized(ivfScans += ((ScanStats.of(df.queryExecution.executedPlan),
          rows.length)))
      ok
    } catch {
      case NonFatal(e) =>
        res.add(Req(kind, Measure.msSince(t0), 0.0, ok = false,
          error = Measure.message(e)))
        false
    }
  }

  private def build(kind: String, rng: scala.util.Random, q: Seq[Float],
      comp: Int, text: String): DataFrame = kind match {
    case "ivf.search" =>
      idx.search(q, K, Nprobe, KnnSearch.NativeL2, tieBreak = Some("vec_id"),
        rankRoundDp = Some(4))
    case "ivf.search_scoped" =>
      idx.search(q, K, Nprobe, KnnSearch.NativeL2, tieBreak = Some("vec_id"),
        components = Seq(comp), rankRoundDp = Some(4))
    case "ivf.search_sq8" =>
      idx.searchQuantized(q, K, Nprobe, tieBreak = Some("vec_id"),
        rankRoundDp = Some(4))
    case "pq.topk_probed" =>
      Pq.topKProbed(pq.data(spark), "vec_id", "embedding", q, K, pq.books,
        idx.centroids, idx.clusterIds, Nprobe, tieBreak = Some("vec_id"),
        rankRoundDp = Some(4))
    case "binary.topk_stored" =>
      BinaryHash.topKStored(bin, BinaryHash.CodeCol, "embedding", "vec_id",
        q, K, candidates = 10 * K, rerank = v => KnnSearch.roundHalfUpCol(
          VectorFunctions.cosineSimilarityNative(v, KnnSearch.litVec(q)), 4))
    case "knn.topk" =>
      KnnSearch.topK(corpus, "embedding", q, K, KnnSearch.NativeL2,
        tieBreak = Some("vec_id"), rankRoundDp = Some(4))
    case "ivf.search_batch" =>
      val picked = rng.shuffle(queries.toSeq).take(Batch)
      val qdf = spark.createDataFrame(picked.map(p => (p._1, p._2)))
        .toDF("qid", "qvec")
      idx.searchBatch(qdf, "qid", "qvec", K, Nprobe, tieBreak = "vec_id",
        rankRoundDp = Some(4), metric = KnnSearch.NativeL2)
    case "rag.retrieve" =>
      RagPipeline.retrieve(corpus, q, text, Seq(comp, (comp + 1) % Components),
        idCol = "vec_id", metric = KnnSearch.NativeL2, rankRoundDp = Some(4))
  }

  private def check(kind: String, qid: Long,
      rows: Array[Row]): (Boolean, Option[Double], String) = kind match {
    case "knn.topk" =>
      val got = Truth.of(rows, "vec_id", "dist")
      val ok = got == truth(qid)
      (ok, None, if (ok) "" else s"exact top-$K differs for query $qid")
    case "ivf.search_batch" =>
      val byQ = rows.groupBy(_.getAs[Long]("query_id"))
      val recalls = byQ.map { case (q, rs) =>
        Truth.recall(rs.map(_.getAs[Long]("vec_id")).toSeq, truth(q)) }
      val ok = byQ.size == Batch && byQ.values.forall(_.length == K)
      (ok, Some(recalls.sum / math.max(1, recalls.size)),
        if (ok) "" else s"batch returned ${byQ.size} queries")
    case "rag.retrieve" =>
      (rows.nonEmpty, None, if (rows.nonEmpty) "" else "empty retrieval")
    case _ =>
      val ids = rows.map(_.getAs[Long]("vec_id")).toSeq
      val t = if (kind == "ivf.search_scoped") scopedTruth(qid) else truth(qid)
      val ok = ids.size == K && ids.distinct.size == K
      (ok, Some(Truth.recall(ids, t)),
        if (ok) "" else s"$kind returned ${ids.size} rows")
  }

  override def finish(): Unit = {
    val live = corpus.count()
    res.spaceAmp = roots.paths.map(Measure.diskBytes).sum.toDouble /
      (live * Dim * 4L)
  }

  override def layerFigures: Map[String, Double] = {
    val n = math.max(1, ivfScans.size).toDouble
    Map(
      "ivf.rows_scanned_per_result" ->
        ivfScans.map { case (s, r) => s.rows / math.max(1, r).toDouble }.sum / n,
      "ivf.partitions_read_frac" ->
        ivfScans.map(_._1.partitions).sum / n / ivfPartitions,
      "storage.files" -> roots.paths.map(Measure.dataFiles).sum.toDouble)
  }
}

object Retrieval {
  val Dim = 384
  val Components = 8
  val Nlist = 16
  val Nprobe = 4
  val PqM = 48
  val K = 10
  val Batch = 32
  /** the request kinds: one of each per deck */
  val Kinds: Seq[String] = Seq("ivf.search_scoped", "ivf.search",
    "ivf.search_sq8", "pq.topk_probed", "binary.topk_stored", "knn.topk",
    "ivf.search_batch", "rag.retrieve")
}
