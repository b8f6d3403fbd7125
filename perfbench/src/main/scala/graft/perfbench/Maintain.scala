package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{BinaryHash, IvfIndex, KnnSearch, Pq}

/** `corpus_maintain`: one client runs seeded cycles against the IVF, PQ
  * and binary roots of one corpus. A cycle appends a batch to all three,
  * reads the appended rows back by searching with their own vectors,
  * deletes a batch of live rows, and searches with the deleted rows'
  * vectors; it ends by copy-compacting the IVF and PQ roots and swapping
  * readers to the fresh roots. Every cycle has the same mix of requests,
  * so the figures do not depend on how many cycles fit in a run.
  * Appended ids must be found, deleted ids must never come back, and
  * each root's final live row count must be exact. */
final class Maintain(spark: SparkSession, a: Args, res: Result)
    extends Workload {
  import Maintain._
  private var roots: Roots = _
  private var ivfPath = ""
  private var pqPath = ""
  /** rows to append, read before the timed phase */
  private var pool: Array[(Long, Seq[Float], Int)] = _
  private var poolNext = 0
  private val live = mutable.LinkedHashMap[Long, (Seq[Float], Int)]()
  private val deleted = mutable.Set[Long]()
  private var rng: scala.util.Random = _
  private var writeRows = 0L
  private var writeMs = 0.0

  def setup(): Unit = {
    roots = new Roots(spark, s"${a.work}/roots", Dim, Nlist, PqM, res,
      withCorpus = false)
    roots.build(spark.read.parquet(s"${a.input}/corpus.parquet"))
  }

  override def groundTruth(): Unit = {
    ivfPath = roots.ivfPath
    pqPath = roots.pqPath
    rng = new scala.util.Random(a.seed)
    spark.read.parquet(s"${a.input}/corpus.parquet")
      .select("vec_id", "embedding", "component_code").collect()
      .foreach(r => live(r.getLong(0)) = (r.getSeq[Float](1), r.getInt(2)))
    pool = spark.read.parquet(s"${a.input}/appends.parquet")
      .select("vec_id", "embedding", "component_code")
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
  }

  def timedPhase(seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var cycle = 0
    while (System.nanoTime() < deadline && poolNext + AppendBatch <= pool.length) {
      cycleOnce(cycle)
      cycle += 1
    }
    res.writeRows = writeRows
    res.writeS = writeMs / 1000.0
  }

  /** Times one request's `body`; `check` and `recall` run after the
    * clock stops, and their time is kept out of the timed phase. */
  private def op[T](kind: String, rows: Long = 0L)(body: => T)(
      check: T => Boolean,
      recall: T => Option[Double] = (_: T) => None): Unit = {
    val t0 = System.nanoTime()
    try {
      val v = Trace.request(kind)(Trace.span("operators", kind)(body))
      val ms = Measure.msSince(t0)
      val c0 = System.nanoTime()
      val ok = check(v)
      val r = recall(v)
      res.checkS += (System.nanoTime() - c0) / 1e9
      if (rows > 0) { writeRows += rows; writeMs += ms }
      res.add(Req(kind, ms, ms, ok, recall = r,
        error = if (ok) "" else s"$kind: check failed"))
    } catch {
      case NonFatal(e) =>
        res.add(Req(kind, Measure.msSince(t0), 0.0, ok = false,
          error = Measure.message(e)))
    }
  }

  private def frame(rows: Seq[(Long, Seq[Float], Int)]): DataFrame =
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "component_code")

  private def cycleOnce(cycle: Int): Unit = {
    val batch = pool.slice(poolNext, poolNext + AppendBatch).toSeq
    poolNext += AppendBatch
    val withComp = frame(batch)
    val vecsOnly = withComp.select("vec_id", "embedding")
    op("ivf.append", AppendBatch)(
      IvfIndex.appendTo(spark, ivfPath, withComp, "vec_id", "embedding"))(
      _ => true)
    op("pq.append", AppendBatch)(
      Pq.appendEncoded(spark, pqPath, vecsOnly, "embedding"))(_ => true)
    op("binary.append", AppendBatch)(
      BinaryHash.appendTo(spark, roots.binPath, vecsOnly, "embedding"))(
      _ => true)
    batch.foreach { case (id, v, c) => live(id) = (v, c) }

    // read-after-append: each sampled row must find itself
    rng.shuffle(batch).take(ReadsPerPhase).foreach { case (id, v, _) =>
      op("ivf.search")(searchIvf(v))(_.contains(id), got => recall(v, got))
      op("binary.topk_stored")(searchBin(v))(_.contains(id))
    }
    val sampleIds = rng.shuffle(batch.map(_._1)).take(ReadsPerPhase)
    op("pq.lookup")(Pq.loadRoot(spark, pqPath).data(spark)
      .filter(col("vec_id").isin(sampleIds: _*)).count())(
      _ == sampleIds.size)

    // delete a batch of live rows, then search with their own vectors
    val doomed = rng.shuffle(live.keys.toSeq).take(DeleteBatch)
    val doomedVecs = doomed.map(id => live(id)._1)
    doomed.foreach { id => live.remove(id); deleted += id }
    val ids = spark.createDataFrame(doomed.map(Tuple1(_))).toDF("vec_id")
    op("ivf.delete", DeleteBatch)(
      IvfIndex.deleteByIds(spark, ivfPath, ids, "vec_id", "embedding"))(
      _ => true)
    op("pq.delete", DeleteBatch)(
      Pq.deleteEncoded(spark, pqPath, ids, "vec_id"))(_ => true)
    op("binary.delete", DeleteBatch)(
      BinaryHash.deleteByIds(spark, roots.binPath, ids, "vec_id"))(_ => true)
    rng.shuffle(doomedVecs).take(ReadsPerPhase).foreach { v =>
      op("ivf.search")(searchIvf(v))(!_.exists(deleted),
        got => recall(v, got))
      op("pq.topk_probed")(searchPq(v))(!_.exists(deleted))
      op("binary.topk_stored")(searchBin(v))(!_.exists(deleted))
    }

    // compact the IVF and PQ roots into fresh ones and swap readers
    val ivfDest = s"${a.work}/ivf-c$cycle"
    val pqDest = s"${a.work}/pq-c$cycle"
    op("ivf.compact")(IvfIndex.compact(spark, ivfPath, ivfDest))(_ => true)
    op("pq.compact")(Pq.compactRoot(spark, pqPath, pqDest))(_ => true)
    Seq(ivfPath, pqPath).foreach(p =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(p)))
    ivfPath = ivfDest
    pqPath = pqDest
  }

  private def ivfIds(df: DataFrame): Seq[Long] =
    df.collect().map(_.getAs[Long]("vec_id")).toSeq

  private def searchIvf(v: Seq[Float]): Seq[Long] =
    ivfIds(IvfIndex.load(spark, ivfPath, "vec_id", "embedding")
      .search(v, K, Nprobe, KnnSearch.NativeL2, tieBreak = Some("vec_id"),
        rankRoundDp = Some(4)))

  private def searchPq(v: Seq[Float]): Seq[Long] = {
    val root = Pq.loadRoot(spark, pqPath)
    val (cents, cids) = root.ivf.get
    ivfIds(Pq.topKProbed(root.data(spark), "vec_id", "embedding", v, K,
      root.books, cents, cids, Nprobe, tieBreak = Some("vec_id"),
      rankRoundDp = Some(4)))
  }

  private def searchBin(v: Seq[Float]): Seq[Long] =
    ivfIds(BinaryHash.topKStored(spark.read.parquet(
        s"${roots.binPath}/${BinaryHash.DataSubdir}"),
      BinaryHash.CodeCol, "embedding", "vec_id", v, K, candidates = 10 * K,
      rerank = c => KnnSearch.roundHalfUpCol(
        VectorFunctions.cosineSimilarityNative(c, KnnSearch.litVec(v)), 4)))

  /** Recall of an IVF read against the exact top-10 over the live rows
    * (what the root holds), ranked as the engine ranks: L2 in double,
    * rounded half-up to 4 decimals, ties broken by vec_id. */
  private def recall(v: Seq[Float], got: Seq[Long]): Option[Double] = {
    val q = v.map(_.toDouble).toArray
    val exact = live.iterator.map { case (id, (x, _)) =>
      var s = 0.0
      var i = 0
      while (i < q.length) { val d = x(i) - q(i); s += d * d; i += 1 }
      (math.floor(math.sqrt(s) * 1e4 + 0.5) / 1e4, id)
    }.toSeq.sorted.take(K).map(_._2).toSet
    Some(got.count(exact) / K.toDouble)
  }

  override def finish(): Unit = {
    val expected = live.size.toLong
    val counts = Map(
      "ivf" -> spark.read.parquet(ivfPath).count(),
      "pq" -> Pq.loadRoot(spark, pqPath).data(spark).count(),
      "binary" -> spark.read.parquet(
        s"${roots.binPath}/${BinaryHash.DataSubdir}").count())
    counts.foreach { case (root, n) =>
      if (n != expected) res.fail(s"$root root holds $n live rows, expected $expected")
    }
    val paths = Seq(ivfPath, pqPath, roots.binPath)
    res.spaceAmp = paths.map(Measure.diskBytes).sum
      .toDouble / (expected * Dim * 4L)
    files = paths.map(Measure.dataFiles).sum
  }

  private var files = 0L

  override def layerFigures: Map[String, Double] = Map(
    "storage.files" -> files.toDouble)
}

object Maintain {
  val Dim = 384
  val Nlist = 8
  val Nprobe = 4
  val PqM = 48
  val K = 10
  val AppendBatch = 32
  val DeleteBatch = 16
  /** rows read back after the appends and after the deletes */
  val ReadsPerPhase = 1
}
