package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `catalog`: `SparkEntry.queries` functions over the committed tables,
  * one client, cycling the order run.py wrote to `--order` (a fixed,
  * cost-stratified set of queries, reshuffled by the seed on every pass).
  * Each request is `fn(spark, dir)` (query build), optimisation,
  * physical planning and a collect; run.py compares each result's
  * canonical hash with the expected one.
  *
  * Set-up builds the persisted IVF root the set reads, through the build
  * of the query that creates it. With `--all-roots` (used when recording
  * the expected results) it builds every root the catalog reads
  * (`warmIvfIndexes`) instead. */
final class Catalog(spark: SparkSession, a: Args, res: Result)
    extends Workload {
  private val dir = a.input
  private val order = a.kv.get("order").fold(
      SparkEntry.queries.keys.toVector.sorted)(f =>
    Files.readAllLines(Paths.get(f)).asScala.map(_.trim).filter(_.nonEmpty)
      .toVector)
  /** queries built on `graft.streaming`, the streaming layer */
  private val streaming =
    a.kv.get("streaming").fold(Set.empty[String])(_.split(",").toSet)
  // the IVF top-10 has the exact top-10's query vector, k and metric, so
  // it is scored for recall against it; its query build creates the
  // persisted IVF root the set reads
  private val exactQuery = "q30_knn_l2"
  private val ivfQuery = "q36_ivf_knn"
  private var exactIds: Set[Long] = Set.empty
  private var swept = 0L
  private val scans = mutable.ArrayBuffer[ScanStats.Scan]()
  private val leaks = mutable.ArrayBuffer[Leaks.Sample]()

  def setup(): Unit = Trace.span("setup", "roots") {
    if (a.kv.contains("all-roots")) SparkEntry.warmIvfIndexes(spark, dir)
    else SparkEntry.queries(ivfQuery)(spark, dir)
  }

  /** stop after this many requests (one pass records the expected
    * results) */
  private val limit = a.kv.get("max-requests").map(_.toInt.min(order.size))

  override def groundTruth(): Unit = {
    val rows = SparkEntry.queries(exactQuery)(spark, dir).collect()
    exactIds = rows.map(_.getAs[Long]("vec_id")).toSet
  }

  /** the set of queries; each pass of the order runs each once */
  private val set = order.distinct

  override def warmUp(): Unit = {
    if (limit.isEmpty)
      set.foreach(n => SparkEntry.queries(n)(spark, dir).collect())
    sweep()
  }

  private var leakBase: Leaks.Sample = _

  def timedPhase(seconds: Double): Unit = {
    leakBase = Leaks.sample(spark.sparkContext)
    // whole passes only, so every run times each query of the set
    // equally often
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while ((System.nanoTime() < deadline || i % set.size != 0) &&
        limit.forall(i < _)) {
      one(order(i % order.size))
      i += 1
    }
  }

  /** Releases blocks earlier requests persisted, outside the timed
    * region, and counts them: the engine's per-query checkpoints are
    * only freed when the JVM happens to garbage-collect their RDD
    * objects. */
  private def sweep(): Int = {
    val left = spark.sparkContext.getPersistentRDDs.values
    left.foreach(_.unpersist(blocking = false))
    left.size
  }

  private def one(name: String): Unit = {
    val s0 = System.nanoTime()
    swept += sweep()
    res.checkS += (System.nanoTime() - s0) / 1e9
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    try Trace.request(name) {
      val df = Trace.span("entry", name)(fn(spark, dir))
      val callMs = Measure.msSince(t0)
      val qe = df.queryExecution
      Trace.span("plans", "optimize")(qe.optimizedPlan)
      Trace.span("plans", "physical")(qe.executedPlan)
      val rows = Trace.span("exec", "run")(df.collect())
      val ms = Measure.msSince(t0)
      val c0 = System.nanoTime()
      val recall =
        if (name != ivfQuery) None
        else Some(rows.map(_.getAs[Long]("vec_id")).count(exactIds) /
          exactIds.size.toDouble)
      res.add(Req(name, ms, callMs, ok = true,
        hash = Measure.canonicalHash(df, rows), rows = rows.length,
        recall = recall))
      res.checkS += (System.nanoTime() - c0) / 1e9
      if (a.trace) {
        scans += ScanStats.of(qe.executedPlan)
        leaks += Leaks.sample(spark.sparkContext)
      }
    } catch {
      case NonFatal(e) =>
        res.add(Req(name, Measure.msSince(t0), 0.0, ok = false,
          error = Measure.message(e)))
    }
  }

  override def finish(): Unit = {
    // space: every persisted root under this run's private tmpdir,
    // against the raw vector payload of the embeddings table they index
    val roots = Measure.diskBytes(SparkEntry.rootCacheBase)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    val n = emb.count()
    res.spaceAmp = roots.toDouble / (n * dim * 4L)
    res.writeRows = Measure.dataRows(spark, SparkEntry.rootCacheBase)
    res.writeS = res.setupParts("roots_ms") / 1000.0
  }

  override def layerFigures: Map[String, Double] = {
    val n = math.max(1, scans.size).toDouble
    val streamMs = res.reqs.asScala.filter(r => r.ok && streaming(r.kind))
      .map(_.ms).toSeq
    Map(
      "streaming.req_ms" -> (if (streamMs.isEmpty) 0.0
        else streamMs.sum / streamMs.size),
      "lifecycle.swept_rdds" -> swept.toDouble,
      "sources.files_read" -> scans.map(_.files).sum / n,
      "sources.rows_read" -> scans.map(_.rows).sum / n,
      "storage.files" -> Measure.dataFiles(SparkEntry.rootCacheBase).toDouble) ++
      Layers.leakFigures(leaks.toSeq, leakBase)
  }
}
