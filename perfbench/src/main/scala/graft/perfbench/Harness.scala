package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Command line of one benchmark process (set by `perfbench/run.py`). */
final case class Args(kv: Map[String, String]) {
  val workload: String = kv("workload")
  val seed: Long = kv("seed").toLong
  val seconds: Double = kv("seconds").toDouble
  val trace: Boolean = kv("trace") == "1"
  /** input directory (tables or generated corpus) */
  val input: String = kv("input")
  /** this run's private scratch directory (roots, spark-local) */
  val work: String = kv("work")
  val out: String = kv("out")
  val cores: Int = kv.getOrElse("cores", "4").toInt
}

object Args {
  def parse(argv: Array[String]): Args =
    Args(argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap)
}

/** One timed request as the client saw it. `callMs` is the time to build
  * the DataFrame, `ms` the time to a fully materialised result. */
final case class Req(kind: String, ms: Double, callMs: Double, ok: Boolean,
    error: String = "", hash: String = "", rows: Int = 0,
    recall: Option[Double] = None)

/** Everything one process measured; serialised for run.py, which turns
  * it into the benchmark's metrics. */
final class Result {
  var setupS = 0.0
  val setupParts = mutable.LinkedHashMap[String, Double]()
  var timedS = 0.0
  /** seconds of result checking inside the timed phase, kept off its clock */
  var checkS = 0.0
  val reqs = new java.util.concurrent.ConcurrentLinkedQueue[Req]()
  /** completed requests per second of each client, when there are
    * several */
  val clientRates = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  var writeRows = 0L
  var writeS = 0.0
  var spaceAmp = 0.0
  var retainedHeapMb = 0.0
  val checks = mutable.ArrayBuffer[String]() // failed end-of-run checks
  val layers = mutable.LinkedHashMap[String, Double]()

  def add(r: Req): Unit = reqs.add(r)
  def fail(msg: String): Unit = synchronized(checks += msg)

  def toJson: String = Json(Map(
    "setup_s" -> setupS, "setup_parts" -> setupParts.toMap,
    "timed_s" -> timedS, "client_rates" -> clientRates.asScala.toSeq,
    "requests" -> reqs.asScala.toSeq.map(r => Map(
      "kind" -> r.kind, "ms" -> r.ms, "call_ms" -> r.callMs, "ok" -> r.ok,
      "error" -> r.error, "hash" -> r.hash, "rows" -> r.rows,
      "recall" -> r.recall)),
    "write_rows" -> writeRows, "write_s" -> writeS,
    "space_amp" -> spaceAmp, "retained_heap_mb" -> retainedHeapMb,
    "checks" -> checks.toSeq, "layers" -> layers.toMap))
}

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Shared timing, materialisation and result-checking helpers. */
object Measure {
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, msSince(t0))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${System.currentTimeMillis() % 1000000L}%06d] $msg")

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)

  /** Canonical result hash: columns in name order, each value
    * normalised (floating point rounded to 9 decimals, as the oracle
    * gate compares), rows sorted, SHA-256 over the lines. */
  def canonicalHash(df: DataFrame, rows: Array[Row]): String = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => norm(r.get(i))).mkString("\u0001"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def norm(v: Any): String = v match {
    case null => "∅"
    case d: Double => roundDp(d)
    case f: Float => roundDp(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted
        .mkString("{", ",", "}")
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case other => other.toString
  }

  private def roundDp(d: Double): String =
    if (d.isNaN) "NaN" else if (d.isInfinite) d.toString
    else new java.math.BigDecimal(d)
      .setScale(9, java.math.RoundingMode.HALF_EVEN)
      .stripTrailingZeros.toPlainString

  /** Bytes of every regular file under `path`. */
  def diskBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum
      finally s.close()
    }
  }

  /** Data files (parquet parts) under `path`. */
  def dataFiles(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toLong
      finally s.close()
    }
  }

  /** Rows in every parquet file under `path`, read from the footers. */
  def dataRows(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf))
        try r.getRecordCount finally r.close()
      }.sum
      finally s.close()
    }
  }

  /** Leaf partition directories (`k=v` at every level) under `path`. */
  def leafPartitions(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(d => Files.isDirectory(d) &&
        d.getFileName.toString.contains("=") && {
          val c = Files.list(d)
          try !c.iterator().asScala.exists(x => Files.isDirectory(x) &&
            x.getFileName.toString.contains("="))
          finally c.close()
        }).toLong
      finally s.close()
    }
  }
}

/** Entry point: `graft.perfbench.Harness --workload W --seed N --seconds S
  * --trace 0|1 --input DIR --work DIR --out FILE`. Writes one JSON record
  * to `--out`; run.py derives the benchmark's metrics from it. */
object Harness {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    // the process must end even if a query leaked a non-daemon thread
    val watchdog = new Thread(() => {
      Thread.sleep(((a.seconds + 150) * 1000).toLong)
      System.err.println("[perfbench] watchdog: halting a hung JVM")
      Runtime.getRuntime.halt(3)
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val res = new Result
    val code =
      try { run(a, res); 0 }
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          res.fail("harness: " + Measure.message(e))
          2
      }
    Files.write(Paths.get(a.out), res.toJson.getBytes(StandardCharsets.UTF_8))
    Measure.log("result written")
    // no spark.stop(): the run's directories are removed by the caller,
    // and a query that leaked a thread cannot hold the exit
    Runtime.getRuntime.halt(code)
  }

  private def run(a: Args, res: Result): Unit = {
    val spark =
      SparkSession.builder()
        .master(s"local[${a.cores}]")
        .appName("graft-perfbench")
        .config("spark.sql.shuffle.partitions", a.cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
        .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime
    res.setupParts("session_ms") = sessionMs.toDouble
    val listener = new JobListener
    if (a.trace) {
      Trace.start(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
    }
    val w: Workload = a.workload match {
      case "catalog" => new Catalog(spark, a, res)
      case "rag_retrieval" => new Retrieval(spark, a, res)
      case "corpus_maintain" => new Maintain(spark, a, res)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // one cold set-up: this process has built nothing yet, so it pays for
    // loading and compiling the code as well as for the writes
    val (_, rootsMs) = Measure.timed(w.setup())
    Measure.log(s"set-up: $rootsMs ms ${res.setupParts}")
    res.setupParts("roots_ms") = rootsMs
    val (_, truthMs) = Measure.timed(w.groundTruth())
    val (_, warmMs) = Measure.timed(w.warmUp())
    res.setupParts("warmup_ms") = warmMs
    // process start to the first timed request, less the benchmark's own
    // ground truth
    res.setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime - truthMs) / 1000.0
    Measure.log(s"ground truth $truthMs ms, warm-up $warmMs ms; timed phase starts")
    val gcBefore = gcMs()
    val leakBase = Leaks.sample(spark.sparkContext)
    val t0 = System.nanoTime()
    w.timedPhase(a.seconds)
    res.timedS = Measure.msSince(t0) / 1000.0 - res.checkS
    val gcDuring = gcMs() - gcBefore
    Measure.log(s"timed phase done: ${res.reqs.size} requests")
    w.finish()
    Measure.log("end-of-run checks done")
    if (a.trace) {
      org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
      Layers.summarise(res, w, listener.snapshot, Trace.spans, leakBase,
        Leaks.sample(spark.sparkContext), gcDuring, a)
      Files.write(Paths.get(a.out + ".spans.jsonl"), Trace.spans.map(s =>
        Json(Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
          "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs))).asJava)
    }
    res.retainedHeapMb = retainedHeapMb()
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use once full GCs stop freeing memory: Spark's context
    * cleaner frees blocks and broadcasts only after their owners are
    * collected, so one GC is not enough. */
  private def retainedHeapMb(): Double = {
    def used() = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var now = used()
    var rounds = 2
    while (last - now > 0.5 && rounds < 12) { last = now; now = used(); rounds += 1 }
    now
  }
}

/** A workload: cold set-up, then a timed closed loop. */
trait Workload {
  /** Build every root the workload reads, from cold. */
  def setup(): Unit
  /** The benchmark's own work before the timed phase: inputs and exact
    * answers the checks need. Not part of `setup_s`. */
  def groundTruth(): Unit = ()
  /** First calls of each request kind, which a serving process pays once;
    * part of `setup_s`, not of the timed phase. */
  def warmUp(): Unit = ()
  def timedPhase(seconds: Double): Unit
  /** End-of-run checks and end-of-run measurements (space, files). */
  def finish(): Unit = ()
  /** Per-layer figures only this workload can give. */
  def layerFigures: Map[String, Double] = Map.empty
}
