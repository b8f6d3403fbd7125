package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. One session per suite (cheap —
  * getOrCreate reuses the first), small shuffle-partition count so tiny
  * test shuffles don't fan out into 200 empty tasks. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** The executed plans (`funcName :: plan`) of every query `body`
    * runs — writes and checkpoints included — returned once one of them
    * satisfies `until` (listener events arrive asynchronously; gives up
    * after 10 s and returns what arrived). */
  def executedPlans(until: String => Boolean)(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(s"$f :: ${qe.executedPlan}")
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 10000000000L
      while (!plans.asScala.exists(until) && System.nanoTime() < deadline)
        Thread.sleep(20)
      plans.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** The number of Spark jobs `body` launches. Jobs are tagged through
    * a local property of this thread (inherited by the SQL execution
    * threads), so jobs of other threads never count. Listener events
    * arrive asynchronously but in order: once a tagged marker job run
    * after `body` has been seen, every job of `body` has been too. */
  def jobsRun(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).foreach { t =>
          if (t == tag) jobs.incrementAndGet()
          else if (t == s"$tag/marker") marked.countDown()
        }
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(key)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, s"$tag/marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marked.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job's start never reached the listener")
      jobs.get
    } finally {
      sc.setLocalProperty(key, prev)
      sc.removeSparkListener(listener)
    }
  }

  /** The number of classes Spark's code generator compiles while `body`
    * runs — a cache hit compiles none. JVM-wide, so it assumes no other
    * suite runs at the same time (the forked test JVM runs suites one by
    * one). */
  def classesCompiled(body: => Unit): Long = {
    val compiles =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    body
    compiles.getCount - before
  }

  /** `body` with the session confs `kvs` set, each restored after */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body` on the Spark path: IVF searches built inside it read their
    * root's parquet scan, not the driver-resident rows (a plan built
    * here keeps that scan when it runs later) */
  def onSparkPath[T](body: => T): T =
    withConf(graft.operators.IvfIndex.ResidentMaxBytesConf -> "0")(body)

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh temp directory that this suite's `afterAll` deletes, with
    * everything under it. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override def afterAll(): Unit = {
    // keep the session alive across suites; sbt forks one JVM for all tests
    try tempDirs.forEach(SparkSpec.deleteTree)
    finally super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Deletes `root` and everything under it; symlinks are removed, not
    * followed. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }
}
