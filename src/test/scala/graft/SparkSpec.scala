package graft

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

  override def afterAll(): Unit = {
    // keep the session alive across suites; sbt forks one JVM for all tests
    super.afterAll()
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
}
