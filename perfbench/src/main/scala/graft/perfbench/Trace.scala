package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One timed call into a layer. `parent` is the enclosing span (0 at the
  * top), `req` the request it belongs to (0 during set-up). */
final case class Span(id: Long, parent: Long, req: Long, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory, one per call the benchmark makes into a layer.
  * When tracing is off `span` only runs its body, so the untraced run
  * pays nothing but a flag check. The current span id travels to Spark
  * as a local property, which [[JobListener]] reads back per job. */
object Trace {
  val SpanProp = "graft.perfbench.span"
  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong(1L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def start(context: SparkContext): Unit = { sc = context; enabled = true }

  def spans: Seq[Span] = done.asScala.toSeq

  /** A request is the root span of its calls; its id tags every child. */
  def request[T](kind: String)(body: => T): T = span("request", kind)(body)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get
      val id = ids.getAndIncrement()
      val parent = outer.headOption.fold(0L)(_._1)
      val req = if (layer == "request") id else outer.headOption.fold(0L)(_._2)
      stack.set((id, req) :: outer)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, req, layer, name, t0, System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty(SpanProp,
          outer.headOption.map(_._1.toString).orNull)
      }
    }

  /** Self time per layer: each span's duration minus the part covered
    * by its child spans (children run on the caller's thread, inside
    * the parent's interval). */
  def selfMsByLayer(of: Seq[Span]): Map[String, Double] = {
    val childMs = of.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    of.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }
}

/** Per-job record: the span active when the job started, its call site
  * and the task totals of its stages. */
final class JobRec(val jobId: Int, val span: Long, val callSite: String,
    val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var waitMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outputBytes = 0L
  def ms: Long = endMs - startMs
}

/** Attributes every job to the span that launched it and to the graft
  * source file named by its `callSite.short`. Registered by the
  * benchmark on traced runs only. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSubmitted = mutable.Map[Int, Long]()

  def snapshot: Seq[JobRec] = synchronized(jobs.values.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    // an explicit call site when the caller set one, else the one Spark
    // derived from the stack: the result stage is named after it
    val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, span, site, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); rec <- jobs.get(j)) {
      rec.tasks += 1
      stageSubmitted.get(e.stageId).foreach(sub =>
        rec.waitMs += math.max(0L, e.taskInfo.launchTime - sub))
      Option(e.taskMetrics).foreach { m =>
        rec.runMs += m.executorRunTime
        rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        rec.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      for (j <- stageJob.get(e.stageInfo.stageId); rec <- jobs.get(j))
        rec.stages += 1
    }
}

/** Scan SQL metrics read from an executed plan, adaptive stages
  * included. */
object ScanStats extends AdaptiveSparkPlanHelper {
  final case class Scan(files: Long, partitions: Long, rows: Long)

  def of(plan: SparkPlan): Scan = {
    val scans = collectWithSubqueries(plan) { case s: DataSourceScanExec => s }
    def m(s: DataSourceScanExec, k: String): Long =
      s.metrics.get(k).map(_.value).getOrElse(0L)
    Scan(scans.map(m(_, "numFiles")).sum,
      scans.map(m(_, "numPartitions")).sum,
      scans.map(m(_, "numOutputRows")).sum)
  }
}

/** What a request left behind in the JVM: persisted RDDs, block-manager
  * bytes held for them, and live non-daemon threads. */
object Leaks {
  final case class Sample(rdds: Int, storageBytes: Long, threads: Int)

  def sample(sc: SparkContext): Sample = Sample(
    sc.getPersistentRDDs.size,
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum,
    Thread.getAllStackTraces.keySet.asScala
      .count(t => t.isAlive && !t.isDaemon))
}
