package graft.perfbench

import scala.collection.mutable

/** Turns the traced run's spans, job records and samples into per-layer
  * figures. Times and counts are per request of the timed phase unless
  * the name says otherwise; a layer a workload does not run reads 0. */
object Layers {
  /** Request kinds whose call and materialise parts are reported. */
  val Reads = Seq("ivf.search", "ivf.search_scoped", "ivf.search_batch",
    "ivf.search_sq8", "pq.topk_probed", "binary.topk_stored", "knn.topk",
    "rag.retrieve")
  val Writes = Seq("ivf.append", "ivf.delete", "ivf.compact", "pq.append",
    "pq.delete", "pq.compact", "binary.append", "binary.delete")
  val SpanLayers = Seq("entry", "plans", "exec", "operators")
  val SiteLayers = Seq("entry", "plans", "operators", "sources", "streaming",
    "functions", "bench", "other")
  val SetupParts = Seq("session", "roots", "warmup", "ingest",
    "ivf_build", "ivf_write", "pq_root", "binary_root")

  /** Which layer a job's call site (`op at File.scala:N`) belongs to,
    * from the directory that holds the file in the engine's source tree. */
  final class SiteMap(srcRoot: String) {
    private val byFile: Map[String, String] = {
      val top = Option(new java.io.File(srcRoot).listFiles())
        .getOrElse(Array.empty)
      val nested = top.filter(_.isDirectory).flatMap(d =>
        Option(d.listFiles()).getOrElse(Array.empty)
          .map(f => f.getName -> d.getName))
      val flat = top.filter(_.isFile).map(f => f.getName ->
        (if (f.getName == "Tables.scala") "sources" else "entry"))
      (nested ++ flat).toMap
    }
    def apply(callSite: String): String = {
      val file = callSite.split(" at ").lastOption.getOrElse("")
        .split(":").headOption.getOrElse("")
      byFile.getOrElse(file, if (BenchFiles(file)) "bench" else "other")
    }
  }

  /** the harness's own files: jobs it launches (the materialising
    * collect) carry these call sites */
  private val BenchFiles = Set("Catalog.scala", "Retrieval.scala",
    "Maintain.scala", "Harness.scala", "Trace.scala", "Layers.scala")

  private def isSchemaRead(site: String): Boolean =
    site.startsWith("parquet at ")

  /** Per-request leak samples (taken right after each request) against
    * the thread count before the timed phase. */
  def leakFigures(leaks: Seq[Leaks.Sample], base: Leaks.Sample)
      : Map[String, Double] = {
    val n = math.max(1, leaks.size).toDouble
    Map(
      "lifecycle.persisted_rdds_left" -> leaks.map(_.rdds).sum / n,
      "lifecycle.storage_bytes_left" -> leaks.map(_.storageBytes).sum / n,
      "lifecycle.threads_left" ->
        (leaks.map(_.threads).foldLeft(base.threads)(math.max) - base.threads)
          .toDouble)
  }

  def summarise(res: Result, w: Workload, jobs: Seq[JobRec], spans: Seq[Span],
      base: Leaks.Sample, end: Leaks.Sample, gcMs: Long, a: Args): Unit = {
    val out = mutable.LinkedHashMap[String, Double]()
    val reqSpans = spans.filter(_.layer == "request")
    val timed = reqSpans.map(_.id).toSet
    val nReq = math.max(1, reqSpans.size).toDouble
    val byId = spans.map(s => s.id -> s).toMap
    // a job belongs to the request whose span tree holds its span
    def reqOf(spanId: Long): Long = byId.get(spanId).fold(0L)(_.req)
    val timedJobs = jobs.filter(j => timed(reqOf(j.span)))
    def spanOf(j: JobRec): Option[Span] = byId.get(j.span)
    def jobsIn(layer: String) = timedJobs.filter(j => spanOf(j).exists(_.layer == layer))

    // query build and planning (catalog requests)
    val entry = spans.filter(s => s.layer == "entry" && timed(s.req))
    val entryJobs = jobsIn("entry")
    val schemaJobs = timedJobs.filter(j => isSchemaRead(j.callSite))
    out("entry.build_ms") = entry.map(_.ms).sum / nReq
    out("entry.build_jobs") = entryJobs.size / nReq
    out("sources.schema_jobs") = schemaJobs.size / nReq
    out("sources.schema_ms") = schemaJobs.map(_.ms).sum / nReq
    def named(layer: String, name: String) =
      spans.filter(s => s.layer == layer && s.name == name && timed(s.req))
    out("plans.optimize_ms") = named("plans", "optimize").map(_.ms).sum / nReq
    out("plans.physical_ms") = named("plans", "physical").map(_.ms).sum / nReq

    // execution: every job a timed request ran
    out("exec.run_ms") = named("exec", "run").map(_.ms).sum / nReq
    out("exec.jobs") = timedJobs.size / nReq
    out("exec.stages") = timedJobs.map(_.stages).sum / nReq
    out("exec.tasks") = timedJobs.map(_.tasks).sum / nReq
    out("exec.shuffle_read_bytes") = timedJobs.map(_.shuffleRead).sum / nReq
    out("exec.shuffle_write_bytes") = timedJobs.map(_.shuffleWrite).sum / nReq
    out("exec.spill_bytes") = timedJobs.map(_.spill).sum / nReq
    out("exec.task_busy_ms") = timedJobs.map(_.runMs).sum / nReq
    out("exec.sched_wait_ms") = timedJobs.map(_.waitMs).sum / nReq
    out("exec.core_util") =
      timedJobs.map(_.runMs).sum / (res.timedS * 1000.0 * a.cores)

    // vector reads: mean ms per call, split into call and materialise
    // where the workload times the two parts apart
    val ops = spans.filter(s => s.layer == "operators" && timed(s.req))
    for (k <- Reads) {
      val call = ops.filter(_.name == s"$k.call").map(_.ms)
      val mat = ops.filter(_.name == s"$k.materialise").map(_.ms)
      val whole = ops.filter(_.name == k).map(_.ms)
      val n = math.max(1, call.size + whole.size).toDouble
      out(s"${k}_ms") = (call.sum + mat.sum + whole.sum) / n
      out(s"${k}_call_ms") = call.sum / n
      out(s"${k}_mat_ms") = mat.sum / n
    }
    // writes: mean ms per call
    for (k <- Writes) {
      val ms = ops.filter(_.name == k).map(_.ms)
      out(s"${k}_ms") = if (ms.isEmpty) 0.0 else ms.sum / ms.size
    }
    val writeJobs = timedJobs.filter(j => spanOf(j).exists(s => Writes.contains(s.name)))
    out("storage.write_amp") =
      if (res.writeRows == 0L) 0.0
      else writeJobs.map(_.outputBytes).sum.toDouble / (res.writeRows * 384L * 4L)

    // set-up parts (median repetition for repeated set-ups)
    for (p <- SetupParts)
      out(s"setup.${p}_ms") = res.setupParts.getOrElse(s"${p}_ms", 0.0)

    // leaks and GC over the timed phase
    out("lifecycle.persisted_rdds_left") = (end.rdds - base.rdds).toDouble
    out("lifecycle.storage_bytes_left") = (end.storageBytes - base.storageBytes).toDouble
    out("lifecycle.threads_left") = (end.threads - base.threads).toDouble
    out("lifecycle.swept_rdds") = 0.0
    out("jvm.gc_ms") = gcMs.toDouble

    // self time per layer, per request, from the span tree
    val self = Trace.selfMsByLayer(spans.filter(s => timed(s.req)))
    for (l <- SpanLayers :+ "request")
      out(s"self.${l}_ms") = self.getOrElse(l, 0.0) / nReq
    // job time per layer of the engine file that launched it
    val sites = new SiteMap(a.kv.getOrElse("src", "src/main/scala/graft"))
    val siteMs = timedJobs.groupBy(j => sites(j.callSite))
      .map { case (l, js) => l -> js.map(_.ms).sum }
    for (l <- SiteLayers)
      out(s"site.${l}_ms") = siteMs.getOrElse(l, 0L) / nReq

    out("sources.files_read") = 0.0
    out("sources.rows_read") = 0.0
    out("ivf.rows_scanned_per_result") = 0.0
    out("ivf.partitions_read_frac") = 0.0
    out("storage.files") = 0.0
    out ++= w.layerFigures
    res.layers ++= out
  }
}
