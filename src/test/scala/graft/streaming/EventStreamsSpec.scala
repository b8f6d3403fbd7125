package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr, lit, pmod, sum, timestamp_micros}
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec
import EventStreams.{Event, SessionSummary}

class EventStreamsSpec extends SparkSpec {

  private def ts(min: Long): Timestamp =
    new Timestamp(1704067200000L + min * 60000) // 2024-01-01 00:00 UTC + min

  test("windowedCounts over a MemoryStream emits per-window aggregates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = EventStreams.windowedCounts(input.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(10), 2, "click", 2.0),
        Event(3, ts(70), 1, "view", 3.0))
      query.processAllAvailable()
      input.addData(Event(4, ts(80), 2, "view", 4.0))
      query.processAllAvailable()
      val rows = spark.table("win_counts")
        .orderBy("window_start", "event_type")
        .collect().map(r => (r.getTimestamp(0).getTime / 60000 % 1440,
          r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(rows.toSeq == Seq(
        (0L, "click", 2L, 3.0),   // window [00:00, 01:00)
        (60L, "view", 2L, 7.0)))  // window [01:00, 02:00)
    } finally query.stop()
  }

  test("windowedCounts slides: each event lands in length/slide windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = EventStreams.windowedCounts(input.toDF(), "1 hour",
        "10 minutes", slide = Some("30 minutes"))
      .writeStream.format("memory").queryName("slide_counts")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(Event(1, ts(45), 1, "click", 2.0)) // 00:45
      query.processAllAvailable()
      val rows = spark.table("slide_counts")
        .orderBy("window_start")
        .collect().map(r => (r.getTimestamp(0).getTime / 60000 % 1440,
          r.getLong(2)))
      // 1h windows sliding 30min: starts 00:00 and 00:30 both cover 00:45
      assert(rows.toSeq == Seq((0L, 1L), (30L, 1L)), rows.toSeq.toString)
    } finally query.stop()
  }

  test("sessionize accumulates per-user session state across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val query = EventStreams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1: user 1 -> 2 events in one session
      input.addData(
        Event(1, ts(0), 1, "click", 0), Event(2, ts(5), 1, "view", 0))
      query.processAllAvailable()
      // batch 2: user 1 returns after a 40-min gap -> second session;
      // user 2 appears -> first session
      input.addData(
        Event(3, ts(45), 1, "click", 0), Event(4, ts(46), 2, "view", 0))
      query.processAllAvailable()
      val last = spark.table("sessions").as[SessionSummary]
        .collect().groupBy(_.user_id)
        .map { case (u, rows) => u -> rows.maxBy(_.n_events) }
      assert(last(1L) == SessionSummary(1, 3, 2))
      assert(last(2L) == SessionSummary(2, 1, 1))
    } finally query.stop()
  }

  test("dedupStream drops repeated content across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val query = EventStreams.dedupStream(docs, "text", "ts", "2 hours")
      .writeStream.format("memory").queryName("dedup_docs")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, ts(0), "the quick brown fox"),
        (2L, ts(1), "entirely different text"),
        (3L, ts(2), "The  quick   brown fox")) // normalized duplicate of 1
      query.processAllAvailable()
      // next batch: another duplicate (within the watermark) + a new doc
      input.addData(
        (4L, ts(30), "the quick brown fox"),
        (5L, ts(31), "a third distinct document"))
      query.processAllAvailable()
      val kept = spark.table("dedup_docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L, 5L),
        s"expected normalized + cross-batch dupes dropped, got $kept")
    } finally query.stop()
  }

  test("nearDupStream drops token-reordered near-dups; batch form agrees") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Seq(
      (1L, ts(0), "the quick brown fox"),
      (2L, ts(1), "entirely different text"),
      // token REORDERING of 1: same token multiset -> same SimHash,
      // but a different exact fingerprint (dedupStream would keep it)
      (3L, ts(2), "brown fox the quick"),
      (4L, ts(30), "QUICK the fox brown"), // case + order noise, batch 2
      (5L, ts(31), "a third distinct document"))
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val query = EventStreams.nearDupStream(docs, "text", "ts", "2 hours")
      .writeStream.format("memory").queryName("neardup_docs")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows.take(3): _*)
      query.processAllAvailable()
      input.addData(rows.drop(3): _*)
      query.processAllAvailable()
      // docs 1/3/4 share a SimHash key (same token multiset); which
      // representative survives is dropDuplicates' choice — assert ONE
      // survivor per key, not a specific id
      val reordered = Set(1L, 3L, 4L)
      val kept = spark.table("neardup_docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert((kept & reordered).size == 1 && kept(2L) && kept(5L) &&
        kept.size == 3,
        s"expected reordered near-dups dropped across batches, got $kept")
      // exact dedup would NOT have caught the reordering — the near-dup
      // gate is strictly more aggressive
      val exactKept = EventStreams.dedupStream(
          rows.toDF("doc_id", "ts", "text"), "text", "ts")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert((exactKept & reordered).size == 3,
        s"exact dedup should keep all reorderings, got $exactKept")
      // batch form of the same code dedups to the same key structure
      val batchKept = EventStreams.nearDupStream(
          rows.toDF("doc_id", "ts", "text"), "text", "ts")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert((batchKept & reordered).size == 1 && batchKept(2L) &&
        batchKept(5L) && batchKept.size == 3,
        s"batch/stream drift: $batchKept")
    } finally query.stop()
  }

  test("indexedIngest: stream dedup → embed seam → appendTo, no refit, appended vectors searchable") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val tmp = tempDir("graft-stream-ivf-").toString
    val path = s"$tmp/ivf"
    val built = IvfIndex.build(base, "vec_id", "embedding", nlist = 8)
    built.write(path)

    // the stream: odd vectors with synthesized unique texts; the embed
    // stage is the model seam reduced to a projection (the vectors ride
    // along), exactly where a BatchEmbedder would slot in
    val odds = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = odds.splitAt(odds.length / 2)
    def rows(xs: Array[(Long, Seq[Float])], off: Long) =
      xs.map { case (id, v) => (id, ts(off), s"stream doc $id", v) }.toSeq
    val input = MemoryStream[(Long, Timestamp, String, Seq[Float])]
    val docs = input.toDF().toDF("vec_id", "ts", "text", "embedding")
    val embedStage =
      (df: DataFrame) => df.select(col("vec_id"), col("embedding"))
    val query = EventStreams.indexedIngest(docs, "text", "ts",
        embedStage, path, "vec_id", "embedding", ingestId = "ingest-a")
      .option("checkpointLocation", s"$tmp/ckpt").start()
    try {
      input.addData(rows(b1, 0): _*)
      query.processAllAvailable()
      // batch 2 carries a cross-batch DUPLICATE (same content as a
      // batch-1 doc, new id) — dedup state spans micro-batches within
      // the watermark, so it must never reach the index
      val dup = (999999L, ts(10), s"stream doc ${b1.head._1}", b1.head._2)
      input.addData(rows(b2, 10) :+ dup: _*)
      query.processAllAvailable()
    } finally query.stop()

    // per-batch commit markers exist under the ingestId namespace (the
    // at-least-once re-run guard; a fresh checkpoint gets a fresh id so
    // old markers can never silently swallow its first batches) and,
    // being underscore-prefixed, don't break the parquet listing that
    // IvfIndex.load is about to do
    val markers =
      new java.io.File(s"$path/_ingest_log/ingest-a").listFiles()
    assert(markers != null && markers.nonEmpty,
      "committed batches must leave _ingest_log markers")
    val loaded = IvfIndex.load(spark, path, "vec_id", "embedding")
    assert(loaded.assigned.count() == base.count() + odds.length,
      "every distinct streamed doc appended exactly once")
    assert(loaded.assigned.filter(col("vec_id") === 999999L).count() == 0,
      "the cross-batch duplicate must be dropped before the index")
    // no refit in any micro-batch: a k-means rerun would move centroids;
    // append-only assignment leaves them bit-identical
    assert(loaded.centroids.map(_.toSeq).toSeq ==
      built.centroids.map(_.toSeq).toSeq)
    // an appended vector is immediately searchable under a narrow probe
    val hit = loaded.search(odds.head._2, 1, nprobe = 2,
        tieBreak = Some("vec_id"))
      .select("vec_id").head().getLong(0)
    assert(hit == odds.head._1)
  }

  test("lifecycle: indexedIngest batches → compact → scoped search parity (one chain)") {
    // The reference's continuous index lifecycle (load.py:26 DDL +
    // doc_embedder.py:90-114 inserts) as ONE test: a component-scoped
    // root takes N streamed micro-batches (each appending small files),
    // is compacted to a fresh root, and the compacted root must answer
    // a scoped search identically, keep the two-level layout, and start
    // a fresh ingest-marker lifecycle. The pieces are spec'd separately
    // (indexedIngest above, compact in IvfIndexSpec) — this pins the
    // CHAIN, where a layout-flattening or sidecar-dropping regression
    // in any stage would corrupt every stage after it.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val tmp = tempDir("graft-lifecycle-").toString
    val path = s"$tmp/ivf"
    IvfIndex.build(base, "vec_id", "embedding", nlist = 4,
      componentCol = Some("label")).write(path)

    val odds = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
    val batches = odds.grouped(math.max(1, odds.length / 3)).toSeq
    val input = MemoryStream[(Long, Int, Timestamp, String, Seq[Float])]
    val docs = input.toDF().toDF("vec_id", "label", "ts", "text", "embedding")
    val embedStage = (df: DataFrame) =>
      df.select(col("vec_id"), col("label"), col("embedding"))
    val query = EventStreams.indexedIngest(docs, "text", "ts", embedStage,
        path, "vec_id", "embedding", ingestId = "lifecycle-a")
      .option("checkpointLocation", s"$tmp/ckpt").start()
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        input.addData(b.map { case (id, lab, v) =>
          (id, lab, ts(i * 10L), s"lifecycle doc $id", v) }: _*)
        query.processAllAvailable()
      }
    } finally query.stop()

    def parquetFiles(root: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) {
          // skip sidecar/marker dirs (_centroids, _ingest_log) but NOT
          // partition dirs like `__ivf_cluster=3` — Spark's convention
          // distinguishes them by the `=`
          if (f.getName.startsWith("_") && !f.getName.contains("=")) 0
          else f.listFiles().map(walk).sum
        } else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(root))
    }

    // streaming ingest QUIESCED above (query stopped) — the documented
    // precondition for compact's listing-time snapshot
    val fragmented = IvfIndex.load(spark, path, "vec_id", "embedding")
    val qv = odds.head._3
    val comp = odds.head._2
    def hits(idx: IvfIndex) =
      idx.search(qv, 5, nprobe = 4, tieBreak = Some("vec_id"),
          components = Seq(comp))
        .select("vec_id", "dist").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = hits(fragmented)
    assert(before.nonEmpty)

    val dest = s"$tmp/ivf-compacted"
    IvfIndex.compact(spark, path, dest)
    assert(parquetFiles(dest) < parquetFiles(path),
      s"compact must cut data-file count " +
        s"(${parquetFiles(path)} -> ${parquetFiles(dest)})")
    val compacted = IvfIndex.load(spark, dest, "vec_id", "embedding")
    // two-level layout survived the whole chain (load recovers the
    // component column FROM the directory layout, so this asserts the
    // on-disk structure, not in-memory state)
    assert(compacted.componentCol.contains("label"))
    assert(compacted.assigned.count() == fragmented.assigned.count())
    // bit-identical centroid sidecar -> identical probe planning
    assert(compacted.centroids.map(_.toSeq).toSeq ==
      fragmented.centroids.map(_.toSeq).toSeq)
    assert(hits(compacted) == before,
      "scoped search must answer identically from the compacted root")
    // the fresh root starts a fresh ingest-marker lifecycle
    assert(!new java.io.File(s"$dest/${EventStreams.IngestLogDir}").exists())
  }

  test("chaos: the at-least-once window duplicates EXACTLY the marker-less batch, and only it") {
    // The documented crash window (EventStreams.indexedIngest: data
    // append committed, crash before the marker lands) — demonstrated,
    // not just documented. Re-delivery is simulated the way Spark's
    // recovery produces it: a fresh run of the same ingestId re-processes
    // the batch under the same batchId. Three acts:
    //   1. normal ingest of one batch — appended once, marker exists;
    //   2. re-delivery WITH the marker intact — idempotently skipped;
    //   3. delete the marker (the crash) and re-deliver — the recovery
    //      purges the crashed append's files via the .started snapshot
    //      and re-appends EXACTLY once; no duplicates anywhere.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val tmp = tempDir("graft-chaos-").toString
    val path = s"$tmp/ivf"
    val built = IvfIndex.build(base, "vec_id", "embedding", nlist = 8)
    built.write(path)
    // the pre-append data-file listing — exactly what batch 0's
    // .started marker records before its append; used below to
    // reconstruct the crash state (the commit path DELETES .started,
    // so the simulation must put it back the way the crash left it)
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fsH = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    val preSnap = IvfIndex.listDataFiles(fsH, rootP).toSeq.sorted
    val b1 = emb.filter(col("vec_id") % 2 === 1).limit(50)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val embedStage =
      (df: DataFrame) => df.select(col("vec_id"), col("embedding"))
    def deliver(ckpt: String): Unit = {
      val input = MemoryStream[(Long, Timestamp, String, Seq[Float])]
      val docs = input.toDF().toDF("vec_id", "ts", "text", "embedding")
      val query = EventStreams.indexedIngest(docs, "text", "ts",
          embedStage, path, "vec_id", "embedding", ingestId = "chaos-a")
        .option("checkpointLocation", s"$tmp/$ckpt").start()
      try {
        input.addData(b1.map { case (id, v) =>
          (id, ts(0), s"chaos doc $id", v) }.toSeq: _*)
        query.processAllAvailable()
      } finally query.stop()
    }
    def count(): Long =
      spark.read.parquet(path).count()
    val marker =
      new java.io.File(s"$path/_ingest_log/chaos-a/batch-0")

    deliver("ckpt1") // act 1: normal commit
    assert(marker.exists(), "committed batch must leave its marker")
    val afterFirst = count()
    assert(afterFirst == base.count() + b1.length)

    deliver("ckpt2") // act 2: re-delivery, marker intact → skipped
    assert(count() == afterFirst,
      "a marked batch must be idempotently skipped on re-delivery")

    // once the commit marker lands, the .started breadcrumb (which
    // carries a full root file listing) is CLEANED UP — leaving it
    // would grow _ingest_log O(batches × files) over a long ingest
    val started =
      new java.io.File(s"$path/_ingest_log/chaos-a/batch-0.started")
    assert(!started.exists(),
      "a committed batch must clean up its .started marker")

    // act 3: crash between append and marker — the crash leaves the
    // append's files on disk, the .started marker (with the
    // pre-append snapshot) present, and NO commit marker; reconstruct
    // exactly that state
    java.nio.file.Files.writeString(started.toPath,
      (EventStreams.StartedFormatStamp +: preSnap).mkString("\n"))
    assert(marker.delete())
    deliver("ckpt3")
    val loaded = IvfIndex.load(spark, path, "vec_id", "embedding")
    // started-but-not-committed → the re-delivery PURGES the crashed
    // attempt's rows by id and re-appends: exactly-once, not
    // at-least-once-with-duplication
    assert(loaded.assigned.count() == afterFirst,
      "the crashed batch's rows are purged and re-appended — exactly " +
        "once overall")
    val perId = loaded.assigned.groupBy("vec_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perId.values.forall(_ == 1L),
      "no row is duplicated after crash recovery")
    assert(marker.exists(), "the re-delivery restores the marker")
    assert(!started.exists(),
      "the re-delivered commit cleans up .started again")
    // centroids (and so probe planning) are untouched and search still
    // answers the right id
    assert(loaded.centroids.map(_.toSeq).toSeq ==
      built.centroids.map(_.toSeq).toSeq)
    val hit = loaded.search(b1.head._2, 1, nprobe = 2,
        tieBreak = Some("vec_id"))
      .select("vec_id").head().getLong(0)
    assert(hit == b1.head._1)
  }

  test("crash recovery purges FILES, not ids: an id repeated across batches keeps the earlier batch's row") {
    // The r17-advice failure mode: upstream dedupStream dedups by
    // CONTENT fingerprint, so the same id can legitimately arrive in
    // two batches with different content. The old recovery purge
    // deleted by the re-delivered batch's ids — which also removed the
    // EARLIER batch's committed row for a shared id (silent loss). The
    // snapshot-scoped purge removes only the files the crashed append
    // added, so the earlier row must survive: after recovering a
    // crashed batch 1 that repeats an id from committed batch 0, that
    // id has exactly TWO rows and the total count is unchanged.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val tmp = tempDir("graft-chaos-xbatch-").toString
    val path = s"$tmp/ivf"
    IvfIndex.build(base, "vec_id", "embedding", nlist = 8).write(path)
    val odd = emb.filter(col("vec_id") % 2 === 1).limit(20)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b0, b1new) = odd.splitAt(10)
    val sharedId = b0.head._1
    // batch 1 = 10 fresh ids PLUS the shared id with DIFFERENT content
    // (different text -> different fingerprint -> survives dedupStream)
    val b1 = b1new :+ (sharedId, b0.head._2)
    val embedStage =
      (df: DataFrame) => df.select(col("vec_id"), col("embedding"))
    // batch 2's PRE-append data-file listing (captured after batch 0
    // commits, before batch 2 appends, on the first delivery only) —
    // what its .started marker recorded; the commit path deletes the
    // marker, so the crash simulation below reconstructs it from this
    val rootP = new org.apache.hadoop.fs.Path(path)
    val fsH = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    var snapB2: Seq[String] = null
    def deliver(ckpt: String): Unit = {
      val input = MemoryStream[(Long, Timestamp, String, Seq[Float])]
      val docs = input.toDF().toDF("vec_id", "ts", "text", "embedding")
      val query = EventStreams.indexedIngest(docs, "text", "ts",
          embedStage, path, "vec_id", "embedding", ingestId = "xbatch-a")
        .option("checkpointLocation", s"$tmp/$ckpt").start()
      try {
        input.addData(b0.map { case (id, v) =>
          (id, ts(0), s"first doc $id", v) }.toSeq: _*)
        query.processAllAvailable()
        if (snapB2 == null)
          snapB2 = IvfIndex.listDataFiles(fsH, rootP).toSeq.sorted
        input.addData(b1.map { case (id, v) =>
          (id, ts(1), s"second doc $id", v) }.toSeq: _*)
        query.processAllAvailable()
      } finally query.stop()
    }
    deliver("ckpt1") // both batches commit
    val committed = spark.read.parquet(path).count()
    assert(committed == base.count() + b0.length + b1.length)
    // batch numbering under the stateful dedup: each processAllAvailable
    // is followed by an EMPTY watermark-advance micro-batch, so b0 is
    // batch-0, b1 is batch-2 (1 and 3 are the empty ones). Crashing an
    // empty batch would make this test pass vacuously — pin the layout
    // so a numbering change fails loudly instead of silently weakening
    // the test.
    val log = new java.io.File(s"$path/_ingest_log/xbatch-a")
    // commit markers only: every .started was cleaned up at commit
    // (empty batches 1 and 3 never write one at all)
    assert(log.listFiles().map(_.getName).toSet
      .filterNot(_.startsWith(".")) ==
      Set("batch-0", "batch-1", "batch-2", "batch-3"))
    val marker2 =
      new java.io.File(s"$path/_ingest_log/xbatch-a/batch-2")
    val started2 =
      new java.io.File(s"$path/_ingest_log/xbatch-a/batch-2.started")
    assert(marker2.exists() && !started2.exists())
    // b1's .started snapshot predates its own append but includes b0's
    // files — nonempty, unlike an empty snapshot (vacuity tripwire #2)
    assert(snapB2 != null && snapB2.nonEmpty)

    // crash between batch 2's append + marker: its files are on disk,
    // its .started (pre-append snapshot) present, commit marker gone
    java.nio.file.Files.writeString(started2.toPath,
      (EventStreams.StartedFormatStamp +: snapB2).mkString("\n"))
    assert(marker2.delete())
    deliver("ckpt2")         // fresh run: batch 0 skipped, batch 2 recovered
    val perId = spark.read.parquet(path).groupBy("vec_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spark.read.parquet(path).count() == committed,
      "recovery must neither lose nor duplicate rows")
    assert(perId(sharedId) == 2L,
      "the id shared across batches keeps BOTH committed rows — an " +
        "id-scoped purge would have silently deleted batch 0's row")
    assert(b1new.forall { case (id, _) => perId(id) == 1L })
    assert(marker2.exists(), "the re-delivery restores batch 2's marker")
  }

  test("legacy EMPTY .started marker over a non-empty root SKIPS the purge instead of deleting the whole root") {
    // The r19-advice upgrade hazard: the PRE-snapshot format wrote
    // .started with an EMPTY body even for empty batches. A root
    // carrying such a marker uncommitted (crash between .started and
    // the commit marker, before the format upgrade) must NOT have the
    // recovery purge treat "" as the pre-append snapshot — that would
    // purgeFilesNotIn(∅) = delete every data file. The format stamp
    // distinguishes the two: unstamped + empty + non-empty root →
    // skip the purge loudly; a stamped empty snapshot (fresh root)
    // still purges, preserving exactly-once there.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val tmp = tempDir("graft-legacy-started-").toString
    val path = s"$tmp/ivf"
    IvfIndex.build(base, "vec_id", "embedding", nlist = 8).write(path)
    val baseCount = base.count()
    val b1 = emb.filter(col("vec_id") % 2 === 1).limit(10)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    // the legacy crash state: an UNCOMMITTED empty-bodied .started
    // from the old format, no commit marker, no appended files
    val started = new java.io.File(
      s"$path/_ingest_log/legacy-a/batch-0.started")
    started.getParentFile.mkdirs()
    java.nio.file.Files.writeString(started.toPath, "")
    val embedStage =
      (df: DataFrame) => df.select(col("vec_id"), col("embedding"))
    val input = MemoryStream[(Long, Timestamp, String, Seq[Float])]
    val docs = input.toDF().toDF("vec_id", "ts", "text", "embedding")
    val query = EventStreams.indexedIngest(docs, "text", "ts",
        embedStage, path, "vec_id", "embedding", ingestId = "legacy-a")
      .option("checkpointLocation", s"$tmp/ckpt").start()
    try {
      input.addData(b1.map { case (id, v) =>
        (id, ts(0), s"legacy doc $id", v) }.toSeq: _*)
      query.processAllAvailable()
    } finally query.stop()
    // the pre-existing root survived the legacy marker, and the batch
    // itself landed exactly once
    val perId = spark.read.parquet(path).groupBy("vec_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spark.read.parquet(path).count() == baseCount + b1.length,
      "the legacy empty marker must not purge the root")
    assert(perId.values.forall(_ == 1L), "no duplicates either")
    // the commit replaced the legacy breadcrumb with a marker
    assert(new java.io.File(s"$path/_ingest_log/legacy-a/batch-0")
      .exists() && !started.exists())
  }

  test("indexedIngest refuses batches while the compact lock is held, resumes after release") {
    // the lockfile side of the compact-vs-ingest coordination (the
    // compact side — abort on a mid-copy marker — is IvfIndexSpec's):
    // a batch arriving while _compact_lock exists must FAIL the query
    // loudly, append nothing, leave no marker; after release the same
    // data ingests normally.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val tmp = tempDir("graft-lock-ingest-").toString
    val path = s"$tmp/ivf"
    IvfIndex.build(base, "vec_id", "embedding", nlist = 8).write(path)
    val baseCount = spark.read.parquet(path).count()
    val rows = emb.filter(col("vec_id") % 2 === 1).limit(20)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), ts(0), s"locked doc ${r.getLong(0)}",
        r.getSeq[Float](1))).toSeq
    val embedStage =
      (df: DataFrame) => df.select(col("vec_id"), col("embedding"))
    def deliver(ckpt: String): Unit = {
      val input = MemoryStream[(Long, Timestamp, String, Seq[Float])]
      val docs = input.toDF().toDF("vec_id", "ts", "text", "embedding")
      val query = EventStreams.indexedIngest(docs, "text", "ts",
          embedStage, path, "vec_id", "embedding", ingestId = "locked-a")
        .option("checkpointLocation", s"$tmp/$ckpt").start()
      try {
        input.addData(rows: _*)
        query.processAllAvailable()
      } finally query.stop()
    }
    // a compactor is (as far as the sink knows) mid-copy
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/${IvfIndex.CompactLockFile}"),
      "pid=0 ts=test")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      deliver("ckpt-locked")
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("being compacted")), ex.toString)
    assert(spark.read.parquet(path).count() == baseCount,
      "a refused batch must append nothing")
    assert(!new java.io.File(s"$path/_ingest_log/locked-a/batch-0").exists(),
      "a refused batch must leave no commit marker")
    // release → the SAME data ingests cleanly on a fresh run
    IvfIndex.releaseCompactLock(spark, path)
    deliver("ckpt-after")
    assert(spark.read.parquet(path).count() == baseCount + rows.length)
  }

  test("servingSearch: stream results == per-batch searchBatch; appends visible next trigger; markers skip re-delivery") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val tmp = tempDir("graft-serve-").toString
    val path = s"$tmp/ivf"
    IvfIndex.build(base, "vec_id", "embedding", nlist = 8).write(path)
    val out = s"$tmp/out"

    val qs = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding").orderBy("vec_id").limit(6)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = qs.splitAt(3)
    val input = MemoryStream[(Long, Seq[Float])]
    val queries = input.toDF().toDF("qid", "qv")
    // the embed seam reduced to a projection, as in the ingest spec
    val embedStage = (df: DataFrame) => df.select(col("qid"), col("qv"))
    def expectedFor(batch: Array[(Long, Seq[Float])]) =
      IvfIndex.load(spark, path, "vec_id", "embedding")
        .searchBatch(batch.toSeq.toDF("qid", "qv"), "qid", "qv",
          k = 5, nprobe = 3, tieBreak = "vec_id", rankRoundDp = Some(4))
        .select(col("query_id"), col("vec_id"), col("dist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    def start() = EventStreams.servingSearch(queries, embedStage,
        "qid", "qv", path, "vec_id", "embedding", out, "serve-a",
        k = 5, nprobe = 3)
      .option("checkpointLocation", s"$tmp/ckpt").start()
    val query = start()
    val (exp1, exp2) =
      try {
        input.addData(b1.toSeq: _*)
        query.processAllAvailable()
        val e1 = expectedFor(b1) // BEFORE the append — batch 1's snapshot
        // a vector appended between triggers must be searchable at the
        // NEXT trigger (the serving face re-lists the root per batch)
        IvfIndex.appendTo(spark, path,
          Seq((900001L, b2.head._2)).toDF("vec_id", "embedding"),
          "vec_id", "embedding")
        input.addData(b2.toSeq: _*)
        query.processAllAvailable()
        (e1, expectedFor(b2))
      } finally query.stop()

    def resultsWithBatch() = spark.read.parquet(s"$out/results")
      .select(col("query_id"), col("vec_id"), col("dist"),
        col("batch_id").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    def results() = resultsWithBatch().map(t => (t._1, t._2, t._3))
    assert(results() == exp1 ++ exp2,
      "streamed results must equal the per-micro-batch searchBatch runs")
    // rows carry their micro-batch identity (r16 advice: the crash
    // window's dedup key needs batch_id or a re-submitted query id in
    // a later batch would collapse with its earlier answers)
    assert(resultsWithBatch() ==
      exp1.map(t => (t._1, t._2, t._3, 0L)) ++
        exp2.map(t => (t._1, t._2, t._3, 1L)),
      "result rows must carry the emitting micro-batch's batch_id")
    assert((exp1 ++ exp2).contains((b2.head._1, 900001L, 0.0)),
      "the between-trigger append must answer batch 2's first query " +
        "at distance 0")
    val markers =
      new java.io.File(s"$out/${EventStreams.ServingLogDir}/serve-a")
        .listFiles()
    assert(markers != null && markers.map(_.getName)
      .filterNot(_.startsWith(".")).toSet == Set("batch-0", "batch-1"))

    // re-delivery: a fresh checkpoint restarts batchIds at 0, so
    // feeding batch 1's rows again hits the batch-0 marker and is
    // SKIPPED — result rows must not duplicate
    val nBefore = results().size
    val input2 = MemoryStream[(Long, Seq[Float])]
    val query2 = EventStreams.servingSearch(
        input2.toDF().toDF("qid", "qv"), embedStage,
        "qid", "qv", path, "vec_id", "embedding", out, "serve-a",
        k = 5, nprobe = 3)
      .option("checkpointLocation", s"$tmp/ckpt2").start()
    try {
      input2.addData(b1.toSeq: _*)
      query2.processAllAvailable()
    } finally query2.stop()
    assert(results().size == nBefore,
      "a marker-committed batch must not re-append its results")

    // crash WINDOW between result commit and marker write: results
    // renamed into place, marker lost — the re-run must find the
    // committed batch_id dir, add NOTHING, and restore the marker
    // (exactly-once, not at-least-once-with-duplication)
    val m0 = new java.io.File(
      s"$out/${EventStreams.ServingLogDir}/serve-a/batch-0")
    assert(m0.delete(), "precondition: drop batch-0's marker")
    val input3 = MemoryStream[(Long, Seq[Float])]
    val query3 = EventStreams.servingSearch(
        input3.toDF().toDF("qid", "qv"), embedStage,
        "qid", "qv", path, "vec_id", "embedding", out, "serve-a",
        k = 5, nprobe = 3)
      .option("checkpointLocation", s"$tmp/ckpt3").start()
    try {
      input3.addData(b1.toSeq: _*)
      query3.processAllAvailable()
    } finally query3.stop()
    assert(results().size == nBefore,
      "a crash between rename and marker must not duplicate results")
    assert(m0.exists(), "the re-run must restore the lost marker")
  }

  test("servingSearch with a filter serves the filtered searchBatch answer (the metadata-WHERE serving shape)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val tmp = tempDir("graft-serve-filt-").toString
    val path = s"$tmp/ivf"
    IvfIndex.build(base, "vec_id", "embedding", nlist = 8).write(path)
    val out = s"$tmp/out"
    val m = pmod(col("vec_id"), lit(3L)) === 1L
    val qs = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding").orderBy("vec_id").limit(3)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val embedStage = (df: DataFrame) => df.select(col("qid"), col("qv"))
    val expected = IvfIndex.load(spark, path, "vec_id", "embedding")
      .searchBatch(qs.toSeq.toDF("qid", "qv"), "qid", "qv",
        k = 5, nprobe = 2, tieBreak = "vec_id", rankRoundDp = Some(4),
        filter = Some(m), filterSelectivity = Some(1.0 / 3))
      .select(col("query_id"), col("vec_id"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(expected.nonEmpty &&
      expected.forall { case (_, v, _) => v % 3 == 1 })
    val query = EventStreams.servingSearch(
        input.toDF().toDF("qid", "qv"), embedStage,
        "qid", "qv", path, "vec_id", "embedding", out, "serve-filt",
        k = 5, nprobe = 2, filter = Some(m),
        filterSelectivity = Some(1.0 / 3))
      .option("checkpointLocation", s"$tmp/ckpt").start()
    try {
      input.addData(qs.toSeq: _*)
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.read.parquet(s"$out/results")
      .select("query_id", "vec_id", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      "the served rows must equal the filtered batch face exactly")
  }

  test("rebalance-while-serving chaos: an in-place rebalance lands mid-stream; the next trigger serves the repaired layout with no failed micro-batch") {
    // the r19 verdict #1 act: readers take no lock, so the rebalance's
    // sidecar publish must be invisible-or-complete to a concurrent
    // serving trigger. The publish is now a generation dir + pointer
    // rename (IvfIndex.publishCentroids); this pins the end-to-end
    // behavior: trigger → rebalance → trigger, second answer equals
    // the batch face on the REPAIRED root (stale 2-cell centroids
    // would probe retired ids and serve empty results).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val tmp = tempDir("graft-serve-rebal-").toString
    val path = s"$tmp/ivf"
    // the q206 sabotage: nlist=2 mega-cells
    IvfIndex.build(emb, "vec_id", "embedding", nlist = 2).write(path)
    val out = s"$tmp/out"
    val qs = emb.filter(col("vec_id") % 7 === 3)
      .select("vec_id", "embedding").orderBy("vec_id").limit(3)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val embedStage = (df: DataFrame) => df.select(col("qid"), col("qv"))
    def batchFace(queries: Seq[(Long, Seq[Float])]) =
      IvfIndex.load(spark, path, "vec_id", "embedding")
        .searchBatch(queries.toDF("qid", "qv"), "qid", "qv",
          k = 5, nprobe = 2, tieBreak = "vec_id", rankRoundDp = Some(4))
        .select(col("query_id"), col("vec_id"), col("dist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    def served(batchId: Long) =
      spark.read.parquet(s"$out/results")
        .filter(col("batch_id") === batchId)
        .select("query_id", "vec_id", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val input = MemoryStream[(Long, Seq[Float])]
    val query = EventStreams.servingSearch(
        input.toDF().toDF("qid", "qv"), embedStage,
        "qid", "qv", path, "vec_id", "embedding", out, "serve-rebal",
        k = 5, nprobe = 2, rankRoundDp = Some(4))
      .option("checkpointLocation", s"$tmp/ckpt").start()
    try {
      // trigger 0 on the skewed root (nprobe = nlist = 2 → exact)
      val exp0 = batchFace(qs.toSeq)
      input.addData(qs.toSeq: _*)
      query.processAllAvailable()
      assert(served(0L) == exp0, "baseline trigger on the skewed root")
      // REBALANCE IN PLACE while the stream is live (between triggers)
      assert(IvfIndex.rebalance(spark, path, "vec_id", "embedding",
        maxCellRows = emb.count() / 6) >= 1)
      assert(new java.io.File(s"$path/${IvfIndex.CentroidPtr}").isFile,
        "precondition: this act must exercise the pointer publish")
      // the very NEXT trigger answers from the repaired layout — the
      // per-trigger load resolves the new generation; no restart, no
      // failed micro-batch (processAllAvailable throws on one)
      val qs1 = qs.map { case (id, v) => (id + 1000L, v) }.toSeq
      val exp1 = batchFace(qs1)
      assert(exp1.nonEmpty)
      input.addData(qs1: _*)
      query.processAllAvailable()
      assert(served(1L) == exp1,
        "the post-rebalance trigger must serve the repaired layout " +
          "(stale centroids would probe retired ids and serve nothing)")
    } finally query.stop()
  }

  test("servingSearch under maintenance: deletes visible next trigger; compact published by POINTER SWAP served seamlessly") {
    // the r16 chaos brief, re-pointed (r18 #3) at the VersionedRoot
    // pointer swap instead of a directory rename: the serving face is
    // handed the BASE, maintenance writes v-2 and publishes it by
    // atomic pointer rename — no retire-then-move window where a
    // trigger finds no root at all. Exercises deleteByIds on the live
    // version, a copy-based compact into the next version WHILE the
    // stream is live, and the publish, pinning next-trigger
    // visibility of each.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import graft.operators.IvfIndex
    import graft.sources.VersionedRoot
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val tmp = tempDir("graft-serve-chaos-").toString
    val root = s"$tmp/live"
    assert(VersionedRoot.nextVersion(spark, root) == 1)
    IvfIndex.build(base, "vec_id", "embedding", nlist = 8)
      .write(VersionedRoot.versionDir(root, 1))
    // publishing a version that was never written must fail loudly
    intercept[IllegalArgumentException](
      VersionedRoot.publish(spark, root, 9))
    VersionedRoot.publish(spark, root, 1)
    assert(VersionedRoot.resolve(spark, root) == s"$root/v-1")
    val out = s"$tmp/out"
    val qRows = emb.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding").orderBy("vec_id").limit(3)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val embedStage = (df: DataFrame) => df.select(col("qid"), col("qv"))
    def expected(qs: Seq[(Long, Seq[Float])]) =
      IvfIndex.load(spark, VersionedRoot.resolve(spark, root),
          "vec_id", "embedding")
        .searchBatch(qs.toDF("qid", "qv"), "qid", "qv",
          k = 5, nprobe = 3, tieBreak = "vec_id", rankRoundDp = Some(4))
        .select(col("query_id"), col("vec_id"), col("dist"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    def resultsFor(batchId: Long) =
      spark.read.parquet(s"$out/results")
        .filter(col("batch_id") === batchId)
        .select("query_id", "vec_id", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val query = EventStreams.servingSearch(
        input.toDF().toDF("qid", "qv"), embedStage,
        "qid", "qv", root, "vec_id", "embedding", out, "serve-chaos",
        k = 5, nprobe = 3)
      .option("checkpointLocation", s"$tmp/ckpt").start()
    try {
      // batch 0: baseline, served through the pointer
      input.addData(qRows.toSeq: _*)
      query.processAllAvailable()
      val r0 = resultsFor(0L)
      assert(r0 == expected(qRows.toSeq), "baseline batch must match")

      // deleteByIds ON THE LIVE VERSION the pointer names → the NEXT
      // trigger must not serve the retired row
      val doomed = r0.filter(_._1 == qRows.head._1).minBy(_._3)._2
      IvfIndex.deleteByIds(spark, VersionedRoot.resolve(spark, root),
        Seq(doomed).toDF("vec_id"), "vec_id", "embedding")
      val qs1 = qRows.map { case (id, v) => (id + 1000L, v) }.toSeq
      input.addData(qs1: _*)
      query.processAllAvailable()
      val r1 = resultsFor(1L)
      assert(!r1.exists(_._2 == doomed),
        s"deleted id $doomed must be gone at the next trigger")
      assert(r1 == expected(qs1),
        "post-delete batch must match searchBatch on the maintained root")

      // compact (copy-based) into the NEXT VERSION while the stream is
      // live: a trigger that fires before the publish serves the old
      // version — the pointer still names it
      assert(VersionedRoot.nextVersion(spark, root) == 2)
      IvfIndex.compact(spark, s"$root/v-1",
        VersionedRoot.versionDir(root, 2))
      val qs2 = qRows.map { case (id, v) => (id + 2000L, v) }.toSeq
      val expOld = expected(qs2)
      input.addData(qs2: _*)
      query.processAllAvailable()
      assert(resultsFor(2L) == expOld,
        "a trigger between compact and publish serves the old version")

      // the PUBLISH: one atomic pointer rename — the serving face
      // resolves the pointer per trigger, so the very next batch
      // answers from v-2; both versions stay whole on disk throughout
      // (no torn-root window by construction). NO refreshByPath: the
      // publisher is a different process in production and cannot
      // reach the serving JVM's caches.
      VersionedRoot.publish(spark, root, 2)
      assert(VersionedRoot.resolve(spark, root) == s"$root/v-2")
      val qs3 = qRows.map { case (id, v) => (id + 3000L, v) }.toSeq
      input.addData(qs3: _*)
      query.processAllAvailable()
      val r3 = resultsFor(3L)
      assert(r3 == expected(qs3),
        "post-publish batch must match searchBatch on the new version")
      assert(r3.map { case (q, v, d) => (q - 1000L, v, d) } == expOld,
        "compact+publish must preserve every answer bit for bit")
      // rollback stays one publish away until pruned; prune keeps the
      // current version and removes the retired one
      assert(VersionedRoot.prune(spark, root, keep = 0) == Seq(1))
      assert(new java.io.File(s"$root/v-2").exists() &&
        !new java.io.File(s"$root/v-1").exists())
    } finally query.stop()
  }

  test("budgetGate: prefix rule across triggers; stream == batch face; batch execution agrees") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import EventStreams.BudgetDoc
    val b1 = Seq(BudgetDoc("a", 1L, 40L), BudgetDoc("a", 2L, 40L),
      BudgetDoc("b", 1L, 90L))
    val b2 = Seq(BudgetDoc("a", 3L, 30L), BudgetDoc("a", 4L, 15L),
      BudgetDoc("b", 2L, 5L))
    val input = MemoryStream[BudgetDoc]
    val query = EventStreams.budgetGate(input.toDS(), budget = 100L)
      .writeStream.format("memory").queryName("budget_out")
      .outputMode("append").start()
    def admitted() = spark.table("budget_out")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
      .toSet
    try {
      input.addData(b1: _*)
      query.processAllAvailable()
      assert(admitted() == Set(("a", 1L, 40L), ("a", 2L, 80L),
        ("b", 1L, 90L)))
      input.addData(b2: _*)
      query.processAllAvailable()
      // the PREFIX rule with state carried across triggers: a3 takes
      // source a's seen total to 110 (> 100, dropped) and a4 stays
      // dropped at 125 even though 80+15 would fit — the cum counts
      // every doc SEEN, exactly like q87's window cumsum; b still has
      // room and admits at 95
      assert(admitted() == Set(("a", 1L, 40L), ("a", 2L, 80L),
        ("b", 1L, 90L), ("b", 2L, 95L)))
    } finally query.stop()
    // differential: the batch face over the same id-ordered feed
    val all = (b1 ++ b2).toDF()
    val batchFace = EventStreams.budgetGateBatch(all, "source",
        "doc_id", "n_toks", 100L)
      .select("source", "doc_id", "cum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchFace == admitted(),
      "stream and the q87-shaped batch face must admit identically")
    // batch execution of the SAME handler (one big trigger)
    val batchRun = EventStreams.budgetGate((b1 ++ b2).toDS(), 100L)
      .collect().map(a => (a.source, a.doc_id, a.cum)).toSet
    assert(batchRun == batchFace,
      "batch execution of the stateful handler must agree")
  }

  test("dedupStream batch form dedups on the same fingerprint") {
    import spark.implicits._
    val batch = Seq(
      (1L, ts(0), "alpha beta"),
      (2L, ts(1), "ALPHA    beta"),
      (3L, ts(2), "gamma")).toDF("doc_id", "ts", "text")
    val out = EventStreams.dedupStream(batch, "text", "ts")
      .select("text").collect().map(_.getString(0)).toSet
    assert(out.size == 2 && out.contains("gamma"))
  }

  test("curationFlags is stateless: the identical expression streams " +
      "unchanged and matches its batch run") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.TextFunctions
    graft.plans.VectorExpressions.ensureRegistered(spark)
    val healthy = (("the quick brown fox jumps over another lazy dog " +
      "and that animal have fun with friends ") * 4).trim
    val docs = Seq(
      (1L, healthy),                        // keeps both batteries
      (2L, "the cat and dog"),              // gopher: too short
      (3L, healthy + " mail me at a@b.co"), // redaction changes bytes
      (4L, Seq.fill(8)("the same exact line of words here again")
        .mkString("\n")))                   // repetition: dup lines
    def flags(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextFunctions.curationFlags(col("text"))
        .as("c"))
      .select(col("doc_id"), col("c.chg"), col("c.gopher_keep"),
        col("c.rep_keep"), col("c.fp"))
    val input = MemoryStream[(Long, String)]
    val query = flags(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cur_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(docs.take(2): _*)
      query.processAllAvailable()
      input.addData(docs.drop(2): _*) // second micro-batch: no state
      query.processAllAvailable()
      val streamed = spark.table("cur_stream").collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      val batch = flags(docs.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(streamed == batch,
        s"stream/batch divergence: $streamed vs $batch")
      assert(batch(1L).take(3) == Seq(0L, 1L, 1L), batch(1L))
      assert(batch(2L)(1) == 0L, batch(2L))
      assert(batch(3L)(0) == 1L, batch(3L))
      assert(batch(4L)(2) == 0L, batch(4L))
    } finally query.stop()
  }

  test("correlate joins two streams within the horizon and matches its own batch run") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val joined = EventStreams.correlate(
      clicks.toDF(), buys.toDF(), horizon = "30 minutes")
    val query = joined.writeStream.format("memory")
      .queryName("corr").outputMode(OutputMode.Append()).start()
    val clickRows = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(10), 2, "click", 1.0),
      Event(3, ts(100), 1, "click", 1.0))
    val buyRows = Seq(
      Event(10, ts(20), 1, "purchase", 5.0),  // pairs with click 1 (lag 20m)
      Event(11, ts(50), 2, "purchase", 5.0),  // 40m after click 2 — outside
      Event(12, ts(110), 1, "purchase", 5.0), // pairs with click 3 (lag 10m)
      Event(13, ts(95), 3, "purchase", 5.0))  // no click at all
    try {
      clicks.addData(clickRows: _*)
      buys.addData(buyRows: _*)
      query.processAllAvailable()
      val streamed = spark.table("corr")
        .select("l_event_id", "r_event_id", "lag_s")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(streamed == Set((1L, 10L, 1200L), (3L, 12L, 600L)), streamed)
      // the SAME function over batch frames returns the same pairs
      val batch = EventStreams.correlate(
          clickRows.toDF(), buyRows.toDF(), horizon = "30 minutes")
        .select("l_event_id", "r_event_id", "lag_s")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(batch == streamed, s"batch $batch vs streamed $streamed")
    } finally query.stop()
  }

  test("correlateOuter: matches emit like the inner join; the null verdict waits for the watermark") {
    // the left-outer subtlety this operator exists for: an unmatched
    // click's null-padded row is a VERDICT ("nothing followed within
    // the horizon") the engine may only issue once the watermark
    // proves no purchase can still arrive — emitting it earlier would
    // be wrong, and emitting the click twice (null + late match)
    // never happens.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val buys = MemoryStream[Event]
    val joined = EventStreams.correlateOuter(
      clicks.toDF(), buys.toDF(), horizon = "30 minutes",
      watermark = "10 minutes")
    val query = joined.writeStream.format("memory")
      .queryName("corr_outer").outputMode(OutputMode.Append()).start()
    def rows(): Set[(Long, Option[Long])] = spark.table("corr_outer")
      .select("l_event_id", "r_event_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    try {
      clicks.addData(
        Event(1, ts(0), 1, "click", 1.0),   // will match
        Event(2, ts(10), 2, "click", 1.0))  // will stay unmatched
      buys.addData(Event(10, ts(20), 1, "purchase", 5.0))
      query.processAllAvailable()
      // the match may emit now; the null verdict for click 2 MUST NOT
      // (its horizon end 40m + 10m delay is far past both watermarks)
      assert(!rows().exists(_._2.isEmpty),
        s"null verdict emitted before the watermark allowed it: ${rows()}")
      // advance both watermarks well past click 2's horizon + delay
      clicks.addData(Event(3, ts(300), 9, "click", 1.0))
      buys.addData(Event(11, ts(300), 9, "purchase", 5.0))
      query.processAllAvailable()
      clicks.addData(Event(4, ts(400), 8, "click", 1.0))
      buys.addData(Event(12, ts(400), 8, "purchase", 5.0))
      query.processAllAvailable()
      val r = rows()
      assert(r.contains((1L, Some(10L))), s"matched pair missing: $r")
      assert(r.contains((2L, None)), s"null verdict never emitted: $r")
      assert(r.count(_._1 == 2L) == 1,
        s"unmatched click must emit exactly once: $r")
      // the SAME function over batch frames: plain left-outer rows
      val batch = EventStreams.correlateOuter(
          Seq(Event(1, ts(0), 1, "click", 1.0),
            Event(2, ts(10), 2, "click", 1.0)).toDF(),
          Seq(Event(10, ts(20), 1, "purchase", 5.0)).toDF(),
          horizon = "30 minutes")
        .select("l_event_id", "r_event_id").collect()
        .map(x => (x.getLong(0),
          if (x.isNullAt(1)) None else Some(x.getLong(1)))).toSet
      assert(batch == Set((1L, Some(10L)), (2L, None)), batch.toString)
    } finally query.stop()
  }

  test("correlate survives a checkpointed restart: every pair lands exactly once") {
    import spark.implicits._
    val tmp = tempDir("graft-corr-").toString
    val (inC, inB, out, ckpt) =
      (s"$tmp/c", s"$tmp/b", s"$tmp/out", s"$tmp/ckpt")
    val schema = implicitly[org.apache.spark.sql.Encoder[Event]].schema
    def add(dir: String, rows: Event*): Unit =
      rows.toDF().coalesce(1).write.mode("append").parquet(dir)
    def run(): Unit = {
      val q = EventStreams.correlate(
          spark.readStream.schema(schema).parquet(inC),
          spark.readStream.schema(schema).parquet(inB),
          horizon = "30 minutes")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
    }
    def pairs(): Set[(Long, Long)] = spark.read.parquet(out)
      .select("l_event_id", "r_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    add(inC, Event(1, ts(0), 1, "click", 1.0))
    add(inB, Event(10, ts(20), 1, "purchase", 5.0))
    run()
    assert(pairs() == Set((1L, 10L)))
    // new data on both sides, then a FRESH query from the same
    // checkpoint: the committed batch is not re-emitted (the file
    // sink's metadata log is the exactly-once boundary), the new pair
    // joins across the restart
    add(inC, Event(2, ts(40), 2, "click", 1.0))
    add(inB, Event(11, ts(45), 2, "purchase", 5.0))
    run()
    assert(pairs() == Set((1L, 10L), (2L, 11L)),
      s"restart must add exactly the new pair: ${pairs()}")
  }

  test("budgetGate survives a checkpointed restart: the seen-prefix carries") {
    import spark.implicits._
    import EventStreams.BudgetDoc
    val tmp = tempDir("graft-budget-").toString
    val (in, out, ckpt) = (s"$tmp/in", s"$tmp/out", s"$tmp/ckpt")
    val schema =
      implicitly[org.apache.spark.sql.Encoder[BudgetDoc]].schema
    def add(rows: BudgetDoc*): Unit =
      rows.toDF().coalesce(1).write.mode("append").parquet(in)
    def run(): Unit = {
      val q = EventStreams.budgetGate(
          spark.readStream.schema(schema).parquet(in).as[BudgetDoc],
          budget = 100L)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
    }
    def admitted(): Set[(String, Long, Long)] = spark.read.parquet(out)
      .select("source", "doc_id", "cum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    add(BudgetDoc("a", 1L, 40L), BudgetDoc("a", 2L, 40L))
    run()
    assert(admitted() == Set(("a", 1L, 40L), ("a", 2L, 80L)))
    // a FRESH query from the same checkpoint: source a's seen total
    // (80) must survive the restart — a3 (30) crosses the budget and
    // a4 (15) stays dropped at prefix 125 even though 80+15 would
    // fit, which is exactly what distinguishes carried state + the
    // prefix rule from a silent state reset (a reset would admit
    // both a3 and a4)
    add(BudgetDoc("a", 3L, 30L), BudgetDoc("a", 4L, 15L),
      BudgetDoc("b", 1L, 90L))
    run()
    assert(admitted() == Set(("a", 1L, 40L), ("a", 2L, 80L),
      ("b", 1L, 90L)),
      s"state must carry across the restart: ${admitted()}")
  }

  test("windowedCounts runs over a real file stream (readStream source)") {
    val batchDf = graft.Tables(spark, "/root/testdata/sf0.001", "events")
    // The raw file's ts type varies by data drop (TIMESTAMP(NANOS) read
    // as long under nanosAsLong, vs TIMESTAMP(MICROS) read as NTZ) —
    // read the ON-DISK schema and normalize exactly as Tables does.
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val stream = spark.readStream
      .schema(raw.schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet("/root/testdata/sf0.001")
    val streamTs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        stream.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => stream
    }
    val query = EventStreams.windowedCounts(streamTs, "1 day", "1 hour")
      .writeStream.format("memory").queryName("file_win")
      .outputMode(OutputMode.Complete()).start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("file_win")
        .agg(sum("n")).head.getLong(0)
      assert(streamed == batchDf.count())
    } finally query.stop()
  }

  test("the same windowedCounts transform runs in batch (unified API)") {
    import spark.implicits._
    val batch = Seq(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(70), 1, "click", 2.0)).toDF()
    val out = EventStreams.windowedCounts(batch, "1 hour", "10 minutes")
      .orderBy("window_start").collect()
    assert(out.length == 2 && out.forall(_.getLong(2) == 1L))
  }

  test("anomalyFlags: bins finalize at the watermark, gaps synthesize zeros, and only q122's integer 3-sigma test fires") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def tsec(s: Long): Timestamp = new Timestamp(1704067200000L + s * 1000)
    var id = 0L
    def ev(s: Long, typ: String = "click"): Event = {
      id += 1; Event(id, tsec(s), 1, typ, 1.0)
    }
    // bins (60 s, trailing ring of 4): counts 1,2,1,2,4,·,·,2,7 — the
    // hand-checked expectation: m4 flags on ring [1,2,1,2]
    // ((16−6)²=100 > 9·(40−36)=36), m7 does NOT on [2,4,0,0]
    // (4 < 396), m8 flags on [4,0,0,2] ((28−6)²=484 > 396); the
    // first four bins can't flag (ring not yet full)
    val input = MemoryStream[Event]
    val query = EventStreams
      .anomalyFlags(input.toDS(), binSecs = 60L, trailing = 4,
        watermark = "2 minutes")
      .writeStream.format("memory").queryName("anomaly_flags")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Seq(ev(5), ev(65), ev(70), ev(125), ev(185), ev(190),
          ev(245), ev(246), ev(247), ev(250)): _*)
      query.processAllAvailable()
      input.addData(
        Seq(ev(425), ev(430),
          ev(485), ev(486), ev(487), ev(488), ev(489), ev(490),
          ev(491)): _*)
      query.processAllAvailable()
      // watermark advances batch-by-batch; sentinels push it past m8
      input.addData(ev(1800)); query.processAllAvailable()
      input.addData(ev(2400)); query.processAllAvailable()
      val flags = spark.table("anomaly_flags")
        .orderBy("bin_start")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      assert(flags == Seq(
        ("click", 1704067200L + 240L, 4L, 6L),
        ("click", 1704067200L + 480L, 7L, 6L)), flags.toString)
    } finally query.stop()
  }

  test("heavyHitters: space-saving guarantees hold, small windows are exact, windows finalize at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def tsec(s: Long): Timestamp = new Timestamp(1704067200000L + s * 1000)
    var id = 0L
    def ev(s: Long, user: Long): Event = {
      id += 1; Event(id, tsec(s), user, "click", 1.0)
    }
    // window 0 [0,600): u1×6, u2×4, u3×2, u4×1, u5×1 — 14 events over
    // 5 distinct users with capacity 4, so eviction fires; guaranteed
    // present: true > 14/4 = 3.5 → u1 and u2. window 1 [600,1200):
    // u7×3, u8×2, u9×1 — 3 distinct ≤ capacity → EXACT (err 0).
    val feed0 = Seq(1L, 2L, 1L, 3L, 1L, 4L, 2L, 1L, 5L, 2L, 1L, 3L,
      2L, 1L).zipWithIndex.map { case (u, i) => ev(i * 10L, u) }
    val feed1 = Seq(7L, 8L, 7L, 9L, 8L, 7L).zipWithIndex
      .map { case (u, i) => ev(600L + i * 10L, u) }
    val trueW0 = Map(1L -> 6L, 2L -> 4L, 3L -> 2L, 4L -> 1L, 5L -> 1L)
    val input = MemoryStream[Event]
    val query = EventStreams
      .heavyHitters(input.toDS(), windowSecs = 600L, k = 3,
        capacity = 4, watermark = "2 minutes")
      .writeStream.format("memory").queryName("heavy_hitters")
      .outputMode(OutputMode.Append()).start()
    try {
      // split across triggers — the guarantees must hold regardless
      input.addData(feed0.take(7): _*)
      query.processAllAvailable()
      input.addData((feed0.drop(7) ++ feed1): _*)
      query.processAllAvailable()
      // two sentinels: the first advances the watermark past both
      // windows, the second delivers a batch whose handler RUNS with
      // that watermark and finalizes them
      input.addData(ev(3600L, 99L)); query.processAllAvailable()
      input.addData(ev(4200L, 99L)); query.processAllAvailable()
      val rows = spark.table("heavy_hitters")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      val w0 = rows.filter(_._1 == 1704067200L).sortBy(x => (-x._3, x._2))
      val w1 = rows.filter(_._1 == 1704067200L + 600L)
        .sortBy(x => (-x._3, x._2))
      assert(w0.size == 3 && w0.forall(_._5 == 14L))
      assert(w0.map(_._2).toSet.intersect(Set(1L, 2L)) == Set(1L, 2L),
        s"guaranteed-heavy users missing: $w0")
      w0.foreach { case (_, u, est, err, _) =>
        val t = trueW0.getOrElse(u, 0L)
        assert(est >= t && est - err <= t,
          s"space-saving bounds violated for u$u: est=$est err=$err true=$t")
      }
      // the small window is exact: counts match, zero error
      assert(w1 == Seq((1704067200L + 600L, 7L, 3L, 0L, 6L),
        (1704067200L + 600L, 8L, 2L, 0L, 6L),
        (1704067200L + 600L, 9L, 1L, 0L, 6L)), w1.toString)
    } finally query.stop()
  }

  test("heavyHitters: an IDLE type's windows flush via the event-time timeout when other traffic advances the watermark") {
    // the r18-advice gap: with NoTimeout the handler only ran for
    // types present in the current batch, so a type that stopped
    // receiving traffic held its windows open forever. Now the
    // handler arms an EventTimeTimeout at the earliest open window's
    // end — here 'burst' goes quiet after window 0 and ONLY 'other'
    // traffic advances the watermark, yet burst's window finalizes.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def tsec(s: Long): Timestamp = new Timestamp(1704067200000L + s * 1000)
    var id = 0L
    def ev(s: Long, user: Long, typ: String): Event = {
      id += 1; Event(id, tsec(s), user, typ, 1.0)
    }
    val input = MemoryStream[Event]
    val query = EventStreams
      .heavyHitters(input.toDS(), windowSecs = 600L, k = 3,
        capacity = 4, watermark = "2 minutes")
      .writeStream.format("memory").queryName("heavy_idle")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(ev(10L, 1L, "burst"), ev(20L, 1L, "burst"),
        ev(30L, 2L, "burst"))
      query.processAllAvailable()
      // two sentinel batches of a DIFFERENT type: the first advances
      // the watermark past burst's window end, the second's trigger
      // fires burst's timeout (timeouts evaluate against the batch's
      // starting watermark — the usual two-sentinel shape)
      input.addData(ev(3600L, 99L, "other")); query.processAllAvailable()
      input.addData(ev(4200L, 99L, "other")); query.processAllAvailable()
      val rows = spark.table("heavy_idle")
        .filter($"event_type" === "burst")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq.sortBy(x => (-x._3, x._2))
      assert(rows == Seq((1704067200L, 1L, 2L, 0L, 3L),
        (1704067200L, 2L, 1L, 0L, 3L)), rows.toString)
    } finally query.stop()
  }

  test("heavyHittersBatch == streaming heavyHitters on a single-trigger feed, EVICTIONS included; exact when keys fit capacity") {
    // the two faces share spaceSavingInsert and the (ts, event_id)
    // fold order, so on one trigger they must be row-identical even
    // in the eviction regime (capacity 4 < 5 distinct users); and
    // with capacity ≥ distinct keys the batch face is provably exact
    // (est = true count, err = 0) — the q223 gate regime.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def tsec(s: Long): Timestamp = new Timestamp(1704067200000L + s * 1000)
    var id = 0L
    def ev(s: Long, user: Long): Event = {
      id += 1; Event(id, tsec(s), user, "click", 1.0)
    }
    val feed = Seq(1L, 2L, 1L, 3L, 1L, 4L, 2L, 1L, 5L, 2L, 1L, 3L,
      2L, 1L).zipWithIndex.map { case (u, i) => ev(i * 10L, u) } ++
      Seq(7L, 8L, 7L, 9L, 8L, 7L).zipWithIndex
        .map { case (u, i) => ev(600L + i * 10L, u) }
    // batch face, eviction regime
    val batch = EventStreams
      .heavyHittersBatch(feed.toDS(), windowSecs = 600L, k = 3,
        capacity = 4)
      .collect().map(r =>
        (r.event_type, r.window_start, r.user_id, r.est, r.err,
          r.window_n)).toSet
    // streaming face, ONE trigger + the two-sentinel flush
    val input = MemoryStream[Event]
    val query = EventStreams
      .heavyHitters(input.toDS(), windowSecs = 600L, k = 3,
        capacity = 4, watermark = "2 minutes")
      .writeStream.format("memory").queryName("hh_faces")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(feed: _*)
      query.processAllAvailable()
      input.addData(ev(3600L, 99L)); query.processAllAvailable()
      input.addData(ev(4200L, 99L)); query.processAllAvailable()
      val stream = spark.table("hh_faces")
        .filter($"window_start" < 1704067200L + 1200L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(batch == stream,
        s"faces diverged:\nbatch  $batch\nstream $stream")
    } finally query.stop()
    // exact regime: capacity ≥ distinct keys → plain counts, err 0
    val exact = EventStreams
      .heavyHittersBatch(feed.toDS(), windowSecs = 600L, k = 3,
        capacity = 16)
      .collect()
    assert(exact.forall(_.err == 0L))
    val trueW0 = Map(1L -> 6L, 2L -> 4L, 3L -> 2L)
    exact.filter(_.window_start == 1704067200L).foreach { r =>
      assert(trueW0(r.user_id) == r.est, s"not exact: $r")
    }
  }

  test("heavyHitters on a batch frame emits nothing (watermark is 0, like anomalyFlags)") {
    import spark.implicits._
    val batch = (0 until 30).map(i =>
      Event(i.toLong, ts(i.toLong), i.toLong % 3, "click", 1.0)).toDS()
    assert(EventStreams.heavyHitters(batch).isEmpty)
  }

  test("anomalyFlags on a batch frame emits nothing (watermark is 0; the batch face is q122)") {
    import spark.implicits._
    val batch = (0 until 50).map(i =>
      Event(i.toLong, ts(i.toLong), 1, "click", 1.0)).toDS()
    assert(EventStreams.anomalyFlags(batch, 60L, 4).isEmpty)
  }

  test("late data past the watermark is DROPPED and ACCOUNTED (numRowsDroppedByWatermark)") {
    // the operational contract of every watermarked operator here:
    // lateness is not silent — the engine's progress metrics report
    // exactly how many rows the watermark discarded, which is what a
    // production monitor alarms on (silent late-drop is data loss
    // nobody sees)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    // APPEND mode: finalized windows only — the mode where late rows
    // are dropped rather than revising emitted results
    val query = EventStreams.windowedCounts(input.toDF(), "10 minutes",
        "10 minutes")
      .writeStream.format("memory").queryName("late_counts")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(1, ts(5), 1, "click", 1.0))
      query.processAllAvailable()
      // advance event time far past the first window; watermark moves
      // to ts(200) - 10min on the NEXT batch
      input.addData(Event(2, ts(200), 1, "click", 1.0))
      query.processAllAvailable()
      input.addData(Event(3, ts(201), 1, "click", 1.0))
      query.processAllAvailable()
      // this row is ~3 hours older than the watermark: dropped
      input.addData(Event(4, ts(6), 1, "click", 99.0))
      query.processAllAvailable()
      val dropped = query.recentProgress
        .flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark))
        .sum
      assert(dropped >= 1,
        s"the watermark drop must be visible in progress metrics, " +
          s"got $dropped")
      // and the late row's value never contaminated the emitted window
      val w0 = spark.table("late_counts")
        .filter(col("event_type") === "click")
        .orderBy("window_start").collect()
      assert(w0.nonEmpty && w0.head.getLong(2) == 1L &&
        w0.head.getDouble(3) == 1.0,
        s"late row leaked into a finalized window: ${w0.toSeq}")
    } finally query.stop()
  }

  test("decontamStream drops bloom-hit docs; batch and stream agree; no false negatives") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Sketches
    import org.apache.spark.sql.functions.explode
    graft.plans.VectorExpressions.ensureRegistered(spark)
    val mBits = 1 << 12
    // a benchmark doc whose 8-grams form the contamination set
    val benchText = "zero one two three four five six seven eight nine"
    val benchGrams = spark.createDataset(Seq(benchText)).toDF("text")
      .select(explode(graft.functions.TextFunctions
        .wordShinglesNative(col("text"), 8)).as("g"))
    val dense = Sketches.bloomDense(
      Sketches.bloomBuild(benchGrams, col("g"), mBits, 3), mBits)
    val contaminated =
      "intro words then zero one two three four five six seven closing"
    val clean = "a completely unrelated document with its own words here"
    val rows = Seq((1L, ts(0), contaminated), (2L, ts(1), clean),
      (3L, ts(2), benchText))
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val query = EventStreams.decontamStream(docs, "text", dense,
        mBits, 3)
      .writeStream.format("memory").queryName("decontam_docs")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      val kept = spark.table("decontam_docs")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // contaminated docs CANNOT pass (no false negatives); the clean
      // doc passes unless it false-positives, which this tiny gram set
      // cannot produce at 4096 bits
      assert(!kept(1L) && !kept(3L), s"contaminated doc passed: $kept")
      assert(kept(2L), s"clean doc dropped: $kept")
      // one code path: the batch run is the identical expression
      val batchKept = EventStreams.decontamStream(
          rows.toDF("doc_id", "ts", "text"), "text", dense, mBits, 3)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batchKept == kept, s"batch $batchKept != stream $kept")
    } finally query.stop()
  }
}
