package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** CDC lifecycle for the ENCODED index families (r14 verdict's one
  * missing maintenance path): a persisted PQ root — raw, IVF, or
  * residual — and a persisted binary sign-code root stay consistent
  * under diff → delete → append, with codes for appended rows produced
  * against the FIXED persisted artifacts (codebooks / centroids / dim),
  * never a refit. Maintained roots must equal a fresh build over the
  * new snapshot in CONTENTS (vectors, clusters, code bytes) and in
  * SEARCH RESULTS. */
class CdcPqLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def vec(i: Long, salt: Int): Seq[Float] =
    (0 until 8).map(j => ((i * 31 + j * 7 + salt * 13) % 97) / 97f - 0.5f)

  private def snapA = (0L until 120L).map(i => (i, vec(i, 0)))
  private def snapB =
    snapA.filter { case (i, _) => i % 17 != 0 }
      .map { case (i, v) => if (i % 13 == 0) (i, vec(i, 1)) else (i, v) } ++
      (120L until 140L).map(i => (i, vec(i, 0)))

  private def df(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("vec_id", "embedding")

  /** apply the A→B CDC batch to a maintained root via the supplied
    * delete/append ops */
  private def applyCdc(del: org.apache.spark.sql.DataFrame => Int,
      app: org.apache.spark.sql.DataFrame => Unit): Unit = {
    val d = SnapshotDiff.diff(df(snapA), df(snapB), Seq("vec_id"),
      md5(col("embedding").cast("string")))
    val doomed = d.filter(col("status").isin("removed", "changed"))
      .select("vec_id")
    assert(del(doomed) > 0)
    assert(del(doomed) == 0, "delete re-run (crash-heal) must be a no-op")
    val landing = d.filter(col("status").isin("added", "changed"))
      .select("vec_id")
    app(df(snapB).join(landing, "vec_id"))
  }

  private def contentsOf(data: org.apache.spark.sql.DataFrame)
      : Map[Long, (Seq[Float], Int, Seq[Byte])] =
    data.collect().map { r =>
      val ri = r.fieldIndex _
      r.getLong(ri("vec_id")) -> ((r.getSeq[Float](ri("embedding")),
        r.getAs[Number](ri(IvfIndex.ClusterCol)).intValue(),
        r.getAs[Array[Byte]](ri(Pq.CodeCol)).toSeq))
    }.toMap

  /** (id, dist) of the top-5 PQ search over the persisted root at `p`,
    * scored with the codec the root records */
  private def search(p: String, q: Seq[Float],
      nprobe: Int = Int.MaxValue): Seq[(Long, Double)] = {
    val root = Pq.loadRoot(spark, p)
    Pq.topK(root.data(spark), "vec_id", "embedding", q, k = 5, root,
        nprobe = nprobe, refine = 4, tieBreak = Some("vec_id"),
        rankRoundDp = Some(4))
      .select("vec_id", "dist")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("residual IVF-PQ root: maintained == fresh in contents and search") {
    val idx = IvfIndex.build(df(snapA), "vec_id", "embedding", nlist = 4)
    val books = Pq.fitResidual(
      IvfIndex.assignToCentroids(df(snapA), "embedding", idx.centroids,
        idx.clusterIds),
      "vec_id", "embedding", idx.centroids, idx.clusterIds,
      m = 4, ksub = 8)
    val ivf = Some((idx.centroids, idx.clusterIds))

    val maintained = tempDir("graft-cdc-pqres-m-").toString + "/pq"
    Pq.writeRoot(spark, maintained, df(snapA), "embedding", books,
      residual = true, ivf = ivf)
    applyCdc(
      ids => Pq.deleteEncoded(spark, maintained, ids, "vec_id"),
      rows => Pq.appendEncoded(spark, maintained, rows, "embedding"))

    val fresh = tempDir("graft-cdc-pqres-f-").toString + "/pq"
    Pq.writeRoot(spark, fresh, df(snapB), "embedding", books,
      residual = true, ivf = ivf)

    val mRoot = Pq.loadRoot(spark, maintained)
    assert(mRoot.residual && mRoot.books.dim == books.dim)
    assert(contentsOf(mRoot.data(spark)) ==
      contentsOf(Pq.loadRoot(spark, fresh).data(spark)),
      "maintained root contents (codes included) != fresh build")

    for (qi <- Seq(1L, 50L, 125L)) {
      val q = snapB.toMap.apply(qi)
      assert(search(maintained, q, nprobe = 2) ==
        search(fresh, q, nprobe = 2),
        s"residual search parity broke for query $qi")
    }
  }

  test("raw IVF-PQ root: cluster wipe removes the directory; search stays exact") {
    val idx = IvfIndex.build(df(snapA), "vec_id", "embedding", nlist = 4)
    val books = Pq.fit(df(snapA), "vec_id", "embedding", m = 4, ksub = 8)
    val path = tempDir("graft-cdc-pqwipe-").toString + "/pq"
    Pq.writeRoot(spark, path, df(snapA), "embedding", books,
      ivf = Some((idx.centroids, idx.clusterIds)))
    val root = Pq.loadRoot(spark, path)
    val cluster = root.data(spark)
      .select(col(IvfIndex.ClusterCol).cast("int")).distinct()
      .collect().map(_.getInt(0)).min
    val doomedIds = root.data(spark)
      .filter(col(IvfIndex.ClusterCol).cast("int") === cluster)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(doomedIds.nonEmpty)
    Pq.deleteEncoded(spark, path, doomedIds.toDF("vec_id"), "vec_id")
    assert(!new java.io.File(
      s"$path/${Pq.DataSubdir}/${IvfIndex.ClusterCol}=$cluster").exists(),
      "fully-emptied cluster directory must be removed")
    assert(root.data(spark).count() == 120L - doomedIds.size)
    // full-probe PQ search over the survivors == PQ over a fresh root
    val survivors = snapA.filterNot { case (i, _) => doomedIds.contains(i) }
    val fresh = tempDir("graft-cdc-pqwipe-f-").toString + "/pq"
    Pq.writeRoot(spark, fresh, df(survivors), "embedding", books,
      ivf = Some((idx.centroids, idx.clusterIds)))
    val q = vec(3L, 0)
    assert(search(path, q, nprobe = 4) == search(fresh, q, nprobe = 4))
  }

  test("flat PQ root: maintained == fresh; appended rows encode with the FIXED books") {
    val books = Pq.fit(df(snapA), "vec_id", "embedding", m = 4, ksub = 8)
    val maintained = tempDir("graft-cdc-pqflat-m-").toString + "/pq"
    Pq.writeRoot(spark, maintained, df(snapA), "embedding", books)
    applyCdc(
      ids => Pq.deleteEncoded(spark, maintained, ids, "vec_id"),
      rows => Pq.appendEncoded(spark, maintained, rows, "embedding"))
    val fresh = tempDir("graft-cdc-pqflat-f-").toString + "/pq"
    // fresh root with the SAME books (the fixed-books contract: a
    // fresh fit over snapB would differ — that is the documented drift
    // trade, not the maintained-equality contract)
    Pq.writeRoot(spark, fresh, df(snapB), "embedding", books)
    def contents(p: String) = Pq.loadRoot(spark, p).data(spark)
      .collect().map { r =>
        r.getLong(0) -> (r.getSeq[Float](1),
          r.getAs[Array[Byte]](2).toSeq)
      }.toMap
    assert(contents(maintained) == contents(fresh))
    val q = snapB.toMap.apply(125L)
    assert(search(maintained, q) == search(fresh, q))
  }

  test("compacted PQ root loads and answers identically") {
    val idx = IvfIndex.build(df(snapA), "vec_id", "embedding", nlist = 4)
    val books = Pq.fit(df(snapA), "vec_id", "embedding", m = 4, ksub = 8)
    val src = tempDir("graft-cdc-pqcomp-").toString + "/pq"
    Pq.writeRoot(spark, src, df(snapA), "embedding", books,
      ivf = Some((idx.centroids, idx.clusterIds)))
    // fragment it: three tiny appends
    for (b <- 0 until 3)
      Pq.appendEncoded(spark, src,
        df((140L + b * 5 until 145L + b * 5).map(i => (i, vec(i, 2)))),
        "embedding")
    val dest = tempDir("graft-cdc-pqcomp-d-").toString + "/pq"
    Pq.compactRoot(spark, src, dest)
    assert(contentsOf(Pq.loadRoot(spark, dest).data(spark)) ==
      contentsOf(Pq.loadRoot(spark, src).data(spark)))
    val q = vec(3L, 0)
    assert(search(dest, q, nprobe = 4) == search(src, q, nprobe = 4))
  }

  test("binary root: maintained == fresh pack; stored-code search == inline-pack search") {
    val maintained = tempDir("graft-cdc-bin-m-").toString + "/bin"
    BinaryHash.writeRoot(spark, maintained, df(snapA), "embedding", 8)
    applyCdc(
      ids => BinaryHash.deleteByIds(spark, maintained, ids, "vec_id"),
      rows => BinaryHash.appendTo(spark, maintained, rows, "embedding"))
    val fresh = tempDir("graft-cdc-bin-f-").toString + "/bin"
    BinaryHash.writeRoot(spark, fresh, df(snapB), "embedding", 8)
    def contents(p: String) = spark.read
      .parquet(s"$p/${BinaryHash.DataSubdir}")
      .collect().map { r =>
        r.getLong(0) -> (r.getSeq[Float](1), r.getSeq[Long](2))
      }.toMap
    assert(contents(maintained) == contents(fresh),
      "maintained binary codes != fresh pack of the new snapshot")

    val q = snapB.toMap.apply(125L)
    graft.plans.VectorExpressions.ensureRegistered(spark)
    val rerank = (v: org.apache.spark.sql.Column) =>
      KnnSearch.roundHalfUpCol(
        graft.functions.VectorFunctions.cosineSimilarityNative(
          v, KnnSearch.litVec(q)), 4)
    val stored = BinaryHash.topKStored(
        spark.read.parquet(s"$maintained/${BinaryHash.DataSubdir}"),
        BinaryHash.CodeCol, "embedding", "vec_id", q,
        k = 5, candidates = 20, rerank)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val inline = BinaryHash.topK(df(snapB), "embedding", "vec_id", q,
        k = 5, candidates = 20, rerank)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(stored == inline,
      "stored-code search diverged from the inline-pack search")
  }

  test("in-place rebuilds of IVF, PQ and binary roots fire the invalidation hooks") {
    // derived-artifact caches outside the root-metadata cache evict only
    // through the hooks, so a rebuild must fire them like every other
    // mutation
    import scala.jdk.CollectionConverters._
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    graft.sources.PersistedRoot.onInvalidated(r => { seen.add(r); () })
    val tmp = tempDir("graft-cdc-rebuild-").toString
    val (ivf, pq, bin) = (s"$tmp/ivf", s"$tmp/pq", s"$tmp/bin")
    val idx = IvfIndex.build(df(snapA), "vec_id", "embedding", nlist = 4)
    val books = Pq.fit(df(snapA), "vec_id", "embedding", m = 4, ksub = 8)
    def build(): Unit = {
      idx.write(ivf)
      Pq.writeRoot(spark, pq, df(snapA), "embedding", books)
      BinaryHash.writeRoot(spark, bin, df(snapA), "embedding", 8)
    }
    build()
    seen.clear()
    build()
    assert(Set(ivf, pq, bin).subsetOf(seen.asScala),
      s"rebuild hooks saw only ${seen.asScala}")
  }

  test("all-doomed flat delete leaves a READABLE empty root, and append refills it") {
    // r15 advice raised this as a schema-inference hazard; on this
    // Spark the empty-survivors Overwrite writes one schema-bearing
    // empty part file (SPARK-23271), so the root stays loadRoot- and
    // read-compatible. Pinned here so a Spark upgrade that regresses
    // to a part-file-less directory fails THIS spec, not a production
    // read.
    val books = Pq.fit(df(snapA), "vec_id", "embedding", m = 4, ksub = 8)
    val root = tempDir("graft-cdc-pqempty-").toString + "/pq"
    Pq.writeRoot(spark, root, df(snapA), "embedding", books)
    assert(Pq.deleteEncoded(spark, root,
      df(snapA).select("vec_id"), "vec_id") == 1)
    assert(Pq.loadRoot(spark, root).data(spark).count() == 0L,
      "empty root must stay readable after an all-doomed delete")
    Pq.appendEncoded(spark, root, df(snapB.take(10)), "embedding")
    assert(Pq.loadRoot(spark, root).data(spark).count() == 10L)
  }

  test("flat compactRoot SHRINKS the file count and refuses aliased paths") {
    val books = Pq.fit(df(snapA), "vec_id", "embedding", m = 4, ksub = 8)
    val src = tempDir("graft-cdc-pqfcomp-").toString + "/pq"
    Pq.writeRoot(spark, src, df(snapA), "embedding", books)
    for (b <- 0 until 3)
      Pq.appendEncoded(spark, src,
        df((140L + b * 5 until 145L + b * 5).map(i => (i, vec(i, 2)))),
        "embedding")
    def partFiles(p: String) =
      new java.io.File(s"$p/${Pq.DataSubdir}").listFiles()
        .count(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
    assert(partFiles(src) > 3, "fragmentation premise broken")
    val dest = tempDir("graft-cdc-pqfcomp-d-").toString + "/pq"
    // 135 rows at 50/file → exactly ceil(135/50) = 3 files (r15
    // verdict: maxRecordsPerFile alone left one file per input task)
    Pq.compactRoot(spark, src, dest, targetRowsPerFile = 50L)
    assert(partFiles(dest) == 3,
      s"flat compact must coalesce to ceil(rows/target) files, " +
        s"got ${partFiles(dest)}")
    def contents(p: String) = Pq.loadRoot(spark, p).data(spark)
      .collect().map { r =>
        r.getLong(0) -> (r.getSeq[Float](1),
          r.getAs[Array[Byte]](2).toSeq)
      }.toMap
    assert(contents(dest) == contents(src))
    // the disjointness guard must compare HADOOP-qualified paths
    // (r15 advice): 'file:' + src is the same directory in a different
    // spelling — a raw string comparison would let it through and the
    // Overwrite would destroy the source mid-job
    val e = intercept[IllegalArgumentException] {
      Pq.compactRoot(spark, src, "file:" + src)
    }
    assert(e.getMessage.contains("disjoint"))
    // '..' segments survive Hadoop qualification (r16 advice): the
    // same directory spelled through its parent must also be refused
    val srcDir = new java.io.File(src)
    val dotted = s"${srcDir.getParent}/../${srcDir.getParentFile.getName}/pq"
    val e2 = intercept[IllegalArgumentException] {
      Pq.compactRoot(spark, src, dotted)
    }
    assert(e2.getMessage.contains("disjoint"))
    // a symlinked alias of the source directory must be refused too
    val linkParent = tempDir("graft-cdc-pqfcomp-l-")
    val link = linkParent.resolve("alias")
    Files.createSymbolicLink(link, java.nio.file.Paths.get(srcDir.getParent))
    val e3 = intercept[IllegalArgumentException] {
      Pq.compactRoot(spark, src, s"$link/pq")
    }
    assert(e3.getMessage.contains("disjoint"))
    assert(contents(src).size == 135, "guard must fire BEFORE any write")
  }

  test("append of a wrong-dim batch fails loudly on both roots") {
    val books = Pq.fit(df(snapA), "vec_id", "embedding", m = 4, ksub = 8)
    val pq = tempDir("graft-cdc-dim-pq-").toString + "/pq"
    Pq.writeRoot(spark, pq, df(snapA), "embedding", books)
    val bad = Seq((900L, (0 until 6).map(_.toFloat)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[Exception] {
      Pq.appendEncoded(spark, pq, bad, "embedding") }
    assert(e1.getMessage != null)
    val bin = tempDir("graft-cdc-dim-bin-").toString + "/bin"
    BinaryHash.writeRoot(spark, bin, df(snapA), "embedding", 8)
    val e2 = intercept[Exception] {
      BinaryHash.appendTo(spark, bin, bad, "embedding") }
    assert(e2.getMessage != null)
  }
}
