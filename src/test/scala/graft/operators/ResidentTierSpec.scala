package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.PersistedRoot

/** The driver-resident IVF serving tier: a small root's searches read
  * its rows held on the driver and must return exactly what the parquet
  * scan returns — the same columns in the same order, the same rows in
  * the same order — and the held rows must follow every change to the
  * root. */
class ResidentTierSpec extends SparkSpec {

  private lazy val tmp = tempDir("graft-resident-").toString
  private val dim = 16
  private val nlist = 6

  /** 300 seeded vectors in 3 components, plus ids 300–303 repeating the
    * vectors of ids 0–3, so every one of those is tied at its distance */
  private lazy val vecs: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = (0L until 300L).map(i =>
      (i, Seq.fill(dim)(rnd.nextFloat() - 0.5f), (i % 3).toInt))
    val dups = base.take(4).map { case (i, v, c) => (i + 300L, v, c) }
    (base ++ dups).toDF("vec_id", "embedding", "component").cache()
  }

  private def writeRoot(name: String, normalized: Boolean = false): String = {
    val path = s"$tmp/$name"
    IvfIndex.build(vecs, "vec_id", "embedding", nlist = nlist,
        componentCol = Some("component"))
      .write(path, quantize = true, quantizeNormalized = normalized)
    path
  }
  private lazy val l2Root = writeRoot("l2")
  private lazy val cosRoot = writeRoot("cos", normalized = true)

  private def load(root: String) =
    IvfIndex.load(spark, root, "vec_id", "embedding")
  private def vec(id: Long): Seq[Float] =
    vecs.filter(col("vec_id") === id).head().getSeq[Float](1)
  private lazy val queries = Seq(0L, 7L, 50L).map(vec)
  private def queryFrame(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, vec(i))).toDF("qid", "qvec")
  }
  private def rowsEntries(root: String): Int =
    PersistedRoot.cachedKeys(spark, root).count(_._2 == "ivf.rows")

  /** `run` over `root` on the resident tier and on the Spark path: the
    * resident plan scans no file, and both give the same columns and
    * the same rows in the same order (a batch's rows sorted first by
    * query, distance and id — the Spark path's window emits queries in
    * no fixed order) */
  private def parity(what: String, root: String, batch: Boolean = false)(
      run: IvfIndex => DataFrame): Unit = {
    val idx = load(root)
    val resident = run(idx)
    val scanned = onSparkPath(run(idx))
    val plan = resident.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"), s"$what scans parquet:\n$plan")
    assert(scanned.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(resident.schema.map(f => (f.name, f.dataType)) ==
      scanned.schema.map(f => (f.name, f.dataType)), what)
    def rows(df: DataFrame): Seq[Row] = {
      val rs = df.collect().toSeq
      if (!batch) rs
      else rs.sortBy(r => (r.getAs[Long]("query_id"),
        r.getAs[Double]("dist"), r.getAs[Long]("vec_id")))
    }
    val (a, b) = (rows(resident), rows(scanned))
    assert(a.nonEmpty, s"$what returned no rows")
    assert(a == b, s"$what: resident\n${a.mkString("\n")}\nSpark path\n" +
      b.mkString("\n"))
  }

  test("resident search equals the Spark path row for row: L2 and cosine, unscoped, scoped, filtered, ties") {
    for (q <- queries) {
      for ((metric, root) <- Seq(KnnSearch.NativeL2 -> l2Root,
          KnnSearch.NativeCosine -> cosRoot, KnnSearch.L2 -> l2Root)) {
        parity(s"search $metric", root)(_.search(q, 10, nprobe = 2,
          metric = metric, tieBreak = Some("vec_id"), rankRoundDp = Some(4)))
        parity(s"scoped search $metric", root)(_.search(q, 10, nprobe = 2,
          metric = metric, tieBreak = Some("vec_id"), components = Seq(1, 2),
          rankRoundDp = Some(4)))
        parity(s"filtered search $metric", root)(_.search(q, 10,
          nprobe = 2, metric = metric, tieBreak = Some("vec_id"),
          components = Seq(0), filter = Some(col("vec_id") % 2 === 0),
          filterSelectivity = Some(0.5)))
      }
      // the projection and closing sort a caller puts on top fold too
      parity("search then select and orderBy", l2Root)(_.search(q, 10,
          nprobe = 3, metric = KnnSearch.NativeL2, tieBreak = Some("vec_id"),
          rankRoundDp = Some(4))
        .select(col("vec_id"), col("dist")).orderBy(col("dist"), col("vec_id")))
    }
  }

  test("resident SQ8 search equals the Spark path row for row: L2 and cosine grids, scoped and filtered") {
    for (q <- queries) {
      parity("sq8 L2", l2Root)(_.searchQuantized(q, 10, nprobe = 2,
        tieBreak = Some("vec_id"), rankRoundDp = Some(4)))
      parity("sq8 cosine", cosRoot)(_.searchQuantized(q, 10, nprobe = 2,
        refine = 2, tieBreak = Some("vec_id"), rankRoundDp = Some(4),
        metric = KnnSearch.Cosine))
      parity("sq8 scoped, filtered", l2Root)(_.searchQuantized(q, 5,
        nprobe = 3, tieBreak = Some("vec_id"), components = Seq(2),
        rankRoundDp = Some(4), filter = Some(col("vec_id") > 20)))
    }
  }

  test("resident batch search equals the Spark path row for row: float and SQ8, scoped and filtered") {
    val qdf = queryFrame(Seq(0L, 7L, 50L, 301L))
    parity("batch L2", l2Root, batch = true)(_.searchBatch(qdf, "qid",
      "qvec", 10, nprobe = 2, tieBreak = "vec_id", rankRoundDp = Some(4),
      metric = KnnSearch.NativeL2))
    parity("batch cosine, scoped, filtered", cosRoot, batch = true)(
      _.searchBatch(qdf, "qid", "qvec", 5, nprobe = 3, tieBreak = "vec_id",
        rankRoundDp = Some(4), components = Seq(0, 1),
        metric = KnnSearch.NativeCosine, filter = Some(col("vec_id") < 200)))
    parity("batch sq8", l2Root, batch = true)(_.searchQuantizedBatch(qdf,
      "qid", "qvec", 10, nprobe = 2, tieBreak = "vec_id",
      rankRoundDp = Some(4)))
    parity("batch sq8 cosine, scoped, filtered", cosRoot, batch = true)(
      _.searchQuantizedBatch(qdf, "qid", "qvec", 5, nprobe = 3, refine = 2,
        tieBreak = "vec_id", rankRoundDp = Some(4), components = Seq(0, 1),
        metric = KnnSearch.Cosine, filter = Some(col("vec_id") < 200)))
  }

  test("a NULL vector ranks the same on both paths") {
    val root = writeRoot("nulls")
    val schema = load(root).assigned.schema
    // one more row with no vector and no code, in component 0's first
    // cluster, appended as a foreign writer would
    val cluster = load(root).clusterIds.head
    val row = Row.fromSeq(schema.fieldNames.toSeq.map {
      case "vec_id" => 999L
      case "component" => 0
      case IvfIndex.ClusterCol => cluster
      case _ => null
    })
    spark.createDataFrame(java.util.Arrays.asList(row), schema)
      .write.mode(SaveMode.Append)
      .partitionBy("component", IvfIndex.ClusterCol).parquet(root)
    PersistedRoot.invalidate(spark, root)
    for (q <- queries) {
      parity("search over a NULL vector", root)(_.search(q, 5,
        nprobe = nlist, metric = KnnSearch.NativeL2,
        tieBreak = Some("vec_id"), rankRoundDp = Some(4)))
      parity("batch over a NULL vector", root, batch = true)(_.searchBatch(
        queryFrame(Seq(0L, 7L)), "qid", "qvec", 5, nprobe = nlist,
        tieBreak = "vec_id", rankRoundDp = Some(4)))
    }
    val top = load(root).search(queries.head, 1, nprobe = nlist,
      metric = KnnSearch.NativeL2, tieBreak = Some("vec_id")).head()
    assert(top.getAs[Long]("vec_id") == 999L && top.isNullAt(
      top.fieldIndex("dist")), "a NULL distance sorts first, as in Spark")
  }

  test("after appendTo, deleteByIds, compact or a foreign rewrite the next load serves the new rows; one ivf.rows entry per root; invalidate drops it") {
    import spark.implicits._
    val root = writeRoot("life")
    val far = Seq.fill(dim)(5f)
    def top(r: String): Long = load(r).search(far, 1, nprobe = nlist,
      metric = KnnSearch.NativeL2, tieBreak = Some("vec_id"))
      .head().getAs[Long]("vec_id")
    val before = top(root)
    assert(before < 304L && rowsEntries(root) == 1)
    assert(jobsRun(top(root)) == 0, "a warm resident search runs no job")

    IvfIndex.appendTo(spark, root, Seq((1000L, far, 1)).toDF("vec_id",
      "embedding", "component"), "vec_id", "embedding")
    assert(top(root) == 1000L, "appendTo: the appended row is served")
    assert(rowsEntries(root) == 1)

    IvfIndex.deleteByIds(spark, root, Seq(1000L).toDF("vec_id"), "vec_id",
      "embedding")
    assert(top(root) == before, "deleteByIds: the deleted row is gone")
    assert(rowsEntries(root) == 1)

    val compacted = s"$tmp/life_compacted"
    IvfIndex.appendTo(spark, root, Seq((1001L, far, 2)).toDF("vec_id",
      "embedding", "component"), "vec_id", "embedding")
    IvfIndex.compact(spark, root, compacted)
    assert(top(compacted) == 1001L, "compact: the copy serves every row")
    assert(rowsEntries(compacted) == 1 && rowsEntries(root) <= 1)

    // a foreign rewrite: another root's files swapped in, no invalidate
    val other = s"$tmp/life_other"
    IvfIndex.build(Seq((2000L, far, 0), (2001L, Seq.fill(dim)(0f), 1))
        .toDF("vec_id", "embedding", "component"), "vec_id", "embedding",
        nlist = 2, componentCol = Some("component"))
      .write(other, quantize = true)
    top(root)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(other), fs,
      new org.apache.hadoop.fs.Path(root), false, conf)
    assert(top(root) == 2000L, "a foreign rewrite is served on the next load")
    assert(rowsEntries(root) == 1)

    PersistedRoot.invalidate(spark, root)
    assert(rowsEntries(root) == 0, "invalidate drops the resident rows")
  }

  test("the byte budget evicts the oldest-admitted root; a root over budget is never resident; 0 turns the tier off") {
    // two unscoped roots of two clusters: few files, so the decoded rows
    // outweigh the files' overhead
    def flat(name: String) = {
      val path = s"$tmp/$name"
      IvfIndex.build(vecs, "vec_id", "embedding", nlist = 2).write(path)
      path
    }
    val (a, b) = (flat("budget_a"), flat("budget_b"))
    def search(r: String) = load(r).search(queries.head, 10, nprobe = 2,
      metric = KnnSearch.NativeL2, tieBreak = Some("vec_id"))
    def scans(df: DataFrame) =
      df.queryExecution.executedPlan.toString.contains("FileScan")
    assert(!scans(search(a)) && !scans(search(b)))
    val (bytesA, bytesB) =
      (PersistedRoot.cachedBytes(spark, a), PersistedRoot.cachedBytes(spark, b))
    // the data files the scan reads, as the admission check sums them
    val filesB = load(b).assigned.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.asInstanceOf[
            org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex]
          .allFiles().map(_.getLen).sum
    }.get
    val budget = math.max(filesB, math.max(bytesA, bytesB)) +
      math.min(bytesA, bytesB) / 4
    assert(bytesA + bytesB > budget, s"a and b must not fit together: " +
      s"$bytesA + $bytesB bytes, files $filesB, budget $budget")
    PersistedRoot.invalidate(spark, a)
    PersistedRoot.invalidate(spark, b)
    withConf(IvfIndex.ResidentMaxBytesConf -> budget.toString) {
      assert(!scans(search(a)))
      assert(!scans(search(b)))
      assert(rowsEntries(a) == 0 && rowsEntries(b) == 1,
        "admitting b must evict a, the oldest admitted")
      assert(PersistedRoot.cachedBytes(spark, b) <= budget)
    }
    withConf(IvfIndex.ResidentMaxBytesConf -> (filesB - 1).toString) {
      assert(scans(search(b)), "a root whose files exceed the budget scans")
    }
    onSparkPath(assert(scans(search(b)), "0 turns the tier off"))
    intercept[IllegalArgumentException](
      withConf(IvfIndex.ResidentMaxBytesConf -> "-1")(search(b)))
  }
}
