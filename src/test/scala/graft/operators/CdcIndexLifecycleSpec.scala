package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** CDC-driven INCREMENTAL index maintenance — the composition the
  * operators exist for: [[SnapshotDiff.diff]] classifies a new crawl
  * against the indexed one, [[IvfIndex.deleteByIds]] retires the
  * removed/changed rows partition-scoped, [[IvfIndex.appendTo]] lands
  * the added/changed rows against the FIXED centroids — and the
  * maintained index answers exactly like an index over the new
  * snapshot (same centroids ⇒ same assignment ⇒ same search). */
class CdcIndexLifecycleSpec extends SparkSpec {
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

  test("diff -> deleteByIds -> appendTo maintains the index to exactly the new snapshot") {
    val path = tempDir("graft-cdc-idx-").toString + "/ivf"
    IvfIndex.build(df(snapA), "vec_id", "embedding", nlist = 4).write(path)

    val d = SnapshotDiff.diff(df(snapA), df(snapB), Seq("vec_id"),
      md5(col("embedding").cast("string")))
    val byStatus = d.groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val removedIds = (0L until 120L).filter(_ % 17 == 0)
    val changedIds = (0L until 120L)
      .filter(i => i % 13 == 0 && i % 17 != 0)
    assert(byStatus("added") == 20L)
    assert(byStatus("removed") == removedIds.size.toLong)
    assert(byStatus("changed") == changedIds.size.toLong)

    // apply: retire removed + changed-old, land added + changed-new
    val doomed = d.filter(col("status").isin("removed", "changed"))
      .select("vec_id")
    val n = IvfIndex.deleteByIds(spark, path, doomed,
      "vec_id", "embedding")
    assert(n > 0)
    // idempotency: the same delete re-run (crash-heal) touches nothing
    assert(IvfIndex.deleteByIds(spark, path, doomed,
      "vec_id", "embedding") == 0)
    val landing = d.filter(col("status").isin("added", "changed"))
      .select("vec_id")
    IvfIndex.appendTo(spark, path,
      df(snapB).join(landing, "vec_id"), "vec_id", "embedding")

    // contents == snapshot B exactly
    val loaded = IvfIndex.load(spark, path, "vec_id", "embedding")
    val got = loaded.assigned.select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(got == snapB.toMap, "maintained index contents != snapshot B")

    // search parity with brute force over B, at full probe
    for (qi <- Seq(1L, 50L, 125L)) {
      val q = snapB.toMap.apply(qi)
      val viaIndex = loaded.search(q, 10, nprobe = loaded.nlist,
          tieBreak = Some("vec_id"), rankRoundDp = Some(4))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val brute = KnnSearch.topK(df(snapB), "embedding", q, 10,
          KnnSearch.L2, tieBreak = Some("vec_id"), rankRoundDp = Some(4))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(viaIndex == brute, s"search parity broke for query $qi")
    }

  }

  test("deleting every row of a cluster removes its directory (the dynamic-overwrite gap)") {
    val path = tempDir("graft-cdc-wipe-").toString + "/ivf"
    IvfIndex.build(df(snapA), "vec_id", "embedding", nlist = 4).write(path)
    val loaded = IvfIndex.load(spark, path, "vec_id", "embedding")
    val cluster = loaded.assigned
      .select(col(IvfIndex.ClusterCol).cast("int")).distinct()
      .collect().map(_.getInt(0)).min
    val doomedIdSet = loaded.assigned
      .filter(col(IvfIndex.ClusterCol).cast("int") === cluster)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val doomedCount = doomedIdSet.size.toLong
    assert(doomedCount > 0)
    IvfIndex.deleteByIds(spark, path, doomedIdSet.toDF("vec_id"),
      "vec_id", "embedding")
    assert(!new java.io.File(
      s"$path/${IvfIndex.ClusterCol}=$cluster").exists(),
      "fully-emptied cluster directory must be removed, not left stale")
    val after = IvfIndex.load(spark, path, "vec_id", "embedding")
    assert(after.assigned.count() == 120L - doomedCount)
    // the emptied cluster simply has no rows; search stays exact
    val q = vec(3L, 0)
    val viaIndex = after.search(q, 5, nprobe = after.nlist,
        tieBreak = Some("vec_id"), rankRoundDp = Some(4))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val survivors = snapA.filterNot { case (i, _) =>
      doomedIdSet.contains(i) }
    val brute = KnnSearch.topK(df(survivors), "embedding", q, 5,
        KnnSearch.L2, tieBreak = Some("vec_id"), rankRoundDp = Some(4))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(viaIndex == brute)
  }
}
