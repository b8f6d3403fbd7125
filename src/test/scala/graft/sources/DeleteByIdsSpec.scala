package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[CorpusStore.deleteByIds]] — the partition-scoped delete: only
  * partitions holding a doomed id are rewritten, untouched partitions
  * keep their exact files, re-runs are no-ops. */
class DeleteByIdsSpec extends SparkSpec {
  import spark.implicits._

  private def seed(): String = {
    val dir = tempDir("graft-del").toString
    val rows = for (c <- 1 to 3; i <- 1 to 4) yield
      (s"doc-$c-$i", Seq(1.0f), s"text $c $i",
        (null: String, null: String, null: String, null: String,
          null: String), c)
    rows.toDF("id", "embedding", "document", "metadata", "component_code")
      .selectExpr("id", "embedding", "document",
        """named_struct('doc_url', cast(null as string),
           'doc_name', cast(null as string),
           'component', cast(null as string),
           'chunk_title', cast(null as string),
           'enhanced_title', cast(null as string)) AS metadata""",
        "component_code")
      .write.mode("overwrite").partitionBy("component_code").parquet(dir)
    dir
  }

  private def filesOf(dir: String, code: Int): Set[(String, Long)] =
    Files.list(Paths.get(dir, s"component_code=$code")).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => (p.getFileName.toString, Files.size(p))).toSet

  /** the survivor scan (the delete's one checkpoint) lists only the
    * affected partition's directory */
  private def assertPrunedTo(plans: Seq[String], partCol: String,
      value: Any): Unit = {
    val scan = plans.filter(_.startsWith("localCheckpoint")).mkString("\n")
    assert(s"PartitionFilters: \\[[^\\]]*$partCol[^\\]]*\\[$value\\]".r
      .findFirstIn(scan).nonEmpty,
      s"survivor scan is not pruned to $partCol=$value:\n$scan")
  }

  test("deletes rewrite only the affected partition; others keep their exact files") {
    val dir = seed()
    val before2 = filesOf(dir, 2)
    val before3 = filesOf(dir, 3)
    var affected = Seq.empty[Int]
    val plans = executedPlans(_.startsWith("localCheckpoint")) {
      affected = CorpusStore.deleteByIds(spark, dir,
        Seq("doc-1-2", "doc-1-4").toDF("id"))
    }
    assert(affected == Seq(1), s"expected partition 1 only, got $affected")
    assertPrunedTo(plans, "component_code", 1)
    assert(filesOf(dir, 2) == before2 && filesOf(dir, 3) == before3,
      "untouched partitions' files changed")
    val ids = CorpusStore.read(spark, dir)
      .select("id").collect().map(_.getString(0)).toSet
    assert(!ids("doc-1-2") && !ids("doc-1-4"), "doomed ids survived")
    assert(ids("doc-1-1") && ids("doc-1-3"),
      "sibling rows in the rewritten partition were lost")
    assert(ids.size == 10)
    // the same scoped rewrite on an IVF root: only the doomed id's
    // cluster directory is listed, rewritten, and loses the row
    val ivf = tempDir("graft-del-ivf").toString + "/ivf"
    graft.operators.IvfIndex.build(
        (0L until 40L).map(i => (i, Seq((i % 4).toFloat, (i / 4).toFloat)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding", nlist = 4)
      .write(ivf)
    val cluster = spark.read.parquet(ivf).filter(col("vec_id") === 5L)
      .select(graft.operators.IvfIndex.ClusterCol).head().getInt(0)
    val ivfPlans = executedPlans(_.startsWith("localCheckpoint")) {
      assert(graft.operators.IvfIndex.deleteByIds(spark, ivf,
        Seq(5L).toDF("vec_id"), "vec_id", "embedding") == 1)
    }
    assertPrunedTo(ivfPlans, graft.operators.IvfIndex.ClusterCol, cluster)
    assert(spark.read.parquet(ivf).count() == 39)
  }

  test("re-running the same delete, and deleting unknown ids, are no-ops") {
    val dir = seed()
    assert(CorpusStore.deleteByIds(spark, dir,
      Seq("doc-2-1").toDF("id")) == Seq(2))
    val after = filesOf(dir, 1) -> filesOf(dir, 3)
    assert(CorpusStore.deleteByIds(spark, dir,
      Seq("doc-2-1").toDF("id")).isEmpty, "re-run must see nothing to do")
    assert(CorpusStore.deleteByIds(spark, dir,
      Seq("no-such-id").toDF("id")).isEmpty)
    assert((filesOf(dir, 1) -> filesOf(dir, 3)) == after,
      "a no-op delete rewrote files")
    assert(CorpusStore.read(spark, dir).count() == 11)
  }

  test("delete never mutates the session's partitionOverwriteMode (per-writer option only)") {
    val dir = seed()
    // a sentinel value proves neither a set nor an unset happened
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try {
      CorpusStore.deleteByIds(spark, dir, Seq("doc-1-2").toDF("id"))
      assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        == "static",
        "deleteByIds mutated the session-global overwrite mode")
    } finally spark.conf
      .unset("spark.sql.sources.partitionOverwriteMode")
  }

  test("deleting every row of a partition removes its directory (the dynamic-overwrite gap)") {
    val dir = seed()
    val affected = CorpusStore.deleteByIds(spark, dir,
      (1 to 4).map(i => s"doc-2-$i").toDF("id"))
    assert(affected == Seq(2))
    assert(!Files.exists(Paths.get(dir, "component_code=2")),
      "fully-emptied partition directory must be removed, not left stale")
    val ids = CorpusStore.read(spark, dir)
      .select("id").collect().map(_.getString(0)).toSet
    assert(ids.size == 8 && !ids.exists(_.startsWith("doc-2-")),
      "doomed partition rows silently survived the delete")
  }

  test("a delete spanning partitions rewrites exactly those partitions") {
    val dir = seed()
    val before2 = filesOf(dir, 2)
    val affected = CorpusStore.deleteByIds(spark, dir,
      Seq("doc-1-1", "doc-3-3").toDF("id"))
    assert(affected == Seq(1, 3), s"got $affected")
    assert(filesOf(dir, 2) == before2)
    assert(CorpusStore.read(spark, dir).count() == 10)
  }
}
