package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Idempotent partition backfill — `partitionOverwriteMode=dynamic`.
  * The operational primitive behind re-running one day/component of a
  * 100 TB pipeline: INSERT OVERWRITE replaces ONLY the partitions the
  * incoming frame touches and leaves every other partition's files
  * alone; in the default STATIC mode the same write truncates the
  * whole table — the classic data-loss foot-gun this spec pins in
  * both directions so a config drift fails loudly. */
class PartitionOverwriteSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val dir = tempDir("graft-dynpart").toString
    Seq((1L, "a", "v1"), (2L, "a", "v1"), (3L, "b", "v1"), (4L, "c", "v1"))
      .toDF("id", "part", "payload")
      .write.mode("overwrite").partitionBy("part").parquet(dir)
    dir
  }

  test("dynamic mode: overwriting one partition's data leaves the others byte-identical") {
    val dir = freshTable()
    val beforeB = spark.read.parquet(dir).filter(col("part") === "b")
      .collect().toSet
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // the backfill: partition 'a' recomputed (2 rows -> 1 row)
      Seq((9L, "a", "v2")).toDF("id", "part", "payload")
        .write.mode("overwrite").partitionBy("part").parquet(dir)
    } finally spark.conf
      .unset("spark.sql.sources.partitionOverwriteMode")
    val after = spark.read.parquet(dir)
    assert(after.filter(col("part") === "a")
      .select("id", "payload").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1))) == Seq((9L, "v2")),
      "partition 'a' was not replaced by the backfill")
    assert(after.filter(col("part") === "b").collect().toSet == beforeB,
      "untouched partition 'b' changed under dynamic overwrite")
    assert(after.count() == 3, s"expected 3 rows, got ${after.count()}")
    // a re-run of the same backfill is a no-op — idempotent
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Seq((9L, "a", "v2")).toDF("id", "part", "payload")
        .write.mode("overwrite").partitionBy("part").parquet(dir)
    } finally spark.conf
      .unset("spark.sql.sources.partitionOverwriteMode")
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("static mode (the default) truncates every partition — the foot-gun stays documented") {
    val dir = freshTable()
    Seq((9L, "a", "v2")).toDF("id", "part", "payload")
      .write.mode("overwrite").partitionBy("part").parquet(dir)
    val rows = spark.read.parquet(dir).select("part").collect()
    assert(rows.length == 1 && rows.head.getString(0) == "a",
      s"static overwrite should leave only the new write, got " +
        s"${rows.length} rows")
  }
}
