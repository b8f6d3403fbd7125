package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Operational ingest behaviors a 100 TB pipeline leans on, pinned so
  * upstream default changes fail the build: schema evolution across
  * data drops (mergeSchema) and corrupt-file handling (fail loudly by
  * default, skip only when explicitly asked). */
class IngestRobustnessSpec extends SparkSpec {
  import spark.implicits._

  test("mergeSchema unifies drops that gained a column; plain read serves the first footer's view") {
    val dir = tempDir("graft-merge").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "text")
      .write.parquet(s"$dir/d=1")
    Seq((3L, "c", "en")).toDF("id", "text", "lang")
      .write.parquet(s"$dir/d=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "text", "lang", "d"))
    val rows = merged.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getAs[String]("lang")))
    assert(rows.toSeq == Seq((1L, null), (2L, null), (3L, "en")),
      "old-drop rows must read the new column as null")
    // without mergeSchema the scan schema comes from one footer — the
    // silent-narrowing behavior that makes mergeSchema (or an explicit
    // schema, the engine's own Tables choice) mandatory across drops
    val plain = spark.read.parquet(dir)
    assert(plain.columns.toSet.subsetOf(Set("id", "text", "lang", "d")))
  }

  test("a corrupt file fails the scan loudly by default; ignoreCorruptFiles skips exactly it") {
    val dir = tempDir("graft-corrupt").toString
    Seq((1L, "ok"), (2L, "fine")).toDF("id", "text")
      .write.mode("overwrite").parquet(dir)
    Files.write(Paths.get(dir, "part-junk.parquet"),
      "this is not parquet".getBytes,
      StandardOpenOption.CREATE)
    val e = intercept[Exception] {
      spark.read.parquet(dir).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m =>
      m.contains("parquet") || m.contains("Parquet") ||
        m.contains("footer") || m.contains("FAILED_READ_FILE")),
      s"expected a loud parquet read failure, got: ${messages(e)}")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try {
      val rows = spark.read.parquet(dir).orderBy("id")
        .collect().map(_.getLong(0))
      assert(rows.toSeq == Seq(1L, 2L),
        "skip mode must serve every healthy file and only skip the junk")
    } finally spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
  }
}
