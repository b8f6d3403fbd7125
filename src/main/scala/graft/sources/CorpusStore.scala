package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Embedder

/** The partitioned vector-corpus table — SURVEY.md §1 (the reference's one
  * central table, DDL /root/reference/src/tools/load.py:18-37) plus its
  * load/export/introspection tooling (§2.1 S8–S11, §2.4 A6).
  *
  * Spark-native shape: parquet `partitionBy("component_code")`, which gives
  * exactly the reference's LIST-partition pruning — a
  * `filter($"component_code" === code)` prunes whole directories before any
  * IO (the reference passes `partition_names` to get the same effect,
  * doc_embedder.py:173-217). At 100 TB the component dirs are the unit of
  * scan elimination; within a partition, parquet row-group stats prune
  * further.
  */
object CorpusStore {

  /** corpus schema (§1.3): id, embedding, document, metadata struct,
    * component_code. Metadata fields per DocumentMeta
    * (doc_processing.py:41-60). */
  val metadataType: StructType = StructType(Seq(
    StructField("doc_url", StringType),
    StructField("doc_name", StringType),
    StructField("component", StringType),
    StructField("chunk_title", StringType),
    StructField("enhanced_title", StringType)))

  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("embedding", ArrayType(FloatType)),
    StructField("document", StringType),
    StructField("metadata", metadataType),
    StructField("component_code", IntegerType, nullable = false)))

  /** Engine-default component dimension (name → partition code). The
    * reference hardcodes an equivalent map (ob.py:35-47, which ships a
    * duplicate-key bug we deliberately do not replicate — SURVEY §7.5);
    * ours is a plain dimension table, broadcast-joined where needed (J2). */
  val defaultComponents: Map[String, Int] = Map(
    "observer" -> 1, "ocp" -> 2, "oms" -> 3, "obd" -> 4, "operator" -> 5,
    "odp" -> 6, "obproxy" -> 7)

  /** default component when the name is unknown (doc_embedder.py:105) */
  val DefaultCode = 0

  /** J2: component name → code as a column expression (tiny literal map —
    * the degenerate broadcast join). */
  def componentCode(
      name: Column,
      mapping: Map[String, Int] = defaultComponents): Column = {
    val m = map(mapping.toSeq.flatMap { case (k, v) =>
      Seq(lit(k), lit(v)) }: _*)
    coalesce(element_at(m, name), lit(DefaultCode))
  }

  /** J2 as a real dimension DataFrame for broadcast joins. */
  def componentDim(
      spark: SparkSession,
      mapping: Map[String, Int] = defaultComponents): DataFrame = {
    import spark.implicits._
    mapping.toSeq.sortBy(_._2).toDF("component", "component_code")
  }

  /** A6: next free partition code = max(component_code) + 1
    * (db.py:525-545). */
  def nextComponentCode(corpus: DataFrame): Int =
    corpus.agg(max(col("component_code"))).head() match {
      case r if r.isNullAt(0) => DefaultCode + 1
      case r => r.getInt(0) + 1
    }

  // ---- build + write (S10) --------------------------------------------

  /** Chunks → corpus rows: per-row UUID id (X4, doc_embedder.py:110),
    * embedding via the supplied embedder, DocumentMeta struct, and the
    * ingest call's component (the reference ingests one component per
    * call, doc_embedder.py:116-168). */
  def fromChunks(
      chunks: Dataset[MdChunk],
      component: String,
      embedder: Embedder,
      mapping: Map[String, Int] = defaultComponents): DataFrame = {
    val code = mapping.getOrElse(component, DefaultCode)
    chunks.toDF().select(
      uuid().as("id"),
      embedder.embedCol(col("text")).as("embedding"),
      col("text").as("document"),
      struct(
        col("path").as("doc_url"),
        col("docName").as("doc_name"),
        lit(component).as("component"),
        col("chunkTitle").as("chunk_title"),
        col("enhancedTitle").as("enhanced_title")).as("metadata"),
      lit(code).as("component_code"))
  }

  /** S10: append a batch into the partitioned corpus. Appending a new
    * component ≡ a new partition directory (the reference's
    * `ALTER TABLE ... ADD PARTITION`, db.py:556-566, is free here). */
  def write(corpus: DataFrame, path: String,
      mode: SaveMode = SaveMode.Append): Unit =
    corpus.write.mode(mode).partitionBy("component_code").parquet(path)

  /** Read the corpus back; `component_code` comes from directory names. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Targeted deletion (the right-to-be-forgotten pass) through
    * [[PersistedRoot.delete]]: only the partitions that actually contain
    * a doomed id are rewritten; every other partition's files are
    * untouched. At 100 TB a delete request usually names a handful of
    * documents — rewriting the whole corpus for it is the naive shape
    * this method exists to avoid. `ids` is a 1-column frame of doomed
    * id values. Returns the affected partition codes (empty = nothing
    * touched); re-running the same delete heals a crash mid-write. */
  def deleteByIds(spark: SparkSession, path: String,
      ids: DataFrame): Seq[Int] =
    PersistedRoot.delete(spark, persisted(path), read(spark, path), "id",
      ids).map(_.getInt(0)).sorted

  /** the corpus table as the lifecycle core sees it: rows in the root,
    * one partition level, no sidecars */
  private def persisted(path: String): PersistedRoot =
    PersistedRoot(path, "", Seq("component_code"))

  /** Z-ordered rewrite: range-partition and sort by the MORTON
    * interleave of two layout coordinates (graft_morton — low-32-bit
    * keys; bucket/offset real values into that domain first), so
    * parquet's per-file min/max statistics tile the (a, b) PLANE
    * instead of striping one axis. A conjunctive range predicate on
    * both columns then skips every file whose 2-D envelope misses the
    * query box — the Delta/Iceberg `OPTIMIZE ZORDER BY` layout for
    * vanilla parquet. One range shuffle (the same cost as any sorted
    * rewrite); file count = `nFiles`. Pruning is MEASURED in ZOrderSpec:
    * on a 64×64 grid in 16 files, a 16×16 box intersects every
    * linear-sorted file's envelope but only ~1/4 of the z-ordered
    * tiles' — at 100 TB that difference is the scan. */
  def writeZOrdered(df: DataFrame, path: String, colA: String,
      colB: String, nFiles: Int): Unit = {
    graft.plans.VectorExpressions.ensureRegistered(df.sparkSession)
    df.withColumn("__z",
        org.apache.spark.sql.functions.call_function("graft_morton",
          col(colA).cast("long"), col(colB).cast("long")))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Compact a fragmented corpus into `destPath`: streaming/incremental
    * appends (dedupStream → write per micro-batch, or many small ingest
    * calls) leave one file per batch per partition, and at scale the
    * small-file COUNT — not data volume — dominates listing and scan
    * task overhead. Rewrites each partition's rows into
    * ~`targetRowsPerFile`-row files: one shuffle keyed on the partition
    * column, `maxRecordsPerFile` bounding file size, the same
    * `partitionBy` layout out.
    *
    * Deliberately copy-compact, not in-place: Spark (correctly) refuses
    * to overwrite a path it is reading from, and delete-then-rewrite of
    * the live corpus would lose data on a mid-job failure. Compact to a
    * fresh directory, then swap readers (or the directory symlink) —
    * the reference's single-writer ingest model (load.py) makes the
    * swap a metadata operation. */
  def compact(spark: SparkSession, srcPath: String, destPath: String,
      targetRowsPerFile: Long = 500000L): Unit =
    PersistedRoot.compact(spark, persisted(srcPath), read(spark, srcPath),
      destPath, targetRowsPerFile)

  // ---- JSON round-trip (S8/S9) ----------------------------------------

  /** S9: full-table export as JSON (extract.py:87-166 — its LIMIT/OFFSET
    * page loop is a wire-protocol artifact; in Spark one scan, one write,
    * each task streaming its split). */
  def exportJson(corpus: DataFrame, path: String): Unit =
    corpus.write.mode(SaveMode.Overwrite).json(path)

  /** S8: bulk load from JSON with schema enforcement at read time — the
    * declarative replacement for the reference's per-row
    * INSERT-with-CAST-and-fallback loop (load.py:121-232). Rows that
    * can't coerce surface as nulls (PERMISSIVE), matching the reference's
    * "fallback insert without CAST" tolerance. */
  def loadJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** S9-CSV: the corpus flattened to a CSV interchange file — CSV has
    * no nested types, so the complex columns (embedding, metadata)
    * ride as JSON strings and [[loadCsv]] reverses the encoding
    * exactly. `escape` is pinned to `"` so embedded quotes are written
    * as RFC 4180 doubled quotes (Spark's default is backslash-escape,
    * which only Spark itself reads back); with quoting + doubling,
    * documents containing commas, quotes, or newlines round-trip and
    * stay readable by any RFC 4180 consumer. */
  def exportCsv(corpus: DataFrame, path: String): Unit =
    corpus.select(col("id"),
        to_json(col("embedding")).as("embedding"),
        col("document"),
        to_json(col("metadata")).as("metadata"),
        col("component_code"))
      .write.mode(SaveMode.Overwrite).option("header", "true")
      .option("escape", "\"")
      // the WRITER trims field-edge whitespace by default (the read
      // side doesn't) — a document ending in whitespace or a newline
      // would come back shortened; RFC 4180 preserves everything
      // inside the quotes, so turn the trimming off on both edges
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  /** S8-CSV: bulk load of the [[exportCsv]] interchange layout with
    * the same read-time schema enforcement as [[loadJson]] —
    * un-coercible rows surface as nulls (PERMISSIVE). `multiLine`
    * lets a quoted field span record separators (a document with an
    * embedded newline would otherwise be split mid-record and
    * null-padded); the cost is that a multiLine CSV file is not
    * splittable, acceptable for an interchange format whose bulk
    * sibling is parquet/ORC. */
  def loadCsv(spark: SparkSession, path: String): DataFrame = {
    val flat = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("embedding", StringType),
      StructField("document", StringType),
      StructField("metadata", StringType),
      StructField("component_code", IntegerType, nullable = false)))
    spark.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").schema(flat).csv(path)
      .select(col("id"),
        from_json(col("embedding"), ArrayType(FloatType))
          .as("embedding"),
        col("document"),
        from_json(col("metadata"), metadataType).as("metadata"),
        col("component_code"))
  }

  /** S9-ORC / S8-ORC: the columnar interchange pair for ORC
    * consumers — ORC holds the full nested schema natively (unlike
    * CSV), so the pair is a plain format swap with the same
    * read-time schema enforcement as [[loadJson]]. */
  def exportOrc(corpus: DataFrame, path: String): Unit =
    corpus.write.mode(SaveMode.Overwrite).orc(path)

  def loadOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Parquet BLOOM-FILTER indexes on selected columns — the
    * point-lookup pruning lever at 100 TB: a reader filtering
    * `id = x` skips every row group whose bloom excludes the value
    * WITHOUT scanning it, no shuffle and no sort required —
    * complementing min-max/Z-order pruning, which only bites when
    * the column is clustered. Off by default in Spark because the
    * filter costs write-side memory and file bytes proportional to
    * `ndv`; this enables it per column at write time. Readers need
    * nothing: parquet-mr consults blooms under the default
    * `parquet.filter.bloom.enabled`. */
  def writeWithBloomFilters(df: DataFrame, path: String,
      bloomCols: Seq[String], ndv: Long = 100000L): Unit = {
    require(bloomCols.nonEmpty, "writeWithBloomFilters: no columns")
    bloomCols.foreach(c => require(df.columns.contains(c),
      s"writeWithBloomFilters: '$c' is not a column"))
    bloomCols
      .flatMap(c => Seq(
        s"parquet.bloom.filter.enabled#$c" -> "true",
        s"parquet.bloom.filter.expected.ndv#$c" -> ndv.toString))
      .foldLeft(df.write.mode(SaveMode.Overwrite)) {
        case (w, (k, v)) => w.option(k, v)
      }
      .parquet(path)
  }

  // ---- introspection (S11, A1) ----------------------------------------

  /** `has_collection` analogue (db.py:297-308). */
  def exists(spark: SparkSession, path: String): Boolean =
    try { spark.read.parquet(path).schema.nonEmpty }
    catch { case _: Exception => false }

  /** COUNT(*) + schema — the reference's table-info probe
    * (db.py:194-210). */
  def info(corpus: DataFrame): (Long, StructType) =
    (corpus.count(), corpus.schema)
}
