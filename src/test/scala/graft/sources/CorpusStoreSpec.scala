package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.HashEmbedder
import graft.operators.KnnSearch

class CorpusStoreSpec extends SparkSpec {

  private val corpusDir = getClass.getResource("/corpus").getPath
  private lazy val tmp = tempDir("graft-corpus-").toString

  private lazy val embedder = HashEmbedder(dim = 16)

  /** shared fixture: two-component corpus written partitionBy once */
  private lazy val corpusPath: String = {
    val chunks = MarkdownIngest.ingest(spark, corpusDir, Seq("oracle"))
    CorpusStore.write(CorpusStore.fromChunks(chunks, "observer", embedder),
      s"$tmp/corpus", org.apache.spark.sql.SaveMode.Overwrite)
    CorpusStore.write(CorpusStore.fromChunks(chunks, "ocp", embedder),
      s"$tmp/corpus")
    s"$tmp/corpus"
  }

  test("hash embedder is deterministic, unit-norm, and dimension-stable") {
    import spark.implicits._
    val df = Seq("alpha beta gamma", "alpha beta gamma", "other text", "")
      .toDF("text")
    val vecs = df.select(embedder.embedCol($"text")).collect()
      .map(_.getSeq[Float](0))
    assert(vecs.forall(_.length == 16))
    assert(vecs(0) == vecs(1)) // same text -> same vector
    assert(vecs(0) != vecs(2))
    val norm = math.sqrt(vecs(0).map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    assert(vecs(3).forall(_ == 0f)) // empty text -> zero vector
  }

  test("embedQuery matches the column path (V2 == V1 on one row)") {
    import spark.implicits._
    val q = embedder.embedQuery(spark, "vector search query")
    val fromCol = Seq("vector search query").toDF("t")
      .select(embedder.embedCol($"t")).head().getSeq[Float](0)
    assert(q == fromCol)
  }

  test("ingest -> corpus -> partitioned write -> pruned read round-trips") {
    val nChunks = MarkdownIngest.ingest(spark, corpusDir, Seq("oracle")).count()
    val back = CorpusStore.read(spark, corpusPath)
    assert(back.count() == nChunks * 2)
    assert(back.schema("metadata").dataType == CorpusStore.metadataType)
    // ids are UUIDs, one per row
    assert(back.select("id").distinct().count() == back.count())

    // partition pruning: the filtered scan must carry a PartitionFilters
    // entry on component_code — the LIST-prune semantics of the reference
    val pruned = back.filter(col("component_code") === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("component_code"),
      s"expected partition pruning in plan:\n$plan")
    assert(pruned.count() == nChunks)
  }

  test("searchComponents prunes partitions and honors adaptive k") {
    val back = CorpusStore.read(spark, corpusPath)
    val q = embedder.embedQuery(spark, "vector search")
    val res = KnnSearch.searchComponents(back, "embedding",
      "component_code", q, Seq(1, 2), rerank = false,
      tieBreak = Some("id"))
    // k = max(3, 13 - 3*2) = 7 per component, capped by corpus size
    val perComp = res.groupBy("component_code").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val compSize = back.filter(col("component_code") === 1).count()
    assert(perComp.keySet == Set(1, 2))
    assert(perComp.values.forall(_ == math.min(7, compSize)))
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
  }

  test("JSON export/load round-trip preserves rows and schema (S8/S9)") {
    val back = CorpusStore.read(spark, corpusPath)
    CorpusStore.exportJson(back, s"$tmp/export")
    val loaded = CorpusStore.loadJson(spark, s"$tmp/export")
    // JSON source reads every field nullable; compare names + types
    assert(loaded.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      CorpusStore.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(loaded.count() == back.count())
    val a = back.select("id", "document", "component_code")
      .collect().map(_.toSeq).toSet
    val b = loaded.select("id", "document", "component_code")
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("CSV export/load round-trip: complex columns ride as JSON and come back typed") {
    import spark.implicits._
    // the ingested fixture chunks happen to trim to single lines, so the
    // newline claim needs a constructed row: a document spanning three
    // lines with an embedded RFC 4180 quote and a comma. Without
    // multiLine=true on the reader this row is split mid-record and the
    // count/row assertions below fail.
    val hostile = Seq(
      ("hostile-1",
        Seq(0.25f, -1.5f),
        "line one, with a comma\nline \"two\" quotes a word\nline three",
        ("u", "n", "observer", "t", "e"),
        1),
      ("hostile-2",
        Seq(1.0f),
        "trailing newline doc\n",
        ("u2", "n2", "ocp", "t2", "e2"),
        2))
      .toDF("id", "embedding", "document", "m", "component_code")
      .select($"id", $"embedding", $"document",
        $"m".cast(CorpusStore.metadataType).as("metadata"),
        $"component_code")
    val back = spark.read.parquet(s"$tmp/corpus")
      .unionByName(hostile)
    CorpusStore.exportCsv(back, s"$tmp/export-csv")
    val loaded = CorpusStore.loadCsv(spark, s"$tmp/export-csv")
    assert(loaded.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      CorpusStore.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(loaded.count() == back.count())
    // documents carry markdown (commas, quotes, newlines) — the CSV
    // quoting must round-trip them byte-for-byte, and the embedding
    // must come back as the same float array
    val a = back.select("id", "document", "component_code", "embedding")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getSeq[Float](3))).toSet
    val b = loaded
      .select("id", "document", "component_code", "embedding")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getSeq[Float](3))).toSet
    assert(a == b)
  }

  test("ORC export/load round-trip preserves rows, nested schema, and embeddings") {
    val back = spark.read.parquet(s"$tmp/corpus")
    CorpusStore.exportOrc(back, s"$tmp/export-orc")
    val loaded = CorpusStore.loadOrc(spark, s"$tmp/export-orc")
    assert(loaded.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      CorpusStore.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val a = back.select("id", "document", "component_code", "embedding")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getSeq[Float](3))).toSet
    val b = loaded
      .select("id", "document", "component_code", "embedding")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getSeq[Float](3))).toSet
    assert(a == b)
  }

  test("parquet aggregate pushdown: COUNT/MIN/MAX answered from footers, no row scan") {
    // the metadata-only fast path for corpus-stats probes (info(), the
    // datasheet volume row): with aggregatePushDown on, COUNT/MIN/MAX
    // over an unfiltered parquet table read row-group FOOTERS, not
    // rows — at 100 TB that is the difference between a stats call
    // and a full scan
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val p = s"$tmp/aggpd"
    emb.select("vec_id").write.mode("overwrite").parquet(p)
    // pushdown lives in the DataSource V2 read path — V1 (the
    // default) plans a row scan regardless of the flag
    val keys = Seq(
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> "")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val agg = spark.read.parquet(p)
        .agg(count(lit(1)).as("n"), min(col("vec_id")).as("lo"),
          max(col("vec_id")).as("hi"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation") &&
        plan.contains("COUNT(*)") && plan.contains("MIN(vec_id)"),
        s"expected footer-served aggregates in:\n$plan")
      val row = agg.head()
      assert(row.getLong(0) == emb.count() && row.getLong(1) == 0L)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("writeWithBloomFilters: footer carries the bloom, lookups answer, point reads stay correct") {
    import scala.jdk.CollectionConverters._
    val emb = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
      .coalesce(1)
    val p = s"$tmp/bloomed"
    CorpusStore.writeWithBloomFilters(emb, p, Seq("vec_id"),
      ndv = 1000L)
    val part = new java.io.File(p).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath), conf))
    try {
      val rg = reader.getFooter.getBlocks.get(0)
      val colMeta = rg.getColumns.asScala
        .find(_.getPath.toDotString == "vec_id").get
      assert(colMeta.getBloomFilterOffset > 0,
        "vec_id must carry a bloom filter in the footer")
      val bloom = reader.getBloomFilterDataReader(rg)
        .readBloomFilter(colMeta)
      assert(bloom != null)
      // every present id answers positive; absent ids are mostly
      // excluded (FPP is small but nonzero — assert a strong majority)
      val present = Seq(0L, 1L, 2L, 50L)
      assert(present.forall(v => bloom.findHash(bloom.hash(v))))
      val absentExcluded = (1000000L until 1000100L)
        .count(v => !bloom.findHash(bloom.hash(v)))
      assert(absentExcluded > 80,
        s"bloom excluded only $absentExcluded/100 absent ids")
    } finally reader.close()
    // and the bloomed file still answers point reads correctly
    val row = spark.read.parquet(p).filter(col("vec_id") === 50L)
      .select("vec_id").collect()
    assert(row.map(_.getLong(0)).toSeq == Seq(50L))
  }

  test("compact collapses small files while preserving data and pruning") {
    // fragment: 8 tiny appends per component → many files per partition
    val chunks = MarkdownIngest.ingest(spark, corpusDir, Seq("oracle"))
    val frag = s"$tmp/fragmented"
    (1 to 8).foreach { i =>
      CorpusStore.write(
        CorpusStore.fromChunks(chunks.limit(2), "observer", embedder),
        frag,
        if (i == 1) org.apache.spark.sql.SaveMode.Overwrite
        else org.apache.spark.sql.SaveMode.Append)
      CorpusStore.write(
        CorpusStore.fromChunks(chunks.limit(2), "ocp", embedder), frag)
    }
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    val before = CorpusStore.read(spark, frag)
    val nRows = before.count()
    val filesBefore = parquetFiles(frag)
    assert(filesBefore >= 16, s"fixture should be fragmented: $filesBefore")

    val dest = s"$tmp/compacted"
    CorpusStore.compact(spark, frag, dest)
    val after = CorpusStore.read(spark, dest)
    assert(after.count() == nRows)
    val filesAfter = parquetFiles(dest)
    assert(filesAfter < filesBefore,
      s"expected fewer files: $filesBefore -> $filesAfter")
    // data identical (ids are row-unique across the appends)
    val a = before.select("id", "document", "component_code")
      .collect().map(_.toSeq).toSet
    val b = after.select("id", "document", "component_code")
      .collect().map(_.toSeq).toSet
    assert(a == b)
    // the compacted layout still partition-prunes
    val plan = after.filter(col("component_code") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    // in-place compaction is refused
    intercept[IllegalArgumentException] {
      CorpusStore.compact(spark, frag, frag)
    }
  }

  test("component dimension + next code (J2/A6/S11)") {
    assert(CorpusStore.defaultComponents.values.toSeq.distinct.size ==
      CorpusStore.defaultComponents.size) // no ob.py:42/:44 dup-key bug
    val back = CorpusStore.read(spark, corpusPath)
    assert(CorpusStore.nextComponentCode(back) == 3) // max(1,2)+1
    assert(CorpusStore.exists(spark, corpusPath))
    assert(!CorpusStore.exists(spark, s"$tmp/no-such-table"))
    val (n, sch) = CorpusStore.info(back)
    assert(n == back.count() && sch.fieldNames.contains("component_code"))
    import spark.implicits._
    val dim = CorpusStore.componentDim(spark)
    val joined = Seq("observer", "nope").toDF("component")
      .join(broadcast(dim), Seq("component"), "left")
      .select(coalesce($"component_code", lit(CorpusStore.DefaultCode)))
      .collect().map(_.getInt(0)).toSet
    assert(joined == Set(1, 0))
  }
}
