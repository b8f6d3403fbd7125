package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Batch KNN: the mapPartitions heap form must agree with the exact
  * single-query path, and the corpus must reach the final rank already
  * reduced to per-partition top-k (no full-data window exchange). */
class KnnSearchSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"
  private lazy val embeddings =
    spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  test("topKBatch agrees with per-query exact topK") {
    val queries = embeddings.filter(col("vec_id").isin(0, 5, 9))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batch = KnnSearch.topKBatch(embeddings, "embedding", queries,
        "qid", "qv", k = 5, tieBreak = "vec_id", rankRoundDp = Some(4))
      .select(col("query_id"), col("vec_id"), col("dist"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet

    val single = Seq(0L, 5L, 9L).flatMap { qid =>
      val q = embeddings.filter(col("vec_id") === qid)
        .select("embedding").head().getSeq[Float](0)
      KnnSearch.topK(embeddings, "embedding", q, 5, KnnSearch.L2,
          tieBreak = Some("vec_id"), rankRoundDp = Some(4))
        .select(col("vec_id"), col("dist"))
        .collect()
        .map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.toSet
    assert(batch == single)
  }

  test("topKBatch reduces per partition before any exchange") {
    val queries = embeddings.filter(col("vec_id").isin(0, 1))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val df = KnnSearch.topKBatch(embeddings, "embedding", queries,
      "qid", "qv", k = 3, tieBreak = "vec_id")
    val plan = df.queryExecution.executedPlan.toString
    // the corpus-side reduction is a mapPartitions stage; the only
    // exchange ranks the k·|queries|-per-partition survivors
    assert(plan.contains("MapPartitions"),
      s"expected a mapPartitions heap stage in:\n$plan")
    val mpIdx = plan.indexOf("MapPartitions")
    val exIdx = plan.indexOf("Exchange")
    assert(exIdx >= 0 && exIdx < mpIdx,
      "the only exchange must sit ABOVE the per-partition reduction " +
        "(plans print top-down)")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "no corpus×queries join may exist in the heap form")
  }

  test("topKBatch keeps ties deterministic via the tieBreak column") {
    // duplicate a vector so (dist=0) ties exist; smallest tie id must win
    val dup = embeddings.limit(1)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"),
        col("label"))
    val corpus = embeddings.select("vec_id", "embedding", "label")
      .union(dup)
    val queries = embeddings.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val top = KnnSearch.topKBatch(corpus, "embedding", queries,
        "qid", "qv", k = 2, tieBreak = "vec_id")
      .orderBy(col("dist"), col("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(top == Seq(0L, 100000L))
  }

  test("string ties break in UTF8 binary order, matching the final rank") {
    import spark.implicits._
    // U+FFFF is a single UTF-16 char but three UTF-8 bytes (EF BF BF);
    // U+10000 is a surrogate pair but four bytes (F0 90 80 80). Java's
    // String.compareTo says U+10000 < U+FFFF; Spark's binary ordering
    // (and the final window rank) says U+FFFF < U+10000. The heap must
    // agree with the rank or the survivor set is wrong.
    val v = Seq.fill(4)(0f)
    val corpus = Seq(
      ("𐀀", v), // U+10000
      ("￿", v)
    ).toDF("name", "embedding").repartition(1) // both in one heap
    val queries = Seq(("q1", v)).toDF("qid", "qv")
    val got = KnnSearch.topKBatch(corpus, "embedding", queries,
        "qid", "qv", k = 1, tieBreak = "name")
      .select("name").head().getString(0)
    assert(got == "￿",
      "heap tie order diverged from Spark's UTF8 binary ordering")
  }

  test("non-orderable tieBreak types are rejected at plan time") {
    import spark.implicits._
    val corpus = Seq((Seq(1, 2), Seq.fill(4)(0f)))
      .toDF("arr_tie", "embedding")
    val queries = Seq(("q1", Seq.fill(4)(0f))).toDF("qid", "qv")
    val ex = intercept[IllegalArgumentException] {
      KnnSearch.topKBatch(corpus, "embedding", queries,
        "qid", "qv", k = 1, tieBreak = "arr_tie")
    }
    assert(ex.getMessage.contains("non-orderable"))
  }

  test("dimension mismatches surface an error instead of dropping rows") {
    import spark.implicits._
    val local = Seq((1L, Seq(1f, 2f))).toDF("vec_id", "embedding")
    val queries = Seq(("q1", Seq(1f, 2f, 3f))).toDF("qid", "qv")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    // the driver's heap pass over a local frame, and the executors'
    for (corpus <- Seq(local, local.repartition(2))) {
      val ex = intercept[Exception] {
        KnnSearch.topKBatch(corpus, "embedding", queries,
          "qid", "qv", k = 1, tieBreak = "vec_id").collect()
      }
      assert(messages(ex).exists(_.contains("dimension mismatch")),
        ex.toString)
    }
  }

  test("searchBatch collects the query table exactly once") {
    val queries = embeddings.filter(col("vec_id").isin(0, 1))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val before = spark.sparkContext.longAccumulator("probe")
    // count query-side plan executions via an accumulator-bumping UDF
    val bump = udf { (id: Long) => before.add(1); id }
    val counted = queries.select(bump(col("qid")).as("qid"), col("qv"))
    val idx = IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 4)
    idx.searchBatch(counted, "qid", "qv", k = 3, nprobe = 2,
      tieBreak = "vec_id").collect()
    assert(before.value == 2L,
      s"query plan ran ${before.value / 2.0} times; must be collected once")
  }
}
