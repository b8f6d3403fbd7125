package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Spark's runtime bloom-filter injection (InjectRuntimeFilter) on the
  * engine's fact⋈dim join shape — the 100 TB mechanism that prunes a
  * shuffled fact side BEFORE the exchange when the dim side carries a
  * selective filter. The production thresholds (10 GB application-side
  * scan) are exactly right — at test scale the filter must NOT fire;
  * this spec pins both directions so a silent default change (either
  * way) fails the build instead of quietly reshaping every plan. */
class RuntimeFilterSpec extends SparkSpec {
  import spark.implicits._

  // parquet-backed (a LocalRelation constant-folds away — the rule
  // sizes actual SCANS), written once per suite
  private lazy val root = {
    val dir = tempDir("graft-rtf").toString
    (0L until 50000L).map(i => (i % 997, i)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/fact")
    (0L until 997L).map(i => (i, s"d$i")).toDF("k", "name")
      .write.mode("overwrite").parquet(s"$dir/dim")
    dir
  }

  private def factDim = {
    val fact = spark.read.parquet(s"$root/fact")
    val dim = spark.read.parquet(s"$root/dim")
    // selective dim filter + equi-join: the InjectRuntimeFilter shape
    fact.join(dim.filter(col("name").startsWith("d1")), "k")
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
  }

  test("bloom runtime filter fires once thresholds admit the join (and result is unchanged)") {
    val conf = spark.conf
    // thresholds to zero AND broadcast off: the rule only guards
    // probably-SHUFFLED joins — a broadcast dim needs no bloom (the
    // fact side never shuffles on the key), which is also why the
    // engine's own broadcast-dim queries rightly never see one
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    val before = factDim.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      keys.foreach { case (k, v) => conf.set(k, v) }
      val df = factDim
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected an injected bloom filter in:\n$plan")
      val after = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == before, "bloom pre-filter changed join results")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("at sub-threshold scan sizes the filter stays out (default thresholds hold)") {
    val plan = factDim.queryExecution.optimizedPlan.toString
    assert(!plan.contains("might_contain"),
      "bloom filter fired below the application-side threshold — " +
        "default config drifted")
  }
}
