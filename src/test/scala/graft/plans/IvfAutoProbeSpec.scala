package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.{IvfIndex, KnnSearch, Pq}

/** The opt-in ANN rewrite: a plain exact top-k over an IVF-partitioned
  * table becomes a probe-pruned scan when spark.graft.ivf.nprobe is set,
  * stays exact when it is not, and never fires on non-index tables. */
class IvfAutoProbeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"
  private lazy val embeddings =
    spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  private lazy val indexPath: String = {
    val tmp = tempDir("graft-autoprobe-").toString
    IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 8)
      .write(s"$tmp/ivf")
    s"$tmp/ivf"
  }

  private def withRule[A](nprobe: Int)(body: => A): A = {
    VectorExpressions.ensureRegistered(spark)
    val rule = IvfAutoProbe(spark)
    if (!spark.experimental.extraOptimizations.contains(rule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
    spark.conf.set(IvfAutoProbe.NprobeConf, nprobe.toString)
    try body
    finally spark.conf.set(IvfAutoProbe.NprobeConf, "0")
  }

  private def queryVec: Seq[Float] =
    embeddings.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)

  private def topKPlanAndRows(nprobe: Int) = withRule(nprobe) {
    val loaded = spark.read.parquet(indexPath)
    val df = KnnSearch.topK(loaded, "embedding", queryVec, 10,
      KnnSearch.NativeL2, tieBreak = Some("vec_id"))
    (df.queryExecution.executedPlan.toString,
      df.select("vec_id").collect().map(_.getLong(0)).toSet)
  }

  test("nprobe conf turns an exact top-k into a pruned probe") {
    val (plan, rows) = topKPlanAndRows(nprobe = 6)
    assert(plan.contains("PartitionFilters") &&
      plan.contains(IvfIndex.ClusterCol),
      s"expected a partition-pruned scan in:\n$plan")
    // recall vs the exact path at nprobe=6/8 (recall ≥ 0.9 on this corpus)
    val exact = KnnSearch.topK(embeddings, "embedding", queryVec, 10,
        KnnSearch.L2, tieBreak = Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rows.intersect(exact).size >= 9,
      s"recall too low: ${rows.intersect(exact).size}/10")
  }

  test("two-level layout: a component-filtered exact top-k gets the cluster probe injected on top") {
    // the flagship auto-rewrite: user writes partition_names-style SQL
    // (filter on the component column + ORDER BY distance LIMIT k) over
    // a component-scoped index; the rule walks through the component
    // Filter, injects the cluster probe above the relation, and the
    // planner collapses BOTH into one doubly-pruned scan
    val tmp = tempDir("graft-autoprobe-comp-").toString
    IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 8,
      componentCol = Some("label")).write(s"$tmp/ivf")
    withRule(6) {
      val loaded = spark.read.parquet(s"$tmp/ivf")
      val df = KnnSearch.topK(loaded.filter(col("label").isin(1, 3)),
        "embedding", queryVec, 10, KnnSearch.NativeL2,
        tieBreak = Some("vec_id"))
      val plan = df.queryExecution.executedPlan.toString
      val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(plan)
      assert(pf.exists(f => f.contains("label") &&
          f.contains(IvfIndex.ClusterCol)),
        s"expected BOTH partition levels pruned, got $pf in:\n$plan")
      val rows = df.select("vec_id", "label").collect()
      assert(rows.map(_.getInt(1)).toSet.subsetOf(Set(1, 3)),
        "probe injection must never widen the component scope")
      val exact = KnnSearch.topK(
          embeddings.filter(col("label").isin(1, 3)),
          "embedding", queryVec, 10, KnnSearch.L2,
          tieBreak = Some("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(rows.map(_.getLong(0)).toSet.intersect(exact).size >= 8,
        "scoped recall under the auto-probe must stay high")
    }
  }

  test("rule is off without the conf and results stay exact") {
    val (plan, rows) = topKPlanAndRows(nprobe = 0)
    assert(!plan.contains(s"${IvfIndex.ClusterCol} IN"),
      s"rule must not fire when disabled:\n$plan")
    val exact = KnnSearch.topK(embeddings, "embedding", queryVec, 10,
        KnnSearch.L2, tieBreak = Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rows == exact)
  }

  test("never fires on a table without the sidecar / partition column") {
    withRule(6) {
      val df = KnnSearch.topK(embeddings, "embedding", queryVec, 10,
        KnnSearch.NativeL2, tieBreak = Some("vec_id"))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains(IvfIndex.ClusterCol))
      // and the result is the exact answer
      val rows = df.select("vec_id").collect().map(_.getLong(0)).toSet
      val exact = KnnSearch.topK(embeddings, "embedding", queryVec, 10,
          KnnSearch.L2, tieBreak = Some("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(rows == exact)
    }
  }

  test("non-monotonic sort keys are not rewritten (farthest-k stays exact)") {
    withRule(6) {
      val loaded = spark.read.parquet(indexPath)
      // farthest-k phrased as ascending of the NEGATED distance: a
      // contains-check would prune to the NEAREST clusters and return
      // the wrong rows — the rule must require the distance itself
      val neg = -org.apache.spark.sql.functions.sqrt(
        call_function("graft_l2sq", col("embedding"),
          KnnSearch.litVec(queryVec)))
      val df = loaded.withColumn("negdist", neg)
        .orderBy(col("negdist"), col("vec_id")).limit(10)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains(s"${IvfIndex.ClusterCol} IN"),
        s"rule must not fire on a negated distance:\n$plan")
    }
  }

  test("cosine-distance top-k is rewritten with a cosine centroid ranking") {
    withRule(6) {
      val loaded = spark.read.parquet(indexPath)
      val df = KnnSearch.topK(loaded, "embedding", queryVec, 10,
        KnnSearch.NativeCosine, tieBreak = Some("vec_id"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.contains(IvfIndex.ClusterCol),
        s"expected a pruned scan for 1 - graft_cos:\n$plan")
      val rows = df.select("vec_id").collect().map(_.getLong(0)).toSet
      val exact = KnnSearch.topK(embeddings, "embedding", queryVec, 10,
          KnnSearch.Cosine, tieBreak = Some("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(rows.intersect(exact).size >= 8,
        s"cosine recall too low: ${rows.intersect(exact).size}/10")
    }
  }

  test("negated-dot (MIPS) top-k is rewritten with a dot centroid ranking") {
    withRule(6) {
      val loaded = spark.read.parquet(indexPath)
      val df = KnnSearch.topK(loaded, "embedding", queryVec, 10,
        KnnSearch.NativeInnerProduct, tieBreak = Some("vec_id"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.contains(IvfIndex.ClusterCol),
        s"expected a pruned scan for -graft_dot:\n$plan")
      val rows = df.select("vec_id").collect().map(_.getLong(0)).toSet
      val exact = KnnSearch.topK(embeddings, "embedding", queryVec, 10,
          KnnSearch.InnerProduct, tieBreak = Some("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(rows.intersect(exact).size >= 7,
        s"MIPS recall too low: ${rows.intersect(exact).size}/10")
    }
  }

  test("descending SIMILARITY spellings fire and agree with their " +
      "ascending-distance twins") {
    // ORDER BY graft_cos(v, q) DESC / graft_dot(v, q) DESC — the natural
    // user spellings when porting the reference's cosine retrieval.
    // Round 11's matcher only knew the ascending distance forms, so
    // these silently took a full scan.
    withRule(6) {
      val loaded = spark.read.parquet(indexPath)
      val qv = KnnSearch.litVec(queryVec)
      val cosDesc = loaded
        .select(col("vec_id"), KnnSearch.roundHalfUpCol(
          call_function("graft_cos", col("embedding"), qv), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
      val plan = cosDesc.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.contains(IvfIndex.ClusterCol),
        s"expected a pruned scan for graft_cos DESC:\n$plan")
      // same probe ranking as the ascending 1-cos spelling → identical rows
      val cosAsc = KnnSearch.topK(loaded, "embedding", queryVec, 10,
          KnnSearch.NativeCosine, tieBreak = Some("vec_id"),
          rankRoundDp = Some(4))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(cosDesc.select("vec_id").collect().map(_.getLong(0)).toSet
        == cosAsc)

      val dotDesc = loaded
        .select(col("vec_id"),
          call_function("graft_dot", col("embedding"), qv).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
      val dotPlan = dotDesc.queryExecution.executedPlan.toString
      assert(dotPlan.contains("PartitionFilters") &&
        dotPlan.contains(IvfIndex.ClusterCol),
        s"expected a pruned scan for graft_dot DESC:\n$dotPlan")
      val dotAsc = KnnSearch.topK(loaded, "embedding", queryVec, 10,
          KnnSearch.NativeInnerProduct, tieBreak = Some("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(dotDesc.select("vec_id").collect().map(_.getLong(0)).toSet
        == dotAsc)
    }
  }

  test("sqrt-wrapped descending similarity is refused (negative cos/dot " +
      "sqrt to NaN, which sorts FIRST under DESC)") {
    withRule(6) {
      val loaded = spark.read.parquet(indexPath)
      val qv = KnnSearch.litVec(queryVec)
      for (fn <- Seq("graft_cos", "graft_dot")) {
        val df = loaded
          .select(col("vec_id"),
            sqrt(call_function(fn, col("embedding"), qv)).as("s"))
          .orderBy(col("s").desc, col("vec_id"))
          .limit(10)
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains(s"${IvfIndex.ClusterCol} IN"),
          s"sqrt($fn) DESC must NOT be rewritten:\n$plan")
      }
    }
  }

  test("decreasing transforms of a distance are still refused") {
    withRule(6) {
      val loaded = spark.read.parquet(indexPath)
      // 1 - l2sq is DECREASING in the distance: ascending sort = farthest
      // first. Only the exact 1 - graft_cos similarity shape may match.
      val df = loaded.withColumn("inv",
        lit(1.0) - call_function("graft_l2sq", col("embedding"),
          KnnSearch.litVec(queryVec)))
        .orderBy(col("inv"), col("vec_id")).limit(10)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains(s"${IvfIndex.ClusterCol} IN"),
        s"rule must not fire on 1 - graft_l2sq:\n$plan")
    }
  }

  test("sqrt of a negated dot is not rewritten (negative dots sqrt to NaN)") {
    withRule(6) {
      val loaded = spark.read.parquet(indexPath)
      // -graft_dot can be negative; sqrt of a negative is NaN and NaN
      // sorts LAST ascending — sqrt(-dot) is NOT order-equivalent to the
      // dot ranking, so pruning to highest-dot clusters would return
      // wrong rows beyond the IVF approximation. sqrt is only safe over
      // the non-negative l2sq / 1-cos terms (covered above).
      val df = loaded.withColumn("sqnegdot",
        org.apache.spark.sql.functions.sqrt(
          -call_function("graft_dot", col("embedding"),
            KnnSearch.litVec(queryVec))))
        .orderBy(col("sqnegdot"), col("vec_id")).limit(10)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains(s"${IvfIndex.ClusterCol} IN"),
        s"rule must not fire on sqrt(-graft_dot):\n$plan")
    }
  }

  test("sqrt over l2sq still rewrites (non-negative term, order preserved)") {
    withRule(6) {
      val loaded = spark.read.parquet(indexPath)
      val df = loaded.withColumn("dist",
        org.apache.spark.sql.functions.sqrt(
          call_function("graft_l2sq", col("embedding"),
            KnnSearch.litVec(queryVec))))
        .orderBy(col("dist"), col("vec_id")).limit(10)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.contains(IvfIndex.ClusterCol),
        s"sqrt(l2sq) must still be rewritten:\n$plan")
    }
  }

  test("string-cast sort keys are not rewritten (lexicographic order differs)") {
    withRule(6) {
      val loaded = spark.read.parquet(indexPath)
      // '10' < '9' lexicographically: pruning to the nearest clusters
      // under a string sort would return wrong rows beyond the IVF
      // approximation — the rule must refuse to unwrap the cast
      val df = loaded.withColumn("diststr",
        call_function("graft_l2sq", col("embedding"),
          KnnSearch.litVec(queryVec)).cast("string"))
        .orderBy(col("diststr"), col("vec_id")).limit(10)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains(s"${IvfIndex.ClusterCol} IN"),
        s"rule must not fire on a string-cast distance:\n$plan")
    }
  }

  test("in-place index rebuild is picked up (no stale centroid cache)") {
    withRule(6) {
      val tmp = tempDir("graft-rebuild-").toString
      val path = s"$tmp/ivf"
      // build A: nlist=4. With nprobe=6 >= nlist the rule loads + caches
      // the centroids but declines to rewrite (full scan anyway).
      IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 4)
        .write(path)
      def planFor(): String = {
        val loaded = spark.read.parquet(path)
        KnnSearch.topK(loaded, "embedding", queryVec, 10,
            KnnSearch.NativeL2, tieBreak = Some("vec_id"))
          .queryExecution.executedPlan.toString
      }
      assert(!planFor().contains(s"${IvfIndex.ClusterCol} IN"))
      // rebuild IN PLACE: nlist=8. A stale 4-centroid cache would keep
      // the rule off (6 >= 4) — with fresh centroids it must now fire
      // and prune to 6 of the 8 new clusters.
      IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 8)
        .write(path)
      val plan = planFor()
      assert(plan.contains("PartitionFilters") &&
        plan.contains(IvfIndex.ClusterCol),
        s"rebuilt index not picked up (stale centroid cache?):\n$plan")
    }
  }

  /** whether an optimized plan carries the injected cluster probe */
  private def probes(plan: String): Boolean =
    s"${IvfIndex.ClusterCol}#\\d+L? IN \\(".r.findFirstIn(plan).isDefined

  test("an out-of-JVM sidecar rewrite, with no invalidate, is picked up on the very next plan") {
    val path = tempDir("graft-foreign-").toString + "/ivf"
    IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 8)
      .write(path)
    val q = queryVec
    def probed(): Boolean = probes(withRule(6) {
      KnnSearch.topK(spark.read.parquet(path), "embedding", q, 10,
          KnnSearch.NativeL2, tieBreak = Some("vec_id"))
        .queryExecution.optimizedPlan.toString
    })
    assert(probed(), "6 of 8 clusters must be probed")
    // another process rewrites the sidecar in place with 4 centroids: no
    // in-JVM invalidation fires, and 6 >= 4 must now decline the rewrite
    import spark.implicits._
    val old = IvfIndex.load(spark, path, "vec_id", "embedding")
    old.clusterIds.zip(old.centroids).take(4).toSeq
      .map { case (c, v) => (c, v.toSeq) }
      .toDF("cluster_id", "centroid")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$path/${IvfIndex.CentroidSidecar}")
    assert(!probed(), "the rule planned with stale centroids")
  }

  test("IvfIndex.load and the rule share one centroid entry, parsed once; " +
      "appendTo, deleteByIds, compact and Pq.appendEncoded leave no entry") {
    import graft.sources.PersistedRoot
    import spark.implicits._
    val tmp = tempDir("graft-one-cache-").toString
    def centroidEntries(root: String): Int =
      PersistedRoot.cachedKeys(spark, root).count(_._2 == "ivf.centroids")
    val q = queryVec
    def topK(root: String) = KnnSearch.topK(spark.read.parquet(root),
      "embedding", q, 10, KnnSearch.NativeL2, tieBreak = Some("vec_id"))
    def optimized(df: org.apache.spark.sql.DataFrame): String =
      withRule(6)(df.queryExecution.optimizedPlan.toString)
    def rulePlan(root: String): String = optimized(topK(root))
    def parsed(root: String) = {
      val (fs, p) = PersistedRoot.fileSystem(spark, root)
      IvfIndex.sidecarCentroids(spark, fs, p).get
    }
    val idx = IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 8)
    // load first: the rule plans from load's entry without a job
    val a = s"$tmp/a"
    idx.write(a)
    val loaded = IvfIndex.load(spark, a, "vec_id", "embedding")
    val df = topK(a)
    var plan = ""
    assert(jobsRun { plan = optimized(df) } == 0,
      "the rule re-read centroids that load had parsed")
    assert(probes(plan), plan)
    assert(loaded.centroids.head eq parsed(a).head._2,
      "load and the rule hold different parses")
    assert(centroidEntries(a) == 1)
    // the rule first: load then holds the rule's parse, on the raw and
    // the qualified spelling of the root alike, and a warm load runs no
    // job at all
    val b = s"$tmp/b"
    idx.write(b)
    rulePlan(b)
    val ruleParse = parsed(b).head._2
    assert(IvfIndex.load(spark, s"file:$b", "vec_id", "embedding")
      .centroids.head eq ruleParse, "load re-parsed centroids the rule had parsed")
    assert(jobsRun(IvfIndex.load(spark, b, "vec_id", "embedding")) == 0,
      "a warm load ran a Spark job")
    assert(centroidEntries(b) == 1)
    // every mutation drops every entry at or under its root
    def warm(root: String): Unit = {
      IvfIndex.load(spark, root, "vec_id", "embedding"); rulePlan(root)
      assert(PersistedRoot.cachedKeys(spark, root).nonEmpty)
    }
    def leavesNone(what: String, root: String)(mutate: => Unit): Unit = {
      mutate
      assert(PersistedRoot.cachedKeys(spark, root).isEmpty,
        s"$what left ${PersistedRoot.cachedKeys(spark, root)}")
    }
    warm(a)
    leavesNone("appendTo", a)(IvfIndex.appendTo(spark, a,
      embeddings.filter(col("vec_id") < 4L).select(
        (col("vec_id") + 1000000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding"))
    warm(a)
    leavesNone("deleteByIds", a)(IvfIndex.deleteByIds(spark, a,
      Seq(1000000L).toDF("vec_id"), "vec_id", "embedding"))
    val dest = s"$tmp/dest"
    IvfIndex.compact(spark, a, dest)
    warm(dest)
    leavesNone("compact", dest)(IvfIndex.compact(spark, b, dest))
    val pq = s"$tmp/pq"
    val raw = embeddings.select("vec_id", "embedding")
    Pq.writeRoot(spark, pq, raw.filter(col("vec_id") < 64L), "embedding",
      Pq.fit(raw, "vec_id", "embedding", m = 8, ksub = 16))
    Pq.loadRoot(spark, pq).data(spark)
    assert(PersistedRoot.cachedKeys(spark, pq).map(_._2).toSet ==
      Set("pq.root", "pq.books", "pq.schema"))
    leavesNone("Pq.appendEncoded", pq)(Pq.appendEncoded(spark, pq,
      raw.filter(col("vec_id") === 64L), "embedding"))
  }

  test("filterSelectivity conf widens the probe budget for data-column-" +
      "filtered shapes; partition scoping never widens; nlist declines") {
    // the declarative twin of the API's filterSelectivity (r19 verdict
    // #5): a residual data predicate through the SQL path used to get
    // the static nprobe with no compensation — q209's measured
    // filtered-recall collapse. Count the injected probes via the IN
    // literal list in the optimized plan.
    def probeCount(plan: String): Option[Int] =
      s"${IvfIndex.ClusterCol}#\\d+L? IN \\(([^)]*)\\)".r
        .findFirstMatchIn(plan).map(_.group(1).split(",").length)
    withRule(2) {
      val loaded = spark.read.parquet(indexPath)
      def filteredPlan() = KnnSearch.topK(
          loaded.filter(pmod(col("vec_id"), lit(3L)) === 1L),
          "embedding", queryVec, 5, KnnSearch.NativeL2,
          tieBreak = Some("vec_id"))
        .queryExecution.optimizedPlan.toString
      // unset: static budget, documented caveat
      assert(probeCount(filteredPlan()).contains(2),
        s"unset conf must keep the static budget:\n${filteredPlan()}")
      spark.conf.set(IvfAutoProbe.FilterSelectivityConf, "0.34")
      try {
        // ceil(2 / 0.34) = 6 of 8 clusters probed
        assert(probeCount(filteredPlan()).contains(6),
          s"expected a 6-cluster widened probe:\n${filteredPlan()}")
        // an UNfiltered shape never widens
        val bare = KnnSearch.topK(loaded, "embedding", queryVec, 5,
            KnnSearch.NativeL2, tieBreak = Some("vec_id"))
          .queryExecution.optimizedPlan.toString
        assert(probeCount(bare).contains(2),
          s"no filter, no widening:\n$bare")
        // a budget reaching nlist declines the rewrite — exact scan
        spark.conf.set(IvfAutoProbe.FilterSelectivityConf, "0.2")
        assert(probeCount(filteredPlan()).isEmpty,
          "ceil(2/0.2)=10 >= nlist=8 must decline the rewrite")
      } finally spark.conf.unset(IvfAutoProbe.FilterSelectivityConf)
    }
    // partition-column scoping is not a thinning predicate: the
    // component-filtered shape keeps its static budget under the conf
    val tmp = tempDir("graft-autoprobe-sel-").toString
    IvfIndex.build(embeddings, "vec_id", "embedding", nlist = 8,
      componentCol = Some("label")).write(s"$tmp/ivf")
    withRule(2) {
      spark.conf.set(IvfAutoProbe.FilterSelectivityConf, "0.34")
      try {
        val scoped = KnnSearch.topK(
            spark.read.parquet(s"$tmp/ivf")
              .filter(col("label").isin(1, 3)),
            "embedding", queryVec, 5, KnnSearch.NativeL2,
            tieBreak = Some("vec_id"))
          .queryExecution.optimizedPlan.toString
        assert(probeCount(scoped).contains(2),
          s"partition scoping must not widen:\n$scoped")
      } finally spark.conf.unset(IvfAutoProbe.FilterSelectivityConf)
    }
  }

  test("probe filter prunes directories (fewer files read than full scan)") {
    withRule(2) {
      val loaded = spark.read.parquet(indexPath)
      val df = KnnSearch.topK(loaded, "embedding", queryVec, 5,
        KnnSearch.NativeL2, tieBreak = Some("vec_id"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.contains(IvfIndex.ClusterCol))
      // scanning 2/8 clusters must return rows from ≤ 2 distinct clusters
      val clusters = df.select(IvfIndex.ClusterCol).distinct().count()
      assert(clusters <= 2)
    }
  }
}
