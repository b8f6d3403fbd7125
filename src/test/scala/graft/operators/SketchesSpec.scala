package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Sketches]] — the properties that make a sketch a sketch: merge
  * laws (union without raw-data reshuffle) and layout invariance (the
  * q101/q102 oracles depend on the estimate being bit-stable under any
  * partitioning — this spec pins the in-JVM half of that claim; the
  * cross-engine half is the driver's DuckDB hash compare). */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("HLL registers merge by max: sketch(A union B) == max-merge of the sketches") {
    val a = (0 until 400).map(i => ("g", s"item$i")).toDF("g", "x")
    val b = (200 until 700).map(i => ("g", s"item$i")).toDF("g", "x")
    val whole = Sketches.hllRegisters(a.union(b), col("x"), Seq("g"), 64)
    val merged = Sketches.hllRegisters(a, col("x"), Seq("g"), 64)
      .union(Sketches.hllRegisters(b, col("x"), Seq("g"), 64))
      .groupBy(col("g"), col("r")).agg(max(col("mreg")).as("mreg"))
    assert(whole.except(merged).isEmpty && merged.except(whole).isEmpty,
      "merged register frame diverged from the whole-set sketch")
  }

  test("HLL estimate lands within the sketch's error envelope") {
    val n = 5000
    val df = (0 until n).map(i => ("g", s"v$i")).toDF("g", "x")
    val reg = Sketches.hllRegisters(df, col("x"), Seq("g"), 256)
    val est = Sketches
      .hllEstimate(reg, Seq("g"), 256, 0.7213 / (1.0 + 1.079 / 256.0), 4)
      .select("hll_est").head().getDouble(0)
    // 1.04/sqrt(256) = 6.5% std error; 4 sigma is a deterministic
    // pass/fail here (fixed hash, fixed data), the bound just documents
    // the regime
    assert(math.abs(est - n) < 0.26 * n, s"estimate $est vs true $n")
  }

  test("HLL estimate is bit-identical under any partitioning") {
    val df = (0 until 3000).map(i => ("g", s"v$i")).toDF("g", "x")
    def estOf(parts: Int): Double = Sketches
      .hllEstimate(
        Sketches.hllRegisters(df.repartition(parts), col("x"), Seq("g"),
          32),
        Seq("g"), 32, 0.697, 4)
      .select("hll_est").head().getDouble(0)
    val e1 = estOf(1)
    assert(java.lang.Double.doubleToRawLongBits(e1) ==
      java.lang.Double.doubleToRawLongBits(estOf(7)),
      s"estimate moved with partition count: $e1 vs ${estOf(7)}")
  }

  test("HLL registers run as STREAMING state: complete-mode snapshot == batch sketch") {
    // the max-merge law is what makes the registers a valid streaming
    // aggregation — per-key state is one byte-sized long, never a set
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)]
    val query = Sketches
      .hllRegisters(input.toDF().toDF("g", "x"), col("x"), Seq("g"), 32)
      .writeStream.format("memory").queryName("hll_regs")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .start()
    try {
      input.addData((0 until 300).map(i => ("g", s"v$i")): _*)
      query.processAllAvailable()
      input.addData((150 until 500).map(i => ("g", s"v$i")): _*)
      query.processAllAvailable()
      val streamed = spark.table("hll_regs")
      val batch = Sketches.hllRegisters(
        (0 until 500).map(i => ("g", s"v$i")).toDF("g", "x"),
        col("x"), Seq("g"), 32)
      assert(streamed.except(batch).isEmpty &&
        batch.except(streamed).isEmpty,
        "streaming register snapshot diverged from the batch sketch")
      // the estimate is a plain batch aggregation over the snapshot
      // (streaming can't chain two aggs; the monitor reads the sink)
      val est = Sketches.hllEstimate(streamed, Seq("g"), 32, 0.697, 4)
        .select("hll_est").head().getDouble(0)
      assert(math.abs(est - 500) < 0.75 * 500, s"estimate $est vs 500")
    } finally query.stop()
  }

  test("KMV merge law: min-k over two sketches' rows == sketch of the union set") {
    val a = (0 until 500).map(i => ("g", s"item$i")).toDF("g", "x")
    val b = (300 until 900).map(i => ("g", s"item$i")).toDF("g", "x")
    val whole = Sketches.kmvSketch(a.union(b), col("x"), Seq("g"), 64)
    // merge = pool the two sketches' ROWS and keep the k smallest
    // distinct h values — no raw data revisited
    val pooled = Sketches.kmvSketch(a, col("x"), Seq("g"), 64)
      .union(Sketches.kmvSketch(b, col("x"), Seq("g"), 64))
      .distinct()
      .orderBy(col("h")).limit(64)
    assert(whole.except(pooled).isEmpty && pooled.except(whole).isEmpty,
      "pooled min-k diverged from the whole-set sketch")
  }

  test("KMV sketch is layout-invariant and tie-free") {
    val df = (0 until 2000).map(i => ("g", s"v$i")).toDF("g", "x")
    val s1 = Sketches.kmvSketch(df.repartition(1), col("x"), Seq("g"), 32)
      .orderBy("h").collect().map(_.getLong(1)).toSeq
    val s9 = Sketches.kmvSketch(df.repartition(9), col("x"), Seq("g"), 32)
      .orderBy("h").collect().map(_.getLong(1)).toSeq
    assert(s1 == s9, "sketch moved with partition count")
    assert(s1.distinct.length == 32, "hash ties in a 52-bit space")
  }

  test("degenerate groups: empty input yields no rows; one item shows the documented raw-regime bias") {
    val one = Seq(("g", "only")).toDF("g", "x")
    val row = Sketches
      .hllEstimate(Sketches.hllRegisters(one, col("x"), Seq("g"), 32),
        Seq("g"), 32, 0.697, 4)
      .select("n_zero_registers", "hll_est").head()
    assert(row.getLong(0) == 31L, s"expected 31 zero registers, ${row.getLong(0)}")
    // the RAW estimator without linear counting reads ~alpha*m for a
    // near-empty sketch — the small-range bias hllEstimate's scaladoc
    // documents (callers size m to their n); pin it so a silent
    // behavior change is caught
    val est = row.getDouble(1)
    assert(est > 0.697 * 1024.0 / 32.0 - 0.5 &&
      est < 0.697 * 1024.0 / 31.0 + 0.5, s"single-item raw estimate $est")
    val empty = one.filter(col("x") =!= col("x"))
    assert(Sketches.hllRegisters(empty, col("x"), Seq("g"), 32).isEmpty)
  }

  test("histogram merge law: sketch(A union B) == bucket-count sum of the sketches") {
    val a = (0 until 600).map(i => ("g", (i * 7 % 997).toLong)).toDF("g", "v")
    val b = (0 until 400).map(i => ("g", (i * 13 % 997 - 100).toLong)).toDF("g", "v")
    val whole = Sketches.histSketch(a.union(b), col("v"), Seq("g"), 64L)
    val merged = Sketches.histSketch(a, col("v"), Seq("g"), 64L)
      .union(Sketches.histSketch(b, col("v"), Seq("g"), 64L))
      .groupBy(col("g"), col("b")).agg(sum(col("cnt")).as("cnt"))
    assert(whole.except(merged).isEmpty && merged.except(whole).isEmpty,
      "summed bucket counts diverged from the whole-set sketch")
  }

  test("histogram bucketing floors negatives and is layout-invariant") {
    val df = Seq(("g", -130L), ("g", -64L), ("g", -1L), ("g", 0L),
      ("g", 63L), ("g", 64L)).toDF("g", "v")
    val got = Sketches.histSketch(df, col("v"), Seq("g"), 64L)
      .orderBy("b").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // floor(-130/64) = -3, floor(-64/64) = -1... floor division, not
    // the truncate-toward-zero a naive integer `/` would compute
    assert(got == Seq((-3L, 1L), (-1L, 2L), (0L, 2L), (1L, 1L)), got.toString)
    val p1 = Sketches.histSketch(df.repartition(1), col("v"), Seq("g"), 64L)
    val p7 = Sketches.histSketch(df.repartition(7), col("v"), Seq("g"), 64L)
    assert(p1.except(p7).isEmpty && p7.except(p1).isEmpty)
  }

  test("histogram runs as STREAMING state: complete-mode snapshot == batch sketch") {
    // the sum-merge law makes the bucket counts a valid streaming
    // aggregation — per-(group, bucket) state is ONE long
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)]
    val query = Sketches
      .histSketch(input.toDF().toDF("g", "v"), col("v"), Seq("g"), 64L)
      .writeStream.format("memory").queryName("hist_buckets")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .start()
    try {
      input.addData((0 until 300).map(i => ("g", (i * 7 % 997).toLong)): _*)
      query.processAllAvailable()
      input.addData((0 until 200).map(i => ("g", (i * 13 % 997).toLong)): _*)
      query.processAllAvailable()
      val streamed = spark.table("hist_buckets")
      val batch = Sketches.histSketch(
        ((0 until 300).map(i => ("g", (i * 7 % 997).toLong)) ++
          (0 until 200).map(i => ("g", (i * 13 % 997).toLong))).toDF("g", "v"),
        col("v"), Seq("g"), 64L)
      assert(streamed.except(batch).isEmpty &&
        batch.except(streamed).isEmpty,
        "streaming bucket snapshot diverged from the batch sketch")
    } finally query.stop()
  }

  test("histogram quantile: lower-edge estimate brackets the exact discrete percentile within one width") {
    val vals = (0 until 5000).map(i => ("g", (i * 37 % 10007).toLong))
    val df = vals.toDF("g", "v")
    val width = 128L
    val qs = Seq(250000L, 500000L, 900000L, 990000L)
    val est = Sketches
      .histQuantiles(Sketches.histSketch(df, col("v"), Seq("g"), width),
        Seq("g"), width, qs)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val sorted = vals.map(_._2).sorted
    qs.foreach { q =>
      val r = ((vals.size.toLong * q + 999999L) / 1000000L).toInt
      val exact = sorted(r - 1)
      val e = est(q)
      assert(e <= exact && exact < e + width,
        s"q=$q: estimate $e does not bracket exact $exact (width $width)")
    }
  }

  test("bloom has NO false negatives: every inserted key tests positive") {
    val keys = (0 until 300).map(i => s"key-$i")
    val df = keys.toDF("k")
    val bloom = Sketches.bloomBuild(df, col("k"), 1 << 12, 3)
    val hits = Sketches.withBloomHit(df, col("k"), bloom, 1 << 12, 3, "hit")
      .filter(!col("hit")).count()
    assert(hits == 0L, s"$hits inserted keys tested negative")
  }

  test("scalar dense probe == the k probe joins, hit for hit") {
    // the q134/q175 serving form (r22): bloomMightContain over the
    // densified words must answer EXACTLY like withBloomHit's k
    // broadcast joins for every probe — inserted keys, absent keys,
    // and the high-fill false positives included
    val keys = (0 until 300).map(i => s"key-$i").toDF("k")
    val mBits = 1 << 10 // small → real false positives in the probe set
    val bloom = Sketches.bloomBuild(keys, col("k"), mBits, 3)
    val words = Sketches.bloomDense(bloom, mBits)
    // and a NULL item: a miss (false) in both forms
    val probes = ((0 until 300).map(i => Option(s"key-$i")) ++
      (0 until 300).map(i => Option(s"absent-$i")) :+ None).toDF("k")
    val joined = Sketches.withBloomHit(probes, col("k"), bloom,
        mBits, 3, "hit")
      .select(col("k"), col("hit"))
    val dense = probes.select(col("k"),
      Sketches.bloomMightContain(col("k"), words, mBits, 3).as("hit"))
    assert(joined.except(dense).count() == 0L &&
      dense.except(joined).count() == 0L,
      "dense scalar probe diverged from the probe-join form")
    assert(dense.filter(col("k").isNull).select("hit").head().get(0) == false,
      "a NULL item must probe false, not NULL")
    // sanity: the comparison exercised both outcomes
    val n = dense.filter(col("hit")).count()
    assert(n >= 300L && n < 600L, s"degenerate probe set: $n hits")
  }

  test("bloom merge law: bit_or of two sketches == sketch of the union") {
    val a = (0 until 120).map(i => s"a-$i").toDF("k")
    val b = (0 until 120).map(i => s"b-$i").toDF("k")
    val merged = Sketches.bloomBuild(a, col("k"), 1 << 12, 3)
      .union(Sketches.bloomBuild(b, col("k"), 1 << 12, 3))
      .groupBy("bucket").agg(expr("bit_or(word)").as("word"))
    val direct = Sketches.bloomBuild(a.union(b), col("k"), 1 << 12, 3)
    assert(merged.except(direct).count() == 0L
      && direct.except(merged).count() == 0L)
  }

  test("counting bloom: subtracting a retired batch equals a fresh rebuild; negative counters fail loudly") {
    val a = (0 until 300).map(i => s"k-${i % 200}").toDF("k") // dups too
    val b = (0 until 100).map(i => s"k-$i").toDF("k") // sub-multiset
    val remaining = (0 until 300).map(i => s"k-${i % 200}")
      .diff((0 until 100).map(i => s"k-$i")).toDF("k")
    val maintained = Sketches.countingBloomSubtract(
      Sketches.countingBloomBuild(a, col("k"), 1 << 12, 3),
      Sketches.countingBloomBuild(b, col("k"), 1 << 12, 3))
    val fresh = Sketches.countingBloomBuild(remaining, col("k"),
      1 << 12, 3)
    assert(maintained.except(fresh).count() == 0L &&
      fresh.except(maintained).count() == 0L,
      "maintained cells != fresh rebuild")
    // no false negatives for the remaining multiset
    val misses = Sketches.withCountingBloomHit(remaining.distinct(),
        col("k"), maintained, 1 << 12, 3, "hit")
      .filter(!col("hit")).count()
    assert(misses == 0L, s"$misses remaining keys tested negative")
    // retired keys NOT in the remaining multiset need not test
    // positive anymore (that's the point); subtracting something
    // never inserted is loud corruption
    val e = intercept[Exception] {
      Sketches.countingBloomSubtract(
        Sketches.countingBloomBuild(b, col("k"), 1 << 12, 3),
        Sketches.countingBloomBuild(a, col("k"), 1 << 12, 3)).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("negative")), s"wrong error: $e")
  }

  test("counting bloom densifies to exactly the bit bloom of the remaining multiset") {
    val a = (0 until 300).map(i => s"k-${i % 200}").toDF("k")
    val b = (0 until 100).map(i => s"k-$i").toDF("k")
    val remaining = (0 until 300).map(i => s"k-${i % 200}")
      .diff((0 until 100).map(i => s"k-$i")).toDF("k")
    val maintained = Sketches.countingBloomSubtract(
      Sketches.countingBloomBuild(a, col("k"), 1 << 12, 3),
      Sketches.countingBloomBuild(b, col("k"), 1 << 12, 3))
    val dense = Sketches.countingBloomDense(maintained, 1 << 12)
    val fresh = Sketches.bloomDense(
      Sketches.bloomBuild(remaining, col("k"), 1 << 12, 3), 1 << 12)
    assert(dense == fresh,
      "dense counting filter != bit bloom of the remaining set")
    // and the existing streaming probe path serves it unchanged
    import org.apache.spark.sql.functions.array
    val hit = remaining.limit(5)
      .select(Sketches.bloomMightContainAny(array(col("k")), dense,
        1 << 12, 3).as("h"))
      .collect().forall(_.getBoolean(0))
    assert(hit, "a remaining key tested negative through the dense probe")
  }

  test("bloom false positives exist at high fill and are deterministic") {
    // tiny filter, heavy fill: non-members MUST collide; two runs of
    // the same build+test agree exactly (no RNG anywhere)
    val members = (0 until 400).map(i => s"m-$i").toDF("k")
    val probes = (0 until 400).map(i => s"p-$i").toDF("k")
    def fpSet = {
      val bloom = Sketches.bloomBuild(members, col("k"), 1 << 8, 2)
      Sketches.withBloomHit(probes, col("k"), bloom, 1 << 8, 2, "hit")
        .filter(col("hit")).select("k").collect().map(_.getString(0)).toSet
    }
    val fp1 = fpSet
    assert(fp1.nonEmpty, "a 256-bit filter holding 400 keys must collide")
    assert(fp1 == fpSet, "false-positive set must be deterministic")
  }

  test("bloom layout invariance: build is identical under any partitioning") {
    val df = (0 until 500).map(i => s"k-$i").toDF("k")
    val one = Sketches.bloomBuild(df.repartition(1), col("k"), 1 << 12, 3)
      .orderBy("bucket").collect().toSeq
    val many = Sketches.bloomBuild(df.repartition(7), col("k"), 1 << 12, 3)
      .orderBy("bucket").collect().toSeq
    assert(one == many)
  }

  test("bloom geometry guards: non-power-of-two mBits and oversized k throw") {
    intercept[IllegalArgumentException] {
      Sketches.bloomBuild(Seq("x").toDF("k"), col("k"), 1000, 3)
    }
    intercept[IllegalArgumentException] {
      Sketches.bloomProbes(col("k"), 1 << 12, 6)
    }
  }
}
