package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable sketches for corpus-scale counting: HyperLogLog
  * cardinality registers (q101), KMV/theta bottom-k sketches for
  * set-overlap estimation (q102), and the count-min frequency sketch
  * (q97).
  *
  * Everything here is DETERMINISTIC AND ENGINE-EXACT by construction,
  * in the repo's round-12 regime (no libm, no machine-dependent seam):
  *
  *  - every hash is md5 over an explicit string key;
  *  - every register / bucket update is an integer max / integer sum;
  *  - the HLL harmonic denominator `Σ 2^-M(r)` is computed as
  *    `1.0 / (1L << M)` — a power-of-two reciprocal, exact in IEEE
  *    doubles — and since every term is a multiple of 2^-33 and there
  *    are at most 256 of them, EVERY partial sum is exactly
  *    representable (≤ 41 mantissa bits), so the sum is
  *    order-independent: partition count and merge order cannot move
  *    a single bit. A DuckDB oracle rebuilding the same registers
  *    replays the estimate bit-for-bit; no property bound needed.
  *
  * Scale shape (the reason sketches exist at 100 TB): registers /
  * buckets aggregate with map-side combine, so each executor emits at
  * most `m` (HLL) or `d·w` (CMS) rows per partition regardless of
  * input size, and two corpora's sketches merge by `max` / `+` —
  * the streaming/cross-datacenter union never reshuffles raw data.
  */
object Sketches {

  /** HyperLogLog ρ (rank) of the 32-bit hash tail `w`: the number of
    * leading zeros in 32 bits, plus one. Exact integer arithmetic via
    * the minimal-binary-string length (`bin()` drops leading zeros in
    * both Spark and DuckDB): bitlen(w) = len(bin(w)) for w > 0, so
    * ρ = 33 − bitlen; the all-zero tail (probability 2^-32) takes the
    * ρ = 33 sentinel. */
  private def rho(w: Column): Column =
    when(w === 0L, lit(33L)).otherwise(lit(33L) - length(bin(w)).cast("long"))

  /** Per-group HLL registers over the md5 of `item`: register index =
    * first hash byte mod `m` (m a power of two ≤ 256 keeps the index
    * uniform and the mod exact), register value = max ρ of the 32-bit
    * hash tail (hex chars 3-10). One aggregation with map-side
    * combine; output is ≤ groups·m rows of (groups..., r, mreg).
    * Registers merge across sketches by `max(mreg)` — the HLL merge. */
  def hllRegisters(df: DataFrame, item: Column, groupCols: Seq[String],
      m: Int): DataFrame = {
    require(m >= 2 && m <= 256 && (m & (m - 1)) == 0,
      s"m must be a power of two in [2, 256], got $m")
    val h = md5(item.cast("string"))
    df.select(
        groupCols.map(col) :+
          (conv(substring(h, 1, 2), 16, 10).cast("long") % m).as("r") :+
          conv(substring(h, 3, 8), 16, 10).cast("long").as("w"): _*)
      .groupBy((groupCols.map(col) :+ col("r")): _*)
      .agg(max(rho(col("w"))).as("mreg"))
  }

  /** The raw HLL estimate per group from [[hllRegisters]] output:
    * `α·m² / (V + Σ_present 2^-M(r))` with V = m − registers present
    * (each absent register contributes 2^0 = 1 to the harmonic sum),
    * rounded half-up to `dp` decimals in the repo's floor form.
    * `alpha` is the standard bias constant for the caller's m (0.697
    * for m=32, 0.709 for m=64, 0.7213/(1+1.079/m) for m ≥ 128) —
    * passed as a literal so both engines parse the same decimal.
    * Emits (groups..., n_zero_registers, hll_est). The small-range
    * linear-counting correction (`m·ln(m/V)`) is deliberately NOT
    * applied: it needs libm `ln`, the one op in the formula whose
    * last bit is not pinned by IEEE across engines — callers in the
    * small-n regime should size m down instead (this module's whole
    * regime is "remove the seam, don't hope"). */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String], m: Int,
      alpha: Double, dp: Int): DataFrame = {
    val gs = groupCols.map(col)
    registers
      .groupBy(gs: _*)
      .agg(count(lit(1)).as("__present"),
        sum(expr("1.0 / cast(shiftleft(cast(1 as bigint), " +
          "cast(mreg as int)) as double)")).as("__hsum"))
      .select(gs :+
        (lit(m.toLong) - col("__present")).as("n_zero_registers") :+
        KnnSearch.roundHalfUpCol(
          lit(alpha) * lit((m.toLong * m.toLong).toDouble) /
            ((lit(m.toLong) - col("__present")).cast("double") +
              col("__hsum")), dp).as("hll_est"): _*)
  }

  /** KMV (bottom-k / theta) sketch: the `k` smallest DISTINCT 52-bit
    * md5 hashes of `item` per group — order-independent and tie-free
    * (distinct values of one total order), so any partitioning and any
    * merge order produce the identical sketch. 52 bits fit a positive
    * long with room for `(k−1)·2^52` estimator arithmetic. Emits
    * (groups..., h). Merge law (spec-pinned): the min-k of two groups'
    * sketch ROWS equals the sketch of the union set — the property
    * that lets source-pair overlap work collapse from |corpus|² to
    * groups²·k. The per-group min-k plans as a PARTIAL
    * WindowGroupLimit before the exchange (bounded map-side top-k —
    * no executor sorts one giant group's full set). */
  def kmvSketch(df: DataFrame, item: Column, groupCols: Seq[String],
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val gs = groupCols.map(col)
    val hh = df.select(gs :+
        conv(substring(md5(item.cast("string")), 1, 13), 16, 10)
          .cast("long").as("h"): _*)
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gs: _*).orderBy(col("h"))
    hh.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Mergeable equi-width histogram sketch over a LONG-valued column:
    * one row per (group, bucket) with bucket = floor(value / width)
    * computed in pure integer arithmetic (the `((v % w) + w) % w`
    * floor-mod form, exact for negatives too — no double cast, so a
    * value beyond 2^53 still buckets exactly). One aggregation with
    * map-side combine: each executor emits at most
    * `groups · (value range / width)` rows per partition regardless of
    * input size, and two corpora's histograms merge by summing bucket
    * counts — the same union-without-reshuffling-raw-data property as
    * the HLL/KMV/CMS sketches above. This is what a 100 TB profiling
    * pass runs instead of a global sort: quantiles come from the
    * sketch rows ([[histQuantiles]]), never from ordering the corpus. */
  def histSketch(df: DataFrame, value: Column, groupCols: Seq[String],
      width: Long): DataFrame = {
    require(width >= 1, s"width must be >= 1, got $width")
    val v = value.cast("long")
    val w = lit(width)
    // `div` (IntegralDivide) keeps the arithmetic in longs end-to-end;
    // the numerator is an exact multiple of width so the division is
    // exact for negatives too (a double-cast `/` would start lying
    // past 2^53)
    val b = call_function("div", v - (((v % w) + w) % w), w)
    df.select(groupCols.map(col) :+ b.cast("long").as("b"): _*)
      .groupBy((groupCols.map(col) :+ col("b")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantile estimates from a [[histSketch]]: for each requested rank
    * `q` (in ppm, so the rank arithmetic stays integer), the smallest
    * bucket whose cumulative count reaches `ceil(N·q / 1e6)`, reported
    * as that bucket's LOWER EDGE `b·width` — a deterministic
    * under-estimate with error < `width`, identical in any engine
    * (every op is a long add/mul/div). The window sort runs over
    * SKETCH rows (≤ range/width per group), not corpus rows. Emits
    * (groups..., q_ppm, est). */
  def histQuantiles(sketch: DataFrame, groupCols: Seq[String],
      width: Long, qsPpm: Seq[Long]): DataFrame = {
    require(qsPpm.nonEmpty && qsPpm.forall(q => q >= 1 && q <= 1000000),
      "quantile ranks must be ppm values in [1, 1000000]")
    val gs = groupCols.map(col)
    val wSpec = org.apache.spark.sql.expressions.Window
      .partitionBy(gs: _*).orderBy(col("b"))
    val withCum = sketch
      .withColumn("__cum", sum(col("cnt")).over(wSpec))
      .withColumn("__n", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(gs: _*)))
    val qf = explode(array(qsPpm.map(lit): _*)).as("q_ppm")
    withCum.select((gs :+ col("b") :+ col("__cum") :+ col("__n")) :+ qf: _*)
      // ceil(N·q/1e6) in integer form: (N·q + 999999) div 1e6 — long
      // IntegralDivide, so a trillion-row group's rank is still exact
      .filter(col("__cum") >= call_function("div",
        col("__n") * col("q_ppm") + lit(999999L), lit(1000000L)))
      .groupBy((gs :+ col("q_ppm")): _*)
      .agg((min(col("b")) * lit(width)).as("est"))
  }

  /** Count-min sketch rows from a term-frequency frame `(term, c)`:
    * d hash rows × w buckets (w a power of two ≤ 256; bucket = first
    * md5 byte of "row|term" mod w) of exact integer counts. The
    * d-way expansion happens AFTER the tf fold, so the only
    * corpus-scale shuffle carries one row per distinct term (q97's
    * r13 lesson, generalized). Merges across sketches by summing
    * bucket counts. */
  def cmsFromTf(tf: DataFrame, termCol: String, cCol: String, d: Int,
      w: Int): DataFrame = {
    require(d >= 1 && d <= 8, s"d must be in [1, 8], got $d")
    require(w >= 2 && w <= 256 && (w & (w - 1)) == 0,
      s"w must be a power of two in [2, 256], got $w")
    tf.select(col(cCol).as("__c"),
        explode(array((0 until d).map(r =>
          struct(lit(r).as("r"),
            (conv(substring(md5(concat_ws("|", lit(r.toString),
              col(termCol))), 1, 2), 16, 10).cast("long") % w)
              .as("b"))): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(sum(col("__c")).as("cnt"))
  }

  /** Point estimates for `terms` against a [[cmsFromTf]] sketch:
    * min over the d rows of the bucket count — an upper bound on the
    * true count by construction (collisions only inflate). */
  def cmsEstimate(sketch: DataFrame, terms: DataFrame, termCol: String,
      d: Int, w: Int): DataFrame = {
    val trb = terms
      .crossJoin(terms.sparkSession.range(0, d)
        .select(col("id").cast("int").as("r")))
      .withColumn("b",
        conv(substring(md5(concat_ws("|", col("r").cast("string"),
          col(termCol))), 1, 2), 16, 10).cast("long") % w)
    trb.join(sketch, Seq("r", "b"), "left")
      .groupBy(col(termCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cm_est"))
  }

  // ------------------------------------------------------------------
  // Bloom filter — the fifth mergeable sketch: set MEMBERSHIP with
  // no false negatives and a quantified false-positive rate. The
  // 100 TB use: a bounded reference set (benchmark grams, a blocklist,
  // yesterday's fingerprints) compresses to a fixed bit array that is
  // BROADCAST, so the corpus-side membership test is a narrow pass +
  // tiny-build hash joins — where the exact spelling (q51) must
  // shuffle the corpus gram stream against a corpus-scale build side.
  // Two bloom bucket tables over the same (mBits, k) merge by
  // per-bucket bit_or — the sketch-union law the other four share.
  //
  // Exactness: probe positions are disjoint 24-bit md5 substrings mod
  // mBits; mBits is a power of two ≤ 2^24, so the mod is an EXACT
  // uniform projection (2^24 is a multiple of mBits — no modulo
  // bias), and every bucket word is an integer bit_or of distinct
  // powers of two. 32-bit words (not 64) so a DuckDB oracle's
  // range-checked `<<` replays every bit.
  // ------------------------------------------------------------------

  /** bits per bloom bucket word — 32, so `1::BIGINT << bit` is
    * sign-safe on every engine */
  val BloomWordBits = 32

  private def bloomCheck(mBits: Int, k: Int): Unit = {
    require(mBits >= BloomWordBits && mBits <= (1 << 24)
        && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two in [32, 2^24], got $mBits")
    require(k >= 1 && k <= 5, s"k must be in [1, 5], got $k (5 disjoint " +
      "6-hex-char probes exhaust the 32-char md5)")
  }

  /** The k probe positions of `item` in a `mBits`-bit bloom filter:
    * position i = the i-th disjoint 6-hex-char (24-bit) md5 substring
    * mod `mBits`. Shared by build and test so the two cannot drift. */
  def bloomProbes(item: Column, mBits: Int, k: Int): Seq[Column] = {
    bloomCheck(mBits, k)
    (0 until k).map(i =>
      conv(substring(md5(item), 1 + 6 * i, 6), 16, 10).cast("long")
        % mBits)
  }

  /** Build the bloom filter over `df`'s `item` values as a bucket
    * table `(bucket, word)` — only non-zero buckets materialize, so
    * the frame is at most `min(n·k, mBits/32)` rows regardless of
    * corpus size. One explode + one bucket-keyed aggregation with
    * map-side combine (the only shuffle, bounded by the REFERENCE
    * set's size, not the corpus's). */
  def bloomBuild(df: DataFrame, item: Column, mBits: Int,
      k: Int): DataFrame = {
    bloomCheck(mBits, k)
    df.select(explode(array(bloomProbes(item, mBits, k): _*)).as("p"))
      .groupBy(expr(s"p DIV $BloomWordBits").as("bucket"))
      .agg(expr(s"bit_or(shiftleft(CAST(1 AS BIGINT), " +
        s"CAST(p % $BloomWordBits AS INT)))").as("word"))
  }

  /** Append a `out` boolean: might `item` be in the set `bloom` was
    * built from? k broadcast hash joins on the bucket key (the bloom
    * frame is broadcast — that is the point of the sketch), each
    * probing one word; a missing bucket is an unset bit. No false
    * negatives by construction; false positives at rate
    * ~(fill fraction)^k, which callers REPORT by comparing against an
    * exact join (q134) rather than assuming. */
  def withBloomHit(df: DataFrame, item: Column, bloom: DataFrame,
      mBits: Int, k: Int, out: String, pin: Boolean = true): DataFrame = {
    bloomCheck(mBits, k)
    // pin the filter frame before fanning it to the k probe joins:
    // the per-probe broadcasts canonicalize differently (distinct
    // probe-temp aliases), so the planner reuses NONE of them and the
    // filter's BUILD subtree — often a full corpus shingle pass — ran
    // k times per query (q134's before-plan: 10 BroadcastExchanges, 0
    // ReusedExchange, 3 independent corpus scans for one 3-probe
    // filter; r21, guide §2.4). The pinned frame is ≤ mBits/64 rows —
    // bounded by the filter's own construction, scale-free — and its
    // values are byte-identical, so every probe answer is unchanged.
    // NOTE the pin makes this combinator EAGER (the filter subtree
    // runs at DataFrame-construction time); callers that already hold
    // a pinned/materialized filter pass pin = false (r21 advice).
    val pinned = if (pin) bloom.localCheckpoint() else bloom
    val probes = bloomProbes(item, mBits, k)
    var cur = df
    val hits = probes.zipWithIndex.map { case (p, i) =>
      val b = broadcast(pinned.select(col("bucket").as(s"__bb$i"),
        col("word").as(s"__bw$i")))
      cur = cur.withColumn(s"__bp$i", p)
        .join(b, expr(s"__bp$i DIV $BloomWordBits") === col(s"__bb$i"),
          "left")
      col(s"__bw$i").isNotNull &&
        expr(s"shiftright(__bw$i, CAST(__bp$i % $BloomWordBits AS INT))" +
          " & 1") === 1L
    }
    cur.withColumn(out, hits.reduce(_ && _))
      .drop((0 until k).flatMap(i =>
        Seq(s"__bp$i", s"__bb$i", s"__bw$i")): _*)
  }

  /** COUNTING Bloom filter — the deletable decontam sketch (the bit
    * bloom's one lifecycle gap: bits cannot RETIRE a test set, counts
    * can): each bit position holds the number of insertions probing
    * it, so counter frames form a group under addition exactly like
    * the moment cells — merge by summed union, retire a batch by
    * [[countingBloomSubtract]]ing the batch's own build. Membership =
    * all k probed counters > 0; no false negatives for the remaining
    * multiset by construction. Cells: `(p, c)` bit-indexed counts
    * (counts don't pack into words), ≤ min(n·k, mBits) rows — still
    * reference-set-sized, never corpus-sized. */
  def countingBloomBuild(df: DataFrame, item: Column, mBits: Int,
      k: Int): DataFrame = {
    bloomCheck(mBits, k)
    df.select(explode(array(bloomProbes(item, mBits, k): _*)).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("c"))
  }

  /** Retire `retired`'s insertions from `filter`: cells subtract and
    * zeroed counters drop. A counter going NEGATIVE means the caller
    * subtracted a multiset that was never fully inserted — that is
    * corruption (membership would silently under-report), so it fails
    * loudly instead of clamping. The result is cell-identical to
    * rebuilding over the remaining multiset (spec + gate-pinned). */
  def countingBloomSubtract(filter: DataFrame,
      retired: DataFrame): DataFrame =
    filter.select(col("p"), col("c"))
      .unionByName(retired.select(col("p"), (-col("c")).as("c")))
      .groupBy(col("p")).agg(sum(col("c")).as("c"))
      .select(col("p"),
        when(col("c") < 0L, raise_error(lit(
          "countingBloomSubtract: counter went negative — the " +
            "retired batch was not a sub-multiset of what was " +
            "inserted")))
          .otherwise(col("c")).as("c"))
      .filter(col("c") > 0L)

  /** Append an `out` boolean: might `item` be in the counting
    * filter's remaining multiset? k broadcast joins on the bit index
    * (the counter frame is reference-set-sized — that is the point);
    * a present cell means count > 0 by [[countingBloomSubtract]]'s
    * contract. */
  def withCountingBloomHit(df: DataFrame, item: Column,
      cb: DataFrame, mBits: Int, k: Int, out: String,
      pin: Boolean = true): DataFrame = {
    bloomCheck(mBits, k)
    // collision guards (the repo's convention, r14 advice): a caller
    // column named like the output or a probe temp would be silently
    // joined-on or dropped
    require(!df.columns.contains(out),
      s"input already has a '$out' column")
    for (i <- 0 until k; c <- Seq(s"__cp$i", s"__cb$i"))
      require(!df.columns.contains(c),
        s"input already has a '$c' column — withCountingBloomHit " +
          "uses it as a probe temp")
    // pin the live cells once — the [[withBloomHit]] rationale: the k
    // per-probe broadcasts never reuse each other's exchange, so an
    // unpinned counting filter re-ran its whole build/subtract chain
    // (corpus shingle passes included) k times per query (r21, guide
    // §2.4). Cells are ≤ mBits rows — bounded by construction. Eager
    // when pin = true, like [[withBloomHit]] (r21 advice).
    val pinned =
      if (pin) cb.filter(col("c") > 0L).localCheckpoint()
      else cb.filter(col("c") > 0L)
    val probes = bloomProbes(item, mBits, k)
    var cur = df
    val hits = probes.zipWithIndex.map { case (p, i) =>
      val b = broadcast(pinned.select(col("p").as(s"__cb$i")))
      cur = cur.withColumn(s"__cp$i", p)
        .join(b, col(s"__cp$i") === col(s"__cb$i"), "left")
      col(s"__cb$i").isNotNull
    }
    cur.withColumn(out, hits.reduce(_ && _))
      .drop((0 until k).flatMap(i => Seq(s"__cp$i", s"__cb$i")): _*)
  }

  /** Densify a COUNTING filter into the bit bloom's word-array
    * serving form (bit set ⇔ count > 0): after a retire cycle the
    * maintained counters collapse to exactly the bits a fresh
    * [[bloomBuild]] over the remaining multiset would set
    * (spec-pinned), so the streaming probe path —
    * [[bloomMightContainAny]] over the dense words — serves the
    * DELETABLE filter with zero new probe code. */
  def countingBloomDense(cb: DataFrame, mBits: Int): Seq[Long] = {
    require(mBits >= BloomWordBits && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two >= 32, got $mBits")
    val words = new Array[Long](mBits / BloomWordBits)
    cb.filter(col("c") > 0L).select("p").collect().foreach { r =>
      val p = r.getLong(0)
      words((p / BloomWordBits).toInt) |= 1L << (p % BloomWordBits)
    }
    words.toSeq
  }

  /** Densify a [[bloomBuild]] bucket table into the full word array
    * (absent buckets = 0) — the executor-local serving form: `mBits/32`
    * longs, collected ONCE (the filter is fixed-size by construction;
    * this is the collect the sketch earns). */
  def bloomDense(bloom: DataFrame, mBits: Int): Seq[Long] = {
    require(mBits >= BloomWordBits && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two >= 32, got $mBits")
    val words = new Array[Long](mBits / BloomWordBits)
    bloom.select("bucket", "word").collect().foreach { r =>
      words(r.getLong(0).toInt) = r.getLong(1)
    }
    words.toSeq
  }

  /** Membership test of EVERY element of an array column against a
    * dense bloom (`exists` over the items, k literal-array lookups per
    * item) — a pure expression: no join, no shuffle, no state, so it
    * runs IDENTICALLY in batch and Structured Streaming (the
    * stream-side decontamination filter: grams of each arriving doc
    * probe the broadcast-as-literal filter; Spark's own
    * BloomFilterMightContain serves joins the same executor-local
    * way). */
  def bloomMightContainAny(items: Column, words: Seq[Long],
      mBits: Int, k: Int): Column = {
    bloomCheck(mBits, k)
    require(words.length == mBits / BloomWordBits,
      s"dense bloom must have ${mBits / BloomWordBits} words, " +
        s"got ${words.length}")
    exists(items, it => denseProbeHit(it, typedLit(words), mBits, k))
  }

  /** Scalar membership test of ONE item against a dense bloom word
    * array — the join-free serving form of [[withBloomHit]] (and, over
    * [[countingBloomDense]] words, of [[withCountingBloomHit]]): k
    * literal-array lookups per row, a pure codegen expression with no
    * broadcast, no join, no shuffle. Bit-identical to the probe joins
    * by construction: both read the same `bloomProbes` positions, and
    * a missing bucket is an all-zero word = unset bit (spec-pinned
    * equivalence in SketchesSpec). The corpus-side cost drops from k
    * BroadcastHashJoins per row to k array lookups — the right
    * 100 TB shape for a fixed-size filter (guide §3.2: the filter
    * ships once; §2.4: no per-probe exchanges). A NULL item is a miss
    * (false), exactly as the probe-join form's failed equi-join. */
  def bloomMightContain(item: Column, words: Seq[Long],
      mBits: Int, k: Int): Column = {
    bloomCheck(mBits, k)
    require(words.length == mBits / BloomWordBits,
      s"dense bloom must have ${mBits / BloomWordBits} words, " +
        s"got ${words.length}")
    denseProbeHit(item, typedLit(words), mBits, k)
  }

  /** all k probes of `it` hit in the dense word array `lut`; a NULL
    * item probes NULL positions and is coalesced to a miss */
  private def denseProbeHit(it: Column, lut: Column, mBits: Int,
      k: Int): Column =
    coalesce(bloomProbes(it, mBits, k).map { p =>
      call_function("shiftright",
        element_at(lut,
          floor(p / lit(BloomWordBits)).cast("int") + 1),
        (p % lit(BloomWordBits)).cast("int"))
        .bitwiseAND(lit(1L)) === 1L
    }.reduce(_ && _), lit(false))
}
