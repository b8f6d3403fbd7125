package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** The one IVF / quantized search pipeline, under float IVF
  * ([[IvfIndex.search]] / [[IvfIndex.searchBatch]] /
  * [[IvfIndex.probedScan]] — the no-codec case), IVF-SQ8
  * ([[IvfIndex.searchQuantized]] / [[IvfIndex.searchQuantizedBatch]])
  * and every PQ form ([[Pq.topK]] / [[Pq.topKBatch]] — flat, IVF,
  * OPQ, residual, L2 or cosine). Every search is the same pipeline:
  *
  *   1. the PROBE PLAN ([[probePlan]]) picks each query's clusters —
  *      ranked for the metric, widened by a known filter selectivity —
  *      and the scan keeps only their partition directories plus the
  *      caller's predicate (a flat corpus has no plan and no prune);
  *   2. the QUANTIZER CONTRACT ([[requireMetricMatches]]) admits only
  *      the metric the codes' geometry preserves;
  *   3. the CODEC ([[Codec]]) scores a row's `(code, cluster)` for a
  *      query: SQ8 decode, PQ ADC (OPQ permutation included), residual
  *      ADC keyed by the row's own cluster;
  *   4. a DRIVER keeps the best `k·refine` whole rows per query
  *      (unrounded distance, id ties) and re-ranks only their full
  *      vectors exactly with the cross-engine floor rounding —
  *      [[searchOne]] for one query, [[searchBatch]] for a query set.
  *      The single driver is ONE lazy plan and one Spark job: the
  *      codec's distance Column over the probed, filtered scan,
  *      `orderBy(d, id).limit(k·refine)` (a TakeOrderedAndProject cut),
  *      then the [[KnnSearch.topK]] exact cut. The batch driver is the
  *      gated heap pass ([[KnnSearch.topKBatchCollected]]) twice: over
  *      the scan's codes, then over the cut rows' vectors, each row
  *      scored only for the query that nominated it. Neither runs a
  *      driver action at call time beyond collecting the query set,
  *      and over a resident root neither runs a Spark job. With no
  *      codec, step 3 and the cut drop out: the exact pass runs over
  *      the probed scan in the caller's metric. Per query the batch
  *      rows are bit-equal to the single driver's (spec-asserted per
  *      codec).
  *
  * The codec variant is never a caller option: it is derived from what
  * the encoding itself recorded — [[IvfIndex]]'s `sq8Params` /
  * `sq8Normalized`, [[Pq.Codebooks]]' `normalized`, and
  * [[Pq.PqRoot]]'s `residual` / `perm` / `ivf`.
  */
private[graft] object QuantizedSearch {

  // ---- 1. the probe plan ---------------------------------------------

  /** cluster ids ranked best-first for `metric`: a cosine search ranks
    * by centroid ANGLE (the L2-nearest centroid can be an
    * angularly-wrong small-norm cluster), MIPS by query·centroid, and
    * everything else by L2 — the [[graft.plans.IvfAutoProbe]] rule
    * ranks through here too. */
  def rankProbes(centroids: Array[Array[Float]], clusterIds: Array[Int],
      metric: KnnSearch.Metric, query: Seq[Float]): Seq[Int] = metric match {
    case KnnSearch.Cosine | KnnSearch.NativeCosine =>
      IvfIndex.probeOrderCosine(centroids, clusterIds, query)
    case KnnSearch.InnerProduct | KnnSearch.NativeInnerProduct =>
      IvfIndex.probeOrderDot(centroids, clusterIds, query)
    case _ => IvfIndex.probeOrder(centroids, clusterIds, query)
  }

  /** The probe budget a FILTERED search should spend: a predicate
    * keeping a `selectivity` fraction of the corpus thins each probed
    * cluster to ~selectivity of its rows, so the filtered true top-k
    * spreads over ~1/selectivity as many clusters as the unfiltered
    * one — widening nprobe by that factor restores the candidate
    * budget the caller sized for the unfiltered case (q209's measured
    * curve: the ~33% predicate at nprobe=2 reads 30% recall; tripling
    * the budget recovers it). Capped at nlist — a very selective
    * predicate degrades to the exact filtered scan. */
  def widenedNprobe(nprobe: Int, selectivity: Double, nlist: Int): Int = {
    require(selectivity > 0.0 && selectivity <= 1.0,
      s"selectivity must be in (0, 1], got $selectivity")
    math.min(nlist, math.ceil(math.max(1, nprobe) / selectivity).toInt)
  }

  /** Each query's probe set over the IVF layout `ivf` (centroids,
    * cluster ids) — the `nprobe` best clusters for `metric`, widened by
    * `filterSelectivity` — or None for a flat corpus: the no-probe case
    * of the same search. A query whose length is not the centroids'
    * fails here, before any plan is built. */
  def probePlan(ivf: Option[(Array[Array[Float]], Array[Int])],
      metric: KnnSearch.Metric, nprobe: Int, filter: Option[Column],
      filterSelectivity: Option[Double],
      queries: Seq[Seq[Float]]): Option[Array[Array[Int]]] = {
    require(filterSelectivity.isEmpty || filter.isDefined,
      "filterSelectivity without a filter has nothing to compensate")
    ivf.map { case (centroids, clusterIds) =>
      for (q <- queries; d <- centroids.headOption)
        require(q.length == d.length, s"dimension mismatch: query has " +
          s"${q.length} dims, the index's centroids ${d.length}")
      val np = filterSelectivity.fold(math.max(1, nprobe))(
        widenedNprobe(nprobe, _, centroids.length))
      queries.map(q =>
        rankProbes(centroids, clusterIds, metric, q).take(np).toArray).toArray
    }
  }

  // ---- 2. the quantizer contract -------------------------------------

  /** Codes over RAW vectors preserve L2 geometry, not angles, so they
    * serve only L2; codes over UNIT-NORMALIZED vectors serve only
    * cosine (on the unit sphere L2² = 2 − 2·cos, so the code ranking
    * against the normalized query is a cosine candidate ranking).
    * Anything else silently ranks candidates in the wrong geometry.
    * Returns the exact re-rank's metric. */
  def requireMetricMatches(metric: KnnSearch.Metric,
      codec: Codec): KnnSearch.Metric =
    metric match {
      case KnnSearch.L2 | KnnSearch.NativeL2 =>
        require(!codec.normalized,
          s"the quantizer (${codec.quantizer}) was built over " +
            "UNIT-NORMALIZED vectors — it serves cosine searches; L2 " +
            "needs a raw one")
        KnnSearch.NativeL2
      case KnnSearch.Cosine | KnnSearch.NativeCosine =>
        require(codec.normalized,
          "cosine needs a quantizer built over UNIT-NORMALIZED vectors; " +
            s"this one (${codec.quantizer}) is raw (L2) — raw codes " +
            "preserve L2 geometry, not angles")
        KnnSearch.NativeCosine
      case other => throw new IllegalArgumentException(
        s"quantized search supports L2 and Cosine, got $other")
    }

  // ---- 3. the codec --------------------------------------------------

  /** column holding each row's candidate distance */
  private val DistCol = "__code_d"

  /** How one query scores one coded row. [[prepare]] runs driver-side
    * once per query and returns the per-row scorer shipped to the scan,
    * over the row's `(code, cluster)` — the cluster is read only by the
    * residual codec, and is `-1` on a flat corpus. `probes` is the
    * query's probe set (null for a flat corpus). */
  sealed trait Codec {
    def codeCol: String
    def normalized: Boolean
    /** what the codes were built with, for contract errors */
    def quantizer: String
    def prepare(query: Array[Float], probes: Array[Int])
        : (Array[Byte], Int) => Double

    /** one query's candidate distance as a Column over the scan's
      * `(code[, cluster])` — the prepared scorer wrapped once per query;
      * the scorer is held by reference, so the generated code is the
      * same for every query */
    def distance(query: Array[Float], probes: Array[Int]): Column = {
      val f = prepare(query, probes)
      val scored = udf((code: Array[Byte], cluster: Int) => f(code, cluster))
      scored(col(codeCol),
        if (probes == null) lit(-1) else col(IvfIndex.ClusterCol))
    }
  }

  /** SQ8: one byte per dimension on a per-dimension affine grid,
    * decoded `min + code·scale` and scored by L2² against the query
    * (normalized first on a normalized grid). */
  final case class Sq8(mins: Seq[Double], scales: Seq[Double],
      normalized: Boolean) extends Codec {
    def codeCol: String = IvfIndex.Sq8CodeCol
    def quantizer: String = "SQ8 grid"
    private def codeQuery(q: Array[Float]): Seq[Float] =
      if (normalized) IvfIndex.unitNormalize(q.toSeq) else q.toSeq

    def prepare(query: Array[Float], probes: Array[Int])
        : (Array[Byte], Int) => Double = {
      val q = codeQuery(query).toArray
      val minsArr = mins.toArray
      val scalesArr = scales.toArray
      (codes, _) => {
        if (codes.length != q.length)
          throw new IllegalArgumentException(
            s"dimension mismatch in quantized search: code has " +
              s"${codes.length} dims, query has ${q.length}")
        // mirrors Sq8L2SquaredExpr.nullSafeEval term for term
        var s = 0.0
        var i = 0
        while (i < codes.length) {
          val xhat = minsArr(i) + (codes(i) & 0xFF).toDouble * scalesArr(i)
          val d = xhat - q(i).toDouble
          s += d * d
          i += 1
        }
        s
      }
    }

    /** the single query keeps the codegen'd decode-and-distance
      * expression ([[graft.plans.Sq8L2SquaredExpr]]) */
    override def distance(query: Array[Float], probes: Array[Int]): Column =
      call_function("graft_sq8_l2sq", col(codeCol),
        KnnSearch.litVec(codeQuery(query)), typedLit(mins ++ scales))
  }

  /** PQ ADC: the query (permuted first on an OPQ root, then normalized
    * on normalized books — encode's order) becomes one [[adcTable]];
    * a row scores `m` lookups + adds. */
  final case class Adc(books: Pq.Codebooks, perm: Option[Array[Int]])
      extends Codec {
    perm.foreach(p => require(p.sorted.sameElements(0 until books.dim),
      s"perm must be a permutation of 0 until ${books.dim}"))
    def codeCol: String = Pq.CodeCol
    def normalized: Boolean = books.normalized
    def quantizer: String = "PQ codebooks"

    def prepare(query: Array[Float], probes: Array[Int])
        : (Array[Byte], Int) => Double = {
      require(query.length == books.dim,
        s"query has dim ${query.length}, codebooks ${books.dim}")
      val rot = perm.fold(query)(_.map(query(_)))
      val tab = adcTable(books,
        if (normalized) IvfIndex.unitNormalize(rot.toSeq).toArray else rot)
      val (m, ksub) = (books.m, books.ksub)
      (code, _) => adcScore(tab, code, m, ksub)
    }
  }

  /** Residual PQ (FAISS IVFPQ's default): codes represent
    * `v − centroid(cluster(v))`, and `v − q = (v − cent) − (q − cent)`,
    * so a row scores against the ADC table of the query's residual for
    * the row's OWN cluster — one table per probed cluster, distances
    * comparable across clusters. Raw (L2) books only: residuals of
    * unit-normalized vectors are not what [[Pq.fitResidual]] trains on. */
  final case class ResidualAdc(books: Pq.Codebooks,
      ivf: (Array[Array[Float]], Array[Int])) extends Codec {
    require(!books.normalized,
      "residual coding composes with L2 books only")
    def codeCol: String = Pq.CodeCol
    def normalized: Boolean = false
    def quantizer: String = "residual PQ codebooks"

    def prepare(query: Array[Float], probes: Array[Int])
        : (Array[Byte], Int) => Double = {
      require(query.length == books.dim,
        s"query has dim ${query.length}, codebooks ${books.dim}")
      val cents = ivf._2.zip(ivf._1).toMap
      // the query's residual against each probed cluster — the same
      // double-subtract/float-cast arithmetic the encoder used
      val tabs = probes.map { c =>
        val cent = cents(c)
        c -> adcTable(books, Array.tabulate(query.length)(j =>
          (query(j).toDouble - cent(j).toDouble).toFloat))
      }.toMap
      val (m, ksub) = (books.m, books.ksub)
      (code, cluster) => adcScore(tabs(cluster), code, m, ksub)
    }
  }

  /** The per-query ADC lookup table (canonical FAISS ADC): `tab(sub)
    * (code)` is the partial L2² between the query's `sub`-th slice and
    * that code's centroid — each partial the same fixed-order double
    * fold an oracle replays from the exported books. Scoring a row is
    * then `m` table lookups + adds instead of `dim` multiply-adds
    * (~dim/m× less row arithmetic); the row total is the left-assoc
    * sum of partials in subspace order, which an oracle replays as a
    * literal `p0 + p1 + … + p_{m-1}` chain. O(m·ksub·dsub) = one
    * decoded-corpus-row's work to build, KBs to hold. `q` has the
    * books' dimension (each codec's `prepare` checks it). */
  private def adcTable(b: Pq.Codebooks,
      q: Array[Float]): Array[Array[Double]] =
    Array.tabulate(b.m) { sub =>
      Array.tabulate(b.ksub) { c =>
        val cent = b.cb(sub)(c)
        var acc = 0.0
        var j = 0
        while (j < b.dsub) {
          val diff = cent(j).toDouble - q(sub * b.dsub + j).toDouble
          acc += diff * diff
          j += 1
        }
        acc
      }
    }

  /** ADC row score against a prebuilt table, with loud per-row code
    * validation: a null, mis-sized or out-of-range code means the
    * corpus and the passed codebooks don't match — silently scoring
    * the first bytes against the wrong books would return wrong
    * neighbors with no error. */
  private def adcScore(tab: Array[Array[Double]], code: Array[Byte],
      m: Int, ksub: Int): Double = {
    if (code == null)
      throw new IllegalArgumentException(
        "Pq: null __pq_code — row not encoded with Pq.encode, or the " +
          "code column was overwritten")
    if (code.length != m)
      throw new IllegalArgumentException(
        s"Pq: code has ${code.length} bytes, codebooks have m=$m " +
          "subspaces — corpus encoded with different codebooks?")
    var s = 0.0
    var sub = 0
    while (sub < m) {
      val ci = code(sub) & 0xFF
      if (ci >= ksub)
        throw new IllegalArgumentException(
          s"Pq: code byte $ci >= ksub=$ksub — corpus encoded with " +
            "different codebooks?")
      s += tab(sub)(ci)
      sub += 1
    }
    s
  }

  // ---- 4. the drivers ------------------------------------------------

  /** what both drivers share: the probe-pruned, filtered scan, the
    * probe plan, and the exact re-rank metric — the caller's with no
    * codec, else the one the quantizer contract admits */
  private[operators] final case class Setup(scan: DataFrame,
      probes: Option[Array[Array[Int]]], exact: KnnSearch.Metric)

  private[operators] def setup(corpus: DataFrame, codec: Option[Codec],
      ivf: Option[(Array[Array[Float]], Array[Int])], nprobe: Int,
      metric: KnnSearch.Metric, filter: Option[Column],
      filterSelectivity: Option[Double],
      queries: Seq[Seq[Float]]): Setup = {
    val exact = codec.fold(metric) { c =>
      require(corpus.columns.contains(c.codeCol),
        s"corpus has no '${c.codeCol}' column — encode it with " +
          "this quantizer first")
      require(ivf.isEmpty || corpus.columns.contains(IvfIndex.ClusterCol),
        s"corpus has no '${IvfIndex.ClusterCol}' column — a probed " +
          "search needs the IVF cluster layout (assign + partition " +
          "first, then encode)")
      graft.plans.VectorExpressions.ensureRegistered(corpus.sparkSession)
      requireMetricMatches(metric, c)
    }
    val probes =
      probePlan(ivf, metric, nprobe, filter, filterSelectivity, queries)
    // the probe union prunes partition DIRECTORIES; the FILTER sits on
    // the same scan, so the candidate budget is spent only on eligible
    // rows (prefilter semantics — the q209/q220 argument) and the exact
    // pass inherits it
    val probed = probes.fold(corpus)(ps =>
      corpus.filter(col(IvfIndex.ClusterCol).isin(ps.flatten.distinct: _*)))
    Setup(filter.foldLeft(probed)(_.filter(_)), probes, exact)
  }

  /** the codec cut's size, `k·refine` */
  private def cutSize(k: Int, refine: Int): Int = {
    require(k > 0, s"k must be > 0, got $k")
    require(refine >= 1, s"refine must be >= 1, got $refine")
    k * refine
  }

  /** One query as ONE lazy plan: with a codec, its distance over the
    * probed, filtered scan, cut to the best `k·refine` rows
    * (`orderBy(d, id).limit` — TakeOrderedAndProject, k·refine whole
    * rows per task reach the final merge); then the exact top-k over
    * the cut rows' raw vectors — or, with no codec, over the scan
    * itself in the caller's metric. Parquet has no index on id, so
    * re-reading the candidates by id would scan the same probed row
    * groups again: one scan reading (id, code, vector) reads exactly
    * what the two passes read together. Output: corpus columns (minus
    * the code) + rounded-rank `dist`, the [[KnnSearch.topK]] contract. */
  def searchOne(corpus: DataFrame, idCol: String, vecCol: String,
      codec: Option[Codec], ivf: Option[(Array[Array[Float]], Array[Int])],
      query: Seq[Float], k: Int, nprobe: Int, refine: Int,
      metric: KnnSearch.Metric, filter: Option[Column],
      filterSelectivity: Option[Double], tieBreak: Option[String],
      rankRoundDp: Option[Int]): DataFrame = {
    val s = setup(corpus, codec, ivf, nprobe, metric, filter,
      filterSelectivity, Seq(query))
    val cand = codec.fold(s.scan)(c => s.scan
      .withColumn(DistCol,
        c.distance(query.toArray, s.probes.map(_.head).orNull))
      .orderBy(col(DistCol), col(idCol))
      .limit(cutSize(k, refine))
      .drop(DistCol, c.codeCol))
    KnnSearch.topK(cand, vecCol, query, k, s.exact, tieBreak,
      rankRoundDp = rankRoundDp)
  }

  /** column carrying a cut row's query INDEX into the exact pass */
  private val QiCol = "__qi"

  /** A query set over ONE scan of the probe union, as per-task bounded
    * heaps per query ([[KnnSearch.topKBatchCollected]]), a row scored
    * for query `i` only when its cluster is in query i's own probe set
    * (the bit-packed gate — Σ_q nprobe/nlist row-scores, not
    * |union|·|q|). With no codec that one pass is the search, in the
    * caller's metric. With a codec it scores codes and keeps each
    * query's best `k·refine` WHOLE rows (unrounded distance, id ties —
    * [[searchOne]]'s cut); the exact re-rank is then the same heap pass
    * over only those ≤ k·refine·|q| rows, each scored only for the
    * query that nominated it (the gate keyed by query index). Both
    * passes run on the driver over a local input (a resident root), so
    * the whole batch runs no Spark job there; over parquet it is one
    * lazy plan. Output: corpus columns (minus the code) + `dist` +
    * `query_id`, k rows per query, each query's rows bit-equal to
    * [[searchOne]]'s. */
  def searchBatch(corpus: DataFrame, idCol: String, vecCol: String,
      codec: Option[Codec], ivf: Option[(Array[Array[Float]], Array[Int])],
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, nprobe: Int, refine: Int, metric: KnnSearch.Metric,
      filter: Option[Column], filterSelectivity: Option[Double],
      tieBreak: String, rankRoundDp: Option[Int]): DataFrame = {
    // ONE driver-side collect serves probe planning, the per-query
    // codec state and the heap passes (re-collecting would re-run the
    // query table's plan — e.g. a model embedder seam)
    val qSet = KnnSearch.collectQueries(queries, queryIdCol, queryVecCol)
    val s = setup(corpus, codec, ivf, nprobe, metric, filter,
      filterSelectivity, qSet.map(_._2.toSeq).toSeq)
    val qidType = queries.schema(queryIdCol).dataType
    val gate = s.probes.map(KnnSearch.BatchGate(IvfIndex.ClusterCol, _))
    codec match {
      case None =>
        KnnSearch.topKBatchCollected(s.scan, vecCol, qSet, qidType, k,
          tieBreak, rankRoundDp = rankRoundDp, metric = metric, gate = gate)
      case Some(c) =>
        // the passes add these columns to the corpus rows; a silent
        // overwrite would corrupt downstream plans
        for (n <- Seq("dist", "query_id", QiCol))
          require(!corpus.columns.contains(n),
            s"corpus already has a '$n' column — the batch search adds it")
        // per-query scorers built once driver-side (KBs each) and
        // shipped in the closure; the heap pass's query INDEX selects one
        val scorers = qSet.indices.map(i =>
          c.prepare(qSet(i)._2, s.probes.map(_(i)).orNull)).toArray
        val clusterIdx =
          s.probes.fold(-1)(_ => s.scan.schema.fieldIndex(IvfIndex.ClusterCol))
        val cut = KnnSearch.topKBatchCollected(s.scan, c.codeCol,
            qSet.indices.map(i => (i: Any, qSet(i)._2)).toArray, IntegerType,
            cutSize(k, refine), tieBreak = idCol, distCol = DistCol,
            gate = gate,
            rawScorer = Some(KnnSearch.RawScorer((row, codeIdx, qi, _) =>
              scorers(qi)(row.getAs[Array[Byte]](codeIdx),
                if (clusterIdx < 0) -1
                else row.getAs[Number](clusterIdx).intValue()))))
          .withColumnRenamed("query_id", QiCol)
          .drop(DistCol, c.codeCol)
        KnnSearch.topKBatchCollected(cut, vecCol, qSet, qidType, k,
            if (tieBreak.nonEmpty) tieBreak else idCol,
            rankRoundDp = rankRoundDp, metric = s.exact,
            gate = Some(KnnSearch.BatchGate(QiCol,
              Array.tabulate(qSet.length)(Array(_)))))
          .drop(QiCol)
    }
  }
}
