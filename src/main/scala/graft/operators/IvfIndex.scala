package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.PersistedRoot

/** IVF (inverted-file) approximate nearest-neighbor index — the scale
  * path for the reference's HNSW index (`VECTOR KEY ... TYPE=HNSW`,
  * /root/reference/src/tools/load.py:26). SURVEY.md §2.8 V4/V5.
  *
  * HNSW is a pointer-chasing in-memory graph — the wrong shape for a
  * distributed scan engine. The Spark-native equivalent is IVF:
  *
  *   1. build: k-means over the corpus vectors → `nlist` centroids
  *      (a few KB — driver-held, broadcast implicitly as literals);
  *      each vector is assigned to its nearest centroid and the corpus
  *      is written `partitionBy(cluster)`;
  *   2. search: score the query against the centroids on the driver
  *      (nlist ≪ corpus, microseconds), pick the `nprobe` nearest
  *      clusters, and run the exact [[KnnSearch.topK]] over only those
  *      partitions — directory-level pruning cuts the scan to
  *      ~nprobe/nlist of the data, and within it the plan is the same
  *      scan-bound TakeOrderedAndProject as the exact path.
  *
  * Recall is tunable via nprobe (measured on the synthetic test corpus:
  * ≈0.86 at nprobe/nlist = 4/8, ≥0.95 at 6/8, 1.0 at 8/8 — see
  * IvfIndexSpec; recall, not hashes, is the correctness criterion for
  * approximate search, SURVEY §7.5. Real embedding corpora cluster far
  * more strongly than this uniform synthetic data, so production
  * nprobe/nlist ratios run much lower).
  *
  * COMPONENT-SCOPED form: the reference's flagship query is ANN *inside*
  * pruned LIST partitions (`similarity_search_by_vector(...,
  * partition_names=[...])`, doc_embedder.py:196-220; DDL load.py:26-36) —
  * partition pruning and ANN pruning compose in ONE scan. Build with
  * `componentCol = Some(...)` and [[write]] lays the corpus out
  * `partitionBy(component, __ivf_cluster)`; [[search]] with a non-empty
  * `components` then prunes BOTH directory levels — the scan touches only
  * `|components|/ncomponents × ~nprobe/nlist` of the data, and neither
  * prune costs a shuffle. Centroids stay GLOBAL (one k-means, like the
  * reference's one HNSW index serving every partition subset): a
  * per-component refit would fragment the index lifecycle and force a
  * rebuild whenever a component is added, while global centroids make
  * `components` a pure filter over the same layout.
  */
final case class IvfIndex(
    centroids: Array[Array[Float]],
    assigned: DataFrame,
    idCol: String,
    vecCol: String,
    clusterIds: Array[Int],
    componentCol: Option[String] = None,
    sq8Params: Option[(Seq[Double], Seq[Double])] = None,
    sq8Normalized: Boolean = false) {

  require(clusterIds.length == centroids.length,
    "clusterIds must align with centroids")

  val nlist: Int = centroids.length

  /** the IVF layout the search drivers probe */
  private def layout = Some((centroids, clusterIds))

  /** nearest-centroid CLUSTER ids for a query, driver-side (nlist is
    * tiny). Cluster ids need not be contiguous — k-means can leave a
    * cluster empty, so a persisted index may hold a sparse id set. */
  def probeOrder(query: Seq[Float]): Seq[Int] =
    IvfIndex.probeOrder(centroids, clusterIds, query)

  /** [[QuantizedSearch.widenedNprobe]] over this index's `nlist`: the
    * probe budget a filter keeping a `selectivity` fraction of the
    * corpus should spend. */
  def widenedNprobe(nprobe: Int, selectivity: Double): Int =
    QuantizedSearch.widenedNprobe(nprobe, selectivity, nlist)

  /** The probe-pruned (optionally component- and predicate-scoped)
    * scan under [[search]] ([[QuantizedSearch.setup]]'s, with no
    * codec) — exposed so diagnostics (candidate
    * counts, operating-curve queries like q209) read the same frame
    * the operator ranks, instead of hand-rolling the root read. The
    * predicate sits directly on the scan: a partition-valued or
    * data-column predicate reaches the parquet source as
    * PartitionFilters / PushedFilters alongside the cluster prune
    * (spec-pinned). */
  def probedScan(
      query: Seq[Float],
      nprobe: Int,
      metric: KnnSearch.Metric = KnnSearch.L2,
      components: Seq[Int] = Nil,
      filter: Option[Column] = None,
      filterSelectivity: Option[Double] = None): DataFrame =
    QuantizedSearch.setup(componentScope(components), None, layout, nprobe,
      metric, filter, filterSelectivity, Seq(query)).scan

  /** V5 approximate search: probe the `nprobe` nearest clusters, exact
    * top-k inside them — [[QuantizedSearch.searchOne]] with no codec.
    * A non-empty `components` additionally restricts
    * the scan to those component partitions — on a two-level
    * [[write]] layout both filters become parquet PartitionFilters, so
    * the reference's `partition_names` + ANN flagship query is ONE
    * doubly-pruned directory scan (asserted in IvfIndexSpec). Requires a
    * component-scoped index; silently ignoring `components` on an
    * unscoped index would return out-of-scope rows.
    *
    * FILTERED search — the general-predicate form of the reference's
    * scoped retrieval: the reference's flagship query constrains ANN
    * by `partition_names` only (doc_embedder.py:173-220, mapped to
    * `components` here); `filter` GENERALIZES that scoping to any
    * metadata predicate rather than replaying it. Pass `filter` and
    * the predicate is pushed INTO the pruned scan — every in-probe
    * row matching it competes, so recall against the filtered truth
    * is bounded only by probe coverage, never by an overfetch factor
    * (q209 prices this leg against the post-filter alternatives).
    * A selective predicate thins the candidate pool, so recall at a
    * fixed nprobe DROPS with selectivity; pass `filterSelectivity`
    * (the kept fraction, when known — from stats or a prior count)
    * and the probe budget widens by 1/selectivity ([[widenedNprobe]])
    * to compensate, degrading gracefully to the exact filtered scan
    * at nlist. */
  def search(
      query: Seq[Float],
      k: Int,
      nprobe: Int,
      metric: KnnSearch.Metric = KnnSearch.L2,
      tieBreak: Option[String] = None,
      components: Seq[Int] = Nil,
      rankRoundDp: Option[Int] = None,
      filter: Option[Column] = None,
      filterSelectivity: Option[Double] = None): DataFrame =
    QuantizedSearch.searchOne(componentScope(components), idCol, vecCol,
      None, layout, query, k, nprobe, 1, metric, filter, filterSelectivity,
      tieBreak, rankRoundDp)

  /** Batch V5: ONE pruned scan serves a whole query set, and every
    * query gets EXACTLY its single-query [[search]] result. The scan
    * covers the UNION of every query's `nprobe` nearest clusters
    * (partition-pruned directories; probes ranked per the search
    * `metric`, like [[search]]); inside it, per-query bounded k-heaps
    * ([[KnnSearch.topKBatchCollected]], same metric arithmetic) are
    * GATED on the row's cluster: a row is scored against query `i` only
    * when its `__ivf_cluster` is in query i's own probe set. This is
    * [[QuantizedSearch.searchBatch]] with no codec: one heap pass, no
    * cut.
    *
    * The gate is what makes this shape hold at scale. Ungated, a
    * diverse batch is quadratic-ish: the union approaches nlist (the
    * prune evaporates) AND every scanned row pays every query's
    * distance loop — |union|/nlist × |queries| row-scores. Gated, the
    * work is Σ_q nprobe/nlist — the same minimum as |queries| separate
    * single searches — while the bytes stay ONE union scan instead of
    * |queries| scans (measured 100-query diverse batch at nlist=64:
    * 87.5 → 12.5 ×corpus row-scores, one 0.88×corpus scan vs 12.5
    * ×corpus for per-group scans — PLANS.md round 11, the diverse-
    * batch probe-gate note; an earlier cap-the-union grouping design hit
    * the same row-score floor but paid those re-reads, so gating
    * replaced it). Per-query results are bit-equal to [[search]] at the
    * same (metric, nprobe, rankRoundDp) — spec-asserted per metric —
    * so batch recall IS single-query recall, not a scan-shape-dependent
    * superset. */
  def searchBatch(
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nprobe: Int,
      tieBreak: String,
      rankRoundDp: Option[Int] = None,
      components: Seq[Int] = Nil,
      metric: KnnSearch.Metric = KnnSearch.L2,
      filter: Option[Column] = None,
      filterSelectivity: Option[Double] = None): DataFrame =
    QuantizedSearch.searchBatch(componentScope(components), idCol, vecCol,
      None, layout, queries, queryIdCol, queryVecCol, k, nprobe, 1, metric,
      filter, filterSelectivity, tieBreak, rankRoundDp)

  /** kNN-GRAPH construction over the whole index: every corpus row is
    * a query, probing its own `nprobe` nearest clusters (L2) and
    * keeping its `k` nearest OTHER rows — the bounded-candidate
    * neighbor-graph build that feeds SemDeDup-style semantic curation,
    * graph clustering, and kNN classification.
    *
    * When every row is a query, driver-side probe planning
    * ([[search]]/[[searchBatch]]'s shape) is impossible by
    * construction — so probe selection moves INTO the plan: centroids
    * are literals (nlist ≪ corpus, the same broadcast-as-literal
    * argument as the single-query path), each row ranks them with a
    * NARROW `array_sort` over (exact-double L2², cluster-id) structs —
    * the identical fold and tie rule as [[probeOrder]], so a SQL
    * replay ranks identically — and explodes its own top-`nprobe`.
    * The ONE corpus-scale shuffle is the equi-join of probe pairs
    * against the cluster-keyed index: each row meets only its probed
    * clusters' rows, so pair work is bounded by `nprobe/nlist` of the
    * all-pairs square (with FAISS-style nlist ∝ √n the build is
    * ~n^1.5, not n²). Per-source top-k is a rank-limit window that
    * Spark rewrites to WindowGroupLimit — bounded per-partition heaps
    * BEFORE the final shuffle, never a full per-group sort.
    *
    * Ranking rounds at `rankRoundDp` with neighbor-id ties (the
    * engine-stable contract every ranked surface uses). Self-pairs are
    * excluded; `k·n` rows come out.
    *
    * `srcScope` restricts the SOURCE side to those ids (the
    * destination side stays the whole index) — the incremental-repair
    * path [[knnGraphMaintained]] rides: rebuilding `|scope|` rows'
    * neighborhoods costs `|scope|·nprobe` cluster scans, never the
    * full pair join.
    *
    * `members` restricts BOTH sides to rows matching the predicate —
    * the per-layer neighbor lists of the HNSW hierarchy
    * ([[layerGraph]]): a layer's edges must not leave the layer, or
    * the greedy layer walk would descend early and the per-layer
    * oracle replay would diverge. */
  def knnGraph(k: Int, nprobe: Int,
      rankRoundDp: Int = 4, srcScope: Option[Seq[Long]] = None,
      members: Option[Column] = None)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val np = math.max(1, math.min(nprobe, nlist))
    graft.plans.VectorExpressions.ensureRegistered(assigned.sparkSession)
    import graft.functions.VectorFunctions.l2DistanceNative
    // null vectors produce null probe/edge distances, which sort
    // NULLS FIRST into every ranking — exclude them on both sides
    // (r13 advice, the BinaryHash.topK consideration)
    val nonNullAll = assigned.filter(col(vecCol).isNotNull)
    val nonNull = members.map(nonNullAll.filter).getOrElse(nonNullAll)
    val srcSide = srcScope match {
      case Some(ids) => nonNull.filter(col(idCol).isin(ids: _*))
      case None => nonNull
    }
    val pairsLeft = srcSide
      .select(col(idCol).as("__src"), col(vecCol).as("__sv"),
        explode(probedClusters(np)).as("__pc"))
    val right = nonNull.select(
      col(IvfIndex.ClusterCol).cast("long").as("__nc"),
      col(idCol).as("__nbr"), col(vecCol).as("__nv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__src"))
      .orderBy(col("dist"), col("__nbr"))
    pairsLeft.join(right, col("__pc") === col("__nc"))
      .filter(col("__nbr") =!= col("__src"))
      .select(col("__src"), col("__nbr"),
        KnnSearch.roundHalfUpCol(
          l2DistanceNative(col("__sv"), col("__nv")), rankRoundDp)
          .as("dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("__src").as("src"), col("rank"), col("__nbr").as("nbr"),
        col("dist"))
  }

  /** each row's `np` nearest cluster ids (long), ranked in the plan by
    * sorting (exact-double L2², cluster id) structs — [[probeOrder]]'s
    * fold and tie rule, so a SQL replay ranks identically */
  private def probedClusters(np: Int): Column = {
    import graft.functions.VectorFunctions.l2SquaredNative
    slice(array_sort(array(centroids.zip(clusterIds).map { case (c, cid) =>
      struct(l2SquaredNative(col(vecCol), KnnSearch.litVec(c.toSeq)).as("d"),
        lit(cid.toLong).as("cid"))
    }: _*)), 1, np)("cid")
  }

  /** Incremental kNN-graph repair after CDC ([[IvfIndex.deleteByIds]]/
    * [[IvfIndex.appendTo]]) — the graph analogue of the maintained-
    * index lifecycle: instead of rebuilding the full pair join, re-kNN
    * ONLY the affected neighborhoods of `oldGraph` (built on the
    * pre-CDC index) against `this` (the POST-CDC index).
    *
    * Affected srcs, derived exactly from the build semantics (a row's
    * candidate set is its probed clusters' rows, and its probe order
    * depends only on its own vector and the fixed centroids):
    *   - rows whose old top-k referenced a DELETED id (removal can
    *     only change a row's top-k if the removed row was in it);
    *   - rows with an APPENDED row in one of their probed clusters
    *     beating their current k-th edge on the rounded (dist, id)
    *     rank order (or holding fewer than k edges) — found with one
    *     scan against the broadcast appended batch;
    *   - the appended rows themselves (they need fresh neighborhoods);
    * deleted srcs' edges drop. Everything else carries over verbatim,
    * so the result is row-identical to a fresh [[knnGraph]] at the
    * same (k, nprobe, rankRoundDp) (spec: maintained == fresh), at
    * ~|affected|·nprobe cluster scans + one corpus pass instead of the
    * full n·nprobe pair join. */
  def knnGraphMaintained(oldGraph: DataFrame, k: Int, nprobe: Int,
      deletedIds: Seq[Long], appendedIds: Seq[Long],
      rankRoundDp: Int = 4): DataFrame = {
    require(deletedIds.intersect(appendedIds).isEmpty,
      "an id cannot be both deleted and appended in one maintenance " +
        "step — apply the CDC batches in order")
    graft.plans.VectorExpressions.ensureRegistered(assigned.sparkSession)
    import graft.functions.VectorFunctions.l2DistanceNative
    val np = math.max(1, math.min(nprobe, nlist))
    val affectedByDelete: Array[Long] =
      if (deletedIds.isEmpty) Array.empty
      else oldGraph.filter(col("nbr").isin(deletedIds: _*))
        .select("src").distinct().collect().map(_.getLong(0))
        .filterNot(deletedIds.toSet)
    val affectedByAppend: Array[Long] =
      if (appendedIds.isEmpty) Array.empty
      else {
        val app = assigned.filter(col(idCol).isin(appendedIds: _*))
          .select(col(idCol).as("__aid"), col(vecCol).as("__av"),
            col(IvfIndex.ClusterCol).cast("long").as("__ac"))
        val kth = oldGraph.filter(col("rank") === lit(k.toLong))
          .select(col("src").as("__s"), col("dist").as("__kd"),
            col("nbr").as("__kn"))
        val existing = assigned
          .filter(!col(idCol).isin(appendedIds: _*))
          .select(col(idCol).as("__src"), col(vecCol).as("__sv"),
            probedClusters(np).as("__pc"))
        existing
          .join(broadcast(app),
            array_contains(col("__pc"), col("__ac")) &&
              col("__src") =!= col("__aid"))
          .select(col("__src"), col("__aid"),
            KnnSearch.roundHalfUpCol(
              l2DistanceNative(col("__sv"), col("__av")), rankRoundDp)
              .as("__ad"))
          .join(kth, col("__src") === col("__s"), "left")
          .filter(col("__kd").isNull || col("__ad") < col("__kd") ||
            (col("__ad") === col("__kd") && col("__aid") < col("__kn")))
          .select("__src").distinct().collect().map(_.getLong(0))
      }
    val rebuildSrcs =
      (affectedByDelete ++ affectedByAppend ++ appendedIds).distinct.toSeq
    val untouched = oldGraph.filter(
      !col("src").isin(rebuildSrcs ++ deletedIds: _*))
    if (rebuildSrcs.isEmpty) untouched
    else untouched.unionByName(
      knnGraph(k, np, rankRoundDp, srcScope = Some(rebuildSrcs)))
  }

  /** NSW-style greedy BEAM SEARCH over a [[knnGraph]] edge frame —
    * the graph-traversal ANN family (the reference's actual index is
    * HNSW; this is its single-layer navigable-small-world core,
    * expressed over the materialized neighbor graph): start at
    * `entryId`, repeatedly expand the current frontier's graph
    * neighbors, score them against the query, and keep the `beam`
    * closest unvisited nodes, for `hops` rounds; answer = the top-`k`
    * of everything visited.
    *
    * DETERMINISTIC by the same contract as every ranked surface:
    * distances floor-round at `rankRoundDp`, ties break on id, the
    * visited set makes each hop a pure function of the last — so an
    * unrolled SQL oracle replays the exact walk (the q119/q136
    * unrolled-iteration trick on a graph traversal).
    *
    * Execution shape: graph search is pointer-chasing — each hop
    * touches ≤ beam·k candidate ids, so the driver loop issues
    * per-hop POINT LOOKUPS (id-pruned scans of the edge/vector
    * frames, row-group-prunable at scale), never a corpus pass;
    * serving deployments hold the graph in memory and this loop
    * becomes array chasing (the HNSW reality), while the SPARK value
    * is that the GRAPH ITSELF is built distributed ([[knnGraph]]) and
    * the walk stays correct on the frame. Driver state = visited ids
    * (≤ beam·hops + 1). */
  /** HNSW's upper-layer descent collapsed to TWO levels: the entry
    * point for [[beamSearch]] is the closest node of a DETERMINISTIC
    * 1/`sampleMod` md5 coarse layer (content-hash membership — the
    * repo's no-RNG sampling discipline), instead of an arbitrary
    * fixed node. One id+vector scan over the coarse layer
    * (~corpus/sampleMod rows) replaces the log-layer hierarchy;
    * production HNSW holds the upper layers in memory, and the walk
    * below is unchanged. */
  def coarseEntry(query: Seq[Float], sampleMod: Int = 16,
      rankRoundDp: Int = 4): Long = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    graft.plans.VectorExpressions.ensureRegistered(assigned.sparkSession)
    import graft.functions.VectorFunctions.l2DistanceNative
    served
      .filter(conv(substring(md5(col(idCol).cast("string")), 1, 2),
        16, 10).cast("long") % sampleMod === 0L)
      .select(col(idCol), KnnSearch.roundHalfUpCol(
        l2DistanceNative(col(vecCol), KnnSearch.litVec(query)),
        rankRoundDp).as("__d"))
      .orderBy(col("__d"), col(idCol))
      .limit(1).head().getLong(0)
  }

  /** Multi-layer HNSW descent — the reference index's actual shape
    * (hierarchical HNSW, /root/reference/src/tools/load.py:26), where
    * [[coarseEntry]] collapsed it to one layer: `layers` NESTED
    * deterministic content-hash layers, layer ℓ = ids whose 32-bit md5
    * prefix ≡ 0 (mod base^ℓ), so layer ℓ+1 ⊂ layer ℓ and expected
    * density thins base× per level — the no-RNG analogue of HNSW's
    * geometric level draw. Descent: the TOP layer scans globally
    * (~n/base^layers rows, HNSW's fixed entry layer); each LOWER layer
    * refines the entry over only its members inside the query's
    * `nprobe` nearest IVF clusters — the hash gives the hierarchy, the
    * cluster directory gives locality, and both prunes reach the scan
    * (md5 filter + partition filter), so level ℓ touches
    * ~(nprobe/nlist)·n/base^ℓ rows. The incumbent carries down, so the
    * entry distance is monotone non-increasing across layers; the
    * layer-1 winner seeds [[beamSearch]]. Every step is an argmin over
    * the rounded (dist, id) contract — the oracle replays the descent
    * as one CTE per layer. */
  def hierEntry(query: Seq[Float], layers: Int = 2, base: Int = 16,
      nprobe: Int = 2, rankRoundDp: Int = 4): Long = {
    require(layers >= 1, s"layers must be >= 1, got $layers")
    require(base >= 2, s"base must be >= 2, got $base")
    IvfIndex.requireModFits(layers, base)
    graft.plans.VectorExpressions.ensureRegistered(assigned.sparkSession)
    import graft.functions.VectorFunctions.l2DistanceNative
    val probes = probeOrder(query).take(math.max(1, nprobe))
    val h = layerHash
    val distC = KnnSearch.roundHalfUpCol(
      l2DistanceNative(col(vecCol), KnnSearch.litVec(query)), rankRoundDp)
    var best: Option[(Double, Long)] = None
    val rows = served
    for (l <- layers to 1 by -1) {
      val mod = Seq.fill(l)(base.toLong).product
      val members = rows.filter(h % mod === 0L)
      val scan =
        if (l == layers) members
        else members.filter(col(IvfIndex.ClusterCol).isin(probes: _*))
      val top = scan.select(col(idCol), distC.as("__d"))
        .orderBy(col("__d"), col(idCol)).limit(1).collect()
      if (top.nonEmpty) {
        val c = (top(0).getDouble(1), top(0).getLong(0))
        if (best.forall(b => Ordering[(Double, Long)].lt(c, b)))
          best = Some(c)
      }
    }
    best.getOrElse(throw new IllegalStateException(
      "hierEntry: every layer scan came back empty — base/layers too " +
        "aggressive for this corpus, or the probe set is wrong"))._2
  }

  /** Batch face of [[hierEntry]] — the whole query set descends the
    * layer hierarchy together, ONE job per layer for all queries
    * (the [[coarseEntryBatch]] discipline per level): the top layer's
    * global scan crosses the broadcast query set once; each lower
    * layer joins its members against the queries whose own probe set
    * holds the member's cluster (a per-query cluster gate riding the
    * broadcast frame), and every level's per-query argmin is a
    * map-side-combined `min(struct(dist, id))` — |queries| rows per
    * shuffle, never the layer. Incumbents carry down driver-side on
    * the same rounded (dist, id) order, so per query the entry is
    * EXACTLY [[hierEntry]]'s (spec-asserted). Entries align with the
    * input query order. */
  def hierEntryBatch(queries: Seq[(Long, Seq[Float])],
      layers: Int = 2, base: Int = 16, nprobe: Int = 2,
      rankRoundDp: Int = 4): Seq[Long] = {
    require(queries.nonEmpty, "hierEntryBatch needs at least one query")
    require(queries.map(_._1).distinct.length == queries.length,
      "hierEntryBatch: duplicate query ids")
    require(layers >= 1, s"layers must be >= 1, got $layers")
    require(base >= 2, s"base must be >= 2, got $base")
    IvfIndex.requireModFits(layers, base)
    val spark = assigned.sparkSession
    graft.plans.VectorExpressions.ensureRegistered(spark)
    import graft.functions.VectorFunctions.l2DistanceNative
    val np = math.max(1, nprobe)
    val qDf = spark.createDataFrame(queries.map { case (qid, qv) =>
      (qid, qv, probeOrder(qv).take(np).map(_.toLong))
    }).toDF("__qid", "__qv", "__qp")
    val h = layerHash
    val best = scala.collection.mutable.Map[Long, (Double, Long)]()
    for (l <- layers to 1 by -1) {
      val mod = Seq.fill(l)(base.toLong).product
      val members = assigned.filter(h % mod === 0L)
        .select(col(idCol), col(vecCol),
          col(IvfIndex.ClusterCol).cast("long").as("__mc"))
      val scan =
        if (l == layers) members.crossJoin(broadcast(qDf))
        else members.join(broadcast(qDf),
          array_contains(col("__qp"), col("__mc")))
      val winners = scan
        .select(col("__qid"), struct(
          KnnSearch.roundHalfUpCol(
            l2DistanceNative(col(vecCol), col("__qv")), rankRoundDp)
            .as("d"),
          col(idCol).as("id")).as("__s"))
        .groupBy(col("__qid")).agg(min(col("__s")).as("m"))
        .select(col("__qid"), col("m.d"), col("m.id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      winners.foreach { case (qid, d, id) =>
        val c = (d, id)
        if (best.get(qid).forall(b => Ordering[(Double, Long)].lt(c, b)))
          best(qid) = c
      }
    }
    queries.map { case (qid, _) =>
      best.getOrElse(qid, throw new IllegalStateException(
        s"hierEntryBatch: every layer scan came back empty for query " +
          s"$qid — base/layers too aggressive for this corpus"))._2
    }
  }

  /** the 32-bit md5-prefix membership hash shared by every layer
    * surface ([[hierEntry]]/[[hierEntryBatch]]/[[layerGraph]]/
    * [[hierWalkEntry]]) — ONE definition so the hierarchy cannot
    * drift between the scan path and the walk path */
  private def layerHash: Column =
    conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long")

  /** The PER-LAYER neighbor graph of the md5-prefix hierarchy — the
    * true HNSW layer structure (the reference's index is hierarchical
    * HNSW, reference tools/load.py:26): layer ℓ's members (32-bit md5
    * prefix ≡ 0 mod base^ℓ, the [[hierEntry]] membership) connected
    * to their `k` nearest OTHER MEMBERS by the same probe-bounded
    * [[knnGraph]] join with BOTH sides filtered to the layer, so
    * edges never leave the layer. Built once per layer at index-build
    * time (each layer graph is `k·n/base^ℓ` rows — geometrically
    * cheaper than the base graph); [[hierWalkEntry]] walks them. */
  def layerGraph(layer: Int, base: Int, k: Int, nprobe: Int,
      rankRoundDp: Int = 4): DataFrame = {
    require(layer >= 1, s"layer must be >= 1, got $layer")
    require(base >= 2, s"base must be >= 2, got $base")
    IvfIndex.requireModFits(layer, base)
    val mod = Seq.fill(layer)(base.toLong).product
    knnGraph(k, nprobe, rankRoundDp,
      members = Some(layerHash % mod === 0L))
  }

  /** TRUE multi-layer HNSW descent (the r14 structural gap):
    * [[hierEntry]] picks each layer's entry by SCANNING the layer for
    * its argmin — correct, but it touches every (probe-pruned) layer
    * member. This WALKS each layer's own neighbor graph instead,
    * which is the actual HNSW algorithm: start at the min-id member
    * of the top layer (HNSW's fixed topmost entry — an id-only
    * lookup, no distance scan), and at each layer ℓ run the existing
    * [[beamSearch]] machinery with beam 1 over [[layerGraph]](ℓ) for
    * `hopsPerLayer` hops; the best visited node on the rounded
    * (dist, id) order carries down as layer ℓ−1's start (nested
    * membership guarantees it IS a member of every lower layer).
    * Rows touched: ≤ layers·(hopsPerLayer·kGraph + 1) point lookups
    * plus one id-only min — versus [[hierEntry]]'s full layer scans
    * (spec-measured); entry quality is pinned alongside the other
    * strategies in q180's comparison. Deterministic hop by hop, so an
    * unrolled per-layer SQL oracle replays the whole descent
    * (q181).
    *
    * FILTERED searches need no filtered descent: the entry is a
    * ROUTING seed, not an answer — [[beamSearch]]'s filtered contract
    * keeps traversal predicate-blind precisely so an ineligible entry
    * (or ineligible intermediate hops) still navigates toward the
    * query's neighborhood, and the predicate cuts only the final
    * top-k. Descending through eligible-only layers would re-create
    * the disconnection problem the blind walk avoids. */
  def hierWalkEntry(layerGraphs: Seq[DataFrame], query: Seq[Float],
      base: Int, hopsPerLayer: Int = 2, rankRoundDp: Int = 4): Long = {
    val layers = layerGraphs.length
    require(layers >= 1, "hierWalkEntry needs at least one layer graph")
    require(base >= 2, s"base must be >= 2, got $base")
    require(hopsPerLayer >= 0,
      s"hopsPerLayer must be >= 0, got $hopsPerLayer")
    IvfIndex.requireModFits(layers, base)
    val topMod = Seq.fill(layers)(base.toLong).product
    // null-vector rows are excluded from every layer graph (the r13
    // convention [[knnGraph]] applies to both sides), so a null min-id
    // top member would have no edges anywhere and its null rounded
    // distance would sort NULLS FIRST through the whole descent —
    // exclude them from the entry selection too (r15 advice)
    val top = assigned
      .filter(layerHash % topMod === 0L && col(vecCol).isNotNull)
      .agg(min(col(idCol))).head()
    require(!top.isNullAt(0),
      s"hierWalkEntry: top layer (mod $topMod) is empty — lower " +
        "layers or base")
    var entry = top.getLong(0)
    // layerGraphs(l-1) = layer l's graph, walked top layer first
    for (l <- layers to 1 by -1)
      entry = beamSearch(layerGraphs(l - 1), query, entry, k = 1,
        beam = 1, hops = hopsPerLayer, rankRoundDp = rankRoundDp)
        .head().getLong(0)
    entry
  }

  /** Greedy graph-ANN walk over a [[knnGraph]]. FILTERED form (the
    * [[IvfIndex#search]] filtered-ANN contract on the graph rung,
    * closing the ladder raw/SQ8/PQ/binary/graph): the walk TRAVERSES
    * the graph unrestricted — ineligible nodes still route, because
    * restricting traversal to predicate survivors disconnects the
    * navigable graph at low selectivity (the open problem filtered
    * graph-ANN methods like ACORN and filtered-DiskANN address; this
    * is the ACORN-1 shape: predicate-blind traversal, predicate-aware
    * answers) — and `filter` applies at the FINAL top-k over the
    * visited set only. The compensation axis is `beamWiden` (the
    * [[IvfIndex#widenedNprobe]] analogue for the walk family): the
    * per-hop beam widens to `ceil(beam · beamWiden)`, growing the
    * visited pool so ~`1/selectivity` more candidates survive the
    * final cut — 1/selectivity is the natural setting, and the q231
    * recall sweep reads the trade off the gate. Unlike the probed
    * rungs there is no nlist ceiling: the walk's touch count stays
    * `hops · beamEff · degree` point lookups regardless of corpus
    * size. */
  def beamSearch(graph: DataFrame, query: Seq[Float], entryId: Long,
      k: Int, beam: Int, hops: Int,
      rankRoundDp: Int = 4,
      filter: Option[Column] = None,
      beamWiden: Double = 1.0): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 0,
      s"need k >= 1, beam >= 1, hops >= 0; got ($k, $beam, $hops)")
    require(beamWiden >= 1.0, s"beamWiden must be >= 1, got $beamWiden")
    require(filter.isDefined || beamWiden == 1.0,
      "beamWiden without a filter has nothing to compensate")
    val beamEff = math.ceil(beam * beamWiden).toInt
    graft.plans.VectorExpressions.ensureRegistered(assigned.sparkSession)
    import graft.functions.VectorFunctions.l2DistanceNative
    val distCol = KnnSearch.roundHalfUpCol(
      l2DistanceNative(col(vecCol), KnnSearch.litVec(query)), rankRoundDp)
    // a nonexistent entry would walk nowhere and return an EMPTY
    // result that looks like a valid answer — fail loudly instead.
    // The check FOLDS into hop 1's scored scan (r20 verdict #3: a
    // dedicated existence job doubled the single walk's job count):
    // hop 1 scans cand ∪ {entry} in ONE id-pruned job, requires the
    // entry row came back, and takes the beam cut driver-side over the
    // cand rows only — the identical rounded (dist, id) order, so
    // every frontier (and the result) is bit-equal to the dedicated-
    // job form. Paths that never reach a scored scan (hops = 0, or an
    // entry with no unvisited neighbors) still pay the dedicated
    // lookup — fail-loudly is unconditional.
    def requireEntryExists(): Unit =
      require(assigned.filter(col(idCol) === entryId).limit(1)
          .count() == 1L,
        s"beamSearch: entry id $entryId is not in the index " +
          s"(wrong corpus, or deleted?)")
    var entryChecked = false
    if (hops == 0) { requireEntryExists(); entryChecked = true }
    var visited = Vector(entryId)
    var frontier = Set(entryId)
    for (_ <- 0 until hops) {
      val cand = graph
        .filter(col("src").isin(frontier.toSeq: _*) &&
          !col("nbr").isin(visited: _*))
        .select(col("nbr")).distinct()
        .collect().map(_.getLong(0))
      if (cand.nonEmpty) {
        val scored: Array[Long] =
          if (entryChecked)
            assigned
              .filter(col(idCol).isin(cand.toIndexedSeq: _*))
              .select(col(idCol), distCol.as("__d"))
              .orderBy(col("__d"), col(idCol))
              .limit(beamEff)
              .collect().map(_.getLong(0))
          else {
            // entry ∉ cand (it is visited), so its row never competes
            // for the beam: collect every cand row (≤ frontier·degree,
            // bounded — kNN graphs have fixed degree k) plus the entry
            // probe, cut driver-side.
            // (r22 measured won't-do, the r21-advice idea: keep the
            // executor-side orderBy+limit(beamEff) and union a tagged
            // one-row entry probe into the same job. Nested under the
            // union the sort-limit no longer plans as TakeOrdered — it
            // becomes a global Sort + Limit with an extra single-
            // partition exchange per hop; measured min-of-15 at sf0.1:
            // q156 0.86×, q231 0.83× of the driver-cut form. Reverted.
            // The driver-side cut stays bounded because every consumer
            // graph here has fixed degree; the Scala sort mirrors
            // Spark's ASC NULLS FIRST on the rounded dists.)
            val rows = assigned
              .filter(col(idCol).isin((cand.toIndexedSeq :+ entryId): _*))
              .select(col(idCol), distCol.as("__d"))
              .collect()
            require(rows.exists(_.getLong(0) == entryId),
              s"beamSearch: entry id $entryId is not in the index " +
                s"(wrong corpus, or deleted?)")
            entryChecked = true
            rows.iterator.filter(_.getLong(0) != entryId)
              .map(r => (if (r.isNullAt(1)) (true, 0.0) else
                (false, r.getDouble(1)), r.getLong(0)))
              .toArray
              // rounded dists are non-null for graph members (null
              // vectors are excluded from every kNN graph), but order
              // nulls first anyway to mirror Spark's ASC NULLS FIRST
              .sortBy { case ((isNull, d), id) => (!isNull, d, id) }
              .take(beamEff).map(_._2)
          }
        frontier = scored.toSet
        visited = visited ++ scored
      } else frontier = Set.empty
    }
    if (!entryChecked) requireEntryExists()
    // the predicate cuts ANSWERS, never routing: it lands on the
    // bounded visited-set lookup (≤ beamEff·hops + 1 ids)
    filter.foldLeft(assigned.filter(col(idCol).isin(visited: _*)))(
        (d, f) => d.filter(f))
      .select(col(idCol), distCol.as("dist"))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
  }

  /** Batch face of [[coarseEntry]]: ONE scan of the deterministic
    * 1/`sampleMod` md5 coarse layer serves the whole query set. Each
    * sampled row scores against every query (the query set is tiny and
    * rides a broadcast), and the per-query argmin is a map-side-combined
    * `min(struct(dist, id))` — only |queries| rows cross the shuffle,
    * never the sampled layer. Per query the result is EXACTLY
    * [[coarseEntry]]'s (same rounding, same (dist, id) tie rule —
    * struct min orders fields left to right). Returned entries align
    * with the input query order. */
  def coarseEntryBatch(queries: Seq[(Long, Seq[Float])],
      sampleMod: Int = 16, rankRoundDp: Int = 4): Seq[Long] = {
    require(queries.nonEmpty, "coarseEntryBatch needs at least one query")
    require(queries.map(_._1).distinct.length == queries.length,
      "coarseEntryBatch: duplicate query ids")
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val spark = assigned.sparkSession
    graft.plans.VectorExpressions.ensureRegistered(spark)
    import graft.functions.VectorFunctions.l2DistanceNative
    val qDf = spark.createDataFrame(queries).toDF("__qid", "__qv")
    val entries = assigned
      .filter(conv(substring(md5(col(idCol).cast("string")), 1, 2),
        16, 10).cast("long") % sampleMod === 0L)
      .select(col(idCol), col(vecCol))
      .crossJoin(broadcast(qDf))
      .select(col("__qid"), struct(
        KnnSearch.roundHalfUpCol(
          l2DistanceNative(col(vecCol), col("__qv")), rankRoundDp)
          .as("d"),
        col(idCol).as("id")).as("__s"))
      .groupBy(col("__qid")).agg(min(col("__s")).as("m"))
      .select(col("__qid"), col("m.id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    queries.map { case (qid, _) =>
      entries.getOrElse(qid, throw new IllegalStateException(
        s"coarseEntryBatch: empty coarse layer — no entry for query $qid"))
    }
  }

  /** Batch face of [[beamSearch]] — the whole query set walks the graph
    * together. Per hop the walk pays TWO bounded jobs for ALL queries
    * (an id-pruned edge expansion of the union frontier, then an
    * id-pruned scoring scan with a per-query bounded rank) instead of
    * two jobs per hop PER query, so the per-hop job-scheduling overhead
    * the single-query walk documents amortizes across the query set —
    * the same batch discipline as [[searchBatch]]'s probe gate. Driver
    * state is per-query visited/frontier id sets (≤ beam·hops + 1 ids
    * per query), and every scanned frame is pruned to ≤ |queries|·beam·
    * graph-degree ids — never a corpus pass. Per query, every hop's
    * candidate set, beam cut (rank over the identical rounded (dist,
    * id) order), and final top-k replay [[beamSearch]]'s contract
    * exactly, so each query's rows are bit-equal to its single-query
    * walk (spec-asserted) and the unrolled per-query SQL oracle
    * replays the batch verbatim. Output: (query_id, idCol, dist),
    * ≤ k rows per query.
    *
    * `filter`/`beamWiden` are the single walk's filtered-ANN contract
    * ([[beamSearch]]): routing stays predicate-blind — the per-hop
    * beam cut (widened to `ceil(beam · beamWiden)`) never consults
    * the predicate — and the filter lands only on the FINAL per-query
    * top-k over each visited set, so every query's filtered batch
    * rows are bit-equal to its single filtered walk at the same
    * (filter, beamWiden). */
  def beamSearchBatch(graph: DataFrame, queries: Seq[(Long, Seq[Float])],
      entryIds: Seq[Long], k: Int, beam: Int, hops: Int,
      rankRoundDp: Int = 4,
      filter: Option[Column] = None,
      beamWiden: Double = 1.0): DataFrame = {
    require(queries.nonEmpty, "beamSearchBatch needs at least one query")
    require(entryIds.length == queries.length,
      s"entryIds (${entryIds.length}) must align with queries " +
        s"(${queries.length})")
    require(queries.map(_._1).distinct.length == queries.length,
      "beamSearchBatch: duplicate query ids")
    require(k >= 1 && beam >= 1 && hops >= 0,
      s"need k >= 1, beam >= 1, hops >= 0; got ($k, $beam, $hops)")
    require(beamWiden >= 1.0, s"beamWiden must be >= 1, got $beamWiden")
    require(filter.isDefined || beamWiden == 1.0,
      "beamWiden without a filter has nothing to compensate")
    val beamEff = math.ceil(beam * beamWiden).toInt
    val spark = assigned.sparkSession
    graft.plans.VectorExpressions.ensureRegistered(spark)
    import graft.functions.VectorFunctions.l2DistanceNative
    // ONE existence lookup for the whole entry set (the single-query
    // walk's fail-loudly contract, amortized)
    val entrySet = entryIds.distinct
    val found = assigned.filter(col(idCol).isin(entrySet: _*))
      .select(col(idCol)).distinct()
      .collect().map(_.getLong(0)).toSet
    val missingEntries = entrySet.filterNot(found)
    require(missingEntries.isEmpty,
      s"beamSearchBatch: entry ids ${missingEntries.mkString(", ")} " +
        "are not in the index (wrong corpus, or deleted?)")
    val nq = queries.length
    val qids = queries.map(_._1)
    val qvById = queries.toMap
    val visited = Array.tabulate(nq)(i => Vector(entryIds(i)))
    val frontier = Array.tabulate(nq)(i => Set(entryIds(i)))
    // (qid, candidate-id) pairs → id-pruned point-lookup scan +
    // broadcast pair join + per-query rounded (dist, id) rank ≤ limit;
    // the one scoring shape both the beam cut and the final top-k use.
    // `pred` is set ONLY on the final cut — hop cuts stay
    // predicate-blind (the routing contract).
    def rankedPairs(pairs: Seq[(Long, Long)], limit: Int,
        pred: Option[Column] = None): DataFrame = {
      val pairDf = spark.createDataFrame(
        pairs.map { case (qid, id) => (qid, id, qvById(qid)) })
        .toDF("__qid", "__cid", "__qv")
      val ids = pairs.map(_._2).distinct
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__qid")).orderBy(col("__d"), col("__cid"))
      pred.foldLeft(assigned.filter(col(idCol).isin(ids: _*)))(
          (d, f) => d.filter(f))
        .select(col(idCol).as("__vid"), col(vecCol).as("__v"))
        .join(broadcast(pairDf), col("__vid") === col("__cid"))
        .select(col("__qid"), col("__cid"),
          KnnSearch.roundHalfUpCol(
            l2DistanceNative(col("__v"), col("__qv")), rankRoundDp)
            .as("__d"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= limit)
    }
    for (_ <- 0 until hops) {
      val srcs = frontier.iterator.flatten.toSeq.distinct
      if (srcs.nonEmpty) {
        // bounded edge expansion: ≤ |union frontier|·degree rows
        val bySrc = graph.filter(col("src").isin(srcs: _*))
          .select(col("src"), col("nbr"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (s, es) => (s, es.map(_._2)) }
        val pairs = (for {
          qi <- (0 until nq).iterator
          src <- frontier(qi).iterator
          nbr <- bySrc.getOrElse(src, Array.empty[Long]).iterator
          if !visited(qi).contains(nbr)
        } yield (qids(qi), nbr)).toSeq.distinct
        if (pairs.nonEmpty) {
          val byQ = rankedPairs(pairs, beamEff)
            .select(col("__qid"), col("__cid"), col("__d"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
            .groupBy(_._1)
          for (qi <- 0 until nq) byQ.get(qids(qi)) match {
            case Some(rows) =>
              val scored = rows.sortBy(r => (r._3, r._2)).map(_._2)
              frontier(qi) = scored.toSet
              visited(qi) = visited(qi) ++ scored
            case None => frontier(qi) = Set.empty
          }
        } else (0 until nq).foreach(qi => frontier(qi) = Set.empty)
      }
    }
    val visitedPairs = (0 until nq).flatMap(qi =>
      visited(qi).map(v => (qids(qi), v)))
    rankedPairs(visitedPairs, k, filter)
      .select(col("__qid").as("query_id"), col("__cid").as(idCol),
        col("__d").as("dist"))
      .orderBy(col("query_id"), col("dist"), col(idCol))
  }

  /** Quantized V5 (IVF-SQ8, the FAISS `IVF...,SQ8` shape): the
    * approximate ranking scores the 1-byte/dim `__sq8_code` column with
    * the fused decode-and-distance expression
    * ([[graft.plans.Sq8L2SquaredExpr]]), and only the top `k·refine`
    * candidates get an EXACT re-rank over their full vectors. Both cuts
    * are ONE lazy plan over one partition-pruned scan and run as one
    * Spark job ([[QuantizedSearch.searchOne]]): the candidate rows ride
    * the code cut whole, so nothing is collected at call time. Output
    * contract matches [[search]] (corpus columns + rounded-rank
    * `dist`). Metric follows the GRID: a raw
    * affine grid (write(`quantize = true`)) preserves L2 geometry but
    * not angles, so it serves L2; a grid over unit-normalized vectors
    * (write(`quantizeNormalized = true`)) serves COSINE — on the unit
    * sphere L2² = 2 − 2·cos, so the code ranking against the normalized
    * query is a cosine candidate ranking, and the exact re-rank scores
    * true cosine over the raw vectors. The metric↔grid match is
    * enforced. Requires an index written with `quantize = true` and
    * loaded from disk; recall loss beyond the IVF probe approximation
    * is bounded by the refine margin (spec: ≥0.9 at refine=4 on the
    * synthetic corpus, and bit-equal to [[search]] when refine covers
    * the whole probed scan). Both passes — byte decode arithmetic
    * included — are double-deterministic, so the driver oracle (q62)
    * replays candidate selection from the hex bytes and the exact
    * re-rank independently. */
  def searchQuantized(
      query: Seq[Float],
      k: Int,
      nprobe: Int,
      refine: Int = 4,
      tieBreak: Option[String] = None,
      components: Seq[Int] = Nil,
      rankRoundDp: Option[Int] = None,
      metric: KnnSearch.Metric = KnnSearch.L2,
      filter: Option[Column] = None,
      filterSelectivity: Option[Double] = None): DataFrame =
    QuantizedSearch.searchOne(componentScope(components), idCol, vecCol,
      Some(sq8Codec), layout, query, k, nprobe, refine,
      metric, filter, filterSelectivity, tieBreak, rankRoundDp)

  /** the SQ8 codec this index was written with */
  private def sq8Codec: QuantizedSearch.Sq8 = sq8Params match {
    case Some((mins, scales)) =>
      QuantizedSearch.Sq8(mins, scales, sq8Normalized)
    case None => throw new IllegalStateException(
      "quantized search needs a quantized index: write(path, " +
        "quantize = true), then load(...) — this one has no " +
        s"${IvfIndex.Sq8Sidecar} params")
  }

  /** Batch IVF-SQ8: [[searchQuantized]]'s two-pass shape composed with
    * [[searchBatch]]'s probe gate — many queries, ONE scan
    * ([[QuantizedSearch.searchBatch]]).
    *
    * Code pass: one scan over the probe UNION with per-task bounded
    * heaps of `k·refine` whole rows PER QUERY, each row scored only for
    * queries whose own probe set holds its cluster (the bit-packed
    * gate), by the identical decode-and-distance double math as
    * [[graft.plans.Sq8L2SquaredExpr]]. Exact pass: the same heap pass
    * over only those ≤ k·refine·|queries| rows, each scored only for
    * the query that nominated it, by the single-query exact formulas
    * (`sqrt(graft_l2sq)` / `1 − graft_cos`, rounded by the
    * cross-engine floor form). Nothing but the query set is collected
    * at call time; a resident root answers the whole batch on the
    * driver with no Spark job, and over parquet the final exchanges
    * move k-scale rows, never the corpus.
    * Metric follows the grid exactly as in [[searchQuantized]] (L2 on a
    * raw grid, cosine on a normalized grid — enforced). Per-query
    * results are bit-equal to [[searchQuantized]] at the same
    * (metric, nprobe, refine, rankRoundDp) — spec-asserted — and to
    * [[searchBatch]] when `refine` covers the whole probed scan. */
  def searchQuantizedBatch(
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nprobe: Int,
      refine: Int = 4,
      tieBreak: String = "",
      rankRoundDp: Option[Int] = None,
      components: Seq[Int] = Nil,
      metric: KnnSearch.Metric = KnnSearch.L2,
      filter: Option[Column] = None,
      filterSelectivity: Option[Double] = None): DataFrame =
    QuantizedSearch.searchBatch(componentScope(components), idCol, vecCol,
      Some(sq8Codec), layout, queries, queryIdCol,
      queryVecCol, k, nprobe, refine, metric, filter, filterSelectivity,
      tieBreak, rankRoundDp)

  /** `assigned` as the search paths read it: the root's rows held on
    * the driver when the root is small enough
    * ([[IvfIndex.residentRows]]), resolved through the cache on every
    * call, else the parquet scan itself */
  private def served: DataFrame =
    IvfIndex.residentRows(assigned).getOrElse(assigned)

  /** the corpus restricted to `components` (the reference's
    * `partition_names`) — a partition-column filter on the two-level
    * layout, the whole corpus when unscoped. */
  private def componentScope(components: Seq[Int]): DataFrame =
    if (components.isEmpty) served
    else componentCol match {
      case Some(c) => served.filter(col(c).isin(components: _*))
      case None => throw new IllegalArgumentException(
        "components passed but this index was built without a " +
          "componentCol — build(..., componentCol = Some(...)) for the " +
          "two-level partitioned layout")
    }

  /** Persist as a cluster-partitioned table: search then prunes whole
    * directories, the same mechanism as the component corpus. A
    * component-scoped index nests the cluster directories INSIDE the
    * component directories (`component=X/__ivf_cluster=Y/`), so a scoped
    * search prunes both levels. The centroids (nlist × dim floats — a
    * few KB) ride along in a `_centroids` sidecar so [[IvfIndex.load]]
    * never has to re-derive them from the corpus; the underscore prefix
    * hides the sidecar from Spark's data-file listing, so reading `path`
    * sees only the vectors.
    *
    * `quantize = true` additionally derives per-dimension SQ8 affine
    * params from THIS corpus (one cheap 64-key aggregation), stores a
    * 1-byte/dim `__sq8_code` column beside each vector, and drops the
    * params into a `_sq8_params` sidecar — enabling
    * [[searchQuantized]]'s 4×-less-bytes approximate ranking pass on
    * the loaded index. The float vectors stay: parquet is columnar, so
    * exact searches read only `vecCol` and quantized first passes read
    * only the code column; nothing pays for both. */
  def write(path: String, quantize: Boolean = false,
      quantizeNormalized: Boolean = false): Unit = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val alreadyCoded = assigned.columns.contains(IvfIndex.Sq8CodeCol)
    // a LOADED quantized index round-trips: its rows already carry codes
    // cut against sq8Params' grid, so re-persist those and the SAME grid
    // (re-deriving a fresh grid would silently desync it from the stored
    // bytes) — with or without `quantize`, since dropping the params
    // while keeping a dead code column would strand ~25% storage that no
    // search can use
    val sq8: Option[(Seq[Double], Seq[Double])] =
      if (alreadyCoded) Some(sq8Params.getOrElse(
        throw new IllegalStateException(
          s"assigned has a ${IvfIndex.Sq8CodeCol} column but this index " +
            "carries no sq8Params — refusing to persist codes whose " +
            "grid is unknown (corrupted index, or a user column " +
            "colliding with the reserved name)")))
      else if (!quantize && !quantizeNormalized) None
      else {
        graft.plans.VectorExpressions.ensureRegistered(spark)
        // COSINE grid (quantizeNormalized): the affine per-dimension
        // grid preserves L2 geometry, not angles — so for cosine search
        // the grid is derived over, and the codes encode, the
        // UNIT-NORMALIZED vectors: on the unit sphere
        // L2²(x̂, q̂) = 2 − 2·cos, monotone in cosine distance, which
        // makes decoded-code L2² a faithful cosine candidate ranking up
        // to quantization error (the FAISS normalize-then-SQ8 IP
        // recipe). Raw vectors stay untouched — the exact re-rank reads
        // them for the true cosine.
        val gridInput =
          if (quantizeNormalized)
            assigned.select(
              IvfIndex.unitNormalizeCol(col(vecCol)).as(vecCol))
          else assigned.select(col(vecCol))
        Some(IvfIndex.sq8ParamsOf(gridInput, vecCol))
      }
    // an already-coded index re-persists its EXISTING codes + grid; an
    // explicit request for the OTHER grid must fail loudly, not write a
    // root whose grid silently contradicts what the caller asked for
    if (alreadyCoded) {
      require(!(quantizeNormalized && !sq8Normalized),
        "write(quantizeNormalized = true) on an index whose codes were " +
          "cut against the RAW (L2) grid — re-encoding under a " +
          "different grid is not supported on a coded index; rebuild " +
          "from the raw vectors (drop the code column and sq8Params) " +
          "and write(quantizeNormalized = true)")
      require(!(quantize && !quantizeNormalized && sq8Normalized),
        "write(quantize = true) on an index whose codes were cut " +
          "against the NORMALIZED (cosine) grid — rebuild from the raw " +
          "vectors to get an L2 grid")
    }
    val normalized = if (alreadyCoded) sq8Normalized else quantizeNormalized
    val data =
      if (alreadyCoded || sq8.isEmpty) assigned
      else assigned.withColumn(IvfIndex.Sq8CodeCol,
        IvfIndex.sq8Encode(spark, vecCol, sq8.get, normalized))
    // a wholesale rebuild makes the DEFAULT sidecar authoritative
    // again: drop any generation pointer (and its generations) a prior
    // in-place rebalance left — under a dynamic-partition-overwrite
    // session conf the data overwrite would not clear them, and a
    // stale pointer would shadow the sidecar written below. Dropped
    // BEFORE the data/sidecar overwrite (r20 advice): a crash anywhere
    // inside this rebuild then resolves to the default sidecar path —
    // torn-and-loud like the rest of the non-crash-atomic write —
    // instead of a stale generation silently serving old centroids
    // against the rebuilt data until the write is re-run
    IvfIndex.dropSidecarPointer(spark, path)
    val root = IvfIndex.persisted(path, componentCol)
    PersistedRoot.rewrite(spark, root, data) {
      PersistedRoot.writeSidecar(root, IvfIndex.CentroidSidecar,
        clusterIds.zip(centroids).toSeq.toDF("cluster_id", "centroid"))
      sq8.foreach { case (mins, scales) =>
        PersistedRoot.writeSidecar(root, IvfIndex.Sq8Sidecar,
          Seq((mins, scales, normalized)).toDF("mins", "scales", "normalized"))
      }
    }
  }
}

object IvfIndex {

  /** `base^layers` must fit the 32-bit md5-prefix space or the
    * layer-membership modulus silently wraps into deterministic
    * garbage (every layer would still hash — to the wrong members).
    * Checked on the ACTUAL product (exact BigInt power), not a
    * bit-length bound — a bit-length form would reject valid stacks
    * like 16^7 = 2^28 (r14 advice). */
  private[operators] def requireModFits(layers: Int, base: Int): Unit =
    require(BigInt(base).pow(layers) <= (BigInt(1) << 32),
      s"base^layers ($base^$layers) exceeds the 32-bit hash-prefix " +
        "space — lower layers or base")
  val ClusterCol = "__ivf_cluster"

  /** Session conf: the driver-heap budget, in bytes, of the resident
    * serving tier — the IVF roots whose rows the search paths read from
    * the driver instead of a parquet scan. It is a memory budget, like
    * `spark.sql.autoBroadcastJoinThreshold`: the total over every
    * resident root in the JVM. A root whose files exceed it is never
    * resident; admitting a root evicts the oldest-admitted roots until
    * the total fits; `0` turns the tier off (every search scans
    * parquet). Default [[DefaultResidentMaxBytes]]. */
  val ResidentMaxBytesConf = "spark.graft.ivf.residentMaxBytes"
  val DefaultResidentMaxBytes: Long = 64L << 20

  private def residentBudget(spark: SparkSession): Long = {
    val raw = spark.conf.get(ResidentMaxBytesConf,
      DefaultResidentMaxBytes.toString).trim
    raw.toLongOption.filter(_ >= 0).getOrElse(
      throw new IllegalArgumentException(
        s"$ResidentMaxBytesConf must be a byte count >= 0, got '$raw'"))
  }

  /** The rows of `assigned` — a persisted root's parquet scan, exactly
    * as [[load]] reads it — as a driver-resident frame
    * ([[graft.plans.ResidentRelation]]), or None when the tier is off,
    * the root is over budget, or `assigned` is not a bare parquet scan.
    * The rows are decoded once (one Spark job) into copied `UnsafeRow`s
    * and kept in [[PersistedRoot.cachedSized]] under kind `ivf.rows`,
    * stamped by the file listing the scan's relation already holds
    * (path, length, mtime of every file — no extra I/O) and its schema,
    * so the resident rows are always the files the scan would read; a
    * rewrite the listing has not seen is caught by
    * [[PersistedRoot.invalidate]] and the next [[load]]. A root that
    * decodes larger than the budget is remembered as not resident for
    * its stamp. */
  private[graft] def residentRows(assigned: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
    val spark = assigned.sparkSession
    val budget = residentBudget(spark)
    if (budget <= 0L) None
    else assigned.queryExecution.analyzed match {
      case lr: LogicalRelation if !lr.isStreaming => lr.relation match {
        case h: HadoopFsRelation if h.location.rootPaths.size == 1 &&
            h.location.isInstanceOf[PartitioningAwareFileIndex] &&
            h.fileFormat.isInstanceOf[
              org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
          val files = h.location.asInstanceOf[PartitioningAwareFileIndex]
            .allFiles().sortBy(_.getPath.toString)
          if (files.iterator.map(_.getLen).sum > budget) None
          else {
            val root = h.location.rootPaths.head
            val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
            val stamp = assigned.schema.catalogString + "|" + files.map(f =>
              s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
              .mkString(";")
            PersistedRoot.cachedSized(fs, root, "ivf.rows", stamp, budget) {
              val schema = assigned.schema
              val rows = assigned.queryExecution.toRdd.mapPartitions { it =>
                val proj = org.apache.spark.sql.catalyst.expressions
                  .UnsafeProjection.create(schema)
                it.map(r => proj(r).copy())
              }.collect()
              // the row bytes plus a per-row object header
              val bytes = rows.iterator.map(_.getSizeInBytes + 48L).sum
              if (bytes > budget) (None, 0L)
              else (Some(new graft.plans.ResidentRows(
                rows.asInstanceOf[Array[org.apache.spark.sql.catalyst.InternalRow]],
                bytes)), bytes)
            }.map { data =>
              graft.plans.LocalTopK.register(spark)
              graft.plans.LocalTopK.dataFrame(spark,
                graft.plans.ResidentRelation(lr.output.map(_.newInstance()),
                  data))
            }
          }
        case _ => None
      }
      case _ => None
    }
  }

  /** nearest-centroid cluster ids, closest first — shared by
    * [[IvfIndex#probeOrder]] and the [[graft.plans.IvfAutoProbe]]
    * optimizer rule. */
  def probeOrder(centroids: Array[Array[Float]], clusterIds: Array[Int],
      query: Seq[Float]): Seq[Int] = {
    val q = query.toArray
    centroids.zipWithIndex
      .map { case (c, i) =>
        // double math per term (not float-subtract-then-widen): the probe
        // ranking is then exactly what any double-precision replay — the
        // DuckDB oracle's `list_distance(centroid::DOUBLE[], q::DOUBLE[])`
        // included — computes, so probe selection is cross-engine
        // deterministic, not just deterministic in this JVM. Ties break
        // ascending cluster id (stable sortBy over id-ordered input).
        var s = 0.0
        var j = 0
        while (j < c.length) {
          val d = c(j).toDouble - q(j).toDouble; s += d * d; j += 1
        }
        (s, clusterIds(i))
      }
      .sortBy(_._1).map(_._2).toSeq
  }

  /** cluster ids ranked most-cosine-similar to the query first: both
    * sides are unit-normalized in the scoring (on the unit sphere
    * L2² = 2 − 2·cos, so this is [[probeOrder]]'s cosine analogue for
    * `1 − graft_cos` orderings). A zero-norm side scores 0, matching
    * [[graft.plans.CosineSimilarityExpr]].
    *
    * Unlike [[probeOrder]]'s per-term squared sums — whose cross-engine
    * replay is the identical double fold — the cosine key divides by
    * sqrt-norms, so an independent replay (the DuckDB oracle) can
    * disagree in the LAST ULP; at an nprobe boundary that flips the
    * probe set and every downstream row (the round-11 q59/q61 driver
    * red). The ranking therefore quantizes the key to 1e-12 via
    * [[quantizeKey]] — primitive floor arithmetic any IEEE-double engine
    * reproduces bit-for-bit — and breaks quantized ties by ascending
    * cluster id, so sub-ULP disagreement collapses onto the same key
    * instead of reordering probes. */
  def probeOrderCosine(centroids: Array[Array[Float]],
      clusterIds: Array[Int], query: Seq[Float]): Seq[Int] = {
    val q = query.toArray
    var qn = 0.0
    var i = 0
    while (i < q.length) { qn += q(i).toDouble * q(i).toDouble; i += 1 }
    centroids.zipWithIndex
      .map { case (c, ci) =>
        var dot = 0.0; var cn = 0.0; var j = 0
        while (j < c.length) {
          dot += c(j).toDouble * q(j).toDouble
          cn += c(j).toDouble * c(j).toDouble
          j += 1
        }
        val cos =
          if (qn == 0.0 || cn == 0.0) 0.0
          else dot / (math.sqrt(qn) * math.sqrt(cn))
        (quantizeKey(-cos), clusterIds(ci))
      }
      .sortBy(identity).map(_._2).toSeq
  }

  /** Quantize a probe-ranking key to 1e-12 with primitive arithmetic —
    * `floor(x·1e12 + 0.5)` — that SQL engines replay as the literal
    * expression `floor(x * 1e12 + 0.5)`: every step is a single IEEE
    * double op, so identical inputs give the identical key on any
    * engine, and inputs disagreeing below 1e-12 (ULP noise from
    * division/sqrt computed in a different engine) land on the SAME key
    * unless the true value sits within an ulp of a quantization edge.
    * For |x| ≤ ~2 (negated cosine) the product stays far below 2^53, so
    * the floor is exact. */
  def quantizeKey(x: Double): Double = math.floor(x * 1e12 + 0.5)

  /** cluster ids ranked by query·centroid descending — the MIPS probe
    * ranking for negated-dot (`-graft_dot`) orderings. */
  def probeOrderDot(centroids: Array[Array[Float]],
      clusterIds: Array[Int], query: Seq[Float]): Seq[Int] = {
    val q = query.toArray
    centroids.zipWithIndex
      .map { case (c, ci) =>
        var dot = 0.0; var j = 0
        while (j < c.length) {
          dot += c(j).toDouble * q(j).toDouble; j += 1
        }
        (-dot, clusterIds(ci))
      }
      .sortBy(_._1).map(_._2).toSeq
  }

  /** V4: build the index — k-means (MLlib, seeded for reproducibility)
    * then nearest-centroid assignment. Pass `componentCol` to get the
    * component-scoped two-level layout from [[IvfIndex#write]]
    * (centroids stay global — see the class scaladoc).
    *
    * `fitSampleFraction` is the 100 TB lever: k-means is an ITERATIVE
    * algorithm — each iteration re-scans its input — so fitting on the
    * full corpus pays ~iterations × corpus scans, which at scale
    * dwarfs everything else in the build. Centroid quality needs only a
    * representative sample (standard IVF practice: FAISS trains on
    * ~30–256 points per centroid), so `fitSampleFraction < 1` fits on a
    * seeded Bernoulli sample and then assigns the FULL corpus in ONE
    * narrow pass over [[assignToCentroids]]'s fused native
    * expressions — no shuffle, no per-iteration rescans of the corpus.
    * The default 1.0 keeps the historical exact-fit path (its
    * assignment comes from `model.transform`, preserved bit-for-bit for
    * persisted-index reproducibility). Recall at equal nprobe degrades
    * only marginally under sampling (spec: ≥ full-fit − 0.1 at 6/8 on
    * the synthetic corpus) because probe pruning depends on cluster
    * GEOMETRY, not on which rows voted for it. */
  def build(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      seed: Long = 42L,
      componentCol: Option[String] = None,
      fitSampleFraction: Double = 1.0): IvfIndex = {
    require(!vecs.columns.contains(ClusterCol),
      s"input already has a '$ClusterCol' column")
    require(fitSampleFraction > 0.0 && fitSampleFraction <= 1.0,
      s"fitSampleFraction must be in (0, 1], got $fitSampleFraction")
    componentCol.foreach { c =>
      require(vecs.columns.contains(c),
        s"componentCol '$c' not in input columns " +
          vecs.columns.mkString("[", ", ", "]"))
    }
    val featCol = "__ivf_features"
    val fitInput =
      if (fitSampleFraction >= 1.0) vecs
      else vecs.sample(withReplacement = false, fitSampleFraction, seed)
    val feats = fitInput.withColumn(featCol,
      array_to_vector(col(vecCol).cast("array<double>")))
    val model = new KMeans()
      .setK(nlist).setSeed(seed)
      .setFeaturesCol(featCol).setPredictionCol(ClusterCol)
      .fit(feats)
    val centroids = model.clusterCenters
      .map(_.toArray.map(_.toFloat))
    val clusterIds = centroids.indices.toArray
    val assigned =
      if (fitSampleFraction >= 1.0) model.transform(feats).drop(featCol)
      else assignToCentroids(vecs, vecCol, centroids, clusterIds)
    IvfIndex(centroids, assigned, idCol, vecCol, clusterIds, componentCol)
  }

  private[graft] val CentroidSidecar = "_centroids"

  /** pointer FILE naming the LIVE centroid sidecar directory — the
    * [[graft.sources.VersionedRoot]] primitive at sidecar granularity.
    * A parquet sidecar is a DIRECTORY, and no filesystem renames a
    * directory over a non-empty one atomically, so in-place lifecycles
    * that must swap the centroid set while readers run (rebalance's
    * per-pass publish) write a fresh `_centroids_v<N>` generation and
    * swap this one-line pointer by atomic rename instead — a reader
    * resolves the old generation or the new one, never a torn or
    * deleted-mid-rewrite sidecar (the r19 verdict #1 window).
    * Absent pointer = the default `_centroids` directory, keeping
    * every existing root and fresh [[IvfIndex#write]] layout
    * first-class. Underscore-prefixed, `=`-free names stay hidden
    * from Spark's data listing. */
  private[graft] val CentroidPtr = "_centroids_ptr"
  private val CentroidVersionPrefix = "_centroids_v"

  private def isSidecarGen(name: String): Boolean =
    name == CentroidSidecar ||
      (name.startsWith(CentroidVersionPrefix) &&
        name.stripPrefix(CentroidVersionPrefix).toIntOption.nonEmpty)

  /** the LIVE centroid sidecar directory for `root`: follow
    * [[CentroidPtr]] when present, else the default [[CentroidSidecar]] */
  private[graft] def centroidSidecarDir(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path = {
    val ptr = new org.apache.hadoop.fs.Path(root, CentroidPtr)
    if (!fs.exists(ptr)) new org.apache.hadoop.fs.Path(root, CentroidSidecar)
    else {
      val in = fs.open(ptr)
      val name =
        try new String(in.readAllBytes(), "UTF-8").trim
        finally in.close()
      require(isSidecarGen(name),
        s"corrupt centroid-sidecar pointer $ptr: '$name'")
      new org.apache.hadoop.fs.Path(root, name)
    }
  }

  /** Retire a root's generation pointer and every versioned sidecar
    * generation, making the default `_centroids` directory
    * authoritative — [[IvfIndex#write]]'s wholesale-rebuild reset.
    * Pointer first: a crash after it leaves only unreferenced
    * generation dirs (invisible to readers), never a pointer naming a
    * deleted dir. */
  private[operators] def dropSidecarPointer(spark: SparkSession,
      path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root, CentroidPtr), false)
    if (fs.exists(root)) fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && isSidecarGen(st.getPath.getName) &&
        st.getPath.getName != CentroidSidecar)
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** [[centroidSidecarDir]] as a string path for `spark.read` callers */
  private[graft] def resolvedCentroidSidecar(spark: SparkSession,
      path: String): String = {
    val root = new org.apache.hadoop.fs.Path(path)
    centroidSidecarDir(
      root.getFileSystem(spark.sessionState.newHadoopConf()), root)
      .toString
  }

  /** Atomically publish a new centroid set for a LIVE root: write the
    * frame into a fresh `_centroids_v<N>` generation, then swap
    * [[CentroidPtr]] by write-temp-and-rename (the VersionedRoot
    * primitive — FileContext Rename.OVERWRITE, atomic on posix and
    * HDFS). The previously-live generation AND its predecessor stay on
    * disk (keep-2: a reader slower than one full publish cycle — a
    * multi-pass rebalance publishes once per pass in quick succession —
    * still streams the generation it resolved; purging only the
    * grand-predecessor gives every reader two full cycles of grace,
    * the r20 verdict #2 / advice hazard). Everything older — and any
    * crashed publish's half-written dir, which sits ABOVE the live
    * version and no pointer ever named — is purged BEFORE the new
    * write. Crash anywhere: readers keep the old pointer and a
    * complete old generation; re-running completes the publish.
    * Caller holds whatever lifecycle lock the mutation needs
    * (rebalance's compact lock) — concurrency here is
    * publisher-vs-READERS, not publisher-vs-publisher. */
  private[operators] def publishCentroids(spark: SparkSession,
      path: String, cents: DataFrame): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    val cur = centroidSidecarDir(fs, root).getName
    val gens = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && isSidecarGen(st.getPath.getName))
      .map(_.getPath.getName)
    def ver(n: String): Int =
      if (n == CentroidSidecar) 1
      else n.stripPrefix(CentroidVersionPrefix).toInt
    val next = CentroidVersionPrefix +
      (gens.map(ver).maxOption.getOrElse(0) + 1)
    // keep: the live generation, the slot being written, and the
    // NEWEST generation strictly older than live (the predecessor a
    // one-cycle-stale reader may still be streaming); a crashed
    // publish's dir is newer than live and never kept
    val keepPred = gens.filter(n => ver(n) < ver(cur))
      .sortBy(ver).lastOption
    gens.filterNot(n => n == cur || n == next || keepPred.contains(n))
      .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(root, n), true))
    cents.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$path/$next")
    val ptr = new org.apache.hadoop.fs.Path(root, CentroidPtr)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/.$CentroidPtr.${ProcessHandle.current().pid()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.getBytes("UTF-8"))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      ptr.toUri, conf)
    try fc.rename(tmp, ptr,
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    catch {
      case e: Throwable =>
        try fs.delete(tmp, false)
        catch { case scala.util.control.NonFatal(_) => }
        throw e
    }
  }

  /** 1-byte/dim SQ8 code column a `quantize = true` [[IvfIndex#write]]
    * stores beside each vector */
  private[graft] val Sq8CodeCol = "__sq8_code"

  /** sidecar holding the per-dimension SQ8 affine params (one row:
    * mins array<double>, scales array<double>) — underscore-hidden from
    * Spark's data listing like the centroid sidecar */
  private[graft] val Sq8Sidecar = "_sq8_params"

  /** Per-dimension SQ8 affine params from the corpus: min_d and
    * scale_d = (max_d − min_d)/255. One aggregation keyed on (dim) —
    * dim-count keys with scalar min/max buffers, order-independent and
    * therefore deterministic; the mins/maxes are exact float values
    * widened to double, so a SQL replay reproduces the grid exactly.
    * A constant dimension gets scale 0 (its codes are all 0 and decode
    * to the exact constant). */
  /** Unit-normalize a float-vector column: each element becomes
    * `(x / ||v||)` cast back to float (so the driver-side query
    * normalization — the same double divide + float cast — is
    * bit-identical). A zero-norm vector passes through unchanged,
    * matching [[graft.plans.CosineSimilarityExpr]]'s zero-similarity
    * convention. Spark HOFs (CodegenFallback) — build/append-time only,
    * never on the search hot path. */
  private[operators] def unitNormalizeCol(v: Column): Column = {
    val n = sqrt(aggregate(v, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    when(n === lit(0.0), v)
      .otherwise(transform(v, x => (x.cast("double") / n).cast("float")))
  }

  /** driver-side twin of [[unitNormalizeCol]] for query vectors */
  private[operators] def unitNormalize(q: Seq[Float]): Seq[Float] = {
    var n = 0.0
    q.foreach(x => n += x.toDouble * x.toDouble)
    if (n == 0.0) q
    else {
      val s = math.sqrt(n)
      q.map(x => (x.toDouble / s).toFloat)
    }
  }

  private[graft] def sq8ParamsOf(vecs: DataFrame, vecCol: String)
      : (Seq[Double], Seq[Double]) = {
    val rows = vecs
      .select(posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy("d").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
      .map(r => (r.getInt(0), r.getFloat(1).toDouble, r.getFloat(2).toDouble))
      .sortBy(_._1)
    (rows.map(_._2).toSeq,
      rows.map { case (_, mn, mx) => (mx - mn) / 255.0 }.toSeq)
  }

  /** Nearest-EXISTING-centroid assignment as one narrow column
    * expression: per row, an array of (native l2sq distance, cluster id)
    * structs — struct ordering makes `array_min` the argmin with a
    * deterministic lowest-id tie-break — no shuffle, no ML job. A null
    * or dimension-mismatched vector raises instead of silently landing
    * in a null partition. */
  private[graft] def assignToCentroids(vecs: DataFrame, vecCol: String,
      centroids: Array[Array[Float]], clusterIds: Array[Int]): DataFrame = {
    graft.plans.VectorExpressions.ensureRegistered(vecs.sparkSession)
    val dim = centroids.head.length
    val pairs = array(centroids.zip(clusterIds).map { case (c, cid) =>
      struct(
        call_function("graft_l2sq", col(vecCol), KnnSearch.litVec(c.toSeq))
          .as("d"),
        lit(cid).as("c"))
    }: _*)
    vecs.withColumn(ClusterCol,
      when(col(vecCol).isNull || size(col(vecCol)) =!= dim,
        raise_error(concat(lit(s"IvfIndex.appendTo: vector must be " +
          s"non-null with dim $dim, got dim "),
          coalesce(size(col(vecCol)).cast("string"), lit("null")))))
        .otherwise(array_min(pairs).getField("c")))
  }

  /** The SQ8 row encode shared by [[IvfIndex#write]] and [[appendTo]]:
    * one byte per dimension on the fixed `grid` (mins, scales); a
    * normalized (cosine) grid encodes the UNIT-normalized vector. */
  private def sq8Encode(spark: SparkSession, vecCol: String,
      grid: (Seq[Double], Seq[Double]), normalized: Boolean): Column = {
    graft.plans.VectorExpressions.ensureRegistered(spark)
    call_function("graft_sq8_encode",
      if (normalized) unitNormalizeCol(col(vecCol)) else col(vecCol),
      typedLit(grid._1 ++ grid._2))
  }

  /** an IVF root as the lifecycle core sees it: rows in the root itself,
    * partitioned by component (scoped layout) then cluster. Compact
    * requires the live centroid generation `centroids` (copied back
    * under the default name — copy-based lifecycles need no generation
    * history) and carries the SQ8 grid when present. */
  private def persisted(path: String, componentCol: Option[String],
      centroids: String = CentroidSidecar): PersistedRoot =
    PersistedRoot(path, "", componentCol.toSeq :+ ClusterCol, Seq(
      PersistedRoot.Sidecar(CentroidSidecar, centroids, required = true),
      PersistedRoot.Sidecar.optional(Sq8Sidecar)))

  /** Incremental maintenance of a PERSISTED index root (the reference's
    * continuous inserts into the indexed table — doc_embedder.py:90-114
    * insert into the HNSW table, load.py:26): assign new vectors to the
    * EXISTING centroids (sidecar read only — no corpus scan, NO refit)
    * and append them into the cluster-partitioned layout. Assignment is
    * a narrow per-row map (nlist native distance expressions, no
    * shuffle, no k-means job), so appends are cheap at any corpus size;
    * recall for existing vectors is untouched, and each new vector lands
    * exactly where a fresh assignment against these centroids would put
    * it. Centroid drift after MANY appends is the standard IVF
    * trade-off — [[rebalance]] or rebuild to refresh. The `_centroids`
    * sidecar is untouched, so concurrent readers and the cached
    * centroids ([[sidecarCentroids]]) stay valid. Many small
    * appends accumulate small files per partition — [[compact]] them. */
  def appendTo(spark: SparkSession, path: String, newVecs: DataFrame,
      idCol: String, vecCol: String): Unit = {
    for (c <- Seq(ClusterCol, Sq8CodeCol))
      require(!newVecs.columns.contains(c),
        s"appendTo takes RAW rows — input already has a '$c' column")
    val idx = load(spark, path, idCol, vecCol)
    val assignedNew =
      assignToCentroids(newVecs, vecCol, idx.centroids, idx.clusterIds)
    // a QUANTIZED root's appended rows must carry codes too — appending
    // without the column would leave nulls under schema merge and make
    // the rows silently invisible to searchQuantized's first pass. The
    // grid is FIXED at build time (like the centroids): out-of-range
    // appended values clamp to the grid edge, the standard SQ8 drift
    // trade-off — rebuild to refresh the grid along with the centroids.
    val withCodes = idx.sq8Params.fold(assignedNew)(grid =>
      assignedNew.withColumn(Sq8CodeCol,
        sq8Encode(spark, vecCol, grid, idx.sq8Normalized)))
    PersistedRoot.append(spark, persisted(path, idx.componentCol),
      withCodes)
  }

  /** Compact a fragmented index root into `destPath`: incremental
    * [[appendTo]] (streaming ingest appends one file per micro-batch
    * per partition directory) makes the small-file COUNT — not data
    * volume — dominate listing and scan-task overhead at scale. One
    * shuffle keyed on the partition columns (component level included
    * when present), `maxRecordsPerFile` bounding file size, the SAME
    * directory layout out; the `_centroids` sidecar is copied
    * byte-for-byte so the compacted root is bit-compatible for
    * [[load]]/search and the [[graft.plans.IvfAutoProbe]] rule.
    * Copy-compact, never in-place (shared core
    * [[graft.sources.PersistedRoot.compact]]: Spark refuses to overwrite a path
    * it reads, and delete-then-rewrite would lose the live index on a
    * mid-job failure; the guard compares Hadoop-qualified roots and
    * refuses nesting too) — swap readers to the fresh root afterwards.
    * QUIESCE streaming ingest into srcPath first: the read snapshots
    * the file listing at plan time, so micro-batches appended after
    * that are committed per their markers yet absent from destPath —
    * silent loss with no error anywhere. That precondition is now also
    * ENFORCED mechanically: the `_ingest_log` marker listing is
    * snapshotted BEFORE the source read and re-listed after the copy —
    * a marker that appeared in between means a streaming batch
    * committed mid-compact, and the compact ABORTS, deleting the
    * fully-formed-but-incomplete destPath (left on disk it would load
    * as a valid index that silently lost that batch). The residual race — a batch whose data landed after the
    * plan-time listing but whose marker had not yet been created at the
    * re-list — is the same crash window [[
    * graft.streaming.EventStreams.indexedIngest]] already documents;
    * only a filesystem lock the sink honors could close it, and plain
    * parquet has none. Ingest-log markers are
    * deliberately NOT copied: the fresh root starts a fresh
    * streaming-ingest lifecycle. A failure AFTER the data write but
    * before the sidecar lands raises (and the partial destPath would
    * load through the lossy per-(cluster,dim)-means fallback) — re-run
    * the compact; destPath's auto-probe caches are invalidated at the
    * end so compacting onto a previously-used root cannot serve stale
    * centroids.
    *
    * `dedupIdCol`: the streaming ingest's at-least-once windows (the
    * marker-crash gap and the post-append lock re-check, both
    * documented at [[graft.streaming.EventStreams.indexedIngest]]) can
    * leave the SAME id appended twice — a top-k would then return one
    * id in two rows. Passing the id column collapses duplicates here
    * (one row per id survives; duplicate rows from a re-delivered
    * batch are byte-identical under a deterministic embed seam, so
    * which one is immaterial) at the cost of one extra shuffle —
    * opt-in because a clean batch-built root shouldn't pay it. */
  def compact(spark: SparkSession, srcPath: String, destPath: String,
      targetRowsPerFile: Long = 500000L,
      dedupIdCol: Option[String] = None): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val srcRoot = new org.apache.hadoop.fs.Path(srcPath)
    val srcFs = srcRoot.getFileSystem(conf)
    acquireCompactLock(srcFs, srcRoot)
    try {
      // AFTER the lock, BEFORE the read: the ingest sink refuses new
      // batches once the lock exists, and the marker re-list below
      // catches any batch that was already in flight across the
      // acquisition; the read's plan-time file listing defines what the
      // copy can possibly carry, so any marker not already present here
      // describes a batch the copy may have missed
      val markersBefore = ingestMarkers(srcFs, srcRoot)
      val df = spark.read.parquet(srcPath)
      val parts = partitionColsOf(df)
      require(parts.contains(ClusterCol),
        s"$srcPath is not an IVF index root (no $ClusterCol partition level)")
      val data = dedupIdCol match {
        case Some(id) =>
          require(df.columns.contains(id),
            s"compact: dedupIdCol '$id' is not a column of $srcPath")
          df.dropDuplicates(id)
        case None => df
      }
      // the src's LIVE sidecar generation (a rebalanced root carries a
      // pointer) is required — without it destPath would load through
      // the lossy per-(cluster,dim)-means fallback
      PersistedRoot.compact(spark,
        persisted(srcPath, parts.filterNot(_ == ClusterCol).headOption,
          centroidSidecarDir(srcFs, srcRoot).getName),
        data, destPath, targetRowsPerFile)
      // GAINED markers only: a marker that disappeared (crash-recovery
      // cleanup, manual deletion) means no data the copy could have
      // missed — aborting on it would discard a complete destPath
      val gained = (ingestMarkers(srcFs, srcRoot) -- markersBefore)
        .toSeq.sorted
      if (gained.nonEmpty) {
        // destPath is fully formed at this point (data + sidecar) yet
        // silently missing the mid-compact batches — DELETE it before
        // throwing, or any retry script that races/swallows the
        // exception would load it as a valid index (the exact silent
        // loss this guard exists to prevent). The delete is best-effort:
        // its own failure must not REPLACE the MID-COMPACT diagnostic
        // (the message then says the discard is on the operator).
        val destRoot = new org.apache.hadoop.fs.Path(destPath)
        val deleted =
          try destRoot.getFileSystem(conf).delete(destRoot, true)
          catch { case scala.util.control.NonFatal(_) => false }
        val destNote =
          if (deleted) s"destPath $destPath would have silently lost " +
            "them and has been deleted."
          else s"destPath $destPath would silently lose them and could " +
            "NOT be deleted — DISCARD IT MANUALLY before any reader " +
            "finds it."
        throw new IllegalStateException(
          s"compact: streaming ingest committed ${gained.size} batch(es) " +
            s"into $srcPath MID-COMPACT (${gained.mkString(", ")}) — " +
            s"$destNote Quiesce the ingest query (stop it, or wait " +
            "for its markers to settle) and re-run compact.")
      }
    } finally releaseCompactLock(spark, srcPath)
  }

  /** [[compact]] into a fresh [[graft.sources.VersionedRoot]] version
    * of `base` and publish it by pointer swap — the ONE publish idiom
    * ([[graft.sources.VersionedRoot.publishVia]]) for every
    * rebuild-shaped lifecycle: readers resolving `base` serve the old
    * version until the atomic rename, then the compacted one; a crash
    * anywhere leaves the pointer on the old version and an
    * unreferenced build dir that [[graft.sources.VersionedRoot.prune]]
    * reclaims once superseded. Requires `base` to be pointered already
    * (build the first root into `v-1` and
    * [[graft.sources.VersionedRoot.publish]] it) — compacting an
    * unversioned root INTO its own subdirectory would leave the old
    * files shadowing the data path. Returns the published version. */
  def compactVersioned(spark: SparkSession, base: String,
      targetRowsPerFile: Long = 500000L,
      dedupIdCol: Option[String] = None): Int = {
    val src = graft.sources.VersionedRoot.current(spark, base)
      .getOrElse(throw new IllegalArgumentException(
        s"compactVersioned: $base carries no version pointer — write " +
          "the first root into v-1 and publish it, or use compact() " +
          "with an explicit destPath"))
    graft.sources.VersionedRoot.publishVia(spark, base)(dest =>
      compact(spark, src, dest, targetRowsPerFile, dedupIdCol))
  }

  /** [[rebalance]] ONTO A COPY published through
    * [[graft.sources.VersionedRoot]]: the current version is copied
    * into a fresh `v-N`, the copy is rebalanced in place (only its
    * oversized cells pay the split work), and the pointer swap
    * publishes the repaired layout atomically — the
    * fully-versioned alternative to the in-place [[rebalance]] for
    * deployments that want instant rollback (`publish` the old
    * number) around every maintenance action. The copy pays one full
    * root read+write — the price of version isolation; the in-place
    * face with its atomic sidecar publish
    * ([[IvfIndex.publishCentroids]]) is the cheap default. Returns
    * (published version, total cells split). */
  def rebalanceVersioned(spark: SparkSession, base: String,
      idCol: String, vecCol: String, maxCellRows: Long,
      seed: Long = 42L, maxPasses: Int = 8): (Int, Int) = {
    val src = graft.sources.VersionedRoot.current(spark, base)
      .getOrElse(throw new IllegalArgumentException(
        s"rebalanceVersioned: $base carries no version pointer — " +
          "write the first root into v-1 and publish it, or use the " +
          "in-place rebalance()"))
    var splits = 0
    val conf = spark.sessionState.newHadoopConf()
    val v = graft.sources.VersionedRoot.publishVia(spark, base) { dest =>
      val srcP = new org.apache.hadoop.fs.Path(src)
      val dstP = new org.apache.hadoop.fs.Path(dest)
      val fs = srcP.getFileSystem(conf)
      require(org.apache.hadoop.fs.FileUtil.copy(fs, srcP,
        dstP.getFileSystem(conf), dstP, false, conf),
        s"rebalanceVersioned: copy $src -> $dest failed")
      splits = rebalance(spark, dest, idCol, vecCol, maxCellRows,
        seed, maxPasses)
    }
    (v, splits)
  }

  /** Targeted deletion from a PERSISTED index root — the
    * right-to-be-forgotten pass and the `removed`/`changed` leg of a
    * CDC-driven incremental maintenance cycle
    * ([[graft.operators.SnapshotDiff]] → delete old rows → [[appendTo]]
    * new rows; centroids stay fixed like every other index mutation,
    * the documented drift trade-off), through
    * [[graft.sources.PersistedRoot.delete]]: only the partition
    * directories that actually hold a doomed id are rewritten (the
    * index's own layout — component level included when present);
    * untouched partitions keep their exact files, the sidecar is never
    * touched, and re-running the same delete is a no-op. Returns the
    * number of affected partition directories. */
  def deleteByIds(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String, vecCol: String): Int = {
    val idx = load(spark, path, idCol, vecCol)
    PersistedRoot.delete(spark, persisted(path, idx.componentCol),
      idx.assigned, idCol, ids).size
  }

  /** Rebalance a persisted root IN PLACE: split every cluster holding
    * more than `maxCellRows` rows into `ceil(size / maxCellRows)`
    * sub-cells via a deterministic driver-side k-means fit on a
    * bounded lowest-id SAMPLE of that cluster's own rows (fixed
    * `seed`; the full cell pays one narrow assignment pass), retiring the split cluster's id and
    * centroid in favor of the sub-cells' — the repair for the skew
    * q206 diagnoses: probe pruning's `nprobe/nlist` win and every
    * per-cell work bound (q86/q187's pair caps, scan-task balance)
    * assume no mega-cell, and an append-heavy lifecycle concentrates
    * drifted inserts into whichever centroid sits nearest the new
    * mass. The result is a PLAIN IVF root with more, smaller cells —
    * [[load]]/[[IvfIndex#search]]/[[appendTo]]/[[deleteByIds]]/
    * [[compact]] all keep their contracts verbatim (append assigns
    * against the new sidecar, so future inserts spread over the
    * sub-cells; search at full probe is exact because the sub-cells
    * PARTITION the old cell's rows). Quantized roots keep their
    * stored SQ8 codes byte-for-byte — the grid is row-scoped, not
    * cluster-scoped, so a row changing cells never re-encodes.
    *
    * Scale shape: only OVERSIZED cells are touched — per split, one
    * cell-scoped k-means fit + one narrow reassignment write of that
    * cell's rows (never a corpus pass, never a shuffle beyond the
    * fit), a driver loop bounded by nlist. Untouched cells' files are
    * not read, not rewritten.
    *
    * Crash ordering (the [[graft.streaming.EventStreams.indexedIngest]]
    * lock discipline guards concurrent ingest; this method holds the
    * same `_compact_lock`): sub-cell rows APPEND under fresh cluster
    * ids first, the sidecar swap then publishes them and retires the
    * split ids, old directories are deleted last. Readers rank probes
    * against SIDECAR ids only, so at every crash point a search
    * answers correctly — rows are never half-visible: before the swap
    * the sub-dirs are orphans (ids not in the sidecar → never
    * probed), after it the OLD dirs are the orphans. The orphan-purge
    * pass at the START of the next rebalance (any cluster directory
    * whose id the sidecar does not know) completes a crashed run.
    * The sidecar swap itself is ATOMIC ([[IvfIndex.publishCentroids]]:
    * fresh `_centroids_v<N>` generation + one pointer-file rename,
    * the [[graft.sources.VersionedRoot]] primitive at sidecar
    * granularity), so a CONCURRENT reader — readers take no lock; a
    * live [[graft.streaming.EventStreams.servingSearch]] reloads the
    * root per trigger — resolves the old centroid set or the new one,
    * never a deleted-mid-rewrite sidecar, and a crash during the
    * publish leaves the old generation live (the r19 manual-re-run
    * window is closed; spec: rebalance-while-serving chaos act).
    *
    * Splitting runs in PASSES: k-means does not balance, so a split
    * of a 5×-oversized cell can leave a sub-cell itself oversized —
    * each pass re-splits what the previous one left too big, until
    * every cell fits, a pass makes no progress (a degenerate cell of
    * near-identical points that k-means cannot separate is FROZEN
    * after a split returns it whole), or `maxPasses` is hit.
    *
    * Returns the TOTAL number of cells split across passes (0 =
    * already balanced, nothing touched beyond the orphan purge). */
  def rebalance(spark: SparkSession, path: String, idCol: String,
      vecCol: String, maxCellRows: Long, seed: Long = 42L,
      maxPasses: Int = 8): Int = {
    require(maxCellRows >= 1, s"maxCellRows must be >= 1, got $maxCellRows")
    require(maxPasses >= 1, s"maxPasses must be >= 1, got $maxPasses")
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(centroidSidecarDir(fs, root)),
      s"rebalance: $path has no $CentroidSidecar sidecar — refusing to " +
        "rebalance a root whose centroid provenance is unknown (legacy " +
        "fallback roots must be rebuilt first)")
    acquireCompactLock(fs, root)
    try {
      // recovery: a crashed earlier rebalance leaves cluster dirs the
      // sidecar does not know (either generation of orphans — see the
      // crash-ordering note). They are invisible to every probe, so
      // deleting them restores exactly the last published state.
      // (Resolve the sidecar pointer AFTER the lock: the live one is
      // whatever the last completed publish named.)
      val knownIds = spark.read
        .parquet(centroidSidecarDir(fs, root).toString)
        .select("cluster_id").collect().map(_.getInt(0)).toSet
      val orphans = clusterDirs(fs, root).filterNot(d => knownIds(d._1))
      orphans.foreach(d => fs.delete(d._2, true))
      if (orphans.nonEmpty) PersistedRoot.invalidate(spark, path)

      var totalSplits = 0
      var frozen = Set.empty[Int]
      // child id -> parent size, from the LAST pass: a child as big
      // as its parent came back whole from its split — k-means cannot
      // separate it (near-identical points); freeze it or loop forever
      var lastChildren = Map.empty[Int, Long]
      var pass = 0
      var progressing = true
      while (progressing && pass < maxPasses) {
        pass += 1
        val idx = load(spark, path, idCol, vecCol)
        val parts = idx.componentCol.toSeq :+ ClusterCol
        val sizes = idx.assigned
          .groupBy(col(ClusterCol)).agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getInt(0), r.getLong(1)))
        frozen ++= sizes.collect {
          case (cid, n) if lastChildren.get(cid).contains(n) => cid
        }
        val oversized = sizes
          .filter { case (c, n) => n > maxCellRows && !frozen(c) }
          .sortBy(_._1)
        if (oversized.isEmpty) progressing = false
        else {
          var nextId = idx.clusterIds.max + 1
          var cents: Seq[(Int, Array[Float])] =
            idx.clusterIds.zip(idx.centroids).toSeq
          val children = Map.newBuilder[Int, Long]
          val reassigned = Seq.newBuilder[DataFrame]
          for ((cid, sz) <- oversized) {
            val j = math.ceil(sz.toDouble / maxCellRows).toInt
            val rows = idx.assigned
              .filter(col(ClusterCol) === cid).drop(ClusterCol)
            // SAMPLE-FIT, driver-side (the Pq.fit / FAISS recipe, and
            // the same trade as build's fitSampleFraction): the
            // sub-centroids come from a deterministic lowest-id sample
            // of the cell — one bounded pruned collect — and the full
            // cell pays exactly ONE narrow assignment pass. The
            // previous MLlib sub-fit ran multi-job k-means over the
            // whole cell per iteration — measured in
            // PLANS.md round 19 as the dominant cost, and the
            // shape that would re-scan a mega-cell iterations× at
            // 100 TB.
            val sample = rows
              .filter(col(vecCol).isNotNull)
              .orderBy(col(idCol)).limit(math.max(256, 32 * j))
              .select(col(vecCol)).collect()
              .map(_.getSeq[Float](0).toArray)
            // a cell of near-identical points can hold fewer distinct
            // vectors than j — fit what exists; a 1-centroid "split"
            // makes no progress and the freeze above retires the cell
            val kEff = math.min(j, sample.map(_.toSeq).distinct.length)
            val subCents = Pq.lloyd(sample, kEff, seed, iterations = 10)
            val subIds = subCents.indices.map(nextId + _).toArray
            nextId += subCents.length
            // the shared assignment core: same distance arithmetic and
            // argmin tie rule as build/append, so the sub-cells obey
            // the exact contract every later append extends
            reassigned += assignToCentroids(rows, vecCol, subCents, subIds)
            cents = cents.filterNot(_._1 == cid) ++ subIds.zip(subCents)
            subIds.foreach(k => children += k -> sz)
          }
          // ONE append job lands every split cell of this pass (the
          // per-split spelling paid a full write barrier per cell —
          // measured 15 jobs for an 8-cell root, PLANS.md round 19;
          // job count is the toy-scale cost, write VOLUME the at-scale
          // one, and batching fixes the first without touching the
          // second)
          reassigned.result().reduce(_.unionByName(_))
            .write.mode(SaveMode.Append)
            .partitionBy(parts: _*).parquet(path)
          // publish: the ATOMIC sidecar swap (fresh generation +
          // pointer rename) makes the sub-cells live and retires the
          // split ids in one reader-visible step — a concurrent
          // serving trigger resolves a complete centroid set on
          // either side of it
          publishCentroids(spark, path,
            cents.sortBy(_._1).toDF("cluster_id", "centroid"))
          // retire the split cells' directories (now sidecar-orphans)
          val splitIds = oversized.map(_._1).toSet
          clusterDirs(fs, root).foreach { case (cid, p) =>
            if (splitIds.contains(cid)) fs.delete(p, true)
          }
          PersistedRoot.invalidate(spark, path)
          totalSplits += oversized.length
          lastChildren = children.result()
        }
      }
      totalSplits
    } finally releaseCompactLock(spark, path)
  }

  /** every `__ivf_cluster=N` partition directory under `root` (one
    * level down on a flat layout, under each component dir on a
    * two-level one), with its parsed cluster id */
  private def clusterDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : Seq[(Int, org.apache.hadoop.fs.Path)] = {
    val prefix = s"$ClusterCol="
    def walk(p: org.apache.hadoop.fs.Path, depth: Int)
        : Seq[(Int, org.apache.hadoop.fs.Path)] =
      fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith(prefix))
          name.stripPrefix(prefix).toIntOption
            .map(id => (id, st.getPath)).toSeq
        else if (depth < 1 && !name.startsWith("_") &&
          !name.startsWith("."))
          walk(st.getPath, depth + 1) // the component level
        else Seq.empty
      }
    walk(root, 0)
  }

  /** Lock file [[compact]] holds on the SOURCE root while it copies —
    * underscore-prefixed, so hidden from Spark's data listing like the
    * sidecar and the ingest log. [[graft.streaming.EventStreams
    * .indexedIngest]] refuses to start a batch while it exists, turning
    * the compact-vs-ingest race from silent data loss into a loud,
    * restartable failure (markers make the post-restart re-run
    * idempotent). */
  private[graft] val CompactLockFile = "_compact_lock"

  /** Atomically create the lock (`create(overwrite = false)` — the
    * same primitive Spark's own checkpoint managers rely on for
    * rename-free filesystems). An existing lock means another compact
    * is running — or crashed without cleanup, since plain filesystems
    * give no lease expiry; the error says which and names
    * [[releaseCompactLock]] as the recovery for the stale case. The
    * lock body records owner pid + timestamp for diagnosis. */
  private def acquireCompactLock(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    val lock = new org.apache.hadoop.fs.Path(root, CompactLockFile)
    // the already-exists diagnosis wraps ONLY the create: a failure
    // writing the diagnostic body below happens on a lock WE own, and
    // routing it here would misreport our own half-written lock as a
    // foreign compactor's and leak it — wedging every future compact
    // and ingest batch on this root until a human intervenes
    val out =
      try fs.create(lock, false)
      catch {
        // filesystems disagree on the no-overwrite failure type (hadoop
        // FileAlreadyExistsException vs plain IOException on the local
        // fs) — what is uniform is that the lock exists afterwards
        case _: java.io.IOException if fs.exists(lock) =>
          val owner =
            try {
              val in = fs.open(lock)
              try new String(in.readAllBytes(), "UTF-8") finally in.close()
            } catch { case scala.util.control.NonFatal(_) => "unknown" }
          throw new IllegalStateException(
            s"compact: $lock already exists ($owner) — another compact " +
              "of this root is running, or a previous one crashed " +
              "without cleanup. If no compact is live, release it with " +
              "IvfIndex.releaseCompactLock and re-run.")
      }
    try {
      out.write(
        s"pid=${ProcessHandle.current().pid()} ts=${
          java.time.Instant.now()}".getBytes("UTF-8"))
      out.close()
    } catch { case e: java.io.IOException =>
      // best-effort removal of our own lock; surface the ORIGINAL error
      try fs.delete(lock, false)
      catch { case scala.util.control.NonFatal(_) => }
      throw e
    }
  }

  /** Remove the compact lock from `root` — called by [[compact]] on
    * every exit, and PUBLIC as the documented recovery for a lock left
    * behind by a crashed compact process (verify no compact is live
    * first; plain filesystems cannot expire it automatically). */
  def releaseCompactLock(spark: SparkSession, root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$CompactLockFile")
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, false)
  }

  /** Root-relative paths of every DATA file under `root` — the
    * recursive listing minus hidden names at any level, under SPARK'S
    * visibility rule (HadoopFSUtils.shouldFilterOutPathName): a name
    * is hidden when it starts with `.`, or starts with `_` WITHOUT
    * containing `=` — the `=` exception keeps hive partition
    * directories for underscore-prefixed partition COLUMNS visible
    * (this index's own `__ivf_cluster=N` dirs; sidecars, ingest logs,
    * locks, markers, `_SUCCESS` stay hidden). Anything Spark would
    * scan, this lists — a stricter rule here once made the recovery
    * purge see zero files and silently keep crashed duplicates. This is
    * the snapshot [[graft.streaming.EventStreams.indexedIngest]]
    * records in a batch's `.started` marker BEFORE its append, so the
    * crash-recovery purge can remove exactly the files that crashed
    * append added — file-scoped, never id-scoped, because ids may
    * legitimately repeat across batches (upstream streaming dedup is
    * by content fingerprint within a watermark, not by id) and an
    * id-scoped purge would silently delete an EARLIER batch's
    * committed row. Metadata-only: no Spark job. */
  private[graft] def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Set[String] = {
    val q = fs.makeQualified(root)
    val out = Set.newBuilder[String]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (!name.startsWith(".") &&
            (!name.startsWith("_") || name.contains("="))) {
          if (st.isDirectory) walk(st.getPath)
          else out += st.getPath.toString
            .stripPrefix(q.toString).stripPrefix("/")
        }
      }
    walk(q)
    out.result()
  }

  /** Delete every data file under `root` that is NOT in `snapshot` (a
    * prior [[listDataFiles]] capture) — the crash-recovery arm of the
    * streaming-ingest commit protocol: files added after the snapshot
    * are exactly the crashed append's remnants (full or partial).
    * SINGLE-WRITER contract: correctness requires that no other
    * writer touched the root between the snapshot and this purge —
    * [[compact]] is excluded by its lock (the ingest sink refuses
    * batches under it), and concurrent [[deleteByIds]]/[[appendTo]]
    * against a live ingest root were already outside the supported
    * lifecycle (their rewrites would race the ingest's own listing).
    * Emptied partition directories are left in place (partition
    * discovery tolerates them; the next append or compact reclaims
    * them). Returns the number of files removed; refreshes the
    * session file-listing cache and fires invalidation hooks only
    * when something was removed. */
  private[graft] def purgeFilesNotIn(spark: SparkSession, path: String,
      snapshot: Set[String]): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val added = (listDataFiles(fs, root) -- snapshot).toSeq.sorted
    added.foreach { rel =>
      fs.delete(new org.apache.hadoop.fs.Path(root, rel), false)
    }
    if (added.nonEmpty) PersistedRoot.invalidate(spark, path)
    added.size
  }

  /** every committed-batch marker under `root/_ingest_log`, as
    * root-relative paths — the concurrent-ingest tripwire for
    * [[compact]]. Empty when the directory is absent (a root never fed
    * by streaming ingest). */
  private def ingestMarkers(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Set[String] = {
    val log = new org.apache.hadoop.fs.Path(root,
      graft.streaming.EventStreams.IngestLogDir)
    try {
      val out = Set.newBuilder[String]
      val it = fs.listFiles(log, true)
      while (it.hasNext) {
        val st = it.next()
        out += st.getPath.toString.stripPrefix(
          fs.makeQualified(root).toString)
      }
      out.result()
    } catch { case _: java.io.FileNotFoundException => Set.empty }
  }

  /** partition columns of a parquet-backed frame, in directory-nesting
    * order — how [[load]] recovers the layout (component level included)
    * without a manifest. */
  private def partitionColsOf(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
    }.collectFirst {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.partitionSchema.fieldNames.toSeq
    }.getOrElse(Seq.empty)

  /** Reload a persisted index. Centroids come from the `_centroids`
    * sidecar [[IvfIndex#write]] drops next to the data — a single tiny
    * file read, no corpus scan. For indexes written without a sidecar,
    * fall back to recomputing per-cluster means via posexplode +
    * per-(cluster, dim) avg: nlist × dim aggregation rows, never a
    * collect_list of whole vectors into one buffer (the round-3 OOM
    * hazard at cluster scale). */
  def load(spark: SparkSession, path: String, idCol: String,
      vecCol: String): IvfIndex = {
    // the schema is cached per root stamp: parquet schema inference is a
    // Spark job per read, and a serving loop may load once per query
    val (fs, root) = PersistedRoot.fileSystem(spark, path)
    val rootStamp = PersistedRoot.fsStamp(fs, root)
    val assigned = spark.read.schema(PersistedRoot.cached(fs, root,
      "ivf.schema", rootStamp)(spark.read.parquet(path).schema)).parquet(path)
    // the layout IS the manifest: a partition level other than the
    // cluster column means this index was written component-scoped
    val component = partitionColsOf(assigned)
      .filterNot(_ == ClusterCol).headOption
    // The generation POINTER resolves on EVERY load (a cheap fs stat —
    // no Spark job), preserving the read-per-trigger contract an
    // in-place rebalance publish relies on, cross-process included.
    // The parsed centroids and SQ8 grid come from the one root-metadata
    // cache ([[PersistedRoot.cached]]), stamped by the generation and a
    // listing of the files they derive from, so a hit makes load() ZERO
    // Spark jobs where it paid 2 collect jobs per query invocation
    // before (r21, guide §1.2 — across ~80 IVF-family queries × reps
    // this was the suite's single largest fixed overhead), and a
    // rewrite by any process is a new stamp.
    val byId = sidecarCentroids(spark, fs, root).getOrElse {
      // legacy layout (no sidecar): centroids COMPUTED FROM THE DATA,
      // stamped by the data listing and keyed on vecCol (two loads of
      // one path with different column bindings must not share an
      // entry). One pass, keyed on (cluster, dim) — the agg state is a
      // scalar per key, uniform by construction
      PersistedRoot.cached(fs, root, s"ivf.centroids.data|$vecCol",
          rootStamp) {
        assigned
          .select(col(ClusterCol), posexplode(col(vecCol)).as(Seq("d", "x")))
          .groupBy(col(ClusterCol), col("d"))
          .agg(avg(col("x")).as("m"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
          .groupBy(_._1)
          .map { case (cid, xs) =>
            cid -> xs.sortBy(_._2).map(_._3.toFloat).toArray
          }
          .toArray.sortBy(_._1)
      }
    }
    // quantized roots carry their SQ8 grid in a sidecar; its absence —
    // or a present-but-empty directory left by an interrupted write —
    // just means the index loads unquantized (exact search unaffected)
    val sq8Dir = new org.apache.hadoop.fs.Path(root, Sq8Sidecar)
    val (sq8, normalized) = PersistedRoot.cached(fs, sq8Dir, "ivf.sq8",
        PersistedRoot.fsStamp(fs, sq8Dir)) {
      val sq8Row =
        try spark.read.parquet(sq8Dir.toString).take(1).headOption
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      // legacy sidecars predate the flag: absent column = raw (L2) grid
      (sq8Row.map(r => (r.getSeq[Double](r.fieldIndex("mins")),
        r.getSeq[Double](r.fieldIndex("scales")))),
        sq8Row.exists(r => r.schema.fieldNames.contains("normalized") &&
          r.getBoolean(r.fieldIndex("normalized"))))
    }
    IvfIndex(byId.map(_._2), assigned, idCol, vecCol, byId.map(_._1),
      component, sq8, normalized)
  }

  /** The live `_centroids` generation of `root` as (cluster id,
    * centroid) pairs in id order, or None when the root has no readable
    * sidecar. Cached in [[PersistedRoot.cached]] under the generation
    * name plus the sidecar listing — one pointer stat and one listing
    * per call, no Spark job on a hit. [[load]] and the
    * [[graft.plans.IvfAutoProbe]] rule both read it here, so a root's
    * centroids are parsed once per stamp, whichever reads first. */
  private[graft] def sidecarCentroids(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path)
      : Option[Array[(Int, Array[Float])]] = {
    val sidecar = centroidSidecarDir(fs, root)
    val stamp = PersistedRoot.fsStamp(fs, sidecar)
    if (stamp == "absent") None
    else
      try Some(PersistedRoot.cached(fs, root, "ivf.centroids",
          s"${sidecar.getName}|$stamp") {
        spark.read.parquet(sidecar.toString).collect()
          .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
          .sortBy(_._1)
      })
      catch { case _: org.apache.spark.sql.AnalysisException => None }
  }
}
