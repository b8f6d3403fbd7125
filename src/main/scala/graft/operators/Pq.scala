package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.sources.PersistedRoot

/** Product quantization (PQ) — the FAISS `PQm` shape, completing the
  * engine's quantization family next to IVF-SQ8 (SURVEY §8.2): the
  * vector is split into `m` subspaces of `dim/m` dimensions, each
  * subspace gets its own small codebook (`ksub` centroids from a
  * k-means fit), and a vector is stored as `m` one-byte codes —
  * m bytes instead of 4·dim float bytes (32× at dim 64 / m 8). The
  * approximate ranking pass reads ONLY the code column and scores each
  * row by the L2² between the query and the row's DECODED vector
  * (per-dimension fold in index order — the same op sequence as
  * [[graft.plans.Sq8L2SquaredExpr]]'s replay discipline, so a SQL
  * oracle reproduces every candidate distance bit-for-bit from the
  * exported codebooks + codes); the top `k·refine` candidates then get
  * an exact re-rank over only their full vectors.
  *
  * Where SQ8's per-dimension affine grid keeps 1 byte PER DIMENSION,
  * PQ keeps 1 byte per SUBSPACE — coarser, smaller, and the standard
  * memory/recall trade-off knob (m up = finer). Like SQ8 the
  * quantization is lossy but DETERMINISTIC: fit, encode, and scoring
  * are all fixed-order double arithmetic, so correctness is
  * hash-checkable end-to-end (q73), not merely recall-graded.
  *
  * The FIT ([[fit]]) follows FAISS practice: train on a small sample,
  * not the corpus — here the `sampleN` lowest-id vectors (a
  * DETERMINISTIC sample: no partition-order or RNG dependence) via one
  * driver-side Lloyd's k-means per subspace with seeded distinct-point
  * init and lowest-index tie-breaks. Codebooks are tiny
  * (m·ksub·dim/m floats) and ride a parquet sidecar like the IVF
  * centroids; the oracle replays scoring FROM the exported artifact,
  * so only the fit itself is trusted — everything downstream is
  * verified (the q36/q62 trust model).
  */
object Pq {

  /** the trained codebooks: `cb(sub)(code)` is the `dim/m`-length
    * centroid for `code` in subspace `sub`. `normalized` records the
    * GEOMETRY the books were trained on — raw vectors (serves L2) or
    * unit-normalized ones (serves cosine: on the unit sphere
    * L2² = 2 − 2·cos, the same grid argument as the SQ8 family's
    * normalize-then-quantize) — and is enforced against the search
    * metric both ways, exactly like the SQ8 metric↔grid contract. */
  final case class Codebooks(dim: Int, m: Int,
      cb: Array[Array[Array[Float]]], normalized: Boolean = false) {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(cb.length == m, s"expected $m subspace codebooks")
    val dsub: Int = dim / m
    val ksub: Int = cb.head.length
    require(cb.forall(_.length == ksub) &&
      cb.forall(_.forall(_.length == dsub)),
      "ragged codebooks")
    require(ksub >= 1 && ksub <= 256,
      s"ksub=$ksub must fit one byte per code")

    /** persist as (sub, code, centroid, normalized) rows — the
      * DuckDB-readable sidecar shape the q73 oracle replays from */
    def write(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      (for (s <- 0 until m; c <- 0 until ksub)
        yield (s, c, cb(s)(c).toSeq, normalized))
        .toDF("sub", "code", "centroid", "normalized")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
  }

  /** the books persisted at `path`, parsed once per content stamp of
    * the sidecar ([[PersistedRoot.cached]]): a root rebuilt in place by
    * another process is a new stamp, never a stale serve. The stamp is
    * one listStatus — no Spark job. */
  def load(spark: SparkSession, path: String): Codebooks = {
    val (fs, p) = PersistedRoot.fileSystem(spark, path)
    PersistedRoot.cached(fs, p, "pq.books", PersistedRoot.fsStamp(fs, p))(
      loadUncached(spark, path))
  }

  private def loadUncached(spark: SparkSession, path: String): Codebooks = {
    val df = spark.read.parquet(path)
    // pre-round-13 sidecars have no geometry column — raw (L2) books
    val hasNorm = df.columns.contains("normalized")
    val rows = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray,
        hasNorm && r.getBoolean(3)))
    val m = rows.map(_._1).max + 1
    val cb = Array.tabulate(m) { s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3)
    }
    Codebooks(cb.head.head.length * m, m, cb,
      normalized = rows.head._4)
  }

  /** Train per-subspace codebooks on the `sampleN` LOWEST-ID vectors —
    * a deterministic sample (content-independent of partitioning and
    * RNG; FAISS-style train-on-sample, so the fit cost is O(sample),
    * never O(corpus)). Lloyd's iterations are fixed-order double
    * arithmetic with seeded distinct-point init and lowest-index
    * tie-breaks: the same inputs produce the same codebooks anywhere. */
  def fit(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int = 16,
      sampleN: Int = 256,
      seed: Long = 42L,
      iterations: Int = 10,
      normalized: Boolean = false): Codebooks = {
    val raw = vecs.filter(col(vecCol).isNotNull)
      .orderBy(col(idCol)).limit(sampleN)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    // cosine books train on the UNIT-NORMALIZED sample (the FAISS
    // normalize-then-quantize recipe — encode normalizes the same way)
    val sample =
      if (normalized) raw.map(v => IvfIndex.unitNormalize(v.toSeq).toArray)
      else raw
    require(sample.nonEmpty, "fit needs a non-empty corpus")
    val dim = sample.head.length
    require(sample.forall(_.length == dim), "mixed dimensions in corpus")
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    // PER-SUBSPACE effective k: seeds are DISTINCT POINTS (two equal
    // seeds would freeze one centroid dead for the whole fit — the
    // strict-< assignment tie starves the higher index forever), so a
    // subspace trains with min(ksub, its own distinct-subvector count).
    // One degenerate subspace (a constant or zero-padded dimension
    // block, common in padded embeddings) therefore costs only ITSELF
    // resolution — it must not drag every other subspace's codebook
    // down to its distinct count, which would flatten ADC distances
    // corpus-wide.
    val cb = Array.tabulate(m) { s =>
      val sub = sample.map(v => v.slice(s * dsub, (s + 1) * dsub))
      val kS = math.min(ksub,
        sub.map(_.toSeq).distinct.length)
      lloyd(sub, kS, seed + s, iterations)
    }
    // Codebooks requires rectangular shape: pad short subspaces by
    // REPEATING their last centroid. encode scans codes in ascending
    // order with a strict-< winner, so a duplicate at a higher index
    // can never be selected — padding cannot change any code, score,
    // or replay.
    val kMax = cb.map(_.length).max
    val padded = cb.map { b =>
      if (b.length == kMax) b
      else b ++ Array.fill(kMax - b.length)(b.last.clone())
    }
    Codebooks(dim, m, padded, normalized = normalized)
  }

  /** driver-side Lloyd's k-means: seeded distinct-index init, fixed
    * iteration count, lowest-index assignment ties, empty clusters keep
    * their previous centroid — every step deterministic */
  private[operators] def lloyd(points: Array[Array[Float]], k: Int,
      seed: Long, iterations: Int): Array[Array[Float]] = {
    val d = points.head.length
    // seeds drawn from CONTENT-distinct points (first-occurrence order)
    // so no two initial centroids coincide; k <= distinct count is the
    // caller's (fit's) contract
    val distinctPts = points.map(_.toSeq).distinct.map(_.toArray)
    val rnd = new scala.util.Random(seed)
    val init = rnd.shuffle(distinctPts.indices.toList).take(k).sorted
    var cents = init.map(i => distinctPts(i).clone).toArray
    for (_ <- 0 until iterations) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Int](k)
      points.foreach { p =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var s = 0.0
          var j = 0
          while (j < d) {
            val diff = p(j).toDouble - cents(c)(j).toDouble
            s += diff * diff
            j += 1
          }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < d) { sums(best)(j) += p(j).toDouble; j += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(d)(j => (sums(c)(j) / counts(c)).toFloat)
      }
    }
    cents
  }

  /** column name of the PQ code bytes [[encode]] adds */
  private[graft] val CodeCol = "__pq_code"

  /** Append the m-byte PQ code to every row (nearest centroid per
    * subspace, per-term double L2², lowest code ties — the fold any
    * replay reproduces). A build/ingest-time pass (mapPartitions with
    * broadcast codebooks — the codebooks are KBs); the search hot path
    * only READS the codes. Null or mis-sized vectors fail loudly — a
    * silent null code would hide rows from every quantized search. */
  def encode(df: DataFrame, vecCol: String, books: Codebooks): DataFrame = {
    require(!df.columns.contains(CodeCol),
      s"input already has a '$CodeCol' column")
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(books)
    val vecIdx = df.schema.fieldIndex(vecCol)
    val outSchema = StructType(df.schema.fields :+
      StructField(CodeCol, BinaryType, nullable = false))
    df.mapPartitions { rows =>
      val b = bc.value
      rows.map { row =>
        if (row.isNullAt(vecIdx))
          throw new IllegalArgumentException(
            "Pq.encode: null vector — filter nulls before encoding")
        val vRaw = row.getSeq[Float](vecIdx)
        if (vRaw.length != b.dim)
          throw new IllegalArgumentException(
            s"Pq.encode: vector has dim ${vRaw.length}, codebooks ${b.dim}")
        // cosine books code the unit-normalized vector (the metric's
        // geometry); raw books code the vector as-is
        val v =
          if (b.normalized) IvfIndex.unitNormalize(vRaw).toArray
          else vRaw.toArray
        val code = new Array[Byte](b.m)
        var s = 0
        while (s < b.m) {
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < b.ksub) {
            var acc = 0.0
            var j = 0
            while (j < b.dsub) {
              val diff = v(s * b.dsub + j).toDouble -
                b.cb(s)(c)(j).toDouble
              acc += diff * diff
              j += 1
            }
            if (acc < bestD) { bestD = acc; best = c }
            c += 1
          }
          code(s) = best.toByte
          s += 1
        }
        Row.fromSeq(row.toSeq :+ code)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** ADC top-k over a PQ-encoded corpus — the one single-query PQ
    * search, on [[QuantizedSearch.searchOne]]. Each row's candidate
    * distance is scored from its `(__pq_code[, cluster])` against a
    * per-query ADC table ([[QuantizedSearch.adcTable]]: `m` lookups +
    * adds, fixed-order double arithmetic, bit-replayable from the
    * exported artifacts); the best `k·refine` rows (unrounded distance,
    * id ties) are then exactly re-ranked over their full vectors with
    * the cross-engine floor rounding. Both cuts are one lazy plan over
    * one scan and run as ONE Spark job — nothing is collected at call
    * time.
    *
    * Everything codec-specific comes from `index`, the description of
    * how `encoded` was built (a loaded [[PqRoot]], or one naming the
    * books an in-memory [[encode]] used):
    *   - `ivf` absent: FLAT — the whole corpus is scored;
    *   - `ivf` present (the FAISS flagship `IVFx,PQm` shape): the
    *     corpus carries `__ivf_cluster`, and only the `nprobe` clusters
    *     ranked best for `metric` are scanned — directory-level pruning
    *     (default: every cluster);
    *   - `perm` (OPQ): ADC tables are built on the permuted query;
    *     probes and the exact re-rank stay on the raw one;
    *   - `residual`: codes are `v − centroid(cluster(v))`, scored
    *     against the query's residual for each row's own cluster;
    *   - `books.normalized`: cosine books — the search `metric` must be
    *     cosine, and raw books must be L2 (the quantizer contract).
    * `filter` sits on the scanned rows, so both passes see only
    * eligible rows; a known `filterSelectivity` widens the probe budget
    * by 1/selectivity ([[QuantizedSearch.widenedNprobe]]). An oracle
    * replays probes + decode + re-rank entirely from the exported
    * artifacts (q73–q78). */
  def topK(
      encoded: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      index: PqRoot,
      nprobe: Int = Int.MaxValue,
      refine: Int = 4,
      tieBreak: Option[String] = None,
      rankRoundDp: Option[Int] = None,
      metric: KnnSearch.Metric = KnnSearch.NativeL2,
      filter: Option[Column] = None,
      filterSelectivity: Option[Double] = None): DataFrame =
    QuantizedSearch.searchOne(encoded, idCol, vecCol, Some(index.codec),
      index.ivf, query, k, nprobe, refine, metric, filter,
      filterSelectivity, tieBreak, rankRoundDp)

  /** IVF-PQ over raw-vector codes at a given centroid set: [[topK]]
    * with `index` naming `books` and the IVF layout. */
  def topKProbed(encoded: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, books: Codebooks,
      centroids: Array[Array[Float]], clusterIds: Array[Int], nprobe: Int,
      tieBreak: Option[String] = None,
      rankRoundDp: Option[Int] = None): DataFrame =
    topK(encoded, idCol, vecCol, query, k,
      PqRoot("", books, residual = false, Some((centroids, clusterIds))),
      nprobe, tieBreak = tieBreak, rankRoundDp = rankRoundDp)

  /** The batch face of [[topK]], on [[QuantizedSearch.searchBatch]]:
    * many queries, ONE scan (of the probe union when `index` has an
    * IVF layout), per-query ADC tables built once driver-side, each row
    * scored for query `i` only when its cluster is in query i's own
    * probe set (the bit-packed gate), per-query heaps of `k·refine`
    * whole rows, then the same heap pass as the exact re-rank over
    * only those rows, each scored for the query that nominated it —
    * one lazy plan, nothing but the query set collected at call time.
    * Every codec [[topK]] serves,
    * with the same filter contract; per query the rows are bit-equal to
    * [[topK]] at the same arguments (spec-asserted per codec). At
    * scale: Σ_q nprobe/nlist row-scores over one union scan instead of
    * |queries| separate scans. */
  def topKBatch(
      encoded: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      index: PqRoot,
      nprobe: Int = Int.MaxValue,
      refine: Int = 4,
      tieBreak: String = "",
      rankRoundDp: Option[Int] = None,
      metric: KnnSearch.Metric = KnnSearch.NativeL2,
      filter: Option[Column] = None,
      filterSelectivity: Option[Double] = None): DataFrame =
    QuantizedSearch.searchBatch(encoded, idCol, vecCol, Some(index.codec),
      index.ivf, queries, queryIdCol, queryVecCol, k, nprobe, refine,
      metric, filter, filterSelectivity, tieBreak, rankRoundDp)

  /** temp column carrying the per-row residual during [[encodeResidual]]
    * / [[fitResidual]] */
  private val ResidCol = "__pq_resid"

  /** Append `outCol` = `v − centroid(cluster(v))` per row — the
    * residual FAISS's IVFPQ actually codes. Fixed arithmetic (double
    * subtract, float cast) per element, broadcast centroid map, narrow
    * map — no shuffle. */
  private def withResidual(df: DataFrame, vecCol: String,
      centroids: Array[Array[Float]], clusterIds: Array[Int],
      outCol: String): DataFrame = {
    require(df.columns.contains(IvfIndex.ClusterCol),
      s"residual coding needs the '${IvfIndex.ClusterCol}' column — " +
        "assign the corpus to IVF centroids first")
    require(!df.columns.contains(outCol),
      s"input already has a '$outCol' column")
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(
      clusterIds.zip(centroids).toMap)
    val vecIdx = df.schema.fieldIndex(vecCol)
    val cIdx = df.schema.fieldIndex(IvfIndex.ClusterCol)
    val outSchema = StructType(df.schema.fields :+
      StructField(outCol,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType), nullable = false))
    df.mapPartitions { rows =>
      val cmap = bc.value
      rows.map { row =>
        if (row.isNullAt(vecIdx))
          throw new IllegalArgumentException(
            "Pq residual: null vector — filter nulls first")
        val v = row.getSeq[Float](vecIdx)
        val cent = cmap.getOrElse(row.getAs[Number](cIdx).intValue(),
          throw new IllegalArgumentException(
            s"Pq residual: row's cluster ${row.get(cIdx)} is not in " +
              "the passed centroid set — corpus assigned against " +
              "different centroids?"))
        if (v.length != cent.length)
          throw new IllegalArgumentException(
            s"Pq residual: vector dim ${v.length} != centroid dim " +
              s"${cent.length}")
        val r = Array.tabulate(v.length)(j =>
          (v(j).toDouble - cent(j).toDouble).toFloat)
        Row.fromSeq(row.toSeq :+ r.toSeq)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Residual-PQ fit (FAISS IVFPQ's default): train the codebooks on
    * `v − centroid(cluster(v))` instead of the raw vectors, so ALL
    * codebook resolution is spent on the within-cluster delta — at
    * equal m the decoded error is smaller and recall at the same
    * (nprobe, refine) is ≥ the raw-vector PQ's (spec-graded on the
    * synthetic corpus). Same deterministic sample + Lloyd mechanism as
    * [[fit]]; requires the IVF layout. */
  def fitResidual(assigned: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], clusterIds: Array[Int],
      m: Int, ksub: Int = 16, sampleN: Int = 256, seed: Long = 42L,
      iterations: Int = 10): Codebooks =
    fit(withResidual(assigned, vecCol, centroids, clusterIds, ResidCol),
      idCol, ResidCol, m, ksub, sampleN, seed, iterations)

  /** Encode each row's RESIDUAL (books from [[fitResidual]]) — the
    * original columns, raw vector included, ride through untouched for
    * the exact re-rank; only the m-byte code is added. */
  def encodeResidual(df: DataFrame, vecCol: String, books: Codebooks,
      centroids: Array[Array[Float]], clusterIds: Array[Int]): DataFrame =
    encode(withResidual(df, vecCol, centroids, clusterIds, ResidCol),
      ResidCol, books).drop(ResidCol)

  // ---- OPQ: variance-balanced dimension permutation --------------------

  /** OPQ rotation restricted to a PERMUTATION matrix — the
    * eigenvalue-allocation idea of Optimized Product Quantization
    * (Ge et al., CVPR 2013: balance information across the m subspaces
    * before splitting) applied directly to the coordinate dimensions:
    * sort dims by variance, then greedily deal them into the m
    * subspace buckets, each dim landing in the not-yet-full bucket
    * with the smallest variance PRODUCT (the independence-assumption
    * objective of the parametric OPQ solution). A permutation is
    * exactly orthogonal, costs one array reorder per row to apply
    * (never a dim² matmul), exports as a dim-row sidecar a SQL oracle
    * replays verbatim, and — unlike a learned dense rotation — keeps
    * every downstream code path in the engine's replayable-arithmetic
    * regime.
    *
    * Derived ENTIRELY from the exact integer moment cells
    * ([[VectorStats.moments]] — one corpus pass, the same artifact the
    * PCA family consumes): scaled variance per dim is
    * `n·Σqᵢ² − (Σqᵢ)²` in BigInt, bucket products multiply
    * `(var + 1)` in BigInt (the +1 keeps a zero-variance dim from
    * pinning its bucket's product at 0 and absorbing every later
    * dim), so the permutation is a pure integer function of the corpus
    * — no doubles, no RNG, replayable anywhere. Ties: equal variance →
    * lower dim first; equal product → lower bucket index.
    *
    * Returns `perm` where `perm(outPos) = srcDim` — row layout
    * `rotated(p) = v(perm(p))`, subspace `s` owning positions
    * `[s·dsub, (s+1)·dsub)`. */
  def opqPermutation(df: DataFrame, vecCol: String, m: Int): Array[Int] = {
    val cells = VectorStats.moments(df, vecCol)
      .select(col("i"), col("j"), col("s")).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    require(cells.getOrElse((-1, -1), 0L) > 0,
      "opqPermutation: empty corpus")
    val n = BigInt(cells((-1, -1)))
    val dim = cells.keys.collect { case (i, -1) if i >= 0 => i }.max + 1
    require(m > 0 && dim % m == 0,
      s"opqPermutation: m=$m must divide dim=$dim")
    val dsub = dim / m
    val varScaled = Array.tabulate(dim) { i =>
      n * BigInt(cells((i, i))) - BigInt(cells((i, -1))).pow(2)
    }
    val order = (0 until dim).sortWith { (a, b) =>
      varScaled(a) > varScaled(b) ||
        (varScaled(a) == varScaled(b) && a < b)
    }
    val buckets = Array.fill(m)(Vector.empty[Int])
    val prod = Array.fill(m)(BigInt(1))
    for (d <- order) {
      val b = (0 until m).filter(buckets(_).length < dsub)
        .minBy(b => (prod(b), b))
      buckets(b) = buckets(b) :+ d
      prod(b) *= (varScaled(d) + 1)
    }
    buckets.flatten
  }

  /** the rotated row — `out(p) = v(perm(p))`, a narrow codegen'd
    * array of getItems (no UDF, no shuffle); null rows stay null so
    * [[encode]]'s null guard still fires with its clear message */
  def permuteCol(vecCol: String, perm: Array[Int]): org.apache.spark.sql.Column =
    when(col(vecCol).isNull, lit(null))
      .otherwise(array(perm.map(i => col(vecCol).getItem(i)): _*))

  /** temp column carrying the permuted vector through an OPQ encode */
  private val OpqVecCol = "__opq_vec"

  // ---- persisted-root CDC lifecycle -----------------------------------

  /** subdirectories of a persisted PQ root ([[writeRoot]]'s layout) */
  private[graft] val DataSubdir = "data"
  private[graft] val BooksSubdir = "books"
  private[graft] val CentroidsSubdir = "centroids"
  private[graft] val MetaSubdir = "_pq_meta"
  private[graft] val PermSubdir = "opq_perm"

  /** A PQ root: the encoded corpus plus everything a CDC batch needs
    * to keep it consistent and a search needs to score it — the FIXED
    * codebooks, the residual-coding flag, (for the IVF layout) the
    * fixed centroids the rows were assigned against, and (for an OPQ
    * root) the fixed dimension permutation the codes were trained
    * under. `path` only locates [[data]]; searches score the frame
    * they are given. */
  final case class PqRoot(path: String, books: Codebooks,
      residual: Boolean,
      ivf: Option[(Array[Array[Float]], Array[Int])],
      perm: Option[Array[Int]] = None) {
    def dataPath: String = s"$path/$DataSubdir"

    /** the encoded rows, read with the schema cached for the data
      * directory's current stamp ([[PersistedRoot.cached]]) — parquet
      * schema inference is a Spark job per read, and a serving loop
      * reads the root once per query */
    def data(spark: SparkSession): DataFrame = {
      val (fs, p) = PersistedRoot.fileSystem(spark, dataPath)
      spark.read.schema(PersistedRoot.cached(fs, p, "pq.schema",
          PersistedRoot.fsStamp(fs, p))(spark.read.parquet(dataPath).schema))
        .parquet(dataPath)
    }

    /** the root as the lifecycle core sees it: `data/` partitioned by
      * cluster for the IVF layout, flat otherwise */
    private[operators] def persisted: PersistedRoot =
      PersistedRoot(path, DataSubdir,
        if (ivf.isDefined) Seq(IvfIndex.ClusterCol) else Nil,
        Seq(BooksSubdir, CentroidsSubdir, MetaSubdir, PermSubdir)
          .map(PersistedRoot.Sidecar.optional))

    /** the search codec these codes need — refuses the combinations no
      * encode produces */
    private[graft] def codec: QuantizedSearch.Codec =
      if (residual) {
        require(perm.isEmpty, "OPQ permutation composes with raw or " +
          "IVF coding, not residual (the residual geometry is per-cluster)")
        QuantizedSearch.ResidualAdc(books, ivf.getOrElse(
          throw new IllegalArgumentException(
            "residual coding needs the IVF layout — pass ivf")))
      } else QuantizedSearch.Adc(books, perm)
  }

  /** Build a persisted PQ root from a RAW corpus: assign (IVF layout,
    * when centroids are passed), encode raw or residual with the
    * given books, and lay everything out so the root is
    * SELF-MAINTAINING — `data/` (cluster-partitioned when IVF, so
    * probe filters prune directories), `books/` (the q73-replayable
    * sidecar), `centroids/` + `_pq_meta/` (what [[appendEncoded]]
    * needs to encode a CDC batch identically, without the caller
    * re-supplying — and mis-supplying — the build-time config).
    *
    * This closes the one index family that had no maintenance story
    * (r14 verdict): without it, any CDC batch left the persisted code
    * column stale and every later PQ query either rebuilt from
    * scratch or served retired rows. The reference's index maintains
    * itself on INSERT (reference embedding/doc_embedder.py:90-114);
    * this is that contract for the PQ rung, with the same
    * fixed-artifact trade as [[graft.operators.IvfIndex.appendTo]]:
    * books and centroids NEVER refit on append — codes drift as the
    * corpus distribution does, and a rebuild refreshes both. */
  def writeRoot(spark: SparkSession, path: String, corpus: DataFrame,
      vecCol: String, books: Codebooks, residual: Boolean = false,
      ivf: Option[(Array[Array[Float]], Array[Int])] = None,
      perm: Option[Array[Int]] = None): Unit = {
    import spark.implicits._
    val root = PqRoot(path, books, residual, ivf, perm)
    // only roots a search can score are written
    root.codec
    val r = root.persisted
    PersistedRoot.rewrite(spark, r,
        encodeFor(corpus, vecCol, books, residual, ivf, perm)) {
      books.write(spark, s"$path/$BooksSubdir")
      ivf.foreach { case (cents, cids) =>
        PersistedRoot.writeSidecar(r, CentroidsSubdir, cids.zip(cents).toSeq
          .map { case (c, v) => (c, v.toSeq) }.toDF("cluster_id", "centroid"))
      }
      PersistedRoot.writeSidecar(r, MetaSubdir,
        Seq(residual).toDF("residual"))
      perm.foreach { p =>
        PersistedRoot.writeSidecar(r, PermSubdir, p.zipWithIndex
          .map { case (src, pos) => (pos, src) }.toSeq.toDF("pos", "src_dim"))
      }
    }
  }

  /** the one encode dispatch shared by build and append — a CDC batch
    * MUST go through the identical arithmetic as the original build
    * or maintained codes silently diverge from a fresh rebuild. An
    * OPQ permutation rotates the row into a TEMP column; the original
    * vector rides through untouched for the exact re-rank. */
  private def encodeFor(corpus: DataFrame, vecCol: String,
      books: Codebooks, residual: Boolean,
      ivf: Option[(Array[Array[Float]], Array[Int])],
      perm: Option[Array[Int]] = None): DataFrame = {
    def encodePerm(df: DataFrame): DataFrame = perm match {
      case Some(p) =>
        encode(df.withColumn(OpqVecCol, permuteCol(vecCol, p)),
          OpqVecCol, books).drop(OpqVecCol)
      case None => encode(df, vecCol, books)
    }
    ivf match {
      case Some((cents, cids)) =>
        // rows may arrive pre-assigned (reading an IVF root's layout);
        // raw rows get nearest-FIXED-centroid assignment, the appendTo
        // contract. Assignment is on the RAW vector — the permutation
        // only reorders the coordinates the CODES are trained on.
        val assigned =
          if (corpus.columns.contains(IvfIndex.ClusterCol)) corpus
          else IvfIndex.assignToCentroids(corpus, vecCol, cents, cids)
        if (residual) encodeResidual(assigned, vecCol, books, cents, cids)
        else encodePerm(assigned)
      case None => encodePerm(corpus)
    }
  }

  /** REFIT lifecycle — the operator q186 priced but the engine could
    * not run: rebuild a root's quantizer from its CURRENT rows into
    * `destPath`. A maintained root's books go stale as appends drift
    * the corpus distribution ([[appendEncoded]] encodes against the
    * FIXED build-time books by contract); q186 measured the recall
    * gap that opens and when a refit pays — this closes the loop.
    *
    * Family dispatch mirrors the build exactly: cosine books refit
    * normalized, an OPQ root re-derives its permutation from the
    * current rows and refits in the permuted coordinates, a residual
    * root refits over residuals, and an IVF layout keeps its STORED
    * centroids — the quantizer refits, the partition layout does not
    * ([[graft.operators.IvfIndex.rebalance]] owns the centroid
    * lifecycle). Hyperparameters default to the source books' own
    * shape (same m, same ksub), and [[fit]]'s sample is
    * `orderBy(id).limit(n)` — storage order is immaterial — so
    * refitting a maintained root is BIT-EQUAL to a fresh build over
    * the same rows (gate q222 hashes exactly that).
    *
    * Copy-based like [[IvfIndex.compact]]: the live root stays
    * intact until the caller swaps readers — under a versioned
    * layout, [[graft.sources.VersionedRoot.publish]] is that swap.
    * Scale shape: one bounded driver-side sample fit (sampleN rows),
    * one encode pass over the corpus (narrow, per-row), one
    * partitioned write — no corpus-scale shuffle beyond the
    * partitioning the layout already demands. */
  def refitRoot(spark: SparkSession, srcPath: String, destPath: String,
      idCol: String, vecCol: String, sampleN: Int = 256,
      seed: Long = 42L, iterations: Int = 10): Unit = {
    require(new org.apache.hadoop.fs.Path(srcPath) !=
      new org.apache.hadoop.fs.Path(destPath),
      s"refitRoot: src and dest must differ (copy-based, like compact)")
    val src = loadRoot(spark, srcPath)
    val m = src.books.m
    val ksub = src.books.ksub
    val corpus = src.data(spark).drop(CodeCol)
    val perm = src.perm.map(_ => opqPermutation(corpus, vecCol, m))
    val books =
      if (src.residual) {
        val (cents, cids) = src.ivf.getOrElse(throw new IllegalStateException(
          s"refitRoot: residual root $srcPath lost its centroids sidecar"))
        fitResidual(corpus, idCol, vecCol, cents, cids, m, ksub,
          sampleN, seed, iterations)
      } else perm match {
        case Some(p) =>
          fit(corpus.withColumn(OpqVecCol, permuteCol(vecCol, p)),
            idCol, OpqVecCol, m, ksub, sampleN, seed, iterations,
            normalized = src.books.normalized)
        case None =>
          fit(corpus, idCol, vecCol, m, ksub, sampleN, seed, iterations,
            normalized = src.books.normalized)
      }
    writeRoot(spark, destPath, corpus, vecCol, books,
      residual = src.residual, ivf = src.ivf, perm = perm)
  }

  def loadRoot(spark: SparkSession, path: String): PqRoot = {
    // stamp every sidecar the parsed root derives from (books, meta,
    // centroids, perm — same rationale as [[load]]): a cross-process
    // rewrite of any of them is a new stamp, never a stale serve. Four
    // listStatus calls, no Spark job.
    val (fs, p) = PersistedRoot.fileSystem(spark, path)
    PersistedRoot.cached(fs, p, "pq.root",
      Seq(BooksSubdir, MetaSubdir, CentroidsSubdir, PermSubdir)
        .map(sub => PersistedRoot.fsStamp(fs,
          new org.apache.hadoop.fs.Path(p, sub)))
        .mkString("|"))(loadRootUncached(spark, path))
  }

  private def loadRootUncached(spark: SparkSession,
      path: String): PqRoot = {
    val books = load(spark, s"$path/$BooksSubdir")
    val residual = spark.read.parquet(s"$path/$MetaSubdir")
      .collect().head.getBoolean(0)
    val conf = spark.sessionState.newHadoopConf()
    val centPath =
      new org.apache.hadoop.fs.Path(s"$path/$CentroidsSubdir")
    val ivf =
      if (centPath.getFileSystem(conf).exists(centPath)) {
        val rows = spark.read.parquet(centPath.toString).collect()
          .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
          .sortBy(_._1)
        Some((rows.map(_._2), rows.map(_._1)))
      } else None
    val permPath = new org.apache.hadoop.fs.Path(s"$path/$PermSubdir")
    val perm =
      if (permPath.getFileSystem(conf).exists(permPath))
        Some(spark.read.parquet(permPath.toString).collect()
          .map(r => (r.getInt(0), r.getInt(1)))
          .sortBy(_._1).map(_._2))
      else None
    PqRoot(path, books, residual, ivf, perm)
  }

  /** Append RAW rows to a persisted PQ root: encode against the FIXED
    * persisted codebooks (no refit — mirroring
    * [[IvfIndex.appendTo]]'s fixed-centroid contract), assign against
    * the fixed centroids when the root carries the IVF layout, land
    * into the same directory layout and invalidate
    * ([[PersistedRoot.append]]). Rows must arrive
    * UN-encoded and un-assigned — a pre-assigned row could carry an
    * assignment from different centroids, which would silently break
    * every later probe prune. */
  def appendEncoded(spark: SparkSession, path: String,
      newRows: DataFrame, vecCol: String): Unit = {
    val root = loadRoot(spark, path)
    require(!newRows.columns.contains(CodeCol),
      s"appendEncoded takes RAW rows — input already has '$CodeCol'")
    require(!newRows.columns.contains(IvfIndex.ClusterCol),
      s"appendEncoded takes RAW rows — input already has " +
        s"'${IvfIndex.ClusterCol}' (assignment happens here, against " +
        "the root's own centroids)")
    PersistedRoot.append(spark, root.persisted, encodeFor(newRows, vecCol,
      root.books, root.residual, root.ivf, root.perm))
  }

  /** Targeted deletion from a persisted PQ root — the
    * removed/changed leg of the CDC cycle ([[graft.operators
    * .SnapshotDiff]] → deleteEncoded → [[appendEncoded]]), through
    * [[PersistedRoot.delete]]: IVF-layout roots rewrite only the
    * affected cluster directories, flat roots rewrite the data
    * directory. Idempotent; returns the affected partition count
    * (flat: 1 if anything was deleted). */
  def deleteEncoded(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Int = {
    val root = loadRoot(spark, path)
    PersistedRoot.delete(spark, root.persisted, root.data(spark), idCol,
      ids).size
  }

  /** Compact a fragmented PQ root into `destPath` (incremental
    * [[appendEncoded]] leaves one file per batch per directory; at
    * scale the small-file COUNT dominates listing + task overhead):
    * [[PersistedRoot.compact]] — one shuffle keyed on the cluster
    * column (IVF layout) or into ⌈rows / targetRowsPerFile⌉ files
    * (flat), sidecars copied so the fresh root is
    * [[loadRoot]]-compatible. Copy-compact, never in-place — swap
    * readers to the fresh root after. */
  def compactRoot(spark: SparkSession, srcPath: String,
      destPath: String, targetRowsPerFile: Long = 500000L): Unit = {
    val root = loadRoot(spark, srcPath)
    PersistedRoot.compact(spark, root.persisted, root.data(spark),
      destPath, targetRowsPerFile)
  }
}
