package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.PersistedRoot

/** Binary (sign-bit) vector hashing: each embedding dimension
  * contributes one bit (`v(i) > 0`), packed into 32-bit words stored
  * as longs, and similarity search runs on Hamming distance =
  * `Σ_w bit_count(word_w XOR query_word_w)` — the classic
  * sign-random-projection / ITQ binary-code family (the identity
  * rotation: coordinates ARE the hyperplanes), and the fourth rung of
  * the engine's quantization ladder after float32 → SQ8 → PQ.
  *
  * Everything is EXACT INTEGER arithmetic: the pack is a sum of
  * distinct powers of two, the distance is xor + popcount — no
  * rounding surface at all, so a DuckDB oracle replays every bit.
  * 32 bits per word (not 64) because DuckDB's `<<` range-checks
  * signed overflow (`1::BIGINT << 63` errors), and a 2-word spelling
  * keeps the oracle replayable while costing one extra `bit_count`
  * per row.
  *
  * Scale shape (why this exists at 100 TB): the packed code is
  * `ceil(dim/32)` longs — 16 bytes for dim 64 vs 256 bytes of float —
  * a 16× scan-width cut, and the distance is one fused native loop
  * of xor + popcount per word ([[graft.plans.HammingExpr]]), so the
  * approximate pass is the cheapest in the whole family. The
  * production shape is pack-once at index-build (the pack's
  * `aggregate` HOF runs once per corpus write, off the query path),
  * then binary-prefilter → exact re-rank, exactly like the SQ8/PQ
  * two-pass searches ([[IvfIndex.searchQuantized]]).
  *
  * Reference anchor: the reference serves cosine ANN over float
  * vectors (reference src/embedding/bge.py:173-271 + HNSW index);
  * binary codes are the standard public recipe (Charikar 2002 SRP;
  * FAISS `IndexBinaryFlat`) for the same retrieval contract at a
  * fraction of the scan width.
  */
object BinaryHash {

  /** bits per packed word — 32, so the oracle's `1::BIGINT << i`
    * never touches the sign bit on any engine */
  val WordBits = 32

  /** Pack `vec`'s sign bits into `ceil(dim/32)` longs: word `w` bit
    * `i` is set iff `vec(w·32 + i) > 0`. Builtin HOF over integer
    * adds of distinct powers of two — exact on any engine, no UDF.
    * Runs at index-build time (pack once, scan forever). */
  def packCol(vec: Column, dim: Int): Column = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val nWords = (dim + WordBits - 1) / WordBits
    val words = (0 until nWords).map { w =>
      val lo = w * WordBits
      val hi = math.min(lo + WordBits, dim) - 1
      aggregate(
        sequence(lit(lo), lit(hi)),
        lit(0L),
        (acc, i) =>
          acc + when(element_at(vec, (i + 1).cast("int")) > 0f,
            call_function("shiftleft", lit(1L), (i - lo).cast("int")))
            .otherwise(0L))
    }
    array(words: _*)
  }

  /** Driver-side pack of a query vector — the same `> 0` test and
    * bit order as [[packCol]], so query codes and corpus codes live
    * in one space. */
  def packVec(v: Seq[Float]): Seq[Long] = {
    val nWords = (v.length + WordBits - 1) / WordBits
    val words = new Array[Long](nWords)
    var i = 0
    while (i < v.length) {
      if (v(i) > 0f) words(i / WordBits) |= 1L << (i % WordBits)
      i += 1
    }
    words.toSeq
  }

  /** Hamming distance between a packed-code column (array<long>) and a
    * driver-packed query: `Σ_w bit_count(word ^ q_w)`, one native
    * `graft_hamming` expression ([[graft.plans.HammingExpr]]) with the
    * query as one array literal — the generated code does not depend on
    * the query, so a new query compiles nothing. Needs
    * [[graft.plans.VectorExpressions.ensureRegistered]] on the session. */
  def hammingCol(packed: Column, q: Seq[Long]): Column = {
    require(q.nonEmpty, "hammingCol needs at least one query word")
    call_function("graft_hamming", packed, typedLit(q))
  }

  /** The production two-pass search: binary-Hamming prefilter to
    * `candidates` rows (TakeOrderedAndProject — bounded state per
    * partition, k-row merge at the driver), then exact re-rank of the
    * survivors with `rerank` (e.g. rounded native cosine). Ties break
    * on `idCol` at both cuts so the result is deterministic under any
    * partitioning.
    *
    * FILTERED form (the [[graft.operators.IvfIndex#search]] contract
    * on the binary rung, completing the filtered ladder raw/SQ8/PQ/
    * binary): `filter` sits on the scan BEFORE the Hamming cut, so
    * the `candidates` budget is spent only on eligible rows — a
    * post-filter would let ineligible rows crowd the prefilter list,
    * the exact failure q209 priced. The binary rung has no probe
    * budget to widen: the code pass already scans every (eligible)
    * row, so selectivity costs nothing — the cheapest rung is also
    * the one whose filtered recall never degrades with the predicate. */
  def topK(df: DataFrame, vecCol: String, idCol: String, qVec: Seq[Float],
      k: Int, candidates: Int, rerank: Column => Column,
      filter: Option[Column] = None): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    graft.plans.VectorExpressions.ensureRegistered(df.sparkSession)
    val qBits = packVec(qVec)
    // a null vector hashes to a null hamming distance, and ascending
    // sort is NULLS FIRST — unfiltered, null rows would silently
    // occupy prefilter slots and displace real candidates (r13 advice)
    filter.foldLeft(df.filter(col(vecCol).isNotNull))((d, f) => d.filter(f))
      .select(col(idCol), col(vecCol),
        hammingCol(packCol(col(vecCol), qVec.length), qBits).as("hamming"))
      .orderBy(col("hamming"), col(idCol))
      .limit(candidates)
      .select(col(idCol), col("hamming"), rerank(col(vecCol)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  // ---- persisted-code CDC lifecycle -----------------------------------

  /** the persisted sign-code column [[withCodes]] adds */
  private[graft] val CodeCol = "__bin_code"

  /** subdirectories of a persisted binary root */
  private[graft] val DataSubdir = "data"
  private[graft] val MetaSubdir = "_bin_meta"

  /** Append the packed sign-code column — the pack-once-at-build pass
    * the scaladoc's production shape calls for. A null or mis-sized
    * vector raises instead of landing a null code that would silently
    * hide the row from every later stored-code search. */
  def withCodes(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(!df.columns.contains(CodeCol),
      s"input already has a '$CodeCol' column")
    df.withColumn(CodeCol,
      when(col(vecCol).isNull || size(col(vecCol)) =!= dim,
        raise_error(concat(
          lit(s"BinaryHash.withCodes: vector must be non-null with " +
            s"dim $dim, got dim "),
          coalesce(size(col(vecCol)).cast("string"), lit("null")))))
        .otherwise(packCol(col(vecCol), dim)))
  }

  /** a binary root as the lifecycle core sees it: flat `data/` (the
    * sign-code scan is the cheap full-pass family, so there is no
    * directory prune to preserve) plus the dim sidecar */
  private def persisted(path: String): PersistedRoot =
    PersistedRoot(path, DataSubdir, Nil,
      Seq(PersistedRoot.Sidecar.optional(MetaSubdir)))

  /** Build a persisted binary root: `data/` carries the corpus with
    * its packed sign codes, `_bin_meta/` records the dim so a CDC
    * batch packs in the SAME bit space. Unlike PQ there is no fitted
    * artifact — the pack is content-deterministic — so the only
    * maintained invariant is the dimension. */
  def writeRoot(spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, vecCol: String, dim: Int): Unit = {
    import spark.implicits._
    val r = persisted(path)
    PersistedRoot.rewrite(spark, r, withCodes(corpus, vecCol, dim)) {
      PersistedRoot.writeSidecar(r, MetaSubdir, Seq(dim).toDF("dim"))
    }
  }

  private[graft] def loadDim(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    spark.read.parquet(s"$path/$MetaSubdir").collect().head.getInt(0)

  /** Append RAW rows to a persisted binary root: pack against the
    * root's recorded dim (a different-dim batch fails loudly in the
    * pack guard), then [[PersistedRoot.append]] — the
    * [[Pq.appendEncoded]] contract for the sign-code rung. */
  def appendTo(spark: org.apache.spark.sql.SparkSession, path: String,
      newRows: DataFrame, vecCol: String): Unit = {
    require(!newRows.columns.contains(CodeCol),
      s"appendTo takes RAW rows — input already has '$CodeCol'")
    PersistedRoot.append(spark, persisted(path),
      withCodes(newRows, vecCol, loadDim(spark, path)))
  }

  /** Targeted deletion from a persisted binary root
    * ([[PersistedRoot.delete]] on the flat layout). Idempotent; returns
    * 1 if anything was deleted. */
  def deleteByIds(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String): Int =
    PersistedRoot.delete(spark, persisted(path),
      spark.read.parquet(s"$path/$DataSubdir"), idCol, ids).size

  /** Batch face of [[topKStored]] — the [[IvfIndex#searchBatch]]
    * discipline on the binary rung, closing the last single-only rung
    * (raw/SQ8/PQ all batch): ONE narrow `(id, code)` scan serves the
    * whole query set. Per scanned row, each query's Hamming distance
    * is one native xor/popcount loop ([[hammingCol]]; queries are
    * driver-packed literals — the query set is bounded by contract, like
    * searchBatch's collected probes), stacked with `inline` into
    * (query_id, hamming) rows — the row expansion is |queries|× AFTER
    * column pruning to ~16 bytes/row, which still beats |queries|
    * separate corpus scans on bytes read. The per-query `candidates`
    * cut is a rank window (WindowGroupLimit — bounded per-partition
    * heaps); the exact cosine re-rank then reads vectors for ONLY the
    * ≤ |queries|·candidates survivors via an id-pruned scan + a
    * broadcast pair join (the [[IvfIndex#beamSearchBatch]] rankedPairs
    * shape; the driver holds just the bounded candidate pairs).
    *
    * `filter` is the [[topK]] filtered contract on the shared scan:
    * eligible rows only, before every query's Hamming cut — and, like
    * the single face, the binary rung needs no budget widening (the
    * code pass already scans every eligible row). Per query the
    * result is bit-equal to [[topKStored]] at the same (filter, k,
    * candidates) — both cuts rank the identical (hamming, id) /
    * (cos_sim desc, id) orders. Output: (query_id, idCol, hamming,
    * cos_sim), ≤ k rows per query. */
  def topKStoredBatch(df: DataFrame, codeCol: String, vecCol: String,
      idCol: String, queries: Seq[(Long, Seq[Float])], k: Int,
      candidates: Int, rerankDp: Int = 4,
      filter: Option[Column] = None): DataFrame = {
    require(queries.nonEmpty, "topKStoredBatch needs at least one query")
    require(queries.map(_._1).distinct.length == queries.length,
      "topKStoredBatch: duplicate query ids")
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val dims = queries.map(_._2.length).distinct
    require(dims.length == 1,
      s"topKStoredBatch: queries mix dims $dims — one code space per call")
    val spark = df.sparkSession
    graft.plans.VectorExpressions.ensureRegistered(spark)
    val packed = queries.map { case (qid, qv) => (qid, packVec(qv)) }
    val nWords = packed.head._2.length
    val guarded = when(col(codeCol).isNull ||
        size(col(codeCol)) =!= nWords,
      raise_error(lit(s"BinaryHash.topKStoredBatch: stored code must " +
        s"have $nWords words — row bypassed withCodes, or the root " +
        "mixes dims")))
      .otherwise(col(codeCol))
    // stage 1: the shared narrow scan — per row, every query's
    // Hamming fan over the guarded code, inlined to per-query rows,
    // then the per-query candidate rank (WindowGroupLimit)
    val perQuery = array(packed.map { case (qid, qw) =>
      struct(lit(qid).as("query_id"),
        hammingCol(guarded, qw).as("hamming"))
    }: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("hamming"), col(idCol))
    val cand = filter.foldLeft(df)((d, f) => d.filter(f))
      .select(col(idCol), inline(perQuery))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= candidates)
      .select(col("query_id"), col(idCol), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // stage 2: exact re-rank of the bounded survivors — id-pruned
    // vector scan + broadcast pair join, per-query rounded-cosine rank
    import spark.implicits._
    val qvById = queries.toMap
    val pairDf = broadcast(cand.toSeq.map { case (qid, id, h) =>
      (qid, id, h, qvById(qid))
    }.toDF("query_id", "__cid", "hamming", "__qv"))
    val ids = cand.map(_._2).distinct.toSeq
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("__cid"))
    df.filter(col(idCol).isin(ids: _*))
      .select(col(idCol).as("__vid"), col(vecCol).as("__v"))
      .join(pairDf, col("__vid") === col("__cid"))
      .select(col("query_id"), col("__cid"), col("hamming"),
        graft.operators.KnnSearch.roundHalfUpCol(
          graft.functions.VectorFunctions.cosineSimilarityNative(
            col("__v"), col("__qv")), rerankDp).as("cos_sim"))
      .withColumn("__rk", row_number().over(w2))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("__cid").as(idCol), col("hamming"),
        col("cos_sim"))
      .orderBy(col("query_id"), col("cos_sim").desc, col(idCol))
  }

  /** [[topK]] over the PERSISTED code column — the production query
    * path: the prefilter reads `(id, code)` (16 bytes/row at dim 64)
    * and never touches the vector until the `candidates`-row exact
    * re-rank. A null or mis-sized stored code raises — it means the
    * row bypassed [[withCodes]] or the root mixes dims, and silently
    * ranking it would return wrong neighbors with no error.
    *
    * `filter` is [[topK]]'s filtered-ANN contract on the stored-code
    * path: the predicate sits on the scan BEFORE the Hamming cut, so
    * the `candidates` budget is spent only on eligible rows — at
    * scale the stored root IS the serving path (pack-once is the
    * point), so the filtered contract must reach it, not just the
    * per-query pack face. Same no-widening note as [[topK]]: the code
    * pass scans every eligible row, so selectivity costs nothing. */
  def topKStored(df: DataFrame, codeCol: String, vecCol: String,
      idCol: String, qVec: Seq[Float], k: Int, candidates: Int,
      rerank: Column => Column,
      filter: Option[Column] = None): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    graft.plans.VectorExpressions.ensureRegistered(df.sparkSession)
    val qBits = packVec(qVec)
    val nWords = qBits.length
    val guarded = when(col(codeCol).isNull ||
        size(col(codeCol)) =!= nWords,
      raise_error(lit(s"BinaryHash.topKStored: stored code must have " +
        s"$nWords words — row bypassed withCodes, or the root mixes " +
        "dims")))
      .otherwise(hammingCol(col(codeCol), qBits))
    filter.foldLeft(df)((d, f) => d.filter(f))
      .select(col(idCol), col(vecCol), guarded.as("hamming"))
      .orderBy(col("hamming"), col(idCol))
      .limit(candidates)
      .select(col(idCol), col("hamming"), rerank(col(vecCol)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }
}
