package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Exact k-nearest-neighbor retrieval — the Spark-native re-expression of
  * the reference's ANN top-k (`similarity_search_by_vector`,
  * /root/reference/src/rag/doc_embedder.py:196-220; HNSW DDL
  * src/tools/load.py:26).
  *
  * Exact top-k by `orderBy(dist).limit(k)` compiles to
  * `TakeOrderedAndProject`: each task keeps a k-element heap, only k rows
  * per partition cross to the driver — no global sort, no shuffle of the
  * table. At 100 TB this is a single scan-bound pass; combine with a
  * partition-column filter (the reference's `partition_names` pruning) so
  * parquet partition pruning cuts the scan first.
  *
  * Approximate variants for scale live in [[IvfIndex]].
  */
object KnnSearch {

  sealed trait Metric {
    /** distance column (smaller = closer) */
    def dist(v: Column, q: Seq[Float]): Column
  }
  case object L2 extends Metric {
    def dist(v: Column, q: Seq[Float]): Column = l2Distance(v, litVec(q))
  }
  case object Cosine extends Metric {
    def dist(v: Column, q: Seq[Float]): Column = cosineDistance(v, litVec(q))
  }
  case object InnerProduct extends Metric {
    // larger dot = closer, so negate for a distance
    def dist(v: Column, q: Seq[Float]): Column = -dotProduct(v, litVec(q))
  }

  // Native codegen'd variants (graft.plans.VectorExpressions): identical
  // values, one fused loop per row instead of zip_with allocation — and
  // the projection stays inside WholeStageCodegen (a HOF lambda is a
  // CodegenFallback that ejects it). ~1.6× (l2) to 3.5× (cosine) faster
  // on a full-corpus scan (PLANS.md "Vector hot path", sf0.1). The session
  // must have run VectorExpressions.ensureRegistered (or carry
  // GraftExtensions).
  case object NativeL2 extends Metric {
    def dist(v: Column, q: Seq[Float]): Column =
      l2DistanceNative(v, litVec(q))
  }
  case object NativeCosine extends Metric {
    def dist(v: Column, q: Seq[Float]): Column =
      lit(1.0) - cosineSimilarityNative(v, litVec(q))
  }
  case object NativeInnerProduct extends Metric {
    def dist(v: Column, q: Seq[Float]): Column =
      -dotProductNative(v, litVec(q))
  }

  /** the query vector as ONE array literal (`array<float>`, no null
    * elements) — one expression to build and analyse, however long the
    * vector, where a per-element `array(lit, …)` was one per dimension */
  def litVec(q: Seq[Float]): Column = typedLit(q.toArray)

  /** Cross-engine-replayable half-up rounding: `floor(x·10^dp + 0.5) /
    * 10^dp` — every step a single IEEE double op, so ANY engine
    * replaying the literal formula (`floor(x * 1e4 + 0.5) / 1e4` in the
    * DuckDB oracles) produces the identical double from the identical
    * input. Spark's own `round()` goes through the SHORTEST-DECIMAL
    * string (`BigDecimal.valueOf` HALF_UP) while DuckDB's
    * `round(DOUBLE, n)` rounds in binary, and the two disagree when a
    * distance lands within an ulp of a `…x5·10^-(dp+1)` boundary —
    * the round-11 q59/q61 driver red (a machine-dependent k-means fit
    * produced exactly such a value). The primitive form has no decimal
    * seam to disagree over. Distances are O(1)–O(10^3), so x·10^4 stays
    * far below 2^53 and the floor is exact. */
  def roundHalfUp(x: Double, scale: Double): Double =
    math.floor(x * scale + 0.5) / scale

  /** [[roundHalfUp]] as a codegen'd Column expression — used for every
    * ranked `dist` the oracles replay, NEVER Spark's `round()` (see
    * [[roundHalfUp]] for why). */
  def roundHalfUpCol(c: Column, dp: Int): Column = {
    val s = math.pow(10, dp)
    floor(c * lit(s) + lit(0.5)) / lit(s)
  }

  /** Exact top-k: returns the input rows plus a distance column (named
    * `distCol`, default "dist"), k nearest first. Deterministic under ties
    * via `tieBreak`. Throws if `distCol` already exists in the input —
    * silently overwriting a user column would corrupt downstream plans. */
  def topK(
      corpus: DataFrame,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      metric: Metric = L2,
      tieBreak: Option[String] = None,
      distCol: String = "dist",
      rankRoundDp: Option[Int] = None): DataFrame = {
    require(!corpus.columns.contains(distCol),
      s"corpus already has a '$distCol' column; pass a different distCol")
    val rawDist = metric.dist(col(vecCol), query)
    // Optional cross-engine determinism mode (SURVEY §7.5): round the
    // distance BEFORE ranking so two engines that disagree below the
    // rounding precision still produce the identical (dist, tieBreak)
    // order — via the primitive floor form, which an oracle replays
    // bit-for-bit (roundHalfUpCol scaladoc).
    val distExpr = rankRoundDp.fold(rawDist)(dp => roundHalfUpCol(rawDist, dp))
    val withDist = corpus.withColumn(distCol, distExpr)
    val ordered = tieBreak match {
      case Some(c) => withDist.orderBy(col(distCol), col(c))
      case None    => withDist.orderBy(col(distCol))
    }
    ordered.limit(k)
  }

  /** Batch top-k: many query vectors against the corpus in ONE scan,
    * the batch analogue of TakeOrderedAndProject. The (small, by
    * contract) query set is collected and broadcast; each corpus task
    * keeps a k-element bounded heap PER QUERY over its partition
    * (mapPartitions — one fused metric-dispatched distance loop per
    * row×query, no intermediate allocation; L2 / cosine / inner-product
    * via `metric`), emitting at most k·|queries| rows per partition. Only
    * that reduced set crosses the final per-query rank — the corpus
    * itself is never shuffled. (The previous window-rank form moved
    * corpus_rows × |queries| scored rows through one exchange before
    * discarding all but k per query — the round-3 scale defect.)
    *
    * Note: building the plan collects `queries` (a driver action), so
    * this operator is eager in the query set, matching the reference's
    * "embed the query batch first" step. This is J1's "batch of
    * queries" form (SURVEY §2.3). */
  def topKBatch(
      corpus: DataFrame,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      tieBreak: String,
      distCol: String = "dist",
      rankRoundDp: Option[Int] = None,
      metric: Metric = L2): DataFrame =
    topKBatchCollected(corpus, vecCol,
      collectQueries(queries, queryIdCol, queryVecCol),
      queries.schema(queryIdCol).dataType,
      k, tieBreak, distCol, rankRoundDp, metric)

  /** Driver-side query-set collection shared by [[topKBatch]] and
    * [[QuantizedSearch.searchBatch]] — the query table is collected
    * ONCE and reused for probe planning and the heap passes. Null query
    * vectors fail loudly here instead of NPE-ing inside an executor. */
  private[operators] def collectQueries(queries: DataFrame,
      queryIdCol: String, queryVecCol: String)
      : Array[(Any, Array[Float])] =
    queries.select(col(queryIdCol), col(queryVecCol)).collect()
      .map { r =>
        require(!r.isNullAt(1),
          s"null $queryVecCol for query ${r.get(0)}")
        (r.get(0), r.getSeq[Float](1).toArray)
      }

  /** Per-query tie keys must order exactly as Spark's final window rank
    * will: Strings compare as UTF8 binary (java.lang.String.compareTo
    * diverges on supplementary characters), numerics/temporal/boolean
    * via their Comparable boxes. Anything else is rejected UP FRONT at
    * plan time — not as a ClassCastException halfway through a corpus
    * scan. */
  private[operators] def tieKeyFn(
      dt: org.apache.spark.sql.types.DataType): Any => Any = dt match {
    case org.apache.spark.sql.types.StringType =>
      a => if (a == null) null
        else org.apache.spark.unsafe.types.UTF8String
          .fromString(a.asInstanceOf[String])
    case _: org.apache.spark.sql.types.NumericType |
        org.apache.spark.sql.types.BooleanType |
        org.apache.spark.sql.types.DateType |
        org.apache.spark.sql.types.TimestampType |
        org.apache.spark.sql.types.TimestampNTZType => identity
    case other => throw new IllegalArgumentException(
      s"topKBatch tieBreak column has non-orderable type $other")
  }

  /** The heap pass's per-(corpus row, query) distance, one closure per
    * metric — mirrors the native expressions' double arithmetic EXACTLY
    * (same accumulation order, same zero-norm → similarity-0 convention
    * as [[graft.plans.CosineSimilarityExpr]]), so a batch result is
    * bit-identical to the single-query [[topK]] over the same rows and
    * replayable by a double-precision oracle. */
  private def batchDistFn(metric: Metric)
      : (Array[Float], Array[Float]) => Double = metric match {
    case L2 | NativeL2 => (v, q) => {
      var s = 0.0; var i = 0
      while (i < v.length) {
        val d = v(i).toDouble - q(i).toDouble; s += d * d; i += 1
      }
      math.sqrt(s)
    }
    case Cosine | NativeCosine => (v, q) => {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < v.length) {
        val xa = v(i).toDouble; val xb = q(i).toDouble
        dot += xa * xb; na += xa * xa; nb += xb * xb; i += 1
      }
      if (na == 0.0 || nb == 0.0) 1.0
      else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    }
    case InnerProduct | NativeInnerProduct => (v, q) => {
      var dot = 0.0; var i = 0
      while (i < v.length) { dot += v(i).toDouble * q(i).toDouble; i += 1 }
      -dot
    }
  }

  /** Optional per-query scoring gate for [[topKBatchCollected]]: a row
    * is scored against query `i` only when the row's `col` value is in
    * `allowed(i)` (aligned with the query set).
    * [[QuantizedSearch.searchBatch]] passes each query's own probed
    * clusters here, which makes the
    * shared scan's per-row work Σ_q nprobe/nlist instead of |queries| —
    * the whole row loop for rows no query probed is skipped — and the
    * per-query result EXACTLY the single-query search's (not a
    * scan-dependent superset) — and, for its exact pass, each cut
    * row's query index, so a row is scored only for the query that
    * nominated it. */
  private[operators] final case class BatchGate(
      col: String, allowed: Array[Array[Int]])

  /** Pluggable per-(row, query) scoring for [[topKBatchCollected]]:
    * replaces the default float-vector extract + metric closure for
    * corpora whose ranked representation is not a float array —
    * [[QuantizedSearch.searchBatch]] scores SQ8 and PQ codes here
    * through per-query [[QuantizedSearch.Codec]] scorers, and
    * [[Rerank]] its own representation. `vecCol` still names the
    * scored column (its null-ness skips the row, and it anchors column
    * pruning); the scorer receives
    * `(row, that column's row index, query index into the collected
    * query set, query vector)` and is responsible for its own dimension
    * validation — the query INDEX is what lets a scorer key per-query
    * precomputed state (an ADC table) without re-deriving it per row.
    * Over a local input the row converts a field only when the scorer
    * reads it. */
  private[operators] final case class RawScorer(
      fn: (org.apache.spark.sql.Row, Int, Int, Array[Float]) => Double)

  private[operators] def topKBatchCollected(
      corpus: DataFrame,
      vecCol: String,
      qSet: Array[(Any, Array[Float])],
      queryIdType: org.apache.spark.sql.types.DataType,
      k: Int,
      tieBreak: String,
      distCol: String = "dist",
      rankRoundDp: Option[Int] = None,
      metric: Metric = L2,
      gate: Option[BatchGate] = None,
      rawScorer: Option[RawScorer] = None): DataFrame = {
    require(!corpus.columns.contains(distCol),
      s"corpus already has a '$distCol' column; pass a different distCol")
    require(!corpus.columns.contains("query_id"),
      "corpus already has a 'query_id' column")
    // k = 0 would NoSuchElementException on the empty heap's head mid-
    // scan instead of failing fast here
    require(k > 0, s"k must be > 0, got $k")
    val spark = corpus.sparkSession
    val outSchema = corpus.schema
      .add(distCol, org.apache.spark.sql.types.DoubleType)
      .add("query_id", queryIdType)
    val vecIdx = corpus.schema.fieldIndex(vecCol)
    val tieIdx = corpus.schema.fieldIndex(tieBreak)
    // validated at plan time, serialized into the closure
    val tieKey = tieKeyFn(corpus.schema(tieBreak).dataType)
    val roundScale = rankRoundDp.map(p => math.pow(10, p))
    val distFn = batchDistFn(metric)
    val raw = rawScorer.map(_.fn).orNull
    gate.foreach(g => require(g.allowed.length == qSet.length,
      s"gate.allowed (${g.allowed.length}) must align with the query " +
        s"set (${qSet.length})"))
    val gateIdx = gate.map(g => corpus.schema.fieldIndex(g.col)).getOrElse(-1)
    // bit-packed per-query lookup keyed by the gate value (cluster ids
    // are small non-negative ints by construction): one word-index probe
    // per (row, query), no boxing in the hot loop, and ~nlist/8 bytes
    // per query — at production shapes (nlist 64k → 8 KB/query, so
    // ~8 MB for a 1k-query batch) — shipped through the SAME broadcast
    // as the query vectors so it rides to each executor once rather
    // than in every task closure
    val gateWords: Array[Array[Long]] = gate.map { g =>
      val max = g.allowed.iterator.flatten.foldLeft(0)(math.max)
      g.allowed.map { ps =>
        val w = new Array[Long]((max >> 6) + 1)
        ps.foreach { c =>
          require(c >= 0, s"gate values must be non-negative, got $c")
          w(c >> 6) |= 1L << (c & 63)
        }
        w
      }
    }.orNull
    val gateOf: (Any => Int) = v =>
      if (v == null) -1 else v.asInstanceOf[Number].intValue()
    local(corpus) match {
      case Some(rows) =>
        // a local input (a resident root, a driver-built frame): the same
        // heap pass over its rows on the driver, so the result is local
        // too and collecting it runs no job
        val dt = corpus.schema(tieBreak).dataType
        val gateDt = if (gateIdx < 0) null else corpus.schema(gateIdx).dataType
        val types = corpus.schema.fields.map(_.dataType)
        val toScala = types.map(CatalystTypeConverters.createToScalaConverter)
        val heaps = new QueryHeaps[InternalRow](qSet, gateWords, k, roundScale)
        rows.foreach { r =>
          if (!r.isNullAt(vecIdx)) {
            val v = if (raw == null) r.getArray(vecIdx).toFloatArray() else null
            val ext = if (raw == null) null else new LazyRow(r, types, toScala)
            heaps.offer(r, if (r.isNullAt(tieIdx)) null else r.get(tieIdx, dt),
              if (gateIdx < 0 || r.isNullAt(gateIdx)) -1
              else gateOf(r.get(gateIdx, gateDt)),
              (qi, qv) =>
                if (raw != null) raw(ext, vecIdx, qi, qv)
                else distFn(checkedDim(v, qv, qSet(qi)._1), qv))
          }
        }
        val qidToCatalyst =
          CatalystTypeConverters.createToCatalystConverter(queryIdType)
        val fields = corpus.schema.fields.map(_.dataType).toSeq
        val out = heaps.results.map { case (qi, dist, r) =>
          InternalRow.fromSeq(
            r.toSeq(fields) :+ dist :+ qidToCatalyst(qSet(qi)._1))
        }.toSeq
        graft.plans.LocalTopK.dataFrame(spark, LocalRelation(
          org.apache.spark.sql.catalyst.types.DataTypeUtils
            .toAttributes(outSchema), out))
      case None =>
        val bc = spark.sparkContext.broadcast((qSet, gateWords))
        val scored = corpus.mapPartitions { rows =>
          val (qs, gw) = bc.value
          val heaps = new QueryHeaps[Row](qs, gw, k, roundScale)
          rows.foreach { row =>
            if (!row.isNullAt(vecIdx)) {
              // the default path extracts the float vector once per row;
              // a raw scorer reads its own representation inside fn
              val v =
                if (raw == null) row.getSeq[Float](vecIdx).toArray else null
              heaps.offer(row, tieKey(row.get(tieIdx)),
                if (gw == null || row.isNullAt(gateIdx)) -1
                else gateOf(row.get(gateIdx)),
                (qi, qv) =>
                  if (raw != null) raw(row, vecIdx, qi, qv)
                  else distFn(checkedDim(v, qv, qs(qi)._1), qv))
            }
          }
          heaps.results.map { case (qi, dist, r) =>
            Row.fromSeq(r.toSeq :+ dist :+ qs(qi)._1)
          }
        }(org.apache.spark.sql.Encoders.row(outSchema))
        // final rank over ≤ partitions × |queries| × k rows — tiny by
        // construction, so this exchange moves k-scale data, not the
        // corpus
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col(distCol), col(tieBreak))
        scored
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= k)
          .drop("__rn")
    }
  }

  /** `r` as an external row whose fields convert when read, so a raw
    * scorer pays only for the columns it reads — never for a row's
    * whole vector */
  private final class LazyRow(r: InternalRow,
      types: Array[org.apache.spark.sql.types.DataType],
      toScala: Array[Any => Any]) extends Row {
    def length: Int = types.length
    def get(i: Int): Any = toScala(i)(r.get(i, types(i)))
    def copy(): Row = Row.fromSeq((0 until length).map(get))
  }

  /** `v` after checking it against the query's dimension — a silent
    * skip would quietly drop corpus rows from every result, so mixed
    * dimensions are a data bug surfaced here */
  private def checkedDim(v: Array[Float], qv: Array[Float],
      qid: Any): Array[Float] = {
    if (qv.length != v.length)
      throw new IllegalArgumentException(
        s"dimension mismatch in topKBatch: corpus vector has " +
          s"${v.length} dims, query '$qid' has ${qv.length}")
    v
  }

  /** The rows of `df` when its optimized plan is a local relation —
    * every leaf local and the whole plan folded on the driver — else
    * None. */
  private def local(df: DataFrame): Option[Seq[InternalRow]] =
    if (!df.queryExecution.analyzed.collectLeaves()
        .forall(graft.plans.LocalTopK.isLocalLeaf)) None
    else df.queryExecution.optimizedPlan match {
      case l: LocalRelation if !l.isStreaming => Some(l.data)
      case _ => None
    }

  /** The batch heap pass's per-query bounded heaps over rows of type
    * `R`: a row is offered with its tie key and gate value, scored for
    * every query its gate admits, and kept while it is among the best
    * `k` by (distance, tie key); the distance is rounded half-up at
    * `roundScale` first when given — the same primitive rounding as
    * [[topK]]'s ranked dist, so batch results stay bit-equal to
    * single-query search and to the oracle's floor-form replay. */
  private final class QueryHeaps[R](qs: Array[(Any, Array[Float])],
      gw: Array[Array[Long]], k: Int, roundScale: Option[Double]) {
    // bounded max-heaps: head = current worst of the best k, evicted on
    // a strictly better (dist, tie) candidate
    private final class Entry(val dist: Double, val tie: Any, val row: R)
    // null ties sort first, matching Spark's ascending null ordering
    private def cmp(a: Entry, b: Entry): Int = {
      val c = java.lang.Double.compare(a.dist, b.dist)
      if (c != 0) c
      else if (a.tie == null && b.tie == null) 0
      else if (a.tie == null) -1
      else if (b.tie == null) 1
      else a.tie.asInstanceOf[Comparable[Any]].compareTo(b.tie)
    }
    private val heaps = Array.fill(qs.length)(
      new scala.collection.mutable.PriorityQueue[Entry]()(
        Ordering.fromLessThan[Entry]((a, b) => cmp(a, b) < 0)))

    /** `gv` is the row's gate value (-1 scores it for no query when a
      * gate is set); `dist(qi, qv)` scores it for query `qi` */
    def offer(row: R, tie: Any, gv: Int,
        dist: (Int, Array[Float]) => Double): Unit = {
      var qi = 0
      while (qi < qs.length) {
        if (gw == null ||
          (gv >= 0 && (gv >> 6) < gw(qi).length &&
            (gw(qi)(gv >> 6) & (1L << (gv & 63))) != 0L)) {
          var d = dist(qi, qs(qi)._2)
          roundScale.foreach(sc => d = roundHalfUp(d, sc))
          val h = heaps(qi)
          if (h.size < k) h.enqueue(new Entry(d, tie, row))
          else if (cmp(new Entry(d, tie, row), h.head) < 0) {
            h.dequeue(); h.enqueue(new Entry(d, tie, row))
          }
        }
        qi += 1
      }
    }

    /** (query index, dist, row) of every kept row, each query's rows
      * best first */
    def results: Iterator[(Int, Double, R)] =
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.dequeueAll[Entry].reverseIterator.map(e => (qi, e.dist, e.row))
      }
  }

  /** The reference's adaptive per-component k:
    * `10` when reranking else `max(3, 13 - 3 * nComponents)`
    * (rag_graph.py:367-375). */
  def adaptiveK(nComponents: Int, rerank: Boolean): Int =
    if (rerank) 10 else math.max(3, 13 - 3 * nComponents)

  /** Per-component partition-pruned search + bag union (SURVEY §2.4 A4):
    * one filtered top-k per component code, then a bag union (`union`).
    * Each leg prunes to its parquet partition; the union is a cheap
    * plan-level concat. */
  def searchComponents(
      corpus: DataFrame,
      vecCol: String,
      partitionCol: String,
      query: Seq[Float],
      componentCodes: Seq[Int],
      rerank: Boolean,
      metric: Metric = L2,
      tieBreak: Option[String] = None,
      distCol: String = "dist",
      rankRoundDp: Option[Int] = None): DataFrame = {
    // same contract on both branches: never silently overwrite a user column
    require(!corpus.columns.contains(distCol),
      s"corpus already has a '$distCol' column; pass a different distCol")
    if (componentCodes.isEmpty) {
      // the reference path can legitimately route to zero components
      // (rag_graph.py:343-354 after validation) — return an empty result
      // with the output schema rather than throwing on reduce.
      corpus.withColumn(distCol, lit(0.0)).filter(lit(false))
    } else {
      val k = adaptiveK(componentCodes.size, rerank)
      componentCodes
        .map(code => topK(
          corpus.filter(col(partitionCol) === code),
          vecCol, query, k, metric, tieBreak, distCol, rankRoundDp))
        .reduce(_ union _)
    }
  }
}
