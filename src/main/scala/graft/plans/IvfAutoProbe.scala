package graft.plans

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Ascending, AttributeReference, Descending, Divide, Expression, ExprId, Floor, In, Literal, Multiply, SortOrder, Subtract, UnaryMinus}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType}

import graft.operators.{IvfIndex, KnnSearch, QuantizedSearch}

/** OPT-IN optimizer rule: rewrite an exact vector top-k over an
  * IVF-partitioned table into a probe-pruned scan — the engine-level
  * analogue of the reference's "the HNSW index serves ORDER BY distance
  * LIMIT k" contract (`VECTOR KEY ... TYPE=HNSW`,
  * /root/reference/src/tools/load.py:26), and SURVEY §4's declared
  * custom-planner work.
  *
  * Matched shape (exactly what [[graft.operators.KnnSearch.topK]]
  * produces over a loaded index):
  *
  *   GlobalLimit → LocalLimit → Sort(dist ASC, ...) →
  *     (Project|Filter)* → LogicalRelation(parquet partitioned by
  *     __ivf_cluster, with a `_centroids` sidecar)
  *
  * where `dist` resolves (through the Project aliases) to a supported
  * distance ordering over `(vecCol, <constant vector>)` —
  * `graft_l2sq`, `1.0 - graft_cos`, or `-graft_dot` ascending, or the
  * natural similarity spellings `graft_cos` / `graft_dot` descending.
  * The rule reads
  * the (tiny, stamp-cached) centroid sidecar on the driver, picks the
  * `nprobe` best clusters for the constant query vector under the
  * matching centroid ranking (L2 / cosine / dot), and injects
  * `Filter(__ivf_cluster IN probes)` directly above the relation, where
  * the planner's PhysicalOperation collapse turns it into parquet
  * PartitionFilters — whole directories are skipped.
  *
  * APPROXIMATION IS OPT-IN: the rewrite changes exact top-k into
  * IVF-recall top-k, so it only fires when
  * `spark.graft.ivf.nprobe` is set to a positive value (0 / unset =
  * off; ≥ nlist = no-op since every cluster would be probed). Sessions
  * get the rule via [[GraftExtensions]] (declarative) or
  * `spark.experimental.extraOptimizations` (imperative).
  */
case class IvfAutoProbe(spark: SparkSession) extends Rule[LogicalPlan] {
  import IvfAutoProbe._

  private def nprobe: Int =
    Try(spark.conf.get(NprobeConf, "0").toInt).getOrElse(0)

  /** declared kept-fraction for residual-filtered matches; None when
    * unset or explicitly 0 (= off). A conf that is SET but unparsable
    * or outside (0, 1] FAILS LOUDLY (r20 advice): silently falling
    * back to the static probe budget would reproduce the exact
    * filtered-recall collapse the conf exists to fix — the API face
    * ([[IvfIndex#widenedNprobe]]) rejects the same input, and the
    * declarative face must not be more forgiving. */
  private def filterSelectivity: Option[Double] = {
    val raw = spark.conf.get(FilterSelectivityConf, "0").trim
    val v = raw.toDoubleOption.getOrElse(throw new IllegalArgumentException(
      s"$FilterSelectivityConf must be a kept-fraction in (0, 1] " +
        s"(or 0/unset = off), got '$raw'"))
    if (v == 0.0) None
    else if (v > 0.0 && v <= 1.0) Some(v)
    else throw new IllegalArgumentException(
      s"$FilterSelectivityConf must be a kept-fraction in (0, 1] " +
        s"(or 0/unset = off), got '$raw' — e.g. a 34% survivor rate " +
        "is 0.34, not 34")
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val np = nprobe
    if (np <= 0) plan
    else plan.transformDown {
      case gl @ GlobalLimit(_, ll @ LocalLimit(_, inner)) =>
        // column pruning may interleave Projects between the limit and
        // the sort — look through them
        def rew(p: LogicalPlan): Option[LogicalPlan] = p match {
          case s: Sort if s.global => rewriteSort(s, np)
          case pr: Project => rew(pr.child).map(c => pr.copy(child = c))
          case _ => None
        }
        rew(inner)
          .map(ni => gl.copy(child = ll.copy(child = ni)))
          .getOrElse(gl)
    }
  }

  /** Rewrite one Sort subtree, or None when the shape doesn't match. */
  private def rewriteSort(s: Sort, np: Int): Option[Sort] = {
    // 1. walk the Project/Filter chain down to a single parquet relation,
    //    collecting aliases; bail on anything else (joins, unions, ...)
    var aliases = Map.empty[ExprId, Expression]
    var node: LogicalPlan = s.child
    var probedAlready = false
    var filterConds = List.empty[Expression]
    var rel: LogicalRelation = null
    var clusterAttr: AttributeReference = null
    while (rel == null) {
      node match {
        case p: Project =>
          p.projectList.foreach {
            case a: Alias => aliases += (a.exprId -> a.child)
            case _ =>
          }
          node = p.child
        case f: Filter =>
          if (f.condition.references.exists(_.name == IvfIndex.ClusterCol))
            probedAlready = true
          else filterConds ::= f.condition
          node = f.child
        case lr: LogicalRelation =>
          rel = lr
        case _ => return None
      }
    }
    if (probedAlready) return None
    val fs = rel.relation match {
      case h: HadoopFsRelation
          if h.partitionSchema.fieldNames.contains(IvfIndex.ClusterCol) => h
      case _ => return None
    }
    // a DATA-column predicate thins every probed cluster's candidate
    // pool (the filtered-recall collapse [[FilterSelectivityConf]]
    // compensates); a partition-column-only predicate is component
    // SCOPING — directories drop out whole, in-scope pools stay
    // dense — and takes no widening, matching the API face where
    // `components` never widens but `filter` may
    val partCols = fs.partitionSchema.fieldNames.toSet
    val userFiltered = filterConds.exists(
      _.references.exists(r => !partCols.contains(r.name)))
    clusterAttr = rel.output.collectFirst {
      case a: AttributeReference if a.name == IvfIndex.ClusterCol => a
    }.getOrElse(return None)

    // 2. the primary sort key must BE a supported distance (ascending)
    //    or similarity (descending) term over a relation column and a
    //    constant query vector — possibly under monotonic non-decreasing
    //    wrappers (round / floor-form rounding / widening numeric cast;
    //    sqrt only over the non-negative l2sq and 1-cos terms, never
    //    over terms that can go negative, whose sqrt is NaN) — never
    //    merely contain
    //    it: a non-monotonic transform (negation, reciprocal,
    //    subtraction) of the matched term would invert the ordering and
    //    make nearest-cluster pruning return the wrong rows. Supported
    //    orderings and their centroid rankings:
    //      graft_l2sq(v, q) ASC       → nearest-centroid L2
    //      1.0 - graft_cos(v, q) ASC  → most-cosine-similar centroid
    //      -graft_dot(v, q) ASC       → highest query·centroid (MIPS)
    //      graft_cos(v, q) DESC       → most-cosine-similar centroid
    //      graft_dot(v, q) DESC       → highest query·centroid (MIPS)
    //    The DESC similarity spellings are what a user porting the
    //    reference's cosine retrieval (README FAQ) writes first; they
    //    rank probes identically to their negated-ASC twins. A stripped
    //    monotone NON-DECREASING wrapper preserves descending order
    //    equivalence exactly as it preserves ascending.
    val matched: Option[(Array[Float], KnnSearch.Metric)] =
      s.order.headOption match {
        case Some(SortOrder(key, Ascending, _, _)) =>
          val (inner, sqrtStripped) = unwrapMonotonic(resolve(key, aliases))
          inner match {
            case L2SquaredDistance(a: AttributeReference, l)
                if rel.outputSet.contains(a) =>
              constVector(l).map((_, KnnSearch.NativeL2))
            case Subtract(Literal(one, DoubleType),
                CosineSimilarityExpr(a: AttributeReference, l), _)
                if one == 1.0 && rel.outputSet.contains(a) =>
              constVector(l).map((_, KnnSearch.NativeCosine))
            // -dot can be NEGATIVE: sqrt of it is NaN (sorts last in
            // Spark), so sqrt(-graft_dot) is NOT order-equivalent to the
            // dot ranking — refuse the match when a Sqrt was stripped.
            case UnaryMinus(DotProduct(a: AttributeReference, l), _)
                if !sqrtStripped && rel.outputSet.contains(a) =>
              constVector(l).map((_, KnnSearch.NativeInnerProduct))
            case _ => None
          }
        case Some(SortOrder(key, Descending, _, _)) =>
          val (inner, sqrtStripped) = unwrapMonotonic(resolve(key, aliases))
          // both similarity terms can be NEGATIVE (cos ∈ [-1,1], dot
          // unbounded), so a stripped Sqrt — NaN on the negative side,
          // which sorts FIRST under descending order in Spark — breaks
          // order equivalence for both: refuse any sqrt-wrapped match.
          inner match {
            case CosineSimilarityExpr(a: AttributeReference, l)
                if !sqrtStripped && rel.outputSet.contains(a) =>
              constVector(l).map((_, KnnSearch.NativeCosine))
            case DotProduct(a: AttributeReference, l)
                if !sqrtStripped && rel.outputSet.contains(a) =>
              constVector(l).map((_, KnnSearch.NativeInnerProduct))
            case _ => None
          }
        case _ => None
      }
    val (qVec, metric) = matched.getOrElse(return None)

    // 3. the live centroids, through the root-metadata cache
    //    [[IvfIndex.load]] fills: one pointer stat and one sidecar
    //    listing per attempted rewrite, so an in-place rebuild by any
    //    process is seen on the very next plan (a stale-centroid prune
    //    would be a silent recall collapse); no sidecar = not an index
    val root = fs.location.rootPaths.headOption.getOrElse(return None)
    val cents = Try(IvfIndex.sidecarCentroids(spark,
        root.getFileSystem(spark.sessionState.newHadoopConf()), root))
      .toOption.flatten.getOrElse(return None)
    // a query of another dimension than the index matches no cluster
    // geometry: leave the sort to the exact scan
    if (cents.exists(_._2.length != qVec.length)) return None
    // a residual data predicate thins every probed cluster — widen
    // the budget by the session's declared selectivity (the API
    // face's widenedNprobe contract); a budget reaching nlist means
    // the honest plan is the exact filtered scan: decline the rewrite
    val npEff = filterSelectivity.filter(_ => userFiltered)
      .fold(np)(QuantizedSearch.widenedNprobe(np, _, cents.length))
    if (npEff >= cents.length) return None // full scan anyway
    val probes = QuantizedSearch.rankProbes(cents.map(_._2),
      cents.map(_._1), metric, qVec.toSeq).take(npEff)

    // 4. inject the probe filter directly above the relation; the
    //    planner's PhysicalOperation collapse makes it a PartitionFilter
    val lits = clusterAttr.dataType match {
      case IntegerType => probes.map(p => Literal(p))
      case LongType    => probes.map(p => Literal(p.toLong))
      case _           => return None
    }
    val newChild = s.child.transformUp {
      case lr: LogicalRelation if lr eq rel =>
        Filter(In(clusterAttr, lits), lr)
    }
    Some(s.copy(child = newChild))
  }

  /** substitute Project aliases into the sort key (bounded — alias
    * chains in the matched shape are at most a few levels) */
  private def resolve(e: Expression,
      aliases: Map[ExprId, Expression]): Expression = {
    var cur = e
    var i = 0
    while (i < 4) {
      cur = cur.transformUp {
        case ar: AttributeReference if aliases.contains(ar.exprId) =>
          aliases(ar.exprId)
      }
      i += 1
    }
    cur
  }

  /** strip wrappers that preserve ascending order: round and floor
    * (non-decreasing), monotone affine arithmetic over constants
    * (`x + c`, `x · c` / `c · x` for c > 0, `x / c` for c > 0 — the
    * shape of [[graft.operators.KnnSearch.roundHalfUpCol]]'s
    * `floor(x·10^dp + 0.5) / 10^dp`, the engine's cross-engine
    * deterministic rounding of every ranked distance), WIDENING numeric
    * casts, aliases — and sqrt, which
    * is order-preserving ONLY on non-negative inputs (NaN on negatives,
    * and NaN sorts LAST in Spark, inverting nothing but breaking
    * equivalence). The returned flag records whether a Sqrt was
    * stripped, so the caller can refuse matches whose inner term may be
    * negative (`-graft_dot`); `graft_l2sq` and `1 − graft_cos` are
    * non-negative by construction and stay safe. A cast to string orders
    * lexicographically ('10' < '9') and a narrowing cast can truncate —
    * stripping either would prune to the wrong clusters and return wrong
    * rows beyond the sanctioned IVF approximation, so only
    * numeric→numeric up-casts pass; likewise `x · c` / `x / c` with
    * c ≤ 0 (order-inverting or degenerate) and `c / x` (non-monotone)
    * never strip. */
  private def unwrapMonotonic(e: Expression): (Expression, Boolean) =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Sqrt(c) =>
        (unwrapMonotonic(c)._1, true)
      case org.apache.spark.sql.catalyst.expressions.Round(c, _, _) =>
        unwrapMonotonic(c)
      case Floor(c) => unwrapMonotonic(c)
      case Add(l, r, _) if numConst(r).isDefined => unwrapMonotonic(l)
      case Add(l, r, _) if numConst(l).isDefined => unwrapMonotonic(r)
      case Multiply(l, r, _) if numConst(r).exists(_ > 0) =>
        unwrapMonotonic(l)
      case Multiply(l, r, _) if numConst(l).exists(_ > 0) =>
        unwrapMonotonic(r)
      case Divide(l, r, _) if numConst(r).exists(_ > 0) =>
        unwrapMonotonic(l)
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.child.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
            c.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
            org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(
              c.child.dataType, c.dataType) =>
        unwrapMonotonic(c.child)
      case a: Alias => unwrapMonotonic(a.child)
      case other => (other, false)
    }

  /** the numeric value of a FINITE foldable literal, None for
    * everything else (including Decimal — the matched shape only
    * produces primitive numeric literals — and ±Inf/NaN: multiplying
    * by +Inf collapses all positive values to one tie and sends an
    * exact zero to NaN, and adding NaN poisons every key, so neither
    * is an order-preserving wrapper) */
  private def numConst(e: Expression): Option[Double] = e match {
    case Literal(v: java.lang.Number, _) =>
      Some(v.doubleValue()).filter(java.lang.Double.isFinite)
    case _ => None
  }

  private def constVector(e: Expression): Option[Array[Float]] = e match {
    case Literal(ad: ArrayData, ArrayType(FloatType, _)) =>
      Try(ad.toFloatArray()).toOption
    case _ => None
  }
}

object IvfAutoProbe {
  val NprobeConf = "spark.graft.ivf.nprobe"

  /** Assumed kept-fraction of any RESIDUAL data predicate riding the
    * matched shape (a `Filter` between the sort and the relation that
    * is not the cluster prune itself) — the declarative twin of
    * [[graft.operators.IvfIndex#search]]'s `filterSelectivity`: a
    * selective WHERE thins every probed cluster's candidate pool, so
    * at the static [[NprobeConf]] budget filtered recall collapses
    * (q209 measured ~30% at 1/3 selectivity). When this conf is set
    * in (0, 1], a filtered match widens its probe budget to
    * `ceil(nprobe / selectivity)`; a widened budget reaching nlist
    * declines the rewrite — the exact filtered scan is the correct
    * plan there. Unset/0 (default) keeps the static budget — with the
    * documented caveat that filtered declarative queries should
    * either set this conf or use the API face, which takes the
    * per-query selectivity directly. Session-wide by nature (one
    * number for every query), so a mixed workload with per-query
    * selectivities belongs on the API. */
  val FilterSelectivityConf = "spark.graft.ivf.filterSelectivity"
}
