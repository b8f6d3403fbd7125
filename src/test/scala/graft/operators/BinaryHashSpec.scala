package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.plans.VectorExpressions

class BinaryHashSpec extends SparkSpec {

  private def toRows(vs: Seq[Seq[Float]]) = {
    import spark.implicits._
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
  }

  test("packCol agrees with the driver-side packVec on every row") {
    val vs = Seq(
      Seq.fill(64)(0.5f),
      Seq.fill(64)(-0.5f),
      (0 until 64).map(i => if (i % 3 == 0) 1f else -1f),
      (0 until 64).map(i => if (i < 32) 0f else 0.25f))
    val got = toRows(vs)
      .select(col("vec_id"), BinaryHash.packCol(col("embedding"), 64).as("w"))
      .orderBy("vec_id").collect()
      .map(_.getSeq[Long](1))
    vs.zip(got).foreach { case (v, w) =>
      assert(w == BinaryHash.packVec(v), s"pack mismatch for $v")
    }
  }

  test("zero is not a set bit (the > 0 test, both pack paths)") {
    val v = Seq.fill(64)(0f)
    assert(BinaryHash.packVec(v) == Seq(0L, 0L))
  }

  test("hamming equals the naive differing-sign count, and is 0 on self") {
    VectorExpressions.ensureRegistered(spark)
    val a = (0 until 64).map(i => if (i % 5 == 0) 1f else -1f)
    val b = (0 until 64).map(i => if (i % 7 == 0) 1f else -1f)
    val naive = (0 until 64).count(i => (a(i) > 0f) != (b(i) > 0f))
    val df = toRows(Seq(a, b))
      .select(col("vec_id"),
        BinaryHash.hammingCol(
          BinaryHash.packCol(col("embedding"), 64),
          BinaryHash.packVec(a)).as("h"))
      .orderBy("vec_id").collect()
    assert(df(0).getLong(1) == 0L)
    assert(df(1).getLong(1) == naive.toLong)
    // the native expression keeps the per-word fan's semantics it
    // replaced: a NULL code or word is null, a short code is element_at
    // past the end (null; an error under ANSI), extra words are ignored
    def fan(packed: org.apache.spark.sql.Column, q: Seq[Long]) =
      q.zipWithIndex.map { case (qw, w) =>
        bit_count(element_at(packed, w + 1).bitwiseXOR(lit(qw)))
      }.reduce(_ + _).cast("long")
    val q = BinaryHash.packVec(a)
    val codes = {
      import spark.implicits._
      Seq[(Long, Option[Seq[Option[Long]]])](
        (0L, Some(BinaryHash.packVec(b).map(Some(_)))),
        (1L, None),
        (2L, Some(Seq(None, Some(5L)))),
        (3L, Some(Seq(Some(7L), Some(9L), Some(-1L)))),
        (4L, Some(Seq(Some(7L))))).toDF("vec_id", "code")
    }
    def both(rows: org.apache.spark.sql.DataFrame) =
      rows.select(col("vec_id"),
          BinaryHash.hammingCol(col("code"), q).as("h"),
          fan(col("code"), q).as("fan"))
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null) t else rootCause(t.getCause)
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    try for (ansi <- Seq("false", "true")) {
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      val whole = both(codes.filter(col("vec_id") < 4L))
      whole.foreach { case (id, h, f) =>
        assert(h == f, s"graft_hamming $h != fan $f on row $id (ansi $ansi)")
      }
      assert(whole.map(_._2.isEmpty).toSeq ==
        Seq(false, true, true, false), "only the NULL code and word are null")
      val short = codes.filter(col("vec_id") === 4L)
      if (ansi == "true")
        for (c <- Seq(BinaryHash.hammingCol(col("code"), q),
            fan(col("code"), q)))
          assert(rootCause(intercept[Exception](
            short.select(c).collect()))
            .isInstanceOf[ArrayIndexOutOfBoundsException])
      else assert(both(short).toSeq == Seq((4L, None, None)))
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
    // topKStored's size guard still raises on a NULL or short stored
    // code — a row that bypassed withCodes is never ranked
    for (bad <- Seq(lit(null).cast("array<bigint>"), array(lit(7L)))) {
      val stored = BinaryHash.withCodes(toRows(Seq(a, b)), "embedding", 64)
        .withColumn(BinaryHash.CodeCol, when(col("vec_id") === 1L, bad)
          .otherwise(col(BinaryHash.CodeCol)))
      val e = intercept[Exception](BinaryHash.topKStored(stored,
        BinaryHash.CodeCol, "embedding", "vec_id", a, k = 1,
        candidates = 2, rerank = v => size(v).cast("double")).collect())
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      assert(chain(e).exists(t => Option(t.getMessage)
        .exists(_.contains("stored code must have 2 words"))), e)
    }
  }

  test("two-pass topK with candidates = n equals the exact cosine ranking") {
    VectorExpressions.ensureRegistered(spark)
    val rnd = new scala.util.Random(7)
    val vs = Seq.fill(40)(Seq.fill(64)(rnd.nextFloat() - 0.5f))
    val q = vs.head
    val rerank = (v: org.apache.spark.sql.Column) =>
      KnnSearch.roundHalfUpCol(
        graft.functions.VectorFunctions.cosineSimilarityNative(
          v, KnnSearch.litVec(q)), 4)
    val twoPass = BinaryHash.topK(toRows(vs), "embedding", "vec_id",
        q, k = 5, candidates = 40, rerank = rerank)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val exact = toRows(vs)
      .select(col("vec_id"), rerank(col("embedding")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(5).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(twoPass == exact)
  }

  test("topK: null vectors never occupy candidate slots") {
    VectorExpressions.ensureRegistered(spark)
    val rnd = new scala.util.Random(11)
    val vs = Seq.fill(12)(Seq.fill(16)(rnd.nextFloat() - 0.5f))
    val q = vs.head
    val rerank = (v: org.apache.spark.sql.Column) =>
      KnnSearch.roundHalfUpCol(
        graft.functions.VectorFunctions.cosineSimilarityNative(
          v, KnnSearch.litVec(q)), 4)
    val clean = toRows(vs)
    // null rows ride ids above the clean range; nulls sort FIRST on
    // the ascending hamming, so before the fix they would displace
    // real candidates at a tight candidate budget
    val withNulls = clean.unionByName(
      spark.range(100, 110).selectExpr("id AS vec_id",
        "CAST(NULL AS array<float>) AS embedding"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      BinaryHash.topK(df, "embedding", "vec_id", q, k = 3,
          candidates = 5, rerank = rerank)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
    val got = ids(withNulls)
    assert(got == ids(clean), "null rows changed the ranking")
    assert(got.forall(_ < 100L), "a null row surfaced in the top-k")
  }

  test("packCol rejects a non-positive dim") {
    intercept[IllegalArgumentException] {
      BinaryHash.packCol(col("x"), 0)
    }
  }

  test("topKStoredBatch is bit-equal per query to the single " +
      "topKStored at the same (filter, candidates, k)") {
    VectorExpressions.ensureRegistered(spark)
    val rnd = new scala.util.Random(23)
    val vs = Seq.fill(60)(Seq.fill(64)(rnd.nextFloat() - 0.5f))
    val stored = BinaryHash.withCodes(toRows(vs), "embedding", 64)
      .localCheckpoint()
    val pred = pmod(col("vec_id"), lit(3L)) === 1L
    val queries = Seq(0L, 1L, 2L).map(i => (i, vs(i.toInt)))
    val batch = BinaryHash.topKStoredBatch(stored, BinaryHash.CodeCol,
        "embedding", "vec_id", queries, k = 4, candidates = 8,
        rerankDp = 4, filter = Some(pred))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    queries.foreach { case (qid, qv) =>
      val single = BinaryHash.topKStored(stored, BinaryHash.CodeCol,
          "embedding", "vec_id", qv, k = 4, candidates = 8,
          rerank = v => KnnSearch.roundHalfUpCol(
            graft.functions.VectorFunctions.cosineSimilarityNative(
              v, KnnSearch.litVec(qv)), 4),
          filter = Some(pred))
        .collect()
        .map(r => (qid, r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      val got = batch.getOrElse(qid, Array.empty).toSeq
      assert(got == single, s"query $qid: batch=$got\nsingle=$single")
      assert(got.nonEmpty && got.forall(_._2 % 3 == 1),
        s"query $qid: an ineligible row survived the shared-scan filter")
    }
    // mixed-dim query sets are refused (one code space per call)
    intercept[IllegalArgumentException](BinaryHash.topKStoredBatch(
      stored, BinaryHash.CodeCol, "embedding", "vec_id",
      Seq((0L, vs(0)), (1L, vs(1).take(32))), k = 2, candidates = 4))
  }

  test("topKStored(filter) equals topK(filter): the stored-code " +
      "production path carries the same filtered-ANN contract as the " +
      "per-query pack face") {
    VectorExpressions.ensureRegistered(spark)
    val rnd = new scala.util.Random(19)
    val vs = Seq.fill(40)(Seq.fill(64)(rnd.nextFloat() - 0.5f))
    val q = vs.head
    val rerank = (v: org.apache.spark.sql.Column) =>
      KnnSearch.roundHalfUpCol(
        graft.functions.VectorFunctions.cosineSimilarityNative(
          v, KnnSearch.litVec(q)), 4)
    val pred = pmod(col("vec_id"), lit(3L)) === 1L
    val stored = BinaryHash.withCodes(toRows(vs), "embedding", 64)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    val viaStored = rows(BinaryHash.topKStored(stored, BinaryHash.CodeCol,
      "embedding", "vec_id", q, k = 5, candidates = 8, rerank = rerank,
      filter = Some(pred)))
    val viaPacked = rows(BinaryHash.topK(toRows(vs), "embedding",
      "vec_id", q, k = 5, candidates = 8, rerank = rerank,
      filter = Some(pred)))
    assert(viaStored == viaPacked,
      "stored-code filtered search diverged from the pack-per-query face")
    assert(viaStored.nonEmpty && viaStored.forall(_._1 % 3 == 1),
      "an ineligible row survived the pushed filter")
  }

  test("perm x binary is a MEASURED won't-do: the OPQ permutation leaves every Hamming distance bit-identical on the aniso corpus") {
    // The r17 #6 / r18 #6 carry, closed with data instead of a guess:
    // would the OPQ coordinate permutation buy the binary rung recall
    // the way it buys PQ? The structural answer is no — per-DIMENSION
    // sign bits permute WITH the coordinates, identically for every
    // row and for the query, and XOR+popcount is invariant under any
    // fixed bit permutation — and this test MEASURES it where the
    // permutation has the most to work with: the anisotropic corpus
    // (hot band ×8, the q182 slice that made OPQ beat plain PQ) with
    // the REAL variance-balancing permutation derived from it. Every
    // per-row Hamming distance is bit-identical, so every downstream
    // ranking, recall, and operating-curve number is too — the rung
    // matrix cell is closed as a won't-do in PLANS.md, citing this.
    VectorExpressions.ensureRegistered(spark)
    val emb = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i < 16, x * lit(8f)).otherwise(x))
          .as("embedding"))
      .limit(2000)
    val dim = 64
    val perm = Pq.opqPermutation(emb, "embedding", 8)
    assert(!perm.sameElements(0 until dim),
      "the aniso permutation must actually move coordinates")
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    def hammings(corpus: org.apache.spark.sql.DataFrame,
        qv: Seq[Float]): Map[Long, Long] =
      corpus.select(col("vec_id"),
          BinaryHash.hammingCol(
            BinaryHash.packCol(col("embedding"), dim),
            BinaryHash.packVec(qv)).as("h"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val raw = hammings(emb, q)
    val permuted = hammings(
      emb.select(col("vec_id"),
        Pq.permuteCol("embedding", perm).as("embedding")),
      perm.map(q(_)).toSeq)
    assert(raw == permuted,
      "sign-code Hamming must be invariant under the permutation — " +
        "if this ever fails, the won't-do is void and perm-binary " +
        "becomes a real rung")
  }
}
