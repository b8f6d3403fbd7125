package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.CorpusStore

/** The z-order layout's value is MEASURED, not asserted by vibes: the
  * same 64×64 grid is written 16-files linear-sorted and 16-files
  * z-ordered, and the number of files whose (a, b) min/max envelope
  * intersects a 16×16 query box is counted from the files themselves
  * (per-file min/max via input_file_name — exactly the statistics
  * parquet footers give the scan planner). Linear layout: every file
  * spans the full b range, so any box with a wide-enough a side
  * touches a stripe of files and every b-filter is useless. Z-order:
  * files are plane tiles, the box touches only its corner. */
class ZOrderSpec extends SparkSpec {

  test("graft_morton interleaves bits; eval and codegen agree") {
    VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    // morton(a, b): a on even bits, b on odd
    assert(LayoutExpressions.morton(0L, 0L) == 0L)
    assert(LayoutExpressions.morton(1L, 0L) == 1L)
    assert(LayoutExpressions.morton(0L, 1L) == 2L)
    assert(LayoutExpressions.morton(3L, 3L) == 15L)
    assert(LayoutExpressions.morton(0xFFFFFFFFL, 0xFFFFFFFFL) == -1L)
    // high bits beyond 32 are masked (layout coordinates, total fn)
    assert(LayoutExpressions.morton(1L << 40, 0L) == 0L)
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (21L, 42L), (63L, 17L))
    val got = rows.toDF("a", "b")
      .select(call_function("graft_morton", col("a"), col("b")))
      .collect().map(_.getLong(0)).toSeq
    assert(got == rows.map { case (a, b) => LayoutExpressions.morton(a, b) })
  }

  test("z-order tiles the plane: a 2-D box prunes files linear can't") {
    import spark.implicits._
    val grid = (0 until 64 * 64).map(i => (i % 64, i / 64))
      .toDF("a", "b")
    val tmp = tempDir("graft-zorder-").toString

    // linear layout: range-sorted by a alone (what a naive sorted
    // rewrite gives you)
    grid.repartitionByRange(16, col("a"))
      .sortWithinPartitions(col("a"), col("b"))
      .write.parquet(s"$tmp/linear")
    CorpusStore.writeZOrdered(grid, s"$tmp/zorder", "a", "b", 16)

    // per-file envelopes, as the scan planner sees them
    def filesHit(path: String, aLo: Int, aHi: Int, bLo: Int,
        bHi: Int): Long =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("a").as("la"), max("a").as("ha"),
          min("b").as("lb"), max("b").as("hb"))
        .filter(col("ha") >= aLo && col("la") <= aHi &&
          col("hb") >= bLo && col("lb") <= bHi)
        .count()

    // a 16×16 box = 1/16 of the plane
    val lin = filesHit(s"$tmp/linear", 0, 15, 0, 15)
    val zed = filesHit(s"$tmp/zorder", 0, 15, 0, 15)
    // linear: the box's a-range covers ~1/4 of the files, and each of
    // those spans all of b — the b predicate prunes nothing
    assert(lin >= 4, s"linear layout unexpectedly selective: $lin")
    // z-order: the box is ONE corner tile's worth of the plane
    assert(zed < lin,
      s"z-order must beat linear on a 2-D box: z=$zed linear=$lin")
    assert(zed <= 2, s"64x64/16-file z-order should localize the box: $zed")

    // and both layouts hold the same data (layout is not semantics)
    val a = spark.read.parquet(s"$tmp/linear").orderBy("a", "b").collect()
    val c = spark.read.parquet(s"$tmp/zorder").orderBy("a", "b").collect()
    assert(a.sameElements(c))
  }
}
