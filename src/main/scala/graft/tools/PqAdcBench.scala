package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Pq, QuantizedSearch}

/** Micro-benchmark for the PQ approximate pass: per-row decoded-fold
  * scoring (dim multiply-adds — round 12's shape) vs ADC lookup-table
  * scoring (m lookups + adds — canonical FAISS, round 13). Both run
  * over the same collected code column so the measurement isolates the
  * row arithmetic the scan actually pays; the decoded fold is kept
  * INLINE here (the production path now only has the table form).
  * Run: `scripts/run_main.sh graft.tools.PqAdcBench [sfDir] [reps]`.
  */
object PqAdcBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val books = Pq.fit(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val codes = Pq.encode(emb, "embedding", books)
      .select(col("__pq_code")).collect()
      .map(_.getAs[Array[Byte]](0))
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val n = codes.length
    println(s"rows=$n dim=${books.dim} m=${books.m} ksub=${books.ksub}")

    // round 12's per-row decoded fold: m*dsub = dim multiply-adds
    def decodedFold(): Double = {
      var acc = 0.0
      var r = 0
      while (r < n) {
        val code = codes(r)
        var s = 0.0
        var i = 0
        var sub = 0
        while (sub < books.m) {
          val cent = books.cb(sub)(code(sub) & 0xFF)
          var j = 0
          while (j < books.dsub) {
            val diff = cent(j).toDouble - q(i).toDouble
            s += diff * diff
            i += 1
            j += 1
          }
          sub += 1
        }
        acc += s
        r += 1
      }
      acc
    }

    // round 13's table scoring: m lookups + adds per row
    val tabBuild0 = System.nanoTime()
    QuantizedSearch.adcTable(books, q)
    def tableScore(): Double = {
      val t = QuantizedSearch.adcTable(books, q)
      var acc = 0.0
      var r = 0
      while (r < n) {
        val code = codes(r)
        var s = 0.0
        var sub = 0
        while (sub < books.m) {
          s += t(sub)(code(sub) & 0xFF)
          sub += 1
        }
        acc += s
        r += 1
      }
      acc
    }
    println(f"table build ${(System.nanoTime() - tabBuild0) / 1e6}%.2f ms overhead (paid once per query)")

    def time(name: String, f: () => Double): Double = {
      f() // warm
      var sink = 0.0
      val best = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        sink += f()
        (System.nanoTime() - t0) / 1e6
      }.min
      println(f"$name%-14s $best%9.2f ms (min of $reps, checksum $sink%.3f)")
      best
    }
    val a = time("decoded fold", decodedFold _)
    val b = time("ADC table", tableScore _)
    // identical doubles? the fold groups differently (flat vs
    // per-subspace partials) so totals may differ in ULPs — report
    val d = math.abs(decodedFold() - tableScore())
    println(f"speedup ${a / b}%.2fx; |flat - table| on checksum-row sums: $d%.3g")
    spark.stop()
  }
}
