package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Post-retrieval formatting block — SURVEY.md §2.4 A3/A5, §2.7 X1/X2,
  * §2.3 J3. These run on every answered query in the reference
  * (/root/reference/src/rag/rag_graph.py:424-548); here they are plain
  * DataFrame ops over the (tiny) retrieved candidate set plus pure column
  * functions usable at corpus scale.
  */
object PostRetrieval {

  /** doc separator in the prompt context (rag_graph.py:433-435) */
  val ContextSep = "\n=====\n"

  /** A3: order-sensitive concat of retrieved docs into one context
    * string. `collect_list` order is nondeterministic under parallel
    * merge, so the rank rides inside the collected struct and
    * `array_sort` restores it before joining — deterministic on any
    * cluster. Returns a one-column aggregate expression usable in
    * `groupBy(...).agg(...)`. */
  def contextConcat(rankCol: Column, textCol: Column,
      sep: String = ContextSep): Column =
    array_join(
      transform(
        array_sort(collect_list(struct(rankCol.as("r"), textCol.as("t")))),
        x => x.getField("t")),
      sep)

  /** A5: URL dedup with stable first-seen numbering
    * (rag_graph.py:492-503): keep one row per URL, numbered 1..n by the
    * order each URL first appeared in the retrieval ranking.
    *
    * This is the corpus-scale form (q12, q14): the `groupBy` spreads
    * the urls over the cluster before the one numbering window sees a
    * row per url. A global window over the whole table would put every
    * row in one partition. [[RagPipeline]] numbers its reranked top-10
    * with the k-scale window form instead
    * (`dense_rank() over (order by min(rank) over (partition by url))`),
    * which needs no join back: those rows already sit in one
    * partition. */
  def refNumbering(docs: DataFrame, urlCol: String, orderCol: String)
      : DataFrame = {
    val firstSeen = docs
      .groupBy(col(urlCol))
      .agg(min(col(orderCol)).as("first_seen"))
    firstSeen
      .withColumn("ref_id",
        row_number().over(Window.orderBy(col("first_seen"))))
      .select(col("ref_id"), col(urlCol), col("first_seen"))
  }

  /** X1: sequential regex URL-rewrite chain (ob.py:53-93) — first-match
    * order matters, so it is a foldLeft, not a set of independent rules.
    * Engine-default rules live with the caller; this is the mechanism. */
  def rewriteUrls(url: Column, rules: Seq[(String, String)]): Column =
    rules.foldLeft(url) { case (c, (pattern, replacement)) =>
      regexp_replace(c, pattern, replacement)
    }

  /** X2: rewrite `[@N]` citation markers into `[[N]](url)` links
    * (rag_graph.py:43-44, :517-548), with the URL looked up per index in
    * `urlByIdx` (map<int,string>). Literal `replace` per distinct marker:
    * `[@1]` is never a substring of `[@10]` (the closing bracket seals
    * it), so no overlap ordering is needed — the reference's reverse-sort
    * trick (rag_graph.py:528) guards a looser pattern. Unknown indices
    * keep their marker, like the reference's docs[order-1] bounds check. */
  def rewriteCitations(text: Column, urlByIdx: Column): Column =
    aggregate(
      array_distinct(regexp_extract_all(text, lit("\\[@(\\d+)\\]"), lit(1))),
      text,
      (acc, idx) =>
        when(map_contains_key(urlByIdx, idx.cast("int")),
          regexp_replace(acc,
            concat(lit("\\[@"), idx, lit("\\]")),
            concat(lit("[[" ), idx, lit("]]("),
              element_at(urlByIdx, idx.cast("int")), lit(")"))))
          .otherwise(acc))

  /** J3: citation marker → document join. Explode the `[@N]` indices in
    * each answer and join positionally against the numbered reference
    * list (`refNumbering` output) — the relational form of the
    * reference's `docs[int(order) - 1]` lookup (rag_graph.py:531). */
  def citationJoin(
      answers: DataFrame, answerTextCol: String,
      refs: DataFrame, refIdCol: String): DataFrame = {
    val cited = answers
      .select(col("*"),
        explode(array_distinct(
          regexp_extract_all(col(answerTextCol), lit("\\[@(\\d+)\\]"),
            lit(1)))).as("cited_str"))
      .withColumn("cited_ref", col("cited_str").cast("int"))
      .drop("cited_str")
    // refs is the deduped numbered reference list — tiny; broadcast it.
    cited.join(broadcast(refs), cited("cited_ref") === refs(refIdCol))
  }
}
