package graft.search

import graft.analysis.Analyzer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Solr significantTerms (the `significantTerms` streaming expression /
  * ES significant-terms aggregation): per query, the terms that are
  * OVER-REPRESENTED in the match set (foreground) relative to the whole
  * corpus (background) — "what words characterize the matching docs", the
  * workhorse of corpus exploration and training-data slice auditing.
  *
  * Pinned scoring (the classic foreground-lift ratio):
  *
  *   lift(t) = (fg_df / fg_n) / (df / N)
  *           = (fg_df·N) / (fg_n·df)   — computed as the right-hand
  *   product-of-doubles form in BOTH engines (casts before multiplies:
  *   the integer products would overflow long at fleet scale), a single
  *   FP expression with no aggregation-order sensitivity, so the twin is
  *   bit-identical. Solr's own default scorer is a different (also
  *   ratio-shaped) formula — the choice of lift is a documented pinned
  *   divergence; the plumbing (fg/bg df, gates, ranking) is the feature.
  *
  * Gates: `minDf` (Solr minDocFreq) on the BACKGROUND df — drops typos
  * and hapaxes whose lift explodes; `minFgDf` (Solr minTermLength's
  * spiritual sibling numDocs gate) on the foreground count — a term must
  * appear in ≥ that many matching docs. Top-`n` per query by
  * (round(lift, 7) DESC, term ASC).
  *
  * Scale shape: foreground term counts come from RE-ANALYSIS of the
  * match set's stored text (the [[MoreLikeThis]]/termVectors idiom,
  * bit-identical tokens by the one-analyzer invariant) — O(match set)
  * text, never a posting traversal; background df is the broadcast-sized
  * dictionary joined on the (query × matched-vocab)-bounded foreground
  * frame. Nothing corpus-shaped shuffles: the explode is over matched
  * docs only, and the rank window partitions per query. */
object SignificantTerms {

  def significantTerms(idx: IndexSearch.OpenIndex, queries: Seq[(Int, String)],
                       n: Int, minDf: Long, minFgDf: Long): DataFrame = {
    require(n > 0, s"significantTerms n must be positive (got $n)")
    require(minDf >= 1 && minFgDf >= 1,
      s"minDf/minFgDf must be >= 1 (got $minDf/$minFgDf)")
    val matched = IndexSearch.matchedDocSet(idx, queries)
    val docsText = idx.stored
      .select(col("doc_id"), col("text"))
    val fg = matched.join(docsText, "doc_id")
      .select(col("query_id"), col("doc_id"),
        explode(Analyzer.tokens(col("text"))).as("term"))
      .distinct()
      .groupBy("query_id", "term")
      .agg(count(lit(1)).as("fg_df"))
    // matched is already a distinct (query, doc) set — count is fg_n
    val fgn = matched.groupBy("query_id").agg(count(lit(1)).as("_fgn"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("_lift"), Bm25.RankScale).desc, col("term").asc)
    fg.join(idx.dictionary.select("term", "df"), "term")
      .where(col("df") >= minDf && col("fg_df") >= minFgDf)
      .join(broadcast(fgn), "query_id")
      .withColumn("_lift",
        (col("fg_df").cast("double") * lit(idx.stats.nDocs.toDouble)) /
          (col("_fgn").cast("double") * col("df").cast("double")))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= n)
      .select(col("query_id"), col("rank"), col("term"),
        col("fg_df").cast("long").as("fg_df"), col("df").cast("long").as("bg_df"),
        round(col("_lift"), Bm25.OutScale).as("lift"))
      .orderBy("query_id", "rank")
  }
}
