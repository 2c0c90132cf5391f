package graft.search

import graft.analysis.Analyzer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Solr MoreLikeThis (`mlt=true` / the `/mlt` handler): given seed
  * documents, extract each seed's most "interesting" terms and run them as
  * a disjunctive query — "find documents like this one". The classic
  * recommender shape over a transcript corpus: similar turns to a given
  * turn.
  *
  * Pinned semantics (Lucene `MoreLikeThis` is the public model; every
  * deliberate divergence called out):
  *  - Seed term statistics come from RE-ANALYZING the seed's stored text
  *    (Lucene does the same when the field has no term vectors, which is
  *    Solr's default for stored text fields). tf is the seed-local term
  *    count; df comes from the index dictionary.
  *  - Interesting-term score = tf(t, seed) × idf(t) with THIS engine's
  *    BM25 idf (ln(1+(N−df+0.5)/(df+0.5))). Lucene MLT uses the classic
  *    `log(N/(df+1))+1` — same monotone ordering in (tf, df) for fixed N,
  *    but a documented formula divergence, pinned so the oracle twin and
  *    the engine share one expression.
  *  - Gates: `tf ≥ minTf` and `df ≥ minDf` (Lucene mintf/mindf; the
  *    maxdf / word-length gates default off there and are omitted).
  *  - Top `maxQueryTerms` per seed by (score DESC, term ASC) — the
  *    FP-stable tie-break this codebase pins everywhere.
  *  - The selected terms run as a SCORING_BOOLEAN disjunction (each term
  *    scores with its own idf — the same rewrite the prefix/wildcard/
  *    fuzzy family pins), Lucene's per-term MLT boost NOT applied
  *    (`boost=false`, the Lucene default).
  *  - The seed document is EXCLUDED from its own result list (Solr
  *    excludes the queried document), then top-k ranks like [[Search.rank]].
  *
  * Scale shape: the seed scan is a `doc_id IN (…)`-pushed point lookup
  * (request-shaped); seed tf is ≤ Σ seed dl rows; the dictionary join
  * BROADCASTS the seed-term side (request-shaped) against the term-sharded
  * dictionary; candidate scoring reuses the shard-pruned posting path.
  * Nothing driver-side scales with the corpus.
  */
object MoreLikeThis {

  /** Per-seed interesting terms: (query_id, term, tf, df, mlt_score),
    * ranked and truncated to maxQueryTerms. Exposed for the oracle gate
    * and tests; [[moreLikeThis]] consumes the (query_id, term) pairs. */
  def interestingTerms(idx: IndexSearch.OpenIndex, seeds: Seq[(Int, Long)],
                       maxQueryTerms: Int, minTf: Int,
                       minDf: Long): DataFrame = {
    require(seeds.nonEmpty, "MLT needs at least one seed document")
    require(maxQueryTerms > 0, s"maxQueryTerms must be positive (got $maxQueryTerms)")
    val spark = idx.spark
    import spark.implicits._
    val seedIds = seeds.map(_._2).distinct
    val seedsDf = seeds.toDF("query_id", "_seed_doc")
    // point lookup: doc_id IN (…) pushes to the docs/ parquet scan
    val seedText = idx.stored
      .where(col("doc_id").isin(seedIds: _*))
      .select(col("doc_id").as("_seed_doc"), col("text"))
    val seedTf = broadcast(seedsDf).join(seedText, "_seed_doc")
      .select(col("query_id"), explode(Analyzer.tokens(col("text"))).as("term"))
      .groupBy("query_id", "term").agg(count(lit(1)).cast("int").as("tf"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("mlt_score"), Bm25.RankScale).desc, col("term").asc)
    broadcast(seedTf)
      .join(idx.dictionary.select("term", "df"), "term")
      .where(col("tf") >= minTf && col("df") >= minDf)
      .withColumn("mlt_score",
        Bm25.idf(col("df"), lit(idx.stats.nDocs)) * col("tf"))
      .withColumn("mlt_rank", row_number().over(w).cast("int"))
      .where(col("mlt_rank") <= maxQueryTerms)
      .select("query_id", "mlt_rank", "term", "tf", "df", "mlt_score")
  }

  /** MLT search: (query_id, rank, doc_id, score) — query_id identifies
    * the seed request; the seed document itself never appears. */
  def moreLikeThis(idx: IndexSearch.OpenIndex, seeds: Seq[(Int, Long)],
                   k: Int = 10, maxQueryTerms: Int = 10, minTf: Int = 2,
                   minDf: Long = 2L): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    // ≤ |seeds|·maxQueryTerms pairs
    val qt = interestingTerms(idx, seeds, maxQueryTerms, minTf, minDf)
      .select("query_id", "term").as[(Int, String)].collect().toSeq
    val seedsDf = seeds.toDF("_seed_q", "_seed_doc")
    val scored = IndexSearch.scoredDocs(idx, qt, conjunctive = false)
      .join(broadcast(seedsDf),
        col("query_id") === col("_seed_q") &&
          col("doc_id") === col("_seed_doc"), "left_anti")
    Search.rank(scored, k)
  }
}
