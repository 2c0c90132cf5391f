package graft.search

import graft.analysis.Analyzer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Solr ClusteringComponent analog — label-driven clustering of the
  * top-k result set of each query [PUB: Solr clustering handler /
  * Carrot2 Lingo, whose defining trait is LABELS-FIRST: pick human-
  * readable cluster labels, then assign docs]. The deterministic
  * re-shape used here: a result doc's label is its RAREST dictionary
  * term — minimum df, ties broken by lexicographically-least term (df
  * ordering ≡ descending idf without touching floating point, so the
  * label choice is exactly reproducible in SQL). Docs sharing a label
  * form a cluster; clusters under `minClusterSize` fold into one
  * `__other__` bucket per query (Carrot2's "Other Topics").
  *
  * Scale shape: the hit set is O(|queries|·k) by construction — it is
  * collected once (the searchHighlight bound) to push `doc_id IN` into
  * the docs/ scan and `term IN` into the dictionary scan, so label
  * computation reads O(hits·dl) tokens and O(result vocabulary)
  * dictionary rows, never a corpus-sized relation. The per-doc argmin
  * is a window over ≤ dl rows; cluster assembly groups O(queries·k)
  * labeled rows. Nothing scales with the corpus.
  *
  * @return (query_id, label, n_docs, docs) — docs = comma-joined
  *         ascending doc_ids; ordered by query, size desc, label. */
object Clustering {

  def clusters(idx: IndexSearch.OpenIndex, queries: Seq[(Int, String)],
               k: Int = 10, minClusterSize: Int = 2): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    require(minClusterSize > 1,
      s"minClusterSize must be ≥ 2 (got $minClusterSize) — at 1 every doc is its own cluster")
    val spark = idx.spark
    val hits = IndexSearch.localize(spark,
      IndexSearch.search(idx, queries, k)).select("query_id", "doc_id")
    val ids = hits.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSeq // O(queries·k) — the highlight bound
    if (ids.isEmpty)
      return hits.withColumn("label", lit(""))
        .withColumn("n_docs", lit(0)).withColumn("docs", lit(""))
        .select("query_id", "label", "n_docs", "docs").where(lit(false))
    // distinct analyzed terms of the hit docs (docs/ scan pruned by the
    // pushed doc_id IN; re-tokenization is bit-identical to the tf the
    // dictionary was built from)
    val docTerms = idx.stored
      .where(col("doc_id").isin(ids: _*))
      .select(col("doc_id"),
        explode(array_distinct(Analyzer.tokens(col("text")))).as("term"))
    val vocab = docTerms.select("term").distinct()
      .collect().map(_.getString(0)).toSeq // O(hits·dl) distinct terms
    val df = idx.dictionary.where(col("term").isInCollection(vocab))
      .select("term", "df")
    val byRarity = Window.partitionBy("doc_id")
      .orderBy(col("df").asc, col("term").asc)
    val labels = docTerms.join(df, "term")
      .withColumn("_rn", row_number().over(byRarity))
      .where(col("_rn") === 1)
      .select(col("doc_id"), col("term").as("label"))
    val labeled = hits.join(labels, "doc_id")
    def assemble(in: DataFrame, keys: Seq[String]): DataFrame =
      in.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).cast("int").as("n_docs"),
          array_join(transform(array_sort(collect_list(col("doc_id"))),
            _.cast("string")), ",").as("docs"))
    val grouped = assemble(labeled, Seq("query_id", "label"))
    val big = grouped.where(col("n_docs") >= minClusterSize)
    val other = assemble(
      labeled.join(big.select("query_id", "label"),
        Seq("query_id", "label"), "left_anti"),
      Seq("query_id"))
      .withColumn("label", lit("__other__"))
      .select("query_id", "label", "n_docs", "docs")
    big.select("query_id", "label", "n_docs", "docs")
      .union(other)
      .orderBy(col("query_id"), col("n_docs").desc, col("label"))
  }
}
