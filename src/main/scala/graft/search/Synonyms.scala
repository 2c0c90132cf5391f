package graft.search

import graft.analysis.Analyzer
import graft.index.PostingBlocks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Query-time SYNONYM expansion — Solr's `synonyms.txt` equivalence
  * classes applied by SynonymGraphFilter at query time, scored with
  * Lucene SynonymQuery semantics (the rewrite every multi-term synonym
  * position gets since Lucene 6): all members of a class behave as ONE
  * pseudo-term —
  *
  *  - document frequency = MAX member df (SynonymQuery's docFreq),
  *  - per-doc term frequency = SUM of member tfs (the merged-postings
  *    view), and
  *  - the pseudo-term scores once through the standard BM25 formula.
  *
  * Pinned engine choices (documented divergences where Solr/Lucene has
  * latitude):
  *  - groups must be pairwise DISJOINT equivalence classes (Solr's
  *    expand=true format); overlapping classes fail loudly instead of
  *    picking a winner silently,
  *  - a query token in no class expands to itself (a singleton class),
  *  - duplicate classes per query collapse — the same per-(query, term)
  *    dedupe the boolean clause engine pins (Lucene would score a
  *    repeated clause twice),
  *  - idf uses this engine's BM25 idf over (max df, N), like every other
  *    scoring path here (not Lucene's classic idf).
  *
  * Class resolution happens ONCE on the driver ([[resolve]]); both the
  * Spark engine and the DuckDB oracle consume the same (query, class,
  * member) triples, so the expansion itself has no cross-engine drift
  * seam. Scale shape: the expansion multiplies query terms by the class
  * size (bounded by the synonym file, not the corpus); the posting scan
  * stays shard-pruned exactly like the plain disjunctive path, and the
  * extra (query, class, doc) aggregation is one map-side-combinable
  * hash agg keyed no wider than the existing scoring agg.
  */
object Synonyms {

  /** (query_id, gid, member) expansion triples. gid = the class index in
    * `groups` for tokens covered by a class, `groups.size` + a dense
    * per-batch singleton index otherwise. Members are analyzed with the
    * one corpus analyzer; a member that does not analyze to exactly one
    * token fails loudly (a multi-token synonym is a phrase rewrite, not
    * a SynonymQuery — unsupported, stated rather than mis-scored). */
  def resolve(queries: Seq[(Int, String)],
              groups: Seq[Seq[String]]): Seq[(Int, Int, String)] = {
    val norm: Seq[Seq[String]] = groups.map(_.map { m =>
      val ts = Analyzer.tokenize(m)
      require(ts.size == 1,
        s"synonym member '$m' must analyze to exactly one token (got $ts)")
      ts.head
    }.distinct)
    val flat = norm.flatten
    require(flat.size == flat.distinct.size,
      "synonym classes must be pairwise disjoint equivalence classes")
    val byTerm: Map[String, Int] =
      norm.zipWithIndex.flatMap { case (g, i) => g.map(_ -> i) }.toMap
    val singletons = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    queries.flatMap { case (q, text) =>
      Analyzer.tokenize(text).flatMap { t =>
        byTerm.get(t) match {
          case Some(gi) => norm(gi).map(m => (q, gi, m))
          case None =>
            val gid = groups.size + singletons.getOrElseUpdate(t, singletons.size)
            Seq((q, gid, t))
        }
      }.distinct
    }
  }

  /** BM25 top-k over the persisted index with query-time synonym
    * expansion. Output shape = [[IndexSearch.search]]. A class with NO
    * member in the dictionary contributes nothing (OOV ≡ the plain
    * disjunctive path's missing term). */
  def searchIndex(idx: IndexSearch.OpenIndex, queries: Seq[(Int, String)],
                  groups: Seq[Seq[String]], k: Int = 10): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    val triples = resolve(queries, groups)
    def empty = Search.rank(
      Seq.empty[(Int, Long, Double)].toDF("query_id", "doc_id", "_score"), k)
    if (triples.isEmpty) return empty
    val tri = triples.toDF("query_id", "gid", "term")
    // dictionary probe: member df + shard (≤ |triples| rows — tiny)
    val qd = tri.join(idx.dictionary, "term")
      .select("query_id", "gid", "term", "df", "shard")
    // driver boundary: the shard set the expansion touches (≤ |members|)
    val shards = qd.select("shard").distinct().collect().map(_.getInt(0)).toSeq
    if (shards.isEmpty) return empty
    // SynonymQuery docFreq: max member df per (query, class)
    val gdf = qd.groupBy("query_id", "gid").agg(max(col("df")).as("_df"))
    val blocks = idx.postings
      .where(col("shard").isin(shards: _*))
      .join(broadcast(qd.select("query_id", "gid", "term")), Seq("term"))
    val scored = PostingBlocks.decodePostings(blocks)
      // merged-postings view: the class's tf = Σ member tfs per doc
      .groupBy("query_id", "gid", "doc_id")
      .agg(sum(col("tf")).as("_tf"), min(col("dl")).as("dl"))
      .join(broadcast(gdf), Seq("query_id", "gid"))
      .withColumn("_s", Bm25.termScore(col("_tf"), col("dl"), col("_df"),
        lit(idx.stats.nDocs), lit(idx.stats.avgdl)))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("_s")).as("_score"))
    Search.rank(scored, k)
  }
}
