package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Solr QueryElevationComponent (`elevate.xml` / `elevateIds`): editorial
  * overrides that pin chosen documents to the top of a query's results in
  * a curated order, with the organic ranking following underneath.
  *
  * Pinned semantics (Solr's component, public model):
  *  - Elevated docs rank 1..e in exactly the CURATED order, regardless of
  *    their organic score — including docs the query does not match at
  *    all (`forceElevation` shape): those appear with a NULL score (Solr
  *    marks elevated docs and sorts them first; an unmatched elevated doc
  *    still returns).
  *  - Organic results follow at rank e+1.., ordered by the standard
  *    (round(score, 7) DESC, doc_id ASC) key, with every elevated doc
  *    EXCLUDED from the organic tail (no duplicates), truncated to k
  *    total rows per query.
  *  - `elevated` boolean in the output (Solr's `[elevated]` doc
  *    transformer).
  *
  * Scale shape: the elevation table is editorial — request-shaped by
  * nature (Solr loads it from a config file) — so it broadcasts; the
  * organic tail is the standard scored path plus one broadcast anti-join
  * and a per-query rank window. Nothing new shuffles.
  */
object Elevation {

  /** (query text, curated doc ids) per query id → (query_id, rank,
    * doc_id, score, elevated); `k` caps TOTAL rows per query. */
  def search(idx: IndexSearch.OpenIndex, queries: Seq[(Int, String)],
             elevations: Map[Int, Seq[Long]], k: Int = 10): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    elevations.foreach { case (qid, ids) =>
      require(ids.distinct.size == ids.size,
        s"elevation list for query $qid contains duplicates")
      require(ids.size <= k,
        s"elevation list for query $qid exceeds k=$k")
    }
    val spark = idx.spark
    import spark.implicits._
    val elevRows = queries.flatMap { case (qid, _) =>
      elevations.getOrElse(qid, Nil).zipWithIndex
        .map { case (d, i) => (qid, d, i + 1) }
    }
    val elevDf = elevRows.toDF("query_id", "doc_id", "_pos")
    val scored = IndexSearch.scoredDocs(idx, Search.queryPairs(queries), conjunctive = false)
    // elevated block: curated order, organic score attached when matched.
    // The curated pairs first SEMI-prune the scored frame (request-bounded
    // result), so the outer join below is tiny-LEFT-JOIN-tiny with the
    // broadcastable side on the right — Spark cannot broadcast the
    // preserved side of an outer join.
    val elevScores = scored
      .join(broadcast(elevDf.select("query_id", "doc_id")),
        Seq("query_id", "doc_id"), "left_semi")
      .select("query_id", "doc_id", "_score")
    val elevated = elevDf
      .join(broadcast(elevScores), Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("_pos").cast("int").as("rank"),
        col("doc_id"), round(col("_score"), Bm25.OutScale).as("score"),
        lit(true).as("elevated"))
    val nElev = queries.map { case (qid, _) =>
      (qid, elevations.getOrElse(qid, Nil).size)
    }.toDF("query_id", "_n_elev")
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("_score"), Bm25.RankScale).desc, col("doc_id").asc)
    val organic = scored
      .join(broadcast(elevDf.select("query_id", "doc_id")),
        Seq("query_id", "doc_id"), "left_anti")
      .withColumn("_rn", row_number().over(w))
      .join(broadcast(nElev), "query_id")
      .withColumn("rank", (col("_rn") + col("_n_elev")).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("_score"), Bm25.OutScale).as("score"),
        lit(false).as("elevated"))
    elevated.unionByName(organic).orderBy("query_id", "rank")
  }
}
