package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Solr's join query parser (`{!join from=f to=t}q`): match documents
  * whose `to` field value appears among the `from` field values of the
  * sub-query's match set. The flagship transcript shape is
  * `{!join from=conv_id to=conv_id}error` — "every turn of every
  * conversation that contains a matching turn".
  *
  * Pinned semantics (Solr JoinQParser, public model):
  *  - CONSTANT-SCORE: Solr's join gives every joined doc the same score
  *    (`score=none`); ranking is therefore by the pinned deterministic
  *    key (doc_id ASC) with a rank column and a top-k cap, scores not
  *    reported.
  *  - NULL join keys never match (on either side) — SQL semi-join
  *    equality semantics, identical in both engines.
  *  - The joined result INCLUDES the originally-matching docs themselves
  *    (Solr does not exclude them).
  *
  * Scale shape: sub-query match set → distinct (query, key) pairs — a
  * DISTINCT-bounded shuffle, then ONE equi-join against the docs relation
  * on the key. The key set is match-bounded, not corpus-bounded, but NOT
  * broadcast (a hot query can match most conversations); the join ships
  * only (query_id, key) against the column-pruned docs scan and lets AQE
  * pick the strategy. The top-k window bounds the output request-shaped.
  */
object JoinQuery {

  /** `{!join from=fromField to=toField}` over the persisted index:
    * (query_id, rank, doc_id, <toField>). */
  def join(idx: IndexSearch.OpenIndex, queries: Seq[(Int, String)],
           fromField: String, toField: String, k: Int = 10): DataFrame = {
    require(k > 0, s"k must be positive (got $k)")
    val attrs = idx.attrs
    val fromKeys = IndexSearch.matchedDocSet(idx, queries)
      .join(attrs.select(col("doc_id"), col(fromField).as("_key")), "doc_id")
      .where(col("_key").isNotNull)
      .select("query_id", "_key").distinct()
    val w = Window.partitionBy("query_id").orderBy(col("doc_id").asc)
    attrs.select(col("doc_id"), col(toField).as("_key"), col(toField))
      .where(col("_key").isNotNull)
      .join(fromKeys, "_key")
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "doc_id", toField)
      .orderBy("query_id", "rank")
  }
}
