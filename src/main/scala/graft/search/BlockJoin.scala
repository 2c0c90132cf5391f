package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lucene/Solr block join — the `{!parent which=…}` query parser
  * (ToParentBlockJoinQuery): score CHILD documents with the inner query,
  * then return the top-k PARENT documents, each scored by an aggregate of
  * its matching children's scores (the query's `score=` local param).
  *
  * The transcript model's natural nesting is conversation → turns: a turn
  * is a child document, its conversation is the parent, and `conv_id` is
  * the block key (Lucene co-locates parent/child in one segment block;
  * the relational twin of that invariant is the key join below — same
  * semantics, no physical co-location requirement).
  *
  * Pinned semantics (Lucene ScoreMode):
  *  - `total` = sum of matching child scores, `max` = best child,
  *    `avg` = sum / matching-child count;
  *  - a parent ranks iff ≥ 1 child matches; `n_children` reports the
  *    matching-child count (not the block size);
  *  - rank order (round(score, 7) DESC, parent ASC) — the same pinned
  *    tie-break discipline as every ranked output; score reported at 4
  *    decimals. The FP note from BASELINE.md applies: child-score sums
  *    are order-dependent across engines, absorbed by the rank rounding.
  *
  * Scale shape: one (doc_id → parent) attribute join on the already-
  * scored match set, one hash aggregation keyed (query, parent), one
  * per-query top-k window — no corpus-shaped state and no extra shuffle
  * beyond the aggregation.
  */
object BlockJoin {

  sealed trait ScoreMode { def agg(c: Column): Column }
  /** sum of matching child scores. */
  case object Total extends ScoreMode { def agg(c: Column) = sum(c) }
  /** best matching child's score. */
  case object Max extends ScoreMode { def agg(c: Column) = max(c) }
  /** mean over MATCHING children (Lucene avg, not block-size mean). */
  case object Avg extends ScoreMode {
    def agg(c: Column) = sum(c) / count(lit(1))
  }

  /** Top-k parents of a scored child match set.
    *
    * `scored`: (query_id, key…, _score) — any engine's per-doc scores.
    * `attrs`: (key…, parentField) — the child → parent key map (a
    * column-pruned `docs/` scan on the persisted index). When
    * `parentField` is itself a key column (conv_id of a segmented root's
    * (conv_id, turn_idx)), the parent is read off the scored keys and no
    * attribute join runs. */
  def parents(scored: DataFrame, attrs: DataFrame, parentField: String,
              mode: ScoreMode, k: Int,
              key: Seq[String] = Seq("doc_id")): DataFrame = {
    require(k > 0, s"block join k must be positive (got $k)")
    val parent = col(parentField).cast("string").as("parent")
    val agged = (if (key.contains(parentField)) scored.select(col("query_id"),
        col("_score"), parent)
      else scored.join(attrs.select(key.map(col) :+ parent: _*), key))
      .where(col("parent").isNotNull)
      .groupBy("query_id", "parent")
      .agg(mode.agg(col("_score")).as("_score"),
        count(lit(1)).as("n_children"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("_score"), Bm25.RankScale).desc, col("parent").asc)
    agged.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("parent"),
        col("n_children"), round(col("_score"), Bm25.OutScale).as("score"))
      .orderBy("query_id", "rank")
  }

  /** `{!child of=…}` — ToChildBlockJoinQuery: the inner query selects
    * PARENTS (via [[parents]]' aggregate semantics), and the result is
    * every child document of each top-k matched parent, carrying the
    * parent's block-join score and rank (Lucene scores each child with
    * its parent's score — pinned here too). `childAttrs` is the
    * column-pruned child attribute relation keyed by `parentField`;
    * output (query_id, parent_rank, parent, child attrs…, score) ordered
    * (query_id, parent_rank, childOrder). The ≤ |queries|·k parent frame
    * broadcasts against the child side — children are never scanned per
    * query, once per request. */
  def children(scored: DataFrame, attrs: DataFrame, parentField: String,
               mode: ScoreMode, k: Int, childCols: Seq[String],
               childOrder: Seq[String]): DataFrame = {
    val ps = parents(scored, attrs, parentField, mode, k)
      .select(col("query_id"), col("rank").as("parent_rank"),
        col("parent"), col("score"))
    broadcast(ps)
      .join(attrs.select(col(parentField).cast("string").as("parent") +:
        childCols.map(col): _*), "parent")
      .select(Seq(col("query_id"), col("parent_rank"), col("parent")) ++
        childCols.map(col) :+ col("score"): _*)
      .orderBy(Seq(col("query_id"), col("parent_rank")) ++
        childOrder.map(col): _*)
  }
}
