package graft.search

import graft.analysis.Analyzer
import graft.index.PostingBlocks
import graft.search.IndexSearch.OpenIndex
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{DataType, LongType}

/** Lucene INTERVAL queries — the `Intervals.unordered(..., maxgaps)`
  * source as a PROXIMITY FILTER over the positional index (the
  * modern-Lucene successor to span queries; ES `intervals` /
  * `match { ... }` filter contexts).
  *
  * Pinned semantics:
  *
  *   - a doc matches iff some choice of ONE position per query term has
  *     window width (max − min + 1) with width − m ≤ `maxgaps` — i.e.
  *     the m terms co-occur, in ANY order, with at most maxgaps
  *     non-matching token slots inside the window (maxgaps = 0 is "all
  *     m terms adjacent in some permutation");
  *   - the minimal width is computed exactly by the classic min-advance
  *     sweep over the per-term ascending position lists (each step
  *     advances the pointer at the window minimum; the sweep visits
  *     every minimal-window candidate — the same frontier argument as
  *     Lucene's UnorderedIntervalsSource);
  *   - query terms must be DISTINCT after analysis (repeated terms are
  *     rejected loudly: Lucene's repeat-handling inside unordered
  *     sources changes the minimal-interval set in underdocumented ways
  *     — a silent approximation would be a silent divergence);
  *   - a query with an out-of-vocabulary term matches nothing (its
  *     intervals source is empty — Lucene semantics);
  *   - SCORING is pinned to the filter composition a Solr/ES user gets
  *     from `q=+a +b … fq={!interval}`: the standard disjunctive BM25
  *     sum of the query terms (full-corpus stats) over the docs passing
  *     the proximity filter. Lucene's own IntervalQuery frequency
  *     weighting is NOT reproduced (documented divergence — the filter
  *     use is the common one, and it is oracle-expressible).
  *
  * PLAN SHAPE: thin (positions-free) conjunctive pass — docs holding
  * ALL m terms — computes BOTH the BM25 scores and the candidate block
  * keys in one aggregation; the fat pass decodes positions ONLY for
  * candidate-bearing blocks; the min-width sweep runs once per
  * candidate doc (interpreted expression, off the hot path — the same
  * budget class as [[SloppyFreqExpr]]). Result materialized
  * (≤ |queries|·k rows) so the internal cache drops before returning.
  */
object Intervals {

  /** Minimal window width over one choice of position per list; Long.Max
    * when any list is empty. The min-advance sweep: every minimal window
    * has its minimum at some frontier configuration, and the sweep
    * enumerates exactly the frontier (advance-the-minimum) states. */
  def minWidth(pos: Array[Array[Long]], m: Int): Long = {
    var i = 0
    while (i < m) {
      if (pos(i) == null || pos(i).isEmpty) return Long.MaxValue
      i += 1
    }
    val ptr = new Array[Int](m)
    var best = Long.MaxValue
    var done = false
    while (!done) {
      var mnI = 0
      var mn = pos(0)(ptr(0))
      var mx = mn
      var j = 1
      while (j < m) {
        val v = pos(j)(ptr(j))
        if (v < mn) { mn = v; mnI = j }
        if (v > mx) mx = v
        j += 1
      }
      if (mx - mn + 1 < best) best = mx - mn + 1
      ptr(mnI) += 1
      if (ptr(mnI) >= pos(mnI).length) done = true
    }
    best
  }

  def minWidthColumn(posLists: Column): Column =
    Shims.column(MinWidthExpr(Shims.expression(posLists)))

  /** Unordered-proximity filtered BM25 top-k. `queries`: (query_id,
    * text) — analyzed to the distinct term set; `maxgaps` ≥ 0. */
  def searchUnordered(idx: OpenIndex, queries: Seq[(Int, String)],
                      maxgaps: Int, k: Int = 10): DataFrame =
    searchCore(idx, queries, maxgaps, k, ordered = false)

  /** ORDERED interval filter (Lucene `Intervals.ordered` + maxgaps): the
    * terms must appear in QUERY ORDER with at most `maxgaps` interleaved
    * non-matching slots — i.e. ∃ p₁ < … < p_m (one per term, in order)
    * with (p_m − p₁ + 1) − m ≤ maxgaps. The match predicate is exactly
    * the ordered greedy-chain fold the phrase engine pins
    * ([[IndexSearch.phrasePf]] with slop = maxgaps): the greedy chain
    * end is pointwise minimal, so a start completes within the bound iff
    * any admissible ordered chain does. Scoring and everything else as
    * [[searchUnordered]]. */
  def searchOrdered(idx: OpenIndex, queries: Seq[(Int, String)],
                    maxgaps: Int, k: Int = 10): DataFrame =
    searchCore(idx, queries, maxgaps, k, ordered = true)

  private def searchCore(idx: OpenIndex, queries: Seq[(Int, String)],
                         maxgaps: Int, k: Int, ordered: Boolean): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    require(maxgaps >= 0, s"maxgaps must be >= 0, got $maxgaps")
    IndexSearch.requirePositional(idx)
    def empty = Seq.empty[(Int, Int, Long, Double)]
      .toDF("query_id", "rank", "doc_id", "score")
    val parsed = queries.map { case (qid, t) =>
      val ts = Analyzer.tokenize(t)
      require(ts.size == ts.distinct.size,
        s"interval query '$t' repeats a term after analysis — unordered " +
          "intervals over repeated terms are not pinned (use a phrase)")
      (qid, ts)
    }.filter(_._2.nonEmpty)
    if (parsed.isEmpty) return empty
    val allTerms = parsed.flatMap(_._2).distinct
    val dictRows = idx.dictionary
      .where(col("term").isInCollection(allTerms))
      .select("term", "df", "shard").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    // OOV term ⇒ empty intervals source ⇒ the query matches nothing
    val live = parsed.filter(_._2.forall(dictRows.contains))
    if (live.isEmpty) return empty
    val qtRows = live.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
    val shards = live.flatMap(_._2).distinct.map(t => dictRows(t)._2).distinct
    val blocks = idx.postings
      .where(col("shard").isin(shards: _*))
    val dfDf = live.flatMap(_._2).distinct.map(t => (t, dictRows(t)._1))
      .toDF("term", "df")
    // THIN conjunctive pass: per (query, doc) the BM25 sum AND the block
    // keys ride one aggregation; only all-m-term docs survive
    val thin = PostingBlocks.decodePostings(
        blocks.drop("poss")
          .where(col("term").isInCollection(live.flatMap(_._2).distinct))
          .withColumn("_bfd", col("first_doc"))
          .join(broadcast(qtRows.toDF("query_id", "term")), Seq("term")))
      .join(broadcast(dfDf), Seq("term"))
      .withColumn("_s", Bm25.termScore(col("tf"), col("dl"), col("df"),
        lit(idx.stats.nDocs), lit(idx.stats.avgdl)))
    val nTerms = live.map { case (qid, ts) => (qid, ts.size) }
      .toDF("query_id", "_nt")
    val cand = thin
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("_n"), sum(col("_s")).as("_score"),
        collect_list(struct(col("term"), col("_bfd"))).as("_blks"))
      .join(broadcast(nTerms), "query_id")
      .where(col("_n") === col("_nt"))
      .select("query_id", "doc_id", "_score", "_blks")
      .cache()
    try {
      val blockKeys = cand.select(explode(col("_blks")).as("_b"))
        .select(col("_b.term").as("term"), col("_b._bfd").as("_bfd"))
        .distinct()
      val fatBlocks = blocks
        .where(col("term").isInCollection(live.flatMap(_._2).distinct))
        .withColumn("_bfd", col("first_doc"))
        .join(blockKeys, Seq("term", "_bfd"), "left_semi")
      val fatRows = PostingBlocks.decodePostingsWithPositions(
          fatBlocks.join(broadcast(qtRows.toDF("query_id", "term")), Seq("term")))
        .join(cand.select("query_id", "doc_id"),
          Seq("query_id", "doc_id"), "left_semi")
      val pm = fatRows
        .groupBy("query_id", "doc_id")
        .agg(map_from_entries(collect_list(struct(col("term"), col("positions"))))
          .as("_pm"))
      val meta = live.map { case (qid, ts) => (qid, ts) }
        .toDF("query_id", "_terms")
      val joined = pm.join(broadcast(meta), "query_id")
      val matched = (if (ordered)
          // ordered: any start whose greedy chain completes within
          // (m−1)+maxgaps total displacement — the phrase engine's
          // pinned ordered-window predicate, reused verbatim
          joined.where(
            IndexSearch.phrasePf(maxgaps, luceneSlop = false) > 0)
        else
          joined
            .withColumn("_w", minWidthColumn(
              transform(col("_terms"), t => element_at(col("_pm"), t))))
            .where(col("_w") - size(col("_terms")) <= maxgaps))
        .select("query_id", "doc_id")
      IndexSearch.localize(spark, Search.rank(
        cand.join(matched, Seq("query_id", "doc_id"), "left_semi")
          .select("query_id", "doc_id", "_score"), k))
    } finally cand.unpersist()
  }
}

/** Scalar expression: minimal unordered window width over per-term
  * position lists (array<array<long>>). Runs once per candidate doc —
  * off the hot path, interpreted eval is fine (the [[SloppyFreqExpr]]
  * budget class). */
case class MinWidthExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val outer = v.asInstanceOf[ArrayData]
    val pos = new Array[Array[Long]](outer.numElements())
    var i = 0
    while (i < pos.length) {
      val inner = outer.getArray(i)
      pos(i) = if (inner == null) null else inner.toLongArray()
      i += 1
    }
    Intervals.minWidth(pos, pos.length)
  }
  override protected def withNewChildInternal(c: Expression): MinWidthExpr =
    copy(child = c)
}
