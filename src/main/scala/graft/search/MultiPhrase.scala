package graft.search

import graft.analysis.Analyzer
import graft.index.PostingBlocks
import graft.search.IndexSearch.OpenIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lucene `MultiPhraseQuery` — a phrase whose SLOTS each accept a set of
  * alternative terms (the query shape produced by query-time synonym /
  * stemming expansion INSIDE a phrase, e.g. `"(app apps) crashed"`), over
  * the positional persisted index.
  *
  * Pinned semantics (Lucene MultiPhraseQuery, ordered matching):
  *
  *   - a doc's position list for slot i is the sorted distinct UNION of
  *     the positions of slot i's alternatives present in the doc
  *     (Lucene's UnionPostingsEnum);
  *   - pf = the number of start positions completing an ordered chain
  *     within `(m−1) + slop` total displacement — the same greedy-minimal
  *     fold as [[IndexSearch.searchPhrase]], over slot unions instead of
  *     single-term lists (slop = 0 is exact adjacency). Lucene's
  *     OUT-of-order sloppy matching is not offered on this path (the
  *     ordered pinning documented at searchPhrase applies);
  *   - idf = Σ over slots Σ over that slot's in-dictionary alternatives
  *     idf(t) — Lucene's MultiPhraseWeight sums the idf of EVERY term it
  *     collects across positions (BM25Similarity.computeWeight over the
  *     full TermStatistics array);
  *   - score = idf · pf / (pf + k1·(1−b+b·dl/avgdl)) — the one-virtual-
  *     term BM25 form shared by every phrase path;
  *   - an alternative missing from the dictionary is dropped from its
  *     slot (and from the idf sum); a slot with NO surviving alternative
  *     makes its query match nothing (its union enum is empty for every
  *     doc). An alternative that analyzes to ≠ 1 token fails loudly —
  *     multi-token alternatives are a different query (nested phrases).
  *
  * PLAN SHAPE mirrors the batched single-term phrase engine: a THIN
  * (positions-free, column-pruned) decode intersects per (query, doc) the
  * distinct-slot count against the slot count, led by each query's
  * RAREST slot (min Σ alternative df — other slots' rows semi-join the
  * leader's docs before any shuffle, so a hot synonym riding a rare slot
  * never populates the aggregation); the positional (FAT) stream then
  * decodes ONLY blocks containing a candidate doc. Per (query, doc,
  * slot) the union list is one ascending-sorted distinct flatten; the
  * chain check reuses [[IndexSearch.phrasePf]] verbatim with slot
  * ordinals standing in for terms. Driver state: ≤ |distinct alternative
  * terms| dictionary rows. Result materialized (≤ |queries|·k rows) so
  * internal caches drop before returning.
  */
object MultiPhrase {

  /** Parse a match-phrase-prefix query (Elasticsearch `match_phrase_prefix`
    * shape): the LAST analyzed token of the text is the prefix STEM, every
    * earlier token a fixed phrase slot (so `"key-va"` analyzes to fixed
    * slot `key` + stem `va`, the same split the prefix-query grammar
    * pins). Shared with [[graft.Oracle]]'s twin builder so parse
    * semantics cannot drift. Returns (fixed slots in order, stem). */
  def parsePhrasePrefix(text: String): (Seq[String], String) = {
    val toks = Analyzer.tokenize(text)
    require(toks.nonEmpty,
      s"match_phrase_prefix query '$text' analyzes to no tokens")
    (toks.init, toks.last)
  }

  /** Elasticsearch `match_phrase_prefix` over the positional index: the
    * last position of the phrase accepts ANY dictionary term extending
    * the stem — the prefix expansion ([[MultiTerm.expandWildcards]]'s
    * bounded dictionary range probe, prefix-pushed to the parquet scan)
    * becomes the final slot of a [[search]] multi-phrase, so matching,
    * union positions, summed-expansion idf, and the virtual-term BM25
    * tail are exactly the MultiPhraseQuery semantics Lucene rewrites
    * this query into. A stem with NO dictionary extension matches
    * nothing; expansions beyond `maxExpansions` fail loudly (the
    * TooManyClauses pinning, NOT Elasticsearch's silent 50-term
    * truncation — a silent cap would silently change the match set). */
  def searchPhrasePrefix(idx: OpenIndex, queries: Seq[(Int, String)],
                         k: Int = 10, slop: Int = 0,
                         maxExpansions: Int = 50): DataFrame = {
    val parsed = queries.map { case (qid, t) => (qid, parsePhrasePrefix(t)) }
    val expanded = MultiTerm.expandWildcards(idx,
      parsed.map(_._2._2 + "*").distinct, maxExpansions)
    val slotted = parsed.flatMap { case (qid, (fixed, stem)) =>
      val alts = expanded.getOrElse(stem + "*", Seq.empty)
      if (alts.isEmpty) None // dead final slot: matches nothing
      else Some(qid -> (fixed.map(Seq(_)) :+ alts))
    }
    search(idx, slotted, k, slop)
  }

  /** `queries`: (query_id, slots), each slot a Seq of alternative raw
    * terms (analyzed here). */
  def search(idx: OpenIndex, queries: Seq[(Int, Seq[Seq[String]])],
             k: Int = 10, slop: Int = 0): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    require(slop >= 0, s"slop must be >= 0, got $slop")
    IndexSearch.requirePositional(idx)
    def empty = Seq.empty[(Int, Int, Long, Double)]
      .toDF("query_id", "rank", "doc_id", "score")
    val parsed = queries.map { case (qid, slots) =>
      (qid, slots.map(_.map { alt =>
        val ts = Analyzer.tokenize(alt)
        require(ts.size == 1,
          s"multi-phrase alternative '$alt' analyzes to ${ts.size} tokens " +
            "(want exactly 1); expand multi-token alternatives as a " +
            "separate phrase clause")
        ts.head
      }.distinct))
    }.filter { case (_, slots) => slots.nonEmpty && slots.forall(_.nonEmpty) }
    if (parsed.isEmpty) return empty

    val allTerms = parsed.flatMap(_._2.flatten).distinct
    // ONE driver probe for the batch: ≤ |distinct alternatives| rows
    val dictRows = idx.dictionary
      .where(col("term").isInCollection(allTerms))
      .select("term", "df", "shard").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    val live = parsed
      .map { case (qid, slots) => (qid, slots.map(_.filter(dictRows.contains))) }
      .filter(_._2.forall(_.nonEmpty))
    if (live.isEmpty) return empty

    val idfSums = live.map { case (qid, slots) =>
      qid -> slots.flatten
        .map(t => Bm25.idfValue(dictRows(t)._1, idx.stats.nDocs)).sum
    }.toMap
    // leader slot = min Σ alternative df (an upper bound on the union's
    // df — the cheapest slot to stream first), ties to the lower ordinal
    val leaderSlot = live.map { case (qid, slots) =>
      qid -> slots.zipWithIndex
        .minBy { case (alts, i) => (alts.map(t => dictRows(t)._1).sum, i) }._2
    }.toMap
    // (query_id, slot, term) routing rows, split leader vs rest
    val routing = live.flatMap { case (qid, slots) =>
      slots.zipWithIndex.flatMap { case (alts, i) => alts.map(t => (qid, i, t)) }
    }
    val (leadRows, restRows) = routing.partition { case (qid, i, _) =>
      i == leaderSlot(qid) }
    val shards = allTerms.flatMap(dictRows.get).map(_._2).distinct
    val blocks = idx.postings
      .where(col("shard").isin(shards: _*))

    // THIN pass (no `poss` bytes read): (query_id, slot, term, _bfd, doc_id)
    def thinSide(rows: Seq[(Int, Int, String)]): DataFrame =
      PostingBlocks.decodePostings(
        blocks.drop("poss")
          .where(col("term").isInCollection(rows.map(_._3).distinct))
          .withColumn("_bfd", col("first_doc"))
          .join(broadcast(rows.toDF("query_id", "slot", "term")),
            Seq("term")))
        .select("query_id", "slot", "term", "_bfd", "doc_id")
    val lead = thinSide(leadRows).cache() // ≤ Σ_q (leader slot's Σ df) rows
    try {
      val survivors =
        if (restRows.isEmpty) lead
        else lead.unionByName(
          thinSide(restRows).join(lead.select("query_id", "doc_id").distinct(),
            Seq("query_id", "doc_id"), "left_semi"))
      val nSlots = live.map { case (qid, slots) => (qid, slots.size) }
        .toDF("query_id", "_ns")
      val cand = survivors
        .groupBy("query_id", "doc_id")
        .agg(countDistinct(col("slot")).as("_n"),
          collect_set(struct(col("term"), col("_bfd"))).as("_blks"))
        .join(broadcast(nSlots), "query_id")
        .where(col("_n") === col("_ns"))
        .select("query_id", "doc_id", "_blks")
        .cache()
      try {
        if (cand.isEmpty) return empty
        val blockKeys = cand.select(explode(col("_blks")).as("_b"))
          .select(col("_b.term").as("term"), col("_b._bfd").as("_bfd"))
          .distinct()
        // FAT pass: positions decoded only for candidate-bearing blocks;
        // the term predicate repeats so it pushes to THIS scan too
        val fatBlocks = blocks
          .where(col("term").isInCollection(allTerms))
          .withColumn("_bfd", col("first_doc"))
          .join(blockKeys, Seq("term", "_bfd"), "left_semi")
        val fatRows = PostingBlocks.decodePostingsWithPositions(
            fatBlocks.join(broadcast(routing.toDF("query_id", "slot", "term")),
              Seq("term")))
          .join(cand.select("query_id", "doc_id"),
            Seq("query_id", "doc_id"), "left_semi")
        // slot union lists (sorted distinct flatten across alternatives),
        // then the shared slot-ordinal phrase-frequency fold
        val slotPos = fatRows
          .groupBy("query_id", "doc_id", "slot")
          .agg(sort_array(array_distinct(flatten(collect_list(col("positions")))))
            .as("_sp"), min(col("dl")).as("dl"))
        val pm = slotPos
          .groupBy("query_id", "doc_id")
          .agg(map_from_entries(collect_list(
            struct(concat(lit("s"), col("slot")), col("_sp")))).as("_pm"),
            min(col("dl")).as("dl"))
        val meta = live.map { case (qid, slots) =>
          (qid, slots.indices.map(i => s"s$i"), idfSums(qid))
        }.toDF("query_id", "_terms", "_idf")
        val scored = pm.join(broadcast(meta), "query_id")
          .withColumn("_pf", IndexSearch.phrasePf(slop, luceneSlop = false))
          .where(col("_pf") > 0)
          .select(col("query_id"), col("doc_id"),
            (col("_idf") * col("_pf") /
              (col("_pf") + lit(Bm25.K1) * (lit(1.0) - lit(Bm25.B) +
                lit(Bm25.B) * col("dl") / lit(idx.stats.avgdl)))).as("_score"))
        IndexSearch.localize(spark, Search.rank(scored, k))
      } finally cand.unpersist()
    } finally lead.unpersist()
  }
}
