package graft.search

import graft.index.{BuildIndexJob, PostingBlocks}
import graft.index.BuildIndexJob.IndexPaths
import graft.index.IndexBuild.Stats
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Query path over the PERSISTED index (SURVEY.md §3.2):
  *
  *  1. analyze queries with the same Analyzer;
  *  2. broadcast-join query terms with the dictionary (df, shard,
  *     max_score) — unknown terms drop out (Solr semantics);
  *  3. scan `postings/` pruned to only the shards the query terms hash to
  *     (partition pruning on the shard directory column);
  *  4. decode blocks (codegen'd varint expressions) → score → top-k.
  *
  * Must return exactly what [[Search.searchCorpus]] returns on the same
  * corpus — the IndexRoundtripSpec property.
  *
  * One engine, two storage views: the scored, filtered, block-join,
  * synonym, facet, phrase, highlight and boolean-clause request shapes
  * ([[search]], [[searchFiltered]], [[searchParents]], the facet family,
  * [[searchPhrase]], [[searchHighlight]], [[searchHighlightScored]],
  * [[searchClauses]] and [[searchBoolean]]) and the pruned top-k
  * ([[searchWand]], [[searchMaxScore]]) are written once against a
  * [[View]]. A bulk root's [[OpenIndex]] is one view (doc_id identity,
  * one leaf); the live segmented root of
  * [[graft.index.SegmentedIndex.open]] is the other ((conv_id, turn_idx)
  * identity, one leaf per segment filtered by its tombstones, live df
  * from metadata). The remaining shapes take an [[OpenIndex]].
  */
object IndexSearch {

  /** What a request shape reads from an index, whatever the storage under
    * it — a snapshot taken at open time.
    *
    *  - `key`: the doc identity columns. Their ascending order is the
    *    pinned rank tie-break, because global doc ids are assigned in key
    *    order.
    *  - `nDocs`/`avgdl`: the live collection stats.
    *  - `matched(qt)`: decoded postings of the (query_id, term) pairs —
    *    (query_id, term, df, key…, tf, dl) — of live docs, with live df.
    *    A term no live doc holds has no rows.
    *  - `attrs`: the live docs' stored attributes without text, keyed by
    *    `key`.
    *  - `df(terms)`: the live df of `terms`, on the driver (no Spark
    *    job). A term no live doc holds is absent.
    *  - `leaves`: the open indexes the view reads, each with the map from
    *    its doc ids to `key` — the positional shapes run per leaf, like
    *    Lucene's per-segment `LeafReaderContext`, scored from the view's
    *    df and N/avgdl.
    *
    * Plans built from a view stay valid while the files it lists do: an
    * [[OpenIndex]] until an in-place rebuild, a segmented view until
    * [[graft.index.SegmentedIndex.vacuum]]. */
  trait View {
    def spark: SparkSession
    def key: Seq[String]
    def nDocs: Long
    def avgdl: Double
    /** Per leaf: the shards its resident dictionary maps the live terms
      * to, decoded, tagged with the leaf and keyed ([[keyed]]) — one
      * broadcast join of the terms with live df, no dictionary scan and no
      * Spark job before the scan. */
    def matched(qt: Seq[(Int, String)]): DataFrame = {
      val dfs = df(qt.map(_._2).distinct)
      val qd = broadcast(spark.createDataFrame(qt.distinct.collect {
        case (q, t) if dfs.contains(t) => (q, t, dfs(t)) }).toDF("query_id", "term", "df"))
      leaves.zipWithIndex.flatMap { case (l, o) =>
        val shards = l.index.resident.shardsOf(dfs.keys.toSeq)
        if (shards.isEmpty) None
        else Some(PostingBlocks.decodePostings(l.index.postings
          .where(col("shard").isin(shards: _*)).join(qd, Seq("term"))
          .withColumn("_leaf", lit(o))))
      }.reduceOption(_ unionByName _).map(keyed(this, _))
        .getOrElse(attrs.limit(0).select(lit(0).as("query_id") +: lit("").as("term") +:
          lit(0L).as("df") +: key.map(col) :+ lit(0).as("tf") :+ lit(0).as("dl"): _*))
        .select(("query_id" +: "term" +: "df" +: key :+ "tf" :+ "dl").map(col): _*)
    }
    def attrs: DataFrame
    def df(terms: Seq[String]): Map[String, Long]
    def leaves: Seq[Leaf]
  }

  /** One leaf of a [[View]]:
    *
    *  - `index`: its open index;
    *  - `live`: the map (doc_id, key…) of its live instances to the
    *    view's key — read only for a keyed leaf, one whose index key is
    *    not the view's ([[isIdentity]] decides, for every reader);
    *  - `overFetch` (t_s): an upper bound on its dead instances;
    *  - `kills(key)`: whether a tombstone kills its instance of `key` (the
    *    key's values in the view's `key` order).
    *
    * The last two are driver-side facts the pruned top-k reads
    * ([[searchWand]]). The defaults are an identity leaf's — a bulk
    * root's, whose every doc is live and whose doc_id is the key: no live
    * map, t_s = 0, no kills. A keyed leaf builds `live` on first use only:
    * the pruned top-k never reads it. */
  trait Leaf {
    def index: OpenIndex
    def live: Option[DataFrame] = None
    def overFetch: Long = 0L
    def kills(key: Row): Boolean = false
  }

  /** An opened index: a SNAPSHOT of the root at open time. The relations
    * resolve their files once, so reopen after an in-place rebuild.
    *
    * Driver memory: one [[ResidentDict]] per open index, built on first
    * use from this instance's own `dictionary` and the root's `blockmeta/`
    * — it grows with the vocabulary, not the corpus. Besides it a request
    * keeps at most its own dictionary rows, and on the single-range path
    * of [[searchWand]]) the encoded blocks of ≤ docsPerRange postings.
    * Only the resident dictionary joins `blockmeta/`; the plain
    * `dictionary` relation stays unjoined for every other probe. */
  final case class OpenIndex(paths: IndexPaths, dictionary: DataFrame,
                             stats: Stats, spark: SparkSession,
                             io: graft.sources.TableIO) extends View {
    /** The postings relation, resolved (file listing, schema) once. */
    lazy val postings: DataFrame = io.read(spark, paths.postings)
    /** term → df, shard, top block maxes, collected on first use. */
    lazy val resident: ResidentDict =
      ResidentDict.load(dictionary, io.read(spark, paths.blockmeta))
    /** The whole `docs/` relation, text included, resolved once. */
    lazy val stored: DataFrame = io.read(spark, paths.docs)
    def key: Seq[String] = Seq("doc_id")
    def nDocs: Long = stats.nDocs
    def avgdl: Double = stats.avgdl
    /** The `docs/` attributes minus text (facets and filters never read
      * it; Catalyst prunes further). */
    lazy val attrs: DataFrame = stored.drop("text")
    def df(terms: Seq[String]): Map[String, Long] =
      terms.map(t => t -> resident.row(t)).collect {
        case (t, r) if r >= 0 => t -> resident.df(r) }.toMap
    lazy val leaves: Seq[Leaf] = Seq(new Leaf { def index: OpenIndex = OpenIndex.this })
  }

  /** One posting block routed to one (query, leaf, doc-range) group
    * (range-parallel WAND input). `df` is the term's live df and
    * `block_max_score` the stored max scaled to an upper bound under the
    * live scoring function (see [[searchWand]]). A block spanning a range
    * boundary is routed to EVERY range it overlaps; the range-bounded
    * traversal ignores its out-of-range postings, so each doc is scored
    * exactly once (in its own range). */
  final case class QBlockRow(query_id: Int, leaf: Int, range_id: Int, term: String,
                             df: Long, first_doc: Long, last_doc: Long,
                             doc_gaps: Array[Byte], tfs: Array[Byte],
                             dls: Array[Byte], block_max_score: Double)

  final case class ResultRow(query_id: Int, rank: Int, doc_id: Long,
                             score: Double)

  /** Docs per WAND range. Bounds one task's working set: a (query, range)
    * group materializes at most |query terms| × docsPerRange/blockSize
    * encoded blocks, independent of corpus size — the property that lets a
    * hot single-term query scale past one task's memory at 10^12 docs. At
    * sandbox corpus sizes (≤ a few M docs) this yields one range, i.e. the
    * round-1 behavior, with zero extra overhead. */
  final val DefaultDocsPerRange: Long = 1L << 20

  /** Materialize a driver-safe (≤ |queries|·k rows by construction)
    * result into a local frame so internal caches can be dropped before
    * returning. */
  private[graft] def localize(spark: SparkSession, out: DataFrame): DataFrame = {
    val rows = out.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Open the index root written by [[BuildIndexJob]] (or
    * [[graft.index.IndexMerge]]): reads its stats and resolves its
    * dictionary. Every writer stores `blockmeta/` beside the dictionary;
    * the WAND/MaxScore paths read it on first use and fail on a root
    * without it. */
  def open(spark: SparkSession, root: String,
           io: graft.sources.TableIO = graft.sources.ParquetTableIO): OpenIndex = {
    val p = IndexPaths(root)
    OpenIndex(p, io.read(spark, p.dictionary),
      BuildIndexJob.readStats(spark, p, io), spark, io)
  }

  /** Decoded posting rows of the given (query_id, term) pairs, pruned to
    * the shards those terms hash to: (query_id, term, df, doc_id, tf, dl).
    * The shared scan under exhaustive scoring, filtering, faceting, and
    * NOT-exclusion. */
  private[search] def matchedPostings(idx: OpenIndex, qt: DataFrame,
                                      withCf: Boolean = false): DataFrame = {
    val spark = idx.spark
    val dictCols = Seq("query_id", "term", "df") ++ (if (withCf) Seq("cf") else Nil)
    // tiny join: |distinct query terms| rows
    val qd = qt.join(idx.dictionary, "term")
      .select((dictCols :+ "shard").map(col): _*)
    // driver boundary: the set of shards the query touches (≤ |q| ints)
    val shards = qd.select("shard").distinct().collect().map(_.getInt(0)).toSeq
    if (shards.isEmpty)
      return PostingBlocks.decodePostings(
        idx.postings.limit(0)
          .join(broadcast(qd.select(dictCols.map(col): _*)), Seq("term")))
    val blocks = idx.postings
      .where(col("shard").isin(shards: _*))
      .join(broadcast(qd.select(dictCols.map(col): _*)), Seq("term"))
    PostingBlocks.decodePostings(blocks)
  }

  /** Pre-rank per-(query, doc) scores over the persisted index — the
    * index-side twin of [[Search.scoredDocs]]. Package-visible so
    * [[MultiField.searchIndexes]] can weight-combine per-field indexes. */
  private[search] def scoredDocs(idx: OpenIndex, qt: DataFrame,
                                 conjunctive: Boolean): DataFrame =
    scoreMatched(idx, matchedPostings(idx, qt), qt, conjunctive)

  /** [[scoredDocs]] over a view, keyed (query_id, key…). */
  private def scoredDocs(v: View, qt: Seq[(Int, String)],
                         conjunctive: Boolean): DataFrame =
    scoreMatched(v, v.matched(qt),
      v.spark.createDataFrame(qt).toDF("query_id", "term"), conjunctive)

  private def scoreMatched(v: View, matched: DataFrame, qt: DataFrame,
                           conjunctive: Boolean): DataFrame = {
    val scored = matched
      .withColumn("_s", Bm25.termScore(col("tf"), col("dl"), col("df"),
        lit(v.nDocs), lit(v.avgdl)))
      .groupBy(("query_id" +: v.key).map(col): _*)
      .agg(sum(col("_s")).as("_score"), count(lit(1)).as("_n_matched"))
    if (!conjunctive) scored
    else {
      // all analyzed query terms, pre-dictionary — Lucene MUST semantics
      // (out-of-vocabulary required term ⇒ no matches)
      val nq = qt.groupBy("query_id").agg(count(lit(1)).as("_n_q"))
      scored.join(broadcast(nq), "query_id")
        .where(col("_n_matched") === col("_n_q"))
    }
  }

  /** Rows read from `v`'s leaves — carrying `_leaf` (the leaf's position
    * in `v.leaves`) and the leaf-local doc_id — keyed by `v.key`: a keyed
    * leaf's rows join its live map, so killed instances drop; an identity
    * leaf's doc_id already is the key. */
  private[graft] def keyed(v: View, rows: DataFrame): DataFrame =
    liveMaps(v).fold(rows)(m => rows.join(m, Seq("_leaf", "doc_id")).drop("doc_id"))

  /** The live maps of `v`'s keyed leaves, each tagged with its `_leaf`;
    * None for a view of identity leaves. */
  private def liveMaps(v: View): Option[DataFrame] =
    v.leaves.zipWithIndex.filterNot { case (l, _) => isIdentity(v, l) }
      .flatMap { case (l, o) => l.live.map(_.withColumn("_leaf", lit(o))) }
      .reduceOption(_ unionByName _)

  /** Whether `l`'s doc_id already is `v`'s key (a bulk root's one leaf):
    * its live map is not read, its candidates need no key job. Decided
    * from the keys alone, so asking never builds a keyed leaf's `live`. */
  private def isIdentity(v: View, l: Leaf): Boolean = l.index.key == v.key

  /** A typed empty (query_id, key…, _score) frame of `v` — runs no job. */
  private def noScores(v: View): DataFrame =
    v.attrs.select(v.key.map(col): _*).limit(0)
      .select((lit(0).as("query_id") +: v.key.map(col)) :+ lit(0.0).as("_score"): _*)

  def search(v: View, queries: Seq[(Int, String)], k: Int = 10,
             conjunctive: Boolean = false, start: Int = 0): DataFrame =
    Search.rank(scoredDocs(v, Search.queryPairs(queries), conjunctive), k,
      start, v.key)

  /** Top-k under a pluggable similarity ([[Similarities.SimilarityModel]]
    * — Solr's per-field `<similarity>`). Same dictionary probe, shard
    * prune, and pinned ranking as [[search]]; only the per-posting score
    * expression differs, with cf riding the broadcast dictionary probe
    * for the collection model. Exhaustive (dictionary- and shard-pruned)
    * by design: the persisted block maxes are BM25 bounds, so WAND /
    * MaxScore skipping is unsound for other models. */
  def searchSim(idx: OpenIndex, queries: Seq[(Int, String)],
                sim: Similarities.SimilarityModel, k: Int = 10,
                start: Int = 0): DataFrame = {
    val qt = Search.queryTerms(Search.queryFrame(idx.spark, queries))
    val scored = matchedPostings(idx, qt, withCf = true)
      .withColumn("_s", sim.termScore(col("tf"), col("dl"), col("df"),
        col("cf"), idx.stats.nDocs, idx.stats.avgdl, idx.stats.totalTokens))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("_s")).as("_score"))
    Search.rank(scored, k, start)
  }

  /** Lucene CommonTermsQuery (the Elasticsearch `cutoff_frequency` match
    * shape): query terms partition by document frequency at
    * `maxTermFrequency`·N — low-df terms are the selective backbone,
    * high-df (stopword-like) terms demote to SCORING-ONLY. A doc
    * qualifies iff it matches ≥ 1 low-df term; ALL its matched terms
    * (both classes) contribute BM25. If no dictionary-matched query term
    * is low-df, the query falls back to a plain disjunction (Lucene's
    * empty-low-freq-clause fallback; classification is over
    * DICTIONARY-matched terms — an out-of-vocabulary term is neither
    * class). Pinned vs Lucene: low.minimumNumberShouldMatch = 1,
    * high.msm = 0 (the ES cutoff semantics; Lucene's independent per-group
    * msm knobs are not exposed). Scale shape: identical to [[search]] —
    * the classification rides the broadcast dictionary df, so the hot
    * stopword-ish postings stay OUT of the required set without any
    * index-time stopping. */
  def searchCommonTerms(idx: OpenIndex, queries: Seq[(Int, String)],
                        maxTermFrequency: Double, k: Int = 10): DataFrame = {
    require(maxTermFrequency > 0 && maxTermFrequency <= 1,
      s"maxTermFrequency must be in (0,1] (got $maxTermFrequency)")
    val qt = Search.queryTerms(Search.queryFrame(idx.spark, queries))
    val cutoff = lit(maxTermFrequency) * lit(idx.stats.nDocs)
    val perTerm = matchedPostings(idx, qt)
      .withColumn("_s", Bm25.termScore(col("tf"), col("dl"), col("df"),
        lit(idx.stats.nDocs), lit(idx.stats.avgdl)))
      .withColumn("_low", when(col("df") <= cutoff, 1).otherwise(0))
    val scored = perTerm.groupBy("query_id", "doc_id")
      .agg(sum(col("_s")).as("_score"),
        max(col("_low")).as("_low_matched"))
    // per-query fallback flag from the tiny dictionary probe
    val qHasLow = qt.join(idx.dictionary.select("term", "df"), "term")
      .groupBy("query_id")
      .agg(max(when(col("df") <= cutoff, 1).otherwise(0)).as("_has_low"))
    Search.rank(
      scored.join(broadcast(qHasLow), "query_id")
        .where(col("_low_matched") === 1 || col("_has_low") === 0), k)
  }

  /** Solr COLLECTION ALIAS query with EXACT distributed statistics (the
    * ExactStatsCache contract): one logical query over several
    * time-partitioned collections — disjoint corpora, each with its own
    * index — scored with GLOBAL stats: df summed across collections,
    * N/avgdl from the combined corpus. The alias answer is therefore
    * bit-identical to a single unified index over the union; Solr's
    * default per-shard IDF (LocalStatsCache) is the documented
    * alternative this deliberately does NOT reproduce — exactness is the
    * contract. Results are key-identified (conv_id, turn_idx): each
    * collection assigns its own dense doc ids, so local ids cannot name
    * alias results; the rank tie-break is (round-7 score DESC, conv_id
    * ASC, turn_idx ASC), the segmented engine's pinned key ordering.
    *
    * Scale shape: one pushed `term IN` dictionary probe per collection
    * (driver holds ≤ |distinct terms| × |collections| df rows), shard-
    * pruned posting decodes scored map-side against broadcast global
    * stats, per-collection key joins over the match set only, one union
    * + the standard rank window. Collections never shuffle against each
    * other below the final window. */
  def searchAlias(spark: SparkSession, roots: Seq[String],
                  queries: Seq[(Int, String)], k: Int = 10): DataFrame =
    aliasCore(spark, roots, queries, k, None, None)

  /** Solr TIME-ROUTED ALIAS (TRA) query: collections own disjoint time
    * slices; a time-windowed query is ROUTED only to the collections
    * whose [min ts, max ts] overlaps the window — whole collections are
    * pruned by metadata before any posting is read (Solr's TRA routing;
    * the partition-pruning story lifted from shards to collections).
    * Within the surviving collections the window applies as an fq
    * (constant-score filter on matched docs — it never changes df/N/
    * avgdl, which come from the surviving collections WHOLE, exactly
    * Solr's stats scope when a filtered query hits a shard). Bounds are
    * epoch seconds, either side open. */
  def searchAliasTimeRouted(spark: SparkSession, roots: Seq[String],
                            queries: Seq[(Int, String)],
                            fromSec: Option[Long], toSec: Option[Long],
                            k: Int = 10): DataFrame = {
    import spark.implicits._
    require(fromSec.nonEmpty || toSec.nonEmpty,
      "time-routed query needs at least one bound (else use searchAlias)")
    val routed = routeCollections(spark, roots, fromSec, toSec)
    if (routed.isEmpty)
      return Seq.empty[(Int, Int, String, Int, Double)]
        .toDF("query_id", "rank", "conv_id", "turn_idx", "score")
    aliasCore(spark, routed, queries, k, fromSec, toSec)
  }

  /** The TRA routing step: collections whose stored-ts range overlaps
    * [fromSec, toSec] — one (min, max) metadata agg per collection, no
    * posting access. Exposed for the pruning assertion in specs. */
  def routeCollections(spark: SparkSession, roots: Seq[String],
                       fromSec: Option[Long], toSec: Option[Long]): Seq[String] =
    roots.filter { r =>
      val b = IndexSearch.open(spark, r).io
        .read(spark, IndexPaths(r).docs)
        .agg(min(col("ts").cast("long")), max(col("ts").cast("long")))
        .collect()(0)
      !b.isNullAt(0) &&
        fromSec.forall(_ <= b.getLong(1)) && toSec.forall(_ >= b.getLong(0))
    }

  private def aliasCore(spark: SparkSession, roots: Seq[String],
                        queries: Seq[(Int, String)], k: Int,
                        fromSec: Option[Long], toSec: Option[Long]): DataFrame = {
    import spark.implicits._
    require(roots.nonEmpty, "alias must name at least one collection")
    val idxs = roots.map(r => open(spark, r))
    val nDocs = idxs.map(_.stats.nDocs).sum
    val totalTokens = idxs.map(_.stats.totalTokens).sum
    require(nDocs > 0, "alias over empty collections")
    val avgdl = totalTokens.toDouble / nDocs
    val terms = queries.flatMap(q => graft.analysis.Analyzer.tokenize(q._2))
      .distinct
    // exact global df: sum the collections' dictionary rows for the
    // probe terms (each probe is a pushed In filter; ≤ |terms| rows back)
    val dfGlobal: Map[String, Long] = idxs
      .flatMap { idx =>
        if (terms.isEmpty) Nil
        else idx.dictionary.where(col("term").isin(terms: _*))
          .select("term", "df").collect()
          .map(r => (r.getString(0), r.getLong(1)))
      }
      .groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2).sum }
    val qtRows = queries.flatMap { case (qid, text) =>
      graft.analysis.Analyzer.tokenize(text).distinct
        .collect { case t if dfGlobal.contains(t) => (qid, t, dfGlobal(t)) }
    }
    if (qtRows.isEmpty)
      return Seq.empty[(Int, Int, String, Int, Double)]
        .toDF("query_id", "rank", "conv_id", "turn_idx", "score")
    val qdf = qtRows.toDF("query_id", "term", "df")
    val perRoot = idxs.flatMap { idx =>
      val shards = qdf.join(idx.dictionary.select("term", "shard"), "term")
        .select("shard").distinct().collect().map(_.getInt(0)).toSeq
      if (shards.isEmpty) None
      else {
        val blocks = idx.postings
          .where(col("shard").isin(shards: _*))
          .join(broadcast(qdf), Seq("term"))
        val scored = PostingBlocks.decodePostings(blocks)
          .withColumn("_s", Bm25.termScore(col("tf"), col("dl"), col("df"),
            lit(nDocs), lit(avgdl)))
          .groupBy("query_id", "doc_id")
          .agg(sum(col("_s")).as("_score"))
        // the fq side of TRA: matched docs outside the window drop here,
        // AFTER scoring (stats stay whole-collection, the Solr scope)
        val keys = idx.io.read(spark, idx.paths.docs)
          .select(col("doc_id"), col("conv_id"), col("turn_idx"),
            col("ts").cast("long").as("_ts"))
          .where(fromSec.map(f => col("_ts") >= f).getOrElse(lit(true)) &&
            toSec.map(t => col("_ts") <= t).getOrElse(lit(true)))
        Some(scored.join(keys, "doc_id")
          .select("query_id", "conv_id", "turn_idx", "_score"))
      }
    }
    val all = perRoot.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(round(col("_score"), Bm25.RankScale).desc,
        col("conv_id").asc, col("turn_idx").asc)
    all.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("conv_id"), col("turn_idx"),
        round(col("_score"), Bm25.OutScale).as("score"))
      .orderBy("query_id", "rank")
  }

  /** Solr `debug=true` / Lucene Explanation over the persisted index:
    * the standard disjunctive top-k, each hit DECOMPOSED into one row
    * per matching query term carrying the scoring inputs (tf, df), the
    * term idf, and the term's BM25 contribution — Σ contributions ≡ the
    * hit's reported score, and the oracle re-derives EVERY column, so
    * the whole explanation tree is verified cross-engine, not just the
    * final score. Output (query_id, rank, doc_id, term, tf, df, idf,
    * contribution, score) ordered by (query_id, rank, term);
    * ≤ |queries|·k·|query terms| rows. One pruned posting scan feeds
    * both the ranking and the decomposition (cached, dropped before
    * return). */
  def explain(idx: OpenIndex, queries: Seq[(Int, String)],
              k: Int = 10): DataFrame = {
    val qt = Search.queryTerms(Search.queryFrame(idx.spark, queries))
    val per = matchedPostings(idx, qt)
      .withColumn("_idf", Bm25.idf(col("df"), lit(idx.stats.nDocs)))
      .withColumn("_c", Bm25.termScore(col("tf"), col("dl"), col("df"),
        lit(idx.stats.nDocs), lit(idx.stats.avgdl)))
      .cache()
    try {
      val scored = per.groupBy("query_id", "doc_id")
        .agg(sum(col("_c")).as("_score"))
      val heads = Search.rank(scored, k)
      localize(idx.spark, heads
        .join(per.select("query_id", "doc_id", "term", "tf", "df", "_idf", "_c"),
          Seq("query_id", "doc_id"))
        .select(col("query_id"), col("rank"), col("doc_id"), col("term"),
          col("tf"), col("df"), round(col("_idf"), 4).as("idf"),
          round(col("_c"), 4).as("contribution"), col("score"))
        .orderBy("query_id", "rank", "term"))
    } finally per.unpersist()
  }

  /** Solr LTR feature logging (`fl=[features store=…]`,
    * org.apache.solr.ltr FeatureLogger): per (query, top-k doc) the
    * feature vector a reranker trains on. The first-pass BM25 ranker
    * supplies the candidates (rank/score ≡ every other BM25 gate); the
    * features mix Solr's two feature classes — query-dependent
    * (SolrFeature-shaped: f_tf_sum, f_matched, f_coverage, f_idf_max)
    * and document-only (FieldValueFeature-shaped: f_dl, f_is_user from
    * the stored attrs). ONE cached pruned posting decode feeds ranking
    * AND every query-dependent feature (the [[explain]] idiom); the
    * attrs scan is column-pruned to (doc_id, role) and receives the
    * ≤ queries·k enriched heads by broadcast. */
  def ltrFeatures(idx: OpenIndex, queries: Seq[(Int, String)],
                  k: Int = 10): DataFrame = {
    val qt = Search.queryTerms(Search.queryFrame(idx.spark, queries))
    val qsize = qt.groupBy("query_id").agg(countDistinct(col("term")).as("_qn"))
    val per = matchedPostings(idx, qt)
      .withColumn("_idf", Bm25.idf(col("df"), lit(idx.stats.nDocs)))
      .withColumn("_c", Bm25.termScore(col("tf"), col("dl"), col("df"),
        lit(idx.stats.nDocs), lit(idx.stats.avgdl)))
      .cache()
    try {
      val feats = per.groupBy("query_id", "doc_id").agg(
        sum(col("_c")).as("_score"),
        sum(col("tf")).cast("long").as("f_tf_sum"),
        countDistinct(col("term")).cast("int").as("f_matched"),
        round(max(col("_idf")), 4).as("f_idf_max"),
        max(col("dl")).cast("long").as("f_dl"))
      val heads = Search.rank(feats, k)
        .join(feats.drop("_score"), Seq("query_id", "doc_id"))
        .join(broadcast(qsize), "query_id")
      val attrs = idx.io.read(idx.spark, idx.paths.docs)
        .select(col("doc_id"), (col("role") === "user").cast("int").as("f_is_user"))
      localize(idx.spark, attrs.join(broadcast(heads), Seq("doc_id"))
        .select(col("query_id"), col("rank"), col("doc_id"), col("score"),
          col("f_tf_sum"), col("f_matched"),
          round(col("f_matched").cast("double") / col("_qn"), 4).as("f_coverage"),
          col("f_idf_max"), col("f_dl"), col("f_is_user"))
        .orderBy("query_id", "rank"))
    } finally per.unpersist()
  }

  /** Solr LTR RERANKING (`rq={!ltr model=… reRankDocs=…}`,
    * org.apache.solr.ltr.model.LinearModel): the second half of the LTR
    * loop whose first half is [[ltrFeatures]] — the BM25 first pass
    * supplies the top-`depth` candidate window, each candidate's logged
    * feature vector is scored by a LINEAR model (Σ wᵢ·fᵢ over the caller's
    * (feature, weight) list, summed in list order — the operand-order
    * pin that keeps both engines' float sums identical), and ONLY that
    * window re-sorts by model score; docs below `depth` are never
    * re-scored, Solr's reRankDocs contract. No normalizers (Solr's
    * optional feature normalizer is identity here, pinned).
    *
    * Determinism pin: unlike BM25 (whose ln() keeps scores away from
    * decimal rounding boundaries), a linear model over DISCRETE logged
    * features lands ON round-half boundaries constantly, where Spark's
    * BigDecimal HALF_UP and DuckDB's float-multiply round disagree by one
    * ulp. So the model evaluates in EXACT INTEGER fixed point — weights
    * quantized to 1e-2 (enforced), features scaled by 1e4 (their logged
    * precision) — ranks on the integer, and reports the score by one
    * exact division, no rounding anywhere. Output carries the model score
    * AND the first-pass rank/score so rank movement is verifiable. Scale
    * shape: features ride the one cached pruned posting decode of
    * [[ltrFeatures]]; reranking touches ≤ queries·depth rows. */
  def ltrRerank(idx: OpenIndex, queries: Seq[(Int, String)],
                weights: Seq[(String, Double)], k: Int = 10,
                depth: Int = 30): DataFrame = {
    require(weights.nonEmpty && weights.map(_._1).distinct.size == weights.size,
      "ltr model needs a non-empty, duplicate-free weight list")
    require(weights.forall { case (_, w) =>
      math.abs(w * 100 - math.round(w * 100)) < 1e-9 },
      "ltr weights must be exact multiples of 0.01 (the fixed-point pin)")
    require(k > 0 && depth >= k, s"need depth >= k > 0 (got depth=$depth k=$k)")
    val feats = ltrFeatures(idx, queries, depth)
    val model = weights.map { case (f, w) =>
      lit(math.round(w * 100)) *
        round(col(f).cast("double") * lit(10000)).cast("long")
    }.reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("_ltr").desc, col("doc_id").asc)
    feats.withColumn("_ltr", model)
      .withColumn("_rr", row_number().over(w))
      .where(col("_rr") <= k)
      .select(col("query_id"), col("_rr").cast("int").as("rank"),
        col("doc_id"),
        (col("_ltr").cast("double") / lit(1e6)).as("ltr_score"),
        col("rank").cast("int").as("first_rank"), col("score"))
      .orderBy("query_id", "rank")
  }

  /** DPR-style HARD-NEGATIVE MINING (Karpukhin et al., EMNLP 2020 — the
    * retrieval-training-set construction step): per query, `pos` = the
    * BM25 top-1 document, `hard_neg` = ranks 2..k (the lexically-similar
    * non-positives a dense retriever must learn to separate), and
    * `rand_neg` = nRand deterministic random negatives — md5-ordered over
    * a per-mille hash PRE-FILTER of the corpus (the stratifiedSample
    * idiom: the candidate pool is `permille`/1000 of the corpus, never
    * all of it), excluding that query's top-k. Scores ride along for pos/
    * hard_neg and are NULL for rand_neg (they were never scored — that's
    * the point). Scale shape: the random-negative window ranks only the
    * pre-filtered |corpus|·permille/1000·|queries| candidate rows, and
    * the top-k exclusion is a broadcast anti-join. */
  def hardNegatives(idx: OpenIndex, queries: Seq[(Int, String)],
                    k: Int = 10, nRand: Int = 5,
                    permille: Int = 200): DataFrame = {
    require(nRand > 0 && permille > 0 && permille <= 1000,
      s"hardNegatives needs nRand > 0 and permille in 1..1000")
    val spark = idx.spark
    val heads = search(idx, queries, k)
    val labeled = heads.withColumn("kind",
      when(col("rank") === 1, lit("pos")).otherwise(lit("hard_neg")))
      .select("query_id", "kind", "rank", "doc_id", "score")
    val qids = Search.queryFrame(spark, queries).select("query_id")
    val rand = randNegatives(idx, heads, qids, nRand, permille)
    localize(spark, labeled.unionByName(rand)
      .orderBy("query_id", "kind", "rank"))
  }

  /** The rand_neg leg of [[hardNegatives]] — package-visible so the plan
    * test can assert its two-phase shape on the lazy frame. */
  private[graft] def randNegatives(idx: OpenIndex, heads: DataFrame,
                                   qids: DataFrame, nRand: Int,
                                   permille: Int): DataFrame = {
    val spark = idx.spark
    val docs = idx.io.read(spark, idx.paths.docs).select("doc_id")
    val h = conv(substring(md5(concat(col("query_id").cast("string"),
      lit(":"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("_h").asc, col("doc_id").asc)
    val cand = docs.crossJoin(broadcast(qids))
      .withColumn("_h", h)
      .where(col("_h") % 1000 < permille)
      .join(broadcast(heads.select("query_id", "doc_id")),
        Seq("query_id", "doc_id"), "left_anti")
    // TWO-PHASE top-nRand (the PostingBlocks.topBlockMaxes idiom; closes
    // the round-5 "perf-weak" finding): a per-partition bounded heap
    // keeps each query's nRand (h, doc)-smallest candidates with fixed
    // O(queries × nRand) task state, and the pinned window then ranks
    // only ≤ partitions × queries × nRand survivors — the previous shape
    // funneled EVERY sampled candidate of a query through one window
    // task (~10^9 rows/task at 10^12 docs, permille=1). The (h, doc_id)
    // order is total (doc ids unique per query), so the survivor set
    // provably contains the global top-nRand and the output is
    // bit-identical.
    import spark.implicits._
    val partials = cand.select(col("query_id"), col("_h"), col("doc_id"))
      .as[(Int, Long, Long)]
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.HashMap
          .empty[Int, java.util.PriorityQueue[(Long, Long)]]
        val desc = new java.util.Comparator[(Long, Long)] {
          override def compare(a: (Long, Long), b: (Long, Long)): Int = {
            val c = java.lang.Long.compare(b._1, a._1)
            if (c != 0) c else java.lang.Long.compare(b._2, a._2)
          }
        }
        it.foreach { case (q, hv, d) =>
          val pq = heaps.getOrElseUpdate(q,
            new java.util.PriorityQueue[(Long, Long)](nRand + 1, desc))
          if (pq.size < nRand) pq.add((hv, d))
          else {
            val worst = pq.peek()
            if (hv < worst._1 || (hv == worst._1 && d < worst._2)) {
              pq.poll(); pq.add((hv, d))
            }
          }
        }
        heaps.iterator.flatMap { case (q, pq) =>
          pq.toArray(Array.empty[AnyRef]).iterator.map { o =>
            val (hv, d) = o.asInstanceOf[(Long, Long)]
            (q, hv, d)
          }
        }
      }
      .toDF("query_id", "_h", "doc_id")
    partials
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= nRand)
      .select(col("query_id"), lit("rand_neg").as("kind"),
        col("rank").cast("int").as("rank"), col("doc_id"),
        lit(null).cast("double").as("score"))
  }

  /** Luke-style index introspection (`/admin/luke` top terms): the n
    * highest-df dictionary terms with exact df/cf, (df DESC, term ASC)
    * order — a metadata-only dictionary scan, never a posting read. */
  def topTerms(idx: OpenIndex, n: Int): DataFrame = {
    require(n > 0, s"topTerms needs n > 0 (got $n)")
    idx.dictionary.select("term", "df", "cf")
      .orderBy(col("df").desc, col("term").asc).limit(n)
  }

  /** Solr `sort=` over the persisted index (e.g. `sort=ts desc`): the
    * disjunctive MATCH set ordered by stored-field sort expressions (over
    * the `docs/` attributes) with the pinned doc_id ASC tie-break; BM25
    * scores still computed and reported. The attribute scan is
    * column-pruned to doc_id + whatever the sort/extra expressions
    * reference (text is dropped explicitly — the one column pruning must
    * never be asked to carry). `extra` columns (name → expression over
    * the doc attributes) ride into the output for verification.
    * A small generalization of [[Search.rank]] — same window shape, a
    * sort key list instead of the score. */
  def searchSorted(idx: OpenIndex, queries: Seq[(Int, String)],
                   sortCols: Seq[Column], k: Int = 10,
                   extra: Seq[(String, Column)] = Nil): DataFrame = {
    val qt = Search.queryTerms(Search.queryFrame(idx.spark, queries))
    val joined = scoredDocs(idx, qt, conjunctive = false)
      .join(idx.attrs, "doc_id")
    val withExtra = extra.foldLeft(joined) { case (d, (n, c)) =>
      d.withColumn(n, c) }
    Search.rankBy(withExtra, sortCols, k, keep = extra.map(_._1))
  }

  /** PSEUDO-RELEVANCE FEEDBACK (Rocchio / RM3 family — Rocchio 1971,
    * Lavrenko & Croft SIGIR 2001): run the query, treat its top `fbDocs`
    * hits as relevant, mine their strongest terms, and re-query with the
    * expanded, weighted term set. Pinned model (oracle-expressible):
    *
    *   weight(t) = round(Σ_{d ∈ fb} tf(t,d)/dl(d), 7)   (RM1-style,
    *   length-normalized; original query terms excluded from expansion)
    *   expansion = top `fbTerms` by (weight DESC, term ASC)
    *   final score(d) = Σ_orig BM25_t(d) + expWeight · Σ_exp BM25_t(d)
    *
    * Scale shape: round 1 is the standard pruned top-k; term mining reads
    * ONLY the ≤ |queries|·fbDocs feedback docs (doc_id-IN point lookups
    * on docs/ — the highlight path's idiom), never a postings-by-doc
    * scan; round 2 is one more standard pruned scoring pass over ≤
    * (|orig| + fbTerms) terms per query. Driver boundaries: the feedback
    * (query, doc) pairs and the (query, term) expansions — both
    * request-shaped constants. */
  def searchFeedback(idx: OpenIndex, queries: Seq[(Int, String)],
                     k: Int = 10, fbDocs: Int = 5, fbTerms: Int = 3,
                     expWeight: Double = 0.5): DataFrame = {
    require(fbDocs > 0 && fbTerms > 0, "fbDocs and fbTerms must be positive")
    val spark = idx.spark
    import spark.implicits._
    val orig: Seq[(Int, String)] = queries.flatMap { case (qid, t) =>
      graft.analysis.Analyzer.tokenize(t).distinct.map(tt => (qid, tt))
    }
    if (orig.isEmpty)
      return Seq.empty[ResultRow].toDF()
        .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
    val qt0 = orig.toDF("query_id", "term")
    // round 1: standard top-fbDocs (driver boundary: ≤ |queries|·fbDocs)
    val fbPairs = Search.rank(scoredDocs(idx, qt0, conjunctive = false), fbDocs)
      .select("query_id", "doc_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    val expansions: Seq[(Int, String)] =
      if (fbPairs.isEmpty) Seq.empty
      else {
        val hitIds = fbPairs.map(_._2).distinct
        val docToks = idx.io.read(spark, idx.paths.docs)
          .where(col("doc_id").isin(hitIds: _*))
          .select(col("doc_id"), col("dl"),
            explode(graft.analysis.Analyzer.tokens(col("text"))).as("term"))
          .groupBy("doc_id", "term")
          .agg(count(lit(1)).as("_tf"), first(col("dl")).as("_dl"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("_w").desc, col("term").asc)
        broadcast(fbPairs.toDF("query_id", "doc_id"))
          .join(docToks, "doc_id")
          .join(qt0, Seq("query_id", "term"), "left_anti")
          .groupBy("query_id", "term")
          .agg(round(sum(col("_tf").cast("double") / col("_dl")), 7).as("_w"))
          .withColumn("_r", row_number().over(w))
          .where(col("_r") <= fbTerms)
          .select("query_id", "term").collect()
          .map(r => (r.getInt(0), r.getString(1))).toSeq
      }
    // round 2: weighted disjunction (orig at 1.0, expansion at expWeight)
    val qt1 = orig.map { case (q, t) => (q, t, 1.0) } ++
      expansions.map { case (q, t) => (q, t, expWeight) }
    val boosts = broadcast(qt1.toDF("query_id", "term", "_boost"))
    val scored = matchedPostings(idx, qt1.map(r => (r._1, r._2))
        .toDF("query_id", "term"))
      .join(boosts, Seq("query_id", "term"))
      .withColumn("_s", col("_boost") * Bm25.termScore(col("tf"), col("dl"),
        col("df"), lit(idx.stats.nDocs), lit(idx.stats.avgdl)))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("_s")).as("_score"))
    Search.rank(scored, k)
  }

  /** Solr `fl=` field-list response shaping: the standard disjunctive
    * top-k with requested STORED fields and function-query PSEUDO-FIELDS
    * (Solr `alias:fn(...)`) carried on every hit. Ranking is unchanged
    * (score desc, doc_id tie-break); one column-pruned attrs join serves
    * both the stored fields and the function inputs (text never read).
    * Pseudo-fields render from the same [[FunctionQuery]] AST as the
    * oracle's SQL, so reported values are bit-identical cross-engine. */
  def searchFields(idx: OpenIndex, queries: Seq[(Int, String)],
                   fields: Seq[String], pseudo: Seq[(String, String)] = Nil,
                   k: Int = 10): DataFrame = {
    val qt = Search.queryTerms(Search.queryFrame(idx.spark, queries))
    val joined = scoredDocs(idx, qt, conjunctive = false).join(idx.attrs, "doc_id")
    val withPseudo = pseudo.foldLeft(joined) { case (d, (n, fn)) =>
      d.withColumn(n, FunctionQuery.toColumn(FunctionQuery.parse(fn))) }
    Search.rankBy(withPseudo,
      Seq(round(col("_score"), Bm25.RankScale).desc), k,
      keep = fields ++ pseudo.map(_._1))
  }

  /** Solr/edismax additive function-query boost (`bf=`): final score =
    * BM25 + `boost`, where `boost` is an arbitrary numeric expression
    * over the stored doc attributes (e.g. the classic recency/brevity
    * shape `recip(x,m,a,b) = a/(m·x+b)`). The boosted score drives BOTH
    * the ranking (at the pinned RankScale rounding) and the reported
    * score — exactly Solr's behavior, where bf folds into the document
    * score. `multiplicative = true` is edismax `boost=` (final score =
    * BM25 × `boost`) — the SAME plan, only the combiner changes. The
    * attribute scan prunes to doc_id + whatever `boost` references. */
  def searchBoosted(idx: OpenIndex, queries: Seq[(Int, String)],
                    boost: Column, k: Int = 10,
                    multiplicative: Boolean = false): DataFrame = {
    val qt = Search.queryTerms(Search.queryFrame(idx.spark, queries))
    val scored = scoredDocs(idx, qt, conjunctive = false)
      .join(idx.attrs, "doc_id")
      .withColumn("_score",
        if (multiplicative) col("_score") * boost else col("_score") + boost)
    Search.rank(scored, k)
  }

  /** Solr RealTimeGet (`/get?ids=…`) over the persisted index: stored-
    * document lookup by (conv_id, turn_idx) key — no scoring, no posting
    * traversal, ONE column-pruned pass over `docs/` with the key
    * disjunction pushed into the parquet scan (an Or-of-And filter tree;
    * PlanSpec asserts PushedFilters), so at fleet scale only row groups
    * whose column stats admit a requested key are read. Missing keys are
    * omitted (Solr returns found docs only); output ordered by key. */
  def getDocs(idx: OpenIndex, keys: Seq[(String, Int)]): DataFrame = {
    require(keys.nonEmpty, "realtime get needs at least one key")
    val pred = keys.map { case (c, t) =>
      col("conv_id") === c && col("turn_idx") === t }.reduce(_ || _)
    idx.io.read(idx.spark, idx.paths.docs)
      .where(pred)
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("dl").cast("long").as("dl"), col("text"))
      .orderBy("conv_id", "turn_idx")
  }

  /** Solr REAL-TIME GET against an UNCOMMITTED pending batch (the update
    * log contract: `/get` consults the tlog BEFORE the last-committed
    * searcher, so in-flight adds and updates are visible by key even
    * though no commit has opened them to search). `pending` rows —
    * (conv_id, turn_idx, role, tool, text), the tlog tail — WIN over the
    * committed index on key collision; pending-only keys (uncommitted
    * adds) surface; keys in neither are omitted ([[getDocs]] parity).
    * dl of a pending doc is re-derived by the shared [[graft.analysis.Analyzer]]
    * (the committed index stored its dl at build time from the same
    * analyzer — one invariant, two ages). Scale shape: the committed side
    * is the same key-predicate point lookup as [[getDocs]]; the pending
    * batch is tlog-sized (driver literals here), anti-joined as a local
    * predicate — the corpus is never rescanned. */
  def getDocsRealtime(idx: OpenIndex,
                      pending: Seq[(String, Int, String, String, String)],
                      keys: Seq[(String, Int)]): DataFrame = {
    require(keys.nonEmpty, "realtime get needs at least one key")
    require(pending.map(p => (p._1, p._2)).distinct.size == pending.size,
      "pending batch must not repeat a key (tlog replay collapses first)")
    val spark = idx.spark
    import spark.implicits._
    def pred(ks: Seq[(String, Int)]) = ks.map { case (c, t) =>
      col("conv_id") === c && col("turn_idx") === t }.reduce(_ || _)
    val pendKeys = pending.map(p => (p._1, p._2))
    val committed = idx.io.read(spark, idx.paths.docs)
      .where(pred(keys))
      .where(if (pendKeys.isEmpty) lit(true) else !pred(pendKeys))
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("dl").cast("long").as("dl"), col("text"))
    val fromLog = pending.toDF("conv_id", "turn_idx", "role", "tool", "text")
      .where(pred(keys))
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        size(graft.analysis.Analyzer.tokens(col("text"))).cast("long").as("dl"),
        col("text"))
    committed.unionByName(fromLog).orderBy("conv_id", "turn_idx")
  }

  /** Solr TermVectorsComponent (`tv=true&tv.df=true&tv.positions=true`):
    * the term vector of each requested stored doc — (term, tf, first_pos)
    * with collection df per term. Lucene reads per-doc term vectors
    * stored at index time; the Spark twin RE-ANALYZES the stored field,
    * which is bit-identical by construction (one shared [[Analyzer]] on
    * both index and query sides — the same invariant every phrase/
    * highlight gate already leans on) and costs O(requested docs), a
    * point lookup + per-row tokenize, never a posting traversal. df joins
    * from the broadcast dictionary (terms of an indexed doc are in it by
    * construction). Missing keys are omitted, Solr parity with
    * [[getDocs]]. */
  def termVectors(idx: OpenIndex, keys: Seq[(String, Int)]): DataFrame = {
    require(keys.nonEmpty, "term vectors need at least one key")
    val pred = keys.map { case (c, t) =>
      col("conv_id") === c && col("turn_idx") === t }.reduce(_ || _)
    idx.io.read(idx.spark, idx.paths.docs)
      .where(pred)
      .select(col("conv_id"), col("turn_idx"),
        posexplode(graft.analysis.Analyzer.tokens(col("text"))).as(Seq("pos", "term")))
      .groupBy("conv_id", "turn_idx", "term")
      .agg(count(lit(1)).cast("int").as("tf"),
        min(col("pos")).cast("int").as("first_pos"))
      .join(broadcast(idx.dictionary.select("term", "df")), "term")
      .select("conv_id", "turn_idx", "term", "tf", "first_pos", "df")
      .orderBy("conv_id", "turn_idx", "term")
  }

  /** Solr edismax `pf` (phrase fields) on the single text field: each
    * query's whole analyzed token sequence is re-added as an implicit
    * SHOULD phrase clause — edismax's documented rewrite of
    * `q=a b c&pf=text` into `(a b c) "a b c"` — so a doc containing the
    * full query as an exact adjacent phrase is boosted by the PhraseQuery
    * score on top of its term-disjunction BM25, while the match SET is
    * unchanged (a phrase hit implies every term hit). Queries that
    * analyze to < 2 tokens gain nothing (Lucene skips single-term pf).
    * Query text must be plain terms — explicit clause syntax belongs to
    * [[searchClauses]]; pf is the rewrite, not the grammar. */
  def searchPhraseBoosted(idx: OpenIndex, queries: Seq[(Int, String)],
                          k: Int = 10): DataFrame =
    searchClauses(idx, Search.pfRewrite(queries), k)

  /** Solr/edismax `bq=` (boost query): an ADDITIVE query whose score is
    * added to every main-query match it also matches — unlike `bf=`
    * (a function over stored attributes) the boost here is itself
    * BM25-scored text relevance, and unlike a should clause it can NEVER
    * extend the match set (Solr wraps bq so only main-query matches
    * surface). Pinned subset: bq is a SHOULD term disjunction with
    * optional `^boost`s (`bq=batch^2 dup`) — the overwhelmingly common
    * shape; clause syntax beyond that fails loudly. The bq score
    * Σ boost_t · BM25_t is computed ONCE for the whole query batch
    * (it is query-independent) and joined back on doc_id. */
  def searchBoostQuery(idx: OpenIndex, queries: Seq[(Int, String)],
                       bq: String, k: Int = 10): DataFrame = {
    val c = Search.parseClauses(bq)
    require(c.must.isEmpty && c.not.isEmpty && c.mustPhrases.isEmpty &&
      c.shouldPhrases.isEmpty && c.notPhrases.isEmpty && !c.hasGroups &&
      c.should.nonEmpty,
      s"bq is pinned to a non-empty SHOULD term disjunction, got: '$bq'")
    val spark = idx.spark
    import spark.implicits._
    val qt = Search.queryTerms(Search.queryFrame(spark, queries))
    val main = scoredDocs(idx, qt, conjunctive = false)
    val bqTerms = c.should.map(t => (0, t)).toDF("query_id", "term")
    val boosts = c.should.map(t => (t, c.boost(t))).toDF("term", "_bqb")
    val bqScore = matchedPostings(idx, bqTerms)
      .join(broadcast(boosts), "term")
      .withColumn("_s", col("_bqb") * Bm25.termScore(col("tf"), col("dl"),
        col("df"), lit(idx.stats.nDocs), lit(idx.stats.avgdl)))
      .groupBy("doc_id").agg(sum(col("_s")).as("_bq"))
    Search.rank(
      main.join(bqScore, Seq("doc_id"), "left")
        .withColumn("_score", col("_score") + coalesce(col("_bq"), lit(0.0))),
      k)
  }

  /** Solr ReRankQParser (`rq={!rerank reRankQuery=… reRankDocs=N
    * reRankWeight=W}`): each query's top-N FIRST-PASS hits are re-scored
    * as main + W·rerank and re-ordered AMONG THEMSELVES; hits below rank
    * N keep their first-pass order and score — reranking can reshuffle
    * the head but never moves a doc across the N boundary, exactly
    * Solr's contract. The rerank query is pinned to the [[searchBoostQuery]]
    * bq shape (a SHOULD term disjunction with optional `^boost`s) and is
    * likewise query-independent: scored ONCE per batch, joined back on
    * doc_id. Reported score: the combined score for reranked head docs
    * (Solr returns the reranked score), the first-pass score below the
    * boundary. Scale shape: the boundary split is a rank-window filter
    * on the already-request-bounded scored frame; the head re-rank
    * windows over ≤ N rows per query. */
  def searchReranked(idx: OpenIndex, queries: Seq[(Int, String)],
                     rerankQuery: String, reRankDocs: Int,
                     reRankWeight: Double, k: Int = 10): DataFrame = {
    require(reRankDocs > 0, s"reRankDocs must be positive (got $reRankDocs)")
    val c = Search.parseClauses(rerankQuery)
    require(c.must.isEmpty && c.not.isEmpty && c.mustPhrases.isEmpty &&
      c.shouldPhrases.isEmpty && c.notPhrases.isEmpty && !c.hasGroups &&
      c.should.nonEmpty,
      s"reRankQuery is pinned to a SHOULD term disjunction, got: '$rerankQuery'")
    val spark = idx.spark
    import spark.implicits._
    val qt = Search.queryTerms(Search.queryFrame(spark, queries))
    val w0 = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(round(col("_score"), Bm25.RankScale).desc, col("doc_id").asc)
    val ranked0 = scoredDocs(idx, qt, conjunctive = false)
      .withColumn("_rnk0", row_number().over(w0))
    val rqTerms = c.should.map(t => (0, t)).toDF("query_id", "term")
    val boosts = c.should.map(t => (t, c.boost(t))).toDF("term", "_rqb")
    val rr = matchedPostings(idx, rqTerms)
      .join(broadcast(boosts), "term")
      .withColumn("_s", col("_rqb") * Bm25.termScore(col("tf"), col("dl"),
        col("df"), lit(idx.stats.nDocs), lit(idx.stats.avgdl)))
      .groupBy("doc_id").agg(sum(col("_s")).as("_rr"))
    val head = ranked0.where(col("_rnk0") <= reRankDocs)
      .join(rr, Seq("doc_id"), "left")
      .withColumn("_score",
        col("_score") + lit(reRankWeight) * coalesce(col("_rr"), lit(0.0)))
    val wH = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(round(col("_score"), Bm25.RankScale).desc, col("doc_id").asc)
    val headRanked = head.withColumn("rank", row_number().over(wH))
    val tail = ranked0.where(col("_rnk0") > reRankDocs)
      .withColumn("rank", col("_rnk0"))
    headRanked.select("query_id", "rank", "doc_id", "_score")
      .unionByName(tail.select("query_id", "rank", "doc_id", "_score"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), round(col("_score"), Bm25.OutScale).as("score"))
      .orderBy("query_id", "rank")
  }

  /** The engine half of Solr's cursorMark: the cursor AFTER the first
    * `upto` results of each query — per query the (RankScale-rounded
    * score, doc_id) sort key of its `upto`-th (or last, if fewer) hit.
    * Queries with an empty match set are absent. Driver-bounded: ≤
    * |queries| rows collect. The cursor carries the RANK-scale key, not
    * the OutScale-rounded display score — comparing display scores would
    * mis-order ties that RankScale still separates. */
  def pageCursor(idx: OpenIndex, queries: Seq[(Int, String)],
                 upto: Int): Map[Int, (Double, Long)] = {
    require(upto > 0, s"cursor page size must be positive (got $upto)")
    val qt = Search.queryTerms(Search.queryFrame(idx.spark, queries))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(round(col("_score"), Bm25.RankScale).desc, col("doc_id").asc)
    scoredDocs(idx, qt, conjunctive = false)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= upto)
      .groupBy("query_id")
      .agg(max(struct(col("_rn"),
        round(col("_score"), Bm25.RankScale).as("_s"),
        col("doc_id"))).as("_last"))
      .select(col("query_id"), col("_last._s"), col("_last.doc_id"))
      .collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getLong(2))).toMap
  }

  /** Solr cursorMark deep paging: the next page strictly AFTER each
    * query's cursor in the (score DESC, doc_id ASC) order. The cursor is
    * a PREDICATE on the sort key — cost O(match set), independent of page
    * DEPTH — where `start=`-offset paging ([[Search.rank]]'s start) pays
    * O(start + k) rank positions per page; that difference is the whole
    * point of cursorMark at 10^12 docs. Ranks are page-relative 1..k (a
    * Solr cursor response has no absolute positions). A query without a
    * cursor entry starts from the top (Solr's `cursorMark=*`). */
  def searchAfter(idx: OpenIndex, queries: Seq[(Int, String)],
                  after: Map[Int, (Double, Long)], k: Int = 10): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    val qt = Search.queryTerms(Search.queryFrame(spark, queries))
    val scored = scoredDocs(idx, qt, conjunctive = false)
    if (after.isEmpty) return Search.rank(scored, k)
    val aftDf = after.toSeq.map { case (qid, (s, d)) => (qid, s, d) }
      .toDF("query_id", "_a_s", "_a_d")
    val rs = round(col("_score"), Bm25.RankScale)
    Search.rank(
      scored.join(broadcast(aftDf), Seq("query_id"), "left")
        .where(col("_a_s").isNull || rs < col("_a_s") ||
          (rs === col("_a_s") && col("doc_id") > col("_a_d")))
        .drop("_a_s", "_a_d"),
      k)
  }

  /** Greedy non-overlapping fragment picks over ASCENDING match
    * positions: take a position iff it starts a new ±window snippet
    * (p > last pick + 2·window), up to `fragments` picks. With
    * fragments = 1 this is exactly the minimum position — the historical
    * single-snippet behavior. Pure Column fold. */
  private def fragmentPicks(posArr: Column, window: Int,
                                   fragments: Int): Column =
    aggregate(posArr, array().cast("array<bigint>"),
      (acc, p) => when(size(acc) < fragments &&
          (size(acc) === 0 || p > element_at(acc, -1) + 2 * window),
        concat(acc, array(p))).otherwise(acc))

  /** One " … "-joined snippet string: per picked position, ±window
    * analyzed tokens around it (1-based slice clamped at the doc start —
    * identical arithmetic to the DuckDB twin's list_slice). */
  private def snippetCol(toks: Column, picks: Column,
                                window: Int): Column =
    array_join(transform(picks, p =>
      array_join(slice(toks,
        greatest(lit(1), p.cast("int") + 1 - window), lit(2 * window + 1)), " ")),
      " ... ")

  /** Solr `hl`-style highlighting over a view: [[search]]'s top-k, each
    * hit carrying up to `fragments` snippets of ±`window` analyzed tokens
    * around query-term matches (greedy non-overlapping fragment selection
    * in match-position order; fragments = 1 — the default and the
    * oracle-gated shape — is the snippet around the FIRST match). Match
    * positions come from each leaf's positional postings stream
    * (requires `Config.storePositions`), with BLOCK-level pruning against
    * the hits' leaf-local doc ids (collected driver-side — ≤ |queries|·k
    * ids by construction, the documented boundary); the snippet words
    * come from the stored text of those docs only (`doc_id IN` reaches
    * the parquet scan as a pushed filter → row-group pruning — a point
    * lookup, not a corpus scan). Output: (query_id, rank, key…, score,
    * snippet). */
  def searchHighlight(v: View, queries: Seq[(Int, String)],
                      k: Int = 10, window: Int = 5,
                      fragments: Int = 1): DataFrame =
    highlightWith(v, queries, k, window) { (toks, ps) =>
      snippetCol(toks, fragmentPicks(ps, window, fragments), window) }

  /** Shared highlight plumbing: BM25 hits enriched with each hit's sorted
    * distinct match-position array and its stored text; `render(toks,
    * positions)` produces the snippet column. The hits' leaf-local ids
    * are the hits themselves on an identity leaf and ONE Spark job over
    * the live maps otherwise, whatever the leaf count; a leaf's df and
    * shards come from its resident dictionary, so no dictionary probe
    * runs. */
  private def highlightWith(v: View, queries: Seq[(Int, String)],
                            k: Int, window: Int)(
      render: (Column, Column) => Column): DataFrame = {
    val spark = v.spark
    import spark.implicits._
    requirePositional(v)
    // materialize the small hit set once: it drives the block prune, the
    // doc point-lookup, AND the final join — re-deriving it lazily would
    // re-run the whole search per subtree
    val hits = localize(spark, search(v, queries, k))
    val hitRows = hits.collect() // local — no recompute
    if (hitRows.isEmpty) return hits.withColumn("snippet", lit(""))
    // (_leaf, doc_id, key…) of the hits' live instances
    val inst = liveMaps(v) match {
      case None => hitRows.map(_.getAs[Long]("doc_id")).distinct.toSeq
        .map((0, _)).toDF("_leaf", "doc_id")
      case Some(m) => localize(spark,
        m.join(broadcast(hits.select(v.key.map(col): _*)), v.key, "left_semi"))
    }
    val ids = inst.collect().toSeq
      .groupMap(_.getAs[Int]("_leaf"))(_.getAs[Long]("doc_id"))
    val qt = Search.queryPairs(queries)
    val terms = qt.map(_._2).distinct
    val perLeaf = ids.toSeq.map { case (o, ls) =>
      val idx = v.leaves(o).index
      // block-level prune: only blocks of query terms whose doc range
      // holds a hit id decode their positions (idArr is a tiny literal
      // array)
      val idArr = array(ls.map(lit(_)): _*)
      val pos = PostingBlocks.decodePostingsWithPositions(idx.postings
          .where(col("shard").isin(idx.resident.shardsOf(terms): _*) &&
            col("term").isInCollection(terms) &&
            exists(idArr, id => id >= col("first_doc") && id <= col("last_doc"))))
        .where(col("doc_id").isin(ls: _*))
        .select(lit(o).as("_leaf"), col("doc_id"), col("term"), col("positions"))
      val texts = idx.stored.where(col("doc_id").isin(ls: _*))
        .select(lit(o).as("_leaf"), col("doc_id"), col("text"))
      (pos, texts)
    }
    def keyedHits(parts: Seq[DataFrame]): DataFrame =
      parts.reduce(_ unionByName _).join(broadcast(inst), Seq("_leaf", "doc_id"))
    val matchPos = keyedHits(perLeaf.map(_._1))
      .join(broadcast(qt.toDF("query_id", "term")), Seq("term")) // attach query ownership
      .groupBy(("query_id" +: v.key).map(col): _*)
      .agg(sort_array(array_distinct(flatten(collect_list(col("positions")))))
        .as("_ps"))
    val texts = keyedHits(perLeaf.map(_._2)).select((v.key :+ "text").map(col): _*)
    val toks = graft.analysis.Analyzer.tokens(col("text"))
    // both sides hold ≤ |queries|·k rows: broadcast them up front rather
    // than let AQE plan shuffles it then drops
    hits
      .join(broadcast(matchPos), "query_id" +: v.key)
      .join(broadcast(texts), v.key)
      .select((Seq(col("query_id"), col("rank")) ++ v.key.map(col) ++
        Seq(col("score"), render(toks, col("_ps")).as("snippet"))): _*)
      .orderBy("query_id", "rank")
  }

  /** Lucene UnifiedHighlighter PASSAGE-SCORED multi-fragment highlighting
    * (`hl.snippets=N` with passage ranking — unlike [[searchHighlight]]'s
    * first-match-order fragments, passages are RANKED): every match
    * position anchors a candidate ±`window` passage scored by how many
    * distinct match positions it covers; up to `fragments` passages are
    * picked greedily by (score DESC, position ASC) subject to
    * non-overlap (|p − p′| > 2·window), then RENDERED in document order
    * (the UnifiedHighlighter convention), " … "-joined. The greedy
    * rounds are unrolled `fragments` times — both engines run the
    * identical bounded loop, no data-dependent iteration. Pure Column
    * work over the per-hit position arrays (≤ queries·k rows). */
  def searchHighlightScored(v: View, queries: Seq[(Int, String)],
                            k: Int = 10, window: Int = 5,
                            fragments: Int = 2): DataFrame = {
    require(fragments >= 1 && fragments <= 8,
      s"fragments must be in 1..8 (got $fragments)")
    highlightWith(v, queries, k, window) { (toks, ps) =>
      val cands = transform(ps, p => struct(
        size(filter(ps, q => abs(q - p) <= window)).as("s"),
        (-p).as("np")))
      // greedy unroll: each round picks the best candidate separated
      // from every earlier pick by > 2·window
      val picks = (0 until fragments).foldLeft(Seq.empty[Column]) {
        (acc, _) =>
          val eligible = acc.foldLeft(cands)((cs, prev) =>
            filter(cs, c => prev.isNull ||
              abs((-c.getField("np")) - prev) > 2 * window))
          val top = array_max(eligible)
          acc :+ (-top.getField("np")).cast("long")
      }
      val pickArr = array_sort(filter(array(picks: _*), p => p.isNotNull))
      snippetCol(toks, pickArr, window)
    }
  }

  /** Solr `maxBooleanClauses` analog — the hard cap on how many dictionary
    * terms one prefix pattern may expand to before the query fails loudly
    * (Lucene throws TooManyClauses; silent truncation would silently
    * change the match set). */
  final val DefaultMaxExpansions = 1024

  /** Parse a prefix-query string: whitespace clauses; a clause ending in
    * '*' is a PREFIX pattern — the analyzer normalizes its stem and the
    * stem's LAST token becomes the prefix (earlier stem tokens, e.g.
    * "key-va*" → "key", contribute as plain terms); every other clause
    * contributes analyzed plain terms. Returns (terms, prefixes), both
    * deduped. Shared with the oracle builder so clause semantics cannot
    * drift between engines. */
  def parsePrefixQuery(text: String): (Seq[String], Seq[String]) = {
    val clauses = text.split("\\s+").toSeq.filter(_.nonEmpty)
    val (prefCl, termCl) = clauses.partition(c => c.endsWith("*") && c.length > 1)
    val stems = prefCl.map(c => graft.analysis.Analyzer.tokenize(c.dropRight(1)))
    val terms = (termCl.flatMap(graft.analysis.Analyzer.tokenize) ++
      stems.flatMap(_.dropRight(1))).distinct
    (terms, stems.flatMap(_.lastOption).distinct)
  }

  /** Lucene/Solr PREFIX queries (`te*`) over the persisted index
    * (MultiTermQuery rewrite): each prefix pattern expands against the
    * DICTIONARY into a bounded term disjunction, then the standard
    * disjunctive engine scores the expanded query. Pinned rewrite:
    * SCORING_BOOLEAN_QUERY_REWRITE — every expanded term scores with its
    * OWN idf (oracle-expressible in SQL), NOT Lucene's modern
    * CONSTANT_SCORE default (which assigns all expansion matches a flat
    * score; a documented, deliberate divergence — the scoring rewrite is
    * what pre-4.0 Lucene did and what the SQL twin can reproduce
    * bit-for-bit). Expanded and literal terms dedupe per query, exactly
    * like the analyzer's distinct-term pinning for plain queries.
    *
    * Scale shape: each distinct prefix `p` expands as the wildcard `p*`
    * ([[MultiTerm.expandWildcards]]) — a walk of the resident dictionary
    * from `p` on the driver, no Spark job — and an over-broad pattern
    * ("a*" on a billion-term dictionary) fails loudly instead of scoring
    * its expansion. */
  def searchPrefix(idx: OpenIndex, queries: Seq[(Int, String)], k: Int = 10,
                   maxExpansions: Int = DefaultMaxExpansions): DataFrame = {
    val parsed = queries.map { case (qid, t) => (qid, parsePrefixQuery(t)) }
    val expansions = MultiTerm.expandWildcards(idx,
      parsed.flatMap(_._2._2).map(_ + "*"), maxExpansions)
    val qtRows = parsed.flatMap { case (qid, (terms, prefixes)) =>
      (terms ++ prefixes.flatMap(p => expansions(p + "*"))).distinct.map(t => (qid, t))
    }
    searchExpandedTerms(idx, qtRows, k)
  }

  /** Score + rank a pre-expanded (query_id, term) list with the standard
    * disjunctive engine — the shared tail of every MultiTermQuery rewrite
    * ([[searchPrefix]], [[MultiTerm.searchWildcard]],
    * [[MultiTerm.searchFuzzy]]). */
  private[search] def searchExpandedTerms(idx: OpenIndex,
      qtRows: Seq[(Int, String)], k: Int): DataFrame =
    Search.rank(scoredDocs(idx, qtRows, conjunctive = false), k)

  /** Lucene SpanFirstQuery(SpanTermQuery(term), end): matches docs whose
    * term occurs at a token position < `end` (0-based — "in the first
    * `end` tokens", the classic title/lead-paragraph restriction). Pinned
    * Lucene span scoring: freq = the COUNT of qualifying positions (each
    * span match weighs 1.0 in SpanScorer's sloppyFreq), idf = the TERM's
    * dictionary idf (SpanWeight scores with the underlying term
    * statistics, NOT a position-filtered df), dl/avgdl as usual. Scale
    * shape: dictionary probe → shard-pruned positional decode of the
    * query terms only → per-posting position counting inside the scan
    * (a codegen'd array filter — positions never explode into rows). */
  def searchSpanFirst(idx: OpenIndex, queries: Seq[(Int, String, Int)],
                      k: Int = 10): DataFrame = {
    requirePositional(idx)
    val spark = idx.spark
    import spark.implicits._
    val parsed = queries.map { case (qid, text, end) =>
      val toks = graft.analysis.Analyzer.tokenize(text)
      require(toks.size == 1,
        s"span_first query '$text' must analyze to exactly one term")
      require(end > 0, s"span_first end must be positive (query '$text')")
      (qid, toks.head, end)
    }
    val qd = parsed.toDF("query_id", "term", "_end")
      .join(idx.dictionary, "term")
      .select("query_id", "term", "df", "_end", "shard")
    val shards = qd.select("shard").distinct().collect().map(_.getInt(0)).toSeq
    val base =
      if (shards.isEmpty) idx.postings.limit(0)
      else idx.postings
        .where(col("shard").isin(shards: _*))
    val rows = PostingBlocks.decodePostingsWithPositions(
      base.join(broadcast(qd.drop("shard")), Seq("term")))
    val scored = rows
      .withColumn("_tf",
        size(filter(col("positions"), p => p < col("_end"))))
      .where(col("_tf") > 0)
      .withColumn("_s", Bm25.termScore(col("_tf"), col("dl"), col("df"),
        lit(idx.stats.nDocs), lit(idx.stats.avgdl)))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("_s")).as("_score"))
    Search.rank(scored, k)
  }

  /** Boolean NOT over the persisted index (Solr `q=a -b`): the no-must
    * subset of the clause grammar — delegates to [[searchClauses]] (one
    * boolean engine path). A pure-negative query matches nothing. */
  def searchBoolean(v: View, queries: Seq[(Int, String)],
                    k: Int = 10): DataFrame =
    searchClauses(v, queries, k)

  /** Full boolean clause grammar over a view — `q=+a b -c`
    * AND quoted-phrase clauses (`q=+"block max" wand -deprecated`), the
    * composition Solr users hit constantly. Same pinned semantics as
    * [[Search.parseClauses]]'s scaladoc: every must clause satisfied
    * (term present / phrase pf ≥ 1; an OOV must term or dead must phrase
    * eliminates the query), not-terms and not-phrases anti-joined, score
    * = BM25 sum over matching must+should terms PLUS the PhraseQuery
    * score of each matching must+should phrase (exact adjacency). A doc
    * matching only a phrase clause still ranks (the term and phrase sides
    * combine with a full outer join). Phrase-less query batches take the
    * historical terms-only plan unchanged; phrase-bearing batches
    * additionally require a positional index and return a materialized
    * ≤ |queries|·k frame (phrase caches dropped before returning).
    *
    * MULTITERM group clauses (`+te*t`, `-roam~1` — round 5) compose into
    * the same grammar: each wildcard/fuzzy clause expands against the
    * view's live vocabulary (on the driver, the [[MultiTerm.expandBodies]]
    * path) into a GROUP — Lucene's
    * `+(t1 t2 …)` rewrite. A must GROUP is satisfied by ANY member
    * present (counted as DISTINCT satisfied group ids per doc, so an
    * empty expansion — nothing in the dictionary matches the pattern —
    * eliminates the query, Lucene MUST semantics); a not group excludes
    * on any member; members SCORE with their own idf (scoring-boolean),
    * deduped per (query, term) against the plain clauses — a term that is
    * both a plain clause and a group member scores ONCE (pinned
    * divergence from Lucene, which scores each clause occurrence).
    *
    * `mm` (round 5) is Lucene's BooleanQuery minimumNumberShouldMatch
    * (Solr edismax `mm=` as an absolute count): a matching doc must
    * satisfy at least `mm` SHOULD clauses, where each should TERM,
    * should PHRASE, and should GROUP (any member present — the group
    * counts once) contributes one clause. mm = 0 is Lucene's default
    * (shoulds optional when musts exist, ≥1 implied otherwise); a query
    * with fewer should clauses than `mm` matches nothing. Dedupe
    * pinning carries over: a clause deduped must-over-should counts as
    * MUST only, and a group-member term that is NOT also a plain should
    * clause contributes to its group's count, never as a term clause. */
  def searchClauses(v: View, queries: Seq[(Int, String)],
                    k: Int = 10,
                    maxExpansions: Int = DefaultMaxExpansions,
                    mm: Int = 0): DataFrame = {
    val spark = v.spark
    import spark.implicits._
    require(mm >= 0, s"mm (minimum-should-match) must be >= 0, got $mm")
    val parsed = queries.map { case (id, t) => (id, Search.parseClauses(t)) }
    require(parsed.forall(!_._2.hasFielded),
      "fielded (attr:value) clauses are served by searchFielded")
    val hasPhrases = parsed.exists { case (_, c) =>
      c.mustPhrases.nonEmpty || c.shouldPhrases.nonEmpty || c.notPhrases.nonEmpty }
    val hasGroups = parsed.exists(_._2.hasGroups)

    // multiterm groups: expand once per distinct body, then flatten to
    // (query, gid, member) rows; gids are per-(query, clause) — the same
    // body in two queries satisfies each independently. Must and (when
    // mm counts them) should groups share one gid space so satisfied
    // groups aggregate in ONE pass over the match relation.
    val expansions: Map[Search.MultiTermBody, Seq[String]] =
      if (!hasGroups) Map.empty
      else MultiTerm.expandBodies(v,
        parsed.flatMap { case (_, c) =>
          c.mustGroups ++ c.shouldGroups ++ c.notGroups },
        maxExpansions)
    val groupRows: Seq[(Int, Int, String, Boolean)] = parsed
      .flatMap { case (id, c) =>
        c.mustGroups.map(b => (id, b, true)) ++
          (if (mm > 0) c.shouldGroups.map(b => (id, b, false)) else Nil)
      }
      .zipWithIndex
      .flatMap { case ((id, b, isMust), gid) =>
        expansions(b).map(t => (id, gid, t, isMust)) }
    val nMustGroups: Map[Int, Int] =
      parsed.map { case (id, c) => id -> c.mustGroups.size }.toMap
    def memberTerms(id: Int, gs: Seq[Search.MultiTermBody]): Seq[String] =
      gs.flatMap(expansions.getOrElse(_, Nil)).distinct

    val byDoc = "query_id" +: v.key
    val qtRows = parsed.flatMap { case (id, c) =>
      val plain = c.must.map(t => (id, t, true, false, c.boost(t))) ++
        c.should.map(t => (id, t, false, true, c.boost(t)))
      val plainTerms = (c.must ++ c.should).toSet
      // member boost = its group's `^boost`; a member reached through
      // several groups dedupes to the MAX (same pinning as the parser's
      // clause-level dedupe); a plain clause wins over group membership
      // and keeps ITS boost
      val members = (c.mustGroups ++ c.shouldGroups)
        .flatMap(b => expansions.getOrElse(b, Nil).map(t => (t, c.groupBoost(b))))
        .groupBy(_._1).map { case (t, occ) => (t, occ.map(_._2).max) }
        .toSeq.sortBy(_._1)
        .collect { case (t, bo) if !plainTerms(t) => (id, t, false, false, bo) }
      plain ++ members
    }
    val qt = qtRows.toDF("query_id", "term", "_is_must", "_is_should", "_boost")
    val neg = parsed.flatMap { case (id, c) =>
      (c.not ++ memberTerms(id, c.notGroups)).distinct.map(t => (id, t))
    }
    // group batches consume the decoded match relation TWICE (scoring agg
    // + satisfied-group countDistinct) — cache it so the shard-pruned
    // block scan and varint decode run once; results localize before the
    // cache drops (group-free batches keep the historical single-consumer
    // lazy plan, uncached)
    val matched0 = v.matched(qtRows.map(r => (r._1, r._2)))
    val matched =
      if (groupRows.isEmpty) matched0 else matched0.cache()
    val tscored0 = matched
      .join(broadcast(qt), Seq("query_id", "term"))
      .withColumn("_s", Bm25.termScore(col("tf"), col("dl"), col("df"),
        lit(v.nDocs), lit(v.avgdl)) * col("_boost"))
      .groupBy(byDoc.map(col): _*)
      .agg(sum(col("_s")).as("_tscore"),
        count(when(col("_is_must"), lit(1))).as("_must_t"),
        count(when(col("_is_should"), lit(1))).as("_should_t"))
    // per-doc DISTINCT satisfied group ids — must and should groups in
    // one aggregation pass — joined back onto the scored frame (group
    // members are scoring terms, so any doc that can satisfy a group is
    // present in tscored0)
    val tscored =
      if (groupRows.isEmpty)
        tscored0.withColumn("_must_g", lit(0L)).withColumn("_should_g", lit(0L))
      else tscored0.join(
        matched.join(
            broadcast(groupRows.toDF("query_id", "_gid", "term", "_gm")),
            Seq("query_id", "term"))
          .groupBy(byDoc.map(col): _*)
          .agg(countDistinct(when(col("_gm"), col("_gid"))).as("_mg"),
            countDistinct(when(!col("_gm"), col("_gid"))).as("_sg")),
        byDoc, "left")
        .withColumn("_must_g", coalesce(col("_mg"), lit(0L)))
        .withColumn("_should_g", coalesce(col("_sg"), lit(0L)))
        .drop("_mg", "_sg")
    val negMatch = v.matched(neg).select(byDoc.map(col): _*).distinct()

    if (!hasPhrases) {
      // the historical terms-only plan, extended with the group filter
      // (lit(0)-vs-lit(0) for group-free batches — optimized away)
      val nMustDf = parsed
        .map { case (id, c) => (id, c.must.size, nMustGroups(id).toLong) }
        .toDF("query_id", "_n_must", "_n_mg")
      val mustOk = tscored
        .withColumnRenamed("_tscore", "_score")
        .join(broadcast(nMustDf), "query_id")
        .where(col("_must_t") === col("_n_must") &&
          col("_must_g") === col("_n_mg"))
      val mmOk = if (mm == 0) mustOk
        else mustOk.where(col("_should_t") + col("_should_g") >= mm)
      val ranked = Search.rank(
        mmOk.join(negMatch, byDoc, "left_anti"), k, key = v.key)
      return if (groupRows.isEmpty) ranked
      else try localize(spark, ranked) finally matched.unpersist()
    }

    requirePositional(v)
    // synthetic clause ids key the batched phrase machinery; n_must counts
    // TERM musts + ALL parsed must phrases (a dead/OOV phrase still counts,
    // so its query can never satisfy the filter — Lucene MUST semantics)
    val phraseClauses: Seq[(Int, Int, String, Seq[String], Double)] =
      parsed.flatMap { case (id, c) =>
        c.mustPhrases.map(p => (id, "m", p, c.phraseBoost(p))) ++
          c.shouldPhrases.map(p => (id, "s", p, c.phraseBoost(p))) ++
          c.notPhrases.map(p => (id, "n", p, 1.0))
      }.zipWithIndex.map { case ((id, kind, p, b), pid) => (pid, id, kind, p, b) }
    val nMustDf = parsed
      .map { case (id, c) =>
        (id, c.must.size + c.mustPhrases.size + nMustGroups(id)) }
      .toDF("query_id", "_n_must")
    val pidMeta = phraseClauses
      .map { case (pid, id, kind, _, b) => (pid, id, kind, b) }
      .toDF("_pid", "query_id", "_kind", "_pboost")
    val planned = phrasePlanned(v,
      phraseClauses.map { case (pid, _, _, toks, _) => (pid, toks.mkString(" ")) })
    try {
      val psRaw = planned.fold(noScores(v))(
          phraseScoredFromPlan(v, _, slop = 0, luceneSlop = false))
        .select((col("query_id").as("_pid") +: v.key.map(col)) :+
          col("_score").as("_pscore"): _*)
      val ps = psRaw.join(broadcast(pidMeta), "_pid")
      val posph = ps.where(col("_kind") =!= "n")
        .groupBy(byDoc.map(col): _*)
        .agg(sum(col("_pscore") * col("_pboost")).as("_phsum"),
          count(when(col("_kind") === "m", lit(1))).as("_must_ph"),
          count(when(col("_kind") === "s", lit(1))).as("_should_ph"))
      val negph = ps.where(col("_kind") === "n")
        .select(byDoc.map(col): _*).distinct()
      val comb = tscored
        .join(posph, byDoc, "full_outer")
        .withColumn("_score",
          coalesce(col("_tscore"), lit(0.0)) + coalesce(col("_phsum"), lit(0.0)))
        .withColumn("_mmust",
          coalesce(col("_must_t"), lit(0L)) + coalesce(col("_must_ph"), lit(0L)) +
            coalesce(col("_must_g"), lit(0L)))
        .withColumn("_mshould",
          coalesce(col("_should_t"), lit(0L)) +
            coalesce(col("_should_ph"), lit(0L)) +
            coalesce(col("_should_g"), lit(0L)))
      val mustOk = comb
        .join(broadcast(nMustDf), "query_id")
        .where(col("_mmust") === col("_n_must"))
      val mmOk = if (mm == 0) mustOk else mustOk.where(col("_mshould") >= mm)
      localize(spark, Search.rank(mmOk
        .join(negMatch, byDoc, "left_anti")
        .join(negph, byDoc, "left_anti"), k, key = v.key))
    } finally {
      planned.foreach(_.unpersistAll())
      if (groupRows.nonEmpty) matched.unpersist()
    }
  }

  /** Solr `fq` over the persisted index: the predicate (over the stored
    * doc attributes in `docs/`) restricts RESULTS only — scores, df, and
    * avgdl remain those of the full corpus, exactly like
    * [[Search.searchCorpusFiltered]]. The docs scan is column-pruned to
    * (doc_id + the filter's columns) and left-semi-joined, so the filter
    * costs one key-join against an attribute projection, never a second
    * posting traversal. */
  def searchFiltered(v: View, queries: Seq[(Int, String)],
                     filter: org.apache.spark.sql.Column, k: Int = 10,
                     conjunctive: Boolean = false): DataFrame = {
    val keep = v.attrs.where(filter).select(v.key.map(col): _*)
    Search.rank(scoredDocs(v, Search.queryPairs(queries), conjunctive)
      .join(keep, v.key, "left_semi"), k, key = v.key)
  }

  /** Solr `/export` (the export handler): the ENTIRE match set of each
    * query — no top-k — streamed in `sort` order with the requested `fl`
    * stored fields. Solr pins export to docValues sort + fl for exactly
    * the reason this twin is cheap in Spark: it is a match-set ⋈ attrs
    * join plus a sort, never a scored heap. `export_pos` makes the sort
    * order part of the verified output (the driver's hash compare is
    * order-insensitive). `sortCols` must totally order the match set —
    * the pinned doc_id ASC tail tie-break is appended here, Solr's own
    * uniqueKey discipline. Scale note: per-query positions come from a
    * query-partitioned window (one task per query's match set — the same
    * shape as every ranked output); a fleet-scale export drops the
    * position column and writes range-partitioned sorted runs instead. */
  def exportSorted(idx: OpenIndex, queries: Seq[(Int, String)],
                   sortCols: Seq[org.apache.spark.sql.Column],
                   fl: Seq[String],
                   conjunctive: Boolean = false): DataFrame = {
    require(fl.nonEmpty, "/export requires an fl field list")
    val qt = Search.queryTerms(Search.queryFrame(idx.spark, queries))
    val matched = scoredDocs(idx, qt, conjunctive)
      .select("query_id", "doc_id")
    val attrs = idx.io.read(idx.spark, idx.paths.docs)
      .select(("doc_id" +: fl).distinct.map(col): _*)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(sortCols :+ col("doc_id").asc: _*)
    matched.join(attrs, "doc_id")
      .withColumn("export_pos", row_number().over(w).cast("int"))
      .select((Seq("query_id", "export_pos", "doc_id") ++ fl).distinct.map(col): _*)
      .orderBy("query_id", "export_pos")
  }

  /** Solr `facet.field` over the persisted index's match set: per
    * (query, facet value) doc counts — every doc matching ≥1 query term
    * counts once. Facet values come from the persisted `docs/` attributes
    * (column-pruned scan). */
  def facetCounts(v: View, queries: Seq[(Int, String)],
                  facetCol: String): DataFrame =
    matchedDocSet(v, queries)
      .join(v.attrs.select((v.key :+ facetCol).map(col): _*), v.key)
      .groupBy("query_id", facetCol)
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("query_id", facetCol)

  /** The distinct (query_id, key…) match set of a disjunctive query
    * batch — the DocSet every facet of a request shares. */
  private[graft] def matchedDocSet(v: View,
                                   queries: Seq[(Int, String)]): DataFrame =
    v.matched(Search.queryPairs(queries))
      .select(("query_id" +: v.key).map(col): _*).distinct()

  /** Solr `rows=0` response header: per query `numFound` (total match
    * count — what Solr always reports even when no docs are returned)
    * plus the `group.ngroups` analog (distinct `groupField` values among
    * the matches; NULL group values uncounted, per the grouping engine's
    * pinned null policy), zero-filled on the driver-known query spine —
    * a query matching nothing reports (0, 0).
    *
    * Scale shape: ONE match-set ⋈ column-pruned attrs join + one hash
    * agg (partial count-distinct planned by Spark); nothing ranks,
    * nothing reads text, output is |queries| rows. */
  def responseStats(idx: OpenIndex, queries: Seq[(Int, String)],
                    groupField: String): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    val agged = matchedDocSet(idx, queries)
      .join(idx.attrs.select(col("doc_id"), col(groupField)), "doc_id")
      .groupBy("query_id")
      .agg(count(lit(1)).as("_nf"), count_distinct(col(groupField)).as("_ng"))
    val spine = queries.map(_._1).distinct.sorted.toDF("query_id")
    // agged is ≤ |queries| rows — broadcast the right side (the
    // queryCounts spine idiom)
    spine.join(broadcast(agged), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("_nf"), lit(0L)).as("num_found"),
        coalesce(col("_ng"), lit(0L)).as("ngroups"))
      .orderBy("query_id")
  }

  /** Multi-field Solr `facet.field` over the persisted index — repeated
    * facet.field params of one request, all counted from ONE match-set
    * join ([[Facets.fields]] semantics). */
  def facetFields(v: View, queries: Seq[(Int, String)],
                  fieldNames: Seq[String], missing: Boolean = false,
                  mincount: Long = 0L): DataFrame =
    Facets.fields(matchedDocSet(v, queries), v.attrs, fieldNames, v.key,
      missing = missing, mincount = mincount)

  /** Solr `facet.query` over the persisted index: named predicates over
    * the stored attributes, zero-filled on the request spine
    * ([[Facets.queryCounts]] semantics). */
  def facetQueries(idx: OpenIndex, queries: Seq[(Int, String)],
                   named: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    Facets.queryCounts(queries.map(_._1), matchedDocSet(idx, queries),
      idx.attrs, named)

  /** Solr interval faceting over the persisted index ([[Facets.intervals]]
    * semantics: overlapping sets allowed, every set reported, zero-filled
    * request spine). */
  def facetIntervals(v: View, queries: Seq[(Int, String)],
                     field: String, sets: Seq[Facets.Interval]): DataFrame =
    Facets.intervals(queries.map(_._1), matchedDocSet(v, queries),
      v.attrs, field, sets, v.key)

  /** Solr multi-select (tag/ex) faceting over the persisted index
    * ([[Facets.multiSelect]] semantics: each facet field counts the match
    * set under every tagged fq EXCEPT its excluded tags). */
  def facetMultiSelect(idx: OpenIndex, queries: Seq[(Int, String)],
                       filters: Seq[(String, org.apache.spark.sql.Column)],
                       facets: Seq[(String, Set[String])]): DataFrame =
    Facets.multiSelect(matchedDocSet(idx, queries), idx.attrs,
      filters, facets)

  /** Solr `facet.range` over a numeric stored attribute of the persisted
    * index ([[Facets.range]] semantics). */
  def facetRange(idx: OpenIndex, queries: Seq[(Int, String)], field: String,
                 start: Long, end: Long, gap: Long): DataFrame =
    Facets.range(queries.map(_._1), matchedDocSet(idx, queries),
      idx.attrs, field, start, end, gap)

  /** `facet.range` over a DATE field with a Solr date-math gap
    * ([[Facets.rangeDate]] semantics — fixed-length gap subset, ISO
    * bucket labels driver-formatted). */
  def facetRangeDate(idx: OpenIndex, queries: Seq[(Int, String)],
                     field: String, startIso: String, endIso: String,
                     gap: String): DataFrame =
    Facets.rangeDate(queries.map(_._1), matchedDocSet(idx, queries),
      idx.attrs, field, startIso, endIso, gap)

  /** `facet.range` + `facet.range.other=all` over the persisted index
    * ([[Facets.rangeOther]] semantics). */
  def facetRangeOther(idx: OpenIndex, queries: Seq[(Int, String)],
                      field: String, start: Long, end: Long,
                      gap: Long): DataFrame =
    Facets.rangeOther(queries.map(_._1), matchedDocSet(idx, queries),
      idx.attrs, field, start, end, gap)

  /** Solr `facet.pivot=parent,child` over the persisted index
    * ([[Facets.pivot]] semantics). */
  def facetPivot(idx: OpenIndex, queries: Seq[(Int, String)],
                 parentField: String, childField: String): DataFrame =
    Facets.pivot(matchedDocSet(idx, queries), idx.attrs,
      parentField, childField)

  /** Solr JSON Facet API over the persisted index ([[Facets.json]]
    * semantics): a terms facet with bucket metrics and one nested terms
    * subfacet, from one match-set join + one rollup pass. */
  def facetJson(v: View, queries: Seq[(Int, String)],
                parentField: String, childField: String,
                parentLimit: Int, childLimit: Int,
                metrics: Seq[Facets.JsonMetric],
                sortBy: Option[String] = None): DataFrame =
    Facets.json(matchedDocSet(v, queries), v.attrs,
      parentField, childField, parentLimit, childLimit, metrics, v.key,
      sortBy = sortBy)

  /** JSON Facet API `allBuckets` + `numBuckets` header over the persisted
    * index ([[Facets.jsonAllBuckets]] semantics). */
  def facetJsonAll(idx: OpenIndex, queries: Seq[(Int, String)],
                   parentField: String,
                   metrics: Seq[Facets.JsonMetric]): DataFrame =
    Facets.jsonAllBuckets(queries.map(_._1), matchedDocSet(idx, queries),
      idx.attrs, parentField, metrics)

  /** JSON Facet API `query` facets with bucket metrics over the persisted
    * index ([[Facets.jsonQuery]] semantics). */
  def facetJsonQuery(v: View, queries: Seq[(Int, String)],
                     named: Seq[(String, org.apache.spark.sql.Column)],
                     metrics: Seq[Facets.JsonMetric]): DataFrame =
    Facets.jsonQuery(queries.map(_._1), matchedDocSet(v, queries),
      v.attrs, named, metrics, v.key)

  /** JSON Facet API `range` facet with bucket metrics over the persisted
    * index ([[Facets.jsonRange]] semantics). */
  def facetJsonRange(v: View, queries: Seq[(Int, String)],
                     field: String, start: Long, end: Long, gap: Long,
                     metrics: Seq[Facets.JsonMetric]): DataFrame =
    Facets.jsonRange(queries.map(_._1), matchedDocSet(v, queries),
      v.attrs, field, start, end, gap, metrics, v.key)

  /** Solr `facet.sort=count` + `facet.limit` over the persisted index
    * ([[Facets.topValues]] semantics). */
  def facetTop(idx: OpenIndex, queries: Seq[(Int, String)], field: String,
               topN: Int, prefix: Option[String] = None,
               contains: Option[String] = None,
               sort: String = "count", offset: Int = 0): DataFrame =
    Facets.topValues(matchedDocSet(idx, queries), idx.attrs,
      field, topN, prefix = prefix, contains = contains,
      sort = sort, offset = offset)

  /** Solr StatsComponent over the persisted index ([[Facets.stats]]
    * semantics). */
  def statsField(v: View, queries: Seq[(Int, String)],
                 field: String): DataFrame =
    Facets.stats(queries.map(_._1), matchedDocSet(v, queries),
      v.attrs, field, v.key)

  /** Solr `stats.field=f&cardinality=true` over the persisted index
    * ([[Facets.cardinality]] semantics: deterministic 64-register HLL
    * over the match set's field values, zero-filled spine). */
  def statsCardinality(idx: OpenIndex, queries: Seq[(Int, String)],
                       field: String): DataFrame =
    Facets.cardinality(queries.map(_._1), matchedDocSet(idx, queries),
      idx.attrs, field)

  /** Solr StatsComponent percentiles over the persisted index
    * ([[Facets.percentiles]] semantics: exact type-7, zero-filled
    * spine). */
  def statsPercentiles(idx: OpenIndex, queries: Seq[(Int, String)],
                       field: String, ps: Seq[Double]): DataFrame =
    Facets.percentiles(queries.map(_._1), matchedDocSet(idx, queries),
      idx.attrs, field, ps)

  /** Solr `stats.facet` over the persisted index ([[Facets.statsFacet]]
    * semantics: per-facet-value stats, observed buckets only). */
  def statsFacet(idx: OpenIndex, queries: Seq[(Int, String)],
                 field: String, facetField: String): DataFrame =
    Facets.statsFacet(matchedDocSet(idx, queries), idx.attrs,
      field, facetField)

  /** Solr `group.facet=true` over the persisted index
    * ([[Facets.groupedCounts]] semantics: each group counts once per
    * facet value). */
  def facetGrouped(idx: OpenIndex, queries: Seq[(Int, String)],
                   field: String, groupField: String): DataFrame =
    Facets.groupedCounts(matchedDocSet(idx, queries), idx.attrs,
      field, groupField)

  /** Solr `{!parent which=…}` block join over the persisted index
    * ([[BlockJoin.parents]] semantics): turns are the child documents,
    * conversations the parents; top-k parents by the ScoreMode aggregate
    * of their matching children's BM25 scores. */
  def searchParents(v: View, queries: Seq[(Int, String)],
                    mode: BlockJoin.ScoreMode, k: Int = 10,
                    parentField: String = "conv_id"): DataFrame =
    BlockJoin.parents(scoredDocs(v, Search.queryPairs(queries), conjunctive = false),
      v.attrs, parentField, mode, k, v.key)

  /** Solr `{!child of=…}` block join over the persisted index
    * ([[BlockJoin.children]] semantics): every turn of each top-k
    * matched conversation, carrying the parent's score and rank. */
  def searchChildren(idx: OpenIndex, queries: Seq[(Int, String)],
                     mode: BlockJoin.ScoreMode, k: Int = 10,
                     parentField: String = "conv_id"): DataFrame = {
    val qt = Search.queryTerms(Search.queryFrame(idx.spark, queries))
    BlockJoin.children(scoredDocs(idx, qt, conjunctive = false),
      idx.attrs, parentField, mode, k,
      childCols = Seq("turn_idx", "role"), childOrder = Seq("turn_idx"))
  }

  /** Lucene fielded-term clauses composed into the boolean grammar
    * (`+role:user spark merge -tool:tool3`): a fielded clause is a
    * TermQuery on a stored attribute — Solr StrField semantics, exact
    * value, no analysis. Scoring pins the public Lucene BM25-with-
    * omitNorms algebra (StrFields omit norms by default): tf = 1 and the
    * length norm drops out, so `(tf·(k1+1))/(tf+k1) = 1` and the clause
    * contributes exactly `boost · idf(df)` to every matching doc, where
    * df counts LIVE docs holding that value. Match semantics are the
    * grammar's usual: every must (text term present / attr equal), no
    * not, ≥ 1 matching clause when there are no musts.
    *
    * Scale shape: attr df's come from ONE melt-pass aggregate over the
    * pruned attrs scan (collect is O(|pairs|)); fielded match rows join
    * the broadcast pair frame against the same melt — attrs are scanned
    * once per request, never per clause. Term + phrase/group composition
    * beyond plain terms stays with [[searchClauses]] (loud guard).
    */
  def searchFielded(idx: OpenIndex, queries: Seq[(Int, String)],
                    k: Int = 10): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    val parsed = queries.map { case (id, t) => (id, Search.parseClauses(t)) }
    require(parsed.forall { case (_, c) =>
      c.mustPhrases.isEmpty && c.shouldPhrases.isEmpty &&
        c.notPhrases.isEmpty && !c.hasGroups },
      "searchFielded composes plain-term and fielded clauses; phrases and " +
        "multiterm groups are served by searchClauses")
    val pairs = parsed.flatMap { case (_, c) =>
      c.fieldedMust ++ c.fieldedShould ++ c.fieldedNot }.distinct
    require(pairs.nonEmpty,
      "no fielded clauses — use search/searchClauses for plain term queries")
    val fields = pairs.map(_._1).distinct
    val attrs = idx.attrs
    require(fields.forall(attrs.columns.contains),
      s"unknown fielded-clause field(s) ${fields.filterNot(attrs.columns.contains)}" +
        s" (stored attrs: ${attrs.columns.toSeq.mkString(", ")})")
    // one long-form pass over the attrs: (doc_id, field, value)
    val melted = attrs.select(col("doc_id"), explode(map(
      fields.flatMap(f => Seq(lit(f), col(f).cast("string"))): _*))
      .as(Seq("_f", "_v")))
    // live df per queried (field, value) — O(|pairs|) driver state
    val dfMap: Map[(String, String), Long] = melted
      .join(broadcast(pairs.toDF("_f", "_v")), Seq("_f", "_v"))
      .groupBy("_f", "_v").agg(count(lit(1)).as("df")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      .withDefaultValue(0L)
    val fRows = parsed.flatMap { case (id, c) =>
      (c.fieldedMust.map((_, true)) ++ c.fieldedShould.map((_, false)))
        .map { case (fv, isMust) =>
          (id, fv._1, fv._2,
            Bm25.idfValue(dfMap(fv), idx.stats.nDocs) * c.fieldedBoost(fv),
            isMust) } }
    val fScored = melted
      .join(broadcast(fRows.toDF("query_id", "_f", "_v", "_s", "_m")),
        Seq("_f", "_v"))
      .select(col("query_id"), col("doc_id"), col("_s"), col("_m"))
    val qt = parsed.flatMap { case (id, c) =>
      c.must.map(t => (id, t, true, c.boost(t))) ++
        c.should.map(t => (id, t, false, c.boost(t)))
    }.toDF("query_id", "term", "_m", "_boost")
    val tScored = matchedPostings(idx, qt.select("query_id", "term"))
      .join(broadcast(qt), Seq("query_id", "term"))
      .withColumn("_s", Bm25.termScore(col("tf"), col("dl"), col("df"),
        lit(idx.stats.nDocs), lit(idx.stats.avgdl)) * col("_boost"))
      .select(col("query_id"), col("doc_id"), col("_s"), col("_m"))
    val agg = tScored.unionByName(fScored)
      .groupBy("query_id", "doc_id")
      .agg(sum(col("_s")).as("_score"),
        count(when(col("_m"), lit(1))).as("_must_ok"))
    // n_must counts text musts (incl. out-of-vocabulary — Lucene MUST
    // semantics) plus fielded musts
    val nMust = parsed.map { case (id, c) =>
      (id, c.must.size + c.fieldedMust.size) }.toDF("query_id", "_n_must")
    val matched = agg.join(broadcast(nMust), "query_id")
      .where(col("_must_ok") === col("_n_must"))
    val negT = parsed.flatMap { case (id, c) => c.not.map(t => (id, t)) }
      .toDF("query_id", "term")
    val negF = parsed.flatMap { case (id, c) =>
      c.fieldedNot.map(fv => (id, fv._1, fv._2)) }
      .toDF("query_id", "_f", "_v")
    val negDocs = matchedPostings(idx, negT).select("query_id", "doc_id")
      .union(melted.join(broadcast(negF), Seq("_f", "_v"))
        .select("query_id", "doc_id"))
    Search.rank(
      matched.join(negDocs, Seq("query_id", "doc_id"), "left_anti"), k)
  }

  /** Solr `q=*:*` (match-all) with fq + sort + rows — the filter-browse
    * request every Solr UI issues constantly: no scoring, the LIVE doc
    * set filtered by `filter`, ordered by the stored-field sort with the
    * pinned doc_id ASC tie-break, truncated to `k`. Plans as
    * TakeOrderedAndProject (the W3 no-full-sort shape) over the
    * column-pruned attribute scan; the output row SET is deterministic
    * (the sort key is total), so no rank column is needed. */
  def matchAll(idx: OpenIndex, filter: Column, sortCols: Seq[Column],
               k: Int, fl: Seq[String]): DataFrame = {
    require(k > 0, s"rows must be positive (got $k)")
    idx.attrs.where(filter)
      .orderBy(sortCols :+ col("doc_id").asc: _*).limit(k)
      .select(col("doc_id") +: fl.map(col): _*)
  }

  /** Solr result grouping / field collapsing over the persisted index
    * ([[Grouping.topGroups]] semantics): top-`kGroups` groups of each
    * query's disjunctive match set by best-doc score, `groupLimit` docs
    * per group. */
  def searchGrouped(idx: OpenIndex, queries: Seq[(Int, String)],
                    groupField: String, kGroups: Int = 10,
                    groupLimit: Int = 1): DataFrame = {
    val qt = Search.queryTerms(Search.queryFrame(idx.spark, queries))
    Grouping.topGroups(scoredDocs(idx, qt, conjunctive = false),
      idx.attrs, groupField, kGroups, groupLimit)
  }

  /** Solr `group.query` over the persisted index
    * ([[Grouping.topGroupQueries]] semantics): group membership from ONE
    * batched pruned posting probe over all group queries' terms (pseudo
    * query ids = group ordinals), main-query scores from the standard
    * disjunctive engine. */
  def searchGroupQueries(idx: OpenIndex, queries: Seq[(Int, String)],
                         groups: Seq[(String, String)],
                         groupLimit: Int = 3): DataFrame = {
    require(groups.nonEmpty && groups.map(_._1).distinct.size == groups.size,
      "group.query names must be non-empty and unique")
    val spark = idx.spark
    import spark.implicits._
    val qt = Search.queryTerms(Search.queryFrame(spark, queries))
    val gqt = groups.zipWithIndex.flatMap { case ((_, text), i) =>
      graft.analysis.Analyzer.tokenize(text).distinct.map(t => (i, t))
    }.toDF("query_id", "term")
    val member = matchedPostings(idx, gqt)
      .select(col("query_id").as("_gid"), col("doc_id")).distinct()
    val gnames = groups.zipWithIndex.map { case ((g, _), i) => (i, g) }
      .toDF("_gid", "group_name")
    Grouping.topGroupQueries(scoredDocs(idx, qt, conjunctive = false),
      member, gnames, groupLimit)
  }

  /** Solr `{!collapse field=…}` + ExpandComponent over the persisted
    * index ([[Collapse.collapseExpand]] semantics): flat one-doc-per-group
    * ranked list plus the per-head expand section. */
  def searchCollapsed(idx: OpenIndex, queries: Seq[(Int, String)],
                      field: String, k: Int = 10,
                      expandRows: Int = 0): DataFrame = {
    val qt = Search.queryTerms(Search.queryFrame(idx.spark, queries))
    val attrs = idx.io.read(idx.spark, idx.paths.docs)
      .select(col("doc_id"), col(field))
    Collapse.collapseExpand(scoredDocs(idx, qt, conjunctive = false),
      attrs, field, k, expandRows)
  }

  /** Fail fast on a non-positional view: poss = null would otherwise
    * null out the position chain and SILENTLY return zero hits for
    * phrases the corpus contains. Evidence is each leaf's build-time
    * `_positional` marker, which every writer stores exactly when it
    * keeps positions — re-checked every call (a filesystem stat per leaf,
    * no Spark job), so a root rebuilt in place with positions takes
    * effect immediately. */
  private[search] def requirePositional(v: View): Unit =
    require(v.leaves.forall(l =>
        graft.sources.Fs.exists(v.spark, l.index.paths.positionalMarker)),
      "searchPhrase requires a positional index — rebuild with " +
        "Config(storePositions = true)")

  /** Driver-side phrase-batch plan: per live query its analyzed terms (in
    * phrase order), idf sum and rarest term, from the view's live df —
    * no Spark job. */
  private[graft] final case class PhraseBatch(
      queries: Seq[(Int, Seq[String])], // (query_id, terms) — all live
      idfSums: Map[Int, Double], rarest: Map[Int, String])

  private def planPhrases(v: View,
                          phrases: Seq[(Int, String)]): Option[PhraseBatch] = {
    val parsed = phrases
      .map { case (qid, t) => (qid, graft.analysis.Analyzer.tokenize(t)) }
      .filter(_._2.nonEmpty)
    val df = v.df(parsed.flatMap(_._2).distinct)
    // a phrase with a term no live doc holds matches nothing (Lucene)
    val live = parsed.filter(_._2.forall(df.contains))
    if (live.isEmpty) return None
    val idfSums = live.map { case (qid, terms) =>
      qid -> terms.map(t => Bm25.idfValue(df(t), v.nDocs)).sum
    }.toMap
    val rarest = live.map { case (qid, terms) =>
      qid -> terms.distinct.minBy(t => (df(t), t))
    }.toMap
    Some(PhraseBatch(live, idfSums, rarest))
  }

  /** The phrase batch's pruned relations, shared by [[searchPhrase]] and
    * the PhraseSpec decode-volume assertion:
    *
    *   - `cand`       (query_id, key…) docs containing ALL the query's
    *                  distinct terms — CACHED (bounded above by the
    *                  rarest term's df per query, the smallest relation
    *                  in the problem), carrying the candidate block keys
    *                  (leaf, term, first_doc)
    *   - `fatBlocks`  only the encoded blocks, across leaves, that
    *                  CONTAIN a candidate doc — the positional (fat)
    *                  stream decodes nothing else
    *
    * The caller must call `unpersistAll()` after consuming the result. */
  private[graft] final case class PhrasePlanned(
      batch: PhraseBatch, cand: DataFrame, fatBlocks: DataFrame,
      rarestRows: DataFrame) {
    def unpersistAll(): Unit = { cand.unpersist(); rarestRows.unpersist() }
  }

  private[graft] def phrasePlanned(v: View,
                                   phrases: Seq[(Int, String)]): Option[PhrasePlanned] = {
    val spark = v.spark
    import spark.implicits._
    val batch = planPhrases(v, phrases) match {
      case None => return None
      case Some(b) => b
    }
    val key = v.key.map(col)
    // (query_id, term) routed rarest-vs-rest: the intersection is DRIVEN
    // by each query's rarest term (ascending-df order, Lucene's lead-term
    // discipline) — the rest of the terms' doc streams semi-join against
    // the rarest candidates BEFORE any shuffle, so a hot term riding a
    // rare phrase never populates the intersection aggregation
    val qtRows = batch.queries.flatMap { case (qid, terms) =>
      terms.distinct.map(t => (qid, t, t == batch.rarest(qid)))
    }
    val allTerms = qtRows.map(_._2).distinct
    val rarestTerms = qtRows.filter(_._3).map(_._2).distinct
    val restTerms = qtRows.filterNot(_._3).map(_._2).distinct
    val nDistinct = batch.queries
      .map { case (qid, terms) => (qid, terms.distinct.size) }
    // per leaf, its postings pruned to the shards its resident dictionary
    // maps the phrase terms to (a leaf holding none is skipped). The term
    // predicate reaches each scan as a pushed filter. `_bfd` carries the
    // block identity (first_doc is unique per term within a leaf —
    // blocks of one term are doc-disjoint) through the decode.
    val blocks = v.leaves.zipWithIndex.flatMap { case (l, o) =>
      val shards = l.index.resident.shardsOf(allTerms)
      if (shards.isEmpty) None
      else Some(l.index.postings
        .where(col("shard").isin(shards: _*) && col("term").isInCollection(allTerms))
        .withColumn("_leaf", lit(o)).withColumn("_bfd", col("first_doc")))
    }.reduce(_ unionByName _)
    // THIN pass: doc-id stream only — `poss` (the fat stream) is never
    // referenced, so parquet column pruning skips its bytes entirely
    def thinSide(terms: Seq[String], pairs: Seq[(Int, String)]): DataFrame =
      keyed(v, PostingBlocks.decodePostings(
        blocks.drop("poss")
          .where(col("term").isInCollection(terms))
          .join(broadcast(pairs.toDF("query_id", "term")), Seq("term")))
        .select("_leaf", "query_id", "term", "_bfd", "doc_id"))
    val rarestRows = thinSide(rarestTerms, qtRows.filter(_._3).map(r => (r._1, r._2)))
      .cache() // ≤ Σ_q df(rarest term of q) rows of a few small columns
    val survivors =
      if (restTerms.isEmpty) rarestRows
      else {
        // AQE broadcasts the rarest candidates when small (the hot+rare
        // case) — the hot terms' rows then never reach the shuffle
        val restRows = thinSide(restTerms, qtRows.filterNot(_._3).map(r => (r._1, r._2)))
          .join(rarestRows.select(col("query_id") +: key: _*),
            "query_id" +: v.key, "left_semi")
        rarestRows.unionByName(restRows)
      }
    // docs holding ALL distinct terms of their query; the per-(doc, term)
    // block keys ride the same aggregation (≤ m struct entries per row)
    val cand = survivors
      .groupBy(col("query_id") +: key: _*)
      .agg(count(lit(1)).as("_n"),
        collect_list(struct(col("_leaf"), col("term"), col("_bfd"))).as("_blks"))
      .join(broadcast(nDistinct.toDF("query_id", "_nd")), "query_id")
      .where(col("_n") === col("_nd"))
      .select((col("query_id") +: key) :+ col("_blks"): _*)
      .cache() // ≤ min-df candidates per query; feeds keys + the row filter
    val blockKeys = cand
      .select(explode(col("_blks")).as("_b"))
      .select(col("_b._leaf").as("_leaf"), col("_b.term").as("term"),
        col("_b._bfd").as("_bfd"))
      .distinct()
    // FAT pass: decode positions ONLY for blocks containing a candidate
    val fatBlocks = blocks.join(blockKeys, Seq("_leaf", "term", "_bfd"), "left_semi")
    Some(PhrasePlanned(batch, cand, fatBlocks, rarestRows))
  }

  /** PHRASE search over a view's positional postings — requires leaves
    * built with `Config.storePositions`. Pinned semantics are Lucene
    * `PhraseQuery`'s documented scoring, from the view's live df and
    * N/avgdl: the phrase acts as one virtual term with
    *
    *   idf   = Σ_i idf(t_i)        (duplicate phrase terms counted again)
    *   tf    = pf, the exact phrase frequency in the doc
    *   score = idf · pf / (pf + k1·(1−b+b·dl/avgdl))
    *
    * and a doc matches iff pf ≥ 1. A phrase containing a term no live
    * doc holds matches nothing (Lucene semantics); when none is left no
    * Spark job runs.
    *
    * `slop` ≥ 0 relaxes adjacency to an ORDERED proximity window (Solr
    * `"a b"~N`-style): a start position p₁ of t₁ counts toward pf iff
    * positions p₁ < p₂ < … < p_m of t₂..t_m exist with total displacement
    * (p_m − p₁) − (m−1) ≤ slop. Pinned divergence from Lucene: Lucene's
    * sloppy matching also admits OUT-of-order transpositions and scores
    * with sloppyFreq = Σ 1/(distance+1); the default pins in-order-only
    * matching and pf = the count of valid start positions — deterministic
    * and oracle-expressible. slop = 0 is exactly the adjacency case.
    * `luceneSlop = true` switches to the Lucene-style algorithm
    * ([[SloppyPhrase]] — out-of-order, reciprocal-distance freq),
    * property-gated against a brute-force twin rather than the SQL oracle.
    *
    * PLAN SHAPE (one Spark plan for the whole batch over every leaf — no
    * per-phrase subtrees, no per-phrase or per-leaf driver jobs): a thin
    * doc-id-only pass intersects each query's terms into a candidate key
    * set, driven by the query's RAREST term (ascending df — a hot term
    * semi-joins against the rare term's candidates before it can
    * shuffle); the positional (fat) stream then decodes ONLY blocks
    * containing a candidate doc (block-level pruning on the (leaf, term,
    * first_doc) key); killed instances drop at each leaf's live map;
    * the chain check runs per candidate over a term→positions map with a
    * GREEDY fold — for ordered matching, taking at each slot the minimal
    * position > previous completes iff any admissible chain exists (the
    * greedy chain is pointwise minimal by induction), so pf is exact.
    * The result is materialized eagerly (≤ |queries|·k rows) so the two
    * internal caches can be dropped before returning. */
  def searchPhrase(v: View, phrases: Seq[(Int, String)],
                   k: Int = 10, slop: Int = 0,
                   luceneSlop: Boolean = false): DataFrame = {
    requirePositional(v)
    phrasePlanned(v, phrases) match {
      case None => Search.rank(noScores(v), k, key = v.key)
      case Some(planned) =>
        try localize(v.spark, Search.rank(
          phraseScoredFromPlan(v, planned, slop, luceneSlop), k, key = v.key))
        finally planned.unpersistAll()
    }
  }

  /** Lazy per-(query, doc) phrase scores over a planned batch:
    * (query_id, key…, _score), pf > 0 rows only — the scoring tail of
    * [[searchPhrase]], shared with the phrase-bearing boolean clause
    * engine (which keys phrases by synthetic clause ids in query_id).
    * The caller owns the plan's cache lifecycle
    * ([[PhrasePlanned.unpersistAll]] after the result is consumed). */
  private def phraseScoredFromPlan(v: View, planned: PhrasePlanned,
                                   slop: Int, luceneSlop: Boolean): DataFrame = {
    val spark = v.spark
    import spark.implicits._
    val PhrasePlanned(batch, cand, fatBlocks, _) = planned
    val byDoc = "query_id" +: v.key
    val qtAll = batch.queries
      .flatMap { case (qid, terms) => terms.distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val fatRows = keyed(v, PostingBlocks.decodePostingsWithPositions(
        fatBlocks.join(broadcast(qtAll), Seq("term"))))
      .join(cand.select(byDoc.map(col): _*), byDoc, "left_semi")
    // one row per candidate doc: term → ascending positions
    val pm = fatRows
      .groupBy(byDoc.map(col): _*)
      .agg(map_from_entries(collect_list(struct(col("term"), col("positions"))))
        .as("_pm"), min(col("dl")).as("dl"))
    val meta = batch.queries
      .map { case (qid, terms) => (qid, terms, batch.idfSums(qid)) }
      .toDF("query_id", "_terms", "_idf")
    pm.join(broadcast(meta), "query_id")
      .withColumn("_pf", phrasePf(slop, luceneSlop))
      .where(col("_pf") > 0)
      .select(byDoc.map(col) :+
        (col("_idf") * col("_pf") /
          (col("_pf") + lit(Bm25.K1) * (lit(1.0) - lit(Bm25.B) +
            lit(Bm25.B) * col("dl") / lit(v.avgdl)))).as("_score"): _*)
  }

  /** Phrase-frequency Column over a row carrying `_pm` (map term →
    * ascending positions) and `_terms` (the phrase's terms in order) —
    * shared by the phrase, multi-phrase and interval engines.
    *
    * Default mode is the GREEDY ordered chain: fold slots 2..m, each step
    * taking the minimal position of that slot's term strictly after the
    * previous slot's; a start p₁ is valid iff the fold's end ≤
    * p₁ + (m−1) + slop. Greedy is pointwise minimal by induction, so it
    * completes iff ANY admissible chain exists — pf is exact. Exhausted
    * lists pin the accumulator to a sentinel that no bound accepts
    * (comparisons only — never arithmetic — touch it). `luceneSlop`
    * switches to [[SloppyPhrase]]'s orderless sweep. */
  private[graft] def phrasePf(slop: Int, luceneSlop: Boolean): Column = {
    val sentinel = lit(Long.MaxValue)
    val p0 = element_at(col("_pm"), element_at(col("_terms"), 1))
    val restSlots = slice(col("_terms"), lit(2),
      greatest(size(col("_terms")) - 1, lit(0)))
    def chainEnd(p1: Column): Column =
      aggregate(restSlots, p1.cast("long"), (prev, t) =>
        coalesce(array_min(filter(element_at(col("_pm"), t), p => p > prev)),
          sentinel))
    if (!luceneSlop)
      size(filter(p0, p1 =>
        chainEnd(p1) <= p1 + size(col("_terms")) - 1 + lit(slop)))
        .cast("double")
    else
      SloppyPhrase.freqColumn(
        transform(col("_terms"), (t, i) =>
          transform(element_at(col("_pm"), t), p => p - i)), slop)
  }

  /** A term's block spanning more ranges than this is treated as "global"
    * in the range-prune bound (its max adds to EVERY range's upper bound)
    * instead of being exploded per spanned range — bounding the prune
    * pass's own metadata fan-out the same way precise routing bounds the
    * block fan-out. */
  private final val GlobalSpanRanges = 64

  /** The θ-seed range prune runs only when the corpus spans at least this
    * many ranges: its seed-collect job and metadata-bound subplan are
    * fixed per-call costs, and below ~this fan-out they exceed anything
    * the prune can save (measured: at 4 ranges the extra jobs quartered
    * batch query throughput while pruning almost nothing). At the design
    * scale (10^6 ranges) the prune's per-call cost is unchanged while its
    * savings grow with the fan-out. */
  private final val MinRangesForPrune = 16L

  /** The driver-side inputs of one pruned top-k request over a view,
    * derived without a Spark job:
    *
    *  - `terms`: per query id (ascending) its distinct terms that some
    *    live doc holds, in query order;
    *  - `df`: their live df;
    *  - `leafTerms`: per leaf, each of those terms it holds → (its
    *    dictionary row, the upper and the lower bound-correction factor —
    *    see [[searchWand]]);
    *  - `heap`: per leaf, the traversal heap `kk` + t_s;
    *  - `seeds`: per query the θ seed for `kk` from the leaves' stored top
    *    block maxes, scaled by the lower factor — empty unless `seeded`,
    *    i.e. no leaf can hold a dead instance. */
  private final case class TopKInputs(terms: Seq[(Int, Seq[String])],
      df: Map[String, Long], leafTerms: IndexedSeq[Map[String, (Int, Double, Double)]],
      heap: IndexedSeq[Int], seeded: Boolean, seeds: Map[Int, Double])

  private def topKInputs(v: View, queries: Seq[(Int, String)], kk: Int): TopKInputs = {
    val parsed = queries.groupMap(_._1)(_._2).toSeq.sortBy(_._1).map { case (q, texts) =>
      (q, texts.flatMap(graft.analysis.Analyzer.tokenize).distinct) }
    val df = v.df(parsed.flatMap(_._2).distinct)
    val terms = parsed.map { case (q, ts) => (q, ts.filter(df.contains)) }.filter(_._2.nonEmpty)
    val dicts = v.leaves.map(_.index.resident).toIndexedSeq
    val leafTerms = v.leaves.toIndexedSeq.zip(dicts).map { case (l, d) =>
      val st = l.index.stats
      val a = v.avgdl / st.avgdl
      df.keys.map(t => t -> d.row(t)).collect { case (t, r) if r >= 0 =>
        val c = Bm25.idfValue(df(t), v.nDocs) / Bm25.idfValue(d.df(r), st.nDocs)
        t -> ((r, c * math.max(1.0, a), c * math.min(1.0, a)))
      }.toMap
    }
    val overFetch = v.leaves.map(_.overFetch).toIndexedSeq
    val seeded = overFetch.forall(_ == 0L)
    // the kk-th largest lower-corrected stored max of a term, over leaves
    val kth: Map[String, Double] = if (!seeded) Map.empty else df.keys.flatMap { t =>
      leafTerms.indices.flatMap(o => leafTerms(o).get(t).toSeq.flatMap { case (r, _, lo) =>
        dicts(o).topMaxes(r).map(_ * lo) }).sorted(Ordering[Double].reverse)
        .lift(kk - 1).map(t -> _)
    }.toMap
    TopKInputs(terms, df, leafTerms,
      overFetch.map(t => kk + math.min(t, Int.MaxValue.toLong - kk).toInt), seeded,
      terms.flatMap { case (q, ts) => ts.flatMap(kth.get).maxOption.map(q -> _) }.toMap)
  }

  /** Candidate blocks for the range-parallel traversal, routed per
    * (query, leaf, range), plus the per-query θ seed and the range size.
    * None when no query has a live term. Exposed for WandSpec's block-count
    * assertion; `prune=false` disables the θ-seed range prune (routing
    * stays precise).
    *
    * ROUTING is precise (round-2 advice): a block ships only to ranges
    * that actually CONTAIN one of its postings — the doc ids are decoded
    * map-side (codegen'd varint expression, pre-shuffle) and distinct
    * range ids exploded, so a sparse term's block spanning the whole doc
    * space shuffles to ≤ block_len ranges, not nDocs/rangeSize. Ranges
    * split each leaf's own doc-id space.
    *
    * PRUNING (dictionary/block max-score at query time): θ_seed(q) = the
    * largest over q's terms of the k-th largest lower-corrected block max
    * of that term — k distinct live docs each score at least their
    * block's corrected max from that term alone and other terms only
    * add, so θ_seed is a true lower bound on the final k-th best raw
    * score. A (query, leaf, range) group whose upper bound — Σ over terms
    * of the term's max upper-corrected block max among the leaf's blocks
    * overlapping the range (span-based, an over-estimate of the precise
    * routing) — falls below θ_seed − Eps cannot produce a global top-k
    * doc and ships nothing. On a hot+rare query the rare term's high seed
    * erases the hot term's blocks everywhere the rare term is absent.
    * Both passes are metadata-only (columnar scan of the pruned shards,
    * no binary columns). Skipped when the leaves span fewer than
    * [[MinRangesForPrune]] ranges (sandbox scale): zero extra jobs. No
    * seed, and so no prune, while a leaf can hold a dead instance.
    *
    * SEED SOURCE: for k ≤ [[graft.index.PostingBlocks.TopBlockMaxes]] the
    * resident dictionaries' stored top block maxes give θ_seed with no
    * Spark job, and it is passed even when the prune is skipped. Past the
    * stored maxes the prune derives it with one per-batch metadata window
    * job over the routed blocks. */
  private[graft] def wandBlocks(v: View, queries: Seq[(Int, String)],
                                k: Int, docsPerRange: Long,
                                prune: Boolean = true)
      : Option[(org.apache.spark.sql.Dataset[QBlockRow], Map[Int, Double], Long)] =
    routedBlocks(v, topKInputs(v, queries, k), k, docsPerRange, prune)

  private def routedBlocks(v: View, in: TopKInputs, k: Int, docsPerRange: Long,
                           prune: Boolean)
      : Option[(org.apache.spark.sql.Dataset[QBlockRow], Map[Int, Double], Long)] = {
    if (in.terms.isEmpty) return None
    val spark = v.spark
    import spark.implicits._
    val maxDocs = v.leaves.map(_.index.stats.nDocs).max
    val rangeSize = math.max(1L, math.min(docsPerRange, maxDocs))
    val nRanges = (maxDocs + rangeSize - 1) / rangeSize
    // a pathological caller-supplied docsPerRange on a huge corpus would
    // wrap the int range id and silently mis-route blocks — fail loudly
    require(nRanges <= Int.MaxValue,
      s"docsPerRange=$docsPerRange yields $nRanges ranges over " +
        s"$maxDocs docs — exceeds Int range ids")
    // per leaf: its postings of the batch's terms, each with the live df
    // and the term's upper (`block_max_score`) and lower (`_low`)
    // corrected block max
    val base = in.leafTerms.indices.filter(in.leafTerms(_).nonEmpty).map { o =>
      val idx = v.leaves(o).index
      val qd = in.terms.flatMap { case (q, ts) => ts.flatMap(t =>
        in.leafTerms(o).get(t).map { case (_, up, lo) => (q, t, in.df(t), up, lo) }) }
        .toDF("query_id", "term", "df", "_cup", "_clo")
      idx.postings
        .where(col("shard").isin(idx.resident.shardsOf(in.leafTerms(o).keys.toSeq): _*))
        .join(broadcast(qd), Seq("term"))
        .select(col("query_id"), lit(o).as("leaf"), col("term"), col("df"),
          col("first_doc"), col("last_doc"), col("doc_gaps"), col("tfs"), col("dls"),
          (col("block_max_score") * col("_cup")).as("block_max_score"),
          (col("block_max_score") * col("_clo")).as("_low"))
    }.reduce(_ unionByName _)
    // exact integer range id: (d - d mod rs) / rs — the numerator is an
    // exact multiple of rs, so the double division is exact (plain d / rs
    // can cross an integer boundary for huge doc ids)
    def rangeOf(c: Column): Column =
      ((c - pmod(c, lit(rangeSize))) / lit(rangeSize)).cast("int")
    // decode only blocks that actually SPAN a range boundary (rare: dense
    // terms' 128-posting blocks sit inside one 2^20-doc range) — the
    // common case routes with pure arithmetic, no decode
    val routed0 = base.withColumn("range_id",
      explode(when(rangeOf(col("first_doc")) === rangeOf(col("last_doc")),
          array(rangeOf(col("first_doc"))))
        .otherwise(array_distinct(transform(
          graft.index.codec.varintDeltaDecode(col("doc_gaps")), d => rangeOf(d))))))

    val (routed, seeds) =
      if (!prune || !in.seeded || nRanges < MinRangesForPrune)
        // the stored θ seed is free — pass it even when the range prune
        // is gated off (topKRange starts its heap at a true lower bound;
        // results unchanged, work only shrinks)
        (routed0, in.seeds)
      else {
        val seedMap =
          if (k <= graft.index.PostingBlocks.TopBlockMaxes) in.seeds
          else {
            // k beyond the stored top maxes: per-batch metadata window job
            import org.apache.spark.sql.expressions.Window
            val wqt = Window.partitionBy("query_id", "term").orderBy(col("_low").desc)
            base.select("query_id", "term", "_low")
              .withColumn("_r", row_number().over(wqt))
              .where(col("_r") === k) // k-th largest block max of the term
              .groupBy("query_id").agg(max("_low").as("_seed"))
              .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
          }
        if (seedMap.isEmpty) (routed0, seedMap)
        else {
          val meta = base.select(col("query_id"), col("leaf"), col("term"),
            col("block_max_score"),
            rangeOf(col("first_doc")).as("_r0"), rangeOf(col("last_doc")).as("_r1"))
          val local = meta.where(col("_r1") - col("_r0") < lit(GlobalSpanRanges))
            .withColumn("range_id", explode(sequence(col("_r0"), col("_r1"))))
            .groupBy("query_id", "leaf", "range_id", "term")
            .agg(max("block_max_score").as("_m"))
            .groupBy("query_id", "leaf", "range_id").agg(sum("_m").as("_lb"))
          val global = meta.where(col("_r1") - col("_r0") >= lit(GlobalSpanRanges))
            .groupBy("query_id", "leaf", "term").agg(max("block_max_score").as("_m"))
            .groupBy("query_id", "leaf").agg(sum("_m").as("_gb"))
          val seedsDf = seedMap.toSeq.toDF("query_id", "_seed")
          // `local` scales with |queries| × populated ranges — at design
          // scale that is NOT broadcastable, so let Catalyst pick (it
          // auto-broadcasts when small); `global`/`seeds` are O(|queries|)
          val kept = routed0
            .join(local, Seq("query_id", "leaf", "range_id"), "left")
            .join(broadcast(global), Seq("query_id", "leaf"), "left")
            .join(broadcast(seedsDf), Seq("query_id"), "left")
            .where(coalesce(col("_lb"), lit(0.0)) + coalesce(col("_gb"), lit(0.0)) >=
              coalesce(col("_seed"), lit(Double.NegativeInfinity)) - lit(BlockMaxWand.Eps))
            .drop("_lb", "_gb", "_seed")
          (kept, seedMap)
        }
      }
    val ds = routed
      .select(col("query_id"), col("leaf"), col("range_id"), col("term"), col("df"),
        col("first_doc"), col("last_doc"), col("doc_gaps"), col("tfs"),
        col("dls"), col("block_max_score"))
      .as[QBlockRow]
    Some((ds, seeds, rangeSize))
  }

  /** Block-max WAND top-k (disjunctive) over a view — the same output as
    * [[search]] over it (the WandSpec and SegmentSpec properties), with
    * the view's key and absolute ranks from `start`. Written once over
    * the leaves: a bulk root is one identity leaf, the live segmented
    * root of [[graft.index.SegmentedIndex.open]] one leaf per segment, and
    * each (query, leaf) is traversed in the leaf's own doc-id space —
    * Lucene's per-`LeafReaderContext` collector with index-wide
    * statistics, and Block-Max WAND (Ding & Suel, SIGIR 2011) is a
    * per-leaf algorithm.
    *
    * SCORING INPUTS, derived without decoding postings: the live df of
    * `v.df` and the live N/avgdl of the view. A leaf's stored block maxes
    * were computed with its build-time (df_b, N_b, avgdl_b); for the live
    * function (df_l, N_l, avgdl_l) every posting satisfies
    * s_live/s_build = (idf_l/idf_b)·g(tf, dl), where
    * g = (tf + K_b(dl))/(tf + K_l(dl)) is monotone in dl with range
    * bounded by [min(1, avgdl_l/avgdl_b), max(1, avgdl_l/avgdl_b)] over
    * tf ≥ 1, dl ≥ 1 (K(dl) = k1(1−b+b·dl/avg) is affine in dl, so the
    * ratio's extrema sit at dl → {1, ∞} and tf → {1, ∞}). Scaling each
    * stored max by the UPPER factor (idf_l/idf_b)·max(1, avgdl_l/avgdl_b)
    * therefore yields a valid upper bound — over-estimates only inhibit
    * skipping, never break exactness. An identity leaf's factors are
    * exactly 1.0, so its bounds and scores are the stored ones, bit for
    * bit.
    *
    * θ SEED: the stored top block maxes scaled by the LOWER factor
    * (idf_l/idf_b)·min(1, avgdl_l/avgdl_b). Used only when no leaf can
    * hold a dead instance (every leaf's t_s is 0 — always so for a bulk
    * root, and for a segmented root exactly when its manifest lists no
    * tombstone): then every stored max's doc is live and keys are
    * globally distinct (an upsert always writes a tombstone), so the k-th
    * largest lower-corrected max of a term witnesses k doc-disjoint live
    * docs scoring at least it.
    *
    * TOMBSTONE GUARD: killed instances are invisible to the traversal's
    * metadata, so they can occupy heap slots; each (query, leaf)
    * traversal keeps start + k + t_s candidates, where t_s
    * ([[Leaf.overFetch]]) bounds the leaf's dead instances, and killed
    * candidates ([[Leaf.kills]]) are dropped before the global
    * rank-merge: any live doc outside a leaf's start + k + t_s best has
    * ≥ start + k live docs ranked above it in its own leaf, so it cannot
    * enter the global top start + k. t_s is bounded by the appends since
    * the last compaction (the documented segment-count invariant); heavy
    * delete workloads degrade toward larger heaps, never toward wrong
    * answers.
    *
    * PATHS: a batch within one range's working set — the leaves' doc
    * counts and the stored df of its terms each sum to ≤ docsPerRange —
    * runs ONE Spark job collecting its blocks from every leaf and
    * traverses each (query, leaf) on the driver. A larger batch runs the
    * range-parallel traversal: each leaf's doc-id space splits into
    * fixed ranges of `docsPerRange`, each candidate block routes
    * PRECISELY to the ranges containing its postings ([[wandBlocks]]),
    * the range-bounded traversal ([[BlockMaxWand.topKRange]]) produces
    * that range's exact top-k seeded with the per-query θ lower bound,
    * and each (query, leaf) keeps its best start + k + t_s across ranges
    * (BM25 is additive per doc and every doc lives in exactly one range,
    * so a doc in the global top-k is in its range's top-k under the pinned
    * order). Either way a keyed view then resolves the candidates' keys
    * with ONE job over the candidate leaves' `docs/` keys; an identity
    * leaf's doc id is its key. The candidates are ranked on the driver in
    * [[Search.rank]]'s pinned order into a local frame, whose `collect`
    * runs no job. A request with only out-of-vocabulary terms runs no job
    * at all.
    *
    * DRIVER MEMORY: besides each leaf's resident dictionary (see
    * [[OpenIndex]]), a request holds its own blocks on the driver path
    * (≤ docsPerRange postings) and ≤ |queries| × leaves × (start + k + t_s)
    * candidates on either path. */
  def searchWand(v: View, queries: Seq[(Int, String)], k: Int = 10,
                 docsPerRange: Long = DefaultDocsPerRange,
                 start: Int = 0): DataFrame =
    traverseTopK(v, queries, k, docsPerRange, start, BlockMaxWand.topKRange)

  /** MaxScore fast path (disjunctive top-k) — same output as [[search]]
    * and [[searchWand]], same paths and θ seeds; only the within-range
    * traversal differs ([[MaxScore.topKRange]]'s essential-list pruning
    * instead of WAND's pivot bounding). Two engines over one block layout
    * lets a caller pick per workload: MaxScore tends to win on queries
    * mixing one hot low-impact term with selective terms (the hot list is
    * probed, never walked); WAND on uniformly selective terms. */
  def searchMaxScore(v: View, queries: Seq[(Int, String)], k: Int = 10,
                     docsPerRange: Long = DefaultDocsPerRange,
                     start: Int = 0): DataFrame =
    traverseTopK(v, queries, k, docsPerRange, start, MaxScore.topKRange)

  private def traverseTopK(v: View, queries: Seq[(Int, String)], k: Int,
                           docsPerRange: Long, start: Int,
                           traverse: BlockMaxWand.RangeTopK): DataFrame = {
    // pagination: every internal bound (θ seed, per-leaf heap) must hold
    // the TOP start+k — an offset page still needs the full prefix
    val spark = v.spark
    import spark.implicits._
    val kk = start + k
    val in = topKInputs(v, queries, kk)
    val leaves = v.leaves.toIndexedSeq
    val (nL, avgL, heap) = (v.nDocs, v.avgdl, in.heap)
    val fits = leaves.map(_.index.stats.nDocs).sum <= docsPerRange &&
      in.leafTerms.indices.map(o => in.leafTerms(o).values
        .map(t => leaves(o).index.resident.df(t._1)).sum).sum <= docsPerRange
    val candidates: Seq[(Int, Int, Long, Double)] =
      if (in.terms.isEmpty) Nil
      else if (fits) {
        // ONE job collects the batch's blocks from every leaf holding its
        // terms; their maxes are scaled to the upper bound on the driver
        val lists: Map[(Int, String), BlockMaxWand.TermPostings] =
          in.leafTerms.indices.filter(in.leafTerms(_).nonEmpty).map { o =>
            val (idx, ts) = (leaves(o).index, in.leafTerms(o).keys.toSeq)
            idx.postings
              .where(col("shard").isin(idx.resident.shardsOf(ts): _*) && col("term").isin(ts: _*))
              .select(lit(o).as("leaf"), col("term"), col("first_doc"),
                col("last_doc"), col("doc_gaps"), col("tfs"), col("dls"),
                col("block_max_score"))
          }.reduce(_ unionByName _).collect()
            .groupBy(r => (r.getInt(0), r.getString(1))).map { case ((o, t), rs) =>
              val up = in.leafTerms(o)(t)._2
              (o, t) -> BlockMaxWand.TermPostings(in.df(t), rs.sortBy(_.getLong(2)).map(r =>
                BlockMaxWand.BlockRef(r.getLong(2), r.getLong(3), r.getDouble(7) * up,
                  r.getAs[Array[Byte]](4), r.getAs[Array[Byte]](5), r.getAs[Array[Byte]](6))))
            }
        for {
          (q, ts) <- in.terms
          o <- leaves.indices
          terms = ts.flatMap(t => lists.get((o, t)))
          if terms.nonEmpty
          (doc, s) <- traverse(terms, heap(o), nL, avgL, 0L, Long.MaxValue,
            in.seeds.getOrElse(q, Double.NegativeInfinity))
        } yield (q, o, doc, s)
      } else {
        val Some((blocks, seeds, rs)) = routedBlocks(v, in, kk, docsPerRange, prune = true)
        // a leaf's start + k + t_s best across its ranges bound what the
        // rank-merge can use (the tombstone guard), so at most
        // |queries| × leaves × (start + k + t_s) candidates reach the driver
        val best = org.apache.spark.sql.expressions.Window.partitionBy("query_id", "leaf")
          .orderBy(round(col("_score"), Bm25.RankScale).desc, col("doc_id").asc)
        blocks.groupByKey(r => (r.query_id, r.leaf, r.range_id))
          .flatMapGroups { (key: (Int, Int, Int), rows: Iterator[QBlockRow]) =>
            val (qid, o, rid) = key
            // bounded by the range width: ≤ |terms| × rangeSize/blockSize blocks
            val lo = rid.toLong * rs
            traverse(termPostings(rows), heap(o), nL, avgL,
              lo, lo + rs, seeds.getOrElse(qid, Double.NegativeInfinity))
              .iterator.map { case (doc, s) => (qid, o, doc, s) }
          }.toDF("query_id", "leaf", "doc_id", "_score")
          .withColumn("_r", row_number().over(best))
          .where(col("_r") <= element_at(typedLit(heap), col("leaf") + 1))
          .select("query_id", "leaf", "doc_id", "_score")
          .as[(Int, Int, Long, Double)].collect().toSeq
      }
    rankCandidates(v, candidates, k, start)
  }

  /** A traversal group's blocks as one doc-ascending posting list per
    * term (a term's blocks are doc-disjoint — guaranteed by the build). */
  private def termPostings(rows: Iterator[QBlockRow]): Seq[BlockMaxWand.TermPostings] =
    rows.toVector.groupBy(_.term).values.map { trs =>
      val sorted = trs.sortBy(_.first_doc)
      BlockMaxWand.TermPostings(sorted.head.df, sorted.map(r => BlockMaxWand.BlockRef(
        r.first_doc, r.last_doc, r.block_max_score, r.doc_gaps, r.tfs, r.dls)).toArray)
    }.toSeq

  /** The ranked tail of [[traverseTopK]]: (query, leaf, leaf-local doc,
    * raw score) candidates → keys — an identity leaf's doc id, a keyed
    * leaf's with ONE job over the candidate leaves' `docs/` keys — minus
    * the instances a tombstone kills, ranked per query on the driver in
    * [[Search.rank]]'s pinned order: round(score, RankScale) DESC, then
    * the key ascending as Spark orders it. A local frame (its `collect`
    * runs no job) of (query_id, rank, key…, score). */
  private def rankCandidates(v: View, candidates: Seq[(Int, Int, Long, Double)],
                             k: Int, start: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val leaves = v.leaves.toIndexedSeq
    def identity(o: Int) = isIdentity(v, leaves(o))
    val keyRows: Map[(Int, Long), Row] = {
      val byLeaf = candidates.groupMap(_._2)(_._3).filter { case (o, _) => !identity(o) }
      if (byLeaf.isEmpty) Map.empty
      else byLeaf.map { case (o, ids) =>
        leaves(o).index.stored.where(col("doc_id").isin(ids.distinct: _*))
          .select(lit(o).as("leaf") +: col("doc_id") +: v.key.map(col): _*)
      }.reduce(_ unionByName _).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> Row.fromSeq(r.toSeq.drop(2))).toMap
    }
    val rows = candidates.flatMap { case (q, o, doc, s) =>
      val key = if (identity(o)) Row(doc) else keyRows((o, doc))
      if (leaves(o).kills(key)) None else Some((q, key, s))
    }.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, hits) =>
      hits.sortBy { case (_, key, s) => (-BlockMaxWand.round(s, Bm25.RankScale), key) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, KeyOrder))
        .take(start + k).zipWithIndex.drop(start).map { case ((_, key, s), i) =>
          Row.fromSeq((q +: (i + 1) +: key.toSeq) :+ BlockMaxWand.round(s, Bm25.OutScale))
        }
    }
    val keyFields =
      if (leaves.isEmpty) v.key.map(v.attrs.schema(_))
      else if (identity(0)) v.key.map(StructField(_, LongType, nullable = false))
      else v.key.map(leaves(0).index.stored.schema(_))
    v.spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(
      StructField("query_id", IntegerType, nullable = false) +:
        StructField("rank", IntegerType, nullable = false) +: keyFields :+
        StructField("score", DoubleType, nullable = false)))
  }

  /** Spark's ascending order of key values: strings by their UTF-8 bytes. */
  private object KeyOrder extends Ordering[Row] {
    def compare(a: Row, b: Row): Int = a.toSeq.iterator.zip(b.toSeq.iterator).map {
      case (x: String, y: String) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
      case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
    }.find(_ != 0).getOrElse(0)
  }
}
