package graft.search

import graft.analysis.Analyzer
import graft.index.IndexBuild
import graft.index.IndexBuild.Stats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Query-time scoring (SURVEY.md §3.2). The exhaustive path is the
  * correctness baseline (its DuckDB twin IS the oracle); the block-max
  * WAND fast path (M4) must equal it bit-for-bit.
  *
  * Output schema — the engine's "Solr JSON response":
  *   (query_id:int, rank:int, doc_id:long, score:double)
  * rank by (round(score, 7) DESC, doc_id ASC); score reported at 4
  * decimals. Deterministic tie-break ⇒ rank-identical across engines.
  */
object Search {

  /** Literal query set → small DataFrame(query_id:int, text:string). */
  def queryFrame(spark: SparkSession, queries: Seq[(Int, String)]): DataFrame = {
    import spark.implicits._
    queries.toDF("query_id", "text")
  }

  /** Query analysis: same Analyzer as the index side, distinct terms
    * (each distinct query term contributes once — pinned semantics,
    * FIXTURES.md §C). */
  def queryTerms(queries: DataFrame): DataFrame =
    queries.select(col("query_id"),
        explode(Analyzer.tokens(col("text"))).as("term"))
      .distinct()

  /** [[queryTerms]] on the driver: the distinct (query_id, term) pairs. */
  def queryPairs(queries: Seq[(Int, String)]): Seq[(Int, String)] =
    queries.flatMap { case (q, t) => Analyzer.tokenize(t).map(q -> _) }.distinct

  /** Full Lucene/Solr boolean clause grammar (`q=+a "b c" -d`):
    * whitespace clauses prefixed '+' are MUST, '-' are MUST_NOT, bare are
    * SHOULD; a clause body wrapped in double quotes is a PHRASE clause
    * (`+"block max" wand -deprecated` — the most common real Solr query
    * shape); the shared analyzer runs on each clause body. Pinned
    * semantics (BooleanQuery, documented): a doc matches iff it satisfies
    * EVERY must clause (term present / phrase pf ≥ 1 — an
    * out-of-vocabulary must term OR a must phrase containing one matches
    * nothing), no not-term and no not-phrase occurs in it, and — with no
    * must clauses — at least one should clause matches; the score is the
    * BM25 sum over the doc's matching must+should TERM clauses plus the
    * PhraseQuery score (idf-sum · pf BM25 shape, exact adjacency) of each
    * matching must+should PHRASE clause. Dedupe pinning: a term listed
    * both must and should dedupes to must and scores once; phrase clauses
    * dedupe by token sequence with the same must-over-should rule. A
    * phrase that analyzes to ONE token is a term clause (Lucene parity:
    * single-term PhraseQuery ≡ TermQuery); one that analyzes to zero
    * tokens is a no-op. Lucene `^boost` suffixes (`error^2`, `"a b"^0.5`,
    * `te*^3`, `roam~1^2`) multiply the clause's score contribution;
    * see [[stripBoost]] and the dedupe pinning at the boost maps. */
  /** A MultiTermQuery clause body inside the boolean grammar: expanded
    * against the dictionary at query time, then treated as a GROUP —
    * Lucene rewrites `+te*t` to `+(t1 t2 …)`: the must is satisfied by
    * ANY member, a not-group excludes on ANY member, members score with
    * their own idf (SCORING_BOOLEAN, the family's pinned rewrite). */
  sealed trait MultiTermBody
  /** `te*t` / `t?st` — [[MultiTerm.searchWildcard]]'s pattern rules
    * (alphabet `[a-z0-9*?]`, prefix-only patterns are the subset). */
  final case class WildcardBody(pattern: String) extends MultiTermBody
  /** `roam~1` — [[MultiTerm.searchFuzzy]]'s plain-Levenshtein pinning;
    * the body must analyze to exactly one token. */
  final case class FuzzyBody(stem: String, maxEdits: Int) extends MultiTermBody

  final case class BoolClauses(must: Seq[String], should: Seq[String],
                               not: Seq[String],
                               mustPhrases: Seq[Seq[String]] = Seq.empty,
                               shouldPhrases: Seq[Seq[String]] = Seq.empty,
                               notPhrases: Seq[Seq[String]] = Seq.empty,
                               mustGroups: Seq[MultiTermBody] = Seq.empty,
                               shouldGroups: Seq[MultiTermBody] = Seq.empty,
                               notGroups: Seq[MultiTermBody] = Seq.empty,
                               termBoosts: Map[String, Double] = Map.empty,
                               phraseBoosts: Map[Seq[String], Double] = Map.empty,
                               groupBoosts: Map[MultiTermBody, Double] = Map.empty,
                               fieldedMust: Seq[(String, String)] = Seq.empty,
                               fieldedShould: Seq[(String, String)] = Seq.empty,
                               fieldedNot: Seq[(String, String)] = Seq.empty,
                               fieldedBoosts: Map[(String, String), Double] = Map.empty) {
    def hasGroups: Boolean =
      mustGroups.nonEmpty || shouldGroups.nonEmpty || notGroups.nonEmpty
    def hasFielded: Boolean =
      fieldedMust.nonEmpty || fieldedShould.nonEmpty || fieldedNot.nonEmpty
    /** Query-syntax boost of a term/phrase/group clause (1.0 when none). */
    def boost(t: String): Double = termBoosts.getOrElse(t, 1.0)
    def phraseBoost(p: Seq[String]): Double = phraseBoosts.getOrElse(p, 1.0)
    def groupBoost(b: MultiTermBody): Double = groupBoosts.getOrElse(b, 1.0)
    def fieldedBoost(fv: (String, String)): Double =
      fieldedBoosts.getOrElse(fv, 1.0)
  }

  /** One clause: optional +/- prefix, then a quoted body (with an
    * optional trailing `^boost`) or a bare body. */
  private val ClauseRe = """([+-]?"[^"]*"(?:\^[^\s"]+)?|\S+)""".r

  /** Parse one bare (unquoted) multiterm clause body, or None for a
    * plain-term body. Fuzzy wins over wildcard detection (a body cannot
    * legally carry both — the wildcard alphabet excludes '~'). */
  private def parseMultiTermBody(body: String): Option[MultiTermBody] =
    if (body.contains("~")) {
      val i = body.lastIndexOf('~')
      val (stemRaw, suf) = (body.substring(0, i), body.substring(i + 1))
      val n =
        if (suf.isEmpty) 2
        else {
          require(suf.matches("[0-2]"),
            s"fuzzy clause '$body': maxEdits must be 0..2 (Lucene automata bound)")
          suf.toInt
        }
      val toks = Analyzer.tokenize(stemRaw)
      require(toks.size == 1,
        s"fuzzy clause '$body' must analyze to exactly one token (got $toks)")
      Some(FuzzyBody(toks.head, n))
    } else if (body.contains("*") || body.contains("?")) {
      val p = body.toLowerCase
      require(p.matches("[a-z0-9*?]+"),
        s"wildcard clause '$p' must be over the token alphabet [a-z0-9*?]")
      Some(WildcardBody(p))
    } else None

  /** Strip a Lucene `^boost` suffix off a clause body ("a b"^2 comes in
    * WITHOUT the quotes already removed by the caller for the bare case).
    * Returns (body, boost). A '^' with a non-positive / unparseable
    * suffix fails loudly — it cannot be a legal token ('^' is outside
    * every body alphabet), so silence would mis-parse the query. */
  private def stripBoost(body: String): (String, Double) = {
    val i = body.lastIndexOf('^')
    if (i < 0) (body, 1.0)
    else {
      val (stem, suf) = (body.substring(0, i), body.substring(i + 1))
      val b = suf.toDoubleOption.getOrElse(
        throw new IllegalArgumentException(
          s"clause '$body': boost suffix '^$suf' is not a number"))
      require(b > 0, s"clause '$body': boost must be positive, got $b")
      require(stem.nonEmpty, s"clause '$body': empty body before '^'")
      (stem, b)
    }
  }

  def parseClauses(text: String): BoolClauses = {
    val clauses = ClauseRe.findAllIn(text).toSeq
    sealed trait Kind; case object M extends Kind; case object S extends Kind
    case object N extends Kind
    val split: Seq[(Kind, String, Boolean, Double)] = clauses.map { c =>
      val (kind, rest) =
        if (c.startsWith("+") && c.length > 1) (M, c.substring(1))
        else if (c.startsWith("-") && c.length > 1) (N, c.substring(1))
        else (S, c)
      val quoted = rest.startsWith("\"")
      if (quoted) {
        val close = rest.lastIndexOf('"')
        require(close >= 1, s"clause '$c': unterminated quote")
        val boost = stripBoost("x" + rest.substring(close + 1))._2
        (kind, rest.substring(1, close), true, boost)
      } else {
        val (body, boost) = stripBoost(rest)
        (kind, body, false, boost)
      }
    }
    // fielded clauses (Lucene `field:term` syntax, unquoted bodies only):
    // `text:` is the default field — its body continues through the
    // normal clause path; any other `ident:` prefix is an ATTRIBUTE term
    // clause (StrField semantics — the value matches exactly, no
    // analysis), value restricted to the stored-value alphabet so a
    // mistyped fielded wildcard/phrase fails loudly instead of silently
    // becoming a text clause
    val FieldedRe = """([a-z_][a-z0-9_]*):(.+)""".r
    val split2: Seq[(Kind, String, Boolean, Double, Option[(String, String)])] =
      split.map {
        case (k, body, false, b) => body match {
          case FieldedRe("text", v) => (k, v, false, b, None)
          case FieldedRe(f, v) =>
            require(v.matches("[A-Za-z0-9_-]+"),
              s"fielded clause '$f:$v': value must be a bare stored value " +
                "(no wildcards/quotes — analysis does not apply to StrFields)")
            (k, body, false, b, Some((f, v)))
          case _ => (k, body, false, b, None)
        }
        case (k, body, q, b) => (k, body, q, b, None)
      }
    val (fieldedCl0, plainCl) = split2.partition(_._5.isDefined)
    val fieldedCl = fieldedCl0.map { case (k, _, _, b, fv) => (k, fv.get, b) }
    def fielded(k: Kind) = fieldedCl.filter(_._1 == k).map(_._2).distinct
    val split3 = plainCl.map { case (k, body, q, b, _) => (k, body, q, b) }
    // unquoted bodies with multiterm syntax become group clauses
    val (mtCl, restCl) = split3.partition { case (_, body, q, _) =>
      !q && parseMultiTermBody(body).isDefined }
    def groups(k: Kind) =
      mtCl.filter(_._1 == k).map(c => parseMultiTermBody(c._2).get).distinct
    // a quoted body analyzing to 1 token degrades to a term clause; to 0
    // tokens it is a no-op
    val (phraseCl, termCl) = restCl.map { case (k, body, q, b) =>
      (k, Analyzer.tokenize(body), q, b)
    }.partition { case (_, toks, q, _) => q && toks.size >= 2 }
    def terms(k: Kind) =
      termCl.filter(_._1 == k).flatMap(_._2).distinct
    def phrases(k: Kind) =
      phraseCl.filter(_._1 == k).map(_._2).distinct
    // explicit `^boost` clause boosts: every token the (term) body
    // analyzes to carries the body's boost; a clause listed twice with
    // different boosts dedupes to the MAX boost (pinned — Lucene scores
    // each occurrence separately, our engines dedupe clauses); boosts on
    // MUST_NOT clauses parse but are ignored (exclusion is boolean)
    def maxBoosts[K](kvs: Seq[(K, Double)]): Map[K, Double] =
      kvs.filter(_._2 != 1.0).groupBy(_._1)
        .map { case (t, occ) => t -> occ.map(_._2).max }
    val tBoosts = maxBoosts(termCl.collect {
      case (k, toks, _, b) if k != N => toks.map(_ -> b) }.flatten)
    val pBoosts = maxBoosts(phraseCl.collect {
      case (k, toks, _, b) if k != N => toks -> b })
    val gBoosts = maxBoosts(mtCl.collect {
      case (k, body, _, b) if k != N => parseMultiTermBody(body).get -> b })
    val fBoosts = maxBoosts(fieldedCl.collect {
      case (k, fv, b) if k != N => fv -> b })
    val must = terms(M)
    val mustPh = phrases(M)
    val mustG = groups(M)
    val mustF = fielded(M)
    BoolClauses(must, terms(S).filterNot(must.contains), terms(N),
      mustPh, phrases(S).filterNot(mustPh.contains), phrases(N),
      mustG, groups(S).filterNot(mustG.contains), groups(N),
      tBoosts, pBoosts, gBoosts,
      mustF, fielded(S).filterNot(mustF.contains), fielded(N), fBoosts)
  }

  /** The edismax `pf` rewrite: append each query's whole analyzed token
    * sequence as a quoted SHOULD phrase clause (`a b c` → `a b c "a b c"`).
    * Shared by the engine and the oracle wiring so the rewrite cannot
    * drift. Queries analyzing to < 2 tokens pass through unchanged; the
    * input must be plain terms (no explicit clause syntax — pf rewrites
    * user keywords, it does not compose with a hand-written grammar). */
  def pfRewrite(queries: Seq[(Int, String)]): Seq[(Int, String)] =
    queries.map { case (id, t) =>
      require(!t.contains("\"") && !t.trim.split("\\s+").exists(c =>
        c.startsWith("+") || c.startsWith("-")),
        s"pf applies to plain keyword queries, got clause syntax: '$t'")
      val toks = Analyzer.tokenize(t)
      (id, if (toks.size < 2) t else s"""$t "${toks.mkString(" ")}"""")
    }

  /** The edismax `pf2`/`pf3` rewrite: append every consecutive token
    * n-gram of the analyzed query as a quoted SHOULD phrase clause for
    * each requested n (Solr's documented bigram/trigram phrase-field
    * shingles — `q=a b c&pf2=text&pf3=text` rewrites to
    * `a b c "a b" "b c" "a b c"`). Duplicate n-grams (and an n-gram equal
    * to a whole-query pf phrase) dedupe in [[parseClauses]]'s phrase
    * dedupe — each distinct shingle boosts once, the pinned rule. Same
    * plain-keyword precondition and engine/oracle sharing as
    * [[pfRewrite]]. */
  def pfnRewrite(queries: Seq[(Int, String)], ns: Seq[Int]): Seq[(Int, String)] = {
    require(ns.nonEmpty && ns.forall(_ >= 2),
      s"pf2/pf3 shingle sizes must be >= 2, got $ns")
    queries.map { case (id, t) =>
      require(!t.contains("\"") && !t.trim.split("\\s+").exists(c =>
        c.startsWith("+") || c.startsWith("-")),
        s"pf2/pf3 applies to plain keyword queries, got clause syntax: '$t'")
      val toks = Analyzer.tokenize(t)
      val shingles = ns.flatMap(n =>
        if (toks.size < n) Nil
        else toks.sliding(n).map(_.mkString(" ")).toSeq).distinct
      (id, if (shingles.isEmpty) t
           else t + shingles.map(p => s""" "$p"""").mkString)
    }
  }

  /** Boolean query set → ((query_id, term, is_must) frame over must ∪
    * should, (query_id, term) negative frame, driver Map query_id →
    * |must| including out-of-vocabulary must terms). */
  def parseClauseQueries(spark: SparkSession, queries: Seq[(Int, String)])
      : (DataFrame, DataFrame, Map[Int, Int]) = {
    import spark.implicits._
    val parsed = queries.map { case (id, t) => (id, parseClauses(t)) }
    // the terms-only inline-corpus engine would silently DROP a quoted
    // phrase clause — fail loudly instead
    require(parsed.forall { case (_, c) =>
      c.mustPhrases.isEmpty && c.shouldPhrases.isEmpty && c.notPhrases.isEmpty },
      "quoted phrase clauses are served by IndexSearch.searchClauses over " +
        "a positional persisted index; this engine path is terms-only")
    require(parsed.forall(!_._2.hasGroups),
      "wildcard/fuzzy clauses are served by IndexSearch.searchClauses over " +
        "a persisted index dictionary; this engine path is terms-only")
    require(parsed.forall(!_._2.hasFielded),
      "fielded (attr:value) clauses are served by IndexSearch.searchFielded " +
        "over a persisted index with stored attributes; this path is terms-only")
    val qt = parsed.flatMap { case (id, c) =>
      c.must.map(t => (id, t, true, c.boost(t))) ++
        c.should.map(t => (id, t, false, c.boost(t)))
    }.toDF("query_id", "term", "_is_must", "_boost")
    val neg = parsed.flatMap { case (id, c) => c.not.map(t => (id, t)) }
      .toDF("query_id", "term")
    (qt, neg, parsed.map { case (id, c) => id -> c.must.size }.toMap)
  }

  /** Inline boolean-clause search (the grammar above) over a raw corpus.
    *
    * `mm` is Lucene's BooleanQuery minimumNumberShouldMatch (Solr
    * edismax `mm=` as an absolute count): a matching doc must
    * additionally satisfy at least `mm` SHOULD clauses. mm = 0 keeps
    * Lucene's default — shoulds are optional when musts exist, ≥1
    * implied otherwise (the scoring relation only ever contains docs
    * with a matching term). A query with fewer should clauses than `mm`
    * matches nothing (Lucene parity). Dedupe pinning carries over: a
    * term deduped must-over-should counts as a MUST clause only. */
  def searchCorpusClauses(corpus: DataFrame, queries: Seq[(Int, String)],
                          k: Int = 10, mm: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(mm >= 0, s"mm (minimum-should-match) must be >= 0, got $mm")
    val (qt, neg, nMust) = parseClauseQueries(spark, queries)
    val tfdl = IndexBuild.tfdlDirect(corpus)
    val st = IndexBuild.statsFromCorpus(corpus)
    val qd = qt.join(IndexBuild.dictionary(tfdl).select("term", "df"), "term")
    // one row per (query, term, doc) — tf is already aggregated, so a
    // plain conditional count gives the per-doc matched-must count
    val scored = tfdl
      .join(broadcast(qd), "term")
      .withColumn("_s", Bm25.termScore(col("tf"), col("dl"), col("df"),
        lit(st.nDocs), lit(st.avgdl)) * col("_boost"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("_s")).as("_score"),
        count(when(col("_is_must"), lit(1))).as("_must_matched"),
        count(when(!col("_is_must"), lit(1))).as("_should_matched"))
    val nMustDf = nMust.toSeq.toDF("query_id", "_n_must")
    val negMatch = tfdl.join(broadcast(neg), "term")
      .select("query_id", "doc_id").distinct()
    val mustOk = scored
      .join(broadcast(nMustDf), "query_id")
      .where(col("_must_matched") === col("_n_must"))
    val mmOk = if (mm == 0) mustOk else mustOk.where(col("_should_matched") >= mm)
    rank(mmOk.join(negMatch, Seq("query_id", "doc_id"), "left_anti"), k)
  }

  /** Boolean-NOT search (Solr `q=a -b`): the no-must subset of the clause
    * grammar — bare clauses are SHOULD, '-' clauses exclude; a
    * pure-negative query matches nothing. Delegates to
    * [[searchCorpusClauses]] (one boolean engine path). */
  def searchCorpusBoolean(corpus: DataFrame, queries: Seq[(Int, String)],
                          k: Int = 10): DataFrame =
    searchCorpusClauses(corpus, queries, k)

  /** Exhaustive BM25 top-k from the scoring relation.
    *
    * @param tfdl (term, doc_id, tf, dl) — the denormalized posting rows
    * @param dict (term, df, ...) — broadcast (tiny vs the corpus)
    * @param conjunctive if true, only docs matching ALL query terms (J3
    *        realized as one aggregation, not a join chain)
    * @param quantizeNorms route dl through Lucene's lossy 1-byte norm
    *        quantization ([[Bm25.quantizeDl]]) before scoring — the
    *        live-Solr score-parity flag (SURVEY.md §2.9 note). OFF by
    *        default: exact dl is the oracle-reproducible pinned
    *        semantics. avgdl stays exact either way (Lucene computes
    *        avgFieldLength from exact totals, not from stored norms).
    */
  def topK(queries: DataFrame, tfdl: DataFrame, dict: DataFrame,
           stats: Stats, k: Int = 10, conjunctive: Boolean = false,
           quantizeNorms: Boolean = false, start: Int = 0): DataFrame =
    rank(scoredDocs(queries, tfdl, dict, stats, conjunctive, quantizeNorms),
      k, start)

  /** Pre-rank per-(query, doc) scores — shared by [[topK]], the filtered
    * (`fq`) variant, and faceting. */
  private[graft] def scoredDocs(queries: DataFrame, tfdl: DataFrame,
                                dict: DataFrame, stats: Stats,
                                conjunctive: Boolean = false,
                                quantizeNorms: Boolean = false): DataFrame = {
    val qt = queryTerms(queries)
    // (query term ⋈ dictionary) is tiny; broadcasting the product means the
    // big posting relation shuffles zero times before scoring.
    val qd = qt.join(dict.select("term", "df"), "term")
    val dlCol = if (quantizeNorms) Bm25.quantizeDlCol(col("dl")) else col("dl")
    val scored = tfdl
      .join(broadcast(qd), "term")
      .withColumn("_s", Bm25.termScore(col("tf"), dlCol, col("df"),
        lit(stats.nDocs), lit(stats.avgdl)))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("_s")).as("_score"), count(lit(1)).as("_n_matched"))
    if (!conjunctive) scored
    else {
      // n_q counts ALL analyzed query terms (qt), not just dictionary
      // hits: Lucene MUST semantics — a required term absent from the
      // corpus matches nothing.
      val nq = qt.groupBy("query_id").agg(count(lit(1)).as("_n_q"))
      scored.join(broadcast(nq), "query_id")
        .where(col("_n_matched") === col("_n_q"))
    }
  }

  /** W1 — per-query top-k with the pinned tie-break. `start` is Solr's
    * `start=` pagination offset (k = `rows=`): ranks (start, start+k] are
    * returned with their ABSOLUTE rank positions, exactly like a Solr
    * response's numbered page. `key` names the doc identity columns
    * (doc_id, or a segmented root's (conv_id, turn_idx)); ties break on
    * them ascending. */
  def rank(scored: DataFrame, k: Int, start: Int = 0,
           key: Seq[String] = Seq("doc_id")): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("_score"), Bm25.RankScale).desc +: key.map(col(_).asc): _*)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") > start && col("rank") <= start + k)
      .select(Seq(col("query_id"), col("rank").cast("int").as("rank")) ++
        key.map(col) :+ round(col("_score"), Bm25.OutScale).as("score"): _*)
  }

  /** Solr `sort=` result ordering (e.g. `sort=ts desc`): rank the MATCH
    * set by arbitrary sort expressions with the pinned doc_id ASC
    * tie-break appended; BM25 scores are still computed and reported
    * (Solr returns them alongside), they just don't drive the order.
    * `keep` names extra columns of `scored` to carry into the output
    * (e.g. the sort field itself, for verification). The generalization
    * of [[rank]]: rank(scored, k) ≡ rankBy(scored, score-desc order, k). */
  def rankBy(scored: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
             k: Int, start: Int = 0, keep: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(sortCols :+ col("doc_id").asc: _*)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") > start && col("rank") <= start + k)
      .select(Seq(col("query_id"), col("rank").cast("int").as("rank"),
        col("doc_id")) ++ keep.map(col) :+
        round(col("_score"), Bm25.OutScale).as("score"): _*)
  }

  /** End-to-end exhaustive search over a raw (doc_id, text) corpus —
    * builds the scoring relation inline (no persisted index). This is the
    * oracle-twinned path used by Verify. */
  def searchCorpus(corpus: DataFrame, queries: Seq[(Int, String)],
                   k: Int = 10, conjunctive: Boolean = false,
                   quantizeNorms: Boolean = false, start: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    val tfdl = IndexBuild.tfdlDirect(corpus)
    val dict = IndexBuild.dictionary(tfdl)
    val st = IndexBuild.statsFromCorpus(corpus)
    topK(queryFrame(spark, queries), tfdl, dict, st, k, conjunctive,
      quantizeNorms, start)
  }

  /** Solr `fq` (filter query) semantics: the predicate restricts the
    * RESULT set only — scores, df, and avgdl remain those of the FULL
    * corpus, so a doc scores identically whether or not a filter is
    * attached (Lucene evaluates fq as a non-scoring clause). `corpus` must
    * carry the filter's columns alongside (doc_id, text). */
  def searchCorpusFiltered(corpus: DataFrame, queries: Seq[(Int, String)],
                           filter: org.apache.spark.sql.Column,
                           k: Int = 10, conjunctive: Boolean = false): DataFrame = {
    val spark = corpus.sparkSession
    val tfdl = IndexBuild.tfdlDirect(corpus)
    val scored = scoredDocs(queryFrame(spark, queries),
      tfdl, IndexBuild.dictionary(tfdl),
      IndexBuild.statsFromCorpus(corpus), conjunctive)
    rank(scored.join(corpus.where(filter).select("doc_id"), Seq("doc_id"), "left_semi"), k)
  }

  /** Solr `facet.field` over the match set: per (query, facet value) doc
    * counts — every doc matching ≥1 query term counts once. */
  def facetCounts(corpus: DataFrame, queries: Seq[(Int, String)],
                  facetCol: String): DataFrame = {
    val spark = corpus.sparkSession
    val occ = IndexBuild.termOccurrences(corpus)
    val qt = queryTerms(queryFrame(spark, queries))
    val matched = occ.join(broadcast(qt), "term")
      .select("query_id", "doc_id").distinct()
    matched.join(corpus.select(col("doc_id"), col(facetCol)), "doc_id")
      .groupBy("query_id", facetCol)
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("query_id", facetCol)
  }

  /** Passage-level BM25 with doc-level MaxP aggregation (Dai & Callan,
    * SIGIR 2019 [PUB] — the standard long-document retrieval shape:
    * score fixed-size overlapping passages, rank each document by its
    * BEST passage): the corpus chunks through
    * [[graft.ops.TextOps.chunks]] (size/stride sliding windows), BM25
    * runs over the PASSAGE corpus with passage-level df/avgdl (the
    * paper's setup), and a doc ranks by its max passage score (round-7
    * pinned; equal passages break to the EARLIEST chunk). Output carries
    * the winning chunk index and the doc's matching-passage count.
    *
    * Scale shape: chunking is map-only ((size/stride)× row growth),
    * scoring is the one standard tf ⋈ dl shuffle over passages, MaxP is
    * one more hash agg keyed (query, doc) — never a join back to the
    * corpus. Passage ids pack as doc_id·1024 + chunk_idx; a ≥ 1024-chunk
    * doc fails loudly (aliased stats would corrupt scores silently). */
  def searchMaxP(corpus: DataFrame, queries: Seq[(Int, String)],
                 chunkSize: Int, stride: Int, k: Int = 10): DataFrame = {
    val spark = corpus.sparkSession
    val pc = graft.ops.TextOps.chunks(corpus, chunkSize, stride)
      .select((col("doc_id") * 1024 +
        when(col("chunk_idx") < 1024, col("chunk_idx"))
          .otherwise(raise_error(lit("searchMaxP: >= 1024 chunks in one doc"))))
        .as("doc_id"),
        col("chunk_text").as("text"))
    val tfdl = IndexBuild.tfdlDirect(pc)
    val st = IndexBuild.statsFromCorpus(pc)
    val qt = queryTerms(queryFrame(spark, queries))
    val qd = qt.join(IndexBuild.dictionary(tfdl).select("term", "df"), "term")
    val ps = tfdl
      .join(broadcast(qd), "term")
      .withColumn("_s", Bm25.termScore(col("tf"), col("dl"), col("df"),
        lit(st.nDocs), lit(st.avgdl)))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("_s")).as("_ps"))
      .select(col("query_id"),
        floor(col("doc_id") / 1024).cast("long").as("_doc"),
        pmod(col("doc_id"), lit(1024L)).cast("int").as("_idx"),
        col("_ps"))
    val docs = ps.groupBy("query_id", "_doc")
      .agg(max(struct(round(col("_ps"), Bm25.RankScale).as("s"),
        (-col("_idx")).as("ni"))).as("_b"),
        count(lit(1)).cast("int").as("n_passages"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("_b").getField("s").desc, col("_doc").asc)
    docs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("_doc").as("doc_id"),
        round(col("_b").getField("s"), Bm25.OutScale).as("score"),
        (-col("_b").getField("ni")).cast("int").as("best_chunk_idx"),
        col("n_passages"))
      .orderBy("query_id", "rank")
  }
}
