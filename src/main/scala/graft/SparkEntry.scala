package graft

import graft.analysis.Analyzer
import graft.index.{BuildIndexJob, IndexBuild, IndexMerge, PostingBlocks}
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import graft.search.{IndexSearch, Search, Similarities}
import graft.sources.Transcripts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every implemented operator registers a named query here plus (where
  * SQL-expressible) a DuckDB oracle twin built by [[Oracle]].
  */
object SparkEntry {

  /** The pinned reference query set (FIXTURES.md §C): hot terms, the one
    * rare term ('dup', df=25 at sf0.01), multi-term OR, punctuation/case
    * (analyzer), absent terms, duplicate query terms. */
  val DisjQueries: Seq[(Int, String)] = Seq(
    1 -> "spark merge window",
    2 -> "dup",
    3 -> "batch",
    4 -> "Key-Value & FILTER!!",
    5 -> "zzzmissing",
    6 -> "group order sort limit99",
    7 -> "a a the",
    8 -> "vector stream")

  /** The line-dedup gate's injected duplicate span — exactly 10 analyzer
    * tokens so span windows stay aligned after the prepend. */
  val LineDedupSpan = "the quick brown fox jumps over the lazy dog again"

  /** 12 analyzed tokens — longer than the q_dedup_substring window k = 8,
    * so the injected prefix surfaces as ONE merged maximal span per doc
    * (5 overlapping duplicated windows → island [0, 11]). */
  val SubstrDedupSpan =
    "pack my box with five dozen liquor jugs before the auction starts"

  /** Streaming-expression gate requests — each string is parsed ONCE by
    * [[graft.search.StreamExpr]] and the same AST renders the engine
    * plan and the oracle SQL. */
  val StreamRollupExpr: String =
    """rollup(search(transcripts, q="spark merge window", fl="doc_id,role,dl", sort="doc_id asc"), over="role", count(*), sum(dl), min(dl), max(dl), avg(dl))"""
  val StreamJoinExpr: String =
    """top(innerJoin(search(transcripts, q="spark merge", fl="doc_id,conv_id,dl", sort="conv_id asc"), select(search(transcripts, q="batch", fl="doc_id,conv_id", sort="conv_id asc"), doc_id as rdoc, conv_id), on="conv_id"), n=20, sort="dl desc")"""
  val StreamUniqueExpr: String =
    """sort(leftOuterJoin(unique(search(transcripts, q="spark merge window", fl="doc_id,conv_id,dl", sort="conv_id asc"), over="conv_id"), select(search(transcripts, q="dup", fl="doc_id,conv_id", sort="conv_id asc"), doc_id as rdoc, conv_id), on="conv_id"), by="conv_id asc")"""
  val StreamFetchExpr: String =
    """fetch(transcripts, select(search(transcripts, q="vector stream", fl="doc_id,dl", sort="doc_id asc"), doc_id), fl="conv_id,role", on="doc_id")"""
  val StreamHavingExpr: String =
    """having(rollup(search(transcripts, q="spark merge window", fl="doc_id,conv_id,dl", sort="doc_id asc"), over="conv_id", count(*), sum(dl)), and(gt(n_tuples, 1), not(lt(sum_dl, 20))))"""
  val StreamReduceExpr: String =
    """reduce(search(transcripts, q="merge window batch", fl="doc_id,conv_id,role,dl", sort="doc_id asc"), by="conv_id", group(sort="dl desc", n=2))"""
  val StreamMergeExpr: String =
    """merge(search(transcripts, q="spark window", fl="doc_id,role,dl", sort="doc_id asc"), search(transcripts, q="batch vector", fl="doc_id,role,dl", sort="doc_id asc"), on="doc_id asc")"""
  val StreamIntersectExpr: String =
    """intersect(search(transcripts, q="spark merge", fl="doc_id,conv_id,dl", sort="doc_id asc"), search(transcripts, q="window batch", fl="doc_id,conv_id", sort="doc_id asc"), on="conv_id")"""
  val StreamComplementExpr: String =
    """complement(search(transcripts, q="spark merge", fl="doc_id,conv_id,dl", sort="doc_id asc"), search(transcripts, q="window batch", fl="doc_id,conv_id", sort="doc_id asc"), on="doc_id")"""
  val StreamFacetExpr: String =
    """facet(transcripts, q="spark merge window", buckets="role,tool", bucketSorts="n_tuples desc", bucketSizeLimit=5, count(*), sum(dl), avg(dl))"""
  val StreamStatsExpr: String =
    """stats(transcripts, q="spark merge window", count(*), sum(dl), min(dl), max(dl), avg(dl))"""

  /** Fielded-clause query set (Lucene `field:term` syntax composed into
    * the boolean grammar): attr musts/nots/shoulds, a fielded boost, and
    * one pure-fielded query (no text terms at all). */
  val FieldedQueries: Seq[(Int, String)] = Seq(
    1 -> "+role:user spark merge",
    2 -> "batch -tool:tool3",
    3 -> "+role:assistant +dup",
    4 -> "role:tool vector",
    5 -> "+conv_id:conv000007",
    6 -> "+role:user^2 window")

  /** Accented query set for the ASCIIFoldingFilter gate — folds onto real
    * vocabulary terms, plus one ASCII control query. */
  val FoldQueries: Seq[(Int, String)] = Seq(
    1 -> "dáta slòw",
    2 -> "fást scân mérge",
    3 -> "véctor",
    4 -> "window batch")

  /** Plural query set for the EnglishMinimalStemFilter gate — stems onto
    * real (and injected-plural) vocabulary, plus a no-stem control. */
  val StemQueries: Seq[(Int, String)] = Seq(
    1 -> "tables joins",
    2 -> "rows filters",
    3 -> "windows",
    4 -> "spark merge")

  /** Synonym equivalence classes for the q_bm25_synonyms gate: classes
    * the DisjQueries vocabulary actually hits — query 1's "merge"
    * expands, query 6 maps BOTH "order" and "sort" to one class (the
    * duplicate-class dedupe), query 8's "stream" expands. */
  val SynonymGroups: Seq[Seq[String]] = Seq(
    Seq("merge", "join", "upsert"),
    Seq("sort", "order", "rank"),
    Seq("stream", "streaming"))

  /** Conjunctive (AND) query set. */
  val ConjQueries: Seq[(Int, String)] = Seq(
    1 -> "spark merge window",
    2 -> "dup join",
    3 -> "key value filter sort group")

  /** [[ConjQueries]] spelled in the clause grammar (every term MUST) —
    * conjunctive AND is the all-must subset, so the segmented clause
    * engine serves it without a dedicated code path. */
  val ConjQueriesAsMust: Seq[(Int, String)] = ConjQueries.map {
    case (id, t) => (id, Analyzer.tokenize(t).map("+" + _).mkString(" "))
  }

  /** Boolean clause-grammar query set (`+must should -not`): must+should
    * mix, multi-must, OOV must (eliminates the query), shoulds with
    * exclusion, must-and-not of the same term (matches nothing), and
    * analyzer-in-clause. */
  val BoolQueries: Seq[(Int, String)] = Seq(
    1 -> "+spark merge window",
    2 -> "+dup +join batch",
    3 -> "+zzzmissing spark",
    4 -> "spark merge -window",
    5 -> "+batch -batch",
    6 -> "+key value -Sort!!")

  /** Phrase query set (zero-slop): real bigram/trigram phrases mined from
    * the fixture ("order fast" appears in ~10% of docs), a phrase with an
    * absent term (matches nothing), a single-term phrase (≡ the term
    * query), and a duplicated-term phrase ("order order" — adjacency of
    * the SAME term, the classic positional edge case). */
  val PhraseQueries: Seq[(Int, String)] = Seq(
    1 -> "order fast",
    2 -> "big order scan",
    3 -> "the quick zzzmissing",
    4 -> "window",
    5 -> "order order")

  /** MultiPhraseQuery set (slots of alternative terms — the query-time
    * synonym-inside-a-phrase shape): alternative unions on both slots,
    * a trigram with an alternative tail, an OOV alternative DROPPED from
    * a surviving slot, a fully-OOV slot (matches nothing), a repeated
    * term across slots, and a single-slot union (≡ a disjunction with
    * union tf). */
  val MultiPhraseQueries: Seq[(Int, Seq[Seq[String]])] = Seq(
    1 -> Seq(Seq("order", "big"), Seq("fast", "order")),
    2 -> Seq(Seq("big"), Seq("order"), Seq("scan", "fast")),
    3 -> Seq(Seq("the", "zzzmissing"), Seq("quick")),
    4 -> Seq(Seq("zzzmissing"), Seq("window")),
    5 -> Seq(Seq("order"), Seq("order", "fast")),
    6 -> Seq(Seq("window", "batch")))

  /** Unordered-interval query set (Lucene Intervals.unordered, maxgaps =
    * 2): order-free bigrams (matches "fast order" where the ordered
    * phrase would not), a gapped pair, a 3-term co-occurrence window, an
    * OOV self-elimination, and a single-term degenerate (≡ the term
    * query's match set). */
  val IntervalQueries: Seq[(Int, String)] = Seq(
    1 -> "order fast",
    2 -> "big scan",
    3 -> "spark merge window",
    4 -> "dup zzzmissing",
    5 -> "vector")

  /** match_phrase_prefix query set (last token = prefix stem): a fat
    * final-slot expansion (s* → scan/slow/small/sort/spark/stream), a
    * single-expansion stem (≡ the exact phrase), a dead stem (matches
    * nothing), a bare stem (single-slot union), and an analyzer-split
    * clause ("key-va" → fixed 'key' + stem 'va' → value/vector). */
  val PhrasePrefixQueries: Seq[(Int, String)] = Seq(
    1 -> "big s",
    2 -> "order fa",
    3 -> "the zz",
    4 -> "s",
    5 -> "key-va")

  /** Proximity query set (ordered window, slop = [[PhraseSlop]]): a gapped
    * bigram ("big … scan" via "big order scan"), an exact phrase that
    * also matches under slop, OOV, and a duplicated term. */
  val PhraseSlopQueries: Seq[(Int, String)] = Seq(
    1 -> "big scan",
    2 -> "order fast",
    3 -> "the zzzmissing",
    4 -> "order order")
  val PhraseSlop = 2

  /** Boolean-NOT query set (Solr `q=a -b`): exclusion, multi-clause,
    * pure-negative (matches nothing), self-cancel, absent negative
    * (no-op), and analyzer-in-clause (`-Key-Value` excludes two terms). */
  val NotQueries: Seq[(Int, String)] = Seq(
    1 -> "spark -merge",
    2 -> "batch window -dup",
    3 -> "-dup",
    4 -> "dup -dup",
    5 -> "group -zzzmissing",
    6 -> "sort -Key-Value!")

  /** Boolean grammar WITH quoted phrases (`+"a b" c -d` — the most common
    * real Solr query shape): must-phrase + should term, should-phrase +
    * not term, must-phrase + not-phrase, OOV must-phrase (eliminates the
    * query), must term + duplicated-term should phrase, single-token
    * phrase (degrades to a term clause), and a pure-negative phrase
    * (matches nothing). */
  val BoolPhraseQueries: Seq[(Int, String)] = Seq(
    1 -> "+\"order fast\" spark",
    2 -> "\"big order scan\" -dup",
    3 -> "+\"order fast\" -\"big order scan\"",
    4 -> "+\"the zzzmissing\" batch",
    5 -> "+merge \"order order\"",
    6 -> "\"window\" value",
    7 -> "-\"order fast\"")

  /** Prefix query set (`te*`-style MultiTermQuery): a fat expansion
    * (s* → scan/slow/small/sort/spark/stream), expansion + literal rare
    * term, a prefix matching nothing, analyzer-in-stem (uppercase), a
    * multi-token stem ("key-va*" → term 'key' + prefix 'va'), and two
    * prefixes in one query. */
  val PrefixQueries: Seq[(Int, String)] = Seq(
    1 -> "s*",
    2 -> "qu* dup",
    3 -> "zz*",
    4 -> "c* merge",
    5 -> "VAL*",
    6 -> "key-va*",
    7 -> "b* gr*")

  /** Wildcard query set (Lucene WildcardQuery: '*' any run, '?' one
    * char): single-char wildcard, inner star, LEADING star (the full-scan
    * caveat case), wildcard + literal term mix, a pattern matching
    * nothing, a multi-star multi-match (s*m* → small/stream), case
    * normalization, and the bare '?' (single-letter terms). */
  val WildcardQueries: Seq[(Int, String)] = Seq(
    1 -> "s?an",
    2 -> "me*e",
    3 -> "*dow",
    4 -> "b?tch dup",
    5 -> "zz?missing",
    6 -> "s*m*",
    7 -> "W?NDOW",
    8 -> "?")

  /** Regexp query set (Lucene RegexpQuery `/re/`, whole-term anchored,
    * portable Java∩RE2 subset): alternation, suffix match via `.*`, a
    * regexp + literal term mix, a character class, and a pattern
    * matching nothing. */
  val RegexpQueries: Seq[(Int, String)] = Seq(
    1 -> "/s(can|ort)/",
    2 -> "/.*dow/",
    3 -> "batch /qu.+/",
    4 -> "/[bd]ig/",
    5 -> "/zz+x/")

  /** Fuzzy query set (Lucene FuzzyQuery, plain-Levenshtein pinning — see
    * [[graft.search.MultiTerm]]): one-edit hit, self-match, default ~ (=2
    * edits), exact-only ~0 (TermQuery degenerate), a stem matching
    * nothing, analyzer case-fold on the stem, a multi-term expansion
    * (sort~2 → sort + part), and fuzzy + literal mix. */
  val FuzzyQueries: Seq[(Int, String)] = Seq(
    1 -> "merqe~1",
    2 -> "spark~1",
    3 -> "windoq~",
    4 -> "dup~0",
    5 -> "zzqq~1",
    6 -> "ORDER~1",
    7 -> "sort~2",
    8 -> "batch~2 merge")

  /** Lucene TermRangeQuery set ([[graft.search.MultiTerm.searchTermRange]]):
    * inclusive `[lo TO hi]`, exclusive `{lo TO hi}`, half-open mix,
    * a range + literal-term mix, a single-letter-bounded range, an empty
    * (reversed) range, and a range matching nothing. */
  val TermRangeQueries: Seq[(Int, String)] = Seq(
    1 -> "[batch TO data]",
    2 -> "[query TO sort] dup",
    3 -> "{batch TO data}",
    4 -> "[s TO t]",
    5 -> "[merge TO hash]",
    6 -> "{zz TO zzz]")

  /** Lucene CommonTermsQuery set (cutoff 0.5·N — 'dup' is the only
    * low-df corpus term): low+high mix, all-high fallback disjunction,
    * pure low, OOV + high fallback, wide mix. */
  val CommonTermsQueries: Seq[(Int, String)] = Seq(
    1 -> "dup the query",
    2 -> "merge window",
    3 -> "dup",
    4 -> "zzmissing the",
    5 -> "dup slow sort batch")

  /** group.query set: a rare-term group, a disjunctive group, and a
    * no-match group (absent from the response — numFound 0 is
    * driver-known absence). */
  val GroupQueries: Seq[(String, String)] = Seq(
    "has_dup" -> "dup",
    "merge_or_window" -> "merge window",
    "nada" -> "zzmissing")

  /** Nested boolean requests ([[graft.search.NestedBool]]): parenthesized
    * OR-of-AND / AND-of-OR shapes, NOT under AND, adjacency-OR default, a
    * dead AND branch rescued by OR, a pure-negative query (matches
    * nothing), and a multi-group conjunction with a trailing exclusion. */
  val NestedQueries: Seq[(Int, String)] = Seq(
    1 -> "(merge OR window) AND batch",
    2 -> "merge AND NOT error",
    3 -> "(merge window) batch",
    4 -> "(merge AND zzznope) OR window",
    5 -> "NOT merge",
    6 -> "(merge OR window) AND (batch OR stream) -error")

  /** Phonetic (sounds-like) requests: misspellings that share the pinned
    * soundex code with corpus vocabulary (mirge→merge, windoe→window,
    * stremm→stream), a self-match, a code matching nothing, and a
    * case-folded respelling. */
  val PhoneticQueries: Seq[(Int, String)] = Seq(
    1 -> "mirge",
    2 -> "windoe batch",
    3 -> "dedup stremm",
    4 -> "zzzxqv",
    5 -> "QWERY")

  /** SpanFirst requests: (query_id, term, end) — the term must occur in
    * the doc's first `end` tokens. Ends chosen so the position filter
    * bites (end=1 keeps only doc-initial occurrences). */
  val SpanFirstQueries: Seq[(Int, String, Int)] = Seq(
    (1, "merge", 3),
    (2, "window", 5),
    (3, "batch", 1),
    (4, "stream", 2),
    (5, "zzzqqnope", 4))

  /** facet.query request: (name, Spark predicate, SQL twin) triples over
    * the stored doc attributes — defined once so the engine and the
    * oracle cannot drift. */
  val FacetQueryDefs: Seq[(String, org.apache.spark.sql.Column, String)] = Seq(
    ("assistant_docs", col("role") === "assistant", "role = 'assistant'"),
    ("early_turns", col("turn_idx") <= 1, "turn_idx <= 1"),
    ("long_docs", col("dl") >= 60, "dl >= 60"),
    ("tool_turns", col("tool").isNotNull, "tool IS NOT NULL"))

  /** facet.interval sets over dl: closed, half-open, OVERLAPPING (a doc
    * counts in both), open-ended, and an always-empty band (dl >= 1) —
    * the bracket-semantics corners plus the zero-filled spine pin. */
  val IntervalSets: Seq[graft.search.Facets.Interval] =
    Seq("[0,29]", "(29,59]", "[50,90)", "(90,*]", "[*,0)")
      .map(graft.search.Facets.Interval.parse)

  /** Multi-select faceting request: two tagged fqs; the role facet
    * excludes the role filter (Solr `facet.field={!ex=rolef}role`), the
    * tool facet applies both. Column + SQL predicate forms side by side,
    * the [[FacetQueryDefs]] pattern. */
  val MultiSelectFilters: Seq[(String, org.apache.spark.sql.Column, String)] =
    Seq(("rolef", col("role") === "user", "role = 'user'"),
      ("dlf", col("dl") >= 30, "dl >= 30"))
  val MultiSelectFacets: Seq[(String, Set[String])] =
    Seq(("role", Set("rolef")), ("tool", Set.empty[String]))

  /** Suggester request set: common stem, a fat single-letter prefix, a
    * longer stem, a prefix matching nothing, case normalization, and a
    * digit-bearing prefix. */
  val SuggestPrefixes: Seq[(Int, String)] = Seq(
    1 -> "me",
    2 -> "s",
    3 -> "win",
    4 -> "zzzzqq",
    5 -> "DU",
    6 -> "ba")

  /** Boolean grammar × MultiTermQuery composition (`+te*t b* -roam~1`):
    * must/should/not wildcard and fuzzy GROUP clauses mixed with plain
    * terms — incl. an empty must expansion (query 5: nothing in the
    * dictionary matches, so Lucene MUST semantics eliminate the query). */
  val MultiTermBoolQueries: Seq[(Int, String)] = Seq(
    1 -> "+me*e dup",
    2 -> "+batch -wind*",
    3 -> "+merqe~1 stream",
    4 -> "s?an +dup",
    5 -> "+zzqx* batch",
    6 -> "b* -batch",
    7 -> "+windoq~ +dup",
    8 -> "merge~1 -batch s*m*")

  /** Minimum-should-match query set (Solr edismax `mm=2`): pure shoulds
    * where mm tightens the match set, must + shoulds (docs matching only
    * the must drop out), an OOV should (counts as a clause but never
    * matches — both live shoulds become required), a single should
    * (mm > |should| ⇒ matches nothing, Lucene parity), and a must-only
    * query (zero shoulds ⇒ nothing under mm > 0). */
  val MmQueries: Seq[(Int, String)] = Seq(
    1 -> "spark merge window",
    2 -> "+dup batch join",
    3 -> "order fast scan big",
    4 -> "spark zzzmissing merge",
    5 -> "batch",
    6 -> "+dup")
  val MmCount = 2

  /** edismax pf (phrase-boost) query set: a real fixture phrase ("order
    * fast", ~10% of docs — exact-phrase docs outrank bag-of-words docs),
    * a trigram phrase, a term pair that rarely sits adjacent, a
    * single-token query (pf no-op, ≡ plain search), and a query whose
    * phrase is dead but whose live term still scores. */
  val PfQueries: Seq[(Int, String)] = Seq(
    1 -> "order fast",
    2 -> "big order scan",
    3 -> "spark merge",
    4 -> "batch",
    5 -> "the zzzmissing")

  /** Lucene `^boost` clause-boost query set (terms only — the inline
    * engine twin): should boost reordering, must boost (match set
    * unchanged, scores scaled), fractional down-boost with an exclusion,
    * boost on a must with analyzer-in-clause, and the same term listed
    * twice with different boosts (dedupes to MAX, the pinned rule). */
  val ClauseBoostQueries: Seq[(Int, String)] = Seq(
    1 -> "spark^2 merge window",
    2 -> "+dup^3 batch",
    3 -> "spark^0.5 merge -window",
    4 -> "+Key-Value!^2 sort",
    5 -> "batch^2 batch")

  /** Boosted quoted phrases in the boolean grammar (`+"a b"^2 c^0.5`):
    * must-phrase boost + plain should, fractional should-phrase boost
    * with an exclusion, and term boost × phrase boost in one query. */
  val BoolPhraseBoostQueries: Seq[(Int, String)] = Seq(
    1 -> "+\"order fast\"^2 spark",
    2 -> "\"big order scan\"^0.5 -dup",
    3 -> "+merge^2 \"order order\"^3")

  /** The `bf=` function-query STRING a Solr user types — parsed by
    * [[graft.search.FunctionQuery]] into one AST that renders both the
    * engine Column and the oracle SQL. */
  val BoostFnString = "sum(recip(dl,1,100,10),product(0.05,sqrt(dl)))"

  /** The `sort=` function-query string (brevity sort: shortest docs
    * first via the recip, doc_id tie-break). */
  val SortFnString = "recip(dl,1,100,10)"

  /** The `bq=` boost-query string: a boosted term + a rare term — docs in
    * the main match set that also contain them gain their BM25. */
  val BqString = "batch^2 dup"

  /** ReRank query (`rq={!rerank reRankQuery=…}`): a boosted disjunction
    * over common fixture terms so the top-5 head actually reshuffles. */
  val RerankString = "window^2 stream"

  /** Stratified-sampling per-mille rates by language (English-heavy
    * corpus rebalance: en downsampled hard, zh kept whole, default 60%). */
  val SampleRates: Map[String, Int] = Map("en" -> 300, "zh" -> 1000)

  /** RealTimeGet key set: found keys across roles/turns (doc_ids 5, 11,
    * 40 — all < 500, present at every sf) plus a key that does not exist
    * (omitted from the response, Solr parity). */
  val GetKeys: Seq[(String, Int)] = Seq(
    ("conv000001", 1),
    ("conv000002", 3),
    ("conv000010", 0),
    ("convzzzzzz", 0))

  /** LTR LinearModel weights (the Solr ltr model-store shape) over the
    * [[graft.search.IndexSearch.ltrFeatures]] vector: coverage and idf
    * dominate, dl penalized — a model that genuinely permutes the BM25
    * candidate window instead of echoing it. */
  val LtrWeights: Seq[(String, Double)] = Seq(
    "f_tf_sum" -> 0.05, "f_matched" -> 0.4, "f_coverage" -> 1.5,
    "f_idf_max" -> 0.7, "f_dl" -> -0.01, "f_is_user" -> 0.25)

  /** Percolator registry: a plain alert, a conjunction, a must+exclusion,
    * a disjunction, a pure-negative, and a can-never-match query. */
  val PercolateQueries: Seq[(String, String)] = Seq(
    "alert_dup" -> "dup",
    "merge_and_window" -> "+merge +window",
    "spark_not_slow" -> "+spark -slow",
    "vec_or_query" -> "vector query",
    "no_dup" -> "-dup",
    "never" -> "+merge +zzmissing")

  /** Uncommitted tlog tail for the realtime-get gate: an update to a
    * committed GetKeys doc plus one brand-new uncommitted add. */
  val RtgPending: Seq[(String, Int, String, String, String)] = Seq(
    ("conv000001", 1, "assistant", "tool9",
      "pending updated answer with fresh tokens"),
    ("convpend01", 0, "user", "", "a brand new uncommitted question"))

  /** Realtime-get key set: the committed GetKeys plus the pending-only
    * add (visible through the tlog despite never being committed). */
  val RtgKeys: Seq[(String, Int)] = GetKeys :+ (("convpend01", 0))

  /** MoreLikeThis seed requests: (request id, seed doc_id). Seeds span
    * roles/turn positions (dense transcript doc ids — all < 500, present
    * at every sf); request 4's seed pairs with request 1's conversation
    * so overlapping neighborhoods are exercised. */
  val MltSeeds: Seq[(Int, Long)] = Seq(
    1 -> 0L,
    2 -> 5L,
    3 -> 42L,
    4 -> 123L)

  /** Spellcheck requests: one-edit misspellings, a correctly-spelled
    * token (no rows), a mixed request (only the misspelled token
    * suggests), an unfixable token (distance > 2 from everything), and a
    * case-folded misspelling. */
  val SpellRequests: Seq[(Int, String)] = Seq(
    1 -> "mergw",
    2 -> "windoq batch",
    3 -> "spark",
    4 -> "zzzzzzqqq",
    5 -> "SPARQ",
    6 -> "erorr qeury")

  /** terms.regex request set: anchored prefix, suffix, character class,
    * a matches-nothing pattern, and an alternation — all inside the
    * Java≡RE2 portable subset the engine pins. */
  val RegexRequests: Seq[(Int, String)] = Seq(
    1 -> "^merg",
    2 -> "tion$",
    3 -> "^ba[tr]",
    4 -> "^zzz9",
    5 -> "dup|win")

  /** Query elevation table: query 1 pins two docs in curated order,
    * query 2 pins one, query 5 (the zero-match query) force-elevates a
    * doc the query never matched (NULL score path); other queries run
    * purely organic. */
  val ElevationTable: Map[Int, Seq[Long]] = Map(
    1 -> Seq(5L, 3L),
    2 -> Seq(0L),
    5 -> Seq(7L))

  /** JSON Facet API request fixture (`json.facet`): roles terms facet
    * (limit 2 — the limit must bite) carrying sum/avg/unique metrics,
    * with a nested tools subfacet (limit 2 per kept role). ONE metric
    * ADT instance renders both the engine aggregation and the oracle
    * SQL ([[graft.search.Facets.JsonMetric]]). */
  val JsonFacetMetrics: Seq[graft.search.Facets.JsonMetric] = Seq(
    graft.search.Facets.MetricSum("sum_dl", "dl"),
    graft.search.Facets.MetricAvg("avg_dl", "dl"),
    graft.search.Facets.MetricUnique("uniq_tool", "tool"),
    graft.search.Facets.MetricMax("max_turn", "turn_idx"))

  /** Decouple scan-side parallelism from the input's file/row-group
    * layout (guide §2.5 input skew): the testdata corpora ship as ONE
    * parquet row group per file, so every per-doc transform downstream of
    * a bare scan (tokenize, shingle, md5 hashing, vector math) would
    * otherwise execute in a single task — and a `.cache()` of it would
    * pin that single partition for the whole operator. One cheap
    * round-robin exchange of the (small relative to the work) corpus rows
    * spreads the map-side compute across the session's parallelism; the
    * partition count follows `defaultParallelism`, never a constant. */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  private def documents(s: SparkSession, dir: String): DataFrame =
    spread(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"))

  /** Embeddings corpus with the same scan-spread rationale: brute-force /
    * PQ / k-means passes are dense float math per row — a one-row-group
    * file serializes them without this. */
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    spread(s.read.parquet(s"$dir/embeddings.parquet"))

  /** Transcripts corpus with dense doc ids (the full build-side path:
    * ingest guard → scalable doc-id assignment), MATERIALIZED once per
    * sfDir per JVM: four gates consume it, and assignDocIds stages a
    * keys-only parquet per invocation — memoizing saves three redundant
    * staging writes per Verify/Bench run (round-2 advice). */
  private val corpusRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def transcriptCorpusAttrs(s: SparkSession, dir: String): DataFrame = {
    val path = corpusRoots.computeIfAbsent(dir, _ => {
      val p = TempDirs.create("graft_corpus")
      IndexBuild.assignDocIds(IndexBuild.ingest(Transcripts.fromDocuments(s, dir)))
        .select("doc_id", "text", "role")
        .write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path)
  }

  private def transcriptCorpus(s: SparkSession, dir: String): DataFrame =
    transcriptCorpusAttrs(s, dir).select("doc_id", "text")

  /** Memoized persisted index over the transcripts derived from `dir` —
    * built once per sfDir per JVM so Verify's index-path queries share it. */
  private val builtIndexes = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def indexFor(s: SparkSession, dir: String): IndexSearch.OpenIndex =
    openCached(s, builtIndexes.computeIfAbsent(dir, _ => {
      val r = TempDirs.create("graft_vidx")
      // positions ON: the shared index also serves the phrase gate; every
      // non-phrase path ignores the extra stream (parquet column pruning)
      BuildIndexJob.run(s, Transcripts.fromDocuments(s, dir), r, s"verify-$dir",
        BuildIndexJob.Config(numShards = 8, storePositions = true))
      r
    }))

  /** Memoized [[IndexSearch.open]] per immutable index root: open() pays a
    * stats head() job, and every gate lambda re-opened its (already
    * memoized, never-mutated) fixture root per invocation — ~1 wasted
    * Spark job per index-backed gate. Cleared with the other memos. */
  private val openedIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, IndexSearch.OpenIndex]()
  private def openCached(s: SparkSession, root: String): IndexSearch.OpenIndex =
    openedIndexes.computeIfAbsent(root, r => IndexSearch.open(s, r))

  /** Force the memoized per-sfDir index build. Bench calls this before its
    * timed query loop so the one-time build cost lands on its own line
    * instead of whichever index query happens to run first. */
  def prepareIndex(s: SparkSession, dir: String): Unit = { indexFor(s, dir); () }

  /** Force the memoized transcript-corpus materialization (same
    * attribution rationale as [[prepareIndex]]). */
  def prepareCorpus(s: SparkSession, dir: String): Unit =
    { transcriptCorpusAttrs(s, dir); () }

  /** Force the memoized streamed segmented index (three Structured
    * Streaming micro-batches — the most expensive one-time fixture).
    * Bench runs this on its own line so whichever segmented gate happens
    * to execute first doesn't absorb the build cost into its per-query
    * time. */
  def prepareStream(s: SparkSession, dir: String): Unit =
    { streamedIndex(s, dir); () }

  /** Drop every per-JVM memoized corpus/index root: Bench's load-flagged
    * auto-rerun needs a TRUE fresh rep — with the memos still warm, the
    * prepare/merge/stream lines of the rerun would report near-zero and
    * per-query attribution would be incomparable to a cold run. The
    * underlying temp dirs stay on disk until JVM exit (TempDirs owns
    * cleanup); re-running just rebuilds into fresh ones. */
  def resetMemos(): Unit = {
    corpusRoots.clear(); builtIndexes.clear(); mergeOldRoots.clear()
    mergedRoots.clear(); streamRoots.clear(); compactRoots.clear()
    fieldIndexRoots.clear(); dbqRoots.clear(); updatedRoots.clear()
    tieredRoots.clear(); aliasRoots.clear(); sortedRoots.clear()
    openedIndexes.clear()
  }

  /** Alias fixture: TWO collections over disjoint corpus halves (the
    * time-partitioned-collections shape a Solr alias fronts). Alias
    * search with exact global stats must equal full-corpus BM25. */
  private val aliasRoots =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private def aliasIndexes(s: SparkSession, dir: String): Seq[IndexSearch.OpenIndex] =
    aliasRoots.computeIfAbsent(dir, _ => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val n = d.count()
      // the two collections are fully independent builds over disjoint
      // halves — build them concurrently (guide §2.6: each build's idle
      // scheduler gaps back-fill with the other's tasks)
      parallelFixtures(Seq(("lo", col("doc_id") < n / 2),
        ("hi", col("doc_id") >= n / 2)).map { case (tag, p) => () => {
          val r = TempDirs.create(s"graft_alias_$tag")
          BuildIndexJob.run(s, Transcripts.fromDocumentsDf(d.where(p)), r,
            s"alias-$tag", BuildIndexJob.Config(numShards = 8))
          r
        }
      })
    }).map(openCached(s, _))

  /** Run independent fixture-build thunks concurrently, preserving order
    * of results. Bounded at 2–4 threads — enough to back-fill scheduler
    * gaps, not enough to thrash the session (guide §2.6). */
  private def parallelFixtures[T](thunks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(2, math.min(4, thunks.size)))
    try thunks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
        override def call(): T = t()
      })).map(_.get())
    finally pool.shutdown()
  }

  /** Index-sorted bucket family (Lucene setIndexSort analog) over the
    * transcripts, built once per sf dir. */
  private val sortedRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sortedDocsFor(s: SparkSession, dir: String): String =
    sortedRoots.computeIfAbsent(dir, _ => {
      val r = TempDirs.create("graft_sorted")
      graft.index.SortedDocs.write(s, Transcripts.fromDocuments(s, dir), r,
        numBuckets = 8)
      r
    })

  /** Merge-gate inputs (U1/U2/J4): old index over docs < 4n/5; new batch =
    * docs ≥ 3n/4 with " upserted" appended inside the overlap window
    * [3n/4, 4n/5); tombstones = keys of docs ≡ 0 (mod 97). The DuckDB twin
    * mirrors the same arithmetic ([[Oracle.mergedTranscriptsCorpus]]), so
    * the merged index's BM25 answers are oracle-checkable end to end. */
  private val mergeOldRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val mergedRoots = new java.util.concurrent.ConcurrentHashMap[(String, Boolean), String]()
  private def mergedIndex(s: SparkSession, dir: String, tombstoned: Boolean): String =
    // memoized per (dir, tombstoned): repeated Verify/Bench runs in one JVM
    // previously re-paid the full merge per invocation (round-2 advice)
    mergedRoots.computeIfAbsent((dir, tombstoned), _ => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val n = d.count()
      val oldRoot = mergeOldRoots.computeIfAbsent(dir, _ => {
        val r = TempDirs.create("graft_mold")
        BuildIndexJob.run(s,
          Transcripts.fromDocumentsDf(d.where(col("doc_id") < n * 4 / 5)),
          r, "merge-old", BuildIndexJob.Config(numShards = 8))
        r
      })
      val newBatch = Transcripts.fromDocumentsDf(
        d.where(col("doc_id") >= n * 3 / 4)
          .withColumn("text",
            when(col("doc_id") < n * 4 / 5, concat(col("text"), lit(" upserted")))
              .otherwise(col("text"))))
      import s.implicits._
      val tombstones =
        if (!tombstoned) Seq.empty[(String, Int)].toDF("conv_id", "turn_idx")
        else Transcripts.fromDocumentsDf(d.where(pmod(col("doc_id"), lit(97)) === 0))
          .select("conv_id", "turn_idx")
      val newRoot = TempDirs.create("graft_mnew")
      IndexMerge.run(s, oldRoot, newBatch, tombstones, newRoot, "merge-gate",
        BuildIndexJob.Config(numShards = 8))
      newRoot
    })

  /** Streamed segmented index over the sfDir transcripts: three disjoint
    * doc-id thirds land as flat parquet files, Structured Streaming
    * (AvailableNow, one file per micro-batch) appends each as a segment.
    * Memoized per sfDir — the union equals the full transcripts corpus,
    * so the DuckDB twin is plain BM25 over it (keys-shaped output). */
  private val streamRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def streamedIndex(s: SparkSession, dir: String): String =
    streamRoots.computeIfAbsent(dir, _ => {
      def tmp(p: String) = TempDirs.create(p)
      val d = s.read.parquet(s"$dir/documents.parquet")
      val n = d.count()
      val in = tmp("graft_sin")
      Seq((0L, n / 3), (n / 3, 2 * n / 3), (2 * n / 3, n + 1)).zipWithIndex
        .foreach { case ((lo, hi), i) =>
          graft.sources.Fs.writeFlatParquet(
            Transcripts.fromDocumentsDf(
              d.where(col("doc_id") >= lo && col("doc_id") < hi)),
            s"$in/batch$i.parquet")
        }
      val root = tmp("graft_sroot")
      // positions ON: the one streamed fixture also serves the segmented
      // phrase gate; non-phrase segmented paths never read the extra
      // stream (parquet column pruning)
      val q = graft.streaming.StreamingIngest.start(s, in, root, tmp("graft_sckpt"),
        BuildIndexJob.Config(numShards = 8, storePositions = true))
      q.awaitTermination()
      root
    })

  /** The streamed fixture as a live view. */
  private def streamedView(s: SparkSession, dir: String): IndexSearch.View =
    graft.index.SegmentedIndex.open(s, streamedIndex(s, dir),
      BuildIndexJob.Config(numShards = 8))

  /** Memoized tiered-merge fixture: six equal doc_id slices appended as
    * segments seg0..seg5 (one snapshot per commit — v1..v6), then a 7th
    * append that UPSERTS docs ≡ 0 (mod 50) with " upserted" appended and
    * DELETES docs ≡ 0 (mod 97) (kills land in every original segment),
    * then [[graft.index.SegmentedIndex.tieredCompact]] with
    * segsPerTier=3/maxMergeAtOnce=3 — the six same-tier segments merge in
    * adjacent runs, exercising the tombstone-ordinal remap and the
    * consolidated df-delta rewrite on the WAND path. The pre-merge
    * snapshots stay readable (`root@v3` = first three slices). */
  private val tieredRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def tieredIndex(s: SparkSession, dir: String): String =
    tieredRoots.computeIfAbsent(dir, _ => {
      import s.implicits._
      val cfg = BuildIndexJob.Config(numShards = 8)
      val root = TempDirs.create("graft_tier")
      val d = s.read.parquet(s"$dir/documents.parquet")
      val n = d.count()
      val noDeletes = Seq.empty[(String, Int)].toDF("conv_id", "turn_idx")
      val slices = (0 until 6).map { i =>
        val lo = i * n / 6
        val hi = if (i == 5) n + 1 else (i + 1) * n / 6
        (s"seg$i",
          Transcripts.fromDocumentsDf(
            d.where(col("doc_id") >= lo && col("doc_id") < hi)),
          noDeletes)
      }
      val upserts = Transcripts.fromDocumentsDf(
        d.where(col("doc_id") % 50 === 0 && col("doc_id") % 97 =!= 0)
          .withColumn("text", concat(col("text"), lit(" upserted"))))
      val delKeys = Transcripts.fromDocumentsDf(d.where(col("doc_id") % 97 === 0))
        .select("conv_id", "turn_idx")
      // appendAll: concurrent segment builds, sequential commits — the
      // on-disk result (per-snapshot manifests included) is identical to
      // the seven sequential appends this fixture previously ran
      graft.index.SegmentedIndex.appendAll(s, root,
        slices :+ (("seg6", upserts, delKeys)), cfg)
      graft.index.SegmentedIndex.tieredCompact(s, root,
        segsPerTier = 3, maxMergeAtOnce = 3, cfg = cfg)
      root
    })

  /** Memoized deleteByQuery fixture: a two-segment appended index over
    * the sfDir transcripts (halves by doc_id), then
    * `deleteByQuery("dup")` tombstones every live doc containing the
    * rare term. The oracle is BM25 over the SURVIVING corpus (rebuild
    * semantics: df/N/avgdl all shrink — unlike fq). */
  private val dbqRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def dbqIndex(s: SparkSession, dir: String): String =
    dbqRoots.computeIfAbsent(dir, _ => {
      import s.implicits._
      val cfg = BuildIndexJob.Config(numShards = 8)
      val root = TempDirs.create("graft_dbq")
      val d = s.read.parquet(s"$dir/documents.parquet")
      val n = d.count()
      val noDeletes = Seq.empty[(String, Int)].toDF("conv_id", "turn_idx")
      graft.index.SegmentedIndex.appendAll(s, root, Seq(
        ("seg0",
          Transcripts.fromDocumentsDf(d.where(col("doc_id") < n / 2)),
          noDeletes),
        ("seg1",
          Transcripts.fromDocumentsDf(d.where(col("doc_id") >= n / 2)),
          noDeletes)), cfg)
      graft.index.SegmentedIndex.deleteByQuery(s, root, "dup", "dbq0", cfg)
      root
    })

  /** Atomic-update fixture: Solr `{"set":…}` modifiers on two stored
    * attributes of keys the RealTimeGet gate also reads — applied via
    * read-modify-upsert merge ([[graft.index.IndexMerge.atomicSet]]). */
  val AtomicSets: Seq[((String, Int), Map[String, String])] = Seq(
    ("conv000001", 1) -> Map("tool" -> "patched"),
    ("conv000010", 0) -> Map("role" -> "auditor"))
  private val updatedRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def updatedIndex(s: SparkSession, dir: String): String =
    updatedRoots.computeIfAbsent(dir, _ => {
      val out = TempDirs.create("graft_upd")
      // storePositions matches the shared verify index it merges from
      graft.index.IndexMerge.atomicSet(s, indexFor(s, dir).paths.root,
        AtomicSets, out, s"atomic-$dir",
        BuildIndexJob.Config(numShards = 8, storePositions = true))
      out
    })

  /** Memoized per-field persisted indexes over the sfDir transcripts
    * (multi-field-over-indexes gate): title = first 5 analyzed tokens,
    * body = full text. The title text gets a trailing space pad so a
    * token-less doc still passes the ingest non-empty guard — every row
    * survives in BOTH field indexes and the shared (conv_id, turn_idx)
    * key order assigns THE SAME dense doc ids, which the cross-field
    * score join relies on. */
  private val fieldIndexRoots =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private def fieldIndexFor(s: SparkSession, dir: String,
                            field: String): IndexSearch.OpenIndex = {
    val root = fieldIndexRoots.computeIfAbsent((dir, field), _ => {
      val r = TempDirs.create(s"graft_f$field")
      val t = Transcripts.fromDocuments(s, dir)
      // the title pad applies ONLY to rows that pass the ingest guard:
      // rows the body index drops (null/empty text) must keep their
      // original failing text so BOTH field indexes drop the same row
      // set and the shared key order assigns identical dense doc ids
      val fielded =
        if (field == "body") t
        else t.withColumn("text",
          when(col("text").isNotNull && length(col("text")) > 0,
            concat(array_join(slice(Analyzer.tokens(col("text")), 1, 5), " "),
              lit(" ")))
            .otherwise(col("text")))
      BuildIndexJob.run(s, fielded, r, s"field-$field-$dir",
        BuildIndexJob.Config(numShards = 8))
      r
    })
    openCached(s, root)
  }

  /** Posting-assembly round-trip: build encoded blocks with the given
    * assembler, decode them back, return the scoring relation — oracle =
    * plain (term, doc_id, tf, dl) SQL, so the codec+assembly path is
    * hash-gated, not just property-tested. */
  private def postingsRoundtrip(s: SparkSession, dir: String)(
      build: (DataFrame, DataFrame, IndexBuild.Stats) => DataFrame): DataFrame = {
    val corpus = documents(s, dir)
    val tfdl = IndexBuild.tfdlDirect(corpus)
    val blocks = build(tfdl, IndexBuild.dictionary(tfdl),
      IndexBuild.statsFromCorpus(corpus))
    PostingBlocks.decodePostings(blocks)
      .select("term", "doc_id", "tf", "dl").orderBy("term", "doc_id")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full pipeline — build persisted index, block-max WAND top-10. */
  def entry(spark: SparkSession): DataFrame =
    IndexSearch.searchWand(indexFor(spark, "/root/testdata/sf0.001"), DisjQueries)

  private val compactRoots = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1–A4: analyzer + doc length over the documents fixture
    "q_doc_dl" -> ((s, dir) => {
      val occ = IndexBuild.termOccurrences(documents(s, dir))
      IndexBuild.docLengths(occ).orderBy("doc_id")
    }),
    // G1: term frequencies
    "q_term_tf" -> ((s, dir) => {
      IndexBuild.termFrequencies(IndexBuild.termOccurrences(documents(s, dir)))
        .orderBy("term", "doc_id")
    }),
    // G2: dictionary (exact df/cf)
    "q_dictionary" -> ((s, dir) => {
      IndexBuild.dictionary(IndexBuild.termFrequencies(
        IndexBuild.termOccurrences(documents(s, dir)))).orderBy("term")
    }),
    // G3: collection stats
    "q_stats" -> ((s, dir) => {
      val dl = IndexBuild.docLengths(IndexBuild.termOccurrences(documents(s, dir)))
      dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl").cast("long")).as("total_tokens"),
        round(avg(col("dl")), 6).as("avgdl"))
    }),
    // E3+W1: exhaustive BM25 top-10, disjunctive
    "q_bm25_top10" -> ((s, dir) =>
      Search.searchCorpus(documents(s, dir), DisjQueries)),
    // J3: conjunctive AND top-10
    "q_bm25_conj" -> ((s, dir) =>
      Search.searchCorpus(documents(s, dir), ConjQueries, conjunctive = true)),
    // A-family: ASCIIFoldingFilter as a charFilter — deterministic accent
    // injection (docs ≡ 0 mod 5), folded corpus + parse-time-folded
    // accented queries land on the base vocabulary
    "q_bm25_folded" -> ((s, dir) =>
      Search.searchCorpus(
        documents(s, dir).withColumn("text", Analyzer.foldAscii(
          when(col("doc_id") % 5 === 0,
            translate(col("text"), "aeio", "áéíó")).otherwise(col("text")))),
        FoldQueries.map { case (id, q) => id -> Analyzer.foldAsciiString(q) })),
    // A-family: EnglishMinimalStemFilter as a tokenFilter — injected
    // plurals (docs ≡ 0 mod 2) and plural queries stem onto one term space
    "q_bm25_stemmed" -> ((s, dir) =>
      Search.searchCorpus(
        documents(s, dir).withColumn("text", Analyzer.stemmedText(
          when(col("doc_id") % 2 === 0, regexp_replace(col("text"),
            "\\b(table|join|row|filter)\\b", "$1s")).otherwise(col("text")))),
        StemQueries.map { case (id, q) => id -> Analyzer.stemString(q) })),
    // LLM-pipeline: greedy context-window packing (inverse of q_chunks) —
    // turns folded in order into ≤128-token training sequences per conv
    "q_pack_context" -> ((s, dir) =>
      TextOps.packGreedy(IndexBuild.ingest(Transcripts.fromDocuments(s, dir)), 128)),
    // W2: stable dense doc-id assignment over the transcripts table
    "q_docids_transcripts" -> ((s, dir) => {
      val t = IndexBuild.ingest(Transcripts.fromDocuments(s, dir))
      IndexBuild.assignDocIds(t).select(col("doc_id"), col("conv_id"),
        col("turn_idx"), col("role"), col("tool"),
        Analyzer.docLen(col("text")).as("dl")).orderBy("doc_id")
    }),
    // Flagship: full pipeline (transcripts → index → BM25 top-10)
    "q_bm25_transcripts" -> ((s, dir) =>
      Search.searchCorpus(transcriptCorpus(s, dir), DisjQueries)),
    // S3+E1/E2: exhaustive scoring over the PERSISTED compressed index
    // (varint decode path) — same oracle as the inline pipeline
    "q_bm25_index" -> ((s, dir) =>
      IndexSearch.search(indexFor(s, dir), DisjQueries)),
    // Solr ClusteringComponent analog: label-driven clusters over each
    // query's top-10 (label = rarest dictionary term, __other__ bucket)
    "q_bm25_cluster" -> ((s, dir) =>
      graft.search.Clustering.clusters(indexFor(s, dir), DisjQueries)),
    // E4: block-max WAND fast path over the persisted index
    "q_bm25_wand" -> ((s, dir) =>
      IndexSearch.searchWand(indexFor(s, dir), DisjQueries)),
    // E4b: MaxScore (Turtle & Flood 1995) — the other dynamic-pruning
    // family over the same block layout; must be rank-identical too
    "q_bm25_maxscore" -> ((s, dir) =>
      IndexSearch.searchMaxScore(indexFor(s, dir), DisjQueries)),
    // Pluggable similarity (Solr per-field <similarity>): LM with
    // Dirichlet smoothing (Zhai & Lafferty 2001) and Lucene's classic
    // TF-IDF, over the same persisted index + dictionary cf
    "q_lmdirichlet" -> ((s, dir) =>
      IndexSearch.searchSim(indexFor(s, dir), DisjQueries,
        Similarities.LMDirichlet())),
    "q_tfidf_classic" -> ((s, dir) =>
      IndexSearch.searchSim(indexFor(s, dir), DisjQueries,
        Similarities.ClassicTfIdf)),
    // LM with Jelinek–Mercer smoothing — the third Lucene similarity
    // family member, same exhaustive dictionary-pruned serving path
    "q_lmjm" -> ((s, dir) =>
      IndexSearch.searchSim(indexFor(s, dir), DisjQueries,
        Similarities.LMJelinekMercer())),
    // J3 over the index: conjunctive AND
    "q_bm25_index_conj" -> ((s, dir) =>
      IndexSearch.search(indexFor(s, dir), ConjQueries, conjunctive = true)),
    // ---- training-data pipeline operators (documents / embeddings) ----
    "q_lang_id" -> ((s, dir) => TextOps.langId(documents(s, dir))),
    "q_quality" -> ((s, dir) => TextOps.quality(documents(s, dir))),
    // fastText-style linear quality-classifier inference (hashed
    // unigram+bigram features, pinned deterministic weight table)
    "q_quality_fasttext" -> ((s, dir) => TextOps.classifierScore(
      documents(s, dir), buckets = 512, seed = 7L, threshold = 0.0)),
    "q_token_counts" -> ((s, dir) => TextOps.tokenCounts(documents(s, dir))),
    // LLM-pretraining context-window chunking: 32-token windows, stride
    // 16 (50% overlap) — map-only, shuffle-free at any corpus size
    "q_chunks" -> ((s, dir) => TextOps.chunks(documents(s, dir), 32, 16)),
    // MaxP long-document retrieval (Dai & Callan 2019): BM25 over 32/16
    // sliding passages, doc ranked by its best passage
    "q_bm25_maxp" -> ((s, dir) =>
      graft.search.Search.searchMaxP(documents(s, dir), DisjQueries, 32, 16)),
    // ES percolator / Lucene monitor: registered boolean alert queries
    // matched against every incoming doc — reverse search, match-only
    "q_percolate" -> ((s, dir) =>
      graft.search.Percolator.percolate(documents(s, dir), PercolateQueries)),
    // deterministic shuffle+shard for training-shard writing: Knuth-hash
    // permutation key, 16 shards, within-shard rank + token offsets
    "q_train_shards" -> ((s, dir) => TextOps.trainShards(documents(s, dir), 16)),
    // benchmark decontamination (GPT-3 appendix-C shape): the "eval set"
    // is docs ≡ 0 (mod 97); any shared analyzed 8-gram flags a doc
    "q_decontaminate" -> ((s, dir) => {
      val d = documents(s, dir)
      TextOps.decontaminate(d, d.where(col("doc_id") % 97 === 0), 8)
    }),
    // Gopher duplicate-3-gram repetition statistics + filter flag
    "q_repetition" -> ((s, dir) => TextOps.repetition(documents(s, dir), 3, 0.2)),
    // C4-style global span dedup: docs ≡ 0 mod 11 share one injected
    // 10-token leading span — only its globally-first occurrence survives
    "q_line_dedup" -> ((s, dir) => TextOps.lineDedup(
      documents(s, dir).withColumn("text",
        when(col("doc_id") % 11 === 0,
          concat(lit(LineDedupSpan + " "), col("text")))
          .otherwise(col("text"))), 10)),
    // ExactSubstr span-dedup geometry (Lee et al. 2022): docs ≡ 0 mod 7
    // share an injected 12-token prefix — every maximal ≥ 8-token
    // duplicated span in the corpus is reported with its token extent
    "q_dedup_substring" -> ((s, dir) => TextOps.substringSpans(
      documents(s, dir).withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(lit(SubstrDedupSpan + " "), col("text")))
          .otherwise(col("text"))), 8)),
    // PII redaction over a deterministically injected corpus (docs ≡ 0
    // mod 3 gain an email + E.164 phone; the rest pin the no-match path)
    "q_redact_pii" -> ((s, dir) => TextOps.redactPii(
      documents(s, dir).withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" reach doc"), col("doc_id").cast("string"),
            lit("@test.org or +1415555"),
            lpad((col("doc_id") % 1000).cast("string"), 4, "0")))
          .otherwise(col("text"))))),
    "q_fingerprints" -> ((s, dir) => TextOps.fingerprints(documents(s, dir))),
    "q_fingerprints_rolling" -> ((s, dir) =>
      TextOps.rollingFingerprints(documents(s, dir))),
    "q_dedup_exact" -> ((s, dir) => TextOps.dupGroups(documents(s, dir))),
    // dolma-style Bloom-filter incremental dedup: new batch (¼ verbatim
    // dups, ¼ mutated novels) screened against the corpus filter; false
    // positives exhibited, false negatives structurally impossible
    "q_dedup_bloom" -> ((s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val incoming = d.where(col("doc_id") % 4 === 0).unionByName(
        d.where(col("doc_id") % 4 === 1)
          .select(col("doc_id"), concat(col("text"), lit(" novel")).as("text")))
      graft.ops.Dedup.bloomDedup(d, incoming, mBits = 4096, kHashes = 3)
    }),
    // training-data stratified sampling: per-lang md5-threshold rates
    // (en downsampled to 30%, zh kept, rest at 60%) — deterministic,
    // consistent under corpus growth, shuffle-free
    "q_sample_stratified" -> ((s, dir) => TextOps.stratifiedSample(
      s.read.parquet(s"$dir/documents.parquet"), "lang", SampleRates, 600)),
    // transcripts → SFT training pairs: adjacent user→assistant turns
    // with the running chat-template context (one window, no self-join)
    "q_sft_pairs" -> ((s, dir) =>
      TextOps.sftPairs(Transcripts.fromDocuments(s, dir))),
    // FIM span-corruption examples (PSM format, deterministic cuts) —
    // map-only, no shuffle
    "q_fim_pairs" -> ((s, dir) =>
      TextOps.fimExamples(documents(s, dir))),
    // interpolated Kneser–Ney bigram LM table (the KenLM estimation
    // shape): one bigram hash agg + vocab²-bounded stats joins
    "q_ngram_lm" -> ((s, dir) =>
      TextOps.kneserNeyBigrams(documents(s, dir), 0.75)),
    // BPE merge training (Sennrich 2016): vocab-sized iterations, greedy
    // chain-parity replacement, pinned lexicographic tie-break
    "q_bpe_merges" -> ((s, dir) =>
      TextOps.bpeMerges(documents(s, dir), 8)),
    // BPE subword encoding: the trained word table IS the word->subwords
    // map; one vocab-sized join + per-doc sums
    "q_bpe_encode" -> ((s, dir) =>
      TextOps.bpeEncode(documents(s, dir), 8)),
    // SentencePiece unigram-LM Viterbi segmentation (the OTHER tokenizer
    // family): max-likelihood piece split of every distinct word under a
    // pinned char+n-gram piece LM — DP as a pure Column fold
    "q_unigram_encode" -> ((s, dir) =>
      TextOps.unigramEncode(documents(s, dir), minCount = 20)),
    // BERT WordPiece greedy longest-match-first encode (the THIRD
    // tokenizer family): two-namespace (##-continuation) pinned vocab,
    // greedy scan as a pure Column fold on the distinct-word table
    "q_wordpiece_encode" -> ((s, dir) =>
      TextOps.wordpieceEncode(documents(s, dir), minCount = 20)),
    // temperature-based source mixing over the transcripts corpus: keep
    // rates derived from the strata's own frequencies (p^α, α=1/T) so
    // downsampling flattens toward uniform while the rarest role survives
    // whole — the standard multilingual-pretraining resampling rule
    "q_sample_temperature" -> ((s, dir) => TextOps.temperatureSample(
      transcriptCorpusAttrs(s, dir).select("doc_id", "role"), "role", 0.5)),
    // CCNet-style LM perplexity filter: unigram add-α LM trained on the
    // corpus's own lang='en' subset, every doc scored, keep = the
    // low-perplexity band
    // CCNet head/middle/tail perplexity terciles (rank-pinned split)
    "q_ppl_buckets" -> ((s, dir) =>
      TextOps.pplBuckets(spread(s.read.parquet(s"$dir/documents.parquet")),
        col("lang") === "en", 0.5)),
    "q_lm_perplexity" -> ((s, dir) => TextOps.lmPerplexity(
      s.read.parquet(s"$dir/documents.parquet"),
      col("lang") === "en", 0.5, 8.0)),
    // DSIR importance resampling: hashed-bigram likelihood ratio of the
    // lang='en' target domain vs the raw corpus, deterministic-threshold
    // keep (the paper's Gumbel-top-k replaced for bit-exactness)
    "q_dsir_weights" -> ((s, dir) => TextOps.dsirWeights(
      spread(s.read.parquet(s"$dir/documents.parquet")),
      col("lang") === "en", 4096, 0.5, 0.0)),
    // fastText-style classifier TRAINING on-cluster: full-batch logistic
    // regression over hashed features, weak lang labels, 1e-9-rounded
    // deterministic GD trajectory (oracle unrolls the iterations)
    "q_lr_quality" -> ((s, dir) => TextOps.lrQuality(
      spread(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text", "lang")),
      "en", 8, 3, 2.0)),
    // Gopher table-A1 quality rules (doc-level set), per-rule booleans;
    // minWords=5 — the paper's 50 is tuned for web pages, not turns
    "q_gopher_rules" -> ((s, dir) => TextOps.gopherRules(
      s.read.parquet(s"$dir/documents.parquet"), minWords = 5)),
    // the END-TO-END training-set pipeline: quality gate → near-dup
    // canonical filter (components rep survives, other members drop) →
    // stratified sample — each stage the same operator its standalone
    // gate verifies, composed
    "q_pipeline_trainset" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val q = TextOps.quality(documents(s, dir))
        .select("doc_id", "quality_score")
      val nonCanonical = Dedup
        .components(Dedup.minhashPairs(documents(s, dir), 0.7))
        .where(col("rep") =!= col("doc_id")).select("doc_id")
      val keep = d.select("doc_id", "lang")
        .join(q, "doc_id").where(col("quality_score") >= 0.55)
        .join(nonCanonical, Seq("doc_id"), "left_anti")
      TextOps.stratifiedSample(keep, "lang", SampleRates, 600)
    }),
    "q_dedup_minhash" -> ((s, dir) => Dedup.minhashPairs(documents(s, dir), 0.7)),
    "q_simhash" -> ((s, dir) => Dedup.simhash(documents(s, dir))),
    "q_dedup_simhash" -> ((s, dir) => Dedup.simhashPairs(documents(s, dir), 3)),
    "q_dedup_ngram" -> ((s, dir) => Dedup.ngramJaccardPairs(documents(s, dir), 3, 0.3)),
    // dedup pipeline tail: pairs → connected components → canonical rep
    // per cluster (the keep/drop decision a training-data dedup ends with)
    "q_dedup_components" -> ((s, dir) =>
      Dedup.components(Dedup.minhashPairs(documents(s, dir), 0.7))),
    // PageRank centrality within duplicate neighborhoods (3 pinned
    // rounds): the alternative cluster-representative keep rule
    "q_pagerank" -> ((s, dir) =>
      Dedup.pagerank(Dedup.minhashPairs(documents(s, dir), 0.7), 3)),
    // FineWeb-style keep rule: components + keep the HIGHEST-QUALITY copy
    // per cluster (4dp-pinned quality score, doc_id tie-break)
    "q_dedup_keep_best" -> ((s, dir) => {
      val d = documents(s, dir)
      Dedup.keepBestByQuality(Dedup.minhashPairs(d, 0.7), TextOps.quality(d))
    }),
    // Agent-corpus shared-prefix grouping: conversations bootstrapped from
    // an identical turn-0 system prompt group together (two injected
    // prompt families, convs ≡ 0 and ≡ 3 mod 7)
    "q_conv_prefix_groups" -> ((s, dir) => {
      val convNum = substring(col("conv_id"), 5, 6).cast("int")
      TextOps.convPrefixGroups(
        Transcripts.fromDocuments(s, dir).withColumn("text",
          when(col("turn_idx") === 0 && convNum % 7 === 0,
            lit("alpha scaffold boot prompt"))
            .when(col("turn_idx") === 0 && convNum % 7 === 3,
              lit("beta scaffold boot prompt"))
            .otherwise(col("text"))), 1)
    }),
    // contamination spread: depth-bounded BFS (the {!graph maxDepth=d}
    // traversal shape) from decontaminate-flagged seeds over the near-dup
    // pair graph — drop near-duplicates of contaminated docs transitively
    "q_contamination_spread" -> ((s, dir) => {
      val d = documents(s, dir)
      Dedup.bfsExpand(Dedup.minhashPairs(d, 0.7),
        TextOps.decontaminate(d, d.where(col("doc_id") % 97 === 0), 8)
          .where(col("contaminated")), 2)
    }),
    "q_ann_cosine" -> ((s, dir) => Similarity.bruteForceTopK(
      embeddings(s, dir), Seq(0L, 1L, 2L), 10)),
    // matryoshka two-stage retrieval: 16-dim prefix shortlist → full-dim
    // re-rank of the shortlist only (ids-only candidate shuffle)
    "q_ann_mrl" -> ((s, dir) => Similarity.mrlTopK(
      embeddings(s, dir), Seq(0L, 1L, 2L), 10, 16, 40)),
    // SQ8 scalar quantization, asymmetric ADC cosine over dequantized codes
    "q_ann_sq8" -> ((s, dir) => Similarity.sq8TopK(
      embeddings(s, dir), Seq(0L, 1L, 2L), 10)),
    // reciprocal rank fusion of the exact and SQ8 retrievers (the hybrid
    // -search combiner): top-list-only full-outer rank join
    "q_ann_rrf" -> ((s, dir) => Similarity.rrfTopK(
      embeddings(s, dir), Seq(0L, 1L, 2L), 10, 20, 60)),
    "q_ann_ivf" -> ((s, dir) => Similarity.ivfTopK(
      embeddings(s, dir), Seq(0L, 1L, 2L), 10, 2)),
    // IVF training: deterministic Lloyd's k-means (4 clusters, 2 iters)
    "q_ann_kmeans" -> ((s, dir) => Similarity.kmeansLabels(
      embeddings(s, dir), 4, 2)),
    // SemDeDup (Abbas et al. 2023): k-means clusters, within-cluster
    // cosine ≥ τ → keep the most-central doc of each duplicate relation
    "q_dedup_semantic" -> ((s, dir) => Similarity.semDedup(
      embeddings(s, dir), 4, 2, 0.3)),
    // Product-quantization ANN (Jégou et al. 2011): 8 subvectors × 16
    // codes trained with the pinned Lloyd's, ADC table-lookup serving —
    // the memory-bound scale path (64 floats → 8 codes per vector)
    "q_ann_pq" -> ((s, dir) => Similarity.pqTopK(
      embeddings(s, dir), Seq(0L, 1L, 2L), 10,
      m = 8, codebookSize = 16, iters = 2)),
    // IVF-PQ (FAISS IndexIVFPQ shape): coarse quantizer routes vectors to
    // clusters, PQ codebooks train on RESIDUALS, serving probes nProbe
    // clusters and ADCs the query's own residual — prune × byte-diet
    "q_ann_ivf_pq" -> ((s, dir) => Similarity.ivfPqTopK(
      embeddings(s, dir), Seq(0L, 1L, 2L), 10,
      clusters = 4, nProbe = 2, m = 8, codebookSize = 16, iters = 2)),
    // the serving path over its own trained labels — self-contained ANN
    "q_ann_ivf_kmeans" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val labels = Similarity.kmeansLabels(emb, 4, 2)
      Similarity.ivfTopK(emb.drop("label").join(labels, "vec_id"),
        Seq(0L, 1L, 2L), 10, 2)
    }),
    // Solr qf multi-field: title (first 5 analyzed tokens) boosted 2x over
    // body, per-field df/avgdl/docCount
    "q_bm25_multifield" -> ((s, dir) => {
      val c = transcriptCorpus(s, dir)
        .withColumn("title",
          array_join(slice(Analyzer.tokens(col("text")), 1, 5), " "))
        .withColumnRenamed("text", "body")
      graft.search.MultiField.searchFields(c,
        Seq("title" -> 2.0, "body" -> 1.0), DisjQueries)
    }),
    // BM25F / Lucene CombinedFieldQuery: weighted tf/dl merged into one
    // pseudo-field BEFORE saturation (same title/body fixture) — the
    // third combiner family next to qf-sum and DisMax-max
    "q_bm25_combined" -> ((s, dir) => {
      val c = transcriptCorpus(s, dir)
        .withColumn("title",
          array_join(slice(Analyzer.tokens(col("text")), 1, 5), " "))
        .withColumnRenamed("text", "body")
      graft.search.MultiField.searchCombined(c,
        Seq("title" -> 2.0, "body" -> 1.0), DisjQueries)
    }),
    // Solr DisMax tie combiner at tie=0 (pure max over fields) — the
    // same title/body fixture as q_bm25_multifield, different combiner
    "q_bm25_dismax" -> ((s, dir) => {
      val c = transcriptCorpus(s, dir)
        .withColumn("title",
          array_join(slice(Analyzer.tokens(col("text")), 1, 5), " "))
        .withColumnRenamed("text", "body")
      graft.search.MultiField.searchFields(c,
        Seq("title" -> 2.0, "body" -> 1.0), DisjQueries, tie = 0.0)
    }),
    // Solr sort=ts desc: match set ranked by the stored timestamp (score
    // still computed/reported); ts_sec output pins the stored field value
    "q_bm25_sort_ts" -> ((s, dir) =>
      IndexSearch.searchSorted(indexFor(s, dir), DisjQueries,
        Seq(col("ts_sec").desc), 10,
        extra = Seq("ts_sec" -> unix_timestamp(col("ts"))))),
    // MULTI-field sort (sort=role asc, ts desc): the secondary key bites
    // inside each role band
    "q_bm25_sort_multi" -> ((s, dir) =>
      IndexSearch.searchSorted(indexFor(s, dir), DisjQueries,
        Seq(col("role").asc, col("ts_sec").desc), 10,
        extra = Seq("role" -> col("role"),
          "ts_sec" -> unix_timestamp(col("ts"))))),
    // Solr debug=true / Lucene Explanation: per-term score decomposition
    // of every top-10 hit — every column re-derived by the oracle
    "q_bm25_explain" -> ((s, dir) =>
      IndexSearch.explain(indexFor(s, dir), DisjQueries)),
    // Luke /admin/luke top terms: metadata-only dictionary introspection
    "q_top_terms" -> ((s, dir) =>
      IndexSearch.topTerms(indexFor(s, dir), 25)),
    // Misra–Gries heavy hitters (custom TypedImperativeAggregate sketch)
    // + exact candidate recount — certified-exact top terms at sketch
    // cost, the scale path where the full vocabulary must never shuffle
    "q_top_terms_sketch" -> ((s, dir) =>
      graft.ops.HeavyHitters.topTermsSketched(documents(s, dir), 25, 64)),
    // Solr LTR feature logging (fl=[features]): per-(query, top-k doc)
    // reranker feature vectors — SolrFeature + FieldValueFeature classes
    "q_ltr_features" -> ((s, dir) =>
      IndexSearch.ltrFeatures(indexFor(s, dir), DisjQueries)),
    // Solr LTR rerank ({!ltr model=linear reRankDocs=30}): the logged
    // feature vectors scored by a linear model, top-30 window re-sorted
    "q_bm25_ltr_rerank" -> ((s, dir) =>
      IndexSearch.ltrRerank(indexFor(s, dir), DisjQueries, LtrWeights,
        k = 10, depth = 30)),
    // Solr /get against the uncommitted update log: pending updates and
    // adds visible by key before any commit, tlog wins on collision
    "q_rtg_pending" -> ((s, dir) =>
      IndexSearch.getDocsRealtime(indexFor(s, dir), RtgPending, RtgKeys)),
    // DPR hard-negative mining: pos/hard_neg from BM25 top-k, md5-ordered
    // prefiltered random negatives — the retrieval-training-set extractor
    "q_hard_negatives" -> ((s, dir) =>
      IndexSearch.hardNegatives(indexFor(s, dir), DisjQueries, 10, 5, 200)),
    // Solr sort by FUNCTION QUERY (sort=recip(dl,1,100,10) desc): the
    // FunctionQuery-parsed sort key, doc_id tie-break; fv output pins
    // the bit-identical function value on both engines
    "q_bm25_sort_fn" -> ((s, dir) => {
      val fv = graft.search.FunctionQuery.toColumn(
        graft.search.FunctionQuery.parse(SortFnString))
      IndexSearch.searchSorted(indexFor(s, dir), DisjQueries,
        Seq(col("fv").desc), 10, extra = Seq("fv" -> fv))
    }),
    // Pseudo-relevance feedback (Rocchio/RM3): mine the top-5 hits'
    // strongest terms, re-query with the expanded weighted set
    "q_bm25_feedback" -> ((s, dir) =>
      IndexSearch.searchFeedback(indexFor(s, dir), DisjQueries,
        k = 10, fbDocs = 5, fbTerms = 3, expWeight = 0.5)),
    // Solr fl= field list: stored fields + a function-query pseudo-field
    // (alias:fn(dl)) on every hit, ranking unchanged
    "q_bm25_fl" -> ((s, dir) =>
      IndexSearch.searchFields(indexFor(s, dir), DisjQueries,
        fields = Seq("role", "tool", "dl"),
        pseudo = Seq("brev" -> SortFnString))),
    // Lucene/Solr prefix queries (te*): dictionary range-scan expansion,
    // scoring-boolean rewrite, maxExpansions guard
    "q_bm25_prefix" -> ((s, dir) =>
      IndexSearch.searchPrefix(indexFor(s, dir), PrefixQueries)),
    // Query-time synonym expansion (SynonymGraphFilter → Lucene
    // SynonymQuery: max member df, Σ member tf per doc); query 6 maps
    // two tokens to ONE class — the duplicate-class dedupe pinning
    "q_bm25_synonyms" -> ((s, dir) =>
      graft.search.Synonyms.searchIndex(indexFor(s, dir), DisjQueries,
        SynonymGroups)),
    // Lucene WildcardQuery (te*t / t?st): LIKE expansion against the
    // dictionary, literal prefix pushed to the scan where one exists
    "q_bm25_wildcard" -> ((s, dir) =>
      graft.search.MultiTerm.searchWildcard(indexFor(s, dir), WildcardQueries)),
    // Lucene RegexpQuery: whole-term-anchored portable-subset regexps
    // expanded against the dictionary, scoring-boolean rewrite
    "q_bm25_regexp" -> ((s, dir) =>
      graft.search.MultiTerm.searchRegexp(indexFor(s, dir), RegexpQueries)),
    // Lucene FuzzyQuery (roam~1): one batched dictionary pass,
    // length-window prune + levenshtein <= maxEdits expansion
    "q_bm25_fuzzy" -> ((s, dir) =>
      graft.search.MultiTerm.searchFuzzy(indexFor(s, dir), FuzzyQueries)),
    // Lucene TermRangeQuery: [lo TO hi] / {lo TO hi} dictionary-range
    // expansion (endpoint predicates pushed to the dictionary scan), then
    // the scoring-boolean rewrite
    "q_bm25_term_range" -> ((s, dir) =>
      graft.search.MultiTerm.searchTermRange(indexFor(s, dir), TermRangeQueries)),
    // Lucene CheckIndex analog: physical-artifact integrity fsck — every
    // posting block decoded and cross-checked against dictionary/docs/stats
    "q_index_check" -> ((s, dir) =>
      graft.index.CheckIndex.run(indexFor(s, dir))),
    // Lucene CommonTermsQuery (ES cutoff_frequency): high-df terms demote
    // to scoring-only; docs must match a low-df backbone term
    "q_bm25_common" -> ((s, dir) =>
      IndexSearch.searchCommonTerms(indexFor(s, dir), CommonTermsQueries, 0.5)),
    // Solr FieldAnalysisRequestHandler analog: per-stage token streams of
    // the charFilter→tokenizer→tokenFilter chain over an accent+plural
    // injected corpus slice (both optional stages exercised)
    "q_analysis_chain" -> ((s, dir) =>
      Analyzer.analysisChain(documents(s, dir)
        .where(col("doc_id") % 7 === 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0,
            translate(col("text"), "aeio", "áéíó")).otherwise(col("text")))
        .withColumn("text",
          when(col("doc_id") % 2 === 0, regexp_replace(col("text"),
            "\\b(table|join|row|filter)\\b", "$1s")).otherwise(col("text"))))),
    // Nested boolean grammar — (a OR b) AND c -d — one pruned posting
    // scan feeds every leaf; nodes combine as match-set algebra
    "q_bm25_nested" -> ((s, dir) =>
      graft.search.NestedBool.searchNested(indexFor(s, dir), NestedQueries)),
    // Solr PhoneticFilter analog: sounds-like expansion against the
    // dictionary (one batched code-join pass), scoring-boolean rewrite
    "q_bm25_phonetic" -> ((s, dir) =>
      graft.search.Phonetic.searchPhonetic(indexFor(s, dir), PhoneticQueries)),
    // Lucene SpanFirstQuery: term within the first N tokens, freq = count
    // of qualifying positions, idf from the unfiltered term df
    "q_bm25_spanfirst" -> ((s, dir) =>
      IndexSearch.searchSpanFirst(indexFor(s, dir), SpanFirstQueries)),
    // Solr multi-facet request: repeated facet.field params counted from
    // ONE match-set join (role + tool, NULLs uncounted)
    "q_facet_multi" -> ((s, dir) =>
      IndexSearch.facetFields(indexFor(s, dir), DisjQueries, Seq("role", "tool"))),
    // Solr rows=0 response header: numFound + group.ngroups (distinct
    // conversations matched), zero-filled spine (query 5 reports 0, 0)
    "q_numfound" -> ((s, dir) =>
      IndexSearch.responseStats(indexFor(s, dir), DisjQueries, "conv_id")),
    // Solr facet.query: named attribute predicates, zero-filled on the
    // query spine (query 5 matches nothing — all-zero rows pin the spine)
    "q_facet_query" -> ((s, dir) =>
      IndexSearch.facetQueries(indexFor(s, dir), DisjQueries,
        FacetQueryDefs.map(d => (d._1, d._2)))),
    // Solr facet.range over the stored dl attribute: [0,120) by 20,
    // full bucket spine per query with zero-filled gaps
    "q_facet_range" -> ((s, dir) =>
      IndexSearch.facetRange(indexFor(s, dir), DisjQueries, "dl", 0L, 120L, 20L)),
    // Solr facet.range over the stored ts DATE field with a date-math
    // gap (+2HOUR): ISO start/end parsed and bucket labels formatted on
    // the driver — neither engine formats a timestamp
    "q_facet_range_date" -> ((s, dir) =>
      IndexSearch.facetRangeDate(indexFor(s, dir), DisjQueries, "ts",
        "2024-01-01T00:00:00Z", "2024-01-03T00:00:00Z", "+2HOURS")),
    // Solr facet.sort=count + facet.limit: top-3 tool values per query
    "q_facet_top" -> ((s, dir) =>
      IndexSearch.facetTop(indexFor(s, dir), DisjQueries, "tool", 3)),
    // Solr facet.prefix over a high-cardinality field: only values in the
    // conv00001x band are counted/ranked (the prefix prunes BEFORE the agg)
    "q_facet_prefix" -> ((s, dir) =>
      IndexSearch.facetTop(indexFor(s, dir), DisjQueries, "conv_id", 5,
        prefix = Some("conv00001"))),
    // Solr facet.contains: only values carrying the substring count —
    // unlike the prefix, a substring cannot prune the scan (documented)
    "q_facet_contains" -> ((s, dir) =>
      IndexSearch.facetTop(indexFor(s, dir), DisjQueries, "conv_id", 5,
        contains = Some("01"))),
    // Solr facet.sort=index: lexicographic buckets with a biting limit
    // over the high-cardinality conv_id field
    "q_facet_sort_index" -> ((s, dir) =>
      IndexSearch.facetTop(indexFor(s, dir), DisjQueries, "conv_id", 4,
        sort = "index")),
    // Solr facet.offset: page 2 of the count-ranked buckets — absolute
    // ranks (3,7] pin the page position
    "q_facet_offset" -> ((s, dir) =>
      IndexSearch.facetTop(indexFor(s, dir), DisjQueries, "conv_id", 4,
        offset = 3)),
    // Solr group.facet=true: each conversation counts once per role
    // value — "how many conversations have a matching <role> turn"
    "q_facet_group" -> ((s, dir) =>
      IndexSearch.facetGrouped(indexFor(s, dir), DisjQueries, "role",
        "conv_id")),
    // Solr StatsComponent over dl: count/min/max/sum/mean per query,
    // zero-filled spine (query 5 matches nothing)
    "q_stats_dl" -> ((s, dir) =>
      IndexSearch.statsField(indexFor(s, dir), DisjQueries, "dl")),
    // StatsComponent cardinality=true: deterministic 64-register HLL
    // estimate of distinct conv_id per match set (exact count as audit)
    "q_stats_cardinality" -> ((s, dir) =>
      IndexSearch.statsCardinality(indexFor(s, dir), DisjQueries, "conv_id")),
    // Solr stats.facet: the stats family per observed role value —
    // per-slice length diagnostics in one aggregation pass
    "q_stats_facet" -> ((s, dir) =>
      IndexSearch.statsFacet(indexFor(s, dir), DisjQueries, "dl", "role")),
    // StatsComponent percentiles: exact type-7 p50/p90/p99 of dl per
    // query (pinned exact over Solr's t-digest), NULL on the empty query
    "q_stats_percentiles" -> ((s, dir) =>
      IndexSearch.statsPercentiles(indexFor(s, dir), DisjQueries, "dl",
        Seq(50.0, 90.0, 99.0))),
    // Solr result grouping / field collapsing: top-5 conversations per
    // query by best-turn score, 3 turns each
    "q_group_conv" -> ((s, dir) =>
      IndexSearch.searchGrouped(indexFor(s, dir), DisjQueries, "conv_id",
        kGroups = 5, groupLimit = 3)),
    // Solr group.query: named query-defined groups, main-query ranking
    // within each, per-group numFound
    "q_group_query" -> ((s, dir) =>
      IndexSearch.searchGroupQueries(indexFor(s, dir), DisjQueries,
        GroupQueries, groupLimit = 3)),
    // Solr collection alias + ExactStatsCache: one query over two
    // time-partitioned collections, global df/N/avgdl — answers ≡ one
    // unified index over the union (the full-corpus keys oracle)
    "q_bm25_alias" -> ((s, dir) =>
      IndexSearch.searchAlias(aliasIndexes(s, dir), DisjQueries)),
    // Solr TIME-ROUTED alias: window from ts(3n/5) prunes the 'lo'
    // collection by metadata alone; fq drops the hi-collection prefix
    "q_bm25_alias_tra" -> ((s, dir) => {
      val n = s.read.parquet(s"$dir/documents.parquet").count()
      IndexSearch.searchAliasTimeRouted(aliasIndexes(s, dir), DisjQueries,
        Some(Transcripts.Epoch2024 + (3L * n / 5) * 30), None)
    }),
    // Solr {!collapse field=conv_id} + expand=true: flat best-turn-per-
    // conversation list, each head carrying its next-2 expand section
    "q_bm25_collapse" -> ((s, dir) =>
      IndexSearch.searchCollapsed(indexFor(s, dir), DisjQueries, "conv_id",
        k = 5, expandRows = 2)),
    // Lucene term suggester: df-weighted prefix completion, top-5
    "q_suggest" -> ((s, dir) =>
      graft.search.Suggest.suggest(indexFor(s, dir), SuggestPrefixes, 5)),
    // Solr MoreLikeThis: seed-doc interesting terms (tf×idf, top-10) run
    // as a scoring-boolean disjunction, seed excluded
    "q_bm25_mlt" -> ((s, dir) =>
      graft.search.MoreLikeThis.moreLikeThis(indexFor(s, dir), MltSeeds,
        k = 10, maxQueryTerms = 10, minTf = 1, minDf = 2L)),
    // significantTerms: per query the foreground-lift-ranked vocabulary
    // of its match set (re-analysis of matched stored text vs corpus df)
    "q_significant_terms" -> ((s, dir) =>
      graft.search.SignificantTerms.significantTerms(indexFor(s, dir),
        DisjQueries, n = 5, minDf = 3L, minFgDf = 2L)),
    // Solr facet.pivot=role,tool: two-level pivot counts in one rollup
    "q_facet_pivot" -> ((s, dir) =>
      IndexSearch.facetPivot(indexFor(s, dir), DisjQueries, "role", "tool")),
    // Solr {!join from=conv_id to=conv_id}: constant-score conversation
    // expansion of the match set
    "q_join_conv" -> ((s, dir) =>
      graft.search.JoinQuery.join(indexFor(s, dir), DisjQueries,
        "conv_id", "conv_id", k = 10)),
    // Solr {!parent} block join, score=total: top conversations by the
    // SUM of their matching turns' BM25 scores
    // Solr {!frange}: fq by a FUNCTION-QUERY value range — one AST
    // (FunctionQuery) renders the engine filter and the oracle SQL
    "q_bm25_frange" -> ((s, dir) =>
      IndexSearch.searchFiltered(indexFor(s, dir), DisjQueries,
        graft.search.FilterQuery.parse("{!frange l=0.05 u=0.12}recip(dl,1,10,10)"))),
    // Lucene fielded-term clauses in the boolean grammar: attr TermQuery
    // = constant boost·idf(live df), StrField omitNorms algebra
    "q_bm25_fielded" -> ((s, dir) =>
      IndexSearch.searchFielded(indexFor(s, dir), FieldedQueries, k = 10)),
    // {!child of=...}: every turn of each top-k matched conversation,
    // children carrying the parent's block-join score and rank
    "q_bm25_children" -> ((s, dir) =>
      IndexSearch.searchChildren(indexFor(s, dir), DisjQueries,
        graft.search.BlockJoin.Max, 5)),
    // q=*:* + fq + sort + rows: the scoreless filter-browse request —
    // TakeOrderedAndProject over the pruned attribute scan
    "q_match_all" -> ((s, dir) =>
      IndexSearch.matchAll(indexFor(s, dir),
        graft.search.FilterQuery.parse("role:user") &&
          graft.search.FilterQuery.parse("dl:[5 TO *]"),
        Seq(col("dl").desc), 20, Seq("role", "dl"))),
    // Lucene index-time sort (setIndexSort) + early termination: earliest
    // 15 turns — the manifest picks the bucket prefix, no corpus sort
    "q_sorted_topk" -> ((s, dir) =>
      graft.index.SortedDocs.topK(s, sortedDocsFor(s, dir), 15)),
    // same walk under a filter: the collector pass counts matches per
    // range bucket and still reads only the satisfying prefix
    "q_sorted_topk_tool" -> ((s, dir) =>
      graft.index.SortedDocs.topK(s, sortedDocsFor(s, dir), 15,
        Some(col("role") === "tool"))),
    "q_bm25_parent" -> ((s, dir) =>
      IndexSearch.searchParents(indexFor(s, dir), DisjQueries,
        graft.search.BlockJoin.Total, k = 10)),
    // {!parent} score=avg: mean over matching children — a different
    // ranking than total (long conversations stop dominating)
    "q_bm25_parent_avg" -> ((s, dir) =>
      IndexSearch.searchParents(indexFor(s, dir), DisjQueries,
        graft.search.BlockJoin.Avg, k = 10)),
    // {!parent} block join over the SEGMENTED index: conv_id is the key
    // prefix, so the live scored keys aggregate with no attribute join
    "q_bm25_parent_segmented" -> ((s, dir) =>
      IndexSearch.searchParents(streamedView(s, dir),
        DisjQueries, graft.search.BlockJoin.Total, k = 10)),
    // Solr interval faceting: endpoint-inclusive/exclusive dl bands,
    // overlapping sets both count, zero-filled request spine
    "q_facet_interval" -> ((s, dir) =>
      IndexSearch.facetIntervals(indexFor(s, dir), DisjQueries, "dl",
        IntervalSets)),
    // Multi-select (tag/ex) faceting: the role facet ignores the tagged
    // role fq but honors the dl fq; the tool facet honors both
    "q_facet_multiselect" -> ((s, dir) =>
      IndexSearch.facetMultiSelect(indexFor(s, dir), DisjQueries,
        MultiSelectFilters.map(f => (f._1, f._2)), MultiSelectFacets)),
    // facet.range.other=all: numeric buckets + before/after/between
    "q_facet_range_other" -> ((s, dir) =>
      IndexSearch.facetRangeOther(indexFor(s, dir), DisjQueries,
        "dl", 20L, 100L, 40L)),
    // Solr SpellCheckComponent: per-token correction candidates from the
    // dictionary (lev ≤ 2, distance/df/term ranking)
    "q_spellcheck" -> ((s, dir) =>
      graft.search.SpellCheck.suggest(indexFor(s, dir), SpellRequests, 5)),
    // spellcheck.collate: the corrected query string per request (rank-1
    // substitutions) plus its re-run disjunctive hit count
    "q_spellcheck_collate" -> ((s, dir) =>
      graft.search.SpellCheck.collate(indexFor(s, dir), SpellRequests, 2)),
    // Solr QueryElevationComponent: curated docs pinned to the top in
    // order (incl. force-elevated unmatched), organic tail follows
    "q_elevate" -> ((s, dir) =>
      graft.search.Elevation.search(indexFor(s, dir), DisjQueries,
        ElevationTable, k = 10)),
    // Solr cursorMark: page 2 via the engine-computed cursor after the
    // first 3 hits — a sort-key predicate, not an offset window
    "q_bm25_cursor" -> ((s, dir) => {
      val i = indexFor(s, dir)
      IndexSearch.searchAfter(i, DisjQueries,
        IndexSearch.pageCursor(i, DisjQueries, 3), k = 3)
    }),
    // edismax bf function-query boost: BM25 + recip(dl,1,100,10)
    "q_bm25_boost" -> ((s, dir) =>
      IndexSearch.searchBoosted(indexFor(s, dir), DisjQueries,
        lit(100.0) / (col("dl") + lit(10.0)))),
    // edismax boost= (multiplicative): BM25 x recip(dl,1,100,10) — same
    // plan as bf, only the combiner differs
    "q_bm25_boost_mult" -> ((s, dir) =>
      IndexSearch.searchBoosted(indexFor(s, dir), DisjQueries,
        lit(100.0) / (col("dl") + lit(10.0)), multiplicative = true)),
    // Solr bq= (additive BOOST QUERY): docs also matching 'batch'^2 or
    // 'dup' gain those clauses' BM25 — match set unchanged
    "q_bm25_bq" -> ((s, dir) =>
      IndexSearch.searchBoostQuery(indexFor(s, dir), DisjQueries,
        BqString)),
    // Solr rq={!rerank}: the top-5 first-pass hits re-score as
    // main + 2·rerank and reshuffle among themselves; ranks 6-10 keep
    // their first-pass order — the N boundary is part of the contract
    "q_bm25_rerank" -> ((s, dir) =>
      IndexSearch.searchReranked(indexFor(s, dir), DisjQueries,
        RerankString, reRankDocs = 5, reRankWeight = 2.0, k = 10)),
    // Lucene ^boost clause boosts (term^2 / term^0.5): the inline
    // clause engine — parser-shared boosts scale each clause's BM25
    // contribution before the per-doc sum
    "q_bm25_clause_boost" -> ((s, dir) =>
      Search.searchCorpusClauses(transcriptCorpus(s, dir), ClauseBoostQueries)),
    // boosted quoted phrases + boosted terms composed in the positional
    // persisted-index clause engine ("a b"^2 with term^0.5 in one query)
    "q_bm25_bool_phrase_boost" -> ((s, dir) =>
      IndexSearch.searchClauses(indexFor(s, dir), BoolPhraseBoostQueries)),
    // bf= given as the Solr function-query STRING, FunctionQuery-parsed;
    // the oracle renders SQL from the SAME AST
    "q_bm25_boost_fn" -> ((s, dir) =>
      IndexSearch.searchBoosted(indexFor(s, dir), DisjQueries,
        graft.search.FunctionQuery.toColumn(
          graft.search.FunctionQuery.parse(BoostFnString)))),
    // Solr facet.missing: matched docs without a value count into a
    // NULL-valued bucket per (query, field), same single pass
    "q_facet_missing" -> ((s, dir) =>
      IndexSearch.facetFields(indexFor(s, dir), DisjQueries, Seq("tool"),
        missing = true)),
    // Solr facet.mincount: buckets under the threshold drop post-agg
    "q_facet_mincount" -> ((s, dir) =>
      IndexSearch.facetFields(indexFor(s, dir), DisjQueries,
        Seq("role", "tool"), mincount = 5L)),
    // Solr JSON Facet API: terms facet + bucket metrics + nested terms
    // subfacet from one rollup pass over the match-set join
    "q_facet_json" -> ((s, dir) =>
      IndexSearch.facetJson(indexFor(s, dir), DisjQueries, "role", "tool",
        2, 2, JsonFacetMetrics)),
    // JSON Facet API over the SEGMENTED index (keys identity) — the
    // modern facet module served live between compactions
    "q_facet_json_segmented" -> ((s, dir) =>
      IndexSearch.facetJson(streamedView(s, dir),
        DisjQueries, "role", "tool", 2, 2, JsonFacetMetrics)),
    // JSON Facet API metric-sorted terms buckets (sort:"avg_dl desc") —
    // parent ranking by a bucket metric instead of the count; the limit
    // must bite for the sort to be observable
    "q_facet_json_sort" -> ((s, dir) =>
      IndexSearch.facetJson(indexFor(s, dir), DisjQueries, "role", "tool",
        2, 2, JsonFacetMetrics, sortBy = Some("avg_dl"))),
    // JSON Facet API allBuckets+numBuckets header: one row per query with
    // the bucket count and the metric set over ALL buckets combined
    "q_facet_json_all" -> ((s, dir) =>
      IndexSearch.facetJsonAll(indexFor(s, dir), DisjQueries, "role",
        JsonFacetMetrics)),
    // JSON Facet API query facets: named predicate buckets each carrying
    // the metric set (query 5 matches nothing — the spine pins its zeros)
    "q_facet_json_query" -> ((s, dir) =>
      IndexSearch.facetJsonQuery(indexFor(s, dir), DisjQueries,
        FacetQueryDefs.map(d => (d._1, d._2)), JsonFacetMetrics)),
    // JSON Facet query buckets served LIVE from the segmented index
    "q_facet_json_query_segmented" -> ((s, dir) =>
      IndexSearch.facetJsonQuery(streamedView(s, dir),
        DisjQueries, FacetQueryDefs.map(d => (d._1, d._2)), JsonFacetMetrics)),
    // JSON Facet API range facet: [b, b+gap) buckets each carrying the
    // metric set — count + metrics from one aggregation pass
    "q_facet_json_range" -> ((s, dir) =>
      IndexSearch.facetJsonRange(indexFor(s, dir), DisjQueries, "dl",
        0L, 120L, 20L, JsonFacetMetrics)),
    // JSON Facet range buckets served LIVE from the segmented index —
    // metrics see upserts and tombstones between compactions
    "q_facet_json_range_segmented" -> ((s, dir) =>
      IndexSearch.facetJsonRange(streamedView(s, dir),
        DisjQueries, "dl", 0L, 120L, 20L, JsonFacetMetrics)),
    // Solr TermsComponent: prefix enumeration, terms.sort=index
    "q_terms" -> ((s, dir) =>
      graft.search.Suggest.terms(indexFor(s, dir), SuggestPrefixes, 5)),
    // TermsComponent terms.regex (terms.sort=count): full dictionary
    // walk per pattern, the Lucene RegexpQuery introspection shape
    "q_terms_regex" -> ((s, dir) =>
      graft.search.Suggest.termsRegex(indexFor(s, dir), RegexRequests, 5)),
    // Boolean grammar × multiterm: wildcard/fuzzy GROUP clauses under
    // +/-/should, Lucene's +(t1 t2 ...) rewrite
    "q_bm25_bool_multiterm" -> ((s, dir) =>
      IndexSearch.searchClauses(indexFor(s, dir), MultiTermBoolQueries)),
    // Solr edismax mm (minimumNumberShouldMatch): docs must match >= mm
    // should clauses on top of every must clause
    "q_bm25_mm" -> ((s, dir) =>
      IndexSearch.searchClauses(indexFor(s, dir), MmQueries, mm = MmCount)),
    // edismax pf (phrase boost): q=a b&pf=text ≡ (a b) "a b" — exact-
    // phrase docs boosted by the PhraseQuery score, match set unchanged
    "q_bm25_pf" -> ((s, dir) =>
      IndexSearch.searchPhraseBoosted(indexFor(s, dir), PfQueries)),
    // edismax pf2 + pf3 (bigram/trigram shingle boosts): every
    // consecutive token 2- and 3-gram re-added as a should phrase —
    // partial phrase matches boost even when the full pf phrase misses
    "q_bm25_pf23" -> ((s, dir) =>
      IndexSearch.searchClauses(indexFor(s, dir),
        Search.pfnRewrite(PfQueries, Seq(2, 3)))),
    // Solr fq STRING syntax: range + negated term over stored attributes
    // (repeated fq params AND-compose); NULL tool rows MATCH -tool:tool3
    "q_bm25_fq_range" -> ((s, dir) => IndexSearch.searchFiltered(
      indexFor(s, dir), DisjQueries,
      graft.search.FilterQuery.parse("turn_idx:[1 TO 3]") &&
        graft.search.FilterQuery.parse("-tool:tool3"))),
    // Solr RealTimeGet: stored-doc lookup by key, predicate pushed to the
    // docs/ scan; the missing key is omitted
    "q_doc_get" -> ((s, dir) =>
      IndexSearch.getDocs(indexFor(s, dir), GetKeys)),
    // Solr TermVectorsComponent: per-doc (term, tf, first_pos, df) for
    // the RTG key set — point lookup + re-analysis, df from the dictionary
    "q_termvectors" -> ((s, dir) =>
      IndexSearch.termVectors(indexFor(s, dir), GetKeys)),
    // Solr atomic update ({"set":…}): read-modify-upsert through the
    // merge path; RTG over the updated index shows the new attribute
    // values, every other stored field (incl. dl) unchanged
    "q_doc_update" -> ((s, dir) =>
      IndexSearch.getDocs(openCached(s, updatedIndex(s, dir)), GetKeys)),
    // Solr /export handler: the FULL conjunctive match set (no top-k)
    // with fl stored fields, streamed in (dl ASC, doc_id ASC) sort order
    "q_export" -> ((s, dir) =>
      IndexSearch.exportSorted(indexFor(s, dir), ConjQueries,
        Seq(col("dl").asc), Seq("conv_id", "turn_idx", "role", "dl"),
        conjunctive = true)),
    // Solr streaming expressions (/stream): rollup over a search source —
    // per-role tuple counts + dl metrics of one query's full match set
    "q_stream_rollup" -> ((s, dir) =>
      graft.search.StreamExpr.run(indexFor(s, dir), StreamRollupExpr)),
    // streaming expressions: innerJoin of two search streams on conv_id
    // (renamed right side), re-sorted by the top decorator — the
    // decorator-composition shape of a real /stream request
    "q_stream_join_top" -> ((s, dir) =>
      graft.search.StreamExpr.run(indexFor(s, dir), StreamJoinExpr)),
    // streaming expressions: unique (one tuple per conversation, pinned
    // least-row) → leftOuterJoin against a rare-term stream (NULL rdoc
    // on miss — the outer-join path) → sort tail
    "q_stream_unique" -> ((s, dir) =>
      graft.search.StreamExpr.run(indexFor(s, dir), StreamUniqueExpr)),
    // streaming expressions: fetch re-joins stored fields a select
    // dropped — the post-decorator field-fetch shape
    "q_stream_fetch" -> ((s, dir) =>
      graft.search.StreamExpr.run(indexFor(s, dir), StreamFetchExpr)),
    // streaming expressions: having boolean evaluator filters rollup rows
    "q_stream_having" -> ((s, dir) =>
      graft.search.StreamExpr.run(indexFor(s, dir), StreamHavingExpr)),
    // streaming expressions: reduce keeps each group's top-n under sort
    "q_stream_reduce" -> ((s, dir) =>
      graft.search.StreamExpr.run(indexFor(s, dir), StreamReduceExpr)),
    // streaming expressions: merge unions two same-schema search streams
    "q_stream_merge" -> ((s, dir) =>
      graft.search.StreamExpr.run(indexFor(s, dir), StreamMergeExpr)),
    // streaming expressions: intersect/complement — semi/anti join of two
    // match-set streams on the conversation key
    "q_stream_intersect" -> ((s, dir) =>
      graft.search.StreamExpr.run(indexFor(s, dir), StreamIntersectExpr)),
    "q_stream_complement" -> ((s, dir) =>
      graft.search.StreamExpr.run(indexFor(s, dir), StreamComplementExpr)),
    // streaming expressions: facet desugars to search → rollup → top
    "q_stream_facet" -> ((s, dir) =>
      graft.search.StreamExpr.run(indexFor(s, dir), StreamFacetExpr)),
    // streaming expressions: stats — global bucketless metrics
    "q_stream_stats" -> ((s, dir) =>
      graft.search.StreamExpr.run(indexFor(s, dir), StreamStatsExpr)),
    // RealTimeGet over the SEGMENTED index — the live (upsert/tombstone-
    // aware) doc attrs between compactions; text not stored per-segment
    "q_doc_get_segmented" -> ((s, dir) =>
      graft.index.SegmentedIndex.getDocs(s, streamedIndex(s, dir), GetKeys,
        cfg = BuildIndexJob.Config(numShards = 8))),
    // mm over the SEGMENTED (streaming-serving) view: the one clause
    // engine, one leaf per segment
    "q_bm25_mm_segmented" -> ((s, dir) =>
      IndexSearch.searchClauses(streamedView(s, dir), MmQueries, mm = MmCount)),
    // Multimodal plumbing: binary payloads, partition-batched decode stub
    "q_media_features" -> ((s, dir) =>
      Multimodal.decode(Multimodal.mediaTable(s, dir))),
    "q_media_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.mediaTable(s, dir), 256, 2)),
    // §2.8 map/json scalar family over events.parquet: get_json_object +
    // from_json-to-map both exercised (sum_k vs max_k paths)
    "q_events_props" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .withColumn("m", from_json(col("props"), "map<string,int>",
          Map.empty[String, String]))
      ev.groupBy("event_type").agg(
          count(lit(1)).as("n_events"),
          sum(col("k").cast("long")).as("sum_k"),
          max(element_at(col("m"), "k")).as("max_k"),
          min(col("k")).as("min_k"))
        .orderBy("event_type")
    }),
    // W3: global sort + limit — plans as TakeOrderedAndProjectExec
    // (Spark's native top-n, no full sort); PlanSpec asserts the operator
    "q_global_topn" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
        .limit(20).select("doc_id", "n_chars")),
    // U1/J2: incremental merge with key upserts, searched end to end
    "q_merge_upsert" -> ((s, dir) =>
      IndexSearch.search(openCached(s, mergedIndex(s, dir, tombstoned = false)),
        DisjQueries)),
    // U2/J4: merge with tombstoned keys (left-anti delete path)
    "q_merge_tombstone" -> ((s, dir) =>
      IndexSearch.search(openCached(s, mergedIndex(s, dir, tombstoned = true)),
        DisjQueries)),
    // E5: TypedImperativeAggregate posting assembly, decoded back
    "q_posting_agg" -> ((s, dir) => postingsRoundtrip(s, dir) { (tfdl, dict, st) =>
      PostingBlocks.buildAgg(tfdl, dict, st, numShards = 8, blockSize = 16)
    }),
    // §4.3: sort-streamed assembly with hot-term doc-range salting forced
    // (saltTarget 32 splits every term with df > 32)
    "q_postings_salted" -> ((s, dir) => postingsRoundtrip(s, dir) { (tfdl, dict, st) =>
      PostingBlocks.build(tfdl, dict, st, numShards = 8, blockSize = 16,
        saltTarget = 32)
    }),
    // Elias–Fano doc-id codec round-trip: per-term sorted posting triple
    // (EF docs + varint tf/dl sidecars) encode → decode → re-emit; the
    // oracle recomputes the postings from raw text, so a single mis-set
    // bit in either codec fails the hash
    "q_postings_ef" -> ((s, dir) => {
      import graft.index.codec
      val corpus = documents(s, dir)
      val lists = IndexBuild.tfdlDirect(corpus)
        .groupBy("term")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("tf"),
          col("dl")))).as("p"))
        .select(col("term"),
          codec.efEncode(transform(col("p"), x => x.getField("doc_id")))
            .as("docs_ef"),
          codec.varintEncode(transform(col("p"),
            x => x.getField("tf").cast("long"))).as("tf_b"),
          codec.varintEncode(transform(col("p"),
            x => x.getField("dl").cast("long"))).as("dl_b"))
      lists
        .withColumn("z", explode(arrays_zip(
          codec.efDecode(col("docs_ef")),
          codec.varintDecode(col("tf_b")),
          codec.varintDecode(col("dl_b")))))
        .select(col("term"), col("z.0").as("doc_id"),
          col("z.1").cast("int").as("tf"), col("z.2").cast("int").as("dl"))
        .orderBy("term", "doc_id")
    }),
    // Lucene ForUtil/ForDeltaUtil bit-packing round-trip (the THIRD codec
    // family): doc ids as FOR-delta blocks, tf/dl as plain FOR blocks —
    // one mis-packed bit anywhere fails the recomputed-postings hash
    "q_postings_for" -> ((s, dir) => {
      import graft.index.codec
      val corpus = documents(s, dir)
      val lists = IndexBuild.tfdlDirect(corpus)
        .groupBy("term")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("tf"),
          col("dl")))).as("p"))
        .select(col("term"),
          codec.forDeltaEncode(transform(col("p"), x => x.getField("doc_id")))
            .as("docs_for"),
          codec.forEncode(transform(col("p"),
            x => x.getField("tf").cast("long"))).as("tf_b"),
          codec.forEncode(transform(col("p"),
            x => x.getField("dl").cast("long"))).as("dl_b"))
      lists
        .withColumn("z", explode(arrays_zip(
          codec.forDeltaDecode(col("docs_for")),
          codec.forDecode(col("tf_b")),
          codec.forDecode(col("dl_b")))))
        .select(col("term"), col("z.0").as("doc_id"),
          col("z.1").cast("int").as("tf"), col("z.2").cast("int").as("dl"))
        .orderBy("term", "doc_id")
    }),
    // §2.10: streaming ingest → segmented index, queried by segment
    // fan-out (keys-shaped output; segment-local ids never escape)
    "q_streaming_topk" -> ((s, dir) =>
      IndexSearch.search(streamedView(s, dir), DisjQueries)),
    // flatMapGroupsWithState keyed dedup: three REDELIVERING micro-batches
    // (each resends part of the previous) collapse to exactly one row per
    // key — the custom-state streaming surface, verified against the
    // distinct transcripts corpus
    "q_streaming_dedup" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
      val n = d.count()
      val in = TempDirs.create("graft_sdin")
      // overlapping slices: [0, n/2), [n/3, 5n/6), [2n/3, n) — every doc
      // delivered once or twice across batches
      Seq((0L, n / 2), (n / 3, 5 * n / 6), (2 * n / 3, n)).zipWithIndex
        .foreach { case ((lo, hi), i) =>
          graft.sources.Fs.writeFlatParquet(
            Transcripts.fromDocumentsDf(
              d.where(col("doc_id") >= lo && col("doc_id") < hi)),
            s"$in/batch$i.parquet")
        }
      val stream = s.readStream
        .schema(graft.streaming.StreamingIngest.transcriptSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .where(col("text").isNotNull && length(col("text")) > 0)
      val qn = s"sdedup_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      val q = graft.streaming.StreamingIngest.dedupTurns(stream)
        .writeStream.format("memory").queryName(qn).outputMode("append")
        .option("checkpointLocation", TempDirs.create("graft_sdckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(qn)
        .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
          graft.analysis.Analyzer.docLen(col("text")).as("dl"))
        .orderBy("conv_id", "turn_idx")
    }),
    // Block-max WAND over the SEGMENTED index: top-k-pruned traversal with
    // metadata-derived live df, corrected block maxes, and θ seeds — the
    // scale path for hot-term disjunctive queries between compactions
    "q_bm25_wand_segmented" -> ((s, dir) =>
      graft.index.SegmentedIndex.searchWand(s, streamedIndex(s, dir),
        DisjQueries, cfg = BuildIndexJob.Config(numShards = 8))),
    // SynonymQuery expansion served LIVE from the segmented index (live
    // member df from the tombstone-filtered fan-out)
    "q_bm25_synonyms_segmented" -> ((s, dir) =>
      graft.search.Synonyms.searchIndex(streamedView(s, dir),
        DisjQueries, SynonymGroups)),
    // Solr deleteByQuery over the segmented index: every live doc
    // containing 'dup' tombstoned via an empty-batch append; subsequent
    // queries score as a rebuild on the survivors
    "q_delete_by_query" -> ((s, dir) =>
      IndexSearch.search(graft.index.SegmentedIndex.open(s, dbqIndex(s, dir),
        BuildIndexJob.Config(numShards = 8)), DisjQueries)),
    // Lucene TieredMergePolicy analog: adjacent same-tier segment runs
    // folded (tombstone ordinals remapped, df-delta sidecar consolidated),
    // then the WAND path over the merged artifacts — answers ≡ a rebuild
    // on the post-upsert post-delete live corpus
    "q_bm25_tiered" -> ((s, dir) =>
      graft.index.SegmentedIndex.searchWand(s, tieredIndex(s, dir),
        DisjQueries, cfg = BuildIndexJob.Config(numShards = 8))),
    // Iceberg VERSION AS OF over the segmented index: the same engine read
    // through snapshot v3 (committed before the upserts, deletes, and
    // merges) answers from the first three slices only
    "q_bm25_asof" -> ((s, dir) =>
      IndexSearch.search(graft.index.SegmentedIndex.open(s,
        tieredIndex(s, dir) + "@v3", BuildIndexJob.Config(numShards = 8)), DisjQueries)),
    // U1 at scale: compaction of the streamed segments back to a unified
    // global-id index — same oracle as any full-corpus BM25 query
    // (memoized: the compacted index is deterministic per sfDir)
    "q_segments_compact" -> ((s, dir) => {
      val out = compactRoots.computeIfAbsent(dir, _ => {
        val o = TempDirs.create("graft_scomp")
        graft.index.SegmentedIndex.compact(s, streamedIndex(s, dir), o,
          "compact-gate", BuildIndexJob.Config(numShards = 8))
        o
      })
      IndexSearch.search(openCached(s, out), DisjQueries)
    }),
    // S2 + FIXTURES §C: the frozen 50-query reference set, read from the
    // parquet artifact (GoldenSpec pins artifact ≡ generator ≡ oracle)
    "q_queryset_bm25" -> ((s, dir) =>
      Search.searchCorpus(documents(s, dir),
        graft.sources.QuerySet.loadOrGenerate(s, "fixtures/queries_seed42.parquet"))),
    // W4: frame-spec window (rowsBetween sliding frame) over events —
    // frame metrics chosen order-independent (count/max/lag), so the
    // cross-engine compare has no FP-sum hazard
    "q_events_windows" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val frame = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 0)
      val seq0 = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      s.read.parquet(s"$dir/events.parquet").select(
          col("user_id"), col("event_id"),
          count(lit(1)).over(frame).as("w_n"),
          round(max(col("value")).over(frame), 4).as("w_max"),
          lag(col("event_type"), 1).over(seq0).as("prev_type"))
        .na.fill("none", Seq("prev_type"))
        .orderBy("user_id", "event_id")
    }),
    // gap-based sessionization: native session_window (batch), one
    // user-keyed shuffle; twin = gaps-and-islands
    "q_events_sessions" -> ((s, dir) =>
      ops.EventOps.sessionize(s.read.parquet(s"$dir/events.parquet"), 30)),
    // ordered funnel: first signup -> first later purchase within 72h
    "q_events_funnel" -> ((s, dir) =>
      ops.EventOps.funnel(s.read.parquet(s"$dir/events.parquet"),
        "signup", "purchase", 72)),
    // dedup family: embedding-cosine near-dup pairs (provably complete
    // pivot-projection banding + exact cosine verify)
    "q_dedup_embedding" -> ((s, dir) => Similarity.cosinePairs(
      s.read.parquet(s"$dir/embeddings.parquet"), 0.42)),
    // P4: optional stopword predicate composed before the tf aggregation
    "q_term_tf_stopped" -> ((s, dir) => {
      val occ = IndexBuild.dropStopwords(
        IndexBuild.termOccurrences(documents(s, dir)), TextOps.LangMarkers.head._2)
      IndexBuild.termFrequencies(occ).orderBy("term", "doc_id")
    }),
    // Solr fq: filter restricts RESULTS, scoring stats stay full-corpus
    "q_bm25_fq" -> ((s, dir) => Search.searchCorpusFiltered(
      transcriptCorpusAttrs(s, dir), DisjQueries, col("role") === "user")),
    // Solr facet.field over the match set
    "q_facet_role" -> ((s, dir) =>
      Search.facetCounts(transcriptCorpusAttrs(s, dir), DisjQueries, "role")),
    // Solr fq over the PERSISTED index (production query path): semi-join
    // against the pruned docs/ attribute scan, full-corpus scoring stats
    "q_bm25_fq_index" -> ((s, dir) => IndexSearch.searchFiltered(
      indexFor(s, dir), DisjQueries, col("role") === "user")),
    // Solr filterCache: the same fq served through the materialized
    // DocSet — the first docSet() warms the cache, the search reads it
    "q_bm25_fq_cached" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      graft.search.FilterCache.docSet(idx, "role:user").count() // warm
      graft.search.FilterCache.searchFiltered(idx, DisjQueries, "role:user")
    }),
    // Solr queryResultCache: page 2 (start=5, rows=5) served from the
    // cached window-20 ranking the page-1 call warmed
    "q_bm25_qrc_page" -> ((s, dir) => {
      val idx = indexFor(s, dir)
      graft.search.QueryResultCache.search(idx, DisjQueries, k = 5).count()
      graft.search.QueryResultCache.search(idx, DisjQueries, k = 5, start = 5)
    }),
    // Solr facet.field over the persisted index's match set
    "q_facet_role_index" -> ((s, dir) =>
      IndexSearch.facetCounts(indexFor(s, dir), DisjQueries, "role")),
    // Boolean NOT (q=a -b), inline exhaustive path
    "q_bm25_not" -> ((s, dir) =>
      Search.searchCorpusBoolean(transcriptCorpus(s, dir), NotQueries)),
    // Boolean NOT over the persisted index
    "q_bm25_not_index" -> ((s, dir) =>
      IndexSearch.searchBoolean(indexFor(s, dir), NotQueries)),
    // Exact phrase queries over positional postings (nested-varint
    // positions stream per block; Lucene PhraseQuery scoring)
    "q_bm25_phrase" -> ((s, dir) =>
      IndexSearch.searchPhrase(indexFor(s, dir), PhraseQueries)),
    // Lucene MultiPhraseQuery: per-slot alternative unions (query-time
    // synonyms inside a phrase), thin/fat two-pass over the same
    // positional index
    "q_bm25_multiphrase" -> ((s, dir) =>
      graft.search.MultiPhrase.search(indexFor(s, dir), MultiPhraseQueries)),
    // ES match_phrase_prefix: last slot = bounded dictionary prefix
    // expansion feeding the multi-phrase engine
    "q_bm25_phrase_prefix" -> ((s, dir) =>
      graft.search.MultiPhrase.searchPhrasePrefix(indexFor(s, dir),
        PhrasePrefixQueries)),
    // Lucene intervals: unordered co-occurrence window (maxgaps) as a
    // proximity filter over conjunctive BM25 — min-advance sweep per
    // candidate doc
    "q_bm25_intervals" -> ((s, dir) =>
      graft.search.Intervals.searchUnordered(indexFor(s, dir),
        IntervalQueries, maxgaps = 2)),
    // the ordered variant on the SAME query set: contrasts the two match
    // sets (order-free vs query-order) on identical windows
    "q_bm25_intervals_ordered" -> ((s, dir) =>
      graft.search.Intervals.searchOrdered(indexFor(s, dir),
        IntervalQueries, maxgaps = 2)),
    // Ordered-window proximity ("a b"~2-style slop)
    "q_bm25_phrase_slop" -> ((s, dir) =>
      IndexSearch.searchPhrase(indexFor(s, dir), PhraseSlopQueries,
        slop = PhraseSlop)),
    // Full boolean clause grammar (+must should -not), inline + index
    "q_bm25_bool" -> ((s, dir) =>
      Search.searchCorpusClauses(transcriptCorpus(s, dir), BoolQueries)),
    "q_bm25_bool_index" -> ((s, dir) =>
      IndexSearch.searchClauses(indexFor(s, dir), BoolQueries)),
    // Quoted phrases INSIDE the boolean grammar (+"a b" c -d): term and
    // phrase clauses composed in one engine over the positional index
    "q_bm25_bool_phrase" -> ((s, dir) =>
      IndexSearch.searchClauses(indexFor(s, dir), BoolPhraseQueries)),
    // Solr surface over the SEGMENTED (streaming) view: boolean clauses,
    // fq, and facet written once against the view, one leaf per segment —
    // a streaming deployment serves the full request grammar between
    // compactions
    "q_bm25_bool_segmented" -> ((s, dir) =>
      IndexSearch.searchClauses(streamedView(s, dir), BoolQueries)),
    "q_bm25_fq_segmented" -> ((s, dir) =>
      IndexSearch.searchFiltered(streamedView(s, dir),
        DisjQueries, col("role") === "user")),
    "q_facet_role_segmented" -> ((s, dir) =>
      IndexSearch.facetCounts(streamedView(s, dir),
        DisjQueries, "role")),
    // round-5 facet engine composed onto the segmented keys identity:
    // repeated facet.field and the StatsComponent served between
    // compactions from the live match set
    "q_facet_multi_segmented" -> ((s, dir) =>
      IndexSearch.facetFields(streamedView(s, dir),
        DisjQueries, Seq("role", "tool"))),
    "q_stats_dl_segmented" -> ((s, dir) =>
      IndexSearch.statsField(streamedView(s, dir),
        DisjQueries, "dl")),
    // Interval faceting composed onto the live segmented fan-out —
    // bracket counts stay exact between compactions
    "q_facet_interval_segmented" -> ((s, dir) =>
      IndexSearch.facetIntervals(streamedView(s, dir),
        DisjQueries, "dl", IntervalSets)),
    // Conjunctive AND over the segmented view — the clause engine's
    // all-must subset (J3's semantics, run per leaf)
    "q_bm25_conj_segmented" -> ((s, dir) =>
      IndexSearch.searchClauses(streamedView(s, dir), ConjQueriesAsMust)),
    // Phrase over the segmented view (positional segments): the one
    // phrase engine, block-pruned fat decode per leaf, live-df idf
    "q_bm25_phrase_segmented" -> ((s, dir) =>
      IndexSearch.searchPhrase(streamedView(s, dir), PhraseQueries)),
    // Multi-field qf where each FIELD is a persisted index (its stats ARE
    // the per-field statistics) — same oracle as the inline variant
    "q_bm25_multifield_index" -> ((s, dir) => {
      // the two per-field indexes are independent builds — first call
      // builds them concurrently (guide §2.6), later calls hit the memo
      val Seq(title, body) = parallelFixtures(Seq(
        () => fieldIndexFor(s, dir, "title"),
        () => fieldIndexFor(s, dir, "body")))
      graft.search.MultiField.searchIndexes(
        Seq(title -> 2.0, body -> 1.0), DisjQueries)
    }),
    // Solr start=/rows= pagination: absolute ranks (start, start+rows]
    "q_bm25_page" -> ((s, dir) =>
      Search.searchCorpus(documents(s, dir), DisjQueries, k = 5, start = 5)),
    // Solr hl: ±5-token snippet around the first match, positions-driven
    "q_bm25_highlight" -> ((s, dir) =>
      IndexSearch.searchHighlight(indexFor(s, dir), DisjQueries)),
    // UnifiedHighlighter passage SCORING (hl.snippets=2): candidate
    // passages ranked by covered matches, greedy non-overlap, doc order
    "q_bm25_highlight_scored" -> ((s, dir) =>
      IndexSearch.searchHighlightScored(indexFor(s, dir), DisjQueries,
        window = 3, fragments = 2)),
    // Solr hl over the SEGMENTED view: the one highlighter, per-leaf
    // block-pruned position decode + point-lookup snippets, keys-shaped
    // output
    "q_bm25_highlight_segmented" -> ((s, dir) =>
      IndexSearch.searchHighlight(streamedView(s, dir), DisjQueries)),
    // G7: rollup diagnostics (corpus profile by lang × source); grouping()
    // relabels the rollup's nulls so both engines emit 'ALL'
    "q_corpus_cube" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          grouping(col("lang")).as("_gl"), grouping(col("source")).as("_gs"))
        .select(
          when(col("_gl") === 1, lit("ALL")).otherwise(col("lang")).as("lang"),
          when(col("_gs") === 1, lit("ALL")).otherwise(col("source")).as("source"),
          col("n_docs"), col("sum_chars"))
        .orderBy("lang", "source")
    }))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_doc_dl" -> Oracle.docDl(Oracle.documentsCorpus),
    "q_term_tf" -> Oracle.termTf(Oracle.documentsCorpus),
    "q_dictionary" -> Oracle.dictionary(Oracle.documentsCorpus),
    "q_stats" -> Oracle.collectionStats(Oracle.documentsCorpus),
    "q_bm25_top10" -> Oracle.bm25TopK(Oracle.documentsCorpus, DisjQueries, 10, conjunctive = false),
    "q_bm25_conj" -> Oracle.bm25TopK(Oracle.documentsCorpus, ConjQueries, 10, conjunctive = true),
    "q_docids_transcripts" -> Oracle.docIdsTranscripts,
    "q_bm25_transcripts" -> Oracle.bm25TopK(Oracle.transcriptsCorpus, DisjQueries, 10, conjunctive = false),
    "q_bm25_index" -> Oracle.bm25TopK(Oracle.transcriptsCorpus, DisjQueries, 10, conjunctive = false),
    "q_bm25_cluster" -> Oracle.bm25Clusters(Oracle.transcriptsCorpus, DisjQueries, 10, 2),
    "q_bm25_wand" -> Oracle.bm25TopK(Oracle.transcriptsCorpus, DisjQueries, 10, conjunctive = false),
    "q_bm25_maxscore" -> Oracle.bm25TopK(Oracle.transcriptsCorpus, DisjQueries, 10, conjunctive = false),
    "q_lmdirichlet" -> Oracle.simTopK(Oracle.transcriptsCorpus, DisjQueries, 10, Similarities.LMDirichlet()),
    "q_tfidf_classic" -> Oracle.simTopK(Oracle.transcriptsCorpus, DisjQueries, 10, Similarities.ClassicTfIdf),
    "q_lmjm" -> Oracle.simTopK(Oracle.transcriptsCorpus, DisjQueries, 10, Similarities.LMJelinekMercer()),
    "q_bm25_index_conj" -> Oracle.bm25TopK(Oracle.transcriptsCorpus, ConjQueries, 10, conjunctive = true),
    "q_lang_id" -> OracleOps.langId,
    "q_quality" -> OracleOps.quality,
    "q_quality_fasttext" -> OracleOps.classifierScore(512, 7L, 0.0),
    "q_token_counts" -> OracleOps.tokenCounts,
    "q_chunks" -> OracleOps.chunks(32, 16),
    "q_bm25_maxp" -> Oracle.bm25MaxP(DisjQueries, 32, 16, 10),
    "q_percolate" -> Oracle.percolate(PercolateQueries),
    "q_train_shards" -> OracleOps.trainShards(16, 1L),
    "q_decontaminate" -> OracleOps.decontaminate(8, 97),
    "q_repetition" -> OracleOps.repetition(3, 0.2),
    "q_redact_pii" -> OracleOps.redactPii,
    "q_fingerprints" -> OracleOps.fingerprints,
    "q_fingerprints_rolling" -> OracleOps.rollingFingerprints(3),
    "q_dedup_exact" -> OracleOps.dupGroups,
    "q_dedup_bloom" -> OracleOps.bloomDedup(4096, 3),
    "q_dedup_minhash" -> OracleOps.minhashPairs(0.7),
    "q_simhash" -> OracleOps.simhash,
    "q_dedup_simhash" -> OracleOps.simhashPairs(3),
    "q_dedup_ngram" -> OracleOps.ngramPairs(3, 0.3),
    "q_dedup_components" -> OracleOps.dedupComponents(OracleOps.minhashPairs(0.7)),
    "q_dedup_keep_best" -> OracleOps.dedupKeepBest(OracleOps.minhashPairs(0.7)),
    "q_conv_prefix_groups" -> OracleOps.convPrefixGroups(
      s"""SELECT conv_id, turn_idx,
         |  CASE WHEN turn_idx = 0 AND CAST(substring(conv_id, 5) AS INT) % 7 = 0
         |         THEN 'alpha scaffold boot prompt'
         |       WHEN turn_idx = 0 AND CAST(substring(conv_id, 5) AS INT) % 7 = 3
         |         THEN 'beta scaffold boot prompt'
         |       ELSE text END AS text
         |FROM (${graft.sources.Transcripts.sqlFromDocuments})""".stripMargin, 1),
    "q_pagerank" -> OracleOps.pagerank(OracleOps.minhashPairs(0.7), 3, 0.85),
    "q_contamination_spread" ->
      OracleOps.contaminationSpread(OracleOps.minhashPairs(0.7), 8, 97, 2),
    "q_sample_stratified" -> OracleOps.stratifiedSample("lang", SampleRates, 600),
    "q_sft_pairs" -> OracleOps.sftPairs,
    "q_fim_pairs" -> OracleOps.fimExamples,
    "q_ngram_lm" -> OracleOps.kneserNeyBigrams(0.75),
    "q_bpe_merges" -> OracleOps.bpeMerges(8),
    "q_bpe_encode" -> OracleOps.bpeEncode(8),
    "q_unigram_encode" -> OracleOps.unigramEncode(20, 4, 16),
    "q_wordpiece_encode" -> OracleOps.wordpieceEncode(20, 4, 16),
    "q_sample_temperature" -> OracleOps.temperatureSample("role", 0.5),
    "q_lm_perplexity" -> OracleOps.lmPerplexity("en", 0.5, 8.0),
    "q_ppl_buckets" -> OracleOps.pplBuckets("en", 0.5),
    "q_dsir_weights" -> OracleOps.dsirWeights("en", 4096, 0.5, 0.0),
    "q_lr_quality" -> OracleOps.lrQuality("en", 8, 3, 2.0),
    "q_gopher_rules" -> OracleOps.gopherRules(5, 100000),
    "q_ann_cosine" -> OracleOps.cosineTopK(Seq(0L, 1L, 2L), 10),
    "q_ann_mrl" -> OracleOps.mrlTopK(Seq(0L, 1L, 2L), 10, 16, 40),
    "q_ann_sq8" -> OracleOps.sq8TopK(Seq(0L, 1L, 2L), 10),
    "q_ann_rrf" -> OracleOps.rrfTopK(Seq(0L, 1L, 2L), 10, 20, 60),
    "q_ann_pq" -> OracleOps.pqTopK(Seq(0L, 1L, 2L), 10, 8, 16, 2),
    "q_ann_ivf_pq" -> OracleOps.ivfPqTopK(Seq(0L, 1L, 2L), 10, 4, 2, 8, 16, 2),
    "q_ann_ivf" -> OracleOps.ivfTopK(Seq(0L, 1L, 2L), 10, 2),
    "q_ann_kmeans" -> OracleOps.kmeans(4, 2),
    "q_dedup_semantic" -> OracleOps.semDedup(4, 2, 0.3),
    "q_ann_ivf_kmeans" -> OracleOps.ivfKmeans(Seq(0L, 1L, 2L), 10, 2, 4, 2),
    "q_bm25_multifield" -> Oracle.bm25MultiField(DisjQueries, 10,
      titleBoost = 2.0, bodyBoost = 1.0, titleTokens = 5),
    "q_bm25_dismax" -> Oracle.bm25MultiField(DisjQueries, 10,
      titleBoost = 2.0, bodyBoost = 1.0, titleTokens = 5, tie = 0.0),
    "q_bm25_combined" -> Oracle.bm25CombinedFields(DisjQueries, 10,
      titleBoost = 2.0, bodyBoost = 1.0, titleTokens = 5),
    "q_bm25_sort_ts" -> Oracle.bm25SortTs(DisjQueries, 10),
    "q_bm25_sort_multi" -> Oracle.bm25SortRoleTs(DisjQueries, 10),
    "q_bm25_explain" -> Oracle.bm25Explain(DisjQueries, 10),
    "q_top_terms" -> Oracle.topTerms(25),
    "q_top_terms_sketch" -> OracleOps.topTermsSketched(25),
    "q_ltr_features" -> Oracle.ltrFeatures(DisjQueries, 10),
    "q_bm25_ltr_rerank" -> Oracle.ltrRerank(DisjQueries, LtrWeights, 10, 30),
    "q_rtg_pending" -> Oracle.getDocsRealtime(RtgKeys, RtgPending),
    "q_hard_negatives" -> Oracle.hardNegatives(DisjQueries, 10, 5, 200),
    "q_bm25_prefix" -> Oracle.bm25Prefix(Oracle.transcriptsCorpus, PrefixQueries, 10),
    "q_bm25_synonyms" -> Oracle.bm25TopKSynonyms(DisjQueries, SynonymGroups, 10),
    "q_bm25_wildcard" -> Oracle.bm25Wildcard(Oracle.transcriptsCorpus, WildcardQueries, 10),
    "q_bm25_regexp" -> Oracle.bm25Regexp(Oracle.transcriptsCorpus, RegexpQueries, 10),
    "q_bm25_fuzzy" -> Oracle.bm25Fuzzy(Oracle.transcriptsCorpus, FuzzyQueries, 10),
    "q_bm25_term_range" ->
      Oracle.bm25TermRange(Oracle.transcriptsCorpus, TermRangeQueries, 10),
    "q_index_check" -> Oracle.checkIndex(Oracle.transcriptsCorpus),
    "q_bm25_common" ->
      Oracle.bm25CommonTerms(Oracle.transcriptsCorpus, CommonTermsQueries, 0.5, 10),
    "q_analysis_chain" -> Oracle.analysisChain(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN regexp_replace(t1, '\b(table|join|row|filter)\b', '\1s', 'g')
        |    ELSE t1 END AS text
        |FROM (SELECT doc_id,
        |        CASE WHEN doc_id % 5 = 0 THEN translate(text, 'aeio', 'áéíó')
        |             ELSE text END AS t1
        |      FROM documents WHERE doc_id % 7 = 0)""".stripMargin),
    "q_bm25_nested" ->
      Oracle.bm25Nested(Oracle.transcriptsCorpus, NestedQueries, 10),
    "q_bm25_phonetic" ->
      Oracle.bm25Phonetic(Oracle.transcriptsCorpus, PhoneticQueries, 10),
    "q_bm25_spanfirst" ->
      Oracle.bm25SpanFirst(Oracle.transcriptsCorpus, SpanFirstQueries, 10),
    "q_facet_multi" -> Oracle.facetFields(DisjQueries, Seq("role", "tool")),
    "q_numfound" -> Oracle.responseStats(DisjQueries, "conv_id"),
    "q_facet_json" -> Oracle.facetJson(DisjQueries, "role", "tool", 2, 2,
      JsonFacetMetrics),
    "q_facet_json_all" -> Oracle.facetJsonAll(DisjQueries, "role",
      JsonFacetMetrics),
    "q_bm25_folded" -> Oracle.bm25TopK(Oracle.foldedDocumentsCorpus,
      FoldQueries.map { case (id, q) => id -> Analyzer.foldAsciiString(q) },
      10, conjunctive = false),
    "q_bm25_stemmed" -> Oracle.bm25TopK(Oracle.stemmedDocumentsCorpus,
      StemQueries.map { case (id, q) => id -> Analyzer.stemString(q) },
      10, conjunctive = false),
    "q_pack_context" -> Oracle.packGreedy(128),
    "q_line_dedup" -> OracleOps.lineDedup(10, 11, LineDedupSpan),
    "q_dedup_substring" -> OracleOps.substringSpans(8, 7, SubstrDedupSpan),
    "q_bm25_frange" -> {
      val fnSql = graft.search.FunctionQuery.toSql(
        graft.search.FunctionQuery.parse("recip(dl,1,10,10)"),
        { case "dl" => Analyzer.sqlDocLen("corpus.text") })
      Oracle.bm25TopKFiltered(DisjQueries, 10,
        s"$fnSql >= 0.05 AND $fnSql <= 0.12")
    },
    "q_bm25_fielded" -> Oracle.bm25Fielded(FieldedQueries, 10),
    "q_bm25_children" -> Oracle.bm25Children(DisjQueries, 5, "max"),
    "q_match_all" -> Oracle.matchAllSorted(
      "role = 'user' AND dl >= 5", "dl DESC", 20, Seq("role", "dl")),
    "q_sorted_topk" -> Oracle.sortedTopK(15, None),
    "q_sorted_topk_tool" -> Oracle.sortedTopK(15, Some("tool")),
    "q_bm25_parent" -> Oracle.bm25Parents(DisjQueries, 10, "total"),
    "q_bm25_parent_avg" -> Oracle.bm25Parents(DisjQueries, 10, "avg"),
    "q_bm25_parent_segmented" -> Oracle.bm25Parents(DisjQueries, 10, "total"),
    "q_facet_range_other" -> Oracle.facetRangeOtherDl(DisjQueries, 20L, 100L, 40L),
    "q_facet_interval" -> Oracle.facetIntervalsDl(DisjQueries, IntervalSets),
    "q_facet_multiselect" -> Oracle.facetMultiSelect(DisjQueries,
      MultiSelectFilters.map(f => (f._1, f._3)), MultiSelectFacets),
    "q_pipeline_trainset" -> OracleOps.pipelineTrainset(0.55, SampleRates, 600, 0.7),
    "q_facet_json_segmented" -> Oracle.facetJson(DisjQueries, "role", "tool",
      2, 2, JsonFacetMetrics),
    "q_facet_query" -> Oracle.facetQueries(DisjQueries,
      FacetQueryDefs.map(d => (d._1, d._3))),
    "q_facet_range" -> Oracle.facetRangeDl(DisjQueries, 0L, 120L, 20L),
    "q_facet_range_date" -> Oracle.facetRangeDateTs(DisjQueries,
      "2024-01-01T00:00:00Z", "2024-01-03T00:00:00Z", "+2HOURS"),
    "q_facet_json_range" -> Oracle.facetJsonRangeDl(DisjQueries, 0L, 120L,
      20L, JsonFacetMetrics),
    "q_facet_json_query" -> Oracle.facetJsonQuery(DisjQueries,
      FacetQueryDefs.map(d => (d._1, d._3)), JsonFacetMetrics),
    "q_facet_json_sort" -> Oracle.facetJson(DisjQueries, "role", "tool",
      2, 2, JsonFacetMetrics, sortBy = Some("avg_dl")),
    "q_facet_json_query_segmented" -> Oracle.facetJsonQuery(DisjQueries,
      FacetQueryDefs.map(d => (d._1, d._3)), JsonFacetMetrics),
    "q_facet_json_range_segmented" -> Oracle.facetJsonRangeDl(DisjQueries,
      0L, 120L, 20L, JsonFacetMetrics),
    "q_facet_top" -> Oracle.facetTop(DisjQueries, "tool", 3),
    "q_facet_sort_index" -> Oracle.facetTop(DisjQueries, "conv_id", 4,
      sort = "index"),
    "q_facet_offset" -> Oracle.facetTop(DisjQueries, "conv_id", 4,
      offset = 3),
    "q_facet_prefix" -> Oracle.facetTop(DisjQueries, "conv_id", 5,
      prefix = Some("conv00001")),
    "q_facet_contains" -> Oracle.facetTop(DisjQueries, "conv_id", 5,
      contains = Some("01")),
    "q_facet_group" -> Oracle.groupFacet(DisjQueries, "role", "conv_id"),
    "q_stats_dl" -> Oracle.statsDl(DisjQueries),
    "q_stats_cardinality" -> Oracle.statsCardinality(DisjQueries, "conv_id"),
    "q_stats_facet" -> Oracle.statsFacetDl(DisjQueries, "role"),
    "q_group_conv" -> Oracle.groupTopK(DisjQueries, "conv_id", 5, 3),
    "q_group_query" -> Oracle.bm25GroupQueries(Oracle.transcriptsCorpus,
      DisjQueries, GroupQueries, 3),
    "q_bm25_alias" -> Oracle.bm25TopKKeys(DisjQueries, 10),
    "q_bm25_alias_tra" -> Oracle.bm25TimeRoutedKeys(DisjQueries, 10),
    "q_bm25_collapse" -> Oracle.collapseExpand(DisjQueries, "conv_id", 5, 2),
    "q_significant_terms" -> Oracle.significantTerms(DisjQueries, 5, 3L, 2L),
    "q_stats_percentiles" -> Oracle.percentilesDl(DisjQueries,
      Seq(50.0, 90.0, 99.0)),
    "q_suggest" -> Oracle.suggest(SuggestPrefixes, 5),
    "q_bm25_mlt" -> Oracle.moreLikeThis(MltSeeds, 10, 10, 1, 2L),
    "q_facet_pivot" -> Oracle.facetPivot(DisjQueries, "role", "tool"),
    "q_join_conv" -> Oracle.joinField(DisjQueries, "conv_id", 10),
    "q_spellcheck" -> Oracle.spellcheck(SpellRequests, 5, 2),
    "q_spellcheck_collate" -> Oracle.spellcheckCollate(SpellRequests, 2),
    "q_elevate" -> Oracle.elevate(DisjQueries, ElevationTable, 10),
    "q_bm25_cursor" -> Oracle.bm25CursorPage(DisjQueries, 3, 3),
    "q_bm25_boost" -> Oracle.bm25BoostRecipDl(DisjQueries, 10, 100.0, 10.0),
    "q_bm25_boost_mult" -> Oracle.bm25BoostRecipDl(DisjQueries, 10, 100.0, 10.0,
      multiplicative = true),
    "q_facet_mincount" -> Oracle.facetFields(DisjQueries, Seq("role", "tool"),
      mincount = 5L),
    "q_bm25_sort_fn" -> Oracle.bm25SortFn(DisjQueries, 10, SortFnString),
    "q_bm25_fl" -> Oracle.bm25FieldList(DisjQueries, 10, SortFnString),
    "q_bm25_feedback" -> Oracle.bm25Feedback(Oracle.transcriptsCorpus,
      DisjQueries, 10, 5, 3, 0.5),
    "q_facet_missing" -> Oracle.facetFields(DisjQueries, Seq("tool"),
      missing = true),
    "q_terms" -> Oracle.termsIndexSorted(SuggestPrefixes, 5),
    "q_terms_regex" -> Oracle.termsRegexCount(RegexRequests, 5),
    "q_bm25_bool_multiterm" -> Oracle.bm25TopKClausesMulti(
      Oracle.transcriptsCorpus, MultiTermBoolQueries, 10),
    "q_bm25_mm" -> Oracle.bm25TopKClausesMm(Oracle.transcriptsCorpus,
      MmQueries, 10, MmCount),
    // pf twin: the SHARED pfRewrite feeds the independent boolean+phrase
    // SQL twin (positional self-join phrase CTEs x clause CTEs)
    "q_bm25_pf" -> Oracle.bm25TopKBoolPhrase(Oracle.transcriptsCorpus,
      Search.pfRewrite(PfQueries), 10),
    // pf2/pf3 twin: the SHARED pfnRewrite feeds the independent
    // boolean+phrase SQL twin, same as pf
    "q_bm25_pf23" -> Oracle.bm25TopKBoolPhrase(Oracle.transcriptsCorpus,
      Search.pfnRewrite(PfQueries, Seq(2, 3)), 10),
    "q_bm25_fq_range" -> Oracle.bm25TopKFiltered(DisjQueries, 10,
      "turn_idx BETWEEN 1 AND 3 AND (tool IS NULL OR tool <> 'tool3')"),
    "q_doc_get" -> Oracle.getDocs(GetKeys, withText = true),
    "q_export" -> Oracle.exportSortedDl(ConjQueries),
    "q_stream_rollup" -> Oracle.streamExpr(StreamRollupExpr),
    "q_stream_join_top" -> Oracle.streamExpr(StreamJoinExpr),
    "q_stream_unique" -> Oracle.streamExpr(StreamUniqueExpr),
    "q_stream_fetch" -> Oracle.streamExpr(StreamFetchExpr),
    "q_stream_merge" -> Oracle.streamExpr(StreamMergeExpr),
    "q_stream_intersect" -> Oracle.streamExpr(StreamIntersectExpr),
    "q_stream_complement" -> Oracle.streamExpr(StreamComplementExpr),
    "q_stream_facet" -> Oracle.streamExpr(StreamFacetExpr),
    "q_stream_stats" -> Oracle.streamExpr(StreamStatsExpr),
    "q_stream_having" -> Oracle.streamExpr(StreamHavingExpr),
    "q_stream_reduce" -> Oracle.streamExpr(StreamReduceExpr),
    "q_doc_update" -> Oracle.getDocsUpdated(GetKeys, AtomicSets),
    "q_termvectors" -> Oracle.termVectors(GetKeys),
    "q_doc_get_segmented" -> Oracle.getDocs(GetKeys, withText = false),
    "q_bm25_mm_segmented" -> Oracle.bm25TopKClausesKeys(MmQueries, 10,
      mm = MmCount),
    "q_media_features" -> OracleOps.mediaFeatures,
    "q_media_frames" -> OracleOps.mediaFrames(256, 2),
    "q_events_props" -> OracleOps.eventsProps,
    "q_global_topn" -> OracleOps.globalTopN(20),
    "q_merge_upsert" -> Oracle.bm25TopK(Oracle.mergedTranscriptsCorpus(tombstoned = false),
      DisjQueries, 10, conjunctive = false),
    "q_merge_tombstone" -> Oracle.bm25TopK(Oracle.mergedTranscriptsCorpus(tombstoned = true),
      DisjQueries, 10, conjunctive = false),
    "q_posting_agg" -> Oracle.termTfDl(Oracle.documentsCorpus),
    "q_postings_ef" -> Oracle.termTfDl(Oracle.documentsCorpus),
    "q_postings_for" -> Oracle.termTfDl(Oracle.documentsCorpus),
    "q_postings_salted" -> Oracle.termTfDl(Oracle.documentsCorpus),
    "q_streaming_topk" -> Oracle.bm25TopKKeys(DisjQueries, 10),
    // redelivered keys collapse to the corpus's one row per key; keys are
    // unique in the transcripts view, so the twin is the plain corpus
    "q_streaming_dedup" ->
      s"""SELECT conv_id, turn_idx, role, tool,
         |       ${graft.analysis.Analyzer.sqlDocLen("text")} AS dl
         |FROM (${Oracle.transcriptsSql})
         |ORDER BY conv_id, turn_idx""".stripMargin,
    "q_delete_by_query" -> Oracle.bm25TopKKeysExcluding(DisjQueries, 10, "dup"),
    "q_bm25_wand_segmented" -> Oracle.bm25TopKKeys(DisjQueries, 10),
    "q_bm25_tiered" ->
      Oracle.bm25TopKKeysOver(Oracle.tieredTranscriptsSql, DisjQueries, 10),
    "q_bm25_asof" ->
      Oracle.bm25TopKKeysOver(Oracle.headSixthsTranscriptsSql(3), DisjQueries, 10),
    "q_bm25_synonyms_segmented" ->
      Oracle.bm25TopKKeysSynonyms(DisjQueries, SynonymGroups, 10),
    "q_segments_compact" -> Oracle.bm25TopK(Oracle.transcriptsCorpus, DisjQueries,
      10, conjunctive = false),
    "q_queryset_bm25" -> Oracle.bm25TopK(Oracle.documentsCorpus,
      graft.sources.QuerySet.reference, 10, conjunctive = false),
    "q_events_windows" -> OracleOps.eventsWindows,
    "q_events_sessions" -> OracleOps.eventsSessions(30),
    "q_events_funnel" -> OracleOps.eventsFunnel("signup", "purchase", 72),
    "q_corpus_cube" -> OracleOps.corpusCube,
    "q_dedup_embedding" -> OracleOps.embeddingPairs(0.42),
    "q_term_tf_stopped" -> OracleOps.termTfStopped(TextOps.LangMarkers.head._2),
    "q_bm25_fq" -> Oracle.bm25TopKFiltered(DisjQueries, 10, "role = 'user'"),
    "q_facet_role" -> Oracle.facetCounts(DisjQueries, "role"),
    "q_bm25_fq_index" -> Oracle.bm25TopKFiltered(DisjQueries, 10, "role = 'user'"),
    "q_bm25_fq_cached" -> Oracle.bm25TopKFiltered(DisjQueries, 10, "role = 'user'"),
    "q_bm25_qrc_page" -> Oracle.bm25TopK(Oracle.transcriptsCorpus, DisjQueries, 5, conjunctive = false, start = 5),
    "q_facet_role_index" -> Oracle.facetCounts(DisjQueries, "role"),
    "q_bm25_not" -> Oracle.bm25TopKClauses(Oracle.transcriptsCorpus, NotQueries, 10),
    "q_bm25_not_index" -> Oracle.bm25TopKClauses(Oracle.transcriptsCorpus, NotQueries, 10),
    "q_bm25_phrase" -> Oracle.bm25Phrase(Oracle.transcriptsCorpus, PhraseQueries, 10),
    "q_bm25_multiphrase" -> Oracle.bm25MultiPhrase(Oracle.transcriptsCorpus, MultiPhraseQueries, 10),
    "q_bm25_phrase_prefix" -> Oracle.bm25PhrasePrefix(Oracle.transcriptsCorpus, PhrasePrefixQueries, 10),
    "q_bm25_intervals" -> Oracle.bm25IntervalsUnordered(Oracle.transcriptsCorpus, IntervalQueries, 2, 10),
    "q_bm25_intervals_ordered" -> Oracle.bm25IntervalsOrdered(Oracle.transcriptsCorpus, IntervalQueries, 2, 10),
    "q_bm25_phrase_slop" -> Oracle.bm25Phrase(Oracle.transcriptsCorpus,
      PhraseSlopQueries, 10, slop = PhraseSlop),
    // SQL-PARSED clause twin (clause splitting/prefixes/analyzer all in
    // DuckDB): the parse step is cross-checked, not shared with the engine
    "q_bm25_bool" -> Oracle.bm25TopKClausesSqlParsed(Oracle.transcriptsCorpus,
      BoolQueries, 10),
    "q_bm25_bool_index" -> Oracle.bm25TopKClauses(Oracle.transcriptsCorpus, BoolQueries, 10),
    "q_bm25_bool_phrase" -> Oracle.bm25TopKBoolPhrase(Oracle.transcriptsCorpus,
      BoolPhraseQueries, 10),
    "q_bm25_clause_boost" -> Oracle.bm25TopKClauses(Oracle.transcriptsCorpus,
      ClauseBoostQueries, 10),
    "q_bm25_bool_phrase_boost" -> Oracle.bm25TopKBoolPhrase(
      Oracle.transcriptsCorpus, BoolPhraseBoostQueries, 10),
    "q_bm25_boost_fn" -> Oracle.bm25BoostFn(DisjQueries, 10, BoostFnString),
    "q_bm25_bq" -> Oracle.bm25BoostQuery(Oracle.transcriptsCorpus,
      DisjQueries, 10, BqString),
    "q_bm25_rerank" -> Oracle.bm25Reranked(Oracle.transcriptsCorpus,
      DisjQueries, RerankString, 5, 2.0, 10),
    "q_bm25_bool_segmented" -> Oracle.bm25TopKClausesKeys(BoolQueries, 10),
    "q_bm25_conj_segmented" -> Oracle.bm25TopKClausesKeys(ConjQueriesAsMust, 10),
    "q_bm25_phrase_segmented" -> Oracle.bm25PhraseKeys(PhraseQueries, 10),
    "q_bm25_multifield_index" -> Oracle.bm25MultiField(DisjQueries, 10,
      titleBoost = 2.0, bodyBoost = 1.0, titleTokens = 5),
    "q_bm25_fq_segmented" -> Oracle.bm25TopKFilteredKeys(DisjQueries, 10, "role = 'user'"),
    "q_facet_role_segmented" -> Oracle.facetCounts(DisjQueries, "role"),
    "q_facet_multi_segmented" -> Oracle.facetFields(DisjQueries, Seq("role", "tool")),
    "q_stats_dl_segmented" -> Oracle.statsDl(DisjQueries),
    "q_facet_interval_segmented" -> Oracle.facetIntervalsDl(DisjQueries,
      IntervalSets),
    "q_bm25_page" -> Oracle.bm25TopK(Oracle.documentsCorpus, DisjQueries, 5,
      conjunctive = false, start = 5),
    "q_bm25_highlight" -> Oracle.bm25Highlight(Oracle.transcriptsCorpus,
      DisjQueries, 10, window = 5),
    "q_bm25_highlight_scored" ->
      Oracle.bm25HighlightScored(DisjQueries, 10, window = 3, fragments = 2),
    "q_bm25_highlight_segmented" -> Oracle.bm25HighlightKeys(DisjQueries, 10,
      window = 5))
}
