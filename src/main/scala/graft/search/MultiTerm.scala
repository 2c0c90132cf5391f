package graft.search

import graft.analysis.Analyzer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The rest of the Lucene/Solr MultiTermQuery family beyond prefixes:
  * WILDCARD terms (`te*t`, `t?st` — Lucene WildcardQuery) and FUZZY terms
  * (`roam~1` — Lucene FuzzyQuery), expanded against the dictionary into a
  * bounded term disjunction and scored by the standard engine.
  *
  * Pinned rewrite (same as [[IndexSearch.searchPrefix]]):
  * SCORING_BOOLEAN_QUERY_REWRITE — every expanded term scores with its OWN
  * idf, the oracle-expressible pre-4.0 Lucene semantics, NOT the modern
  * CONSTANT_SCORE default (documented deliberate divergence). Expanded and
  * literal terms dedupe per query; expansions beyond `maxExpansions` fail
  * loudly (Lucene TooManyClauses analog — silent truncation would silently
  * change the match set).
  *
  * Fuzzy distance pinning: PLAIN Levenshtein (insert/delete/substitute),
  * because both engines of the oracle pair evaluate it natively
  * (`functions.levenshtein` / DuckDB `levenshtein`). Lucene's FuzzyQuery
  * default additionally counts a transposition as ONE edit
  * (Damerau-Levenshtein, transpositions=true) — a documented divergence;
  * `ab~1` here does not match `ba`-style swaps that Lucene would.
  */
object MultiTerm {

  /** Parse a wildcard-query string: whitespace clauses; a clause
    * containing '*' (any run, incl. empty) or '?' (exactly one char) is a
    * WILDCARD pattern matched against whole dictionary terms after
    * lowercasing; every other clause contributes analyzed plain terms.
    * Patterns are pinned to the token alphabet `[a-z0-9*?]` so the LIKE
    * translation needs NO escape handling — cross-engine LIKE escape
    * semantics differ (Spark defaults to backslash, DuckDB to none), and
    * an alphabet-checked pattern cannot contain `%`/`_`/`\`. Returns
    * (terms, patterns), both deduped. Shared with [[graft.Oracle]]'s twin
    * builder so parse semantics cannot drift between engines. */
  def parseWildcardQuery(text: String): (Seq[String], Seq[String]) = {
    val clauses = text.split("\\s+").toSeq.filter(_.nonEmpty)
    val (wild, plain) = clauses.partition(c => c.contains("*") || c.contains("?"))
    val pats = wild.map(_.toLowerCase)
    pats.foreach { p =>
      require(p.matches("[a-z0-9*?]+"),
        s"wildcard pattern '$p' must be over the token alphabet [a-z0-9*?]")
    }
    (plain.flatMap(Analyzer.tokenize).distinct, pats.distinct)
  }

  /** SQL LIKE translation of an alphabet-checked wildcard pattern:
    * '*' → '%', '?' → '_' (whole-term match — LIKE is anchored). */
  def likePattern(p: String): String = p.replace("*", "%").replace("?", "_")

  /** Literal prefix before the first wildcard char — it bounds the
    * dictionary walk, so a trailing-wildcard pattern prunes like a prefix
    * query; only a LEADING-wildcard pattern walks the whole dictionary
    * (exactly Lucene's reverse-wildcard caveat). */
  def literalPrefix(p: String): String = p.takeWhile(c => c != '*' && c != '?')

  /** The live terms of `v` that start with `prefix` and satisfy `accept`,
    * ascending — a walk of each leaf's resident dictionary on the driver
    * (the prefix range found by binary search; an empty prefix walks the
    * whole vocabulary, Lucene's leading-wildcard caveat), no Spark job. A
    * term no live doc holds does not count. More than `maxExpansions`
    * fails loudly (Lucene TooManyClauses analog). */
  private def liveTerms(v: IndexSearch.View, prefix: String, what: String,
                        maxExpansions: Int)(accept: String => Boolean): Seq[String] = {
    val found = v.leaves.flatMap(_.index.resident.termsFrom(prefix).filter(accept)).distinct
    val df = v.df(found)
    val live = found.filter(df.contains).sorted
    require(live.size <= maxExpansions,
      s"$what expands to more than maxExpansions=$maxExpansions " +
        "dictionary terms (Lucene TooManyClauses analog)")
    live
  }

  /** Batch wildcard expansion: per DISTINCT pattern, the live terms it
    * matches whole (SQL LIKE semantics — `*` any run, `?` one character),
    * walked from its literal prefix. Shared by the standalone wildcard
    * engine, match_phrase_prefix and the boolean clause grammar's group
    * clauses. */
  def expandWildcards(v: IndexSearch.View, pats: Seq[String],
                      maxExpansions: Int): Map[String, Seq[String]] =
    pats.distinct.map { p =>
      // alphabet-checked: no regex metacharacter besides the translated two
      val re = java.util.regex.Pattern.compile(
        p.replace("*", ".*").replace("?", "."), java.util.regex.Pattern.DOTALL)
      p -> liveTerms(v, literalPrefix(p), s"wildcard '$p'", maxExpansions)(
        re.matcher(_).matches())
    }.toMap

  /** Lucene/Solr WILDCARD queries over the persisted index: the
    * patterns expand on the driver ([[expandWildcards]]), then the
    * standard disjunctive engine scores the expanded term set. */
  def searchWildcard(idx: IndexSearch.OpenIndex, queries: Seq[(Int, String)],
                     k: Int = 10,
                     maxExpansions: Int = IndexSearch.DefaultMaxExpansions): DataFrame = {
    val parsed = queries.map { case (qid, t) => (qid, parseWildcardQuery(t)) }
    val expansions: Map[String, Seq[String]] =
      expandWildcards(idx, parsed.flatMap(_._2._2), maxExpansions)
    val qtRows = parsed.flatMap { case (qid, (terms, pats)) =>
      (terms ++ pats.flatMap(expansions)).distinct.map(t => (qid, t))
    }
    IndexSearch.searchExpandedTerms(idx, qtRows, k)
  }

  /** Parse a regexp-query string (Lucene RegexpQuery / Solr `/re/`
    * syntax): whitespace clauses; a clause wrapped in slashes is a
    * REGEXP matched against WHOLE dictionary terms (Lucene's RegexpQuery
    * anchoring) after lowercasing; every other clause contributes
    * analyzed plain terms. Patterns are restricted to the same portable
    * Java∩RE2 subset as [[Suggest.termsRegex]] (literals, classes,
    * anchors, `.`/`*`/`+`/`?`/`|`) so both engines agree; anything
    * outside it fails loudly. Returns (terms, patterns), deduped. */
  def parseRegexpQuery(text: String): (Seq[String], Seq[String]) = {
    val clauses = text.split("\\s+").toSeq.filter(_.nonEmpty)
    val (res, plain) = clauses.partition(c =>
      c.length >= 3 && c.startsWith("/") && c.endsWith("/"))
    val pats = res.map(c => c.substring(1, c.length - 1).toLowerCase)
    pats.foreach { p =>
      require(p.matches("""[a-z0-9\[\]\-^$.*+?|()]+"""),
        s"regexp '/$p/' outside the portable subset [a-z0-9[]-^$$.*+?|()]")
      java.util.regex.Pattern.compile(p) // fail loudly, Solr 400s
    }
    (plain.flatMap(Analyzer.tokenize).distinct, pats.distinct)
  }

  /** Batch regexp expansion: one bounded dictionary probe per DISTINCT
    * pattern, whole-term anchored (`^(p)$`). A regex has no key range
    * that could bound a walk of the resident dictionary, so it stays a
    * distributed pass over the `dictionary` relation (exactly Lucene's
    * RegexpQuery terms-dictionary walk) — one pass per pattern, with the
    * match inside the scan filter; expansions beyond `maxExpansions`
    * fail loudly (TooManyClauses). */
  def expandRegexps(idx: IndexSearch.OpenIndex, pats: Seq[String],
                    maxExpansions: Int): Map[String, Seq[String]] =
    pats.distinct.map { p =>
      val terms = idx.dictionary.where(col("term").rlike(s"^($p)$$"))
        .select("term").limit(maxExpansions + 1)
        .collect().map(_.getString(0)).toSeq
      require(terms.size <= maxExpansions,
        s"regexp '/$p/' expands to more than maxExpansions=$maxExpansions " +
          "dictionary terms (Lucene TooManyClauses analog)")
      p -> terms
    }.toMap

  /** Lucene RegexpQuery over the persisted index: dictionary-anchored
    * regexp expansion into a bounded term disjunction, scored by the
    * standard engine under the pinned SCORING_BOOLEAN rewrite (each
    * expanded term its own idf — the same pinning as every MultiTermQuery
    * here). */
  def searchRegexp(idx: IndexSearch.OpenIndex, queries: Seq[(Int, String)],
                   k: Int = 10,
                   maxExpansions: Int = IndexSearch.DefaultMaxExpansions): DataFrame = {
    val parsed = queries.map { case (qid, t) => (qid, parseRegexpQuery(t)) }
    val expansions = expandRegexps(idx, parsed.flatMap(_._2._2), maxExpansions)
    val qtRows = parsed.flatMap { case (qid, (terms, pats)) =>
      (terms ++ pats.flatMap(expansions)).distinct.map(t => (qid, t))
    }
    IndexSearch.searchExpandedTerms(idx, qtRows, k)
  }

  /** Expand a mixed set of boolean-grammar group bodies against the
    * view's live vocabulary, on the driver. */
  def expandBodies(v: IndexSearch.View,
                   bodies: Seq[Search.MultiTermBody], maxExpansions: Int)
      : Map[Search.MultiTermBody, Seq[String]] = {
    val wm = expandWildcards(v,
      bodies.collect { case Search.WildcardBody(p) => p }, maxExpansions)
    val fm = expandFuzzies(v,
      bodies.collect { case Search.FuzzyBody(s, n) => (s, n) }, maxExpansions)
    bodies.distinct.map {
      case b @ Search.WildcardBody(p) => b -> wm(p)
      case b @ Search.FuzzyBody(s, n) => b -> fm((s, n))
    }.toMap
  }

  /** Parse a fuzzy-query string: whitespace clauses; a clause containing
    * '~' is a FUZZY clause `body~[n]` with maxEdits n ∈ 0..2 (bare '~'
    * means Lucene's default 2; > 2 fails — Lucene's LevenshteinAutomata
    * bound). The analyzer runs on the body; its LAST token is the fuzzy
    * stem (earlier tokens contribute as plain terms, like the prefix
    * parse); every other clause contributes analyzed plain terms. Returns
    * (terms, (stem, maxEdits) pairs), both deduped. */
  def parseFuzzyQuery(text: String): (Seq[String], Seq[(String, Int)]) = {
    val clauses = text.split("\\s+").toSeq.filter(_.nonEmpty)
    val (fz, plain) = clauses.partition(_.contains("~"))
    val stems: Seq[(Seq[String], String, Int)] = fz.flatMap { c =>
      val i = c.lastIndexOf('~')
      val (body, suf) = (c.substring(0, i), c.substring(i + 1))
      val n =
        if (suf.isEmpty) 2
        else {
          require(suf.matches("[0-2]"),
            s"fuzzy clause '$c': maxEdits must be 0..2 (Lucene automata bound)")
          suf.toInt
        }
      val toks = Analyzer.tokenize(body)
      toks.lastOption.map(st => (toks.dropRight(1), st, n))
    }
    val terms = (plain.flatMap(Analyzer.tokenize) ++ stems.flatMap(_._1)).distinct
    (terms, stems.map(s => (s._2, s._3)).distinct)
  }

  /** Batch fuzzy expansion: per DISTINCT (stem, maxEdits), the live terms
    * within that plain Levenshtein distance — Spark's own
    * `levenshtein` kernel ([[org.apache.spark.unsafe.types.UTF8String]]),
    * behind a length-window prune (edit distance ≥ |length delta|), over
    * the whole resident vocabulary on the driver (Lucene walks a
    * Levenshtein automaton over the FST instead). Shared by the
    * standalone fuzzy engine and the boolean clause grammar. */
  def expandFuzzies(v: IndexSearch.View, stems: Seq[(String, Int)],
                    maxExpansions: Int): Map[(String, Int), Seq[String]] =
    stems.distinct.map { case (st, n) =>
      val us = UTF8String.fromString(st)
      (st, n) -> liveTerms(v, "", s"fuzzy '$st~$n'", maxExpansions) { t =>
        val ut = UTF8String.fromString(t)
        math.abs(ut.numChars - us.numChars) <= n && ut.levenshteinDistance(us) <= n
      }
    }.toMap

  /** Lucene/Solr FUZZY queries over the persisted index: the stems expand
    * on the driver ([[expandFuzzies]]), then the standard disjunctive
    * engine scores the expanded term set. */
  def searchFuzzy(idx: IndexSearch.OpenIndex, queries: Seq[(Int, String)],
                  k: Int = 10,
                  maxExpansions: Int = IndexSearch.DefaultMaxExpansions): DataFrame = {
    val parsed = queries.map { case (qid, t) => (qid, parseFuzzyQuery(t)) }
    val expansions: Map[(String, Int), Seq[String]] =
      expandFuzzies(idx, parsed.flatMap(_._2._2), maxExpansions)
    val qtRows = parsed.flatMap { case (qid, (terms, fzs)) =>
      (terms ++ fzs.flatMap(s => expansions.getOrElse(s, Nil))).distinct
        .map(t => (qid, t))
    }
    IndexSearch.searchExpandedTerms(idx, qtRows, k)
  }

  /** A Lucene TermRangeQuery endpoint pair: `[lo TO hi]` (inclusive) or
    * `{lo TO hi}` (exclusive), per-side — `[lo TO hi}` mixes them exactly
    * like Lucene's half-open syntax. */
  final case class TermRange(lo: String, hi: String,
                             incLo: Boolean, incHi: Boolean)

  private val RangeRe =
    """([\[{])\s*([A-Za-z0-9]+)\s+[Tt][Oo]\s+([A-Za-z0-9]+)\s*([\]}])""".r

  /** Parse a term-range query string: `[lo TO hi]` / `{lo TO hi}` clauses
    * (Lucene TermRangeQuery — endpoints lowercase onto the token
    * alphabet; a reversed range matches nothing, as in Lucene) plus plain
    * analyzed terms from the remaining text. Returns (terms, ranges),
    * both deduped. */
  def parseRangeQuery(text: String): (Seq[String], Seq[TermRange]) = {
    val ranges = RangeRe.findAllMatchIn(text).map { m =>
      val (lo, hi) = (m.group(2).toLowerCase, m.group(3).toLowerCase)
      require(lo.matches("[a-z0-9]+") && hi.matches("[a-z0-9]+"),
        s"range endpoints '$lo'/'$hi' must be over the token alphabet [a-z0-9]")
      TermRange(lo, hi, m.group(1) == "[", m.group(4) == "]")
    }.toSeq.distinct
    val rest = RangeRe.replaceAllIn(text, " ")
    (Analyzer.tokenize(rest).distinct, ranges)
  }

  /** Batch term-range expansion: per DISTINCT range, a walk of the
    * resident dictionary's sorted terms from `lo` to `hi` on the driver,
    * no Spark job — stopped after `maxExpansions + 1` terms, so an
    * over-broad range fails loudly (TooManyClauses analog), never
    * materializes. */
  def expandRanges(idx: IndexSearch.OpenIndex, ranges: Seq[TermRange],
                   maxExpansions: Int): Map[TermRange, Seq[String]] =
    ranges.distinct.map { r =>
      val terms = idx.resident.termsBetween(r.lo, r.incLo, r.hi, r.incHi)
        .take(maxExpansions + 1).toSeq
      require(terms.size <= maxExpansions,
        s"term range '${r.lo} TO ${r.hi}' expands to more than " +
          s"maxExpansions=$maxExpansions dictionary terms " +
          "(Lucene TooManyClauses analog)")
      r -> terms
    }.toMap

  /** Lucene TermRangeQuery over the persisted index, pinned to the same
    * SCORING_BOOLEAN_QUERY_REWRITE as the prefix/wildcard/fuzzy engines:
    * the range expands against the dictionary into a bounded disjunction
    * where every expanded term scores with its OWN idf (the
    * oracle-expressible pre-4.0 Lucene semantics; modern CONSTANT_SCORE
    * is a documented divergence). */
  def searchTermRange(idx: IndexSearch.OpenIndex, queries: Seq[(Int, String)],
                      k: Int = 10,
                      maxExpansions: Int = IndexSearch.DefaultMaxExpansions): DataFrame = {
    val parsed = queries.map { case (qid, t) => (qid, parseRangeQuery(t)) }
    val expansions: Map[TermRange, Seq[String]] =
      expandRanges(idx, parsed.flatMap(_._2._2), maxExpansions)
    val qtRows = parsed.flatMap { case (qid, (terms, rs)) =>
      (terms ++ rs.flatMap(expansions)).distinct.map(t => (qid, t))
    }
    IndexSearch.searchExpandedTerms(idx, qtRows, k)
  }
}
