package graft

import graft.analysis.Analyzer
import graft.sources.Transcripts

/** DuckDB oracle SQL builders — the SQL twin of every Spark query that
  * `SparkEntry.queries` registers. One builder per shape so the Spark and
  * SQL sides can only drift in one place. All SQL references the driver's
  * parquet tables by bare name (`documents`), per the SparkEntry contract.
  *
  * The BM25 expression tree is spelled identically to
  * [[graft.search.Bm25]]: ln(1 + (N - df + 0.5)/(df + 0.5)) * tf /
  * (tf + 1.2*(1 - 0.75 + 0.75*dl/avgdl)); ranking on round(score, 7)
  * DESC, doc_id ASC; reported score rounded to 4 decimals.
  */
object Oracle {

  private def esc(s: String) = s.replace("'", "''")

  def queryValues(queries: Seq[(Int, String)]): String =
    queries.map { case (id, t) => s"($id, '${esc(t)}')" }.mkString(", ")

  /** CTE prelude turning a (doc_id, text) relation into toks/dl/stats/tf/df.
    * `corpusSql` must yield columns (doc_id, text). */
  /** The summed-BM25 `scored` CTE over an existing `qt(query_id, term)`
    * relation — the one scoring expression every ranking twin splices, so
    * a change to the pinned arithmetic lands in exactly one place.
    * Expects the [[indexCtes]] relations (tf/df/dl/stats) in scope. */
  val scoredFromQtCte: String =
    """scored AS (
      |  SELECT qt.query_id, tf.doc_id,
      |         sum( ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
      |              * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) ) AS score
      |  FROM qt JOIN tf USING (term) JOIN df USING (term)
      |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
      |  GROUP BY qt.query_id, tf.doc_id)""".stripMargin
      .replace("\n", "\n       |")

  def indexCtes(corpusSql: String): String =
    s"""corpus AS ($corpusSql),
       |toks AS (SELECT doc_id, unnest(${Analyzer.sqlTokenList("text")}) AS term FROM corpus),
       |dl AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY doc_id),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl,
       |                 CAST(sum(dl) AS BIGINT) AS total_tokens FROM dl),
       |tf AS (SELECT term, doc_id, count(*)::INT AS tf FROM toks GROUP BY term, doc_id),
       |df AS (SELECT term, count(*)::BIGINT AS df, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY term)""".stripMargin

  val documentsCorpus = "SELECT doc_id, text FROM documents"

  /** Documents corpus with deterministic accent injection (docs ≡ 0 mod 5
    * carry á/é/í/ó) then [[graft.analysis.Analyzer.sqlFoldAscii]] — the
    * ASCIIFoldingFilter gate's corpus: folding must round-trip the
    * injected accents back to the base vocabulary. */
  def foldedDocumentsCorpus: String =
    s"""SELECT doc_id, ${Analyzer.sqlFoldAscii("text")} AS text FROM (
       |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
       |           THEN translate(text, 'aeio', 'áéíó') ELSE text END AS text
       |  FROM documents)""".stripMargin

  /** Documents corpus with deterministic plural injection (docs ≡ 0 mod 2
    * pluralize table/join/row/filter) then
    * [[graft.analysis.Analyzer.sqlStemmedText]] — the
    * EnglishMinimalStemFilter gate's corpus. */
  def stemmedDocumentsCorpus: String =
    s"""SELECT doc_id, ${Analyzer.sqlStemmedText("text")} AS text FROM (
       |  SELECT doc_id, CASE WHEN doc_id % 2 = 0
       |           THEN regexp_replace(text, '\\b(table|join|row|filter)\\b', '\\1s', 'g')
       |           ELSE text END AS text
       |  FROM documents)""".stripMargin

  /** Twin of [[graft.ops.TextOps.packGreedy]]: the greedy in-order fold,
    * walked turn-by-turn as a recursive CTE (rn links each turn to its
    * predecessor's running bin/accumulator state). */
  def packGreedy(budget: Int): String =
    s"""WITH RECURSIVE t0 AS (
       |  SELECT conv_id, turn_idx, ${Analyzer.sqlDocLen("text")} AS dl,
       |         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
       |  FROM ($transcriptsSql)),
       |packed AS (
       |  SELECT conv_id, turn_idx, dl, rn, 0 AS bin, dl AS acc FROM t0 WHERE rn = 1
       |  UNION ALL
       |  SELECT t.conv_id, t.turn_idx, t.dl, t.rn,
       |         CASE WHEN p.acc > 0 AND p.acc + t.dl > $budget THEN p.bin + 1 ELSE p.bin END,
       |         CASE WHEN p.acc > 0 AND p.acc + t.dl > $budget THEN t.dl ELSE p.acc + t.dl END
       |  FROM packed p JOIN t0 t ON t.conv_id = p.conv_id AND t.rn = p.rn + 1)
       |SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
       |       CAST(dl AS INT) AS dl, CAST(bin AS INT) AS bin
       |FROM packed ORDER BY conv_id, turn_idx""".stripMargin

  /** Transcripts derived from documents (twin of Transcripts.fromDocuments)
    * with the ingest filter applied, as a CTE body. */
  def transcriptsSql: String =
    s"""SELECT * FROM (${Transcripts.sqlFromDocuments})
       |WHERE text IS NOT NULL AND length(text) > 0""".stripMargin

  /** (doc_id, text) corpus over transcripts: dense doc ids by the stable
    * (conv_id, turn_idx) order — twin of IndexBuild.assignDocIds. */
  def transcriptsCorpus: String =
    s"""SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id, text
       |FROM ($transcriptsSql)""".stripMargin

  /** Corpus over the MERGED transcripts (merge gates q_merge_*): the old
    * index covers docs < 4n/5; the new batch covers docs ≥ 3n/4, with
    * " upserted" appended inside the overlap window [3n/4, 4n/5) — so by
    * upsert-by-key semantics the merged corpus is ALL docs, the overlap
    * window carrying the new text. The tombstoned variant additionally
    * drops doc_id ≡ 0 (mod 97) keys (hits old-only, overlap, and new-only
    * regions). Dense ids re-rank over the surviving rows — exactly what
    * IndexMerge's fresh doc-id stage produces. */
  def mergedTranscriptsCorpus(tombstoned: Boolean): String = {
    val del = if (tombstoned) "WHERE doc_id % 97 <> 0" else ""
    s"""SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id, text
       |FROM (SELECT 'conv' || lpad(CAST(doc_id // 4 AS VARCHAR), 6, '0') AS conv_id,
       |             CAST(doc_id % 4 AS INT) AS turn_idx, text
       |      FROM (SELECT doc_id,
       |              CASE WHEN doc_id >= (SELECT 3*count(*)//4 FROM documents)
       |                    AND doc_id < (SELECT 4*count(*)//5 FROM documents)
       |                   THEN text || ' upserted' ELSE text END AS text
       |            FROM documents $del)
       |      WHERE text IS NOT NULL AND length(text) > 0)""".stripMargin
  }

  /** doc_id ↔ stable key mapping over the transcripts corpus (dense ids
    * assigned in key order — twin of IndexBuild.assignDocIds). */
  def keymapCte: String =
    s"""keymap AS (SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id,
       |                  conv_id, turn_idx
       |           FROM ($transcriptsSql))""".stripMargin

  /** Denormalized scoring relation (term, doc_id, tf, dl) — the oracle for
    * posting-assembly round-trips (E5 aggregate path, salted stream path). */
  def termTfDl(corpusSql: String): String =
    s"""WITH ${indexCtes(corpusSql)}
       |SELECT term, tf.doc_id AS doc_id, tf, dl FROM tf
       |JOIN dl ON tf.doc_id = dl.doc_id ORDER BY term, doc_id""".stripMargin

  def docDl(corpusSql: String): String =
    s"WITH ${indexCtes(corpusSql)} SELECT doc_id, dl FROM dl ORDER BY doc_id"

  def termTf(corpusSql: String): String =
    s"WITH ${indexCtes(corpusSql)} SELECT term, doc_id, tf FROM tf ORDER BY term, doc_id"

  def dictionary(corpusSql: String): String =
    s"WITH ${indexCtes(corpusSql)} SELECT term, df, cf FROM df ORDER BY term"

  def collectionStats(corpusSql: String): String =
    s"""WITH ${indexCtes(corpusSql)}
       |SELECT n_docs, CAST((SELECT sum(dl) FROM dl) AS BIGINT) AS total_tokens,
       |       round(avgdl, 6) AS avgdl
       |FROM stats""".stripMargin

  def docIdsTranscripts: String =
    s"""SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id,
       |       conv_id, turn_idx, role, tool, ${Analyzer.sqlDocLen("text")} AS dl
       |FROM ($transcriptsSql)
       |ORDER BY doc_id""".stripMargin

  /** BM25 top-k over the transcripts corpus, results identified by the
    * stable (conv_id, turn_idx) KEY instead of the dense doc_id — the twin
    * of [[graft.search.IndexSearch.search]] over a segmented root's
    * [[graft.index.SegmentedIndex.open]] view, whose segment-local ids
    * never escape. Ranking is unchanged: dense ids are assigned in key
    * order, so (round(score,7) DESC, doc_id ASC) ≡ (…, conv_id, turn_idx
    * ASC). Disjunctive only. */
  def bm25TopKKeys(queries: Seq[(Int, String)], k: Int): String =
    bm25TopKKeysOver(transcriptsSql, queries, k)

  /** [[bm25TopKKeys]] over an arbitrary transcripts-shaped relation —
    * fixture gates whose live corpus differs from the base transcripts
    * (tiered-merge upserts/deletes, snapshot cuts) splice theirs here. */
  def bm25TopKKeysOver(srcTranscriptsSql: String,
                       queries: Seq[(Int, String)], k: Int): String = {
    val corpus =
      s"""SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id, text
         |FROM ($srcTranscriptsSql)""".stripMargin
    val keymap =
      s"""keymap AS (SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id,
         |                  conv_id, turn_idx
         |           FROM ($srcTranscriptsSql))""".stripMargin
    s"""WITH ${indexCtes(corpus)},
       |$keymap,
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", conv_id, turn_idx, round(score, 4) AS score
       |FROM ranked JOIN keymap USING (doc_id) WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Live transcripts of the TIERED-MERGE fixture: docs ≡ 0 (mod 50)
    * upserted with ' upserted' appended, docs ≡ 0 (mod 97) deleted —
    * mod classes so kills land in EVERY original segment and the merge's
    * tombstone-ordinal remap is actually exercised. */
  def tieredTranscriptsSql: String = {
    val modDocs =
      """(SELECT doc_id,
        |        CASE WHEN doc_id % 50 = 0 THEN text || ' upserted' ELSE text END AS text
        | FROM documents WHERE doc_id % 97 <> 0)""".stripMargin
    s"""SELECT * FROM (${Transcripts.sqlFromDocumentsOver(modDocs)})
       |WHERE text IS NOT NULL AND length(text) > 0""".stripMargin
  }

  /** Transcripts restricted to the first `sixths`/6 of doc ids — the
    * state of the tiered fixture as of snapshot v`sixths` (each of the
    * six base appends committed one snapshot). Integer arithmetic matches
    * the Spark fixture's `i * n / 6` slice bounds exactly. */
  def headSixthsTranscriptsSql(sixths: Int): String = {
    val cut =
      s"""(SELECT doc_id, text FROM documents
         | WHERE doc_id < (SELECT $sixths*count(*)//6 FROM documents))""".stripMargin
    s"""SELECT * FROM (${Transcripts.sqlFromDocumentsOver(cut)})
       |WHERE text IS NOT NULL AND length(text) > 0""".stripMargin
  }

  /** Twin of [[graft.index.SegmentedIndex.deleteByQuery]] + search: BM25
    * top-k (keys-shaped) over the transcripts corpus with every doc
    * containing `excludeTerm` DELETED — deleteByQuery semantics are
    * rebuild-on-survivors (df/N/avgdl all shrink), so the whole CTE chain
    * (and the keymap) derives from the filtered corpus, unlike fq (which
    * keeps full-corpus stats). */
  def bm25TopKKeysExcluding(queries: Seq[(Int, String)], k: Int,
                            excludeTerm: String): String = {
    val survivors =
      s"""SELECT * FROM ($transcriptsSql)
         |WHERE NOT list_contains(${Analyzer.sqlTokenList("text")}, '${esc(excludeTerm)}')""".stripMargin
    val corpus =
      s"""SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id, text
         |FROM ($survivors)""".stripMargin
    val keymap =
      s"""keymap AS (SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id,
         |                  conv_id, turn_idx
         |           FROM ($survivors))""".stripMargin
    s"""WITH ${indexCtes(corpus)},
       |$keymap,
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", conv_id, turn_idx, round(score, 4) AS score
       |FROM ranked JOIN keymap USING (doc_id) WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of Search.searchCorpusFiltered — Solr fq semantics: scores/df/
    * avgdl from the FULL corpus; the predicate filters before ranking. */
  def bm25TopKFiltered(queries: Seq[(Int, String)], k: Int,
                       filterSql: String): String =
    bm25TopKFilteredCore(queries, k, filterSql, keyed = false)

  private def bm25TopKFilteredCore(queries: Seq[(Int, String)], k: Int,
                                   filterSql: String, keyed: Boolean): String = {
    val (keymap, select, fromTail) =
      if (!keyed) ("",
        """query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score""",
        "")
      else (s"$keymapCte,\n",
        """query_id, CAST(rnk AS INT) AS "rank", conv_id, turn_idx, round(score, 4) AS score""",
        "JOIN keymap USING (doc_id)")
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |$keymap queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |ranked AS (
       |  SELECT query_id, scored.doc_id AS doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, scored.doc_id ASC) AS rnk
       |  FROM scored JOIN corpus ON scored.doc_id = corpus.doc_id
       |  WHERE $filterSql)
       |SELECT $select
       |FROM ranked $fromTail WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of Search.facetCounts (Solr facet.field on the match set). */
  def facetCounts(queries: Seq[(Int, String)], facetCol: String): String =
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |matched AS (SELECT DISTINCT qt.query_id, tf.doc_id
       |  FROM qt JOIN tf USING (term))
       |SELECT query_id, $facetCol, count(*)::BIGINT AS n_docs
       |FROM matched JOIN corpus USING (doc_id)
       |GROUP BY query_id, $facetCol ORDER BY query_id, $facetCol""".stripMargin

  /** Keys-shaped fq twin (segmented-index gate): Solr filter-query
    * semantics over the transcripts corpus with results identified by the
    * stable key. */
  def bm25TopKFilteredKeys(queries: Seq[(Int, String)], k: Int,
                           filterSql: String): String =
    bm25TopKFilteredCore(queries, k, filterSql, keyed = true)

  /** The qt/nmust/negs CTE trio of the clause grammar, parsed DRIVER-side
    * (shared parser with the engine — see [[clauseParseCtes]] for the
    * fully-SQL-parsed twin that de-shares this seam). */
  private def clauseValueCtes(queries: Seq[(Int, String)]): String = {
    require(queries.nonEmpty, "clause oracle needs at least one query")
    val parsed = queries.map { case (id, t) =>
      (id, graft.search.Search.parseClauses(t))
    }
    val qtValues0 = parsed.flatMap { case (id, c) =>
      c.must.map(t =>
        s"($id, '${esc(t)}', TRUE, CAST(${c.boost(t)} AS DOUBLE))") ++
        c.should.map(t =>
          s"($id, '${esc(t)}', FALSE, CAST(${c.boost(t)} AS DOUBLE))")
    }
    // guard the VALUES list: an all-pure-negative query set has no
    // must/should terms anywhere, and `VALUES ()` is a parse error — a
    // never-matching row keeps the CTE well-formed and the result empty
    val qtValues =
      if (qtValues0.nonEmpty) qtValues0
      else Seq("(0, '', FALSE, CAST(1 AS DOUBLE))")
    val nMustValues = parsed.map { case (id, c) => s"($id, ${c.must.size})" }
    val negValues = parsed.flatMap { case (id, c) =>
      c.not.map(t => s"($id, '${esc(t)}')")
    }
    val negCte =
      if (negValues.isEmpty) "negs(query_id, term) AS (SELECT 0, '' WHERE 1 = 0)"
      else s"negs(query_id, term) AS (VALUES ${negValues.mkString(", ")})"
    s"""qt(query_id, term, is_must, boost) AS (VALUES ${qtValues.mkString(", ")}),
       |nmust(query_id, n_must) AS (VALUES ${nMustValues.mkString(", ")}),
       |$negCte""".stripMargin
  }

  /** The qt/nmust/negs trio parsed entirely IN SQL from the raw query
    * strings (whitespace clause split, +/- prefix handling, analyzer,
    * must-over-should dedupe, n_must incl. out-of-vocabulary musts) — the
    * independent cross-check of [[graft.search.Search.parseClauses]]:
    * with this prelude a driver-parser bug cannot pass both engines. */
  private def clauseParseCtes(queries: Seq[(Int, String)]): String = {
    require(queries.nonEmpty, "clause oracle needs at least one query")
    s"""cqueries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |clauses AS (SELECT query_id, cl FROM
       |  (SELECT query_id, unnest(list_filter(string_split_regex(qtext, '\\s+'), c -> c <> '')) AS cl
       |   FROM cqueries)),
       |cbodies AS (SELECT query_id,
       |  CASE WHEN (substr(cl, 1, 1) = '+' OR substr(cl, 1, 1) = '-') AND length(cl) > 1
       |       THEN CASE WHEN substr(cl, 1, 1) = '+' THEN 'must' ELSE 'not' END
       |       ELSE 'should' END AS kind,
       |  CASE WHEN (substr(cl, 1, 1) = '+' OR substr(cl, 1, 1) = '-') AND length(cl) > 1
       |       THEN substr(cl, 2) ELSE cl END AS body
       |  FROM clauses),
       |cterms AS (SELECT DISTINCT query_id, kind, term FROM
       |  (SELECT query_id, kind, unnest(${Analyzer.sqlTokenList("body")}) AS term FROM cbodies)),
       |musts AS (SELECT query_id, term FROM cterms WHERE kind = 'must'),
       |qt AS (SELECT query_id, term, TRUE AS is_must, CAST(1 AS DOUBLE) AS boost
       |       FROM musts
       |       UNION ALL
       |       SELECT t.query_id, t.term, FALSE, CAST(1 AS DOUBLE) FROM cterms t
       |       WHERE t.kind = 'should' AND NOT EXISTS (
       |         SELECT 1 FROM musts m
       |         WHERE m.query_id = t.query_id AND m.term = t.term)),
       |nmust AS (SELECT q.query_id,
       |            (SELECT count(*) FROM musts m WHERE m.query_id = q.query_id) AS n_must
       |          FROM cqueries q),
       |negs AS (SELECT query_id, term FROM cterms WHERE kind = 'not')""".stripMargin
  }

  /** Clause-grammar scored/ranked tail, shared by every clause twin.
    * `mm` > 0 adds the minimumNumberShouldMatch predicate (docs must
    * match ≥ mm should terms — the engines' exact pinning). */
  private def clauseTail(k: Int, select: String, fromTail: String,
                         mm: Int = 0): String = {
    val mmPred = if (mm == 0) "" else s"\n    AND should_matched >= $mm"
    s"""scored AS (
       |  SELECT qt.query_id, tf.doc_id,
       |         sum( ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
       |              * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl))
       |              * qt.boost ) AS score,
       |         count(CASE WHEN is_must THEN 1 END)::BIGINT AS must_matched,
       |         count(CASE WHEN NOT is_must THEN 1 END)::BIGINT AS should_matched
       |  FROM qt JOIN tf USING (term) JOIN df USING (term)
       |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
       |  GROUP BY qt.query_id, tf.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored JOIN nmust USING (query_id)
       |  WHERE must_matched = n_must$mmPred
       |    AND NOT EXISTS (
       |      SELECT 1 FROM negs JOIN tf USING (term)
       |      WHERE negs.query_id = scored.query_id AND tf.doc_id = scored.doc_id))
       |SELECT $select
       |FROM ranked $fromTail WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** [[bm25TopKClauses]] with minimumNumberShouldMatch — the oracle twin
    * of the engines' `mm` parameter (Solr edismax `mm=` as an absolute
    * count over should term clauses). */
  def bm25TopKClausesMm(corpusSql: String, queries: Seq[(Int, String)],
                        k: Int, mm: Int): String =
    s"""WITH ${indexCtes(corpusSql)},
       |${clauseValueCtes(queries)},
       |${clauseTail(k,
          """query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score""",
          "", mm)}""".stripMargin

  def bm25TopKClauses(corpusSql: String, queries: Seq[(Int, String)],
                      k: Int): String =
    s"""WITH ${indexCtes(corpusSql)},
       |${clauseValueCtes(queries)},
       |${clauseTail(k,
          """query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score""",
          "")}""".stripMargin

  /** [[bm25TopKClauses]] with the clause PARSING done in SQL (see
    * [[clauseParseCtes]]) — used by at least one boolean gate so the
    * parse step is cross-checked end to end, not shared. */
  def bm25TopKClausesSqlParsed(corpusSql: String, queries: Seq[(Int, String)],
                               k: Int): String =
    s"""WITH ${indexCtes(corpusSql)},
       |${clauseParseCtes(queries)},
       |${clauseTail(k,
          """query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score""",
          "")}""".stripMargin

  /** Keys-shaped clause twin (segmented-index gates): dense doc ids are
    * assigned in key order, so ranking on doc_id ≡ ranking on the key.
    * `mm` > 0 is the minimumNumberShouldMatch twin of the segmented
    * engine's `mm` parameter. */
  def bm25TopKClausesKeys(queries: Seq[(Int, String)], k: Int,
                          mm: Int = 0): String =
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |$keymapCte,
       |${clauseValueCtes(queries)},
       |${clauseTail(k,
          """query_id, CAST(rnk AS INT) AS "rank", conv_id, turn_idx, round(score, 4) AS score""",
          "JOIN keymap USING (doc_id)", mm)}""".stripMargin

  /** Twin of the phrase-bearing boolean clause engine
    * ([[graft.search.IndexSearch.searchClauses]] on a query batch with
    * quoted phrases): term clause CTEs × positional phrase CTEs, combined
    * with a FULL OUTER join exactly like the engine — score =
    * coalesce(term BM25 sum, 0) + coalesce(matching must/should phrase
    * scores, 0); a doc matches iff must_t + must_ph reaches the n_must
    * that counts term musts AND ALL parsed must phrases (a dead/OOV must
    * phrase eliminates its query), and neither a not-term nor a
    * not-phrase occurs. Clause parsing shared with the engine
    * ([[graft.search.Search.parseClauses]]); the plain-bool gate keeps
    * the fully-SQL-parsed twin for the parser cross-check. */
  def bm25TopKBoolPhrase(corpusSql: String, queries: Seq[(Int, String)],
                         k: Int): String = {
    val parsed = queries.map { case (id, t) =>
      (id, graft.search.Search.parseClauses(t))
    }
    val phraseClauses = parsed.flatMap { case (id, c) =>
      c.mustPhrases.map(p => (id, "m", p, c.phraseBoost(p))) ++
        c.shouldPhrases.map(p => (id, "s", p, c.phraseBoost(p))) ++
        c.notPhrases.map(p => (id, "n", p, 1.0))
    }.zipWithIndex.map { case ((id, kind, p, b), pid) => (pid, id, kind, p, b) }
    require(phraseClauses.nonEmpty,
      "no phrase clauses — use bm25TopKClauses for plain boolean queries")
    val qtValues0 = parsed.flatMap { case (id, c) =>
      c.must.map(t =>
        s"($id, '${esc(t)}', TRUE, CAST(${c.boost(t)} AS DOUBLE))") ++
        c.should.map(t =>
          s"($id, '${esc(t)}', FALSE, CAST(${c.boost(t)} AS DOUBLE))")
    }
    val qtValues = if (qtValues0.nonEmpty) qtValues0
      else Seq("(0, '', FALSE, CAST(1 AS DOUBLE))")
    val nMustValues = parsed.map { case (id, c) =>
      s"($id, ${c.must.size + c.mustPhrases.size})" }
    val negValues = parsed.flatMap { case (id, c) =>
      c.not.map(t => s"($id, '${esc(t)}')") }
    val negCte =
      if (negValues.isEmpty) "negs(query_id, term) AS (SELECT 0, '' WHERE 1 = 0)"
      else s"negs(query_id, term) AS (VALUES ${negValues.mkString(", ")})"
    val ptermValues = phraseClauses.flatMap { case (pid, _, _, ts, _) =>
      ts.zipWithIndex.map { case (t, i) => s"($pid, $i, '${esc(t)}')" }
    }
    // per phrase clause: exact-adjacency pf (slop 0) via the positional
    // self-join chain, same shape as bm25PhraseCore
    val pfSelects = phraseClauses.map { case (pid, id, kind, terms, _) =>
      val joins = (1 until terms.size).map { i =>
        s"JOIN ptoks p$i ON p$i.doc_id = p0.doc_id " +
          s"AND p$i.pos > p${i - 1}.pos AND p$i.pos <= p0.pos + $i " +
          s"AND p$i.term = '${esc(terms(i))}'"
      }.mkString(" ")
      s"""SELECT $pid AS pid, $id AS query_id, '$kind' AS kind,
         |    p0.doc_id AS doc_id, count(DISTINCT p0.pos)::INT AS pf
         |  FROM ptoks p0 $joins
         |  WHERE p0.term = '${esc(terms.head)}'
         |  GROUP BY p0.doc_id""".stripMargin
    }
    val pboostValues = phraseClauses.map { case (pid, _, _, _, b) =>
      s"($pid, CAST($b AS DOUBLE))" }
    s"""WITH ${indexCtes(corpusSql)},
       |qt(query_id, term, is_must, boost) AS (VALUES ${qtValues.mkString(", ")}),
       |nmust(query_id, n_must) AS (VALUES ${nMustValues.mkString(", ")}),
       |$negCte,
       |pboosts(pid, boost) AS (VALUES ${pboostValues.mkString(", ")}),
       |toksl AS (SELECT doc_id, ${Analyzer.sqlTokenList("text")} AS l FROM corpus),
       |ptoks AS (SELECT doc_id, unnest(l) AS term, unnest(range(1, len(l)+1)) AS pos FROM toksl),
       |pterms(pid, slot, term) AS (VALUES ${ptermValues.mkString(", ")}),
       |idfs AS (SELECT pid, sum(ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))) AS idf_sum
       |         FROM pterms JOIN df USING (term) CROSS JOIN stats s GROUP BY pid),
       |pf AS (${pfSelects.mkString("\nUNION ALL\n")}),
       |ps AS (
       |  SELECT pf.query_id, pf.kind, pf.doc_id,
       |         idfs.idf_sum * pf.pf / (pf.pf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl))
       |           * pb.boost AS pscore
       |  FROM pf JOIN dl ON pf.doc_id = dl.doc_id
       |       JOIN idfs USING (pid) JOIN pboosts pb USING (pid)
       |       CROSS JOIN stats s),
       |posph AS (SELECT query_id, doc_id, sum(pscore) AS phsum,
       |                 count(CASE WHEN kind = 'm' THEN 1 END)::BIGINT AS must_ph
       |          FROM ps WHERE kind <> 'n' GROUP BY query_id, doc_id),
       |negph AS (SELECT DISTINCT query_id, doc_id FROM ps WHERE kind = 'n'),
       |tscored AS (
       |  SELECT qt.query_id, tf.doc_id,
       |         sum( ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
       |              * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl))
       |              * qt.boost ) AS tscore,
       |         count(CASE WHEN is_must THEN 1 END)::BIGINT AS must_t
       |  FROM qt JOIN tf USING (term) JOIN df USING (term)
       |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
       |  GROUP BY qt.query_id, tf.doc_id),
       |comb AS (
       |  SELECT coalesce(t.query_id, p.query_id) AS query_id,
       |         coalesce(t.doc_id, p.doc_id) AS doc_id,
       |         coalesce(t.tscore, 0) + coalesce(p.phsum, 0) AS score,
       |         coalesce(t.must_t, 0) + coalesce(p.must_ph, 0) AS mm
       |  FROM tscored t FULL OUTER JOIN posph p
       |       ON t.query_id = p.query_id AND t.doc_id = p.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM comb JOIN nmust USING (query_id)
       |  WHERE mm = n_must
       |    AND NOT EXISTS (
       |      SELECT 1 FROM negs JOIN tf USING (term)
       |      WHERE negs.query_id = comb.query_id AND tf.doc_id = comb.doc_id)
       |    AND NOT EXISTS (
       |      SELECT 1 FROM negph
       |      WHERE negph.query_id = comb.query_id AND negph.doc_id = comb.doc_id))
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.searchPhrase]] (Lucene PhraseQuery
    * scoring: idf = Σ per-term idfs with duplicates counted, tf = exact
    * phrase frequency). Token positions come from DuckDB's aligned
    * parallel unnest (list + range of equal length); 1-based vs Spark's
    * 0-based is irrelevant — only consecutive offsets matter. A phrase
    * with an out-of-vocabulary term self-eliminates (its pf self-join
    * matches nothing). */
  def bm25Phrase(corpusSql: String, phrases: Seq[(Int, String)],
                 k: Int, slop: Int = 0): String =
    bm25PhraseCore(corpusSql, phrases, k, slop, keyed = false)

  /** Keys-shaped phrase twin (segmented-index phrase gate). */
  def bm25PhraseKeys(phrases: Seq[(Int, String)], k: Int,
                     slop: Int = 0): String =
    bm25PhraseCore(transcriptsCorpus, phrases, k, slop, keyed = true)

  private def bm25PhraseCore(corpusSql: String, phrases: Seq[(Int, String)],
                             k: Int, slop: Int, keyed: Boolean): String = {
    val parsed = phrases
      .map { case (id, t) => (id, Analyzer.tokenize(t)) }
      .filter(_._2.nonEmpty)
    require(parsed.nonEmpty, "no non-empty phrases")
    // ordered-window join chain: p_i > p_{i-1} and p_i ≤ p0 + i + slop
    // (the per-level bound is implied by the final one plus ordering);
    // DISTINCT start positions because slop > 0 admits multiple
    // completions per start. At slop = 0 the window pins p_i = p0 + i,
    // the exact-adjacency case, and DISTINCT is a no-op.
    val pfSelects = parsed.map { case (id, terms) =>
      val joins = (1 until terms.size).map { i =>
        s"JOIN ptoks p$i ON p$i.doc_id = p0.doc_id " +
          s"AND p$i.pos > p${i - 1}.pos AND p$i.pos <= p0.pos + ${i + slop} " +
          s"AND p$i.term = '${esc(terms(i))}'"
      }.mkString(" ")
      s"""SELECT $id AS query_id, p0.doc_id AS doc_id,
         |    count(DISTINCT p0.pos)::INT AS pf
         |  FROM ptoks p0 $joins
         |  WHERE p0.term = '${esc(terms.head)}'
         |  GROUP BY p0.doc_id""".stripMargin
    }
    val ptermValues = parsed.flatMap { case (id, ts) =>
      ts.zipWithIndex.map { case (t, i) => s"($id, $i, '${esc(t)}')" }
    }
    val (keymap, select, fromTail) =
      if (!keyed) ("",
        """query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score""",
        "")
      else (s"$keymapCte,\n",
        """query_id, CAST(rnk AS INT) AS "rank", conv_id, turn_idx, round(score, 4) AS score""",
        "JOIN keymap USING (doc_id)")
    s"""WITH ${indexCtes(corpusSql)},
       |$keymap toksl AS (SELECT doc_id, ${Analyzer.sqlTokenList("text")} AS l FROM corpus),
       |ptoks AS (SELECT doc_id, unnest(l) AS term, unnest(range(1, len(l)+1)) AS pos FROM toksl),
       |pterms(query_id, slot, term) AS (VALUES ${ptermValues.mkString(", ")}),
       |idfs AS (SELECT query_id, sum(ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))) AS idf_sum
       |         FROM pterms JOIN df USING (term) CROSS JOIN stats s GROUP BY query_id),
       |pf AS (${pfSelects.mkString("\nUNION ALL\n")}),
       |scored AS (
       |  SELECT pf.query_id, pf.doc_id,
       |         idfs.idf_sum * pf.pf / (pf.pf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) AS score
       |  FROM pf JOIN dl ON pf.doc_id = dl.doc_id
       |       JOIN idfs USING (query_id) CROSS JOIN stats s),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |SELECT $select
       |FROM ranked $fromTail WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.MultiPhrase.search]] (Lucene MultiPhraseQuery):
    * the [[bm25Phrase]] ordered-chain join with each level's term equality
    * widened to an IN-list over the slot's alternatives (DuckDB evaluates
    * the same union-position semantics the engine's per-slot flatten
    * produces), idf summed over EVERY in-dictionary alternative of every
    * slot (the df join drops OOV rows, mirroring the engine's dictionary
    * filter), and the identical virtual-term scoring tail. A slot whose
    * alternatives are all corpus-absent matches nothing by construction
    * (its join level never satisfies). */
  def bm25MultiPhrase(corpusSql: String,
                      queries: Seq[(Int, Seq[Seq[String]])],
                      k: Int, slop: Int = 0): String = {
    val parsed = queries.map { case (id, slots) =>
      (id, slots.map(_.map { alt =>
        val ts = Analyzer.tokenize(alt)
        require(ts.size == 1, s"alternative '$alt' must analyze to 1 token")
        ts.head
      }.distinct))
    }.filter { case (_, slots) => slots.nonEmpty && slots.forall(_.nonEmpty) }
    require(parsed.nonEmpty, "no non-empty multi-phrases")
    def inList(alts: Seq[String]) =
      alts.map(t => s"'${esc(t)}'").mkString("(", ", ", ")")
    val pfSelects = parsed.map { case (id, slots) =>
      val joins = (1 until slots.size).map { i =>
        s"JOIN ptoks p$i ON p$i.doc_id = p0.doc_id " +
          s"AND p$i.pos > p${i - 1}.pos AND p$i.pos <= p0.pos + ${i + slop} " +
          s"AND p$i.term IN ${inList(slots(i))}"
      }.mkString(" ")
      s"""SELECT $id AS query_id, p0.doc_id AS doc_id,
         |    count(DISTINCT p0.pos)::INT AS pf
         |  FROM ptoks p0 $joins
         |  WHERE p0.term IN ${inList(slots.head)}
         |  GROUP BY p0.doc_id""".stripMargin
    }
    val ptermValues = parsed.flatMap { case (id, slots) =>
      slots.zipWithIndex.flatMap { case (alts, i) =>
        alts.map(t => s"($id, $i, '${esc(t)}')") }
    }
    s"""WITH ${indexCtes(corpusSql)},
       |toksl AS (SELECT doc_id, ${Analyzer.sqlTokenList("text")} AS l FROM corpus),
       |ptoks AS (SELECT doc_id, unnest(l) AS term, unnest(range(1, len(l)+1)) AS pos FROM toksl),
       |pterms(query_id, slot, term) AS (VALUES ${ptermValues.mkString(", ")}),
       |idfs AS (SELECT query_id, sum(ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))) AS idf_sum
       |         FROM pterms JOIN df USING (term) CROSS JOIN stats s GROUP BY query_id),
       |pf AS (${pfSelects.mkString("\nUNION ALL\n")}),
       |scored AS (
       |  SELECT pf.query_id, pf.doc_id,
       |         idfs.idf_sum * pf.pf / (pf.pf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) AS score
       |  FROM pf JOIN dl ON pf.doc_id = dl.doc_id
       |       JOIN idfs USING (query_id) CROSS JOIN stats s),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.Intervals.searchUnordered]]: per query an
    * m-way positional self-join enumerates every one-position-per-term
    * configuration, HAVING min(width) − m ≤ maxgaps — the brute-force
    * statement of the engine's min-advance sweep; scoring is the
    * standard disjunctive BM25 CTE semi-joined to the interval-matching
    * doc set (the pinned filter composition). A query with an OOV term
    * self-eliminates through its join level. */
  def bm25IntervalsUnordered(corpusSql: String, queries: Seq[(Int, String)],
                             maxgaps: Int, k: Int): String =
    bm25IntervalsCore(corpusSql, queries, maxgaps, k, ordered = false)

  /** Twin of [[graft.search.Intervals.searchOrdered]]: the join levels
    * additionally require p₁ < … < p_m (query order), HAVING the minimal
    * ordered width within maxgaps — the brute statement of the engine's
    * greedy-chain predicate. */
  def bm25IntervalsOrdered(corpusSql: String, queries: Seq[(Int, String)],
                           maxgaps: Int, k: Int): String =
    bm25IntervalsCore(corpusSql, queries, maxgaps, k, ordered = true)

  private def bm25IntervalsCore(corpusSql: String, queries: Seq[(Int, String)],
                                maxgaps: Int, k: Int, ordered: Boolean): String = {
    val parsed = queries
      .map { case (id, t) => (id, Analyzer.tokenize(t)) }
      .filter(_._2.nonEmpty)
    require(parsed.nonEmpty, "no non-empty interval queries")
    parsed.foreach { case (_, ts) =>
      require(ts.size == ts.distinct.size, "interval query repeats a term") }
    val ivSelects = parsed.map { case (id, ts) =>
      val m = ts.size
      val joins = (1 until m).map { i =>
        val ord = if (ordered) s" AND p$i.pos > p${i - 1}.pos" else ""
        s"JOIN ptoks p$i ON p$i.doc_id = p0.doc_id AND p$i.term = '${esc(ts(i))}'$ord"
      }.mkString(" ")
      val width =
        if (m == 1) "1"
        else if (ordered) s"p${m - 1}.pos - p0.pos + 1"
        else {
          val all = (0 until m).map(i => s"p$i.pos")
          s"greatest(${all.mkString(", ")}) - least(${all.mkString(", ")}) + 1"
        }
      s"""SELECT $id AS query_id, p0.doc_id AS doc_id
         |  FROM ptoks p0 $joins
         |  WHERE p0.term = '${esc(ts.head)}'
         |  GROUP BY p0.doc_id
         |  HAVING min($width) - $m <= $maxgaps""".stripMargin
    }
    val qtValues = parsed.flatMap { case (id, ts) =>
      ts.map(t => s"($id, '${esc(t)}')") }
    s"""WITH ${indexCtes(corpusSql)},
       |toksl AS (SELECT doc_id, ${Analyzer.sqlTokenList("text")} AS l FROM corpus),
       |ptoks AS (SELECT doc_id, unnest(l) AS term, unnest(range(1, len(l)+1)) AS pos FROM toksl),
       |qt(query_id, term) AS (VALUES ${qtValues.mkString(", ")}),
       |$scoredFromQtCte,
       |iv AS (${ivSelects.mkString("\nUNION ALL\n")}),
       |ranked AS (
       |  SELECT s.query_id, s.doc_id, s.score,
       |         row_number() OVER (PARTITION BY s.query_id
       |                            ORDER BY round(s.score, 7) DESC, s.doc_id ASC) AS rnk
       |  FROM scored s JOIN iv USING (query_id, doc_id))
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.MultiPhrase.searchPhrasePrefix]]
    * (Elasticsearch match_phrase_prefix): the [[bm25MultiPhrase]] chain
    * with the FINAL join level's membership test widened from an IN-list
    * to `LIKE 'stem%'` — the dictionary is exactly the corpus's distinct
    * term set, so the LIKE predicate enumerates the same expansion the
    * engine's bounded dictionary probe collects (fixture stems expand far
    * below the engine's maxExpansions guard at every scale). The idf sum
    * draws the final slot's contribution from a df LIKE-scan, one row
    * per expansion, mirroring the engine's per-expansion idf sum; a stem
    * with no extension contributes no final-level rows and no idf —
    * matching nothing, like the engine's dead-slot drop. */
  def bm25PhrasePrefix(corpusSql: String, queries: Seq[(Int, String)],
                       k: Int, slop: Int = 0): String = {
    val parsed = queries.map { case (id, t) =>
      (id, graft.search.MultiPhrase.parsePhrasePrefix(t))
    }
    require(parsed.nonEmpty, "no phrase-prefix queries")
    def likeOf(stem: String) = s"'${esc(stem)}%'"
    val pfSelects = parsed.map { case (id, (fixed, stem)) =>
      val m = fixed.size + 1
      val joins = (1 until m).map { i =>
        val memb =
          if (i < fixed.size) s"p$i.term = '${esc(fixed(i))}'"
          else s"p$i.term LIKE ${likeOf(stem)}"
        s"JOIN ptoks p$i ON p$i.doc_id = p0.doc_id " +
          s"AND p$i.pos > p${i - 1}.pos AND p$i.pos <= p0.pos + ${i + slop} " +
          s"AND $memb"
      }.mkString(" ")
      val head =
        if (fixed.nonEmpty) s"p0.term = '${esc(fixed.head)}'"
        else s"p0.term LIKE ${likeOf(stem)}"
      s"""SELECT $id AS query_id, p0.doc_id AS doc_id,
         |    count(DISTINCT p0.pos)::INT AS pf
         |  FROM ptoks p0 $joins
         |  WHERE $head
         |  GROUP BY p0.doc_id""".stripMargin
    }
    // per-(query, slot) idf rows: fixed slots one exact-term df row each,
    // the final slot one row PER dictionary expansion of the stem
    val idfSelects = parsed.flatMap { case (id, (fixed, stem)) =>
      fixed.zipWithIndex.map { case (t, i) =>
        s"SELECT $id AS query_id, $i AS slot, df.df FROM df WHERE df.term = '${esc(t)}'"
      } :+
        s"SELECT $id AS query_id, ${fixed.size} AS slot, df.df FROM df WHERE df.term LIKE ${likeOf(stem)}"
    }
    s"""WITH ${indexCtes(corpusSql)},
       |toksl AS (SELECT doc_id, ${Analyzer.sqlTokenList("text")} AS l FROM corpus),
       |ptoks AS (SELECT doc_id, unnest(l) AS term, unnest(range(1, len(l)+1)) AS pos FROM toksl),
       |pslots AS (${idfSelects.mkString("\nUNION ALL\n")}),
       |idfs AS (SELECT query_id, sum(ln(1 + (s.n_docs - pslots.df + 0.5)/(pslots.df + 0.5))) AS idf_sum
       |         FROM pslots CROSS JOIN stats s GROUP BY query_id),
       |pf AS (${pfSelects.mkString("\nUNION ALL\n")}),
       |scored AS (
       |  SELECT pf.query_id, pf.doc_id,
       |         idfs.idf_sum * pf.pf / (pf.pf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) AS score
       |  FROM pf JOIN dl ON pf.doc_id = dl.doc_id
       |       JOIN idfs USING (query_id) CROSS JOIN stats s),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.searchHighlight]]: top-k plus a
    * snippet of ±window analyzed tokens around the first query-term
    * match. DuckDB's 1-based list_position ≡ the engine's 0-based
    * min-position + 1; absent terms yield 0 (NOT null — verified on
    * DuckDB 1.x) and must be filtered out of the min, mirroring terms
    * with no posting in the doc. */
  def bm25Highlight(corpusSql: String, queries: Seq[(Int, String)], k: Int,
                    window: Int): String =
    bm25HighlightCore(corpusSql, queries, k, window, keyed = false)

  /** Twin of [[graft.search.IndexSearch.searchHighlightScored]]: match
    * positions via an index-lateral unnest, candidate passages scored by
    * covered match count, the greedy non-overlap selection unrolled as
    * one CTE round per fragment ((s DESC, p ASC) pick, |p − prev| > 2w
    * eligibility), picks rendered in document order. */
  def bm25HighlightScored(queries: Seq[(Int, String)], k: Int,
                          window: Int, fragments: Int): String = {
    val w2 = 2 * window
    val rounds = (1 to fragments).map { f =>
      val sep = (1 until f).map(g => s"abs(c.p - g$g.p) > $w2").mkString(" AND ")
      val joins = (1 until f).map(g =>
        s"JOIN g$g ON g$g.query_id = c.query_id AND g$g.doc_id = c.doc_id")
        .mkString(" ")
      val whereSep = if (sep.isEmpty) "" else s"WHERE $sep"
      s"""g$f AS (SELECT query_id, doc_id, p FROM (
         |  SELECT c.query_id, c.doc_id, c.p,
         |         row_number() OVER (PARTITION BY c.query_id, c.doc_id
         |           ORDER BY c.s DESC, c.p ASC) AS rn
         |  FROM cand c $joins $whereSep) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val pickList = (1 to fragments).map(f => s"g$f.p").mkString(", ")
    val pickJoins = (2 to fragments).map(f =>
      s"LEFT JOIN g$f ON g$f.query_id = g1.query_id AND g$f.doc_id = g1.doc_id")
      .mkString("\n")
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |$scoredFromQtCte,
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored),
       |toksl AS (SELECT doc_id, ${Analyzer.sqlTokenList("text")} AS l FROM corpus),
       |pos AS (
       |  SELECT DISTINCT r.query_id, r.doc_id, CAST(u.i - 1 AS BIGINT) AS p
       |  FROM ranked r
       |       JOIN toksl t ON t.doc_id = r.doc_id
       |       CROSS JOIN unnest(generate_series(1, len(t.l))) AS u(i)
       |       JOIN qt ON qt.query_id = r.query_id AND qt.term = t.l[u.i]
       |  WHERE r.rnk <= $k),
       |cand AS (
       |  SELECT a.query_id, a.doc_id, a.p, count(*) AS s
       |  FROM pos a JOIN pos b ON b.query_id = a.query_id
       |       AND b.doc_id = a.doc_id AND abs(b.p - a.p) <= $window
       |  GROUP BY 1, 2, 3),
       |$rounds,
       |pk AS (SELECT g1.query_id, g1.doc_id,
       |         list_sort(list_filter([$pickList], x -> x IS NOT NULL)) AS ps
       |       FROM g1
       |$pickJoins)
       |SELECT r.query_id, CAST(r.rnk AS INT) AS "rank", r.doc_id,
       |       round(r.score, 4) AS score,
       |       array_to_string(list_transform(pk.ps, p ->
       |         array_to_string(list_slice(t.l, greatest(1, p + 1 - $window),
       |           greatest(1, p + 1 - $window) + $w2), ' ')), ' ... ') AS snippet
       |FROM ranked r
       |     JOIN pk ON pk.query_id = r.query_id AND pk.doc_id = r.doc_id
       |     JOIN toksl t ON t.doc_id = r.doc_id
       |WHERE r.rnk <= $k
       |ORDER BY r.query_id, r.rnk""".stripMargin
  }

  /** Keys-shaped highlight twin (segmented-index highlight gate). */
  def bm25HighlightKeys(queries: Seq[(Int, String)], k: Int,
                        window: Int): String =
    bm25HighlightCore(transcriptsCorpus, queries, k, window, keyed = true)

  private def bm25HighlightCore(corpusSql: String, queries: Seq[(Int, String)],
                                k: Int, window: Int, keyed: Boolean): String = {
    val (keymap, select, fromTail) =
      if (!keyed) ("",
        """r.query_id, CAST(r.rnk AS INT) AS "rank", r.doc_id""",
        "")
      else (s"$keymapCte,\n",
        """r.query_id, CAST(r.rnk AS INT) AS "rank", keymap.conv_id, keymap.turn_idx""",
        "JOIN keymap ON keymap.doc_id = r.doc_id")
    s"""WITH ${indexCtes(corpusSql)},
       |$keymap queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored),
       |toksl AS (SELECT doc_id, ${Analyzer.sqlTokenList("text")} AS l FROM corpus),
       |fp AS (
       |  SELECT r.query_id, r.doc_id, min(list_position(t.l, qt.term)) AS lp
       |  FROM ranked r
       |       JOIN toksl t ON t.doc_id = r.doc_id
       |       JOIN qt ON qt.query_id = r.query_id
       |  WHERE r.rnk <= $k AND list_position(t.l, qt.term) > 0
       |  GROUP BY r.query_id, r.doc_id)
       |SELECT $select,
       |       round(r.score, 4) AS score,
       |       array_to_string(list_slice(t.l, greatest(1, fp.lp - $window),
       |         greatest(1, fp.lp - $window) + ${2 * window}), ' ') AS snippet
       |FROM ranked r
       |     JOIN fp ON fp.query_id = r.query_id AND fp.doc_id = r.doc_id
       |     JOIN toksl t ON t.doc_id = r.doc_id
       |     $fromTail
       |WHERE r.rnk <= $k
       |ORDER BY r.query_id, r.rnk""".stripMargin
  }

  /** Twin of [[graft.search.MultiField.searchFields]] over the transcripts
    * corpus: fields title = first `titleTokens` analyzed tokens and body =
    * the full text, each with its OWN df/avgdl/docCount (docs where the
    * field analyzes to ≥1 token), combined per DisMax `tie`:
    * tie = 1.0 → titleBoost·BM25_title + bodyBoost·BM25_body (plain sum,
    * spelled as sum(fs) exactly like the engine's fast path); otherwise
    * max(fs) + tie·(sum(fs) − max(fs)) — the identical expression shape
    * the engine evaluates, so the doubles agree bit-for-bit. The
    * per-field sums/maxes aggregate order-independently, so the
    * cross-engine union order cannot perturb the score. */
  def bm25MultiField(queries: Seq[(Int, String)], k: Int, titleBoost: Double,
                     bodyBoost: Double, titleTokens: Int,
                     tie: Double = 1.0): String = {
    def fieldCtes(f: String) =
      s"""dl_$f AS (SELECT doc_id, count(*)::INT AS dl FROM t_$f GROUP BY doc_id),
         |st_$f AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl_$f),
         |tf_$f AS (SELECT term, doc_id, count(*)::INT AS tf FROM t_$f GROUP BY term, doc_id),
         |df_$f AS (SELECT term, count(*)::BIGINT AS df FROM tf_$f GROUP BY term)""".stripMargin
    def scoredCte(f: String, boost: Double) =
      s"""s_$f AS (
         |  SELECT qt.query_id, tf.doc_id,
         |         $boost * sum( ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
         |              * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) ) AS fs
         |  FROM qt JOIN tf_$f tf USING (term) JOIN df_$f df USING (term)
         |       JOIN dl_$f dl ON tf.doc_id = dl.doc_id CROSS JOIN st_$f s
         |  GROUP BY qt.query_id, tf.doc_id)""".stripMargin
    val combineSql =
      if (tie == 1.0) "sum(fs)"
      else s"max(fs) + $tie * (sum(fs) - max(fs))"
    s"""WITH corpus AS ($transcriptsCorpus),
       |lb AS (SELECT doc_id, ${Analyzer.sqlTokenList("text")} AS l FROM corpus),
       |t_title AS (SELECT doc_id, term FROM
       |  (SELECT doc_id, unnest(list_slice(l, 1, $titleTokens)) AS term FROM lb)),
       |t_body AS (SELECT doc_id, term FROM
       |  (SELECT doc_id, unnest(l) AS term FROM lb)),
       |${fieldCtes("title")},
       |${fieldCtes("body")},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredCte("title", titleBoost)},
       |${scoredCte("body", bodyBoost)},
       |scored AS (
       |  SELECT query_id, doc_id, $combineSql AS score FROM
       |    (SELECT * FROM s_title UNION ALL SELECT * FROM s_body)
       |  GROUP BY query_id, doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.MultiField.searchCombined]] (BM25F / Lucene
    * CombinedFieldQuery): weighted tf/dl merge BEFORE saturation, df over
    * the merged pseudo-field, one shared k1/b. Arithmetic spelled
    * operand-for-operand like the engine: tf' and dl' are exact doubles
    * (integer counts × exactly-representable weights), idf/saturation the
    * pinned single-field formula. */
  def bm25CombinedFields(queries: Seq[(Int, String)], k: Int,
                         titleBoost: Double, bodyBoost: Double,
                         titleTokens: Int): String =
    s"""WITH corpus AS ($transcriptsCorpus),
       |lb AS (SELECT doc_id, ${Analyzer.sqlTokenList("text")} AS l FROM corpus),
       |t_title AS (SELECT doc_id, unnest(list_slice(l, 1, $titleTokens)) AS term FROM lb),
       |t_body AS (SELECT doc_id, unnest(l) AS term FROM lb),
       |wtf AS (
       |  SELECT term, doc_id, sum(wtf) AS tfc FROM (
       |    SELECT term, doc_id, $titleBoost * count(*) AS wtf FROM t_title GROUP BY term, doc_id
       |    UNION ALL
       |    SELECT term, doc_id, $bodyBoost * count(*) AS wtf FROM t_body GROUP BY term, doc_id)
       |  GROUP BY term, doc_id),
       |wdl AS (
       |  SELECT doc_id, sum(wdl) AS dlc FROM (
       |    SELECT doc_id, $titleBoost * count(*) AS wdl FROM t_title GROUP BY doc_id
       |    UNION ALL
       |    SELECT doc_id, $bodyBoost * count(*) AS wdl FROM t_body GROUP BY doc_id)
       |  GROUP BY doc_id),
       |st AS (SELECT count(*)::BIGINT AS n_docs, avg(dlc) AS avgdl FROM wdl),
       |dict AS (SELECT term, count(*)::BIGINT AS df FROM wtf GROUP BY term),
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |scored AS (
       |  SELECT qt.query_id, w.doc_id,
       |         sum( ln(1 + (s.n_docs - d.df + 0.5)/(d.df + 0.5))
       |              * w.tfc / (w.tfc + 1.2*(1 - 0.75 + 0.75*dl.dlc/s.avgdl)) ) AS score
       |  FROM qt JOIN wtf w USING (term) JOIN dict d USING (term)
       |       JOIN wdl dl ON w.doc_id = dl.doc_id CROSS JOIN st s
       |  GROUP BY qt.query_id, w.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin

  /** Transcripts corpus carrying the event-time second (ts_sec) — the
    * sort-by-stored-field twin. ts in the transcripts view is
    * Epoch2024 + original_doc_id·30 ([[Transcripts.fromDocumentsDf]]), so
    * the oracle re-derives the SAME value arithmetically; the engine
    * reads the actual stored timestamp, so the gate also pins the stored
    * field's round-trip. */
  def transcriptsCorpusTs: String =
    s"""SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id,
       |       text, ts_sec
       |FROM (SELECT 'conv' || lpad(CAST(doc_id // 4 AS VARCHAR), 6, '0') AS conv_id,
       |             CAST(doc_id % 4 AS INT) AS turn_idx, text,
       |             CAST(${Transcripts.Epoch2024} + doc_id * 30 AS BIGINT) AS ts_sec
       |      FROM documents
       |      WHERE text IS NOT NULL AND length(text) > 0)""".stripMargin

  /** Twin of [[graft.search.Synonyms.searchIndex]]: the (query, class,
    * member) expansion triples come from the SAME driver-side
    * [[graft.search.Synonyms.resolve]] call the engine uses (VALUES
    * literals — the expansion has no cross-engine seam); SynonymQuery
    * scoring = max member df per class, Σ member tf per (class, doc),
    * one BM25 term score per class, summed per (query, doc). */
  private def synonymScoredCtes(queries: Seq[(Int, String)],
                                groups: Seq[Seq[String]]): String = {
    val triples = graft.search.Synonyms.resolve(queries, groups)
    require(triples.nonEmpty, "synonym oracle needs ≥1 expansion triple")
    val triVals = triples
      .map { case (q, g, m) => s"($q, $g, '${esc(m)}')" }.mkString(", ")
    s"""syn(query_id, gid, term) AS (VALUES $triVals),
       |gdf AS (SELECT query_id, gid, max(df.df) AS df
       |        FROM syn JOIN df USING (term) GROUP BY 1, 2),
       |gtf AS (SELECT syn.query_id, syn.gid, tf.doc_id,
       |               CAST(sum(tf.tf) AS BIGINT) AS tf
       |        FROM syn JOIN tf USING (term) GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT gtf.query_id, gtf.doc_id,
       |         sum( ln(1 + (s.n_docs - gdf.df + 0.5)/(gdf.df + 0.5))
       |              * gtf.tf / (gtf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) ) AS score
       |  FROM gtf JOIN gdf USING (query_id, gid)
       |       JOIN dl ON gtf.doc_id = dl.doc_id CROSS JOIN stats s
       |  GROUP BY gtf.query_id, gtf.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored)""".stripMargin
  }

  def bm25TopKSynonyms(queries: Seq[(Int, String)],
                       groups: Seq[Seq[String]], k: Int): String =
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |${synonymScoredCtes(queries, groups)}
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin

  /** Keys-shaped twin of [[graft.search.Synonyms.searchIndex]] over a
    * segmented root's [[graft.index.SegmentedIndex.open]] view —
    * the same synonym scoring chain joined back through the keymap (the
    * [[bm25TopKKeys]] rule: dense ids are assigned in key order, so the
    * rank tie-break carries over). */
  def bm25TopKKeysSynonyms(queries: Seq[(Int, String)],
                           groups: Seq[Seq[String]], k: Int): String =
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |$keymapCte,
       |${synonymScoredCtes(queries, groups)}
       |SELECT query_id, CAST(rnk AS INT) AS "rank", conv_id, turn_idx, round(score, 4) AS score
       |FROM ranked JOIN keymap USING (doc_id) WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin

  /** Twin of [[graft.search.IndexSearch.explain]] (Solr debug=true): the
    * per-term decomposition CTE `per` carries tf, df, idf, and the BM25
    * contribution; `scored` re-sums the SAME contrib expression (the
    * [[scoredFromQtCte]] tree), so ranks match every other BM25 gate and
    * every decomposition column re-derives independently. */
  def bm25Explain(queries: Seq[(Int, String)], k: Int): String =
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |per AS (SELECT qt.query_id, tf.doc_id, tf.term, tf.tf, df.df,
       |               ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5)) AS idf,
       |               ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
       |                 * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) AS contrib
       |        FROM qt JOIN tf USING (term) JOIN df USING (term)
       |             JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s),
       |scored AS (SELECT query_id, doc_id, sum(contrib) AS score
       |           FROM per GROUP BY 1, 2),
       |ranked AS (SELECT query_id, doc_id, score,
       |                  row_number() OVER (PARTITION BY query_id
       |                                     ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |           FROM scored)
       |SELECT r.query_id, CAST(rnk AS INT) AS "rank", r.doc_id, p.term, p.tf, p.df,
       |       round(p.idf, 4) AS idf, round(p.contrib, 4) AS contribution,
       |       round(r.score, 4) AS score
       |FROM ranked r JOIN per p ON r.query_id = p.query_id AND r.doc_id = p.doc_id
       |WHERE rnk <= $k
       |ORDER BY r.query_id, rnk, p.term""".stripMargin

  /** Twin of [[graft.search.IndexSearch.ltrFeatures]] (Solr LTR feature
    * logging): the [[bm25Explain]] decomposition aggregated per (query,
    * doc) into the reranker feature vector, plus the FieldValueFeature
    * columns re-derived from the stored corpus row. */
  def ltrFeatures(queries: Seq[(Int, String)], k: Int): String =
    s"""WITH ${indexCtes(transcriptsCorpusTsRole)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |qn AS (SELECT query_id, count(DISTINCT term) AS qn FROM qt GROUP BY 1),
       |per AS (SELECT qt.query_id, tf.doc_id, tf.term, tf.tf,
       |               ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5)) AS idf,
       |               ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
       |                 * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) AS contrib,
       |               dl.dl AS dl
       |        FROM qt JOIN tf USING (term) JOIN df USING (term)
       |             JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s),
       |feats AS (SELECT query_id, doc_id, sum(contrib) AS score,
       |                 CAST(sum(tf) AS BIGINT) AS f_tf_sum,
       |                 CAST(count(DISTINCT term) AS INT) AS f_matched,
       |                 round(max(idf), 4) AS f_idf_max,
       |                 CAST(max(dl) AS BIGINT) AS f_dl
       |          FROM per GROUP BY 1, 2),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                     ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |           FROM feats)
       |SELECT r.query_id, CAST(rnk AS INT) AS "rank", r.doc_id,
       |       round(r.score, 4) AS score, r.f_tf_sum, r.f_matched,
       |       round(CAST(r.f_matched AS DOUBLE) / qn.qn, 4) AS f_coverage,
       |       r.f_idf_max, r.f_dl,
       |       CAST(c.role = 'user' AS INT) AS f_is_user
       |FROM ranked r JOIN qn USING (query_id) JOIN corpus c ON c.doc_id = r.doc_id
       |WHERE rnk <= $k
       |ORDER BY r.query_id, rnk""".stripMargin

  /** Twin of [[graft.search.IndexSearch.ltrRerank]]: the [[ltrFeatures]]
    * twin as a nested CTE, the linear model spelled in the SAME exact
    * integer fixed point (weights ×10², features ×10⁴ — integer sums
    * cannot drift cross-engine the way near-boundary double rounding
    * does), rerank window over the depth candidates only. */
  def ltrRerank(queries: Seq[(Int, String)],
                weights: Seq[(String, Double)], k: Int, depth: Int): String = {
    val model = weights.map { case (f, w) =>
      s"${math.round(w * 100)} * CAST(round(CAST($f AS DOUBLE) * 10000) AS BIGINT)"
    }.mkString(" + ")
    s"""WITH f AS (
       |${ltrFeatures(queries, depth)}
       |),
       |m AS (SELECT query_id, "rank" AS first_rank, doc_id, score,
       |             $model AS ltrf FROM f),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY ltrf DESC, doc_id ASC) AS rnk FROM m)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id,
       |       CAST(ltrf AS DOUBLE) / 1000000 AS ltr_score,
       |       CAST(first_rank AS INT) AS first_rank, score
       |FROM r WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.hardNegatives]] (DPR-style
    * retrieval training set): the standard BM25 ranking chain labeled
    * pos/hard_neg, unioned with the md5-ordered per-mille-prefiltered
    * random negatives (same hash idiom as the stratifiedSample twin),
    * top-k excluded, NULL scores for rand_neg. */
  def hardNegatives(queries: Seq[(Int, String)], k: Int, nRand: Int,
                    permille: Int): String =
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |$scoredFromQtCte,
       |ranked AS (SELECT query_id, doc_id, score,
       |                  row_number() OVER (PARTITION BY query_id
       |                     ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |           FROM scored),
       |heads AS (SELECT query_id, doc_id, rnk, score FROM ranked WHERE rnk <= $k),
       |cand AS (SELECT q.query_id, c.doc_id,
       |           ('0x' || substr(md5(CAST(q.query_id AS VARCHAR) || ':' ||
       |                               CAST(c.doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
       |         FROM (SELECT DISTINCT query_id FROM queries) q CROSS JOIN corpus c),
       |pool AS (SELECT * FROM cand WHERE h % 1000 < $permille
       |         AND NOT EXISTS (SELECT 1 FROM heads hd
       |              WHERE hd.query_id = cand.query_id AND hd.doc_id = cand.doc_id)),
       |rand AS (SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY h ASC, doc_id ASC) AS rnk
       |         FROM pool)
       |SELECT query_id,
       |       CASE WHEN rnk = 1 THEN 'pos' ELSE 'hard_neg' END AS kind,
       |       CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM heads
       |UNION ALL
       |SELECT query_id, 'rand_neg' AS kind, CAST(rnk AS INT) AS "rank",
       |       doc_id, CAST(NULL AS DOUBLE) AS score
       |FROM rand WHERE rnk <= $nRand
       |ORDER BY query_id, kind, "rank"""".stripMargin

  /** Luke top-terms twin ([[graft.search.IndexSearch.topTerms]]). */
  def topTerms(n: Int): String =
    s"""WITH ${indexCtes(transcriptsCorpus)}
       |SELECT term, df, cf FROM df
       |ORDER BY df DESC, term ASC LIMIT $n""".stripMargin

  /** Transcripts corpus carrying ts_sec AND role — the multi-field sort
    * twin ([[transcriptsCorpusTs]] plus the role derivation from
    * [[Transcripts.sqlFromDocuments]]). */
  /** Twin of [[graft.index.SortedDocs.topK]]: the full transcripts
    * relation (NO ingest text filter — the sorted family stores every
    * turn) ranked by the pinned index sort (ts_sec, conv_id, turn_idx),
    * optional role filter, limit k. The engine's bucket walk is pure
    * access-path optimization — this twin is the semantics it must
    * preserve. */
  def sortedTopK(k: Int, roleFilter: Option[String]): String = {
    val where = roleFilter.map(r => s"WHERE role = '${esc(r)}'").getOrElse("")
    s"""WITH t AS (
       |  SELECT 'conv' || lpad(CAST(doc_id // 4 AS VARCHAR), 6, '0') AS conv_id,
       |         CAST(doc_id % 4 AS INT) AS turn_idx,
       |         CASE WHEN doc_id % 4 = 3 THEN 'tool'
       |              WHEN doc_id % 2 = 0 THEN 'user'
       |              ELSE 'assistant' END AS role,
       |         CAST(${Transcripts.Epoch2024} + doc_id * 30 AS BIGINT) AS ts_sec
       |  FROM documents),
       |r AS (SELECT *, row_number() OVER (ORDER BY ts_sec ASC, conv_id ASC,
       |        turn_idx ASC) AS rnk
       |      FROM t $where)
       |SELECT CAST(rnk AS INT) AS "rank", conv_id, turn_idx, role, ts_sec
       |FROM r WHERE rnk <= $k ORDER BY rnk""".stripMargin
  }

  def transcriptsCorpusTsRole: String =
    s"""SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id,
       |       text, ts_sec, role
       |FROM (SELECT 'conv' || lpad(CAST(doc_id // 4 AS VARCHAR), 6, '0') AS conv_id,
       |             CAST(doc_id % 4 AS INT) AS turn_idx, text,
       |             CAST(${Transcripts.Epoch2024} + doc_id * 30 AS BIGINT) AS ts_sec,
       |             CASE WHEN doc_id % 4 = 3 THEN 'tool'
       |                  WHEN doc_id % 2 = 0 THEN 'user'
       |                  ELSE 'assistant' END AS role
       |      FROM documents
       |      WHERE text IS NOT NULL AND length(text) > 0)""".stripMargin

  /** Twin of [[graft.search.IndexSearch.searchSorted]] with a MULTI-field
    * sort (`sort=role asc, ts desc`): secondary key bites inside each
    * role band, pinned doc_id ASC tie-break, scores still reported. */
  def bm25SortRoleTs(queries: Seq[(Int, String)], k: Int): String =
    s"""WITH ${indexCtes(transcriptsCorpusTsRole)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |ranked AS (
       |  SELECT query_id, scored.doc_id AS doc_id, score, corpus.role AS role,
       |         corpus.ts_sec AS ts_sec,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY corpus.role ASC, corpus.ts_sec DESC,
       |                                     scored.doc_id ASC) AS rnk
       |  FROM scored JOIN corpus ON scored.doc_id = corpus.doc_id)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, role, ts_sec, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin

  /** Twin of [[graft.search.Facets.rangeDate]] over the transcripts ts:
    * the spine's (bucket, bucket_ts) pairs are DRIVER literals computed
    * by the same `Instant` parse/format the engine spine uses (one code
    * path, two engines), ts_sec re-derived arithmetically per
    * [[transcriptsCorpusTs]] — no engine ever formats a timestamp. */
  def facetRangeDateTs(queries: Seq[(Int, String)], startIso: String,
                       endIso: String, gapStr: String): String = {
    val start = java.time.Instant.parse(startIso).getEpochSecond
    val end = java.time.Instant.parse(endIso).getEpochSecond
    val gap = graft.search.Facets.parseDateGap(gapStr)
    require(end > start, s"need end > start (got [$startIso, $endIso))")
    val rows = (start until end by gap)
      .map(b => s"($b, '${java.time.Instant.ofEpochSecond(b)}')")
      .mkString(", ")
    s"""WITH ${indexCtes(transcriptsCorpusTs)},
       |${matchedCtes(queries)},
       |labels(bucket, bucket_ts) AS (VALUES $rows),
       |qids AS (SELECT DISTINCT query_id FROM queries),
       |spine AS (SELECT query_id, bucket, bucket_ts FROM qids CROSS JOIN labels),
       |cnt AS (SELECT query_id,
       |               CAST($start + ((ts_sec - $start) // $gap) * $gap AS BIGINT) AS bucket,
       |               count(*)::BIGINT AS n
       |        FROM matched JOIN corpus USING (doc_id)
       |        WHERE ts_sec >= $start AND ts_sec < $end
       |        GROUP BY 1, 2)
       |SELECT query_id, bucket, bucket_ts, CAST(coalesce(n, 0) AS BIGINT) AS n_docs
       |FROM spine LEFT JOIN cnt USING (query_id, bucket)
       |ORDER BY query_id, bucket""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.searchSorted]] with
    * `sort=ts desc`: the disjunctive match set ranked by the stored
    * timestamp DESC with the pinned doc_id ASC tie-break; BM25 scores
    * computed and reported but not driving the order. */
  def bm25SortTs(queries: Seq[(Int, String)], k: Int): String =
    s"""WITH ${indexCtes(transcriptsCorpusTs)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |ranked AS (
       |  SELECT query_id, scored.doc_id AS doc_id, score, corpus.ts_sec AS ts_sec,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY corpus.ts_sec DESC, scored.doc_id ASC) AS rnk
       |  FROM scored JOIN corpus ON scored.doc_id = corpus.doc_id)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, ts_sec, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin

  /** Twin of [[graft.search.IndexSearch.searchSorted]] with the sort key
    * given as a Solr function-query STRING (`sort=recip(dl,1,100,10) desc`):
    * the SQL renders from the SAME [[graft.search.FunctionQuery]] AST as
    * the engine's Column, so sort values are bit-identical; pinned
    * doc_id ASC tie-break; BM25 score still computed and reported. */
  def bm25SortFn(queries: Seq[(Int, String)], k: Int, fn: String): String = {
    val fnSql = graft.search.FunctionQuery.toSql(
      graft.search.FunctionQuery.parse(fn),
      f => { require(f == "dl", s"sort twin resolves 'dl' only, got '$f'")
             "dl.dl" })
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |ranked AS (
       |  SELECT query_id, scored.doc_id AS doc_id, score, $fnSql AS fv,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY $fnSql DESC, scored.doc_id ASC) AS rnk
       |  FROM scored JOIN dl ON scored.doc_id = dl.doc_id)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, fv, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.searchFeedback]] (pseudo-relevance
    * feedback): the whole two-round chain re-derived in SQL — round-1
    * top-fbDocs, RM1-style expansion weights (round 7, term-asc
    * tie-break, original terms anti-joined), weighted round-2 scoring. */
  def bm25Feedback(corpusSql: String, queries: Seq[(Int, String)], k: Int,
                   fbDocs: Int, fbTerms: Int, expWeight: Double): String =
    s"""WITH ${indexCtes(corpusSql)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |fb AS (
       |  SELECT query_id, doc_id FROM (
       |    SELECT query_id, doc_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |    FROM scored) WHERE rnk <= $fbDocs),
       |ew AS (
       |  SELECT fb.query_id, tf.term,
       |         round(sum(CAST(tf.tf AS DOUBLE) / dl.dl), 7) AS w
       |  FROM fb JOIN tf USING (doc_id) JOIN dl ON tf.doc_id = dl.doc_id
       |  WHERE NOT EXISTS (SELECT 1 FROM qt
       |                    WHERE qt.query_id = fb.query_id AND qt.term = tf.term)
       |  GROUP BY fb.query_id, tf.term),
       |expq AS (
       |  SELECT query_id, term FROM (
       |    SELECT query_id, term,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY w DESC, term ASC) AS r
       |    FROM ew) WHERE r <= $fbTerms),
       |qt1 AS (SELECT query_id, term, 1.0 AS boost FROM qt
       |        UNION ALL
       |        SELECT query_id, term, $expWeight AS boost FROM expq),
       |scored1 AS (
       |  SELECT qt1.query_id, tf.doc_id,
       |         sum( qt1.boost * ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
       |              * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) ) AS score
       |  FROM qt1 JOIN tf USING (term) JOIN df USING (term)
       |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
       |  GROUP BY qt1.query_id, tf.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored1)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin

  /** Twin of [[graft.search.IndexSearch.searchFields]] (Solr `fl=`): the
    * standard score-ranked top-k joined to the stored attributes (role,
    * tool, dl) plus a function-query pseudo-field rendered from the SAME
    * [[graft.search.FunctionQuery]] AST as the engine's Column. */
  def bm25FieldList(queries: Seq[(Int, String)], k: Int,
                    fn: String): String = {
    val fnSql = graft.search.FunctionQuery.toSql(
      graft.search.FunctionQuery.parse(fn),
      f => { require(f == "dl", s"fl twin resolves 'dl' only, got '$f'")
             "attrs.dl" })
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |attrs AS (SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id,
       |                 role, tool, ${Analyzer.sqlDocLen("text")} AS dl
       |          FROM ($transcriptsSql)),
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", ranked.doc_id AS doc_id,
       |       attrs.role AS role, attrs.tool AS tool, attrs.dl AS dl,
       |       $fnSql AS brev, round(score, 4) AS score
       |FROM ranked JOIN attrs ON ranked.doc_id = attrs.doc_id
       |WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.searchPrefix]]: prefixes expand
    * against the df relation (`term LIKE 'p%'` — the dictionary), each
    * expanded term scoring with its own idf (the pinned scoring-boolean
    * rewrite); expanded ∪ literal terms dedupe per query. The query parse
    * is shared with the engine ([[graft.search.IndexSearch.parsePrefixQuery]]),
    * like the phrase and (driver-parsed) clause twins. */
  def bm25Prefix(corpusSql: String, queries: Seq[(Int, String)],
                 k: Int): String = {
    val parsed = queries.map { case (qid, t) =>
      (qid, graft.search.IndexSearch.parsePrefixQuery(t))
    }
    val litValues0 = parsed.flatMap { case (qid, (terms, _)) =>
      terms.map(t => s"($qid, '${esc(t)}')")
    }
    // never-matching guard row keeps the VALUES list well-formed for a
    // prefixes-only query set (same trick as the clause oracle)
    val litValues = if (litValues0.nonEmpty) litValues0 else Seq("(0, '')")
    val expSelects = parsed.flatMap { case (qid, (_, prefixes)) =>
      prefixes.map(p => s"SELECT $qid AS query_id, term FROM df WHERE term LIKE '${esc(p)}%'")
    }
    bm25Expanded(corpusSql, litValues, expSelects, k)
  }

  /** Twin of [[graft.search.MultiTerm.searchWildcard]]: wildcard patterns
    * expand against the df relation via LIKE ('*'→'%', '?'→'_'; patterns
    * are alphabet-checked by the shared parse, so no LIKE-escape
    * divergence is possible), then the scoring-boolean rewrite. */
  def bm25Wildcard(corpusSql: String, queries: Seq[(Int, String)],
                   k: Int): String = {
    val parsed = queries.map { case (qid, t) =>
      (qid, graft.search.MultiTerm.parseWildcardQuery(t))
    }
    val litValues0 = parsed.flatMap { case (qid, (terms, _)) =>
      terms.map(t => s"($qid, '${esc(t)}')")
    }
    val litValues = if (litValues0.nonEmpty) litValues0 else Seq("(0, '')")
    val expSelects = parsed.flatMap { case (qid, (_, pats)) =>
      pats.map(p => s"SELECT $qid AS query_id, term FROM df " +
        s"WHERE term LIKE '${graft.search.MultiTerm.likePattern(p)}'")
    }
    bm25Expanded(corpusSql, litValues, expSelects, k)
  }

  /** Twin of [[graft.search.MultiTerm.searchFuzzy]]: fuzzy stems expand
    * against the df relation via PLAIN levenshtein ≤ maxEdits (both
    * engines evaluate it natively — the pinned distance; Lucene's
    * transposition-counting default is a documented divergence), then the
    * scoring-boolean rewrite. */
  def bm25Fuzzy(corpusSql: String, queries: Seq[(Int, String)],
                k: Int): String = {
    val parsed = queries.map { case (qid, t) =>
      (qid, graft.search.MultiTerm.parseFuzzyQuery(t))
    }
    val litValues0 = parsed.flatMap { case (qid, (terms, _)) =>
      terms.map(t => s"($qid, '${esc(t)}')")
    }
    val litValues = if (litValues0.nonEmpty) litValues0 else Seq("(0, '')")
    val expSelects = parsed.flatMap { case (qid, (_, stems)) =>
      stems.map { case (st, n) =>
        s"SELECT $qid AS query_id, term FROM df " +
          s"WHERE levenshtein(term, '${esc(st)}') <= $n"
      }
    }
    bm25Expanded(corpusSql, litValues, expSelects, k)
  }

  /** Twin of [[graft.search.MultiTerm.searchRegexp]]: each `/re/` clause
    * expands against the df relation via whole-term-anchored
    * `regexp_matches` (the portable Java∩RE2 subset makes the dialects
    * agree), then the scoring-boolean rewrite. */
  def bm25Regexp(corpusSql: String, queries: Seq[(Int, String)],
                 k: Int): String = {
    val parsed = queries.map { case (qid, t) =>
      (qid, graft.search.MultiTerm.parseRegexpQuery(t))
    }
    val litValues0 = parsed.flatMap { case (qid, (terms, _)) =>
      terms.map(t => s"($qid, '${esc(t)}')")
    }
    val litValues = if (litValues0.nonEmpty) litValues0 else Seq("(0, '')")
    val expSelects = parsed.flatMap { case (qid, (_, pats)) =>
      pats.map(p => s"SELECT $qid AS query_id, term FROM df " +
        s"WHERE regexp_matches(term, '^($p)$$')")
    }
    bm25Expanded(corpusSql, litValues, expSelects, k)
  }

  /** Twin of [[graft.search.MultiTerm.searchTermRange]]: each
    * `[lo TO hi]` / `{lo TO hi}` range expands against the df relation
    * via the matching string-comparison predicates (per-side
    * inclusivity), then the scoring-boolean rewrite. */
  def bm25TermRange(corpusSql: String, queries: Seq[(Int, String)],
                    k: Int): String = {
    val parsed = queries.map { case (qid, t) =>
      (qid, graft.search.MultiTerm.parseRangeQuery(t))
    }
    val litValues0 = parsed.flatMap { case (qid, (terms, _)) =>
      terms.map(t => s"($qid, '${esc(t)}')")
    }
    val litValues = if (litValues0.nonEmpty) litValues0 else Seq("(0, '')")
    val expSelects = parsed.flatMap { case (qid, (_, ranges)) =>
      ranges.map { r =>
        val loOp = if (r.incLo) ">=" else ">"
        val hiOp = if (r.incHi) "<=" else "<"
        s"SELECT $qid AS query_id, term FROM df " +
          s"WHERE term $loOp '${esc(r.lo)}' AND term $hiOp '${esc(r.hi)}'"
      }
    }
    bm25Expanded(corpusSql, litValues, expSelects, k)
  }

  /** Twin of [[graft.index.CheckIndex.run]]: the integrity report's
    * numeric fields recomputed from the corpus CTEs (the ground truth the
    * physical artifacts must reproduce); a healthy index reports every
    * boolean TRUE. */
  def checkIndex(corpusSql: String): String =
    s"""WITH ${indexCtes(corpusSql)},
       |d AS (SELECT count(*)::BIGINT AS n_terms,
       |             CAST(sum(df) AS BIGINT) AS total_df,
       |             CAST(sum(cf) AS BIGINT) AS total_cf FROM df),
       |c AS (SELECT count(*)::BIGINT AS n_docs,
       |             CAST(max(doc_id) AS BIGINT) AS max_doc FROM corpus)
       |SELECT d.n_terms, d.total_df, d.total_cf,
       |       d.n_terms AS postings_terms, d.total_df AS postings_df,
       |       d.total_cf AS postings_cf,
       |       c.n_docs, c.max_doc, d.total_cf AS dl_sum,
       |       TRUE AS postings_match, TRUE AS docs_dense,
       |       TRUE AS norms_match, TRUE AS stats_ok, TRUE AS ok
       |FROM d CROSS JOIN c""".stripMargin

  /** Twin of [[graft.analysis.Analyzer.analysisChain]]: per-stage token
    * streams via the three stage twins' SQL forms; positions from
    * DuckDB's zipped parallel unnest over range(len). */
  def analysisChain(corpusSql: String): String = {
    def stage(name: String, listExpr: String) =
      s"""SELECT doc_id, '$name' AS stage,
         |       CAST(unnest(range(len(l))) AS INT) AS pos, unnest(l) AS token
         |FROM (SELECT doc_id, $listExpr AS l FROM corpus)""".stripMargin
    s"""WITH corpus AS ($corpusSql)
       |${stage("1_raw", Analyzer.sqlTokenList("text"))}
       |UNION ALL
       |${stage("2_folded", Analyzer.sqlTokenList(Analyzer.sqlFoldAscii("text")))}
       |UNION ALL
       |${stage("3_stemmed",
          Analyzer.sqlTokenList(Analyzer.sqlStemmedText(Analyzer.sqlFoldAscii("text"))))}
       |ORDER BY doc_id, stage, pos""".stripMargin
  }

  /** Twin of [[graft.search.Phonetic.searchPhonetic]]: every analyzed
    * query token expands against the df relation into terms sharing its
    * phonetic code — the code computed IN SQL by
    * [[graft.search.Phonetic.sqlCode]] (the stem's code constant-folded
    * via the Scala twin; MultiTermSpec pins the three twins ≡), then the
    * scoring-boolean rewrite. */
  def bm25Phonetic(corpusSql: String, queries: Seq[(Int, String)],
                   k: Int): String = {
    import graft.search.Phonetic
    val parsed = queries.map { case (qid, t) =>
      (qid, Phonetic.parsePhoneticQuery(t))
    }
    val expSelects = parsed.flatMap { case (qid, stems) =>
      stems.map(st =>
        s"SELECT $qid AS query_id, term FROM df " +
          s"WHERE ${Phonetic.sqlCode("term")} = '${Phonetic.codeOf(st)}'")
    }
    bm25Expanded(corpusSql, Seq("(0, '')"), expSelects, k)
  }

  /** Twin of [[graft.search.NestedBool.searchNested]]: the SAME driver-side
    * parse (one seam), then the AST rendered recursively as match-set
    * algebra — leaf = the per-(query, term, doc) score relation, OR =
    * UNION ALL + sum, AND = the same with HAVING count(DISTINCT cid) = n,
    * negatives = NOT IN — so every pinned semantic (OOV leaf empty,
    * pure-negative empty, per-matching-child score sums, double-counted
    * repeated clauses) is re-derived independently by DuckDB. */
  def bm25Nested(corpusSql: String, queries: Seq[(Int, String)],
                 k: Int): String = {
    import graft.search.NestedBool
    import graft.search.NestedBool.{Group, Leaf, Node}
    val parsed = queries.map { case (qid, t) => (qid, NestedBool.parse(t)) }
    val qtVals = parsed.flatMap { case (qid, n) =>
      NestedBool.leafTerms(n).distinct.map(t => s"($qid, '${esc(t)}')")
    }
    def nodeSql(qid: Int, n: Node): String = n match {
      case Leaf(t) =>
        s"(SELECT doc_id, score FROM ls WHERE query_id = $qid AND term = '${esc(t)}')"
      case Group(_, pos, _) if pos.isEmpty =>
        "(SELECT doc_id, score FROM ls WHERE 1 = 0)"
      case Group(and, pos, neg) =>
        val union = pos.zipWithIndex.map { case (c, i) =>
          s"SELECT $i AS cid, doc_id, score FROM ${nodeSql(qid, c)} c$i"
        }.mkString(" UNION ALL ")
        val having =
          if (and) s" HAVING count(DISTINCT cid) = ${pos.size}" else ""
        val matched =
          s"(SELECT doc_id, sum(score) AS score FROM ($union) GROUP BY doc_id$having)"
        if (neg.isEmpty) matched
        else {
          val negUnion = neg
            .map(c => s"SELECT doc_id FROM ${nodeSql(qid, c)} nn")
            .mkString(" UNION ALL ")
          s"(SELECT m.doc_id, m.score FROM $matched m WHERE m.doc_id NOT IN ($negUnion))"
        }
    }
    val roots = parsed.map { case (qid, n) =>
      s"SELECT $qid AS query_id, doc_id, score FROM ${nodeSql(qid, n)} r$qid"
    }
    s"""WITH ${indexCtes(corpusSql)},
       |qt(query_id, term) AS (VALUES ${qtVals.mkString(", ")}),
       |ls AS (SELECT qt.query_id, qt.term, tf.doc_id AS doc_id,
       |              ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
       |                * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) AS score
       |       FROM qt JOIN tf USING (term) JOIN df USING (term)
       |            JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s),
       |scored AS (
       |${roots.mkString("\nUNION ALL\n")}),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.searchSpanFirst]]: positions via
    * the aligned parallel unnest (1-based, so the engine's 0-based
    * `p < end` is `pos <= end` here), freq = qualifying-position count,
    * idf from the TERM's unfiltered df. */
  def bm25SpanFirst(corpusSql: String, queries: Seq[(Int, String, Int)],
                    k: Int): String = {
    val vals = queries.map { case (qid, text, end) =>
      val toks = Analyzer.tokenize(text)
      require(toks.size == 1 && end > 0, s"bad span_first query '$text'")
      s"($qid, '${esc(toks.head)}', $end)"
    }
    s"""WITH ${indexCtes(corpusSql)},
       |toksl AS (SELECT doc_id, ${Analyzer.sqlTokenList("text")} AS l FROM corpus),
       |ptoks AS (SELECT doc_id, unnest(l) AS term, unnest(range(1, len(l)+1)) AS pos FROM toksl),
       |spanq(query_id, term, endp) AS (VALUES ${vals.mkString(", ")}),
       |sf AS (SELECT query_id, ptoks.doc_id, count(*)::BIGINT AS tf
       |       FROM ptoks JOIN spanq USING (term) WHERE pos <= endp
       |       GROUP BY query_id, ptoks.doc_id),
       |scored AS (
       |  SELECT sf.query_id, sf.doc_id,
       |         ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
       |           * sf.tf / (sf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) AS score
       |  FROM sf JOIN spanq USING (query_id) JOIN df USING (term)
       |       JOIN dl ON sf.doc_id = dl.doc_id CROSS JOIN stats s),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Shared tail of the MultiTermQuery twins (prefix/wildcard/fuzzy):
    * literal (query_id, term) VALUES ∪ per-pattern dictionary-expansion
    * SELECTs, deduped, scored by the standard BM25 CTE chain. */
  private def bm25Expanded(corpusSql: String, litValues: Seq[String],
                           expSelects: Seq[String], k: Int): String = {
    val qtBody = (
      s"SELECT query_id, term FROM (VALUES ${litValues.mkString(", ")}) lit0(query_id, term)" +:
        expSelects).mkString("\n  UNION ALL\n  ")
    s"""WITH ${indexCtes(corpusSql)},
       |qt AS (SELECT DISTINCT query_id, term FROM (
       |  $qtBody)),
       |${scoredFromQtCte},
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Full BM25 top-k oracle. `start` is the pagination offset — rank
    * positions stay ABSOLUTE, only ranks (start, start+k] are returned. */
  def bm25TopK(corpusSql: String, queries: Seq[(Int, String)], k: Int,
               conjunctive: Boolean, start: Int = 0): String = {
    val conjJoin =
      if (conjunctive) "JOIN nq USING (query_id) WHERE n_matched = n_q" else ""
    s"""WITH ${indexCtes(corpusSql)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |nq AS (SELECT query_id, count(*)::BIGINT AS n_q FROM qt GROUP BY query_id),
       |scored AS (
       |  SELECT qt.query_id, tf.doc_id,
       |         sum( ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
       |              * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) ) AS score,
       |         count(*)::BIGINT AS n_matched
       |  FROM qt JOIN tf USING (term) JOIN df USING (term)
       |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
       |  GROUP BY qt.query_id, tf.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored $conjJoin)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk > $start AND rnk <= ${start + k}
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.searchAliasTimeRouted]] over the
    * two-collection doc-id-half alias fixture with a window starting at
    * ts(3n/5): routing keeps only the 'hi' (second-half) collection, so
    * stats come from that half ALONE; the fq then drops matched docs in
    * [n/2, 3n/5). The original doc id is re-derived from the key
    * (conv·4 + turn) so the ts comparison is exact integer arithmetic —
    * no engine ever hashes a timestamp. */
  def bm25TimeRoutedKeys(queries: Seq[(Int, String)], k: Int): String = {
    val half =
      "(SELECT doc_id, text FROM documents WHERE doc_id >= (SELECT count(*) // 2 FROM documents))"
    val src =
      s"""SELECT * FROM (${Transcripts.sqlFromDocumentsOver(half)})
         |WHERE text IS NOT NULL AND length(text) > 0""".stripMargin
    val corpus =
      s"""SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id, text
         |FROM ($src)""".stripMargin
    s"""WITH ${indexCtes(corpus)},
       |keymap AS (SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id,
       |                  conv_id, turn_idx
       |           FROM ($src)),
       |bound(b) AS (SELECT (3 * count(*)) // 5 FROM documents),
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |$scoredFromQtCte,
       |elig AS (SELECT s.query_id, s.doc_id, s.score, m.conv_id, m.turn_idx
       |         FROM scored s JOIN keymap m USING (doc_id) CROSS JOIN bound
       |         WHERE CAST(substr(m.conv_id, 5) AS BIGINT) * 4 + m.turn_idx
       |               >= bound.b),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY round(score, 7) DESC, conv_id ASC, turn_idx ASC) AS rnk
       |  FROM elig)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", conv_id, turn_idx,
       |       round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.searchCommonTerms]]: the bm25TopK
    * scored CTE extended with a per-doc matched-low flag (df ≤ cutoff·N)
    * and a per-query has-low fallback flag over the dictionary-matched
    * term set; docs rank iff they match a low-df term or the query has
    * none. */
  def bm25CommonTerms(corpusSql: String, queries: Seq[(Int, String)],
                      maxTermFrequency: Double, k: Int): String =
    s"""WITH ${indexCtes(corpusSql)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |haslow AS (
       |  SELECT query_id,
       |         max(CASE WHEN df.df <= $maxTermFrequency * s.n_docs
       |             THEN 1 ELSE 0 END) AS has_low
       |  FROM qt JOIN df USING (term) CROSS JOIN stats s
       |  GROUP BY query_id),
       |scored AS (
       |  SELECT qt.query_id, tf.doc_id,
       |         sum( ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
       |              * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) ) AS score,
       |         max(CASE WHEN df.df <= $maxTermFrequency * s.n_docs
       |             THEN 1 ELSE 0 END) AS low_matched
       |  FROM qt JOIN tf USING (term) JOIN df USING (term)
       |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
       |  GROUP BY qt.query_id, tf.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored JOIN haslow USING (query_id)
       |  WHERE low_matched = 1 OR has_low = 0)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin

  /** Twin of [[graft.search.IndexSearch.searchGroupQueries]]: the
    * bm25TopK scored CTE joined to per-group membership (distinct docs
    * containing any of the group's terms), windowed per (query, group)
    * with the per-group numFound. */
  def bm25GroupQueries(corpusSql: String, queries: Seq[(Int, String)],
                       groups: Seq[(String, String)], groupLimit: Int): String = {
    val gtValues = groups.flatMap { case (g, text) =>
      graft.analysis.Analyzer.tokenize(text).distinct
        .map(t => s"('${esc(g)}', '${esc(t)}')")
    }.mkString(", ")
    s"""WITH ${indexCtes(corpusSql)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |scored AS (
       |  SELECT qt.query_id, tf.doc_id,
       |         sum( ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
       |              * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) ) AS score
       |  FROM qt JOIN tf USING (term) JOIN df USING (term)
       |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
       |  GROUP BY qt.query_id, tf.doc_id),
       |gt(group_name, term) AS (VALUES $gtValues),
       |member AS (SELECT DISTINCT gt.group_name, tf.doc_id
       |           FROM gt JOIN tf USING (term)),
       |j AS (SELECT s.query_id, m.group_name, s.doc_id, s.score
       |      FROM scored s JOIN member m USING (doc_id)),
       |r AS (SELECT *,
       |        row_number() OVER (PARTITION BY query_id, group_name
       |          ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk,
       |        count(*) OVER (PARTITION BY query_id, group_name) AS ghits
       |      FROM j)
       |SELECT query_id, group_name, CAST(rnk AS INT) AS "rank", doc_id,
       |       round(score, 4) AS score, ghits::BIGINT AS group_hits
       |FROM r WHERE rnk <= $groupLimit
       |ORDER BY query_id, group_name, rnk""".stripMargin
  }

  /** Twin of [[graft.search.Percolator.percolate]]: the registry parsed
    * by the SAME [[graft.search.Search.parseClauses]] at build time (the
    * SQL-parsed clause-oracle idiom) into (name, term, kind) VALUES +
    * per-query requirement counts; distinct doc terms ⋈ registry,
    * boolean rule replicated, pure-negative queries unioned via
    * NOT EXISTS over their not-hits. */
  def percolate(queries: Seq[(String, String)]): String = {
    val parsed = queries.map { case (name, q) =>
      val c = graft.search.Search.parseClauses(q)
      (name, c.must, c.should, c.not)
    }
    val qtRows = parsed.flatMap { case (n, m, s, nt) =>
      m.map(t => s"('${esc(n)}', '${esc(t)}', 'm')") ++
        s.map(t => s"('${esc(n)}', '${esc(t)}', 's')") ++
        nt.map(t => s"('${esc(n)}', '${esc(t)}', 'n')")
    }.mkString(", ")
    val rqRows = parsed.map { case (n, m, s, _) =>
      s"('${esc(n)}', ${m.size}, ${s.size})" }.mkString(", ")
    val pn = parsed.collect {
      case (n, m, s, _) if m.isEmpty && s.isEmpty => s"('${esc(n)}')" }
    val pnCte =
      if (pn.isEmpty) ""
      else s""",
         |pn(query_name) AS (VALUES ${pn.mkString(", ")})""".stripMargin
    val pnUnion =
      if (pn.isEmpty) ""
      else s"""
         |UNION ALL
         |SELECT c.doc_id, pn.query_name, 0 AS must_matched, 0 AS should_matched
         |FROM corpus c CROSS JOIN pn
         |WHERE NOT EXISTS (SELECT 1 FROM h
         |  WHERE h.doc_id = c.doc_id AND h.query_name = pn.query_name
         |    AND h.nm > 0)""".stripMargin
    s"""WITH corpus AS (SELECT doc_id, text FROM documents),
       |dt AS (SELECT DISTINCT doc_id, term FROM
       |        (SELECT doc_id, unnest(${Analyzer.sqlTokenList("text")}) AS term FROM corpus)),
       |qt(query_name, term, kind) AS (VALUES $qtRows),
       |rq(query_name, n_must, n_should) AS (VALUES $rqRows),
       |h AS (SELECT d.doc_id, q.query_name,
       |        count(CASE WHEN kind = 'm' THEN 1 END) AS mm,
       |        count(CASE WHEN kind = 's' THEN 1 END) AS sm,
       |        count(CASE WHEN kind = 'n' THEN 1 END) AS nm
       |      FROM dt d JOIN qt q USING (term) GROUP BY 1, 2)$pnCte
       |SELECT doc_id, query_name, CAST(mm AS INT) AS must_matched,
       |       CAST(sm AS INT) AS should_matched
       |FROM h JOIN rq USING (query_name)
       |WHERE nm = 0 AND mm = n_must AND (n_must > 0 OR sm >= 1)$pnUnion
       |ORDER BY doc_id, query_name""".stripMargin
  }

  /** Twin of [[graft.search.Search.searchMaxP]] (Dai & Callan MaxP):
    * chunk twin → passage-level index CTEs (df/avgdl over PASSAGES) →
    * per-passage BM25 → per-doc max of the round-7 passage scores, best
    * chunk = min idx among the maximizers, doc rank (best DESC, doc_id
    * ASC). */
  def bm25MaxP(queries: Seq[(Int, String)], chunkSize: Int, stride: Int,
               k: Int): String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents),
       |tk AS (SELECT doc_id, ${Analyzer.sqlTokenList("text")} AS toks FROM corpus),
       |starts AS (SELECT doc_id, toks,
       |             unnest(range(0, ((len(toks) - 1) // $stride) + 1)) AS i
       |           FROM tk WHERE len(toks) > 0),
       |pc AS (SELECT doc_id * 1024 + i AS pid,
       |         toks[i * $stride + 1 : i * $stride + $chunkSize] AS ptoks
       |       FROM starts),
       |ptk AS (SELECT pid, unnest(ptoks) AS term FROM pc),
       |dl AS (SELECT pid, count(*)::INT AS dl FROM ptk GROUP BY pid),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf AS (SELECT term, pid, count(*)::INT AS tf FROM ptk GROUP BY 1, 2),
       |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |ps AS (SELECT qt.query_id, tf.pid,
       |         sum( ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
       |              * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) ) AS sc
       |       FROM qt JOIN tf USING (term) JOIN df USING (term)
       |            JOIN dl ON tf.pid = dl.pid CROSS JOIN stats s
       |       GROUP BY qt.query_id, tf.pid),
       |d AS (SELECT query_id, pid // 1024 AS doc_id,
       |             CAST(pid % 1024 AS INT) AS idx, round(sc, 7) AS rs
       |      FROM ps),
       |agg AS (SELECT query_id, doc_id, max(rs) AS best,
       |               count(*)::INT AS np
       |        FROM d GROUP BY 1, 2),
       |win AS (SELECT a.query_id, a.doc_id, a.best, a.np,
       |               min(d.idx) AS bidx
       |        FROM agg a JOIN d ON d.query_id = a.query_id
       |             AND d.doc_id = a.doc_id AND d.rs = a.best
       |        GROUP BY 1, 2, 3, 4),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY best DESC, doc_id ASC) AS rnk FROM win)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id,
       |       round(best, 4) AS score, CAST(bidx AS INT) AS best_chunk_idx,
       |       np AS n_passages
       |FROM r WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin

  /** Twin of [[graft.search.Clustering.clusters]]: BM25 top-k per query
    * ([[bm25TopK]]'s scored/ranked CTEs verbatim), label = each hit doc's
    * (min df, then min term) dictionary term, clusters grouped per
    * (query, label) with the < minClusterSize remainder folded into one
    * `__other__` bucket per query. */
  def bm25Clusters(corpusSql: String, queries: Seq[(Int, String)], k: Int,
                   minClusterSize: Int): String =
    s"""WITH ${indexCtes(corpusSql)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |scored AS (
       |  SELECT qt.query_id, tf.doc_id,
       |         sum( ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
       |              * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) ) AS score
       |  FROM qt JOIN tf USING (term) JOIN df USING (term)
       |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
       |  GROUP BY qt.query_id, tf.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored),
       |topk AS (SELECT query_id, doc_id FROM ranked WHERE rnk <= $k),
       |docterms AS (SELECT DISTINCT doc_id, term FROM tf
       |             WHERE doc_id IN (SELECT doc_id FROM topk)),
       |lab AS (SELECT doc_id, term AS label FROM (
       |          SELECT dt.doc_id, dt.term,
       |                 row_number() OVER (PARTITION BY dt.doc_id
       |                                    ORDER BY df.df ASC, dt.term ASC) AS rn
       |          FROM docterms dt JOIN df USING (term)) WHERE rn = 1),
       |labeled AS (SELECT t.query_id, t.doc_id, l.label
       |            FROM topk t JOIN lab l USING (doc_id)),
       |g AS (SELECT query_id, label, count(*)::INT AS n_docs,
       |             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS docs
       |      FROM labeled GROUP BY query_id, label),
       |big AS (SELECT * FROM g WHERE n_docs >= $minClusterSize),
       |small AS (SELECT l.query_id, l.doc_id FROM labeled l
       |          LEFT JOIN big b ON l.query_id = b.query_id AND l.label = b.label
       |          WHERE b.label IS NULL),
       |oth AS (SELECT query_id, '__other__' AS label, count(*)::INT AS n_docs,
       |               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS docs
       |        FROM small GROUP BY query_id)
       |SELECT query_id, label, n_docs, docs FROM big
       |UNION ALL
       |SELECT query_id, label, n_docs, docs FROM oth
       |ORDER BY query_id, n_docs DESC, label""".stripMargin

  /** Disjunctive top-k under a pluggable similarity — [[bm25TopK]]'s
    * shape with the per-(term, doc) score expression supplied by the
    * model itself ([[graft.search.Similarities.SimilarityModel.sqlTermScore]]),
    * so the SQL twin lives beside the Column expression and cannot
    * drift. */
  def simTopK(corpusSql: String, queries: Seq[(Int, String)], k: Int,
              sim: graft.search.Similarities.SimilarityModel): String =
    s"""WITH ${indexCtes(corpusSql)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |scored AS (
       |  SELECT qt.query_id, tf.doc_id,
       |         sum( ${sim.sqlTermScore} ) AS score
       |  FROM qt JOIN tf USING (term) JOIN df USING (term)
       |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
       |  GROUP BY qt.query_id, tf.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin

  /** Transcripts corpus carrying the full facetable attribute set (the
    * persisted index's `docs/` columns minus ts — dl rides the dl CTE). */
  def transcriptsCorpusFacets: String =
    s"""SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id,
       |       text, conv_id, role, tool, turn_idx
       |FROM ($transcriptsSql)""".stripMargin

  /** queries → qt → distinct (query_id, doc_id) match-set CTE chain —
    * the DocSet every facet twin shares. */
  private def matchedCtes(queries: Seq[(Int, String)]): String =
    s"""queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |matched AS (SELECT DISTINCT qt.query_id, tf.doc_id
       |  FROM qt JOIN tf USING (term))""".stripMargin

  /** Twin of [[graft.search.Facets.fields]] via IndexSearch.facetFields:
    * repeated facet.field params, NULL values uncounted, string-valued. */
  def facetFields(queries: Seq[(Int, String)], cols: Seq[String],
                  missing: Boolean = false, mincount: Long = 0L): String = {
    val branches = cols.map { c =>
      val pred = if (missing) "TRUE" else s"$c IS NOT NULL"
      val having = if (mincount == 0L) "" else s"\n  HAVING count(*) >= $mincount"
      s"""SELECT query_id, '$c' AS field, CAST($c AS VARCHAR) AS value, count(*)::BIGINT AS n_docs
         |  FROM matched JOIN corpus USING (doc_id) WHERE $pred
         |  GROUP BY query_id, $c$having""".stripMargin
    }
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)}
       |SELECT * FROM (
       |  ${branches.mkString("\n  UNION ALL\n  ")}
       |) ORDER BY query_id, field, value""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.responseStats]]: Solr rows=0
    * numFound + group.ngroups per query, zero-filled query spine;
    * count(DISTINCT) ignores NULLs on both engines. */
  def responseStats(queries: Seq[(Int, String)], groupField: String): String =
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |agg AS (SELECT query_id, count(*)::BIGINT AS nf,
       |               count(DISTINCT $groupField)::BIGINT AS ng
       |        FROM matched JOIN corpus USING (doc_id)
       |        GROUP BY query_id),
       |qids AS (SELECT DISTINCT query_id FROM queries)
       |SELECT qids.query_id, coalesce(nf, 0) AS num_found,
       |       coalesce(ng, 0) AS ngroups
       |FROM qids LEFT JOIN agg USING (query_id)
       |ORDER BY query_id""".stripMargin

  /** Twin of [[graft.search.Facets.queryCounts]]: named facet.query
    * predicates (SQL twins of the Spark Columns), zero-filled on the
    * query-id spine — a query with an empty match set still reports
    * all-zero rows. Predicates may reference corpus attributes and dl. */
  def facetQueries(queries: Seq[(Int, String)],
                   named: Seq[(String, String)]): String = {
    val aggCols = named.zipWithIndex.map { case ((_, pred), i) =>
      s"count(*) FILTER (WHERE $pred) AS c$i"
    }
    val branches = named.zipWithIndex.map { case ((n, _), i) =>
      s"SELECT query_id, '${esc(n)}' AS facet, CAST(coalesce(c$i, 0) AS BIGINT) AS n_docs FROM filled"
    }
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |agg AS (SELECT query_id, ${aggCols.mkString(", ")}
       |        FROM matched JOIN corpus USING (doc_id) JOIN dl USING (doc_id)
       |        GROUP BY query_id),
       |qids AS (SELECT DISTINCT query_id FROM queries),
       |filled AS (SELECT qids.query_id, ${named.indices.map(i => s"c$i").mkString(", ")}
       |           FROM qids LEFT JOIN agg ON qids.query_id = agg.query_id)
       |SELECT * FROM (
       |  ${branches.mkString("\n  UNION ALL\n  ")}
       |) ORDER BY query_id, facet""".stripMargin
  }

  /** Twin of [[graft.search.Facets.intervals]] over the dl attribute:
    * per (query × facet.interval.set) counts, zero-filled spine. The
    * interval predicates render from the SAME parsed
    * [[graft.search.Facets.Interval]] values the engine evaluates
    * (`Interval.sql` / `Interval.pred` — one AST, two engines). */
  def facetIntervalsDl(queries: Seq[(Int, String)],
                       sets: Seq[graft.search.Facets.Interval]): String = {
    val aggCols = sets.zipWithIndex.map { case (iv, i) =>
      s"count(*) FILTER (WHERE ${iv.sql("dl")}) AS c$i"
    }
    val branches = sets.zipWithIndex.map { case (iv, i) =>
      s"""SELECT query_id, '${esc(iv.label)}' AS "interval", CAST(coalesce(c$i, 0) AS BIGINT) AS n_docs FROM filled"""
    }
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |agg AS (SELECT query_id, ${aggCols.mkString(", ")}
       |        FROM matched JOIN dl USING (doc_id)
       |        GROUP BY query_id),
       |qids AS (SELECT DISTINCT query_id FROM queries),
       |filled AS (SELECT qids.query_id, ${sets.indices.map(i => s"c$i").mkString(", ")}
       |           FROM qids LEFT JOIN agg ON qids.query_id = agg.query_id)
       |SELECT * FROM (
       |  ${branches.mkString("\n  UNION ALL\n  ")}
       |) ORDER BY query_id, "interval"""".stripMargin
  }

  /** Twin of [[graft.search.Facets.multiSelect]]: each facet field counts
    * the match set under every tagged fq predicate except its excluded
    * tags. `filters` are (tag, SQL predicate) — SparkEntry keeps the
    * Column and SQL forms side by side, the FacetQueryDefs pattern. */
  def facetMultiSelect(queries: Seq[(Int, String)],
                       filters: Seq[(String, String)],
                       facets: Seq[(String, Set[String])]): String = {
    val branches = facets.map { case (f, ex) =>
      val preds = filters.collect { case (tag, p) if !ex.contains(tag) => s"($p)" }
      val where = (preds :+ s"$f IS NOT NULL").mkString(" AND ")
      s"""SELECT query_id, '${esc(f)}' AS field, CAST($f AS VARCHAR) AS value,
         |       count(*)::BIGINT AS n_docs
         |  FROM base WHERE $where GROUP BY 1, 2, 3""".stripMargin
    }
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |base AS (SELECT matched.query_id, corpus.*, dl.dl AS dl
       |         FROM matched JOIN corpus USING (doc_id) JOIN dl USING (doc_id))
       |SELECT * FROM (
       |  ${branches.mkString("\n  UNION ALL\n  ")}
       |) ORDER BY query_id, field, value""".stripMargin
  }

  /** Twin of [[graft.search.Facets.range]] over the dl attribute:
    * half-open [b, b+gap) buckets keyed by LONG bucket start, full
    * (query × bucket) spine zero-filled, values outside [start, end)
    * uncounted. */
  def facetRangeDl(queries: Seq[(Int, String)], start: Long, end: Long,
                   gap: Long): String =
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |buckets AS (SELECT unnest(range($start, $end, $gap)) AS bucket),
       |qids AS (SELECT DISTINCT query_id FROM queries),
       |spine AS (SELECT query_id, bucket FROM qids CROSS JOIN buckets),
       |cnt AS (SELECT query_id,
       |               CAST($start + ((dl - $start) // $gap) * $gap AS BIGINT) AS bucket,
       |               count(*)::BIGINT AS n
       |        FROM matched JOIN dl USING (doc_id)
       |        WHERE dl >= $start AND dl < $end
       |        GROUP BY 1, 2)
       |SELECT query_id, bucket, CAST(coalesce(n, 0) AS BIGINT) AS n_docs
       |FROM spine LEFT JOIN cnt USING (query_id, bucket)
       |ORDER BY query_id, bucket""".stripMargin

  /** Twin of [[graft.search.Facets.rangeOther]] over dl: the numeric
    * buckets (string-labeled) plus before/after/between, zero-filled on
    * the full label spine. */
  def facetRangeOtherDl(queries: Seq[(Int, String)], start: Long, end: Long,
                        gap: Long): String = {
    val numericLabels = (start until end by gap)
      .map(b => s"('$b')").mkString(", ")
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |labels(bucket) AS (VALUES $numericLabels, ('before'), ('after'), ('between')),
       |qids AS (SELECT DISTINCT query_id FROM queries),
       |spine AS (SELECT query_id, bucket FROM qids CROSS JOIN labels),
       |j AS (SELECT query_id, dl FROM matched JOIN dl USING (doc_id)),
       |num AS (SELECT query_id,
       |               CAST(CAST($start + ((dl - $start) // $gap) * $gap AS BIGINT) AS VARCHAR) AS bucket,
       |               count(*)::BIGINT AS n
       |        FROM j WHERE dl >= $start AND dl < $end GROUP BY 1, 2),
       |oth AS (SELECT query_id, 'before' AS bucket,
       |               count(*) FILTER (WHERE dl < $start)::BIGINT AS n FROM j GROUP BY 1
       |        UNION ALL
       |        SELECT query_id, 'after', count(*) FILTER (WHERE dl >= $end)::BIGINT FROM j GROUP BY 1
       |        UNION ALL
       |        SELECT query_id, 'between',
       |               count(*) FILTER (WHERE dl >= $start AND dl < $end)::BIGINT FROM j GROUP BY 1),
       |cnt AS (SELECT * FROM num UNION ALL SELECT * FROM oth)
       |SELECT query_id, bucket, CAST(coalesce(n, 0) AS BIGINT) AS n_docs
       |FROM spine LEFT JOIN cnt USING (query_id, bucket)
       |ORDER BY query_id, bucket""".stripMargin
  }

  /** Twin of [[graft.search.Facets.jsonQuery]]: named SQL predicates over
    * the stored attributes, each bucket carrying the metric ADT's rendered
    * SQL; zero-filled (query × facet) spine with typed-NULL metrics on
    * empty buckets. */
  def facetJsonQuery(queries: Seq[(Int, String)],
                     named: Seq[(String, String)],
                     metrics: Seq[graft.search.Facets.JsonMetric]): String = {
    val mSql = metrics.map(m => ",\n         " + m.sql).mkString
    val mNames = metrics.map(m => ", " + m.name).mkString
    val nameRows = named.map { case (n, _) => s"('${esc(n)}')" }.mkString(", ")
    val branches = named.map { case (n, pred) =>
      s"""SELECT query_id, '${esc(n)}' AS facet, count(*)::BIGINT AS n_docs$mSql
         |  FROM j WHERE $pred GROUP BY 1""".stripMargin
    }
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |j AS (SELECT query_id, corpus.*, dl.dl AS dl
       |      FROM matched JOIN corpus USING (doc_id) JOIN dl USING (doc_id)),
       |names(facet) AS (VALUES $nameRows),
       |qids AS (SELECT DISTINCT query_id FROM queries),
       |spine AS (SELECT query_id, facet FROM qids CROSS JOIN names),
       |agg AS (
       |  ${branches.mkString("\n  UNION ALL\n  ")})
       |SELECT query_id, facet, CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs$mNames
       |FROM spine LEFT JOIN agg USING (query_id, facet)
       |ORDER BY query_id, facet""".stripMargin
  }

  /** Twin of [[graft.search.Facets.jsonRange]] over the dl attribute:
    * JSON-facet range buckets zero-filled on the (query × bucket) spine,
    * each carrying the metric ADT's rendered SQL; empty buckets keep
    * typed-NULL metrics via the spine left join. */
  def facetJsonRangeDl(queries: Seq[(Int, String)], start: Long, end: Long,
                       gap: Long,
                       metrics: Seq[graft.search.Facets.JsonMetric]): String = {
    val mSql = metrics.map(m => ",\n               " + m.sql).mkString
    val mNames = metrics.map(m => ", " + m.name).mkString
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |buckets AS (SELECT unnest(range($start, $end, $gap)) AS bucket),
       |qids AS (SELECT DISTINCT query_id FROM queries),
       |spine AS (SELECT query_id, bucket FROM qids CROSS JOIN buckets),
       |j AS (SELECT query_id, corpus.*, dl.dl AS dl
       |      FROM matched JOIN corpus USING (doc_id) JOIN dl USING (doc_id)
       |      WHERE dl >= $start AND dl < $end),
       |agg AS (SELECT query_id,
       |               CAST($start + ((dl - $start) // $gap) * $gap AS BIGINT) AS bucket,
       |               count(*)::BIGINT AS n_docs$mSql
       |        FROM j GROUP BY 1, 2)
       |SELECT query_id, bucket, CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs$mNames
       |FROM spine LEFT JOIN agg USING (query_id, bucket)
       |ORDER BY query_id, bucket""".stripMargin
  }

  /** Twin of [[graft.search.Facets.topValues]] via IndexSearch.facetTop:
    * facet.sort=count + facet.limit — top-N values by (n_docs DESC,
    * value ASC), rank in the output. */
  /** Twin of the RealTimeGet engines: stored-doc lookup by key. The
    * unified index carries text; segment doc attrs do not — `withText`
    * selects the matching projection. */
  def getDocs(keys: Seq[(String, Int)], withText: Boolean): String = {
    require(keys.nonEmpty, "realtime get oracle needs at least one key")
    val keyRows = keys.map { case (c, t) => s"('${esc(c)}', $t)" }
    val textCol = if (withText) ", text" else ""
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |keys(conv_id, turn_idx) AS (VALUES ${keyRows.mkString(", ")})
       |SELECT corpus.conv_id, corpus.turn_idx, role, tool,
       |       CAST(dl.dl AS BIGINT) AS dl$textCol
       |FROM corpus JOIN keys USING (conv_id, turn_idx)
       |     JOIN dl ON corpus.doc_id = dl.doc_id
       |ORDER BY conv_id, turn_idx""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.getDocsRealtime]]: the committed
    * [[getDocs]] lookup with pending-key rows EXCLUDED, unioned with the
    * pending batch itself (driver literals) restricted to the requested
    * keys, dl re-derived from the literal text by the analyzer twin. */
  def getDocsRealtime(keys: Seq[(String, Int)],
                      pending: Seq[(String, Int, String, String, String)]): String = {
    require(keys.nonEmpty && pending.nonEmpty,
      "realtime-get oracle needs keys and a pending batch")
    val keyRows = keys.map { case (c, t) => s"('${esc(c)}', $t)" }
    val pendRows = pending.map { case (c, t, role, tool, text) =>
      s"('${esc(c)}', $t, '${esc(role)}', '${esc(tool)}', '${esc(text)}')" }
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |keys(conv_id, turn_idx) AS (VALUES ${keyRows.mkString(", ")}),
       |pend(conv_id, turn_idx, role, tool, text) AS (VALUES ${pendRows.mkString(", ")})
       |SELECT c.conv_id, c.turn_idx, c.role, c.tool,
       |       CAST(dl.dl AS BIGINT) AS dl, c.text
       |FROM corpus c JOIN keys USING (conv_id, turn_idx)
       |     JOIN dl ON c.doc_id = dl.doc_id
       |WHERE NOT EXISTS (SELECT 1 FROM pend p
       |        WHERE p.conv_id = c.conv_id AND p.turn_idx = c.turn_idx)
       |UNION ALL
       |SELECT p.conv_id, p.turn_idx, p.role, p.tool,
       |       CAST(len(${Analyzer.sqlTokenList("p.text")}) AS BIGINT) AS dl,
       |       p.text
       |FROM pend p JOIN keys USING (conv_id, turn_idx)
       |ORDER BY conv_id, turn_idx""".stripMargin
  }

  /** Twin of RealTimeGet AFTER [[graft.index.IndexMerge.atomicSet]]: the
    * stored-doc lookup with the atomic `set` modifiers applied as CASE
    * overrides on role/tool (text sets would change dl — the fixture pins
    * attribute sets, the common Solr shape). */
  def getDocsUpdated(keys: Seq[(String, Int)],
                     sets: Seq[((String, Int), Map[String, String])]): String = {
    require(keys.nonEmpty, "realtime get oracle needs at least one key")
    def overridden(field: String, base: String): String = {
      val cases = sets.collect { case ((c, t), m) if m.contains(field) =>
        s"WHEN corpus.conv_id = '${esc(c)}' AND corpus.turn_idx = $t THEN '${esc(m(field))}'"
      }
      if (cases.isEmpty) base
      else s"CASE ${cases.mkString(" ")} ELSE $base END AS $field"
    }
    val keyRows = keys.map { case (c, t) => s"('${esc(c)}', $t)" }
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |keys(conv_id, turn_idx) AS (VALUES ${keyRows.mkString(", ")})
       |SELECT corpus.conv_id, corpus.turn_idx, ${overridden("role", "role")},
       |       ${overridden("tool", "tool")},
       |       CAST(dl.dl AS BIGINT) AS dl, text
       |FROM corpus JOIN keys USING (conv_id, turn_idx)
       |     JOIN dl ON corpus.doc_id = dl.doc_id
       |ORDER BY conv_id, turn_idx""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.termVectors]]: per requested doc
    * the (term, tf, first 0-based position, collection df) rows. Token
    * positions via DuckDB's positional parallel-unnest zip (verified on
    * 1.0 — see the repo memory notes), 0-based to match posexplode. */
  def termVectors(keys: Seq[(String, Int)]): String = {
    require(keys.nonEmpty, "term vectors oracle needs at least one key")
    val keyRows = keys.map { case (c, t) => s"('${esc(c)}', $t)" }
    val toklist = Analyzer.sqlTokenList("text")
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |keys(conv_id, turn_idx) AS (VALUES ${keyRows.mkString(", ")}),
       |kd AS (SELECT corpus.conv_id, corpus.turn_idx, corpus.doc_id, text
       |       FROM corpus JOIN keys USING (conv_id, turn_idx)),
       |ptoks AS (SELECT conv_id, turn_idx, unnest($toklist) AS term,
       |                 unnest(range(0, len($toklist))) AS pos
       |          FROM kd),
       |tv AS (SELECT conv_id, turn_idx, term, count(*)::INT AS tf,
       |              CAST(min(pos) AS INT) AS first_pos
       |       FROM ptoks GROUP BY 1, 2, 3)
       |SELECT conv_id, turn_idx, tv.term, tf, first_pos, df.df AS df
       |FROM tv JOIN df USING (term)
       |ORDER BY conv_id, turn_idx, tv.term""".stripMargin
  }

  def facetTop(queries: Seq[(Int, String)], field: String,
               topN: Int, prefix: Option[String] = None,
               contains: Option[String] = None,
               sort: String = "count", offset: Int = 0): String = {
    require(sort == "count" || sort == "index",
      s"facet.sort must be 'count' or 'index' (got '$sort')")
    // facet.contains values are plain substrings; reject LIKE metachars
    // rather than escaping them (the engine side matches literally)
    contains.foreach(c => require(!c.exists("%_".contains(_)),
      s"facet.contains '$c' must not contain LIKE wildcards"))
    val prefixPred = prefix
      .map(p => s" AND CAST($field AS VARCHAR) LIKE '${esc(p)}%'")
      .getOrElse("") + contains
      .map(c => s" AND CAST($field AS VARCHAR) LIKE '%${esc(c)}%'")
      .getOrElse("")
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |cnt AS (SELECT query_id, CAST($field AS VARCHAR) AS value, count(*)::BIGINT AS n_docs
       |        FROM matched JOIN corpus USING (doc_id)
       |        WHERE $field IS NOT NULL$prefixPred GROUP BY 1, 2),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                      ORDER BY ${if (sort == "count") "n_docs DESC, value ASC"
                                         else "value ASC"}) AS rnk FROM cnt)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", value, n_docs
       |FROM ranked WHERE rnk > $offset AND rnk <= ${offset + topN}
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.exportSorted]] (`/export`): the
    * full conjunctive match set with stored fields, positioned by
    * (dl ASC, doc_id ASC) — the whole result set is the output, so the
    * gate verifies completeness, field fetch, and sort order at once. */
  def exportSortedDl(queries: Seq[(Int, String)]): String =
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |nq AS (SELECT query_id, count(*)::BIGINT AS n_q FROM qt GROUP BY query_id),
       |m AS (SELECT qt.query_id, tf.doc_id, count(*)::BIGINT AS nm
       |      FROM qt JOIN tf USING (term) GROUP BY 1, 2),
       |matched AS (SELECT query_id, doc_id FROM m JOIN nq USING (query_id)
       |            WHERE nm = n_q),
       |j AS (SELECT query_id, doc_id, conv_id, turn_idx, role,
       |             CAST(dl.dl AS INT) AS dl
       |      FROM matched JOIN corpus USING (doc_id) JOIN dl USING (doc_id)),
       |pos AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |          ORDER BY dl ASC, doc_id ASC) AS export_pos FROM j)
       |SELECT query_id, CAST(export_pos AS INT) AS export_pos, doc_id,
       |       conv_id, turn_idx, role, dl
       |FROM pos ORDER BY query_id, export_pos""".stripMargin

  /** Twin of [[graft.search.StreamExpr.run]]: the SAME parsed AST renders
    * this SQL (StreamExpr.sql) — the expression string is interpreted
    * exactly once, driver-side, for both engines. `docsattrs` is the
    * stored-field surface (corpus attributes + dl). */
  def streamExpr(expr: String): String =
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |docsattrs AS (SELECT doc_id, conv_id, turn_idx, role, tool,
       |                     CAST(dl.dl AS INT) AS dl
       |              FROM corpus JOIN dl USING (doc_id))
       |${graft.search.StreamExpr.sql(graft.search.StreamExpr.parse(expr))}""".stripMargin

  /** Twin of [[graft.search.IndexSearch.searchBoostQuery]] (`bq=`): the
    * bq STRING is parsed by the SAME [[graft.search.Search.parseClauses]]
    * the engine uses (driver-side shared parse), its per-doc
    * Σ boost·BM25 computed once, LEFT-joined onto the main scored set —
    * bq never extends the match set. */
  def bm25BoostQuery(corpusSql: String, queries: Seq[(Int, String)],
                     k: Int, bq: String): String = {
    val c = graft.search.Search.parseClauses(bq)
    val bqtRows = c.should.map(t => s"('${esc(t)}', ${c.boost(t)})")
    s"""WITH ${indexCtes(corpusSql)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |bqt(term, b) AS (VALUES ${bqtRows.mkString(", ")}),
       |bqs AS (
       |  SELECT tf.doc_id,
       |         sum( b * ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
       |              * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) ) AS bq
       |  FROM bqt JOIN tf USING (term) JOIN df USING (term)
       |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
       |  GROUP BY tf.doc_id),
       |boosted AS (SELECT query_id, scored.doc_id,
       |                   score + coalesce(bq, 0) AS score
       |            FROM scored LEFT JOIN bqs ON scored.doc_id = bqs.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM boosted)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.searchReranked]] (Solr
    * ReRankQParser): first-pass ranks from the standard scored CTE; the
    * top-`reRankDocs` rows per query re-score as main + W·rerank and
    * re-rank among themselves, rows below the boundary keep their
    * first-pass rank and score. The rerank disjunction parses through
    * the engine's own clause parser — the shared-seam pattern. */
  def bm25Reranked(corpusSql: String, queries: Seq[(Int, String)],
                   rerankQuery: String, reRankDocs: Int,
                   reRankWeight: Double, k: Int): String = {
    val c = graft.search.Search.parseClauses(rerankQuery)
    val rqtRows = c.should.map(t => s"('${esc(t)}', ${c.boost(t)})")
    s"""WITH ${indexCtes(corpusSql)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |ranked0 AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk0
       |  FROM scored),
       |rqt(term, b) AS (VALUES ${rqtRows.mkString(", ")}),
       |rqs AS (
       |  SELECT tf.doc_id,
       |         sum( b * ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
       |              * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) ) AS rr
       |  FROM rqt JOIN tf USING (term) JOIN df USING (term)
       |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s
       |  GROUP BY tf.doc_id),
       |head AS (SELECT query_id, ranked0.doc_id,
       |                score + $reRankWeight * coalesce(rr, 0) AS score
       |         FROM ranked0 LEFT JOIN rqs ON ranked0.doc_id = rqs.doc_id
       |         WHERE rnk0 <= $reRankDocs),
       |headRanked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM head),
       |unioned AS (
       |  SELECT query_id, doc_id, score, rnk FROM headRanked
       |  UNION ALL
       |  SELECT query_id, doc_id, score, rnk0 AS rnk FROM ranked0
       |  WHERE rnk0 > $reRankDocs)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM unioned WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.BlockJoin.parents]] via
    * IndexSearch.searchParents: top-k parent conversations by the
    * ScoreMode aggregate (`total` = sum, `max`, `avg` = sum/count) of
    * their matching turns' BM25 scores, (round(score,7) DESC, parent ASC)
    * rank order. */
  def bm25Parents(queries: Seq[(Int, String)], k: Int,
                  mode: String, parentField: String = "conv_id"): String = {
    val aggSql = mode match {
      case "total" => "sum(score)"
      case "max" => "max(score)"
      case "avg" => "sum(score) / count(*)"
      case other => throw new IllegalArgumentException(
        s"block join score mode must be total|max|avg, got '$other'")
    }
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |par AS (SELECT query_id, CAST($parentField AS VARCHAR) AS parent,
       |               $aggSql AS score, count(*)::BIGINT AS n_children
       |        FROM scored JOIN corpus USING (doc_id)
       |        WHERE $parentField IS NOT NULL
       |        GROUP BY 1, 2),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY round(score, 7) DESC, parent ASC) AS rnk FROM par)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", parent, n_children,
       |       round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.searchFielded]]: plain-term BM25
    * clause rows UNION'd with fielded constant-score rows (boost · idf of
    * the attr value's live df — the Lucene omitNorms StrField algebra),
    * aggregated under the shared must/not/should match rules. Clause
    * parsing shared with the engine ([[graft.search.Search.parseClauses]]).
    */
  def bm25Fielded(queries: Seq[(Int, String)], k: Int): String = {
    val parsed = queries.map { case (id, t) =>
      (id, graft.search.Search.parseClauses(t))
    }
    val qtValues0 = parsed.flatMap { case (id, c) =>
      c.must.map(t => s"($id, '${esc(t)}', 1, CAST(${c.boost(t)} AS DOUBLE))") ++
        c.should.map(t => s"($id, '${esc(t)}', 0, CAST(${c.boost(t)} AS DOUBLE))")
    }
    val qtValues = if (qtValues0.nonEmpty) qtValues0
      else Seq("(0, '', 0, CAST(1 AS DOUBLE))")
    val fSelects = parsed.flatMap { case (id, c) =>
      (c.fieldedMust.map((_, 1)) ++ c.fieldedShould.map((_, 0))).map {
        case ((f, v), m) =>
          s"""SELECT $id AS query_id, doc_id,
             |    CAST(${c.fieldedBoost((f, v))} AS DOUBLE)
             |      * ln(1 + ((SELECT n_docs FROM stats) - fdf.df + 0.5)
             |               / (fdf.df + 0.5)) AS s, $m AS m
             |  FROM corpus CROSS JOIN (SELECT count(*) AS df FROM corpus
             |                          WHERE CAST($f AS VARCHAR) = '${esc(v)}') fdf
             |  WHERE CAST($f AS VARCHAR) = '${esc(v)}'""".stripMargin
      }
    }
    val negTValues0 = parsed.flatMap { case (id, c) =>
      c.not.map(t => s"($id, '${esc(t)}')") }
    val negTValues = if (negTValues0.nonEmpty) negTValues0 else Seq("(0, '')")
    val negFSelects = parsed.flatMap { case (id, c) =>
      c.fieldedNot.map { case (f, v) =>
        s"SELECT $id AS query_id, doc_id FROM corpus WHERE CAST($f AS VARCHAR) = '${esc(v)}'" } }
    val nMustValues = parsed.map { case (id, c) =>
      s"($id, ${c.must.size + c.fieldedMust.size})" }
    val negUnion = (Seq(
      "SELECT q.query_id, tf.doc_id FROM negterms q JOIN tf USING (term)") ++
      negFSelects).mkString("\n  UNION\n  ")
    val allRows = (Seq("SELECT * FROM tscore") ++ fSelects)
      .mkString("\n  UNION ALL\n  ")
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |qterms(query_id, term, m, boost) AS (VALUES ${qtValues.mkString(", ")}),
       |negterms(query_id, term) AS (VALUES ${negTValues.mkString(", ")}),
       |nmust(query_id, n_must) AS (VALUES ${nMustValues.mkString(", ")}),
       |tscore AS (
       |  SELECT q.query_id, tf.doc_id,
       |         q.boost * ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5))
       |           * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/s.avgdl)) AS s,
       |         q.m
       |  FROM qterms q JOIN tf USING (term) JOIN df USING (term)
       |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s),
       |allrows AS (
       |  $allRows),
       |negdocs AS (
       |  $negUnion),
       |agg AS (SELECT query_id, doc_id, sum(s) AS score, sum(m) AS must_ok
       |        FROM allrows GROUP BY 1, 2),
       |ranked AS (
       |  SELECT a.query_id, a.doc_id, a.score,
       |         row_number() OVER (PARTITION BY a.query_id
       |                            ORDER BY round(a.score, 7) DESC, a.doc_id ASC) AS rnk
       |  FROM agg a JOIN nmust n USING (query_id)
       |       LEFT JOIN negdocs x ON x.query_id = a.query_id AND x.doc_id = a.doc_id
       |  WHERE a.must_ok = n.n_must AND x.doc_id IS NULL)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.searchChildren]] ({!child}):
    * the [[bm25Parents]] chain's top-k parents joined back to every
    * child turn, children carrying the parent's score and rank. */
  def bm25Children(queries: Seq[(Int, String)], k: Int,
                   mode: String, parentField: String = "conv_id"): String = {
    val aggSql = mode match {
      case "total" => "sum(score)"
      case "max" => "max(score)"
      case "avg" => "sum(score) / count(*)"
      case other => throw new IllegalArgumentException(
        s"block join score mode must be total|max|avg, got '$other'")
    }
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |par AS (SELECT query_id, CAST($parentField AS VARCHAR) AS parent,
       |               $aggSql AS score
       |        FROM scored JOIN corpus USING (doc_id)
       |        WHERE $parentField IS NOT NULL
       |        GROUP BY 1, 2),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY round(score, 7) DESC, parent ASC) AS rnk FROM par)
       |SELECT r.query_id, CAST(r.rnk AS INT) AS parent_rank, r.parent,
       |       c.turn_idx, c.role, round(r.score, 4) AS score
       |FROM ranked r JOIN corpus c ON CAST(c.$parentField AS VARCHAR) = r.parent
       |WHERE r.rnk <= $k
       |ORDER BY r.query_id, r.rnk, c.turn_idx""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.matchAll]] (q=*:* + fq + sort +
    * rows): no scoring, filtered live docs in stored-field order with the
    * doc_id tie-break, LIMIT k — the row set is deterministic, no rank. */
  def matchAllSorted(filterSql: String, orderSql: String, k: Int,
                     fl: Seq[String]): String =
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |attrs AS (SELECT corpus.*, dl.dl AS dl
       |          FROM corpus JOIN dl USING (doc_id))
       |SELECT doc_id, ${fl.mkString(", ")} FROM attrs
       |WHERE $filterSql
       |ORDER BY $orderSql, doc_id ASC LIMIT $k""".stripMargin

  /** Twin of [[graft.search.Facets.json]] (the JSON Facet API gate):
    * parent terms buckets with metrics + nested child buckets, both
    * ranked (count DESC, value ASC) and limited; metric SQL is rendered
    * by the SAME [[graft.search.Facets.JsonMetric]] ADT the engine
    * aggregates with, so metric semantics cannot drift. */
  def facetJson(queries: Seq[(Int, String)], parentField: String,
                childField: String, parentLimit: Int, childLimit: Int,
                metrics: Seq[graft.search.Facets.JsonMetric],
                sortBy: Option[String] = None): String = {
    sortBy.foreach(n => require(metrics.exists(_.name == n),
      s"json.facet sort references unknown metric '$n'"))
    val pSort = sortBy.map(n => s"$n DESC NULLS LAST").getOrElse("n_docs DESC")
    val mSql = metrics.map(m => ",\n               " + m.sql).mkString
    val mNames = metrics.map(m => ", " + m.name).mkString
    val mNulls = metrics.map { m =>
      val t = m.outType match {
        case "bigint" => "BIGINT"
        case "double" => "DOUBLE"
        case other => other.toUpperCase
      }
      s", CAST(NULL AS $t) AS ${m.name}"
    }.mkString
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |j AS (SELECT query_id, CAST($parentField AS VARCHAR) AS parent,
       |             CAST($childField AS VARCHAR) AS child, corpus.*, dl.dl AS dl
       |      FROM matched JOIN corpus USING (doc_id) JOIN dl USING (doc_id)
       |      WHERE $parentField IS NOT NULL),
       |p AS (SELECT query_id, parent, count(*)::BIGINT AS n_docs$mSql
       |      FROM j GROUP BY 1, 2),
       |pr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                 ORDER BY $pSort, parent ASC) AS rnk FROM p),
       |kept AS (SELECT query_id, parent, rnk, n_docs$mNames FROM pr
       |         WHERE rnk <= $parentLimit),
       |c AS (SELECT query_id, parent, child, count(*)::BIGINT AS n_docs
       |      FROM j WHERE child IS NOT NULL GROUP BY 1, 2, 3),
       |cr AS (SELECT c.query_id, c.parent, c.child, c.n_docs,
       |              row_number() OVER (PARTITION BY c.query_id, c.parent
       |                ORDER BY c.n_docs DESC, c.child ASC) AS rnk
       |       FROM c JOIN (SELECT query_id, parent FROM kept) k
       |            ON c.query_id = k.query_id AND c.parent = k.parent)
       |SELECT * FROM (
       |  SELECT query_id, parent AS value, CAST(NULL AS VARCHAR) AS child_value,
       |         CAST(rnk AS INT) AS "rank", n_docs$mNames FROM kept
       |  UNION ALL
       |  SELECT query_id, parent AS value, child AS child_value,
       |         CAST(rnk AS INT) AS "rank", n_docs$mNulls
       |  FROM cr WHERE rnk <= $childLimit)
       |ORDER BY query_id, value, child_value NULLS FIRST""".stripMargin
  }

  /** Twin of [[graft.search.Facets.jsonAllBuckets]]: the facet domain
    * (non-NULL parent) per query aggregated to one header row —
    * numBuckets + allBuckets metrics — left-joined onto the query spine
    * (empty match set → zeros with NULL metrics). */
  def facetJsonAll(queries: Seq[(Int, String)], parentField: String,
                   metrics: Seq[graft.search.Facets.JsonMetric]): String = {
    val mSql = metrics.map(m => ",\n               " + m.sql).mkString
    val mNames = metrics.map(m => ", " + m.name).mkString
    val spineVals = queries.map(_._1).distinct.sorted
      .map(q => s"($q)").mkString(", ")
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |j AS (SELECT query_id, CAST($parentField AS VARCHAR) AS parent,
       |             corpus.*, dl.dl AS dl
       |      FROM matched JOIN corpus USING (doc_id) JOIN dl USING (doc_id)
       |      WHERE $parentField IS NOT NULL),
       |agg AS (SELECT query_id, count(DISTINCT parent)::BIGINT AS num_buckets,
       |               count(*)::BIGINT AS n_docs$mSql
       |        FROM j GROUP BY query_id),
       |spine(query_id) AS (VALUES $spineVals)
       |SELECT query_id, coalesce(num_buckets, 0)::BIGINT AS num_buckets,
       |       coalesce(n_docs, 0)::BIGINT AS n_docs$mNames
       |FROM spine LEFT JOIN agg USING (query_id)
       |ORDER BY query_id""".stripMargin
  }

  /** Twin of [[graft.search.Facets.stats]] via IndexSearch.statsField over
    * the dl attribute: per-query count/min/max/sum/mean over the match
    * set, zero-filled on the query spine (empty match set → n_docs 0,
    * NULL min/max/sum/mean). mean = exact integer sum / exact count,
    * rounded once — the FP-safe shape. */
  def statsDl(queries: Seq[(Int, String)]): String =
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |agg AS (SELECT query_id, count(dl)::BIGINT AS n,
       |               count(*) FILTER (WHERE dl IS NULL)::BIGINT AS miss,
       |               CAST(min(dl) AS BIGINT) AS vmin, CAST(max(dl) AS BIGINT) AS vmax,
       |               CAST(sum(dl) AS BIGINT) AS vsum
       |        FROM matched JOIN dl USING (doc_id) GROUP BY query_id),
       |qids AS (SELECT DISTINCT query_id FROM queries)
       |SELECT qids.query_id, CAST(coalesce(n, 0) AS BIGINT) AS n_docs,
       |       CAST(coalesce(miss, 0) AS BIGINT) AS vmissing,
       |       vmin, vmax, vsum,
       |       round(CAST(vsum AS DOUBLE) / n, 4) AS vmean
       |FROM qids LEFT JOIN agg ON qids.query_id = agg.query_id
       |ORDER BY qids.query_id""".stripMargin

  /** Twin of [[graft.search.Facets.cardinality]] — the identical pinned
    * HLL: same md5-32 hash, same register math (bitlen via bin()),
    * same exact dyadic register sum, same linear-counting branch. */
  def statsCardinality(queries: Seq[(Int, String)], field: String): String =
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |vals AS (SELECT DISTINCT query_id, CAST($field AS VARCHAR) AS value
       |         FROM matched JOIN corpus USING (doc_id)
       |         WHERE $field IS NOT NULL),
       |hashed AS (SELECT query_id,
       |             ('0x' || substr(md5(value), 1, 8))::BIGINT % 64 AS j,
       |             ('0x' || substr(md5(value), 1, 8))::BIGINT // 64 AS w
       |           FROM vals),
       |regs AS (SELECT query_id, j,
       |           max(CASE WHEN w = 0 THEN 27
       |                    ELSE 27 - length(bin(w)) END) AS m
       |         FROM hashed GROUP BY 1, 2),
       |perq AS (SELECT query_id, count(*)::INT AS regs,
       |                sum(2.0 ** (-m)) AS sp
       |         FROM regs GROUP BY 1),
       |exact AS (SELECT query_id, count(*)::BIGINT AS n_exact
       |          FROM vals GROUP BY 1),
       |qids AS (SELECT DISTINCT query_id FROM queries),
       |est AS (SELECT qids.query_id,
       |          coalesce(n_exact, 0) AS n_exact,
       |          coalesce(perq.regs, 0) AS regs,
       |          coalesce(sp, 0.0) + CAST(64 - coalesce(perq.regs, 0) AS DOUBLE) AS s
       |        FROM qids LEFT JOIN exact ON qids.query_id = exact.query_id
       |                  LEFT JOIN perq ON qids.query_id = perq.query_id)
       |SELECT query_id, n_exact, regs,
       |       CASE WHEN ${0.709 * 64 * 64} / s <= 160.0 AND regs < 64
       |            THEN round(64.0 * ln(64.0 / (64 - regs)), 4)
       |            ELSE round(${0.709 * 64 * 64} / s, 4) END AS cardinality
       |FROM est ORDER BY query_id""".stripMargin

  /** Twin of [[graft.search.Facets.statsFacet]] over dl faceted by a
    * stored attribute: per (query × observed facet value) stats, no
    * spine (Solr only reports observed buckets). */
  def statsFacetDl(queries: Seq[(Int, String)], facetField: String): String =
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)}
       |SELECT query_id, CAST($facetField AS VARCHAR) AS value,
       |       count(dl)::BIGINT AS n_docs,
       |       count(*) FILTER (WHERE dl IS NULL)::BIGINT AS vmissing,
       |       CAST(min(dl) AS BIGINT) AS vmin, CAST(max(dl) AS BIGINT) AS vmax,
       |       CAST(sum(dl) AS BIGINT) AS vsum,
       |       round(CAST(sum(dl) AS DOUBLE) / count(dl), 4) AS vmean
       |FROM matched JOIN dl USING (doc_id) JOIN corpus USING (doc_id)
       |WHERE $facetField IS NOT NULL
       |GROUP BY 1, 2
       |ORDER BY query_id, value""".stripMargin

  /** Twin of [[graft.search.Facets.groupedCounts]]: per (query × facet
    * value) the number of DISTINCT groups containing a matched doc with
    * that value; NULL facet values and NULL groups excluded. */
  def groupFacet(queries: Seq[(Int, String)], field: String,
                 groupField: String): String =
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)}
       |SELECT query_id, CAST($field AS VARCHAR) AS value,
       |       count(DISTINCT $groupField)::BIGINT AS n_groups
       |FROM matched JOIN corpus USING (doc_id)
       |WHERE $field IS NOT NULL AND $groupField IS NOT NULL
       |GROUP BY 1, 2
       |ORDER BY query_id, value""".stripMargin

  /** Twin of [[graft.search.Grouping.topGroups]] via
    * IndexSearch.searchGrouped: top-kGroups groups by head-doc
    * (round(score,7) DESC, doc_id ASC), groupLimit docs per group by the
    * same ordering, NULL group values excluded (the pinned divergence —
    * see Grouping's scaladoc), group value as string. */
  def groupTopK(queries: Seq[(Int, String)], groupField: String,
                kGroups: Int, groupLimit: Int): String =
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |gdocs AS (SELECT query_id, doc_id, score, CAST($groupField AS VARCHAR) AS group_value
       |          FROM scored JOIN corpus USING (doc_id)
       |          WHERE $groupField IS NOT NULL),
       |dranked AS (SELECT *, row_number() OVER (PARTITION BY query_id, group_value
       |                       ORDER BY round(score, 7) DESC, doc_id ASC) AS doc_rank
       |            FROM gdocs),
       |granked AS (SELECT query_id, group_value,
       |                   row_number() OVER (PARTITION BY query_id
       |                     ORDER BY round(score, 7) DESC, doc_id ASC) AS group_rank
       |            FROM dranked WHERE doc_rank = 1)
       |SELECT query_id, CAST(group_rank AS INT) AS group_rank, group_value,
       |       CAST(doc_rank AS INT) AS doc_rank, doc_id, round(score, 4) AS score
       |FROM dranked JOIN granked USING (query_id, group_value)
       |WHERE group_rank <= $kGroups AND doc_rank <= $groupLimit
       |ORDER BY query_id, group_rank, doc_rank""".stripMargin

  /** Twin of [[graft.search.Facets.percentiles]] via
    * IndexSearch.statsPercentiles over dl: exact type-7 (linear
    * interpolation) percentiles — DuckDB `quantile_cont` ≡ Spark
    * `percentile` — zero-filled on the query spine (empty match set →
    * NULL values). */
  def percentilesDl(queries: Seq[(Int, String)], ps: Seq[Double]): String = {
    val aggCols = ps.zipWithIndex.map { case (p, i) =>
      s"quantile_cont(dl, ${p / 100.0}) AS p$i"
    }
    val branches = ps.zipWithIndex.map { case (p, i) =>
      s"SELECT query_id, CAST($p AS DOUBLE) AS pct, round(CAST(p$i AS DOUBLE), 4) AS value FROM filled"
    }
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |agg AS (SELECT query_id, ${aggCols.mkString(", ")}
       |        FROM matched JOIN dl USING (doc_id)
       |        GROUP BY query_id),
       |qids AS (SELECT DISTINCT query_id FROM queries),
       |filled AS (SELECT qids.query_id, ${ps.indices.map(i => s"p$i").mkString(", ")}
       |           FROM qids LEFT JOIN agg ON qids.query_id = agg.query_id)
       |SELECT * FROM (
       |  ${branches.mkString("\n  UNION ALL\n  ")}
       |) ORDER BY query_id, pct""".stripMargin
  }

  /** Twin of [[graft.search.SignificantTerms.significantTerms]]: per
    * query the top-n foreground-lift terms of the match set,
    * lift = (fg_df·N)/(fg_n·df) with casts before multiplies — the same
    * single FP expression the engine evaluates. fg_df comes from the tf
    * relation (distinct (term, doc) by construction — the oracle twin of
    * the engine's stored-text re-analysis). */
  def significantTerms(queries: Seq[(Int, String)], n: Int,
                       minDf: Long, minFgDf: Long): String =
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |fg AS (SELECT m.query_id, tf.term, count(*)::BIGINT AS fg_df
       |       FROM matched m JOIN tf ON m.doc_id = tf.doc_id
       |       GROUP BY 1, 2),
       |fgn AS (SELECT query_id, count(*)::BIGINT AS fgn FROM matched GROUP BY 1),
       |lifted AS (SELECT fg.query_id, fg.term, fg.fg_df, df.df AS bg_df,
       |                  (CAST(fg.fg_df AS DOUBLE) * CAST(s.n_docs AS DOUBLE)) /
       |                  (CAST(fgn.fgn AS DOUBLE) * CAST(df.df AS DOUBLE)) AS lift
       |           FROM fg JOIN df USING (term) JOIN fgn USING (query_id)
       |                CROSS JOIN stats s
       |           WHERE df.df >= $minDf AND fg.fg_df >= $minFgDf),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY round(lift, 7) DESC, term ASC) AS rnk FROM lifted)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", term, fg_df, bg_df,
       |       round(lift, 4) AS lift
       |FROM ranked WHERE rnk <= $n
       |ORDER BY query_id, rnk""".stripMargin

  /** Twin of [[graft.search.Collapse.collapseExpand]] via
    * IndexSearch.searchCollapsed: one best doc per group ranked flat
    * (exp_pos = 0), plus per kept head the next `expandRows` group
    * members (exp_pos = 1..m) keyed by the head's rank. NULL collapse
    * fields excluded (nullPolicy=ignore). */
  def collapseExpand(queries: Seq[(Int, String)], field: String,
                     k: Int, expandRows: Int): String =
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |gdocs AS (SELECT query_id, doc_id, score, CAST($field AS VARCHAR) AS group_value
       |          FROM scored JOIN corpus USING (doc_id)
       |          WHERE $field IS NOT NULL),
       |dranked AS (SELECT *, row_number() OVER (PARTITION BY query_id, group_value
       |                       ORDER BY round(score, 7) DESC, doc_id ASC) AS gpos
       |            FROM gdocs),
       |heads AS (SELECT query_id, group_value, doc_id, score,
       |                 row_number() OVER (PARTITION BY query_id
       |                   ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |          FROM dranked WHERE gpos = 1)
       |SELECT * FROM (
       |  SELECT query_id, CAST(rnk AS INT) AS "rank", group_value,
       |         0 AS exp_pos, doc_id, round(score, 4) AS score
       |  FROM heads WHERE rnk <= $k
       |  UNION ALL
       |  SELECT d.query_id, CAST(h.rnk AS INT) AS "rank", d.group_value,
       |         CAST(d.gpos - 1 AS INT) AS exp_pos, d.doc_id,
       |         round(d.score, 4) AS score
       |  FROM dranked d JOIN heads h
       |       ON d.query_id = h.query_id AND d.group_value = h.group_value
       |  WHERE h.rnk <= $k AND d.gpos > 1 AND d.gpos <= ${expandRows + 1})
       |ORDER BY query_id, "rank", exp_pos""".stripMargin

  /** Twin of [[graft.search.Suggest.suggest]]: per-request prefix probes
    * of the df relation ranked by (df DESC, term ASC), top-n each. The
    * request prefixes are alphabet-checked by the shared engine parse
    * rules, so LIKE needs no escaping. */
  def suggest(prefixes: Seq[(Int, String)], n: Int): String = {
    val branches = prefixes.map { case (qid, p0) =>
      val p = p0.toLowerCase
      require(p.matches("[a-z0-9]+"),
        s"suggest prefix '$p' must be a partial token over [a-z0-9]")
      s"SELECT $qid AS query_id, term, df FROM df WHERE term LIKE '${esc(p)}%'"
    }
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |cand AS (
       |  ${branches.mkString("\n  UNION ALL\n  ")}),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                      ORDER BY df DESC, term ASC) AS rnk FROM cand)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", term, df
       |FROM ranked WHERE rnk <= $n
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.searchClauses]] for MULTITERM
    * group clauses (`+te*t b* -roam~1` — no quoted phrases): the shared
    * parse splits plain/wildcard/fuzzy clauses; groups expand against the
    * df relation (LIKE / levenshtein — the same pinned translations as
    * the standalone engines); a doc passes iff it matches every plain
    * must term AND a member of every must group AND no not-term/member;
    * score = BM25 over the DISTINCT matched scoring terms (plain
    * must+should ∪ must/should group members — the dedupe pinning in the
    * engine's scaladoc). */
  def bm25TopKClausesMulti(corpusSql: String, queries: Seq[(Int, String)],
                           k: Int): String = {
    val parsed = queries.map { case (qid, t) =>
      (qid, graft.search.Search.parseClauses(t))
    }
    require(parsed.forall { case (_, c) =>
      c.mustPhrases.isEmpty && c.shouldPhrases.isEmpty && c.notPhrases.isEmpty },
      "this twin covers term+group grammars; phrase clauses have their own")
    def bodySql(b: graft.search.Search.MultiTermBody): String = b match {
      case graft.search.Search.WildcardBody(p) =>
        s"term LIKE '${graft.search.MultiTerm.likePattern(p)}'"
      case graft.search.Search.FuzzyBody(s, n) =>
        s"levenshtein(term, '${esc(s)}') <= $n"
    }
    def values(rows: Seq[String], guard: String) =
      if (rows.nonEmpty) rows.mkString(", ") else guard
    val plainVals = values(parsed.flatMap { case (qid, c) =>
      (c.must ++ c.should).distinct.map(t => s"($qid, '${esc(t)}')")
    }, "(0, '')")
    val memberSelects = parsed.flatMap { case (qid, c) =>
      (c.mustGroups ++ c.shouldGroups).map(b =>
        s"SELECT $qid AS query_id, term FROM df WHERE ${bodySql(b)}")
    }
    val qtBody = (s"SELECT query_id, term FROM (VALUES $plainVals) l0(query_id, term)" +:
      memberSelects).mkString("\n  UNION ALL\n  ")
    val mtVals = values(parsed.flatMap { case (qid, c) =>
      c.must.map(t => s"($qid, '${esc(t)}')")
    }, "(0, '')")
    val mgSelects = parsed
      .flatMap { case (qid, c) => c.mustGroups.map(b => (qid, b)) }
      .zipWithIndex.map { case ((qid, b), gid) =>
        s"SELECT $qid AS query_id, $gid AS gid, term FROM df WHERE ${bodySql(b)}"
      }
    val mgBody =
      if (mgSelects.nonEmpty) mgSelects.mkString("\n  UNION ALL\n  ")
      else "SELECT 0 AS query_id, 0 AS gid, '' AS term WHERE 1 = 0"
    val negVals = values(parsed.flatMap { case (qid, c) =>
      c.not.map(t => s"($qid, '${esc(t)}')")
    }, "(0, '')")
    val negSelects = parsed.flatMap { case (qid, c) =>
      c.notGroups.map(b =>
        s"SELECT $qid AS query_id, term FROM df WHERE ${bodySql(b)}")
    }
    val negBody = (s"SELECT query_id, term FROM (VALUES $negVals) n0(query_id, term)" +:
      negSelects).mkString("\n  UNION ALL\n  ")
    val spineVals = parsed.map { case (qid, c) =>
      s"($qid, ${c.must.size}, ${c.mustGroups.size})"
    }.mkString(", ")
    s"""WITH ${indexCtes(corpusSql)},
       |qt AS (SELECT DISTINCT query_id, term FROM (
       |  $qtBody)),
       |m AS (SELECT qt.query_id, tf.doc_id, qt.term,
       |             ln(1 + (st.n_docs - df.df + 0.5)/(df.df + 0.5))
       |               * tf.tf / (tf.tf + 1.2*(1 - 0.75 + 0.75*dl.dl/st.avgdl)) AS ps
       |      FROM qt JOIN tf USING (term) JOIN df USING (term)
       |           JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats st),
       |scored AS (SELECT query_id, doc_id, sum(ps) AS score FROM m GROUP BY 1, 2),
       |mt AS (SELECT query_id, term FROM (VALUES $mtVals) mt0(query_id, term)),
       |mtc AS (SELECT m.query_id, m.doc_id, count(*) AS must_t
       |        FROM m JOIN mt ON mt.query_id = m.query_id AND mt.term = m.term
       |        GROUP BY 1, 2),
       |mg AS (
       |  $mgBody),
       |mgc AS (SELECT m.query_id, m.doc_id, count(DISTINCT g.gid) AS must_g
       |        FROM m JOIN mg g ON g.query_id = m.query_id AND g.term = m.term
       |        GROUP BY 1, 2),
       |neg AS (SELECT DISTINCT query_id, term FROM (
       |  $negBody)),
       |negd AS (SELECT DISTINCT n.query_id, tf.doc_id
       |         FROM neg n JOIN tf USING (term)),
       |spine(query_id, n_must, n_mg) AS (VALUES $spineVals),
       |passed AS (SELECT sc.query_id, sc.doc_id, sc.score
       |           FROM scored sc
       |           JOIN spine sp ON sp.query_id = sc.query_id
       |           LEFT JOIN mtc ON mtc.query_id = sc.query_id AND mtc.doc_id = sc.doc_id
       |           LEFT JOIN mgc ON mgc.query_id = sc.query_id AND mgc.doc_id = sc.doc_id
       |           LEFT JOIN negd ON negd.query_id = sc.query_id AND negd.doc_id = sc.doc_id
       |           WHERE coalesce(mtc.must_t, 0) = sp.n_must
       |             AND coalesce(mgc.must_g, 0) = sp.n_mg
       |             AND negd.doc_id IS NULL),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM passed)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of the cursorMark composition ([[graft.search.IndexSearch
    * .pageCursor]] + `searchAfter`): because the engine derives its
    * cursor from page 1 of the SAME ranking, page 2 via the cursor must
    * equal absolute ranks (upto, upto+k] with page-relative rank
    * positions — the twin states that directly, with no cursor values. */
  def bm25CursorPage(queries: Seq[(Int, String)], upto: Int,
                     k: Int): String =
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM scored)
       |SELECT query_id, CAST(rnk - $upto AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk > $upto AND rnk <= ${upto + k}
       |ORDER BY query_id, rnk""".stripMargin

  /** Twin of [[graft.search.IndexSearch.searchBoosted]] with the classic
    * recip-over-dl bf: score' = BM25 + a/(dl + b); the boosted score
    * drives both rank (round 7) and the reported value (round 4). */
  def bm25BoostRecipDl(queries: Seq[(Int, String)], k: Int,
                       a: Double, b: Double,
                       multiplicative: Boolean = false): String = {
    val combine = if (multiplicative) "*" else "+"
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |boosted AS (SELECT sc.query_id, sc.doc_id,
       |                   sc.score $combine ($a/(dl.dl + $b)) AS score
       |            FROM scored sc JOIN dl ON sc.doc_id = dl.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM boosted)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.IndexSearch.searchBoosted]] with the boost
    * given as a Solr function-query STRING: the SQL fragment renders
    * from the SAME [[graft.search.FunctionQuery]] AST the engine's
    * Column renders from, so both sides evaluate an identical FP
    * expression tree. Field references resolve against the dl CTE (the
    * only numeric stored attribute the boost twins use). */
  def bm25BoostFn(queries: Seq[(Int, String)], k: Int, fn: String,
                  multiplicative: Boolean = false): String = {
    val combine = if (multiplicative) "*" else "+"
    val fnSql = graft.search.FunctionQuery.toSql(
      graft.search.FunctionQuery.parse(fn),
      f => { require(f == "dl", s"boost twin resolves 'dl' only, got '$f'")
             "dl.dl" })
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |boosted AS (SELECT sc.query_id, sc.doc_id,
       |                   sc.score $combine $fnSql AS score
       |            FROM scored sc JOIN dl ON sc.doc_id = dl.doc_id),
       |ranked AS (
       |  SELECT query_id, doc_id, score,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |  FROM boosted)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.Suggest.terms]]: TermsComponent prefix
    * enumeration in `terms.sort=index` (term ASC) order with exact df. */
  def termsIndexSorted(prefixes: Seq[(Int, String)], n: Int): String = {
    val branches = prefixes.map { case (qid, p0) =>
      val p = p0.toLowerCase
      require(p.matches("[a-z0-9]+"),
        s"terms prefix '$p' must be a partial token over [a-z0-9]")
      s"SELECT $qid AS query_id, term, df FROM df WHERE term LIKE '${esc(p)}%'"
    }
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |cand AS (
       |  ${branches.mkString("\n  UNION ALL\n  ")}),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                      ORDER BY term ASC) AS rnk FROM cand)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", term, df
       |FROM ranked WHERE rnk <= $n
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.Suggest.termsRegex]]: per request the
    * dictionary terms matching its regex (partial-match, the shared
    * portable subset), ranked (df DESC, term ASC), top-n. */
  def termsRegexCount(patterns: Seq[(Int, String)], n: Int): String = {
    require(patterns.nonEmpty, "terms.regex oracle needs >= 1 pattern")
    val branches = patterns.map { case (qid, re) =>
      require(re.matches("""[a-z0-9\[\]\-^$.*+?|()]+"""),
        s"terms.regex '$re' outside the portable subset")
      s"SELECT $qid AS query_id, term, df FROM df WHERE regexp_matches(term, '${esc(re)}')"
    }
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |cand AS (
       |  ${branches.mkString("\n  UNION ALL\n  ")}),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                      ORDER BY df DESC, term ASC) AS rnk FROM cand)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", term, df
       |FROM ranked WHERE rnk <= $n
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.MoreLikeThis.moreLikeThis]]: seed-doc term
    * stats from the SAME tf/df CTEs the index build pins (the engine
    * re-analyzes the stored seed text — identical by the shared-analyzer
    * contract), interesting terms by (round(tf×idf, 7) DESC, term ASC)
    * top-maxqt after the mintf/mindf gates, then the standard BM25
    * disjunction with the seed doc excluded. */
  def moreLikeThis(seeds: Seq[(Int, Long)], k: Int, maxQueryTerms: Int,
                   minTf: Int, minDf: Long): String = {
    require(seeds.nonEmpty, "MLT oracle needs at least one seed")
    val seedValues = seeds.map { case (qid, d) => s"($qid, $d)" }.mkString(", ")
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |seeds(query_id, seed_doc) AS (VALUES $seedValues),
       |seed_tf AS (SELECT s.query_id, tf.term, CAST(sum(tf.tf) AS INT) AS tf
       |            FROM seeds s JOIN tf ON tf.doc_id = s.seed_doc
       |            GROUP BY 1, 2),
       |cand AS (SELECT st.query_id, st.term,
       |                ln(1 + (s.n_docs - df.df + 0.5)/(df.df + 0.5)) * st.tf AS mscore
       |         FROM seed_tf st JOIN df USING (term) CROSS JOIN stats s
       |         WHERE st.tf >= $minTf AND df.df >= $minDf),
       |qt AS (SELECT query_id, term FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id
       |                    ORDER BY round(mscore, 7) DESC, term ASC) AS mrnk
       |         FROM cand) WHERE mrnk <= $maxQueryTerms),
       |${scoredFromQtCte},
       |unseeded AS (SELECT sc.* FROM scored sc
       |             LEFT JOIN seeds e ON e.query_id = sc.query_id
       |                              AND e.seed_doc = sc.doc_id
       |             WHERE e.seed_doc IS NULL),
       |ranked AS (SELECT query_id, doc_id, score,
       |                  row_number() OVER (PARTITION BY query_id
       |                    ORDER BY round(score, 7) DESC, doc_id ASC) AS rnk
       |           FROM unseeded)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, round(score, 4) AS score
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Twin of [[graft.search.Facets.pivot]] via IndexSearch.facetPivot:
    * parent-level counts (NULL child column) plus nested (parent, child)
    * counts; NULL parents uncounted entirely, NULL children only at the
    * child level. */
  def facetPivot(queries: Seq[(Int, String)], parentField: String,
                 childField: String): String =
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |joined AS (SELECT m.query_id,
       |                  CAST($parentField AS VARCHAR) AS parent,
       |                  CAST($childField AS VARCHAR) AS child
       |           FROM matched m JOIN corpus USING (doc_id)
       |           WHERE $parentField IS NOT NULL)
       |SELECT * FROM (
       |  SELECT query_id, parent, CAST(NULL AS VARCHAR) AS child,
       |         count(*)::BIGINT AS n_docs
       |  FROM joined GROUP BY 1, 2
       |  UNION ALL
       |  SELECT query_id, parent, child, count(*)::BIGINT AS n_docs
       |  FROM joined WHERE child IS NOT NULL GROUP BY 1, 2, 3
       |) ORDER BY query_id, parent, child""".stripMargin

  /** Twin of [[graft.search.JoinQuery.join]] with from = to = `field`:
    * constant-score key expansion of the match set, ranked by the pinned
    * deterministic doc_id ASC key. */
  def joinField(queries: Seq[(Int, String)], field: String,
                k: Int): String =
    s"""WITH ${indexCtes(transcriptsCorpusFacets)},
       |${matchedCtes(queries)},
       |keys AS (SELECT DISTINCT m.query_id, c.$field AS _key
       |         FROM matched m JOIN corpus c USING (doc_id)
       |         WHERE c.$field IS NOT NULL),
       |joined AS (SELECT k.query_id, c.doc_id, c.$field
       |           FROM keys k JOIN corpus c ON c.$field = k._key),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                      ORDER BY doc_id ASC) AS rnk FROM joined)
       |SELECT query_id, CAST(rnk AS INT) AS "rank", doc_id, $field
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin

  /** Twin of [[graft.search.SpellCheck.suggest]]: per misspelled analyzed
    * token, dictionary candidates at plain levenshtein ≤ maxEdits ranked
    * by (distance ASC, df DESC, term ASC); a token present in the
    * dictionary suggests nothing. Tokens come from the SHARED analyzer
    * parse so request handling cannot drift. */
  def spellcheck(requests: Seq[(Int, String)], n: Int,
                 maxEdits: Int): String = {
    val toks = requests
      .flatMap { case (qid, text) =>
        Analyzer.tokenize(text).distinct.map((qid, _))
      }.distinct
    require(toks.nonEmpty, "spellcheck oracle needs at least one token")
    val branches = toks.map { case (qid, tok) =>
      s"""SELECT $qid AS query_id, '${esc(tok)}' AS token, term AS suggestion, df,
         |       CAST(levenshtein(term, '${esc(tok)}') AS INT) AS distance
         |FROM df
         |WHERE levenshtein(term, '${esc(tok)}') <= $maxEdits
         |  AND NOT EXISTS (SELECT 1 FROM df d2 WHERE d2.term = '${esc(tok)}')""".stripMargin
    }
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |cand AS (
       |  ${branches.mkString("\n  UNION ALL\n  ")}),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id, token
       |                      ORDER BY distance ASC, df DESC, suggestion ASC) AS rnk
       |           FROM cand)
       |SELECT query_id, token, CAST(rnk AS INT) AS "rank", suggestion, distance, df
       |FROM ranked WHERE rnk <= $n
       |ORDER BY query_id, token, rnk""".stripMargin
  }

  /** Twin of [[graft.search.SpellCheck.collate]]: per request the
    * position-ordered token sequence with each misspelled token replaced
    * by its rank-1 suggestion (kept verbatim when in-dictionary or
    * candidate-less), plus the collation's disjunctive hit count. The
    * token list renders from the same driver-side [[Analyzer.tokenize]]
    * the engine uses. */
  def spellcheckCollate(requests: Seq[(Int, String)],
                        maxEdits: Int): String = {
    val toks = requests.flatMap { case (qid, text) =>
      Analyzer.tokenize(text).zipWithIndex.map { case (t, i) => (qid, i, t) }
    }
    require(toks.nonEmpty, "collate oracle needs at least one token")
    val tokRows = toks
      .map { case (q, p, t) => s"($q, $p, '${esc(t)}')" }.mkString(", ")
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |qtoks(query_id, pos, token) AS (VALUES $tokRows),
       |cand AS (SELECT t.query_id, t.token, d.term AS suggestion, d.df,
       |                CAST(levenshtein(d.term, t.token) AS INT) AS distance
       |         FROM (SELECT DISTINCT query_id, token FROM qtoks) t
       |         JOIN df d ON levenshtein(d.term, t.token) <= $maxEdits
       |         WHERE NOT EXISTS (SELECT 1 FROM df d2 WHERE d2.term = t.token)),
       |top1 AS (SELECT query_id, token, suggestion FROM
       |          (SELECT *, row_number() OVER (PARTITION BY query_id, token
       |                      ORDER BY distance ASC, df DESC, suggestion ASC) AS rnk
       |           FROM cand) WHERE rnk = 1),
       |coll AS (SELECT t.query_id,
       |                string_agg(coalesce(s.suggestion, t.token), ' ' ORDER BY t.pos) AS collation
       |         FROM qtoks t LEFT JOIN top1 s USING (query_id, token)
       |         GROUP BY t.query_id),
       |cterm AS (SELECT DISTINCT t.query_id, coalesce(s.suggestion, t.token) AS term
       |          FROM qtoks t LEFT JOIN top1 s USING (query_id, token)),
       |hits AS (SELECT c.query_id, count(DISTINCT tf.doc_id)::BIGINT AS hits
       |         FROM cterm c JOIN tf USING (term) GROUP BY c.query_id)
       |SELECT coll.query_id, coll.collation,
       |       CAST(coalesce(h.hits, 0) AS BIGINT) AS hits
       |FROM coll LEFT JOIN hits h ON coll.query_id = h.query_id
       |ORDER BY coll.query_id""".stripMargin
  }

  /** Twin of [[graft.search.Elevation.search]]: curated docs at ranks
    * 1..e in the given order (organic score attached when matched, NULL
    * when force-elevated unmatched), organic tail at e+1.. by the
    * standard key with elevated docs excluded, k total per query. */
  def elevate(queries: Seq[(Int, String)], elevations: Map[Int, Seq[Long]],
              k: Int): String = {
    val elevRows = queries.flatMap { case (qid, _) =>
      elevations.getOrElse(qid, Nil).zipWithIndex
        .map { case (d, i) => s"($qid, $d, ${i + 1})" }
    }
    require(elevRows.nonEmpty, "elevation oracle needs at least one curated doc")
    s"""WITH ${indexCtes(transcriptsCorpus)},
       |queries(query_id, qtext) AS (VALUES ${queryValues(queries)}),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT query_id, unnest(${Analyzer.sqlTokenList("qtext")}) AS term FROM queries)),
       |${scoredFromQtCte},
       |elev(query_id, doc_id, pos) AS (VALUES ${elevRows.mkString(", ")}),
       |elevated AS (SELECT e.query_id, CAST(e.pos AS INT) AS "rank", e.doc_id,
       |                    round(s.score, 4) AS score, TRUE AS elevated
       |             FROM elev e LEFT JOIN scored s
       |               ON s.query_id = e.query_id AND s.doc_id = e.doc_id),
       |nelev AS (SELECT query_id, count(*)::BIGINT AS n FROM elev GROUP BY 1),
       |organic AS (SELECT s.query_id, s.doc_id, s.score,
       |                   row_number() OVER (PARTITION BY s.query_id
       |                     ORDER BY round(s.score, 7) DESC, s.doc_id ASC) AS rn
       |            FROM scored s LEFT JOIN elev e
       |              ON e.query_id = s.query_id AND e.doc_id = s.doc_id
       |            WHERE e.doc_id IS NULL),
       |org AS (SELECT o.query_id, CAST(o.rn + coalesce(n.n, 0) AS INT) AS "rank",
       |               o.doc_id, round(o.score, 4) AS score, FALSE AS elevated
       |        FROM organic o LEFT JOIN nelev n USING (query_id)
       |        WHERE o.rn + coalesce(n.n, 0) <= $k)
       |SELECT * FROM elevated UNION ALL SELECT * FROM org
       |ORDER BY query_id, "rank"""".stripMargin
  }
}
