package graft.search

import graft.index.IndexBuild
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Solr `qf`-style MULTI-FIELD BM25 (`qf=title^2 body^1` — the reference's
  * Solr schema indexes title/abstract/claims separately with per-field
  * boosts). Pinned semantics, per Lucene's documented per-field scoring
  * [PUB]:
  *
  *   score(q, d) = Σ_f boost_f · BM25_f(q, d)
  *
  * where EVERY statistic is per-field — df_f, avgdl_f, dl_f, and
  * N_f = the field's docCount (docs where the field analyzes to ≥1
  * token — Lucene's per-field docCount, not the corpus size). Matching is
  * disjunctive across fields: a doc ranks if any field matches any query
  * term.
  *
  * COMBINER (Solr DisMax `tie` semantics, both oracle-gated):
  *
  *   score(q, d) = max_f s_f + tie · (Σ_f s_f − max_f s_f),   s_f = boost_f·BM25_f
  *
  * tie = 1.0 (the default) is the weighted SUM over fields; tie = 0.0 is
  * Solr's default pure-max DisMax; intermediate values blend, exactly as
  * Solr's `tie` parameter documents. tie = 1.0 is special-cased to a
  * plain sum aggregate so the default stays BIT-identical to the
  * pre-DisMax engine (max + (sum − max) re-rounds twice in FP and could
  * drift an ulp).
  *
  * Plan shape: one analysis + aggregation chain per field (fields are
  * few and static), each the same shuffle-lean shape as the single-field
  * path, then a per-(query, doc) weighted sum — the union adds no extra
  * corpus scans beyond one per field, and each field's dictionary join
  * broadcasts exactly like the single-field engine. */
object MultiField {

  /** @param corpus (doc_id, <field columns>) — one text column per field
    * @param fields (field column name, boost), e.g. ("title", 2.0) */
  def searchFields(corpus: DataFrame, fields: Seq[(String, Double)],
                   queries: Seq[(Int, String)], k: Int = 10,
                   tie: Double = 1.0): DataFrame = {
    require(fields.nonEmpty, "at least one field")
    val spark = corpus.sparkSession
    val qf = Search.queryFrame(spark, queries)
    val perField = fields.map { case (f, boost) =>
      val c = corpus.select(col("doc_id"), col(f).as("text"))
      val tfdl = IndexBuild.tfdlDirect(c)
      // statsFromCorpus counts docs with ≥1 token of THIS field — the
      // per-field docCount Lucene uses for the field's idf and avgdl
      Search.scoredDocs(qf, tfdl,
          IndexBuild.dictionary(tfdl), IndexBuild.statsFromCorpus(c))
        .select(col("query_id"), col("doc_id"),
          (col("_score") * lit(boost)).as("_fs"))
    }
    combine(perField, k, tie)
  }

  /** Weighted per-field score rows → per-(query, doc) DisMax combine →
    * ranked top-k. tie = 1.0 takes the plain-sum fast path (bit-identical
    * to the historical weighted sum; sum and max both aggregate
    * order-independently, so the field union order cannot perturb the
    * score either way). */
  private def combine(perField: Seq[DataFrame], k: Int, tie: Double): DataFrame = {
    val grouped = perField.reduce(_ unionByName _).groupBy("query_id", "doc_id")
    val scored =
      if (tie == 1.0) grouped.agg(sum(col("_fs")).as("_score"))
      else grouped.agg((max(col("_fs")) +
        lit(tie) * (sum(col("_fs")) - max(col("_fs")))).as("_score"))
    Search.rank(scored, k)
  }

  /** Memoized docs/ row counts for the shared-id-space guard — one count
    * job per index root per JVM, not per query batch. Keyed by
    * (root, docs/ mtime) so an in-place REBUILD of a root invalidates the
    * memo (a stale pre-rebuild count would defeat the very mismatch this
    * guard exists to catch); the mtime is one filesystem stat per call,
    * never a Spark job. */
  private val docsCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Multi-field qf over PERSISTED indexes — a field IS an index: each
    * field's dictionary/stats artifacts are exactly its per-field
    * df/avgdl/docCount, so no extra statistics plumbing is needed. The
    * caller must have built every field's index over the SAME doc-id
    * space (same ingest row set, ids assigned by the shared stable key
    * order — see the q_bm25_multifield_index fixture, which pads a
    * field's empty text so no row drops out of ingest and shifts ids).
    * Guarded at runtime: all field indexes must report the same docs/
    * row count (a necessary condition for a shared dense id space —
    * mismatched ingest row sets would silently sum scores across
    * unrelated docs). The count is memoized per root, so the guard costs
    * zero Spark jobs on a warm path. */
  def searchIndexes(fields: Seq[(IndexSearch.OpenIndex, Double)],
                    queries: Seq[(Int, String)], k: Int = 10,
                    tie: Double = 1.0): DataFrame = {
    require(fields.nonEmpty, "at least one field index")
    val spark = fields.head._1.spark
    val counts = fields.map { case (idx, _) =>
      val key =
        s"${idx.paths.root}@${graft.sources.Fs.mtime(spark, idx.paths.docs)}"
      idx.paths.root -> docsCounts.computeIfAbsent(key,
        _ => idx.io.read(spark, idx.paths.docs).count()).longValue()
    }
    require(counts.map(_._2).distinct.size == 1,
      s"field indexes must share one doc-id space (same ingest row set); " +
        s"docs/ row counts differ: $counts")
    val qt = Search.queryPairs(queries)
    val perField = fields.map { case (idx, boost) =>
      IndexSearch.scoredDocs(idx, qt, conjunctive = false)
        .select(col("query_id"), col("doc_id"),
          (col("_score") * lit(boost)).as("_fs"))
    }
    combine(perField, k, tie)
  }

  /** BM25F / Lucene `CombinedFieldQuery` (LUCENE-9364; the "simple BM25F"
    * of Robertson, Zaragoza & Taylor CIKM 2004 [PUB] with a single shared
    * b): fields merge into ONE pseudo-field BEFORE tf saturation —
    * unlike [[searchFields]]' per-field-score combiners, a term's
    * occurrences across fields saturate together, which is the
    * theoretically sound fix for the "score(title) + score(body) double
    * counts idf" critique the BM25F paper makes of qf-style sums:
    *
    *   tf'(t,d) = Σ_f w_f · tf_f(t,d)        dl'(d) = Σ_f w_f · dl_f(d)
    *   df(t)  = |{d : tf'(t,d) > 0}|  (term in ANY field)
    *   N      = |{d : dl'(d) > 0}|   (pseudo-field docCount)
    *   avgdl' = Σ_d dl'(d) / N
    *   score(q,d) = Σ_t idf(t) · tf'/(tf' + k1·(1 − b + b·dl'/avgdl'))
    *
    * — the exact [[Bm25.termScore]] saturation over combined statistics.
    * Weights should be exactly representable (small integers / dyadic
    * rationals) so w_f·tf stays EXACT in a double and the union's
    * sum order cannot perturb tf' (Lucene requires w_f ≥ 1 for its
    * upper-bound math; this engine only needs w_f > 0 since it prunes by
    * ranking, not score bounds).
    *
    * Plan shape: one analysis pass per field (same as [[searchFields]]),
    * then ONE (term, doc_id)-keyed combine shuffle and ONE doc-keyed dl
    * combine — both on integral-weighted counts, not text; the combined
    * dictionary joins the query terms broadcast-side exactly like the
    * single-field engine, and the scored relation never re-touches the
    * corpus. */
  def searchCombined(corpus: DataFrame, fields: Seq[(String, Double)],
                     queries: Seq[(Int, String)], k: Int = 10): DataFrame = {
    require(fields.nonEmpty, "at least one field")
    require(fields.forall(_._2 > 0), s"field weights must be positive: $fields")
    val spark = corpus.sparkSession
    val qf = Search.queryFrame(spark, queries)
    val perField = fields.map { case (f, w) =>
      val occ = IndexBuild.termOccurrences(
        corpus.select(col("doc_id"), col(f).as("text")))
      (IndexBuild.termFrequencies(occ).select(col("term"), col("doc_id"),
          (col("tf") * lit(w)).as("_wtf")),
        IndexBuild.docLengths(occ).select(col("doc_id"),
          (col("dl") * lit(w)).as("_wdl")))
    }
    val tfC = perField.map(_._1).reduce(_ unionByName _)
      .groupBy("term", "doc_id").agg(sum(col("_wtf")).as("_tfc"))
    val dlC = perField.map(_._2).reduce(_ unionByName _)
      .groupBy("doc_id").agg(sum(col("_wdl")).as("_dlc"))
    // pseudo-field collection stats: one 1-row collect, O(1) driver state
    val st = dlC.agg(count(lit(1)).as("n"), avg(col("_dlc")).as("a")).head()
    val (nDocs, avgdl) = (st.getLong(0), st.getDouble(1))
    val dict = tfC.groupBy("term").agg(count(lit(1)).cast("bigint").as("df"))
    val qd = Search.queryTerms(qf).join(dict, "term")
    val scored = tfC
      .join(broadcast(qd), "term") // query terms × dict stays tiny
      .join(dlC, "doc_id")
      .withColumn("_ts", Bm25.termScore(col("_tfc"), col("_dlc"),
        col("df"), lit(nDocs), lit(avgdl)))
      .groupBy("query_id", "doc_id").agg(sum(col("_ts")).as("_score"))
    Search.rank(scored, k)
  }
}
