package graft.search

import graft.sources.Fs
import org.apache.spark.sql.DataFrame

/** Solr filterCache (`SolrIndexSearcher`'s fq → DocSet cache): repeated
  * filter queries skip predicate re-evaluation entirely. Solr keeps the
  * DocSet bitmaps in searcher heap; the Spark-native translation keeps
  * them as doc_id-only parquet under `<root>/filtercache/<md5(fq)>/` —
  * executor-count-independent, shared by every job and session that
  * opens the index, and sized by the MATCH COUNT, not the corpus (a
  * DocSet at 10^12 turns is still just the matching ids, and the
  * semi-join against it broadcasts when selective).
  *
  * Lifecycle mirrors Solr's cache-per-searcher discipline: entries live
  * INSIDE one index root, and merges/compactions produce a NEW root
  * ([[graft.index.IndexMerge]]), so a stale DocSet is unreachable by
  * construction — there is no invalidation protocol to get wrong.
  *
  * Population is idempotent and crash-safe: the standard parquet write
  * publishes `_SUCCESS` last, and [[docSet]] treats an entry without
  * `_SUCCESS` as absent and recomputes/overwrites. Concurrent first
  * users may race the write; the predicate is deterministic over an
  * immutable index, so the loser overwrites with identical content. A
  * `_fq` sidecar records the source string (Solr's human-readable cache
  * key) for operators.
  */
object FilterCache {

  /** Canonical cache key: md5 of the trimmed fq string (the engine's
    * standard hash primitive — e.g. dedup fingerprints). */
  def fingerprint(fq: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(fq.trim.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  def entryPath(idx: IndexSearch.OpenIndex, fq: String): String =
    s"${idx.paths.root}/filtercache/${fingerprint(fq)}"

  /** The fq's DocSet (doc_id-only), served from the cache when present;
    * computed through the column-pruned `docs/` attribute scan (never a
    * posting traversal — [[FilterQuery]] predicates are attribute
    * predicates) and published on first use. */
  def docSet(idx: IndexSearch.OpenIndex, fq: String): DataFrame = {
    val spark = idx.spark
    val path = entryPath(idx, fq)
    if (!Fs.exists(spark, s"$path/_SUCCESS")) {
      idx.stored
        .where(FilterQuery.parse(fq)).select("doc_id")
        .write.mode("overwrite").parquet(path)
      Fs.writeString(spark, s"$path/_fq", fq.trim)
    }
    spark.read.parquet(path)
  }

  /** [[IndexSearch.searchFiltered]] through the cache: identical output,
    * but the attrs scan happens at most once per (index, fq). */
  def searchFiltered(idx: IndexSearch.OpenIndex, queries: Seq[(Int, String)],
                     fq: String, k: Int = 10,
                     conjunctive: Boolean = false): DataFrame =
    Search.rank(
      IndexSearch.scoredDocs(idx, Search.queryPairs(queries), conjunctive)
        .join(docSet(idx, fq), Seq("doc_id"), "left_semi"), k)
}
