package graft.index

import graft.search.IndexSearch
import graft.sources.{Fs, TableIO}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Driver-side snapshots of a segmented root's immutable directories —
  * the analog of Lucene reusing one `SegmentReader` per immutable segment
  * across reopens. A segment directory and a tombstone directory never
  * change once a manifest commits them, so what a read derives from one
  * is derived once per directory and reused by every later read:
  *
  *  - per segment: its [[IndexSearch.OpenIndex]] (stats, the resolved
  *    postings and `docs/` relations and the
  *    [[graft.search.ResidentDict]], each loaded on first use);
  *  - per tombstone dir: its killed keys with their `upto` and the
  *    per-term kills of its `dfdeltas/` sidecar.
  *
  * Entries are keyed by content identity — session, path and the
  * directory's modification time — not by name: after a merge, a
  * [[SegmentedIndex.vacuum]] and a re-append, a name can come back with
  * different content, and its fresh directory has a fresh mtime (on a
  * store whose directories carry no mtime, such as an object store, the
  * key degrades to the name: do not reuse names there). A head read
  * drops the root's entries its manifest no longer lists (a `root@vN`
  * read drops nothing), and any read drops the entries of stopped
  * sessions.
  *
  * Driver memory: per live segment one resident dictionary (~84 B per
  * term of its vocabulary, see [[graft.search.ResidentDict]]) plus its
  * resolved relations; per live tombstone dir its rows and its df-delta
  * terms. A root that is deleted without a later head read keeps its
  * entries until its session stops. */
private[graft] object SegmentSnapshots {

  final class Segment(spark: SparkSession, path: String, io: TableIO) {
    lazy val index: IndexSearch.OpenIndex = IndexSearch.open(spark, path, io)
    /** (doc_id, conv_id, turn_idx) — the segment-local id → key map. */
    lazy val docs: DataFrame =
      index.stored.select(col("doc_id"), col("conv_id"), col("turn_idx"))
  }

  final class Tomb(spark: SparkSession, tombPath: String, deltaPath: String) {
    /** Killed key → the ordinal bound `upto`: the key's instances in
      * segments with ordinal < upto are dead. */
    lazy val killed: Map[(String, Int), Int] =
      spark.read.schema(SegmentedIndex.TombSchema).parquet(tombPath)
        .collect().toSeq
        .groupMapReduce(r => (r.getString(0), r.getInt(1)))(_.getInt(2))(math.max)
    /** term → docs this dir's kills take from the term's df. */
    lazy val dfDeltas: Map[String, Long] =
      spark.read.schema("term STRING, killed LONG").parquet(deltaPath)
        .collect().toSeq
        .groupMapReduce(_.getString(0))(_.getLong(1))(_ + _)
  }

  private final case class Key(spark: SparkSession, path: String, mtime: Long)

  private val segments = new java.util.concurrent.ConcurrentHashMap[Key, Segment]()
  private val tombs = new java.util.concurrent.ConcurrentHashMap[Key, Tomb]()

  /** The snapshots of `m`'s segments (by ordinal) and tombstone dirs. */
  def of(spark: SparkSession, root: String, m: SegmentedIndex.Manifest,
         io: TableIO): (IndexedSeq[Segment], IndexedSeq[Tomb]) = {
    def key(path: String) = Key(spark, path, Fs.mtime(spark, path))
    val segKeys = m.segments.map(s => key(SegmentedIndex.segPath(root, s))).toIndexedSeq
    val tombKeys = m.tombs.map(t => key(SegmentedIndex.tombPath(root, t))).toIndexedSeq
    if (SegmentedIndex.versionOf(root).isEmpty) {
      evict(segments, spark, SegmentedIndex.segPath(root, ""), segKeys.toSet)
      evict(tombs, spark, SegmentedIndex.tombPath(root, ""), tombKeys.toSet)
    }
    (segKeys.map(k => segments.computeIfAbsent(k, _ => new Segment(spark, k.path, io))),
      m.tombs.zip(tombKeys).map { case (t, k) =>
        tombs.computeIfAbsent(k, _ =>
          new Tomb(spark, k.path, SegmentedIndex.dfDeltaPath(root, t)))
      }.toIndexedSeq)
  }

  private def evict[V](cache: java.util.concurrent.ConcurrentHashMap[Key, V],
                       spark: SparkSession, dir: String, live: Set[Key]): Unit =
    cache.keySet().removeIf(k => k.spark.sparkContext.isStopped ||
      (k.spark == spark && k.path.startsWith(dir) && !live(k)))

  /** Names of the segments and tombstone dirs cached for `root` in this
    * session — a test probe. */
  private[graft] def cached(spark: SparkSession, root: String): (Set[String], Set[String]) = {
    import scala.jdk.CollectionConverters._
    def names(keys: java.util.Set[Key], dir: String) = keys.asScala.collect {
      case k if k.spark == spark && k.path.startsWith(dir) => k.path.stripPrefix(dir)
    }.toSet
    (names(segments.keySet(), SegmentedIndex.segPath(root, "")),
      names(tombs.keySet(), SegmentedIndex.tombPath(root, "")))
  }
}
