package graft.index

import graft.index.IndexBuild.Stats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental index maintenance (SURVEY.md §2.7 U1/U2 — the analog of a
  * Lucene/Solr segment merge): fold a new transcript batch (upserts) and a
  * tombstone set (deletes) into an existing index, producing a new index
  * root whose contents are EXACTLY what a full rebuild over the merged
  * corpus would produce (the MergeSpec property).
  *
  * What is reused from the old index: the tokenization work — old docs'
  * (term, doc_id, tf, dl) rows are remapped to their new doc ids with one
  * join instead of re-running the analyzer over the whole old corpus (at
  * scale, analysis dominates: it touches every byte of text). What is NOT
  * reused: doc ids and the term shuffle — ids are a dense global
  * (conv_id, turn_idx) ranking, so inserting keys in the middle shifts
  * them (Lucene avoids this with segment-local id spaces at the cost of a
  * per-segment query fan-out; we pin the simpler global-id semantics the
  * oracle can express).
  *
  * Upsert semantics: a new-batch row with an existing (conv_id, turn_idx)
  * key replaces the old row. Delete semantics: tombstoned keys vanish from
  * docs and postings (left_anti — U2).
  *
  * The target is written in one pass by [[SegmentWriter]] (no stage
  * markers, one lineage row per stage): its docs are materialized once,
  * the remapped + fresh scoring relation is derived from that frame, and
  * nothing the merge writes is read back from disk.
  */
object IndexMerge {

  /** Solr ATOMIC UPDATE (the `{"set": …}` modifier): read the STORED
    * document for each key (Solr requires stored/docValues fields for
    * exactly this reason — atomic update is read-modify-reindex, not an
    * in-place patch), apply the field sets, and upsert the modified docs
    * through [[run]] — a merge whose batch is the updated docs only, so
    * the cost is O(index) for the id remap but O(updates) for re-analysis
    * (the expensive part at scale). Pinned subset: `set` on the stored
    * `role`/`tool`/`text` attributes to a non-NULL value; a key absent
    * from the index is ignored (Solr would create a fresh doc — a plain
    * upsert, already covered by [[run]] directly). One update map per key.
    */
  def atomicSet(spark: SparkSession, oldRoot: String,
                updates: Seq[((String, Int), Map[String, String])],
                newRoot: String, buildId: String,
                cfg: BuildIndexJob.Config = BuildIndexJob.Config()): BuildIndexJob.IndexPaths = {
    require(updates.nonEmpty, "atomic update needs at least one key")
    require(updates.map(_._1).distinct.size == updates.size,
      "one update map per key (merge duplicate sets before calling)")
    val settable = Set("role", "tool", "text")
    require(updates.forall(_._2.keySet.subsetOf(settable)),
      s"atomic set is pinned to the stored fields $settable")
    import spark.implicits._
    val stored = cfg.io.read(spark, s"$oldRoot/docs")
    val pred = updates.map { case ((c, t), _) =>
      col("conv_id") === c && col("turn_idx") === t }.reduce(_ || _)
    val wide = updates.map { case ((c, t), m) =>
      (c, t, m.get("role").orNull, m.get("tool").orNull, m.get("text").orNull)
    }.toDF("conv_id", "turn_idx", "_nr", "_nt", "_nx")
    val batch = stored.where(pred)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .join(broadcast(wide), Seq("conv_id", "turn_idx"))
      .select(col("conv_id"), col("turn_idx"),
        coalesce(col("_nr"), col("role")).as("role"),
        coalesce(col("_nx"), col("text")).as("text"),
        coalesce(col("_nt"), col("tool")).as("tool"),
        col("ts"))
    val noDeletes = Seq.empty[(String, Int)].toDF("conv_id", "turn_idx")
    run(spark, oldRoot, batch, noDeletes, newRoot, buildId, cfg)
  }

  /** Rebuild a unified index root from ALREADY-ANALYZED parts without
    * re-tokenizing any text — the Lucene-merge property ([[run]]'s
    * old-side remap generalized to N parts, for segment merges and
    * compaction): each part supplies its LIVE doc rows (full stored
    * columns + the part-local `doc_id`) and its tfdl artifact; fresh
    * dense global ids are assigned from the merged key set, the docs
    * artifact is written from the STORED rows (dl is stored — never
    * recomputed), and the scoring relation is the union of the parts'
    * tfdl rows remapped (part ordinal, old id) → new id. At scale
    * analysis touches every byte of text, so a merge that re-analyzes is
    * a rebuild; this path touches text bytes exactly once (the docs copy)
    * and never re-runs the analyzer. Dead rows drop out naturally: the
    * remap join is inner on the live id map. Written in one pass by
    * [[SegmentWriter]] (with a segment's keymeta sidecar when `keymeta`);
    * returns the collection stats and the docs row count.
    *
    * Preconditions (the segment invariants): part docs are live-filtered
    * and key-unique across parts, and already passed ingest. */
  private[index] def rebuildFromParts(spark: SparkSession,
                                      parts: Seq[(DataFrame, DataFrame)],
                                      newRoot: String, buildId: String,
                                      cfg: BuildIndexJob.Config,
                                      keymeta: Boolean): (Stats, Long) = {
    require(parts.nonEmpty, "rebuildFromParts needs at least one part")
    val partHasPos = parts.map(_._2.columns.contains("positions")).distinct
    require(partHasPos.size == 1,
      "rebuildFromParts: parts disagree on positional postings")
    // a positional part set can feed a non-positional target (the column
    // is simply pruned — same as a re-tokenizing rebuild without
    // positions); the reverse cannot (positions can't be invented)
    require(partHasPos.head || !cfg.storePositions,
      "rebuildFromParts: config wants positional postings but the parts " +
        "carry none")
    if (graft.sources.Fs.exists(spark, newRoot))
      graft.sources.Fs.delete(spark, newRoot)
    val p = BuildIndexJob.IndexPaths(newRoot)
    val key = Seq("conv_id", "turn_idx")
    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "dl")
    // fresh dense global ids over the merged key set; dl is already
    // stored, so the docs artifact is a pure column re-shape of the
    // merged rows
    val merged = parts.map(_._1.select(cols.map(col): _*)).reduce(_ unionByName _)
    val tfCols = Seq("term", "doc_id", "tf", "dl") ++
      (if (cfg.storePositions) Seq("positions") else Nil)
    // id map from the written docs joined back to the parts' key → old-id
    // rows — keys only, no text
    def remap(docs: DataFrame): DataFrame = {
      val mergedKeys = parts.zipWithIndex.map { case ((docsDf, _), i) =>
        docsDf.select(col("conv_id"), col("turn_idx"), col("doc_id").as("_old_id"))
          .withColumn("_part_ord", lit(i))
      }.reduce(_ unionByName _)
      val idmap = docs
        .select(col("doc_id").as("_new_id"), col("conv_id"), col("turn_idx"))
        .join(mergedKeys, key)
        .select(col("_part_ord").as("_im_part"), col("_old_id").as("_im_old"),
          col("_new_id"))
      parts.zipWithIndex.map { case ((_, t), i) =>
        t.withColumn("_po", lit(i))
      }.reduce(_ unionByName _)
        .join(idmap, col("doc_id") === col("_im_old") &&
          col("_po") === col("_im_part"))
        .withColumn("doc_id", col("_new_id"))
        .select(tfCols.map(col): _*)
    }
    SegmentWriter.write(spark, merged, p, buildId, cfg, keymeta)(remap)
  }

  def run(spark: SparkSession, oldRoot: String, newBatch: DataFrame,
          tombstones: DataFrame, newRoot: String, buildId: String,
          cfg: BuildIndexJob.Config = BuildIndexJob.Config()): BuildIndexJob.IndexPaths = {
    require(oldRoot != newRoot,
      "merge target must be a fresh generation, not the source index " +
        "(overwriting an input while lazily reading it corrupts the merge)")
    // All-or-nothing semantics: a half-written target from a crashed merge
    // is wiped, never resumed — the single-pass [[SegmentWriter]] keeps no
    // stage markers, so a partial resume could pair fresh doc_ids with
    // stale postings. Resume granularity is the GENERATION (the caller's
    // republished pointer / streaming checkpoint replays the whole batch).
    if (graft.sources.Fs.exists(spark, newRoot))
      graft.sources.Fs.delete(spark, newRoot)
    val key = Seq("conv_id", "turn_idx")
    val oldDocs = cfg.io.read(spark, s"$oldRoot/docs")
    val ingestedNew = IndexBuild.ingest(newBatch)

    // survivors of the old corpus: not tombstoned, not overwritten
    val keepOld = oldDocs
      .join(tombstones.select(key.map(col): _*), key, "left_anti")
      .join(ingestedNew.select(key.map(col): _*), key, "left_anti")
    val newTurns = ingestedNew
      .join(tombstones.select(key.map(col): _*), key, "left_anti")

    val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val merged = keepOld.select(cols.map(col): _*)
      .unionByName(newTurns.select(cols.map(col): _*))

    val p = BuildIndexJob.IndexPaths(newRoot)

    // tf: reuse old tokenization via id remap — SURVIVOR keys only (an
    // overwritten key must not drag its stale postings along; its text is
    // re-tokenized as part of the new batch). Positional indexes merge
    // positionally: the old positions column rides the remap untouched
    // (positions are within-doc, id-independent) and the fresh batch runs
    // the positional aggregate. A config/old-index mismatch fails loudly —
    // silently mixing positional and non-positional rows would corrupt
    // the per-block positions stream.
    val oldTfdl = cfg.io.read(spark, s"$oldRoot/tfdl")
    val oldHasPos = oldTfdl.columns.contains("positions")
    require(oldHasPos == cfg.storePositions,
      s"positional mismatch: old index storePositions=$oldHasPos but merge " +
        s"config storePositions=${cfg.storePositions}")
    val tfCols = Seq("term", "doc_id", "tf", "dl") ++
      (if (cfg.storePositions) Seq("positions") else Nil)
    def tfOf(docs: DataFrame): DataFrame = {
      val remap = oldTfdl
        .join(keepOld.select(col("doc_id").as("_old_id"), col("conv_id"), col("turn_idx"))
            .join(docs.select(col("doc_id").as("_new_id"), col("conv_id"),
              col("turn_idx")), key)
            .select("_old_id", "_new_id"),
          col("doc_id") === col("_old_id"))
        .withColumn("doc_id", col("_new_id"))
        .select(tfCols.map(col): _*)
      val freshDocs = docs.join(newTurns.select(key.map(col): _*), key, "left_semi")
      remap.unionByName(BuildIndexJob.termFreqs(freshDocs, cfg.storePositions))
        .select(tfCols.map(col): _*)
    }
    SegmentWriter.write(spark, merged, p, buildId, cfg, keymeta = false)(tfOf)
    p
  }
}
