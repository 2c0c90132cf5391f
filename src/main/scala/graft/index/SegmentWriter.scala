package graft.index

import graft.Phase
import graft.index.BuildIndexJob.{Config, IndexPaths}
import graft.index.IndexBuild.Stats
import graft.sources.Fs
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The single-pass index writer behind every writer that wipes its target
  * before writing: segment appends, merges and compactions
  * ([[SegmentedIndex]]) and unified merges ([[IndexMerge]]). Such a
  * target is committed by its caller (the segmented MANIFEST, or the
  * caller's own pointer to a fresh generation) and a crashed write is
  * replayed whole, so the bulk build's resume machinery buys nothing
  * here (Lucene's IndexWriter flushes a segment in one pass from its
  * buffer for the same reason): no `_stage_done` markers, no
  * per-partition lineage on an async tail, no artifact read back from
  * disk. The input turns, the analyzed docs, the scoring relation, the
  * dictionary and the encoded blocks are each materialized once — a
  * spillable local checkpoint, so AQE sizes its partitions as it would
  * for a direct write (a persisted plan keeps `spark.sql.shuffle.partitions`
  * and would write that many files per artifact) and nothing is ever
  * recomputed: losing a block fails the write, which the caller replays
  * whole — and every artifact is written from the frozen frames:
  * {{{
  *   docs/ + stats/ → tfdl/ → dictionary/ → postings/ + blockmeta/
  *   [+ _positional] [→ keymeta/ + _NBUCKETS] → lineage/
  * }}}
  * `stats/` comes from the docs write's observed metrics; `lineage/`
  * holds one row per stage (docs, tf, dict, postings) — the artifact
  * write's own observed row count and checksum (the bulk build's hash
  * columns, so a stage's row equals the fold of the bulk build's
  * per-partition rows) and its wall time — written in one small write.
  * Every artifact row equals what [[BuildIndexJob.run]] writes for the
  * same turns: both go through [[BuildIndexJob.writeDocsAndStats]],
  * [[BuildIndexJob.termFreqs]], [[BuildIndexJob.dictionary]],
  * [[BuildIndexJob.postingBlocks]] and [[PostingBlocks.topBlockMaxes]].
  */
object SegmentWriter {

  /** Rows, checksum and wall time of one stage's artifact write. */
  private final case class Written(rows: Long, checksum: Long, wallMs: Long)

  /** Write every artifact of the empty root `p` from ingested, key-unique
    * `turns` (the stored columns; a `dl` column is kept, else analyzed)
    * and `tfOf`, the scoring relation derived from the written docs (doc
    * ids dense in key order, frozen in `p`'s staging dir, which is deleted
    * on the way out — [[BuildIndexJob.analyzedDocs]]). `keymeta` adds a
    * segment's keymeta sidecar ([[SegmentedIndex.writeKeymeta]]). Returns
    * the collection stats and the docs row count: a root of zero rows
    * holds no turn, and a segment writer drops it. */
  def write(spark: SparkSession, turns: DataFrame, p: IndexPaths,
            buildId: String, cfg: Config, keymeta: Boolean)(
      tfOf: DataFrame => DataFrame): (Stats, Long) = {
    val io = cfg.io
    val frozen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def freeze(df: DataFrame): DataFrame = {
      val f = df.localCheckpoint(eager = false, StorageLevel.MEMORY_AND_DISK)
      frozen += f
      f
    }
    try {
      val d = Phase(spark, "segment.docids")(
        freeze(BuildIndexJob.analyzedDocs(freeze(turns), p)))
      val t0 = System.nanoTime()
      val (stats, docRows, docSum) = Phase(spark, "segment.docs")(
        BuildIndexJob.writeDocsAndStats(spark, d, p, buildId, io))
      val docsW = Written(docRows, docSum, (System.nanoTime() - t0) / 1000000)
      val tfdl = Phase(spark, "segment.tf")(freeze(tfOf(d)))
      val tfW = Phase(spark, "segment.tf")(
        observedWrite(tfdl, p.tfdl, buildId, cfg, Seq("term", "doc_id", "tf")))
      val dict = Phase(spark, "segment.dict")(
        freeze(BuildIndexJob.dictionary(tfdl, stats, cfg.numShards)))
      val dictW = Phase(spark, "segment.dict")(
        observedWrite(dict, p.dictionary, buildId, cfg, Seq("term", "df", "cf")))
      val blocks = Phase(spark, "segment.postings")(
        freeze(BuildIndexJob.postingBlocks(tfdl, dict, stats, cfg)))
      val postingsW = Phase(spark, "segment.postings")(
        observedWrite(blocks, p.postings, buildId, cfg,
          Seq("term", "first_doc", "last_doc", "block_len"), Seq("shard")))
      Phase(spark, "segment.blockmeta")(io.write(PostingBlocks.topBlockMaxes(
          blocks.select("term", "block_max_score")), p.blockmeta, snapshotId = buildId))
      if (cfg.storePositions) Fs.writeString(spark, p.positionalMarker, "true")
      if (keymeta)
        Phase(spark, "segment.keymeta")(
          SegmentedIndex.writeKeymeta(spark, p.root, stats.nDocs, d, tfdl, cfg))
      import spark.implicits._
      val lineage = Seq("docs" -> docsW, "tf" -> tfW, "dict" -> dictW,
        "postings" -> postingsW).map { case (s, w) =>
          (s, 0, w.rows, w.checksum, buildId, w.wallMs) }
      Phase(spark, "segment.lineage")(lineage
        .toDF("stage", "partition_id", "output_rows", "checksum", "build_id", "wall_ms")
        .coalesce(1).write.mode("overwrite").parquet(p.lineage))
      (stats, docsW.rows)
    } finally {
      frozen.foreach(_.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ =>
      })
      Fs.delete(spark, p.staging)
    }
  }

  /** Write `df` to `path`, observing its row count and the bit-xor of
    * `hashCols`' xxhash64 on the way. */
  private def observedWrite(df: DataFrame, path: String, buildId: String,
                            cfg: Config, hashCols: Seq[String],
                            partitionBy: Seq[String] = Nil): Written = {
    val t0 = System.nanoTime()
    val obs = Observation()
    cfg.io.write(df.observe(obs, count(lit(1)).as("rows"),
        bit_xor(xxhash64(hashCols.map(col): _*)).as("checksum")),
      path, partitionBy, buildId)
    Written(BuildIndexJob.observedLong(obs, "rows"),
      BuildIndexJob.observedLong(obs, "checksum"), (System.nanoTime() - t0) / 1000000)
  }
}
