package graft.streaming

import graft.index.{BuildIndexJob, SegmentedIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming ingest (SURVEY.md §2.10 extension): a stream of
  * transcript batches folds into a SEGMENTED index — each micro-batch
  * appends one segment in O(batch) work ([[SegmentedIndex.append]]; the
  * round-1 merge-per-batch rewrote the whole index every micro-batch,
  * O(corpus)). The manifest publish is the atomic commit point, so
  * readers always see a complete snapshot. Structured Streaming's own
  * checkpoint makes batch delivery exactly-once across restarts; batch id
  * = segment name makes replays detectable.
  *
  * Crash recovery (no pointer-file window): a crash before the manifest
  * publish leaves an uncommitted segment/tombstone dir that the manifest
  * never references — the replayed batch wipes and rewrites it. A crash
  * after the publish is caught by the segment-name check and the replay
  * is a no-op. There is no state from which "first-ever batch" and
  * "crashed mid-merge" can be confused, because nothing mutates in place.
  *
  * Query the streamed index through [[SegmentedIndex.open]] (or
  * [[SegmentedIndex.searchWand]]); run
  * [[SegmentedIndex.compact]] periodically to fold segments into a
  * unified global-id index.
  */
object StreamingIngest {

  /** Transcript input schema for the file stream. */
  val transcriptSchema: StructType = StructType.fromDDL(
    "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP")

  /** Fold one batch into the segmented index (also usable outside
    * streaming). Idempotent under micro-batch REPLAY: a batch whose
    * segment is already in the manifest (crash landed between the
    * manifest publish and the streaming checkpoint commit) is a no-op.
    * With `compactEvery` > 0 the segment count is folded back to one
    * whenever it reaches that bound — per-query fan-out stays bounded on
    * an unbounded stream (compaction is advisory: a crash just defers it
    * to the next batch). */
  def ingestBatch(spark: SparkSession, root: String, batch: DataFrame,
                  batchId: Long, cfg: BuildIndexJob.Config,
                  compactEvery: Int = 0): Unit = {
    if (batch.isEmpty) return
    val seg = f"seg-$batchId%06d"
    SegmentedIndex.readManifest(spark, root) match {
      case Some(m) if m.segments.contains(seg) || m.tombs.contains(seg) =>
        // replayed, already committed
      case _ =>
        import spark.implicits._
        val noDeletes = Seq.empty[(String, Int)].toDF("conv_id", "turn_idx")
        val m = SegmentedIndex.append(spark, root, batch, noDeletes, seg, cfg)
        if (compactEvery > 0 && m.segments.size >= compactEvery)
          SegmentedIndex.compactInPlace(spark, root, cfg)
    }
  }

  /** Start the file-source ingest stream: every parquet file landing in
    * `inputDir` becomes (part of) a micro-batch. */
  def start(spark: SparkSession, inputDir: String, indexRoot: String,
            checkpointDir: String,
            cfg: BuildIndexJob.Config = BuildIndexJob.Config(),
            maxFilesPerTrigger: Int = 1,
            compactEvery: Int = 0): StreamingQuery = {
    spark.readStream
      .schema(transcriptSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch.sparkSession, indexRoot, batch, batchId, cfg,
          compactEvery)
      }
      .start()
  }

  /** One transcript turn — the typed row for the keyed-state dedup
    * (Spark needs a case-class Encoder for flatMapGroupsWithState). */
  final case class Turn(conv_id: String, turn_idx: Int, role: String,
                        text: String, tool: String, ts: java.sql.Timestamp)

  /** CROSS-micro-batch exact DEDUP with custom keyed state
    * (`KeyValueGroupedDataset.flatMapGroupsWithState` — the arbitrary-
    * state streaming surface): an at-least-once upstream (Kafka
    * redelivery, file-source replays, overlapping extracts) becomes
    * exactly-one-row-per-(conv_id, turn_idx) downstream. The state per
    * key is a single Boolean ("seen"); the FIRST occurrence passes,
    * every later redelivery — in the same micro-batch or any later
    * one — drops. Within one micro-batch a multiply-delivered key emits
    * its (role, text, tool)-least row (iterator order is not
    * deterministic across retries; the min is — pinned).
    *
    * Scale shape: keyed state lives in the executor-sharded state store
    * (one Boolean per distinct key; at 10^12 keys configure the RocksDB
    * state store provider — the HDFS-backed default keeps state on-heap).
    * No timeout is set: dedup state is permanent by definition; a
    * deployment that can bound redelivery lag should add a watermark +
    * `GroupStateTimeout.EventTimeTimeout` to reclaim state for keys past
    * the lag bound (the standard trade, noted not defaulted). Append
    * output mode — emitted rows are final. */
  def dedupTurns(stream: DataFrame): org.apache.spark.sql.Dataset[Turn] = {
    val spark = stream.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    stream.as[Turn]
      .groupByKey(t => (t.conv_id, t.turn_idx))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (String, Int), rows: Iterator[Turn], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(rows.minBy(t => (t.role, t.text, t.tool)))
          })
  }

  /** Streaming diagnostics: per-minute turn counts by role with a
    * watermark (late rows beyond 2 minutes are dropped and accounted by
    * the lineage of the NEXT batch, not silently lost at merge — they
    * simply arrive in a later generation). */
  def turnRates(stream: DataFrame): DataFrame =
    stream
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("role"))
      .agg(count(lit(1)).as("turns"))
      .select(col("window.start").as("minute"), col("role"), col("turns"))
}
