package graft

import graft.index.{BuildIndexJob, SegmentedIndex}
import graft.search.IndexSearch
import graft.sources.Transcripts
import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  def tmp(): String = java.nio.file.Files.createTempDirectory("graftstrm").toString
  val cfg = BuildIndexJob.Config(numShards = 4, blockSize = 8)
  val queries = Seq(1 -> "w1 w3", 2 -> "zzzraretwo", 3 -> "w2 w9")

  /** The file stream source lists FLAT files — a df.write.parquet(dir)
    * nests part files one level down where the source won't see them.
    * Write to a scratch dir and move the single part file into place. */
  def writeFlat(df: org.apache.spark.sql.DataFrame, target: String): Unit = {
    import java.nio.file._
    val scratch = Files.createTempDirectory("graftflat").toString
    df.coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = Files.list(Paths.get(scratch)).iterator()
    var moved = false
    while (part.hasNext && !moved) {
      val p = part.next()
      if (p.toString.endsWith(".parquet")) {
        Files.move(p, Paths.get(target)); moved = true
      }
    }
    assert(moved, s"no part file produced in $scratch")
  }

  def segResults(root: String): Seq[org.apache.spark.sql.Row] =
    SegmentedIndex.search(spark, root, queries, cfg = cfg)
      .orderBy("query_id", "rank").collect().toSeq

  /** Full-rebuild expectation in the segmented (key-identified) shape. */
  def rebuildExpected(all: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
    val fullRoot = tmp()
    BuildIndexJob.run(spark, all, fullRoot, "full", cfg)
    IndexSearch.search(IndexSearch.open(spark, fullRoot), queries)
      .join(spark.read.parquet(s"$fullRoot/docs")
        .select("doc_id", "conv_id", "turn_idx"), "doc_id")
      .select("query_id", "rank", "conv_id", "turn_idx", "score")
      .orderBy("query_id", "rank").collect().toSeq
  }

  test("streaming ingest: per-file micro-batches converge to the full-rebuild answers") {
    val all = Transcripts.synthetic(spark, 80).cache()
    val in = tmp()
    // two landing files → two micro-batches (maxFilesPerTrigger = 1)
    writeFlat(all.where($"conv_id" < "conv00000050"), s"$in/f1.parquet")
    writeFlat(all.where($"conv_id" >= "conv00000050"), s"$in/f2.parquet")
    val root = tmp()
    val q = StreamingIngest.start(spark, in, root, tmp(), cfg)
    q.awaitTermination()

    val m = SegmentedIndex.readManifest(spark, root)
    assert(m.isDefined && m.get.segments.size == 2, s"got $m")
    assert(segResults(root) == rebuildExpected(all))
    assert(segResults(root).nonEmpty)
  }

  test("replayed micro-batch is a no-op (crash between manifest publish and checkpoint commit)") {
    val root = tmp()
    val b1 = Transcripts.synthetic(spark, 30)
    StreamingIngest.ingestBatch(spark, root, b1, 0L, cfg)
    val before = segResults(root)
    val mBefore = SegmentedIndex.readManifest(spark, root).get
    // replay the same batchId — must not append a second segment
    StreamingIngest.ingestBatch(spark, root, b1, 0L, cfg)
    assert(SegmentedIndex.readManifest(spark, root).get == mBefore)
    assert(segResults(root) == before)
  }

  test("half-written segment from a crashed append is wiped and rebuilt") {
    val root = tmp()
    StreamingIngest.ingestBatch(spark, root, Transcripts.synthetic(spark, 20), 0L, cfg)
    // simulate a crash mid-append: partial seg dir with stale stage
    // markers exists, but the manifest never referenced it
    val partial = SegmentedIndex.segPath(root, "seg-000001")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$partial/_stage_done"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$partial/_stage_done/postings"), "done")
    val b2 = Transcripts.synthetic(spark, 40).where($"conv_id" >= "conv00000020")
    StreamingIngest.ingestBatch(spark, root, b2, 1L, cfg)
    // stale markers must NOT have caused stage skipping: answers ≡ rebuild
    assert(segResults(root) == rebuildExpected(Transcripts.synthetic(spark, 40)))
  }

  test("stale artifacts of another batch in a crashed segment dir are wiped by the replay") {
    val root = tmp()
    StreamingIngest.ingestBatch(spark, root, Transcripts.synthetic(spark, 20), 0L, cfg)
    // simulate a crash mid-append of a DIFFERENT batch under the same
    // segment name: its docs/ and postings/ exist, no stage markers, and
    // the manifest never referenced the dir
    val other = tmp()
    BuildIndexJob.run(spark, Transcripts.synthetic(spark, 60)
      .where($"conv_id" >= "conv00000045"), other, "other", cfg)
    val partial = SegmentedIndex.segPath(root, "seg-000001")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    for (a <- Seq("docs", "postings"))
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(s"$other/$a"),
        fs, new org.apache.hadoop.fs.Path(s"$partial/$a"), false, conf)
    assert(!new java.io.File(s"$partial/_stage_done").exists)
    val b2 = Transcripts.synthetic(spark, 40).where($"conv_id" >= "conv00000020")
    StreamingIngest.ingestBatch(spark, root, b2, 1L, cfg)
    assert(segResults(root) == rebuildExpected(Transcripts.synthetic(spark, 40)))
  }

  test("flatMapGroupsWithState dedup: redeliveries across AND within batches drop") {
    val in = tmp()
    val all = Transcripts.synthetic(spark, 20).cache()
    // batch 0: convs < 15; batch 1: convs >= 10 (5 convs redelivered)
    // PLUS a within-batch duplicate of one known key with altered text —
    // the (role, text, tool)-least row must win deterministically
    writeFlat(all.where($"conv_id" < "conv00000015"), s"$in/b0.parquet")
    // (conv00000016, 0) is NEW in batch 1 and delivered twice there
    val dupKey = all.where($"conv_id" === "conv00000016" && $"turn_idx" === 0)
    writeFlat(all.where($"conv_id" >= "conv00000010")
      .unionByName(dupKey.withColumn("text", lit("aaa duplicate"))),
      s"$in/b1.parquet")
    val stream = spark.readStream.schema(StreamingIngest.transcriptSchema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = StreamingIngest.dedupTurns(stream).writeStream
      .format("memory").queryName("sdedup").outputMode("append")
      .option("checkpointLocation", tmp())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sdedup").collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getString(3))).toSeq
    val keys = got.map(_._1)
    assert(keys.distinct.size == keys.size, "every key must emit exactly once")
    assert(keys.toSet == all.select("conv_id", "turn_idx").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet,
      "emitted key set ≡ the distinct corpus keys")
    // cross-batch redelivery: a batch-0 key resent in batch 1 keeps its
    // first-batch row (state already set)
    val k12 = got.find(_._1 == ("conv00000012", 0)).get._2
    val orig12 = all.where($"conv_id" === "conv00000012" && $"turn_idx" === 0)
      .select("text").head().getString(0)
    assert(k12 == orig12, "cross-batch redelivery must keep the first row")
    // within-batch duplicate: (conv00000016, 0) arrives twice in batch 1;
    // the (role, text, tool)-least row wins — "aaa duplicate" sorts first
    val k16 = got.find(_._1 == ("conv00000016", 0)).get._2
    assert(k16 == "aaa duplicate",
      s"within-batch duplicate must resolve to the least row (got '$k16')")
    all.unpersist()
  }

  test("watermarked per-minute turn rates over a bounded stream") {
    val in = tmp()
    writeFlat(Transcripts.synthetic(spark, 30), s"$in/f.parquet")
    val stream = spark.readStream.schema(StreamingIngest.transcriptSchema)
      .parquet(in)
    // complete mode: a bounded single-batch run never advances the
    // watermark far enough to CLOSE windows (append would emit nothing);
    // the watermark still participates in the plan as the state-eviction
    // bound, and complete mode lets us compare the full result table.
    val q = StreamingIngest.turnRates(stream).writeStream
      .format("memory").queryName("rates").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.sql("SELECT minute, role, turns FROM rates")
    val batch = Transcripts.synthetic(spark, 30)
      .groupBy(window($"ts", "1 minute"), $"role")
      .agg(count(lit(1)).as("turns"))
      .select($"window.start".as("minute"), $"role", $"turns")
    val gotSet = got.collect().map(_.toString).toSet
    val wantSet = batch.collect().map(_.toString).toSet
    assert(gotSet == wantSet, "streamed result table must equal batch result")
    assert(gotSet.nonEmpty)
  }
}
