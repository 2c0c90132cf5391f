package graft

import graft.index.{BuildIndexJob, IndexMerge, SegmentedIndex}
import graft.search.IndexSearch
import graft.sources.{Fs, Transcripts}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The on-disk layout every writer produces and every reader relies on
  * without probing: an index root always carries `stats/`, `blockmeta/`
  * and — exactly when built with positions — the `_positional` marker; a
  * segmented root's committed segments always carry a keymeta sidecar
  * with `terms` and its `_NBUCKETS` count, and every committed tombstone
  * dir its `dfdeltas/` twin. Only [[BuildIndexJob.run]] (the one
  * resumable writer) leaves `_stage_done/` markers and per-partition
  * `lineage/`; every writer that wipes its target first writes through
  * [[graft.index.SegmentWriter]]: no markers, one lineage row per stage,
  * and the same artifact rows as the bulk build. */
class IndexFormatSpec extends SparkSpec {
  import spark.implicits._

  def tmp(): String = java.nio.file.Files.createTempDirectory("graftfmt").toString
  val cfg = BuildIndexJob.Config(numShards = 4, blockSize = 8, saltTarget = 64)
  val noDeletes: DataFrame = Seq.empty[(String, Int)].toDF("conv_id", "turn_idx")

  def assertIndexRoot(root: String, positional: Boolean): Unit = {
    val p = BuildIndexJob.IndexPaths(root)
    assert(Fs.exists(spark, p.blockmeta), s"$root: no blockmeta/")
    assert(Fs.exists(spark, p.stats), s"$root: no stats/")
    assert(Fs.exists(spark, p.positionalMarker) == positional,
      s"$root: _positional marker present != storePositions ($positional)")
  }

  val Stages = Seq("dict", "docs", "postings", "tf")

  def lineageStages(root: String): Seq[String] =
    spark.read.parquet(BuildIndexJob.IndexPaths(root).lineage)
      .select("stage").collect().map(_.getString(0)).toSeq.sorted

  /** A resumable bulk-build root: every stage marker, per-partition lineage. */
  def assertBulkRoot(root: String): Unit = {
    val p = BuildIndexJob.IndexPaths(root)
    Stages.foreach(st => assert(Fs.exists(spark, p.marker(st)), s"$root: no marker $st"))
    val stages = lineageStages(root)
    assert(stages.distinct == Stages && stages.size > Stages.size,
      s"$root: lineage is not per-partition: $stages")
  }

  /** A single-pass root: no markers, exactly one lineage row per stage. */
  def assertLeanRoot(root: String): Unit = {
    assert(!Fs.exists(spark, s"$root/_stage_done"), s"$root: has _stage_done/")
    assert(!Fs.exists(spark, BuildIndexJob.IndexPaths(root).staging), s"$root: has _staging/")
    assert(lineageStages(root) == Stages, s"$root: lineage stages ${lineageStages(root)}")
  }

  def assertSegmentedRoot(root: String, positional: Boolean): SegmentedIndex.Manifest = {
    val m = SegmentedIndex.readManifest(spark, root).get
    m.segments.foreach { seg =>
      val sp = SegmentedIndex.segPath(root, seg)
      assertIndexRoot(sp, positional)
      assertLeanRoot(sp)
      assert(Fs.exists(spark, s"$sp/keymeta/_NBUCKETS"), s"$seg: no keymeta/_NBUCKETS")
      assert(spark.read.parquet(s"$sp/keymeta").columns.contains("terms"),
        s"$seg: keymeta without terms")
    }
    m.tombs.foreach(t => assert(Fs.exists(spark, SegmentedIndex.dfDeltaPath(root, t)),
      s"tomb $t: no dfdeltas/$t"))
    m
  }

  /** A copy of `root` without `blockmeta/` is refused, not answered. */
  def assertRefusedWithoutBlockmeta(root: String): Unit = {
    val q = Seq(1 -> "w1 w3")
    assert(IndexSearch.searchWand(IndexSearch.open(spark, root), q).collect().nonEmpty)
    val broken = s"${tmp()}/idx"
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(root)
    val fs = src.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, new org.apache.hadoop.fs.Path(broken),
      false, conf)
    Fs.delete(spark, BuildIndexJob.IndexPaths(broken).blockmeta)
    intercept[Exception](
      IndexSearch.searchWand(IndexSearch.open(spark, broken), q).collect())
  }

  test("format contract: every writer produces the layout the readers rely on") {
    val all = Transcripts.synthetic(spark, 60).cache()
    def convs(lo: Int, hi: Int): DataFrame =
      all.where($"conv_id" >= f"conv$lo%08d" && $"conv_id" < f"conv$hi%08d")
    def keys(ks: (Int, Int)*): DataFrame =
      ks.map { case (c, t) => (f"conv$c%08d", t) }.toDF("conv_id", "turn_idx")
    def upserted(lo: Int, hi: Int): DataFrame =
      convs(lo, hi).withColumn("text", concat($"text", lit(" upserted")))
    for (positional <- Seq(false, true)) {
      val c = cfg.copy(storePositions = positional)
      // unified roots: a batch build, then a merge with upserts + deletes
      val base = tmp()
      BuildIndexJob.run(spark, convs(0, 40), base, "base", c)
      assertIndexRoot(base, positional)
      assertBulkRoot(base)
      val merged = tmp()
      IndexMerge.run(spark, base, convs(40, 50).unionByName(upserted(5, 8)),
        keys((1, 0), (2, 1)), merged, "merged", c)
      assertIndexRoot(merged, positional)
      assertLeanRoot(merged)
      if (!positional) assertRefusedWithoutBlockmeta(base)

      // segmented root: appends with upserts and deletes, a tiered merge,
      // then a full in-place compaction
      val seg = tmp()
      SegmentedIndex.append(spark, seg, convs(0, 20), noDeletes, "seg-a", c)
      SegmentedIndex.append(spark, seg, convs(20, 40).unionByName(upserted(5, 8)),
        noDeletes, "seg-b", c)
      SegmentedIndex.append(spark, seg, convs(40, 50), keys((21, 0)), "seg-c", c)
      SegmentedIndex.append(spark, seg, convs(50, 60), keys((2, 0), (3, 1)), "seg-d", c)
      val appended = assertSegmentedRoot(seg, positional)
      assert(appended.segments.size == 4 && appended.tombs.size == 3)
      // seg-d's kills of seg-a instances survive the merge of [1, 2]
      val tiered = SegmentedIndex.mergeAdjacent(spark, seg, 1, 2, c)
      assert(assertSegmentedRoot(seg, positional) == tiered)
      assert(tiered.segments.size == 3 && tiered.tombs.nonEmpty)
      val unified = s"${tmp()}/unified"
      SegmentedIndex.compact(spark, seg, unified, "unified", c)
      assertIndexRoot(unified, positional)
      assertLeanRoot(unified)
      val compacted = SegmentedIndex.compactInPlace(spark, seg, c)
      assert(assertSegmentedRoot(seg, positional) == compacted)
      assert(compacted.segments.size == 1 && compacted.tombs.isEmpty)
    }
    all.unpersist()
  }

  /** `lean` holds, artifact for artifact, the rows `bulk` holds, the same
    * stats values, and one lineage row per stage equal to the fold of
    * the bulk build's per-partition rows (row sum, checksum xor). */
  def assertSameRows(lean: String, bulk: String): Unit = {
    for (a <- Seq("docs", "tfdl", "dictionary", "postings", "blockmeta")) {
      val (l, b) = (spark.read.parquet(s"$lean/$a"), spark.read.parquet(s"$bulk/$a"))
      assert(l.columns.toSeq == b.columns.toSeq, s"$a: columns differ")
      assert(l.count() == b.count() && l.exceptAll(b).isEmpty && b.exceptAll(l).isEmpty,
        s"$a: rows differ between $lean and $bulk")
    }
    def stats(r: String) = spark.read.parquet(s"$r/stats")
      .select("n_docs", "total_tokens", "avgdl").collect().toSeq
    assert(stats(lean) == stats(bulk))
    def folded(r: String) = spark.read.parquet(s"$r/lineage").groupBy("stage")
      .agg(sum("output_rows").as("rows"), bit_xor(col("checksum")).as("checksum"))
      .orderBy("stage").collect().toSeq
    assert(folded(lean) == folded(bulk), "lineage rows and checksums differ")
  }

  test("single-pass writer ≡ BuildIndexJob.run: appended and merged segments hold the bulk build's rows") {
    val all = Transcripts.synthetic(spark, 60).cache()
    def convs(lo: Int, hi: Int): DataFrame =
      all.where($"conv_id" >= f"conv$lo%08d" && $"conv_id" < f"conv$hi%08d")
    def keys(ks: (Int, Int)*): DataFrame =
      ks.map { case (c, t) => (f"conv$c%08d", t) }.toDF("conv_id", "turn_idx")
    def bulkOf(turns: DataFrame, c: BuildIndexJob.Config): String = {
      val r = tmp()
      BuildIndexJob.run(spark, turns, r, "bulk", c)
      r
    }
    val key = Seq("conv_id", "turn_idx")
    for (positional <- Seq(false, true)) {
      val c = cfg.copy(storePositions = positional)
      val seg = tmp()
      val b1 = convs(0, 20)
      SegmentedIndex.append(spark, seg, b1, noDeletes, "seg-a", c)
      assertSameRows(SegmentedIndex.segPath(seg, "seg-a"), bulkOf(b1, c))
      // a batch with upserts of seg-a keys and a delete of one of its own
      val b2 = convs(20, 40).unionByName(
        convs(5, 8).withColumn("text", concat($"text", lit(" upserted"))))
      SegmentedIndex.append(spark, seg, b2, keys((21, 0)), "seg-b", c)
      val b2Rows = b2.join(keys((21, 0)), key, "left_anti")
      assertSameRows(SegmentedIndex.segPath(seg, "seg-b"), bulkOf(b2Rows, c))
      val b3 = convs(40, 50)
      SegmentedIndex.append(spark, seg, b3, keys((2, 0), (25, 1)), "seg-c", c)
      // the merge of [seg-b, seg-c] drops the seg-b instance seg-c killed
      val m = SegmentedIndex.mergeAdjacent(spark, seg, 1, 2, c)
      val live = b2Rows.join(keys((25, 1)), key, "left_anti").unionByName(b3)
      assertSameRows(SegmentedIndex.segPath(seg, m.segments(1)), bulkOf(live, c))
    }
    all.unpersist()
  }
}
