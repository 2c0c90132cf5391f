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
  * dir its `dfdeltas/` twin. */
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

  def assertSegmentedRoot(root: String, positional: Boolean): SegmentedIndex.Manifest = {
    val m = SegmentedIndex.readManifest(spark, root).get
    m.segments.foreach { seg =>
      val sp = SegmentedIndex.segPath(root, seg)
      assertIndexRoot(sp, positional)
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
      val merged = tmp()
      IndexMerge.run(spark, base, convs(40, 50).unionByName(upserted(5, 8)),
        keys((1, 0), (2, 1)), merged, "merged", c)
      assertIndexRoot(merged, positional)
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
      val compacted = SegmentedIndex.compactInPlace(spark, seg, c)
      assert(assertSegmentedRoot(seg, positional) == compacted)
      assert(compacted.segments.size == 1 && compacted.tombs.isEmpty)
    }
    all.unpersist()
  }
}
