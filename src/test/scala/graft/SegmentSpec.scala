package graft

import graft.index.{BuildIndexJob, SegmentSnapshots, SegmentedIndex}
import graft.search.{BlockJoin, IndexSearch, Synonyms}
import graft.sources.Transcripts
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Segmented (O(batch)) incremental index: equivalence with a full rebuild,
  * the bytes-written contract, and compaction. */
class SegmentSpec extends SparkSpec {
  import spark.implicits._

  def tmp(): String = java.nio.file.Files.createTempDirectory("graftseg").toString
  val cfg = BuildIndexJob.Config(numShards = 4, blockSize = 8, saltTarget = 64)
  val queries = Seq(1 -> "w1 w3", 2 -> "w2", 3 -> "zzzraretwo", 4 -> "w5 w9 w40")
  val noDeletes: DataFrame = Seq.empty[(String, Int)].toDF("conv_id", "turn_idx")

  /** Full-rebuild expectation in the segmented output shape: global-id
    * search results mapped back to (conv_id, turn_idx) keys. */
  def rebuildExpected(all: DataFrame, qs: Seq[(Int, String)] = queries): Seq[Row] = {
    val root = tmp()
    BuildIndexJob.run(spark, all, root, "full", cfg)
    val res = IndexSearch.search(IndexSearch.open(spark, root), qs)
    val keys = spark.read.parquet(s"$root/docs")
      .select("doc_id", "conv_id", "turn_idx")
    res.join(keys, "doc_id")
      .select("query_id", "rank", "conv_id", "turn_idx", "score")
      .orderBy("query_id", "rank").collect().toSeq
  }

  def segResults(root: String): Seq[Row] =
    IndexSearch.search(SegmentedIndex.open(spark, root, cfg), queries)
      .orderBy("query_id", "rank").collect().toSeq

  test("clause ^boost flows through the segmented engine ≡ unified rebuild") {
    val all = Transcripts.synthetic(spark, 60).cache()
    val root = tmp()
    SegmentedIndex.append(spark, root, all, noDeletes, "seg-a", cfg)
    val bq = Seq(1 -> "w1 w3^3", 2 -> "+w2^0.5 w5")
    val seg = IndexSearch.searchClauses(SegmentedIndex.open(spark, root, cfg), bq)
      .orderBy("query_id", "rank").collect().toSeq
    val uroot = tmp()
    BuildIndexJob.run(spark, all, uroot, "full", cfg)
    val res = IndexSearch.searchClauses(IndexSearch.open(spark, uroot), bq)
    val keys = spark.read.parquet(s"$uroot/docs")
      .select("doc_id", "conv_id", "turn_idx")
    val want = res.join(keys, "doc_id")
      .select("query_id", "rank", "conv_id", "turn_idx", "score")
      .orderBy("query_id", "rank").collect().toSeq
    assert(seg == want && seg.nonEmpty)
    // the boost actually bites: w3^3 must change the scored output
    val plain = IndexSearch.searchClauses(SegmentedIndex.open(spark, root, cfg),
      Seq(1 -> "w1 w3")).orderBy("rank")
      .select("conv_id", "turn_idx", "score").collect().toSeq
    val boosted = IndexSearch.searchClauses(SegmentedIndex.open(spark, root, cfg),
      Seq(1 -> "w1 w3^3")).orderBy("rank")
      .select("conv_id", "turn_idx", "score").collect().toSeq
    assert(plain != boosted)
    all.unpersist()
  }

  /** The eleven request shapes written once against an index view, and
    * the two pruned top-k engines. */
  def shapes(qs: Seq[(Int, String)]): Seq[(String, IndexSearch.View => DataFrame)] = Seq(
    "search" -> (v => IndexSearch.search(v, qs)),
    "searchWand" -> (v => IndexSearch.searchWand(v, qs)),
    "searchMaxScore" -> (v => IndexSearch.searchMaxScore(v, qs)),
    "searchFiltered" -> (v => IndexSearch.searchFiltered(v, qs, col("role") === "user")),
    "searchParents" -> (v => IndexSearch.searchParents(v, qs, BlockJoin.Total)),
    "searchSynonyms" -> (v => Synonyms.searchIndex(v, qs, Seq(Seq("w1", "w2")))),
    "facetCounts" -> (v => IndexSearch.facetCounts(v, qs, "role")),
    "facetFields" -> (v => IndexSearch.facetFields(v, qs, Seq("role", "tool"))),
    "facetJson" -> (v => IndexSearch.facetJson(v, qs, "role", "tool", 2, 2,
      SparkEntry.JsonFacetMetrics)),
    "statsField" -> (v => IndexSearch.statsField(v, qs, "dl")),
    "facetIntervals" -> (v => IndexSearch.facetIntervals(v, qs, "dl", SparkEntry.IntervalSets)),
    "facetJsonQuery" -> (v => IndexSearch.facetJsonQuery(v, qs,
      SparkEntry.FacetQueryDefs.map(d => (d._1, d._2)), SparkEntry.JsonFacetMetrics)),
    "facetJsonRange" -> (v => IndexSearch.facetJsonRange(v, qs, "dl", 0L, 30L, 10L,
      SparkEntry.JsonFacetMetrics)))

  /** The phrase, highlight and boolean-clause shapes written once against
    * a view, each with its own queries. The dead-member case: in the
    * upsert/delete fixture `zzzraretwo` lives only in a deleted doc, so
    * `zzzraret*` has one live member, and a dead term must not count
    * against maxExpansions. */
  def positionalShapes: Seq[(String, IndexSearch.View => DataFrame)] = {
    val pq = Seq(1 -> "w1 w2", 2 -> "upserted zzzupserted", 3 -> "w3 w1")
    val hq = Seq(1 -> "w1 w2", 2 -> "zzzupserted", 3 -> "upserted w3")
    Seq(
      "searchPhrase" -> (v => IndexSearch.searchPhrase(v, pq)),
      "searchPhrase slop 2" -> (v => IndexSearch.searchPhrase(v, pq, slop = 2)),
      "searchPhrase luceneSlop" ->
        (v => IndexSearch.searchPhrase(v, pq, slop = 2, luceneSlop = true)),
      "searchHighlight" -> (v => IndexSearch.searchHighlight(v, hq)),
      "searchHighlightScored" -> (v => IndexSearch.searchHighlightScored(v, hq)),
      "searchClauses must phrase" -> (v => IndexSearch.searchClauses(v,
        Seq(1 -> "+\"w1 w2\" w3", 2 -> "+\"upserted zzzupserted\" w1"))),
      "searchClauses not phrase" -> (v => IndexSearch.searchClauses(v,
        Seq(1 -> "w1 -\"w1 w2\"", 2 -> "w2 upserted -\"upserted zzzupserted\""))),
      "searchClauses wildcard group" -> (v => IndexSearch.searchClauses(v,
        Seq(1 -> "+w1? w3", 2 -> "w2 -w1?"))),
      "searchClauses fuzzy group" -> (v => IndexSearch.searchClauses(v,
        Seq(1 -> "w3 +zzzupsertd~1", 2 -> "+zzzraretwo~1 w1"))),
      "searchClauses dead member, maxExpansions 1" -> (v => IndexSearch.searchClauses(v,
        Seq(1 -> "+zzzraret* w1"), maxExpansions = 1)),
      "searchClauses mm 1" -> (v => IndexSearch.searchClauses(v,
        Seq(1 -> "+w1 w2 w3", 2 -> "w5 w7 zzzupserted"), mm = 1)))
  }

  /** An absent root, a segment-free root and a root whose every doc is
    * tombstoned. */
  def emptyRoots(): Seq[String] = {
    val batch = Transcripts.synthetic(spark, 6).cache()
    val keys = batch.select("conv_id", "turn_idx")
    val absent = tmp() + "/none"
    val noSegs = tmp()
    // the only batch deletes every key it brings: no segment is written
    SegmentedIndex.append(spark, noSegs, batch, keys, "seg-a", cfg)
    val allDead = tmp()
    SegmentedIndex.append(spark, allDead, batch, noDeletes, "seg-a", cfg)
    SegmentedIndex.append(spark, allDead, batch.limit(0), keys, "seg-b", cfg)
    assert(SegmentedIndex.readManifest(spark, noSegs).exists(m => m.segments.isEmpty))
    assert(SegmentedIndex.readManifest(spark, allDead)
      .exists(m => m.segments.nonEmpty && m.nDocs == 0))
    batch.unpersist()
    Seq(absent, noSegs, allDead)
  }

  // nullability is left out: it is not part of a result's shape
  def shape(df: DataFrame): String =
    df.schema.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
  val ranked = "query_id INT, rank INT, conv_id STRING, turn_idx INT, score DOUBLE"

  test("the eleven shapes over an absent, a segment-free and an all-tombstoned root: pinned rows and schema") {
    def body(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val metrics = "sum_dl BIGINT, avg_dl DOUBLE, uniq_tool BIGINT, max_turn BIGINT"
    val nulls = ",0,null,null,null,null]"
    def spine(buckets: Seq[Any], tail: String): Seq[String] =
      for (q <- Seq(1, 2); b <- buckets) yield s"[$q,$b$tail"
    val want: Map[String, (String, Seq[String])] = Map(
      "search" -> (ranked -> Nil),
      "searchWand" -> (ranked -> Nil),
      "searchMaxScore" -> (ranked -> Nil),
      "searchFiltered" -> (ranked -> Nil),
      "searchParents" ->
        ("query_id INT, rank INT, parent STRING, n_children BIGINT, score DOUBLE" -> Nil),
      "searchSynonyms" -> (ranked -> Nil),
      "facetCounts" -> ("query_id INT, role STRING, n_docs BIGINT" -> Nil),
      "facetFields" -> ("query_id INT, field STRING, value STRING, n_docs BIGINT" -> Nil),
      "facetJson" -> ("query_id INT, value STRING, child_value STRING, rank INT, " +
        s"n_docs BIGINT, $metrics" -> Nil),
      "statsField" -> (("query_id INT, n_docs BIGINT, vmissing BIGINT, vmin BIGINT, " +
        "vmax BIGINT, vsum BIGINT, vmean DOUBLE") -> spine(Seq(0), nulls)),
      "facetIntervals" -> ("query_id INT, interval STRING, n_docs BIGINT" ->
        spine(SparkEntry.IntervalSets.map(_.label), ",0]")),
      "facetJsonQuery" -> (s"query_id INT, facet STRING, n_docs BIGINT, $metrics" ->
        spine(SparkEntry.FacetQueryDefs.map(_._1), nulls)),
      "facetJsonRange" -> (s"query_id INT, bucket BIGINT, n_docs BIGINT, $metrics" ->
        spine(Seq(0, 10, 20), nulls)))
    assert(want.keySet == shapes(Nil).map(_._1).toSet)
    for (root <- emptyRoots(); (name, run) <- shapes(Seq(1 -> "w1 w3", 2 -> "zzzmissing"))) {
      val df = run(SegmentedIndex.open(spark, root, cfg))
      assert(shape(df) == want(name)._1, s"$name schema over $root")
      assert(body(df) == want(name)._2.sorted, s"$name rows over $root")
    }
  }

  test("phrase, highlight and clause shapes over an absent, a segment-free and an all-tombstoned root: typed empty results") {
    for (root <- emptyRoots(); (name, run) <- positionalShapes) {
      val df = run(SegmentedIndex.open(spark, root, cfg))
      val want = if (name.startsWith("searchHighlight")) s"$ranked, snippet STRING" else ranked
      assert(shape(df) == want, s"$name schema over $root")
      assert(df.collect().isEmpty, s"$name rows over $root")
    }
  }

  test("phrase, highlight and phrase-bearing clauses over a non-positional segmented root fail loudly") {
    val root = tmp()
    SegmentedIndex.append(spark, root, Transcripts.synthetic(spark, 6), noDeletes, "seg-a", cfg)
    val view = SegmentedIndex.open(spark, root, cfg)
    for ((name, run) <- positionalShapes
         if !Seq("wildcard", "fuzzy", "dead", "mm").exists(name.contains)) {
      val e = intercept[IllegalArgumentException](run(view).collect())
      assert(e.getMessage.contains("requires a positional index"), s"$name: ${e.getMessage}")
    }
  }

  test("segmented searchHighlight runs the same Spark jobs over one and over three segments of one live corpus") {
    val cfgPos = cfg.copy(storePositions = true)
    val all = Transcripts.synthetic(spark, 60).cache()
    val one = tmp()
    SegmentedIndex.append(spark, one, all, noDeletes, "seg-a", cfgPos)
    val three = tmp()
    Seq((0, 20), (20, 40), (40, 60)).zipWithIndex.foreach { case ((lo, hi), i) =>
      SegmentedIndex.append(spark, three, convs(all, lo, hi), noDeletes, s"seg-$i", cfgPos)
    }
    val q = Seq(1 -> "w1 w2", 2 -> "w3 zzzrareone")
    def highlight(root: String): Seq[Row] =
      IndexSearch.searchHighlight(SegmentedIndex.open(spark, root, cfgPos), q).collect().toSeq
    // the first read loads each segment's snapshot; count a warm one
    val jobs = Seq(one, three).map { root =>
      highlight(root)
      jobsOf(highlight(root))
    }
    assert(jobs(0)._1.nonEmpty && jobs(0)._1 == jobs(1)._1)
    def byScope(js: Seq[java.util.Properties]) = js.map(p =>
      Option(p.getProperty("spark.rdd.scope")).fold("-")(_.replaceAll(".*\"name\":\"([^\"]*)\".*", "$1")) +
        "@" + p.getProperty("spark.sql.execution.id")).mkString(" ")
    assert(jobs(0)._2.size == jobs(1)._2.size,
      s"one segment ran ${jobs(0)._2.size} jobs (${byScope(jobs(0)._2)}), " +
        s"three ran ${jobs(1)._2.size} (${byScope(jobs(1)._2)})")
    all.unpersist()
  }

  test("3 appends with upserts and deletes ≡ full rebuild over the live corpus") {
    val all = Transcripts.synthetic(spark, 120).cache()
    val b1 = all.where($"conv_id" < "conv00000050")
    val b2 = all.where($"conv_id" >= "conv00000050" && $"conv_id" < "conv00000090")
    // b3 re-delivers some of b2's conversations with REPLACED text (upsert)
    val b3 = all.where($"conv_id" >= "conv00000090").unionByName(
      all.where($"conv_id" >= "conv00000080" && $"conv_id" < "conv00000085")
        .withColumn("text", concat($"text", lit(" upserted zzzupserted"))))
    val dead = Seq(("conv00000001", 1), ("conv00000095", 0))
      .toDF("conv_id", "turn_idx")

    val root = tmp()
    SegmentedIndex.append(spark, root, b1, noDeletes, "seg-a", cfg)
    SegmentedIndex.append(spark, root, b2, noDeletes, "seg-b", cfg)
    SegmentedIndex.append(spark, root, b3, dead, "seg-c", cfg)

    val liveCorpus = all
      .join(all.where($"conv_id" >= "conv00000080" && $"conv_id" < "conv00000085")
        .select("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"), "left_anti")
      .unionByName(all.where($"conv_id" >= "conv00000080" && $"conv_id" < "conv00000085")
        .withColumn("text", concat($"text", lit(" upserted zzzupserted"))))
      .join(dead, Seq("conv_id", "turn_idx"), "left_anti")
    val expected = rebuildExpected(liveCorpus)
    val got = segResults(root)
    assert(got == expected)
    assert(got.nonEmpty)
    // manifest stats match the rebuild's collection stats exactly
    val m = SegmentedIndex.readManifest(spark, root).get
    val st = graft.index.IndexBuild.stats(
      graft.index.IndexBuild.docLengths(
        graft.index.IndexBuild.termOccurrences(
          liveCorpus.withColumn("doc_id", monotonically_increasing_id()))))
    assert(m.nDocs == st.nDocs && m.totalTokens == st.totalTokens)
  }

  test("boolean/fq/facet/phrase over segments with upserts+deletes ≡ unified rebuild") {
    // the driver gates exercise these surfaces on a tombstone-FREE
    // streamed fixture; this pins the liveFilter path: killed instances
    // must vanish from clause matching, fq/facet attributes, AND the
    // positional candidate set
    val cfgPos = BuildIndexJob.Config(numShards = 4, blockSize = 8,
      saltTarget = 64, storePositions = true)
    val all = Transcripts.synthetic(spark, 120).cache()
    val b1 = all.where($"conv_id" < "conv00000050")
    val b2 = all.where($"conv_id" >= "conv00000050" && $"conv_id" < "conv00000090")
    val b3 = all.where($"conv_id" >= "conv00000090").unionByName(
      all.where($"conv_id" >= "conv00000080" && $"conv_id" < "conv00000085")
        .withColumn("text", concat($"text", lit(" upserted zzzupserted"))))
    val dead = Seq(("conv00000001", 1), ("conv00000095", 0))
      .toDF("conv_id", "turn_idx")
    val root = tmp()
    SegmentedIndex.append(spark, root, b1, noDeletes, "seg-a", cfgPos)
    SegmentedIndex.append(spark, root, b2, noDeletes, "seg-b", cfgPos)
    SegmentedIndex.append(spark, root, b3, dead, "seg-c", cfgPos)
    val liveCorpus = all
      .join(all.where($"conv_id" >= "conv00000080" && $"conv_id" < "conv00000085")
        .select("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"), "left_anti")
      .unionByName(all.where($"conv_id" >= "conv00000080" && $"conv_id" < "conv00000085")
        .withColumn("text", concat($"text", lit(" upserted zzzupserted"))))
      .join(dead, Seq("conv_id", "turn_idx"), "left_anti")
    val uroot = tmp()
    BuildIndexJob.run(spark, liveCorpus, uroot, "fullsurf", cfgPos)
    val uidx = IndexSearch.open(spark, uroot)
    val keys = spark.read.parquet(s"$uroot/docs")
      .select("doc_id", "conv_id", "turn_idx")
    def keyed(df: DataFrame): Seq[Row] = df.join(keys, "doc_id")
      .select("query_id", "rank", "conv_id", "turn_idx", "score")
      .orderBy("query_id", "rank").collect().toSeq
    def sorted(df: DataFrame): Seq[Row] =
      df.orderBy("query_id", "rank").collect().toSeq

    val bq = Seq(1 -> "+w1 w3 -w2", 2 -> "w2 -zzzupserted", 3 -> "+zzzupserted")
    val view = SegmentedIndex.open(spark, root, cfgPos)
    val segBool = sorted(IndexSearch.searchClauses(view, bq))
    assert(segBool == keyed(IndexSearch.searchClauses(uidx, bq)))
    assert(segBool.exists(_.getInt(0) == 3), "upserted must-term must match")

    val fqQs = Seq(1 -> "w1 w2", 2 -> "zzzupserted")
    assert(sorted(IndexSearch.searchFiltered(view, fqQs, col("role") === "user"))
      == keyed(IndexSearch.searchFiltered(uidx, fqQs, col("role") === "user")))
    assert(IndexSearch.facetCounts(view, fqQs, "role")
        .collect().toSeq
      == IndexSearch.facetCounts(uidx, fqQs, "role").collect().toSeq)

    // round-5 facet family composed on the segmented keys identity:
    // multi-field facets and stats must agree with the unified rebuild
    // under the same upserts + tombstones
    assert(IndexSearch.facetFields(view, fqQs,
        Seq("role", "tool")).collect().toSeq
      == IndexSearch.facetFields(uidx, fqQs, Seq("role", "tool"))
        .collect().toSeq)
    assert(IndexSearch.statsField(view, fqQs, "dl")
        .collect().toSeq
      == IndexSearch.statsField(uidx, fqQs, "dl").collect().toSeq)

    val pq = Seq(1 -> "upserted zzzupserted", 2 -> "w1")
    val segPhrase = sorted(IndexSearch.searchPhrase(view, pq))
    assert(segPhrase == keyed(IndexSearch.searchPhrase(uidx, pq)))
    assert(segPhrase.exists(_.getInt(0) == 1), "planted phrase must match")
    val sq = Seq(1 -> "zzzupserted upserted")
    assert(sorted(IndexSearch.searchPhrase(view, sq, slop = 2, luceneSlop = true))
      == keyed(IndexSearch.searchPhrase(uidx, sq, slop = 2, luceneSlop = true)),
      "sloppy mode must agree across segmented and unified paths")

    // every shape written against a view: the live segmented view ≡ the
    // bulk view of its compaction, doc_id mapped to its key
    val cmp = IndexSearch.open(spark,
      SegmentedIndex.compact(spark, root, tmp(), "cmp", cfgPos).root)
    val cmpKeys = cmp.attrs.select("doc_id", "conv_id", "turn_idx")
    def lines(df: DataFrame, cols: Seq[String]): Seq[String] =
      (if (df.columns.contains("doc_id")) df.join(cmpKeys, "doc_id") else df)
        .select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted
    for ((name, run) <- shapes(Seq(1 -> "w1 w2", 2 -> "zzzupserted", 3 -> "upserted w3")) ++
           positionalShapes) {
      val got = run(view)
      val rowsSeg = lines(got, got.columns.toSeq)
      assert(rowsSeg.nonEmpty && rowsSeg == lines(run(cmp), got.columns.toSeq),
        s"$name over the segmented view ≢ over its compaction")
    }
  }

  test("segmented WAND ≡ exhaustive fan-out under upserts + tombstones") {
    val all = Transcripts.synthetic(spark, 120).cache()
    val b1 = all.where($"conv_id" < "conv00000050")
    val b2 = all.where($"conv_id" >= "conv00000050" && $"conv_id" < "conv00000090")
    val b3 = all.where($"conv_id" >= "conv00000090").unionByName(
      all.where($"conv_id" >= "conv00000080" && $"conv_id" < "conv00000085")
        .withColumn("text", concat($"text", lit(" upserted zzzupserted"))))
    val dead = Seq(("conv00000001", 1), ("conv00000095", 0))
      .toDF("conv_id", "turn_idx")
    val root = tmp()
    SegmentedIndex.append(spark, root, b1, noDeletes, "seg-a", cfg)
    // WAND with NO tombstones yet (θ seeds active) must already agree
    val wq = queries ++ Seq(5 -> "w1", 6 -> "w2 w7 zzzrareone", 7 -> "w1 w2 w3 w4")
    def wand() = SegmentedIndex.searchWand(spark, root, wq, cfg = cfg)
      .orderBy("query_id", "rank").collect().toSeq
    def exhaustive() = IndexSearch.search(SegmentedIndex.open(spark, root, cfg), wq)
      .orderBy("query_id", "rank").collect().toSeq
    val oneSeg = wand()
    assert(oneSeg == exhaustive() && oneSeg.nonEmpty, "single tombless segment")
    SegmentedIndex.append(spark, root, b2, noDeletes, "seg-b", cfg)
    assert(wand() == exhaustive(), "two tombless segments (cross-segment seeds)")
    // upserts + explicit deletes: live df now differs from build df, the
    // over-fetch guard must absorb killed heap occupants, seeds disabled
    SegmentedIndex.append(spark, root, b3, dead, "seg-c", cfg)
    val got = wand()
    assert(got == exhaustive(), "upserts + tombstones")
    assert(got.nonEmpty)
    // and against the independent full-rebuild expectation
    val liveCorpus = all
      .join(all.where($"conv_id" >= "conv00000080" && $"conv_id" < "conv00000085")
        .select("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"), "left_anti")
      .unionByName(all.where($"conv_id" >= "conv00000080" && $"conv_id" < "conv00000085")
        .withColumn("text", concat($"text", lit(" upserted zzzupserted"))))
      .join(dead, Seq("conv_id", "turn_idx"), "left_anti")
    val uroot = tmp()
    BuildIndexJob.run(spark, liveCorpus, uroot, "fullwand", cfg)
    val keys = spark.read.parquet(s"$uroot/docs")
      .select("doc_id", "conv_id", "turn_idx")
    val expected = IndexSearch.search(IndexSearch.open(spark, uroot), wq)
      .join(keys, "doc_id")
      .select("query_id", "rank", "conv_id", "turn_idx", "score")
      .orderBy("query_id", "rank").collect().toSeq
    assert(got == expected, "≡ full rebuild over the live corpus")
    // both pruned engines over the live view ≡ its exhaustive search, on
    // both paths, at every k, range size and page — with tombstones, and
    // again after a merge folds the two older segments
    def parity(): Unit = {
      val view = SegmentedIndex.open(spark, root, cfg)
      TopKParity.check(view, IndexSearch.searchWand(_, _, _, _, _))
      TopKParity.check(view, IndexSearch.searchMaxScore(_, _, _, _, _))
    }
    parity()
    SegmentedIndex.mergeAdjacent(spark, root, 0, 1, cfg)
    assert(SegmentedIndex.readManifest(spark, root).get.segments.size == 2)
    parity()
    all.unpersist()
  }

  test("tiered merge: adjacent same-tier runs fold, answers ≡ rebuild, stats unchanged") {
    // 6 slices of 12 convs ≈ 100 docs each — comfortably inside tier 3
    // (64..255 at tierFactor=4), away from the 256 boundary
    val all = Transcripts.synthetic(spark, 72).cache()
    val root = tmp()
    (0 until 6).foreach { i =>
      val lo = f"conv${i * 12}%08d"
      val hi = f"conv${(i + 1) * 12}%08d"
      SegmentedIndex.append(spark, root,
        all.where($"conv_id" >= lo && $"conv_id" < hi), noDeletes, s"seg$i", cfg)
    }
    // upserts/deletes spread across ALL six slices (conv ids ending 0 / 7)
    // so merge-time tombstone remap + physical kills hit every segment
    val upserts = all.where($"conv_id".endsWith("0") && $"turn_idx" === 1)
      .withColumn("text", concat($"text", lit(" upserted zzzupserted")))
    val dead = all.where($"conv_id".endsWith("7") && $"turn_idx" === 0)
      .select("conv_id", "turn_idx")
    SegmentedIndex.append(spark, root, upserts, dead, "seg6", cfg)
    val m0 = SegmentedIndex.readManifest(spark, root).get
    assert(m0.segments.size == 7 && m0.tombs.nonEmpty)

    val (m1, decisions) = SegmentedIndex.tieredCompact(spark, root,
      segsPerTier = 3, maxMergeAtOnce = 3, cfg = cfg)
    // policy: the six same-tier slices fold in adjacent ≤3-runs; the tiny
    // upsert segment (~8 docs, tier 1 — no same-tier neighbors) is never
    // merged. Exact run split depends on per-slice doc counts, so pin the
    // invariants, not the count.
    assert(decisions.nonEmpty && decisions.forall(d => d.to - d.from + 1 <= 3))
    assert(m1.segments.size <= m0.segments.size - 2)
    assert(m1.segments.last == "seg6")
    // merges drop only already-dead rows: live collection stats unchanged
    assert(m1.nDocs == m0.nDocs && m1.totalTokens == m0.totalTokens)

    val liveCorpus = all
      .join(upserts.select("conv_id", "turn_idx"), Seq("conv_id", "turn_idx"), "left_anti")
      .unionByName(upserts)
      .join(dead, Seq("conv_id", "turn_idx"), "left_anti")
    val expected = rebuildExpected(liveCorpus)
    val got = segResults(root)
    assert(got == expected && got.nonEmpty, "exhaustive ≡ rebuild after merges")
    // the WAND path reads the CONSOLIDATED tombstones + df-delta sidecar —
    // metadata-derived live df must survive the merge rewrite exactly
    val wand = SegmentedIndex.searchWand(spark, root, queries, cfg = cfg)
      .orderBy("query_id", "rank").collect().toSeq
    assert(wand == expected, "WAND over merged artifacts ≡ rebuild")
    all.unpersist()
  }

  test("snapshot time travel: root@vN reads the committed state; vacuum expires") {
    val all = Transcripts.synthetic(spark, 60).cache()
    val b1 = all.where($"conv_id" < "conv00000030")
    val b2 = all.where($"conv_id" >= "conv00000030")
    val root = tmp()
    SegmentedIndex.append(spark, root, b1, noDeletes, "seg-a", cfg) // v1
    val r1 = segResults(root)
    SegmentedIndex.append(spark, root, b2, noDeletes, "seg-b", cfg) // v2
    val r2 = segResults(root)
    assert(r1 != r2 && r1.nonEmpty)
    assert(SegmentedIndex.snapshotVersions(spark, root) == Seq(1, 2))
    // VERSION AS OF: v1 answers exactly as the head did before commit 2
    val v1 = IndexSearch.search(SegmentedIndex.open(spark, s"$root@v1", cfg), queries)
      .orderBy("query_id", "rank").collect().toSeq
    assert(v1 == r1)
    // mutators reject snapshot specs — writes go only to the head
    intercept[IllegalArgumentException] {
      SegmentedIndex.append(spark, s"$root@v1", b2, noDeletes, "seg-x", cfg)
    }
    intercept[IllegalArgumentException] {
      SegmentedIndex.vacuum(spark, s"$root@v1")
    }
    // a bad version fails loudly instead of answering empty
    intercept[IllegalArgumentException] {
      IndexSearch.search(SegmentedIndex.open(spark, s"$root@v9", cfg), queries).collect()
    }
    // compaction retains old dirs: pre-compaction snapshots stay readable
    SegmentedIndex.compactInPlace(spark, root, cfg) // v3
    val v2 = IndexSearch.search(SegmentedIndex.open(spark, s"$root@v2", cfg), queries)
      .orderBy("query_id", "rank").collect().toSeq
    assert(v2 == r2, "pre-compaction snapshot readable after compaction")
    assert(segResults(root) == r2, "head answers unchanged by compaction")
    // vacuum = expire-snapshots: only the head survives
    SegmentedIndex.vacuum(spark, root)
    val left = SegmentedIndex.snapshotVersions(spark, root)
    assert(left.size == 1)
    intercept[IllegalArgumentException] {
      IndexSearch.search(SegmentedIndex.open(spark, s"$root@v2", cfg), queries).collect()
    }
    assert(segResults(root) == r2, "head still serves after vacuum")
    all.unpersist()
  }

  test("append writes O(batch) bytes — not O(corpus): deltas stay flat as the index grows") {
    def du(path: String): Long = {
      val f = new java.io.File(path)
      if (!f.exists) 0L
      else if (f.isFile) f.length()
      else f.listFiles().map(x => du(x.getPath)).sum
    }
    val root = tmp()
    val deltas = (0 until 5).map { i =>
      val batch = Transcripts.synthetic(spark, 150)
        .where($"conv_id" >= f"conv${i * 30}%08d" && $"conv_id" < f"conv${(i + 1) * 30}%08d")
      val before = du(root)
      SegmentedIndex.append(spark, root, batch, noDeletes, s"seg-$i", cfg)
      du(root) - before
    }
    // IndexMerge-style O(corpus) behavior would make delta 5 ≈ 5× delta 1;
    // segment appends write one constant-size batch each (parquet overhead
    // gives the slack)
    assert(deltas.last < 2 * deltas.head,
      s"append bytes grew with corpus size: $deltas")
  }

  test("in-place compaction: one segment, same answers, old dirs gone") {
    val all = Transcripts.synthetic(spark, 90).cache()
    val root = tmp()
    val dead = Seq(("conv00000002", 0)).toDF("conv_id", "turn_idx")
    SegmentedIndex.append(spark, root,
      all.where($"conv_id" < "conv00000030"), noDeletes, "seg-a", cfg)
    SegmentedIndex.append(spark, root,
      all.where($"conv_id" >= "conv00000030" && $"conv_id" < "conv00000060"),
      noDeletes, "seg-b", cfg)
    SegmentedIndex.append(spark, root,
      all.where($"conv_id" >= "conv00000060"), dead, "seg-c", cfg)
    val before = segResults(root)
    val mBefore = SegmentedIndex.readManifest(spark, root).get
    val m = SegmentedIndex.compactInPlace(spark, root, cfg)
    assert(m.segments.size == 1 && m.tombs.isEmpty)
    assert(m.nDocs == mBefore.nDocs && m.totalTokens == mBefore.totalTokens)
    assert(segResults(root) == before)
    // obsolete dirs are RETAINED for in-flight readers until vacuum
    assert(new java.io.File(SegmentedIndex.segPath(root, "seg-a")).exists)
    SegmentedIndex.vacuum(spark, root)
    for (s <- Seq("seg-a", "seg-b", "seg-c"))
      assert(!new java.io.File(SegmentedIndex.segPath(root, s)).exists, s)
    assert(new java.io.File(SegmentedIndex.segPath(root, m.segments.head)).exists)
    assert(segResults(root) == before, "post-vacuum answers unchanged")
    // further appends keep working on the compacted root
    SegmentedIndex.append(spark, root,
      Transcripts.synthetic(spark, 100).where($"conv_id" >= "conv00000090"),
      noDeletes, "seg-d", cfg)
    val live = all.join(dead, Seq("conv_id", "turn_idx"), "left_anti")
      .unionByName(Transcripts.synthetic(spark, 100).where($"conv_id" >= "conv00000090"))
    assert(segResults(root) == rebuildExpected(live))
  }

  test("MANIFEST publish beside a looping reader: no exception, no torn or mixed body") {
    val root = tmp()
    // bodies of varying length, so a reader that paired one version's
    // bytes with another version's checksum would fail verification
    val published = (0 until 240).map(i => SegmentedIndex.Manifest(
      Seq.tabulate(1 + i % 9)(j => s"seg-$i-$j"), Seq.fill(i % 4)(s"t$i"), i.toLong, 7L * i))
    def body(m: SegmentedIndex.Manifest) =
      s"segments=${m.segments.mkString(",")}\ntombs=${m.tombs.mkString(",")}\n" +
        s"n_docs=${m.nDocs}\ntotal_tokens=${m.totalTokens}\n"
    val path = SegmentedIndex.manifestPath(root)
    graft.sources.Fs.publishString(spark, path, body(published.head))
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SegmentedIndex.Manifest]
    val reader = new Thread(() =>
      while (!done.get) {
        try SegmentedIndex.readManifest(spark, root) match {
          case Some(m) => seen.add(m)
          case None => errors.add(new AssertionError("MANIFEST missing"))
        } catch { case t: Throwable => errors.add(t) }
      })
    reader.start()
    try published.tail.foreach(m => graft.sources.Fs.publishString(spark, path, body(m)))
    finally { done.set(true); reader.join() }
    val failed = errors.size
    assert(failed == 0, s"failed reads, first: ${errors.peek()}")
    val valid = published.toSet
    assert(seen.size > 0)
    seen.forEach(m => assert(valid.contains(m), s"read an unpublished manifest $m"))
    assert(SegmentedIndex.readManifest(spark, root).contains(published.last))
  }

  test("segmented search prunes each segment's postings scan to query-term shards") {
    val root = tmp()
    SegmentedIndex.append(spark, root, Transcripts.synthetic(spark, 60),
      noDeletes, "seg-a", cfg)
    val plan = IndexSearch.search(SegmentedIndex.open(spark, root, cfg), Seq(1 -> "w1"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("shard"),
      s"no shard pruning in segmented search plan:\n$plan")
  }

  test("append READS O(batch) old metadata — flat as the indexed corpus grows 4x") {
    // keymeta bucket count scales with segment size (tiny bucketRows here),
    // so a small batch's append must read ~the same bytes whether the old
    // segment holds X or 4X docs — the round-2 scale-killer was O(corpus)
    // metadata re-read per micro-batch.
    val kcfg = cfg.copy(keymetaBucketRows = 32)
    def bytesReadDuring(body: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            acc.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }
      spark.sparkContext.addSparkListener(l)
      try {
        body
        org.apache.spark.graftshim.TestShims.waitUntilListenerBusEmpty(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(l)
      acc.get()
    }
    val batch = Transcripts.synthetic(spark, 2000)
      .where($"conv_id" >= "conv00001995") // ~5 convs ≈ tiny batch
    val smallRoot = tmp()
    SegmentedIndex.append(spark, smallRoot, Transcripts.synthetic(spark, 150),
      noDeletes, "base", kcfg)
    val bigRoot = tmp()
    SegmentedIndex.append(spark, bigRoot, Transcripts.synthetic(spark, 600),
      noDeletes, "base", kcfg)
    val smallBytes = bytesReadDuring(
      SegmentedIndex.append(spark, smallRoot, batch, noDeletes, "inc", kcfg))
    val bigBytes = bytesReadDuring(
      SegmentedIndex.append(spark, bigRoot, batch, noDeletes, "inc", kcfg))
    // without bucket pruning bigBytes ≈ 4× smallBytes; with it the two
    // appends read the same ~|batch| buckets (2× slack for parquet
    // footers and bucket-size jitter)
    assert(bigBytes < 2 * smallBytes,
      s"append metadata read grew with corpus size: $smallBytes -> $bigBytes")
  }

  test("compact folds segments into a unified index ≡ full rebuild") {
    val all = Transcripts.synthetic(spark, 80).cache()
    val root = tmp()
    SegmentedIndex.append(spark, root,
      all.where($"conv_id" < "conv00000040"), noDeletes, "seg-a", cfg)
    SegmentedIndex.append(spark, root,
      all.where($"conv_id" >= "conv00000040"), noDeletes, "seg-b", cfg)
    val compacted = SegmentedIndex.compact(spark, root, tmp(), "compacted", cfg)
    val fullRoot = tmp()
    BuildIndexJob.run(spark, all, fullRoot, "full", cfg)
    val a = IndexSearch.search(IndexSearch.open(spark, compacted.root), queries)
      .orderBy("query_id", "rank").collect().toSeq
    val b = IndexSearch.search(IndexSearch.open(spark, fullRoot), queries)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a == b && a.nonEmpty)
    // artifacts equal as sets (global ids re-assigned identically)
    for (art <- Seq("docs", "tfdl", "dictionary")) {
      val x = spark.read.parquet(s"${compacted.root}/$art")
      val y = spark.read.parquet(s"$fullRoot/$art")
      assert(x.exceptAll(y).count() == 0 && y.exceptAll(x).count() == 0, art)
    }
  }

  // ---------- resident segment snapshots (SegmentSnapshots) ----------

  val wandQueries: Seq[(Int, String)] =
    queries ++ Seq(5 -> "w1", 6 -> "w2 w7 zzzrareone", 7 -> "w1 w2 w3 w4")

  def rows(df: DataFrame): Seq[Row] = df.orderBy("query_id", "rank").collect().toSeq

  /** The live corpus after appending `batches` (rows, deleted keys) in
    * order: a batch kills every older instance of its keys and of its
    * deletes, and adds its rows that it does not delete itself. */
  def liveOf(batches: Seq[(DataFrame, DataFrame)]): DataFrame =
    batches.foldLeft(Option.empty[DataFrame]) { case (live, (b, dels)) =>
      val added = b.join(dels, Seq("conv_id", "turn_idx"), "left_anti")
      val killed = b.select("conv_id", "turn_idx").unionByName(dels)
      Some(live.fold(added)(_.join(killed, Seq("conv_id", "turn_idx"), "left_anti")
        .unionByName(added)))
    }.get

  def convs(all: DataFrame, lo: Int, hi: Int): DataFrame =
    all.where($"conv_id" >= f"conv$lo%08d" && $"conv_id" < f"conv$hi%08d")

  def upserted(all: DataFrame, lo: Int, hi: Int, tag: String): DataFrame =
    convs(all, lo, hi).withColumn("text", concat($"text", lit(s" $tag zzz$tag")))

  /** A TableIO that records the path of every read. */
  final class RecordingIO extends graft.sources.TableIO with Serializable {
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[String]
    override def write(df: DataFrame, path: String, partitionBy: Seq[String],
                       snapshotId: String): Unit =
      graft.sources.ParquetTableIO.write(df, path, partitionBy, snapshotId)
    override def read(s: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
      reads.add(path)
      graft.sources.ParquetTableIO.read(s, path)
    }
  }

  test("segmented WAND range-parallel path (docsPerRange 7, 64) ≡ search ≡ rebuild") {
    val all = Transcripts.synthetic(spark, 120).cache()
    val b1 = (convs(all, 0, 50), noDeletes)
    val b2 = (convs(all, 50, 90), noDeletes)
    val b3 = (convs(all, 90, 120).unionByName(upserted(all, 80, 85, "upserted")),
      Seq(("conv00000001", 1), ("conv00000095", 0)).toDF("conv_id", "turn_idx"))
    val root = tmp()
    def check(stage: String, live: DataFrame): Unit = {
      val exh = rows(IndexSearch.search(SegmentedIndex.open(spark, root, cfg), wandQueries))
      assert(exh.nonEmpty && exh == rebuildExpected(live, wandQueries), s"$stage: search ≡ rebuild")
      for (dpr <- Seq(7L, 64L))
        assert(rows(SegmentedIndex.searchWand(spark, root, wandQueries,
          docsPerRange = dpr, cfg = cfg)) == exh, s"$stage: WAND at docsPerRange=$dpr")
    }
    SegmentedIndex.append(spark, root, b1._1, b1._2, "seg-a", cfg)
    SegmentedIndex.append(spark, root, b2._1, b2._2, "seg-b", cfg)
    assert(SegmentedIndex.readManifest(spark, root).get.tombs.isEmpty)
    check("no tombstones (θ seeds on)", liveOf(Seq(b1, b2)))
    SegmentedIndex.append(spark, root, b3._1, b3._2, "seg-c", cfg)
    assert(SegmentedIndex.readManifest(spark, root).get.tombs.nonEmpty)
    check("upserts + deletes", liveOf(Seq(b1, b2, b3)))
    val (_, decisions) = SegmentedIndex.tieredCompact(spark, root, segsPerTier = 2,
      maxMergeAtOnce = 2, cfg = cfg)
    assert(decisions.nonEmpty)
    check("after tieredCompact", liveOf(Seq(b1, b2, b3)))
    all.unpersist()
  }

  test("warm segmented searchWand: ≤ 2 jobs, jobless collect, no TableIO read; a merge reloads only its segment") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val all = Transcripts.synthetic(spark, 120).cache()
    val io = new RecordingIO
    val icfg = cfg.copy(io = io)
    val root = tmp()
    SegmentedIndex.append(spark, root, convs(all, 0, 50), noDeletes, "seg-a", icfg)
    SegmentedIndex.append(spark, root, convs(all, 50, 90), noDeletes, "seg-b", icfg)
    SegmentedIndex.append(spark, root,
      convs(all, 90, 120).unionByName(upserted(all, 80, 85, "upserted")),
      Seq(("conv00000001", 1)).toDF("conv_id", "turn_idx"), "seg-c", icfg)
    val m = SegmentedIndex.readManifest(spark, root).get
    assert(m.tombs.nonEmpty)
    val q = Seq(1 -> "w1 w3")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    def countJobs[T](body: => T): (T, Int) = {
      org.apache.spark.graftshim.TestShims.waitUntilListenerBusEmpty(sc)
      jobs.set(0)
      val r = body
      org.apache.spark.graftshim.TestShims.waitUntilListenerBusEmpty(sc)
      (r, jobs.get())
    }
    sc.addSparkListener(listener)
    try {
      SegmentedIndex.searchWand(spark, root, q, cfg = icfg).collect() // cold: loads
      assert(SegmentSnapshots.cached(spark, root) == ((m.segments.toSet, m.tombs.toSet)))
      io.reads.clear()
      val (frame, jobsWarm) = countJobs(SegmentedIndex.searchWand(spark, root, q, cfg = icfg))
      assert(jobsWarm <= 2, s"warm single-query segmented searchWand ran $jobsWarm jobs")
      val (got, jobsCollect) = countJobs(frame.collect())
      assert(jobsCollect == 0 && got.nonEmpty, s"collect ran $jobsCollect jobs")
      val (oov, jobsOov) = countJobs(SegmentedIndex.searchWand(spark, root,
        Seq(9 -> "qqqnotthere zzznope"), cfg = icfg).collect())
      assert(oov.isEmpty && jobsOov == 0, s"all-OOV request ran $jobsOov jobs")
      assert(io.reads.isEmpty, s"warm reads went through TableIO: ${io.reads}")
      assert(rows(frame) == rows(IndexSearch.search(SegmentedIndex.open(spark, root, icfg), q)))

      val (m2, decisions) = SegmentedIndex.tieredCompact(spark, root, segsPerTier = 2,
        maxMergeAtOnce = 2, cfg = icfg)
      assert(decisions.nonEmpty)
      val fresh = m2.segments.filterNot(m.segments.contains)
      assert(fresh.size == 1)
      io.reads.clear()
      val after = rows(SegmentedIndex.searchWand(spark, root, q, cfg = icfg))
      val newSeg = SegmentedIndex.segPath(root, fresh.head) + "/"
      assert(io.reads.size > 0 && io.reads.toArray.forall(_.toString.startsWith(newSeg)),
        s"the read after the merge loaded more than $newSeg: ${io.reads}")
      assert(SegmentSnapshots.cached(spark, root) == ((m2.segments.toSet, m2.tombs.toSet)),
        "merged-away entries must be dropped")
      assert(after == rows(IndexSearch.search(SegmentedIndex.open(spark, root, icfg), q)))
    } finally sc.removeSparkListener(listener)
    all.unpersist()
  }

  test("a segment and tomb name re-appended after merge + vacuum is reloaded, not served stale") {
    val all = Transcripts.synthetic(spark, 120).cache()
    val b0 = (convs(all, 0, 60), noDeletes)
    val b1 = (convs(all, 60, 90).unionByName(upserted(all, 10, 15, "first")),
      Seq(("conv00000001", 1)).toDF("conv_id", "turn_idx"))
    val b1b = (convs(all, 90, 120).unionByName(upserted(all, 60, 65, "second")),
      Seq(("conv00000070", 0)).toDF("conv_id", "turn_idx"))
    val root = tmp()
    SegmentedIndex.append(spark, root, b0._1, b0._2, "seg0", cfg)
    SegmentedIndex.append(spark, root, b1._1, b1._2, "seg1", cfg)
    assert(SegmentedIndex.readManifest(spark, root).get.tombs == Seq("seg1"))
    assert(rows(SegmentedIndex.searchWand(spark, root, wandQueries, cfg = cfg))
      == rebuildExpected(liveOf(Seq(b0, b1)), wandQueries))
    val (merged, _) = SegmentedIndex.tieredCompact(spark, root, segsPerTier = 2,
      tierFactor = 16.0, cfg = cfg)
    assert(!merged.segments.contains("seg1") && !merged.tombs.contains("seg1"))
    SegmentedIndex.vacuum(spark, root)
    assert(!new java.io.File(SegmentedIndex.segPath(root, "seg1")).exists)
    // the same names, different content
    SegmentedIndex.append(spark, root, b1b._1, b1b._2, "seg1", cfg)
    val m = SegmentedIndex.readManifest(spark, root).get
    assert(m.segments.last == "seg1" && m.tombs.contains("seg1"))
    val got = rows(SegmentedIndex.searchWand(spark, root, wandQueries, cfg = cfg))
    assert(got.nonEmpty && got == rows(IndexSearch.search(SegmentedIndex.open(spark, root, cfg), wandQueries)))
    assert(got == rebuildExpected(liveOf(Seq(b0, b1, b1b)), wandQueries))
    all.unpersist()
  }

  test("cold-cache searchWand readers beside an append + tieredCompact answer at a committed manifest") {
    val all = Transcripts.synthetic(spark, 120).cache()
    val root = tmp()
    SegmentedIndex.append(spark, root, convs(all, 0, 50), noDeletes, "seg-a", cfg)
    SegmentedIndex.append(spark, root, convs(all, 50, 90),
      Seq(("conv00000003", 0)).toDF("conv_id", "turn_idx"), "seg-b", cfg)
    val pre = SegmentedIndex.snapshotVersions(spark, root).last
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Row]]
    val readers = (0 until 2).map(_ => new Thread(() => {
      var first = true
      while (first || !done.get) {
        first = false
        try answers.add(rows(SegmentedIndex.searchWand(spark, root, wandQueries, cfg = cfg)))
        catch { case t: Throwable => errors.add(t) }
      }
    }))
    readers.foreach(_.start())
    try {
      SegmentedIndex.append(spark, root,
        convs(all, 90, 120).unionByName(upserted(all, 40, 45, "upserted")),
        Seq(("conv00000060", 1)).toDF("conv_id", "turn_idx"), "seg-c", cfg)
      SegmentedIndex.tieredCompact(spark, root, segsPerTier = 2, tierFactor = 16.0, cfg = cfg)
    } finally { done.set(true); readers.foreach(_.join()) }
    val failed = errors.size
    assert(failed == 0, s"reads failed, first: ${errors.peek()}")
    val post = SegmentedIndex.snapshotVersions(spark, root).last
    assert(post > pre)
    val valid = Set(pre, post).map(v => rows(IndexSearch.search(
      SegmentedIndex.open(spark, s"$root@v$v", cfg), wandQueries)))
    assert(valid.size == 2 && answers.size >= 2)
    answers.forEach(a => assert(valid.contains(a), "an answer matches no committed manifest"))
    all.unpersist()
  }

  /** Properties of every Spark job `body` submits. */
  def jobsOf[T](body: => T): (T, Seq[java.util.Properties]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.add(Option(js.properties).getOrElse(new java.util.Properties))
    }
    org.apache.spark.graftshim.TestShims.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.graftshim.TestShims.waitUntilListenerBusEmpty(sc)
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** A root with one older segment (convs 0–40) and the next batch:
    * convs 40–60 plus upserts of convs 10–13, deleting two older keys. */
  def olderSegmentAndBatch(all: DataFrame, c: BuildIndexJob.Config)
      : (String, DataFrame, DataFrame) = {
    val root = tmp()
    SegmentedIndex.append(spark, root, convs(all, 0, 40), noDeletes, "seg-a", c)
    (root, convs(all, 40, 60).unionByName(upserted(all, 10, 13, "upserted")),
      Seq(("conv00000001", 0), ("conv00000020", 1)).toDF("conv_id", "turn_idx"))
  }

  test("live df from metadata ≡ the count of live decoded postings, through upserts, deletes, merges and tiered compaction") {
    // every segmented read scores from SegmentedIndex.liveDf; this is its
    // independent check (the exhaustive search used to count df itself)
    val all = Transcripts.synthetic(spark, 120).cache()
    val root = tmp()
    def check(stage: String): Unit = {
      val m = SegmentedIndex.readManifest(spark, root).get
      val (segs, tombs) = SegmentSnapshots.of(spark, root, m, cfg.io)
      val tombRows = SegmentedIndex.readTombstones(spark, root, m)
      val counted = segs.zipWithIndex.map { case (seg, o) =>
        graft.index.PostingBlocks.decodePostings(seg.index.postings)
          .join(seg.docs, "doc_id")
          .join(tombRows.where($"upto" > o), Seq("conv_id", "turn_idx"), "left_anti")
          .select("term")
      }.reduce(_ unionByName _).groupBy("term").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val terms = segs.flatMap(_.index.dictionary.select("term").collect().map(_.getString(0)))
      assert(counted.nonEmpty && SegmentedIndex.liveDf(segs, tombs, terms.distinct) == counted,
        s"$stage: live df ≢ live posting count")
    }
    SegmentedIndex.append(spark, root, convs(all, 0, 50), noDeletes, "seg-a", cfg)
    SegmentedIndex.append(spark, root, convs(all, 50, 90), noDeletes, "seg-b", cfg)
    SegmentedIndex.append(spark, root, convs(all, 90, 120).unionByName(upserted(all, 80, 85, "up")),
      Seq(("conv00000001", 1), ("conv00000095", 0)).toDF("conv_id", "turn_idx"), "seg-c", cfg)
    assert(SegmentedIndex.readManifest(spark, root).get.tombs.nonEmpty)
    check("upserts + deletes")
    SegmentedIndex.mergeAdjacent(spark, root, 0, 1, cfg)
    check("mergeAdjacent")
    SegmentedIndex.append(spark, root, upserted(all, 10, 15, "again"),
      Seq(("conv00000060", 0)).toDF("conv_id", "turn_idx"), "seg-d", cfg)
    check("an upsert of merged keys")
    val (_, decisions) = SegmentedIndex.tieredCompact(spark, root, segsPerTier = 2,
      tierFactor = 16.0, cfg = cfg)
    assert(decisions.nonEmpty)
    check("tieredCompact")
    all.unpersist()
  }

  test("a warm segmented search and facetFields persist no relation and write no scratch dir") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
    val all = Transcripts.synthetic(spark, 120).cache()
    val root = tmp()
    SegmentedIndex.append(spark, root, convs(all, 0, 60), noDeletes, "seg-a", cfg)
    SegmentedIndex.append(spark, root, convs(all, 60, 120).unionByName(upserted(all, 10, 15, "up")),
      Seq(("conv00000001", 1)).toDF("conv_id", "turn_idx"), "seg-b", cfg)
    val q = Seq(1 -> "w1 w3", 2 -> "w2")
    def search() = IndexSearch.search(SegmentedIndex.open(spark, root, cfg), q).collect()
    def facets() = IndexSearch.facetFields(SegmentedIndex.open(spark, root, cfg), q,
      Seq("role", "tool")).collect()
    search(); facets() // cold: loads the segment snapshots
    val tmpDir = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratch() = tmpDir.list().count(_.startsWith("graft_seg_out"))
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    // a cached relation shows as RDD blocks stored while the call runs;
    // earlier tests' relations may be cleaned up meanwhile, so only new
    // blocks and new persisted RDDs count
    val cachedBlocks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        if (e.blockUpdatedInfo.blockId.isRDD && e.blockUpdatedInfo.storageLevel.isValid)
          cachedBlocks.incrementAndGet()
    }
    val scratch0 = scratch()
    sc.addSparkListener(listener)
    val (searchJobs, facetJobs) =
      try (jobsOf(search())._2.size, jobsOf(facets())._2.size)
      finally sc.removeSparkListener(listener)
    // warm jobs on this root: search 14 → 8 and facetFields 19 → 11 once
    // the twins' cached decode, df aggregate and scratch write went away
    assert(searchJobs < 14 && facetJobs < 19, s"search $searchJobs, facetFields $facetJobs jobs")
    assert(cachedBlocks.get == 0 && (sc.getPersistentRDDs.keySet -- persisted).isEmpty,
      s"a warm read cached ${cachedBlocks.get} RDD blocks")
    assert(scratch() == scratch0, "facetFields wrote a graft_seg_out scratch dir")
    all.unpersist()
  }

  test("every job of an append and a mergeAdjacent carries a graft.phase; the caller's job group and pool survive") {
    val all = Transcripts.synthetic(spark, 60).cache()
    val (root, batch, dels) = olderSegmentAndBatch(all, cfg)
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller", interruptOnCancel = false)
    sc.setLocalProperty("spark.scheduler.pool", "caller-pool")
    try {
      val (_, appendJobs) = jobsOf(SegmentedIndex.append(spark, root, batch, dels, "seg-b", cfg))
      val (_, mergeJobs) = jobsOf(SegmentedIndex.mergeAdjacent(spark, root, 0, 1, cfg))
      for ((op, jobs) <- Seq("append" -> appendJobs, "mergeAdjacent" -> mergeJobs)) {
        assert(jobs.nonEmpty, s"$op ran no jobs")
        jobs.foreach { p =>
          assert(p.getProperty(Phase.Key) != null, s"$op: a job without ${Phase.Key}")
          assert(p.getProperty("spark.jobGroup.id") == "caller-group", s"$op: job group lost")
          assert(p.getProperty("spark.scheduler.pool") == "caller-pool", s"$op: pool lost")
        }
      }
      val phases = (appendJobs ++ mergeJobs).map(_.getProperty(Phase.Key)).toSet
      val want = Set("segment.docids", "segment.docs", "segment.tf", "segment.dict",
        "segment.postings", "segment.blockmeta", "segment.keymeta", "append.killscan")
      assert(want.subsetOf(phases), s"phases seen: $phases")
      assert(sc.getLocalProperty(Phase.Key) == null, "the phase leaked past the call")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("spark.scheduler.pool", null)
    }
    all.unpersist()
  }

  test("single-pass append: ≤ 35 Spark jobs and no TableIO read of the new segment; a merge runs fewer jobs") {
    val all = Transcripts.synthetic(spark, 60).cache()
    val io = new RecordingIO
    val icfg = cfg.copy(io = io)
    val (root, batch, dels) = olderSegmentAndBatch(all, icfg)
    io.reads.clear()
    val (_, appendJobs) = jobsOf(SegmentedIndex.append(spark, root, batch, dels, "seg-b", icfg))
    // writing the segment through BuildIndexJob.run (stage markers,
    // per-partition lineage, artifacts read back) took 66 jobs here; the
    // single-pass writer takes 33 — AQE submits one job per shuffle stage
    // and per broadcast, so each of the seven artifacts costs ≥ 2
    def byPhase(jobs: Seq[java.util.Properties]) =
      jobs.groupMapReduce(_.getProperty(Phase.Key))(_ => 1)(_ + _).toSeq.sorted.mkString(", ")
    assert(appendJobs.size <= 33, s"append ran ${appendJobs.size} jobs: ${byPhase(appendJobs)}")
    val seg = SegmentedIndex.segPath(root, "seg-b")
    val artifacts = Seq("docs", "tfdl", "dictionary", "postings", "stats").map(a => s"$seg/$a")
    val readBack = io.reads.toArray.map(_.toString)
      .filter(r => artifacts.exists(a => r == a || r.startsWith(s"$a/")))
    assert(readBack.isEmpty, s"the append read back what it wrote: ${readBack.toSeq}")
    val (_, mergeJobs) = jobsOf(SegmentedIndex.mergeAdjacent(spark, root, 0, 1, icfg))
    // the same merge through the bulk build's stages ran 62 jobs; the
    // single-pass writer runs 37
    assert(mergeJobs.size < 62, s"mergeAdjacent ran ${mergeJobs.size} jobs: ${byPhase(mergeJobs)}")
    assert(segResults(root) == rebuildExpected(liveOf(Seq((convs(all, 0, 40), noDeletes),
      (batch, dels)))))
    all.unpersist()
  }
}

