package graft

import graft.index.BuildIndexJob
import graft.ops.TextOps
import graft.search.{Bm25, Facets, IndexSearch, Synonyms}

/** Round-5 final surface batch: query-time synonym expansion
  * (SynonymQuery semantics), LLM context-window chunking, and date-math
  * range faceting — hand-computed expectations on a 5-doc corpus
  * (dl = 3,3,3,7,9; avgdl = 5; N = 5; ts = Epoch2024 + i seconds). */
class SurfaceSynChunkSpec extends SparkSpec {
  import spark.implicits._

  def tmp(): String = java.nio.file.Files.createTempDirectory("graftsyn").toString
  def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * 1000L)

  val turnRows = Seq(
    ("c0", 0, "user", "apple ant bee", null.asInstanceOf[String], ts(0)),
    ("c0", 1, "assistant", "ant bee cat", "toolA", ts(1)),
    ("c1", 0, "user", "bee cat dog", null.asInstanceOf[String], ts(2)),
    ("c1", 1, "assistant", "cat dog emu fox gnu hen ibis", "toolB", ts(3)),
    ("c2", 0, "user", "dog emu fox gnu hen ibis jay kit lark", null.asInstanceOf[String], ts(4)))

  lazy val idx: IndexSearch.OpenIndex = {
    val root = tmp()
    BuildIndexJob.run(spark,
      turnRows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts"),
      root, "syn", BuildIndexJob.Config(numShards = 4))
    IndexSearch.open(spark, root)
  }

  // doc_id order ≡ (conv_id, turn_idx) order ≡ turnRows order
  val docTokens: Seq[Seq[String]] =
    turnRows.map(r => graft.analysis.Analyzer.tokenize(r._4))
  val N = 5L
  val avgdl = 5.0

  test("Synonyms.resolve: class mapping, singletons, dedupe, guards") {
    val groups = Seq(Seq("ant", "cat"), Seq("dog", "emu"))
    // "ant cat" maps BOTH tokens to class 0 → ONE set of triples
    assert(Synonyms.resolve(Seq(1 -> "ant cat"), groups) ==
      Seq((1, 0, "ant"), (1, 0, "cat")))
    // unknown token → singleton gid past groups.size, stable per batch
    assert(Synonyms.resolve(Seq(1 -> "bee", 2 -> "bee jay"), groups) ==
      Seq((1, 2, "bee"), (2, 2, "bee"), (2, 3, "jay")))
    // overlapping classes rejected
    intercept[IllegalArgumentException](
      Synonyms.resolve(Seq(1 -> "x"), Seq(Seq("a", "b"), Seq("b", "c"))))
    // multi-token member rejected
    intercept[IllegalArgumentException](
      Synonyms.resolve(Seq(1 -> "x"), Seq(Seq("a b"))))
  }

  test("searchIndex ≡ brute SynonymQuery scoring (max df, Σ tf)") {
    val groups = Seq(Seq("ant", "cat"))
    val got = Synonyms.searchIndex(idx, Seq(1 -> "ant", 2 -> "bee ant"), groups)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(x => (x._1, x._2))
    // brute: class {ant, cat} df = max(df_ant=2, df_cat=3) = 3; per-doc
    // tf = tf_ant + tf_cat; singleton bee scores as itself (df_bee = 3)
    def tfOf(d: Int, t: String) = docTokens(d).count(_ == t)
    def classScore(d: Int, members: Seq[String], dfMax: Long): Double = {
      val tf = members.map(tfOf(d, _)).sum
      if (tf == 0) 0.0
      else Bm25.idfValue(dfMax, N) * tf /
        (tf + 1.2 * (1 - 0.75 + 0.75 * docTokens(d).size / avgdl))
    }
    def brute(q: Int, classes: Seq[(Seq[String], Long)]): Seq[(Int, Int, Long, Double)] =
      docTokens.indices
        .map(d => d.toLong -> classes.map { case (m, df) => classScore(d, m, df) }.sum)
        .filter(_._2 > 0)
        .sortBy { case (d, s) =>
          (-BigDecimal(s).setScale(7, BigDecimal.RoundingMode.HALF_UP), d) }
        .zipWithIndex
        .map { case ((d, s), i) => (q, i + 1, d,
          BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    val want = brute(1, Seq(Seq("ant", "cat") -> 3L)) ++
      brute(2, Seq(Seq("bee") -> 3L, Seq("ant", "cat") -> 3L))
    assert(got == want)
  }

  test("segmented searchSynonyms ≡ unified rebuild under upserts+tombstones") {
    import graft.index.SegmentedIndex
    import graft.sources.Transcripts
    val cfg = BuildIndexJob.Config(numShards = 4, blockSize = 8, saltTarget = 64)
    val all = Transcripts.synthetic(spark, 60).cache()
    val noDeletes = Seq.empty[(String, Int)].toDF("conv_id", "turn_idx")
    val b1 = all.where($"conv_id" < "conv00000040")
    // b2 re-delivers 5 conversations with REPLACED text (upsert)
    val b2 = all.where($"conv_id" >= "conv00000040").unionByName(
      all.where($"conv_id" >= "conv00000030" && $"conv_id" < "conv00000035")
        .withColumn("text", org.apache.spark.sql.functions.concat(
          $"text", org.apache.spark.sql.functions.lit(" w1 w1 zzznew"))))
    val dead = Seq(("conv00000002", 1), ("conv00000050", 0))
      .toDF("conv_id", "turn_idx")
    val root = tmp()
    SegmentedIndex.append(spark, root, b1, noDeletes, "seg-a", cfg)
    SegmentedIndex.append(spark, root, b2, dead, "seg-b", cfg)
    val queries = Seq(1 -> "w1 w40", 2 -> "w2 zzznew")
    val groups = Seq(Seq("w1", "w2"), Seq("w40", "w41"))
    val seg = Synonyms.searchIndex(SegmentedIndex.open(spark, root, cfg), queries,
      groups).orderBy("query_id", "rank").collect().toSeq
    // unified rebuild over the engine's own live view (liveTurns is
    // pinned ≡ rebuild by SegmentSpec), mapped back to keys
    val uroot = tmp()
    BuildIndexJob.run(spark, SegmentedIndex.liveTurns(spark, root, cfg),
      uroot, "full", cfg)
    val res = Synonyms.searchIndex(IndexSearch.open(spark, uroot), queries, groups)
    val keys = spark.read.parquet(s"$uroot/docs")
      .select("doc_id", "conv_id", "turn_idx")
    val want = res.join(keys, "doc_id")
      .select("query_id", "rank", "conv_id", "turn_idx", "score")
      .orderBy("query_id", "rank").collect().toSeq
    assert(seg == want && seg.nonEmpty)
    all.unpersist()
  }

  test("chunks: window starts, trailing short windows, guards") {
    val docs = Seq((0L, "a b c d e"), (1L, ""), (2L, "x y"))
      .toDF("doc_id", "text")
    val got = TextOps.chunks(docs, 3, 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq
    assert(got == Seq(
      (0L, 0, 3, "a b c"), (0L, 1, 3, "c d e"), (0L, 2, 1, "e"),
      (2L, 0, 2, "x y")))
    intercept[IllegalArgumentException](TextOps.chunks(docs, 0, 1))
    intercept[IllegalArgumentException](TextOps.chunks(docs, 3, 4))
    // stride == chunkSize: non-overlapping tiling, nothing dropped
    val tiled = TextOps.chunks(docs, 2, 2).where($"doc_id" === 0L)
      .collect().map(r => (r.getInt(1), r.getString(3))).toSeq
    assert(tiled == Seq((0, "a b"), (1, "c d"), (2, "e")))
  }

  test("explain: Σ term contributions ≡ the hit's search score; ranks ≡ search") {
    val qs = Seq(1 -> "ant bee", 2 -> "cat dog emu")
    val ex = IndexSearch.explain(idx, qs, k = 5).collect()
    assert(ex.nonEmpty)
    // per (query, doc): contributions sum to the reported score (at the
    // output rounding — contributions are rounded independently, so
    // allow the k·5e-5 rounding slack)
    ex.groupBy(r => (r.getInt(0), r.getLong(2))).foreach { case (_, rows) =>
      val sum = rows.map(_.getDouble(7)).sum
      val score = rows.head.getDouble(8)
      assert(math.abs(sum - score) < 5e-4 * rows.length,
        s"decomposition drifted: $sum vs $score")
    }
    // (rank, doc_id) heads ≡ plain search
    val heads = ex.map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).distinct.sorted
    val want = IndexSearch.search(idx, qs, 5).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(heads.toSeq == want)
    // topTerms guard + order
    intercept[IllegalArgumentException](IndexSearch.topTerms(idx, 0))
    val tt = IndexSearch.topTerms(idx, 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(tt == tt.sortBy { case (t, df) => (-df, t) } && tt.size == 3)
  }

  test("decontaminate: distinct-gram hits, short docs immune, zero-filled") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta"),      // shares "alpha beta gamma" ×1
      (1L, "beta gamma delta epsilon"),    // shares "beta gamma delta" ×1
      (2L, "zeta eta theta iota"),         // no overlap
      (3L, "al be"),                       // < n tokens → cannot hit
      (4L, "alpha beta gamma alpha beta gamma x")) // repeated gram counts once
      .toDF("doc_id", "text")
    val bench = Seq((9L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val got = TextOps.decontaminate(corpus, bench, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == Seq((0L, 2L, true), (1L, 2L, true), (2L, 0L, false),
      (3L, 0L, false), (4L, 1L, true)))
  }

  test("repetition: duplicate n-gram fraction and flag") {
    val corpus = Seq(
      (0L, "a b a b a b"),  // 3-grams: aba,bab,aba,bab → 4 total, 2 distinct
      (1L, "p q r s"),      // all distinct
      (2L, "x y"))          // < n → zero
      .toDF("doc_id", "text")
    val got = TextOps.repetition(corpus, 3, 0.2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3),
        r.getBoolean(4))).toSeq
    assert(got == Seq((0L, 4, 2, 0.5, true), (1L, 2, 2, 0.0, false),
      (2L, 0, 0, 0.0, false)))
  }

  test("redactPii: email/phone counts and replacement; no-match passthrough") {
    val corpus = Seq(
      (0L, "Mail A.User+x@Sub.Example.COM or +4915123456789 now"),
      (1L, "no pii here"),
      (2L, "two a@b.co c@d.io mails +1234567 one phone"))
      .toDF("doc_id", "text")
    val got = TextOps.redactPii(corpus).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq
    assert(got == Seq(
      (0L, 1, 1, "mail <EMAIL> or <PHONE> now"),
      (1L, 0, 0, "no pii here"),
      (2L, 2, 1, "two <EMAIL> <EMAIL> mails <PHONE> one phone")))
  }

  test("parseDateGap: fixed-length units; calendar units fail loudly") {
    assert(Facets.parseDateGap("+1DAY") == 86400L)
    assert(Facets.parseDateGap("+2HOURS") == 7200L)
    assert(Facets.parseDateGap("+30MINUTE") == 1800L)
    assert(Facets.parseDateGap("+90SECONDS") == 90L)
    intercept[IllegalArgumentException](Facets.parseDateGap("+1MONTH"))
    intercept[IllegalArgumentException](Facets.parseDateGap("+1YEARS"))
    intercept[IllegalArgumentException](Facets.parseDateGap("1DAY"))
    intercept[IllegalArgumentException](Facets.parseDateGap("+0DAY"))
  }

  test("facetRangeDate: epoch buckets, driver ISO labels, zero spine") {
    // "bee" matches docs 0,1,2 at ts +0,+1,+2 s; gap +2SECONDS over
    // [epoch, epoch+4) → buckets at +0 (docs 0,1) and +2 (doc 2)
    val rows = IndexSearch.facetRangeDate(idx, Seq(1 -> "bee", 2 -> "zzz"),
      "ts", "2024-01-01T00:00:00Z", "2024-01-01T00:00:04Z", "+2SECONDS")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(rows == Set(
      (1, 1704067200L, "2024-01-01T00:00:00Z", 2L),
      (1, 1704067202L, "2024-01-01T00:00:02Z", 1L),
      (2, 1704067200L, "2024-01-01T00:00:00Z", 0L),
      (2, 1704067202L, "2024-01-01T00:00:02Z", 0L)))
  }
}
