package graft

import graft.index.{BuildIndexJob, IndexMerge, SegmentedIndex}
import graft.ops.{Dedup, TextOps}
import graft.search.{BlockJoin, Facets, IndexSearch, Search}
import org.apache.spark.sql.functions._

/** The second round-5 surface batch — JSON Facet API, block join, bq,
  * /export, TermVectors, atomic update, deleteByQuery, pf2/pf3,
  * connected components, stratified sampling — each checked against
  * brute/hand-computed twins on a corpus small enough to verify by eye
  * (the SolrComponentsSpec fixture). */
class RequestSurfaceSpec extends SparkSpec {
  import spark.implicits._

  def tmp(): String = java.nio.file.Files.createTempDirectory("graftrs").toString
  def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * 1000L)

  // dense doc ids by (conv_id, turn_idx): c0/0→0, c0/1→1, c1/0→2,
  // c1/1→3, c2/0→4, c2/1→5
  lazy val turns = Seq(
    ("c0", 0, "user", "apple ant bee", null.asInstanceOf[String], ts(0)),
    ("c0", 1, "assistant", "ant bee cat", "t1", ts(1)),
    ("c1", 0, "user", "bee cat dog", null.asInstanceOf[String], ts(2)),
    ("c1", 1, "assistant", "cat dog emu", "t1", ts(3)),
    ("c2", 0, "user", "emu fox goat", "t2", ts(4)),
    ("c2", 1, "assistant", "apple emu fox", null.asInstanceOf[String], ts(5)))
    .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")

  lazy val idx: IndexSearch.OpenIndex = {
    val root = tmp()
    BuildIndexJob.run(spark, turns, root, "rs",
      BuildIndexJob.Config(numShards = 4, storePositions = true))
    IndexSearch.open(spark, root)
  }

  val metrics = Seq(Facets.MetricSum("sum_dl", "dl"),
    Facets.MetricAvg("avg_dl", "dl"), Facets.MetricUnique("uniq_tool", "tool"))

  test("facetJson: buckets, metrics, child nesting vs hand computation") {
    // "bee cat" matches docs 0,1,2,3: user {0,2} (tools null,null),
    // assistant {1,3} (tools t1,t1); all dl = 3
    val out = IndexSearch.facetJson(idx, Seq(1 -> "bee cat"), "role", "tool",
      10, 10, metrics).collect()
    val parents = out.filter(_.isNullAt(2))
      .map(r => (r.getString(1), r.getInt(3), r.getLong(4), r.getLong(5),
        r.getDouble(6), r.getLong(7)))
    // count tie (2 = 2) → value ASC: assistant rank 1, user rank 2
    assert(parents.toSet == Set(
      ("assistant", 1, 2L, 6L, 3.0, 1L),
      ("user", 2, 2L, 6L, 3.0, 0L)))
    val children = out.filterNot(_.isNullAt(2))
      .map(r => (r.getString(1), r.getString(2), r.getInt(3), r.getLong(4)))
    // NULL tools contribute no child bucket; metrics NULL on child rows
    assert(children.toSet == Set(("assistant", "t1", 1, 2L)))
    assert(out.filterNot(_.isNullAt(2)).forall(r =>
      r.isNullAt(5) && r.isNullAt(6) && r.isNullAt(7)))
  }

  test("facetJson: parent limit gates child emission") {
    val out = IndexSearch.facetJson(idx, Seq(1 -> "bee cat"), "role", "tool",
      1, 10, metrics).collect()
    // only rank-1 parent (assistant) survives, with its child
    assert(out.filter(_.isNullAt(2)).map(_.getString(1)).toSeq == Seq("assistant"))
    assert(out.filterNot(_.isNullAt(2)).map(r =>
      (r.getString(1), r.getString(2))).toSeq == Seq(("assistant", "t1")))
  }

  test("blockJoin: total/max/avg vs hand-built scored frame") {
    val scored = Seq((1, 0L, 1.0), (1, 1L, 2.0), (1, 2L, 5.0))
      .toDF("query_id", "doc_id", "_score")
    val attrs = Seq((0L, "c0"), (1L, "c0"), (2L, "c1"))
      .toDF("doc_id", "conv_id")
    def got(m: BlockJoin.ScoreMode) =
      BlockJoin.parents(scored, attrs, "conv_id", m, 10).collect()
        .map(r => (r.getInt(1), r.getString(2), r.getLong(3), r.getDouble(4)))
        .toSeq
    assert(got(BlockJoin.Total) == Seq((1, "c1", 1L, 5.0), (2, "c0", 2L, 3.0)))
    assert(got(BlockJoin.Max) == Seq((1, "c1", 1L, 5.0), (2, "c0", 2L, 2.0)))
    assert(got(BlockJoin.Avg) == Seq((1, "c1", 1L, 5.0), (2, "c0", 2L, 1.5)))
  }

  test("blockJoin over the index ≡ aggregating the search scores") {
    val q = Seq(1 -> "bee cat emu")
    val perDoc = IndexSearch.search(idx, q, k = 10).collect()
      .map(r => (r.getLong(2), r.getDouble(3)))
    val expect = perDoc.groupBy { case (d, _) => s"c${d / 2}" }
      .map { case (c, xs) => (c, xs.map(_._2).sum, xs.size.toLong) }
    val got = IndexSearch.searchParents(idx, q, BlockJoin.Total, k = 10)
      .collect().map(r => (r.getString(2), r.getDouble(4), r.getLong(3)))
    assert(got.length == expect.size)
    got.foreach { case (c, s, n) =>
      val (_, es, en) = expect.find(_._1 == c).map(e => (e._1, e._2, e._3)).get
      assert(n == en && math.abs(s - es) < 2e-4, s"conv $c: $s vs $es")
    }
  }

  test("bq: additive boost, match set unchanged") {
    val q = Seq(1 -> "bee")
    val base = IndexSearch.search(idx, q, k = 10).collect()
      .map(r => r.getLong(2) -> r.getDouble(3)).toMap
    // single-term query 'emu' ⇒ its reported score IS BM25(emu, doc)
    val emu = IndexSearch.search(idx, Seq(1 -> "emu"), k = 10).collect()
      .map(r => r.getLong(2) -> r.getDouble(3)).toMap
    val got = IndexSearch.searchBoostQuery(idx, q, "emu^2", k = 10).collect()
      .map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(got.keySet == base.keySet, "bq must not extend the match set")
    got.foreach { case (d, s) =>
      val want = base(d) + 2.0 * emu.getOrElse(d, 0.0)
      assert(math.abs(s - want) < 2e-4, s"doc $d: $s vs $want")
    }
    // docs matching ONLY bq never surface: emu-only docs (4, 5) absent
    assert(!got.keySet.exists(Set(4L, 5L)))
  }

  test("export: full match set in sort order with contiguous positions") {
    val out = IndexSearch.exportSorted(idx, Seq(1 -> "bee"),
      Seq(col("dl").asc), Seq("role", "dl")).collect()
    // bee ∈ docs 0, 1, 2 — ALL of them, no top-k; dl tie → doc_id ASC
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 1L, 2L))
    assert(out.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
  }

  test("termVectors: re-analysis twin with dictionary df") {
    val out = IndexSearch.termVectors(idx, Seq(("c0", 0), ("zz", 9)))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getInt(3), r.getInt(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      ("c0", 0, "ant", 1, 1, 2L),
      ("c0", 0, "apple", 1, 0, 2L),
      ("c0", 0, "bee", 1, 2, 3L)))
  }

  test("atomicSet: RTG sees the new values, scores unchanged") {
    val out = tmp()
    IndexMerge.atomicSet(spark, idx.paths.root,
      Seq(("c0", 0) -> Map("tool" -> "tx"), ("c1", 1) -> Map("role" -> "bot")),
      out, "atomic-rs", BuildIndexJob.Config(numShards = 4, storePositions = true))
    val updated = IndexSearch.open(spark, out)
    val got = IndexSearch.getDocs(updated, Seq(("c0", 0), ("c1", 1), ("c2", 0)))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("c0", 0, "user", "tx", 3L),
      ("c1", 1, "bot", "t1", 3L),
      ("c2", 0, "user", "t2", 3L)))
    // text untouched ⇒ every ranked answer identical to the old index
    val q = Seq(1 -> "bee cat", 2 -> "emu")
    assert(IndexSearch.search(updated, q).collect().toSeq ==
      IndexSearch.search(idx, q).collect().toSeq)
  }

  test("deleteByQuery: segmented answers ≡ rebuild on the survivors") {
    val root = tmp()
    val cfg = BuildIndexJob.Config(numShards = 4)
    val noDel = Seq.empty[(String, Int)].toDF("conv_id", "turn_idx")
    SegmentedIndex.append(spark, root, turns.where(col("conv_id") =!= "c2"),
      noDel, "s0", cfg)
    SegmentedIndex.append(spark, root, turns.where(col("conv_id") === "c2"),
      noDel, "s1", cfg)
    SegmentedIndex.deleteByQuery(spark, root, "bee", "dbq", cfg)
    val q = Seq(1 -> "cat dog", 2 -> "apple", 3 -> "bee")
    val got = IndexSearch.search(SegmentedIndex.open(spark, root, cfg), q).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getInt(3),
        r.getDouble(4))).toSeq
    // rebuild over docs NOT containing 'bee' (docs 3, 4, 5)
    val rebuiltRoot = tmp()
    BuildIndexJob.run(spark,
      turns.where(!col("text").contains("bee")), rebuiltRoot, "rb", cfg)
    val rb = IndexSearch.open(spark, rebuiltRoot)
    val keymap = rb.io.read(spark, rb.paths.docs)
      .select("doc_id", "conv_id", "turn_idx").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val want = IndexSearch.search(rb, q).collect().map { r =>
      val (c, t) = keymap(r.getLong(2))
      (r.getInt(0), r.getInt(1), c, t, r.getDouble(3))
    }.toSeq
    assert(got == want)
  }

  test("pfnRewrite: shingles, dedupe, degenerate sizes") {
    assert(Search.pfnRewrite(Seq(1 -> "a b c"), Seq(2, 3)) ==
      Seq(1 -> """a b c "a b" "b c" "a b c""""))
    // single-token query gains nothing
    assert(Search.pfnRewrite(Seq(1 -> "solo"), Seq(2, 3)) == Seq(1 -> "solo"))
    // repeated bigram appears once in the rewrite string's parse
    val parsed = Search.parseClauses(
      Search.pfnRewrite(Seq(1 -> "a b a b"), Seq(2)).head._2)
    assert(parsed.shouldPhrases.count(_ == Seq("a", "b")) == 1)
  }

  test("components ≡ brute union-find on random graphs; chain needs iterations") {
    val rnd = new scala.util.Random(42)
    val pairs = (0 until 40).map { _ =>
      val a = rnd.nextInt(25).toLong; val b = rnd.nextInt(25).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val got = Dedup.components(pairs.toDF("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val want = verts.map(v => v -> find(v)).toMap
    assert(got == want)
    // a 6-long chain exercises multi-round propagation
    val chain = (0L to 5L).sliding(2).map(s => (s(0), s(1))).toSeq
    val gotChain = Dedup.components(chain.toDF("doc_a", "doc_b")).collect()
    assert(gotChain.forall(_.getLong(1) == 0L) && gotChain.length == 6)
  }

  test("facetRangeOther: numeric buckets plus before/after/between, zero-filled") {
    // match set of "bee cat emu": docs 0..5 (every doc), all dl = 3
    val out = IndexSearch.facetRangeOther(idx, Seq(1 -> "bee cat emu"),
      "dl", 2L, 6L, 2L).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out == Map("2" -> 6L, "4" -> 0L,
      "before" -> 0L, "after" -> 0L, "between" -> 6L))
    // values straddling the window: start=4 puts every dl=3 doc in 'before'
    val below = IndexSearch.facetRangeOther(idx, Seq(1 -> "bee"),
      "dl", 4L, 8L, 2L).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(below == Map("4" -> 0L, "6" -> 0L,
      "before" -> 3L, "after" -> 0L, "between" -> 0L))
  }

  test("segmented block join ≡ unified on the same corpus") {
    val root = tmp()
    val cfg = BuildIndexJob.Config(numShards = 4)
    val noDel = Seq.empty[(String, Int)].toDF("conv_id", "turn_idx")
    SegmentedIndex.append(spark, root, turns.where(col("conv_id") =!= "c2"),
      noDel, "s0", cfg)
    SegmentedIndex.append(spark, root, turns.where(col("conv_id") === "c2"),
      noDel, "s1", cfg)
    val q = Seq(1 -> "bee cat emu", 2 -> "apple")
    val got = IndexSearch.searchParents(SegmentedIndex.open(spark, root, cfg), q,
      BlockJoin.Total, k = 10).collect().toSeq
    val want = IndexSearch.searchParents(idx, q, BlockJoin.Total, k = 10)
      .collect().toSeq
    assert(got.map(r => (r.getInt(0), r.getInt(1), r.getString(2),
      r.getLong(3), r.getDouble(4))) ==
      want.map(r => (r.getInt(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getDouble(4))))
  }

  test("segmented facetJson + block join under tombstones ≡ unified rebuild") {
    val root = tmp()
    val cfg = BuildIndexJob.Config(numShards = 4)
    val noDel = Seq.empty[(String, Int)].toDF("conv_id", "turn_idx")
    SegmentedIndex.append(spark, root, turns.where(col("conv_id") =!= "c2"),
      noDel, "s0", cfg)
    SegmentedIndex.append(spark, root, turns.where(col("conv_id") === "c2"),
      noDel, "s1", cfg)
    // kill c0/1 ("ant bee cat", the only assistant+t1 doc of c0)
    SegmentedIndex.append(spark, root,
      Seq.empty[(String, Int, String, String, String, java.sql.Timestamp)]
        .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts"),
      Seq(("c0", 1)).toDF("conv_id", "turn_idx"), "t0", cfg)
    val live = turns.where(!(col("conv_id") === "c0" && col("turn_idx") === 1))
    val rebuiltRoot = tmp()
    BuildIndexJob.run(spark, live, rebuiltRoot, "rb2", cfg)
    val rb = IndexSearch.open(spark, rebuiltRoot)
    val q = Seq(1 -> "bee cat", 2 -> "emu")
    val segJson = IndexSearch.facetJson(SegmentedIndex.open(spark, root, cfg), q,
      "role", "tool", 10, 10, metrics).collect().map(_.toSeq).toSeq
    val uniJson = IndexSearch.facetJson(rb, q, "role", "tool",
      10, 10, metrics).collect().map(_.toSeq).toSeq
    assert(segJson == uniJson)
    val segPar = IndexSearch.searchParents(SegmentedIndex.open(spark, root, cfg), q,
      BlockJoin.Total, 10).collect().map(_.toSeq).toSeq
    val uniPar = IndexSearch.searchParents(rb, q, BlockJoin.Total, 10)
      .collect().map(_.toSeq).toSeq
    assert(segPar == uniPar)
  }

  test("stratifiedSample: deterministic, rate-monotone, boundary rates") {
    val docs = (0L until 500L).map(i =>
      (i, if (i % 2 == 0) "en" else "zh")).toDF("doc_id", "lang")
    def ids(rates: Map[String, Int], dflt: Int) =
      TextOps.stratifiedSample(docs, "lang", rates, dflt)
        .collect().map(_.getLong(0)).toSet
    val a = ids(Map("en" -> 300), 600)
    assert(a == ids(Map("en" -> 300), 600), "deterministic")
    // rate 1000 keeps the whole stratum, 0 keeps none
    val full = ids(Map("en" -> 1000, "zh" -> 0), 0)
    assert(full == (0L until 500L by 2).toSet)
    // consistency: raising a rate only ADDS docs
    assert(a.subsetOf(ids(Map("en" -> 700), 600)))
  }

  test("temperatureSample: α=1 proportional, rarest whole, rate-monotone") {
    // 400 en / 80 zh / 20 fi — deliberately skewed strata
    val docs = (0L until 500L).map { i =>
      (i, if (i < 400) "en" else if (i < 480) "zh" else "fi")
    }.toDF("doc_id", "lang")
    def run(alpha: Double) =
      TextOps.temperatureSample(docs, "lang", alpha).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    // α = 1 is proportional sampling: every stratum keeps rate 1000
    val prop = run(1.0)
    assert(prop.length == 500 && prop.forall(_._3 == 1000))
    val t = run(0.5)
    assert(t.toSeq == run(0.5).toSeq, "deterministic")
    val rates = t.map(r => (r._2, r._3)).toMap
    // the rarest stratum is kept whole; rates fall as counts rise
    assert(rates("fi") == 1000)
    assert(rates("zh") > rates("en"))
    // exact closed form: rate = ⌊1000·(c_min/c)^(1−α)⌋
    assert(rates("en") == math.floor(1000.0 * math.pow(20.0 / 400, 0.5) + 1e-9).toInt)
    // lower α flattens harder: en's keep-rate shrinks monotonically
    assert(run(0.3).map(r => (r._2, r._3)).toMap.apply("en") < rates("en"))
  }
}
