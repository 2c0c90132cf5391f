package graft

import graft.index.BuildIndexJob
import graft.search.{BlockMaxWand, IndexSearch}
import org.apache.spark.sql.functions._

/** Exact phrase search over positional postings: adjacency semantics,
  * duplicate-term phrases, OOV self-elimination, and the single-term
  * degenerate case (≡ the plain term query). */
class PhraseSpec extends SparkSpec {
  import spark.implicits._

  def tmp(): String = java.nio.file.Files.createTempDirectory("graftphrase").toString

  /** Tiny hand-auditable corpus as one-turn transcripts. */
  lazy val idx: IndexSearch.OpenIndex = {
    val turns = Seq(
      // doc 0: "a b" twice, never "b a" (b is followed by c or ends)
      ("c0", 0, "user", "a b c a b", null.asInstanceOf[String], ts(0)),
      // doc 1: "b a" twice, never "a b" (a is followed by x or ends)
      ("c1", 0, "user", "b a x b a", null.asInstanceOf[String], ts(1)),
      // doc 2: "a a" (duplicate-term adjacency) and a lone c
      ("c2", 0, "user", "a a c", null.asInstanceOf[String], ts(2)),
      // doc 3: no a/b at all
      ("c3", 0, "user", "c c c d", null.asInstanceOf[String], ts(3)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val root = tmp()
    BuildIndexJob.run(spark, turns, root, "phrase",
      BuildIndexJob.Config(numShards = 4, blockSize = 2, storePositions = true))
    IndexSearch.open(spark, root)
  }

  def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * 1000L)

  def docsOf(res: org.apache.spark.sql.DataFrame, qid: Int): Seq[Long] =
    res.where(col("query_id") === qid).orderBy("rank")
      .select("doc_id").collect().map(_.getLong(0)).toSeq

  test("adjacency: 'a b' matches docs with consecutive a,b only") {
    val res = IndexSearch.searchPhrase(idx, Seq(1 -> "a b", 2 -> "b a", 3 -> "a a"))
    assert(docsOf(res, 1) == Seq(0L), "only doc 0 has adjacent 'a b'")
    assert(docsOf(res, 2) == Seq(1L), "only doc 1 has adjacent 'b a'")
    assert(docsOf(res, 3) == Seq(2L), "duplicate-term phrase 'a a'")
  }

  test("OOV term in the phrase matches nothing") {
    val res = IndexSearch.searchPhrase(idx, Seq(1 -> "a zzzmissing"))
    assert(res.count() == 0)
  }

  test("single-term phrase ranks exactly like the plain term query") {
    val phrase = IndexSearch.searchPhrase(idx, Seq(1 -> "c"))
      .orderBy("rank").collect().toSeq
    val term = IndexSearch.search(idx, Seq(1 -> "c"))
      .orderBy("rank").collect().toSeq
    assert(phrase == term)
    assert(phrase.nonEmpty)
  }

  test("slop: ordered window matches gapped terms, never reversed ones") {
    // doc 0: a..b gap 1 ("a x b"); doc 1: b then a (reversed); doc 2: a..b gap 3
    val turns = Seq(
      ("c0", 0, "user", "a x b", null.asInstanceOf[String], ts(0)),
      ("c1", 0, "user", "b c c a", null.asInstanceOf[String], ts(1)),
      ("c2", 0, "user", "a x x x b", null.asInstanceOf[String], ts(2)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val root = tmp()
    BuildIndexJob.run(spark, turns, root, "slop",
      BuildIndexJob.Config(numShards = 4, blockSize = 2, storePositions = true))
    val i = IndexSearch.open(spark, root)
    assert(docsOf(IndexSearch.searchPhrase(i, Seq(1 -> "a b"), slop = 0), 1)
      == Seq.empty, "slop 0: no adjacent 'a b' anywhere")
    assert(docsOf(IndexSearch.searchPhrase(i, Seq(1 -> "a b"), slop = 1), 1)
      == Seq(0L), "slop 1 reaches across one gap only")
    assert(docsOf(IndexSearch.searchPhrase(i, Seq(1 -> "a b"), slop = 3), 1)
      == Seq(0L, 2L), "slop 3 reaches the wider gap")
    // in-order-only (the pinned divergence from Lucene's transpositions):
    // doc 1's reversed "b ... a" never matches "a b" at any slop
    assert(!docsOf(IndexSearch.searchPhrase(i, Seq(1 -> "a b"), slop = 9), 1)
      .contains(1L))
  }

  test("property: searchPhrase ≡ brute force on random corpora (slop 0 and 2)") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e")
    for (trial <- 0 until 3) {
      val docs: Seq[Seq[String]] = (0 until 20).map { _ =>
        Seq.fill(8 + rnd.nextInt(13))(vocab(rnd.nextInt(vocab.size)))
      }
      val turns = docs.zipWithIndex.map { case (toks, i) =>
        (f"c$i%03d", 0, "user", toks.mkString(" "),
          null.asInstanceOf[String], ts(i))
      }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      val root = tmp()
      BuildIndexJob.run(spark, turns, root, s"prop$trial",
        BuildIndexJob.Config(numShards = 4, blockSize = 4, storePositions = true))
      val idx = IndexSearch.open(spark, root)
      // collection stats the engine uses
      val n = docs.size.toLong
      val avgdl = docs.map(_.size).sum.toDouble / n
      def df(t: String) = docs.count(_.contains(t)).toLong
      def brutePf(toks: Seq[String], phrase: Seq[String], slop: Int): Int = {
        val pos = toks.zipWithIndex
        def chain(slot: Int, prev: Int, p1: Int): Boolean =
          if (slot == phrase.size) true
          else pos.exists { case (t, p) =>
            t == phrase(slot) && p > prev && p <= p1 + slot + slop &&
              chain(slot + 1, p, p1)
          }
        pos.count { case (t, p) => t == phrase.head && chain(1, p, p) }
      }
      val phrases = Seq(
        Seq(vocab(rnd.nextInt(5))),
        Seq(vocab(rnd.nextInt(5)), vocab(rnd.nextInt(5))),
        Seq(vocab(rnd.nextInt(5)), vocab(rnd.nextInt(5)), vocab(rnd.nextInt(5))),
        Seq("a", "a"))
      for (slop <- Seq(0, 2); (phrase, qi) <- phrases.zipWithIndex) {
        val idfSum = phrase.map(t =>
          math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))).sum
        val want = docs.zipWithIndex
          .map { case (toks, d) => (d.toLong, brutePf(toks, phrase, slop), toks.size) }
          .filter(_._2 > 0)
          .map { case (d, pf, dl) =>
            (d, idfSum * pf / (pf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
          }
          .sortBy { case (d, s) => (-BlockMaxWand.round(s, 7), d) }
          .take(10)
          .map { case (d, s) => (d, BlockMaxWand.round(s, 4)) }
        val got = IndexSearch
          .searchPhrase(idx, Seq(1 -> phrase.mkString(" ")), k = 10, slop = slop)
          .orderBy("rank").collect()
          .map(r => (r.getLong(2), r.getDouble(3))).toSeq
        assert(got == want,
          s"trial $trial phrase=$phrase slop=$slop: got $got want $want")
      }
    }
  }

  test("hot+rare phrase decodes strictly fewer positional bytes than the naive term blocks") {
    // hot term in every doc, rare term in 2 docs — the round-3 scale
    // killer: the old m-way join decoded the hot term's ENTIRE positional
    // stream; the block-pruned plan must touch only blocks containing a
    // candidate (i.e. hot∩rare) doc
    val turns = (0 until 200).map { i =>
      val rare = if (i == 7 || i == 131) "hot rare tail" else "hot filler tail"
      (f"c$i%03d", 0, "user", s"lead $rare x$i", null.asInstanceOf[String], ts(i))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val root = tmp()
    BuildIndexJob.run(spark, turns, root, "hotrare",
      BuildIndexJob.Config(numShards = 4, blockSize = 16, storePositions = true))
    val idx = IndexSearch.open(spark, root)
    val res = IndexSearch.searchPhrase(idx, Seq(1 -> "hot rare"))
    assert(docsOf(res, 1).size == 2, "both planted docs must match")
    val planned = IndexSearch.phrasePlanned(idx, Seq(1 -> "hot rare")).get
    try {
      val prunedBytes = planned.fatBlocks
        .agg(sum(length(col("poss")))).head().getLong(0)
      val naiveBytes = spark.read.parquet(s"$root/postings")
        .where(col("term").isin("hot", "rare"))
        .agg(sum(length(col("poss")))).head().getLong(0)
      assert(prunedBytes < naiveBytes,
        s"block prune decoded no fewer positional bytes: $prunedBytes vs $naiveBytes")
      // stronger: strictly less than the hot term's own full stream —
      // the prune must beat even a rare-term-only saving
      val hotBytes = spark.read.parquet(s"$root/postings")
        .where(col("term") === "hot")
        .agg(sum(length(col("poss")))).head().getLong(0)
      assert(prunedBytes < hotBytes,
        s"pruned $prunedBytes ≥ hot term's full stream $hotBytes")
    } finally planned.unpersistAll()
  }

  test("a warm searchPhrase plans from the resident dictionary: fewer Spark jobs than a dictionary probe") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    val q = Seq(1 -> "a b", 2 -> "b a", 3 -> "a zzzoov")
    IndexSearch.searchPhrase(idx, q) // cold: resolves the relations, loads the resident dictionary
    org.apache.spark.graftshim.TestShims.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    val got = try {
      val r = IndexSearch.searchPhrase(idx, q)
      org.apache.spark.graftshim.TestShims.waitUntilListenerBusEmpty(sc)
      r
    } finally sc.removeSparkListener(listener)
    assert(docsOf(got, 1) == Seq(0L) && docsOf(got, 2) == Seq(1L) && docsOf(got, 3).isEmpty)
    // planned from a dictionary probe (a Spark job per batch), the same
    // warm call ran 19 jobs
    assert(jobs.get() < 19, s"warm searchPhrase ran ${jobs.get()} jobs")
  }

  /** Independent re-derivation of the pinned luceneSlop semantics from raw
    * token lists (the engine computes it from decoded postings through
    * [[graft.search.SloppyFreqExpr]]). */
  def bruteSloppy(toks: Seq[String], phrase: Seq[String], slop: Int): Double = {
    val lists: Array[List[Long]] = phrase.zipWithIndex.map { case (t, i) =>
      toks.zipWithIndex.collect { case (tok, p) if tok == t => p.toLong - i }.toList
    }.toArray
    if (lists.exists(_.isEmpty)) return 0.0
    var cur = lists.map(_.head)
    var rest = lists.map(_.tail)
    var f = 0.0
    var going = true
    while (going) {
      val mx = cur.max
      val mn = cur.min
      // a configuration counts only when no two slots consume the SAME
      // token occurrence (raw position = pp + slot index) — mirrors the
      // engine's repeat-collision rejection
      val raws = cur.zipWithIndex.map { case (p, i) => p + i }
      if (mx - mn <= slop && raws.distinct.length == raws.length)
        f += 1.0 / (1 + (mx - mn))
      val mnI = cur.indexOf(mn) // ties advance the lowest slot
      rest(mnI) match {
        case h :: t => cur(mnI) = h; rest(mnI) = t
        case Nil    => going = false
      }
    }
    f
  }

  test("luceneSlop: transpositions match with reciprocal-distance freq") {
    val turns = Seq(
      ("c0", 0, "user", "a b x x x", null.asInstanceOf[String], ts(0)), // exact
      ("c1", 0, "user", "b a x x x", null.asInstanceOf[String], ts(1)), // transposed
      ("c2", 0, "user", "b x a x x", null.asInstanceOf[String], ts(2))) // transposed, gapped
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val root = tmp()
    BuildIndexJob.run(spark, turns, root, "transp",
      BuildIndexJob.Config(numShards = 4, blockSize = 2, storePositions = true))
    val i = IndexSearch.open(spark, root)
    def hits(slop: Int) =
      docsOf(IndexSearch.searchPhrase(i, Seq(1 -> "a b"), slop = slop,
        luceneSlop = true), 1).toSet
    assert(hits(0) == Set(0L), "slop 0: only exact adjacency")
    assert(hits(1) == Set(0L), "slop 1: a transposition costs 2")
    assert(hits(2) == Set(0L, 1L), "slop 2 admits the adjacent transposition")
    assert(hits(3) == Set(0L, 1L, 2L), "slop 3 admits the gapped transposition")
    // in-order mode must keep rejecting the transpositions (pinned default)
    assert(docsOf(IndexSearch.searchPhrase(i, Seq(1 -> "a b"), slop = 9), 1)
      == Seq(0L))
  }

  test("property: luceneSlop ≡ brute-force sweep on random corpora (slop 0, 2, 4)") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("a", "b", "c", "d", "e")
    for (trial <- 0 until 2) {
      val docs: Seq[Seq[String]] = (0 until 20).map { _ =>
        Seq.fill(8 + rnd.nextInt(13))(vocab(rnd.nextInt(vocab.size)))
      }
      val turns = docs.zipWithIndex.map { case (toks, i) =>
        (f"c$i%03d", 0, "user", toks.mkString(" "),
          null.asInstanceOf[String], ts(i))
      }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      val root = tmp()
      BuildIndexJob.run(spark, turns, root, s"sloppy$trial",
        BuildIndexJob.Config(numShards = 4, blockSize = 4, storePositions = true))
      val idx = IndexSearch.open(spark, root)
      val n = docs.size.toLong
      val avgdl = docs.map(_.size).sum.toDouble / n
      def df(t: String) = docs.count(_.contains(t)).toLong
      val phrases = Seq(
        Seq(vocab(rnd.nextInt(5)), vocab(rnd.nextInt(5))),
        Seq(vocab(rnd.nextInt(5)), vocab(rnd.nextInt(5)), vocab(rnd.nextInt(5))),
        Seq("a", "a"))
      for (slop <- Seq(0, 2, 4); phrase <- phrases) {
        val idfSum = phrase.map(t =>
          math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))).sum
        val want = docs.zipWithIndex
          .map { case (toks, d) => (d.toLong, bruteSloppy(toks, phrase, slop), toks.size) }
          .filter(_._2 > 0)
          .map { case (d, f, dl) =>
            (d, idfSum * f / (f + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
          }
          .sortBy { case (d, s) => (-BlockMaxWand.round(s, 7), d) }
          .take(10)
          .map { case (d, s) => (d, BlockMaxWand.round(s, 4)) }
        val got = IndexSearch
          .searchPhrase(idx, Seq(1 -> phrase.mkString(" ")), k = 10,
            slop = slop, luceneSlop = true)
          .orderBy("rank").collect()
          .map(r => (r.getLong(2), r.getDouble(3))).toSeq
        assert(got == want,
          s"trial $trial phrase=$phrase slop=$slop: got $got want $want")
      }
    }
  }

  test("phrase frequency saturates scoring: 2 occurrences outrank 1 at equal dl") {
    // doc 0 has pf('a b')=2; craft a sibling with pf=1 and identical dl
    val turns = Seq(
      ("c0", 0, "user", "a b c a b a x b", null.asInstanceOf[String], ts(0)),
      ("c1", 0, "user", "a b c c c c c c", null.asInstanceOf[String], ts(1)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val root = tmp()
    BuildIndexJob.run(spark, turns, root, "pf",
      BuildIndexJob.Config(numShards = 4, blockSize = 2, storePositions = true))
    val res = IndexSearch.searchPhrase(IndexSearch.open(spark, root), Seq(1 -> "a b"))
      .orderBy("rank").collect()
    assert(res.map(_.getLong(2)).toSeq == Seq(0L, 1L))
    assert(res(0).getDouble(3) > res(1).getDouble(3))
  }
}
