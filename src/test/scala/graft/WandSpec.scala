package graft

import graft.index.{BuildIndexJob, VarintCodec}
import graft.search.{BlockMaxWand, Bm25, IndexSearch}
import graft.search.BlockMaxWand.{BlockRef, TermPostings}
import graft.sources.Transcripts
import org.apache.spark.sql.catalyst.util.GenericArrayData
import scala.util.Random

class WandSpec extends SparkSpec {

  // ---------- pure-core properties vs brute force ----------

  def mkTerm(postings: Seq[(Long, Int, Int)], df: Long, blockSize: Int,
             nDocs: Long, avgdl: Double): TermPostings = {
    val sorted = postings.sortBy(_._1)
    val blocks = sorted.grouped(blockSize).map { chunk =>
      BlockRef(chunk.head._1, chunk.last._1,
        chunk.map(p => Bm25.score(p._2, p._3, df, nDocs, avgdl)).max,
        VarintCodec.encodeDelta(new GenericArrayData(chunk.map(_._1).toArray)),
        VarintCodec.encode(new GenericArrayData(chunk.map(_._2.toLong).toArray)),
        VarintCodec.encode(new GenericArrayData(chunk.map(_._3.toLong).toArray)))
    }.toArray
    TermPostings(df, blocks)
  }

  def brute(terms: Seq[TermPostings], decodedTerms: Seq[Seq[(Long, Int, Int)]],
            k: Int, nDocs: Long, avgdl: Double): Seq[(Long, Double)] = {
    val scores = scala.collection.mutable.Map.empty[Long, Double]
    terms.zip(decodedTerms).foreach { case (t, ps) =>
      ps.foreach { case (d, tf, dl) =>
        scores(d) = scores.getOrElse(d, 0.0) + Bm25.score(tf, dl, t.df, nDocs, avgdl)
      }
    }
    scores.toSeq
      .sortBy { case (d, s) => (-BlockMaxWand.round(s, Bm25.RankScale), d) }
      .take(k)
  }

  test("property: WAND top-k ≡ brute force on random corpora") {
    val rnd = new Random(42)
    for (trial <- 0 until 60) {
      val nDocs = 50L + rnd.nextInt(400)
      val avgdl = 20.0 + rnd.nextInt(50)
      val nTerms = 1 + rnd.nextInt(5)
      val k = 1 + rnd.nextInt(12)
      val blockSize = 1 + rnd.nextInt(9)
      val termData = (0 until nTerms).map { _ =>
        val df = 1 + rnd.nextInt(nDocs.toInt)
        val docs = rnd.shuffle((0L until nDocs).toList).take(df).sorted
        docs.map(d => (d, 1 + rnd.nextInt(8), 5 + rnd.nextInt(100)))
      }
      val terms = termData.map(ps => mkTerm(ps, ps.size.toLong, blockSize, nDocs, avgdl))
      val got = BlockMaxWand.topK(terms, k, nDocs, avgdl)
      val want = brute(terms, termData, k, nDocs, avgdl)
      assert(got.map(_._1) == want.map(_._1), s"trial $trial docs differ")
      got.zip(want).foreach { case ((_, gs), (_, ws)) =>
        assert(math.abs(gs - ws) < 1e-9, s"trial $trial score differs")
      }
    }
  }

  test("WAND handles ties, skewed terms, k larger than matches") {
    val nDocs = 100L; val avgdl = 10.0
    // all docs identical → full tie, expect doc_id ascending
    val tied = mkTerm((0L until 30L).map(d => (d, 2, 10)), 30L, 7, nDocs, avgdl)
    val got = BlockMaxWand.topK(Seq(tied), 10, nDocs, avgdl)
    assert(got.map(_._1) == (0L until 10L))
    // k > matches returns all matches
    val few = mkTerm(Seq((5L, 1, 10), (9L, 1, 10)), 2L, 4, nDocs, avgdl)
    assert(BlockMaxWand.topK(Seq(few), 10, nDocs, avgdl).map(_._1) == Seq(5L, 9L))
    // empty terms
    assert(BlockMaxWand.topK(Seq.empty, 10, nDocs, avgdl).isEmpty)
  }

  test("property: rank-merged per-range topKRange ≡ unbounded topK") {
    val rnd = new Random(7)
    for (trial <- 0 until 40) {
      val nDocs = 50L + rnd.nextInt(400)
      val avgdl = 20.0 + rnd.nextInt(50)
      val k = 1 + rnd.nextInt(12)
      val blockSize = 1 + rnd.nextInt(9)
      val termData = (0 until 1 + rnd.nextInt(5)).map { _ =>
        val df = 1 + rnd.nextInt(nDocs.toInt)
        val docs = rnd.shuffle((0L until nDocs).toList).take(df).sorted
        docs.map(d => (d, 1 + rnd.nextInt(8), 5 + rnd.nextInt(100)))
      }
      val terms = termData.map(ps => mkTerm(ps, ps.size.toLong, blockSize, nDocs, avgdl))
      val whole = BlockMaxWand.topK(terms, k, nDocs, avgdl)
      // split [0, nDocs) into ranges deliberately misaligned with blocks
      val rangeSize = 1L + rnd.nextInt(nDocs.toInt)
      val merged = (0L to (nDocs - 1) / rangeSize)
        .flatMap { rid =>
          BlockMaxWand.topKRange(terms, k, nDocs, avgdl,
            rid * rangeSize, (rid + 1) * rangeSize)
        }
        .sortBy { case (d, s) => (-BlockMaxWand.round(s, Bm25.RankScale), d) }
        .take(k)
      assert(merged.map(_._1) == whole.map(_._1),
        s"trial $trial rangeSize=$rangeSize docs differ")
      merged.zip(whole).foreach { case ((_, ms), (_, ws)) =>
        assert(math.abs(ms - ws) < 1e-9, s"trial $trial score differs")
      }
    }
  }

  // ---------- Spark integration: WAND path ≡ exhaustive path ----------

  test("searchWand ≡ exhaustive index search on the synthetic corpus") {
    val root = java.nio.file.Files.createTempDirectory("graftwand").toString
    BuildIndexJob.run(spark, Transcripts.synthetic(spark, 300), root, "w1",
      BuildIndexJob.Config(numShards = 8, blockSize = 16, saltTarget = 64))
    TopKParity.check(IndexSearch.open(spark, root), IndexSearch.searchWand(_, _, _, _, _))
  }

  test("θ seed rides the dictionary probe: one Spark job inside wandBlocks") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = java.nio.file.Files.createTempDirectory("graftwseed").toString
    BuildIndexJob.run(spark, Transcripts.synthetic(spark, 300), root, "w3",
      BuildIndexJob.Config(numShards = 8, blockSize = 16, saltTarget = 64))
    val idx = IndexSearch.open(spark, root)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(idx.paths.blockmeta)),
      "fresh builds must carry blockmeta alongside the dictionary")
    val queries = Seq(1 -> "w1", 2 -> "w1 zzzrareone")
    // independent expectation straight from the persisted block metadata
    val byTerm = spark.read.parquet(s"$root/postings")
      .select("term", "block_max_score").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getDouble(1)).sorted(Ordering[Double].reverse)).toMap
    def expected(k: Int): Map[Int, Double] = queries.flatMap { case (qid, text) =>
      val kth = graft.analysis.Analyzer.tokenize(text).distinct
        .flatMap(t => byTerm.get(t).filter(_.length >= k).map(_(k - 1)))
      if (kth.isEmpty) None else Some(qid -> kth.max)
    }.toMap
    // k = 10 seeds from the resident dictionary's stored top maxes; k = 20
    // passes them (16 stored per term), so the range prune seeds from a
    // per-batch window job
    val (kStored, kWindow) = (10, 20)
    assert(kWindow > graft.index.PostingBlocks.TopBlockMaxes)
    assert(expected(kStored).nonEmpty && expected(kWindow).nonEmpty)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
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
      // warm both paths once (parquet footer/listing jobs are one-time)
      IndexSearch.wandBlocks(idx, queries, kStored, 64L, prune = true)
      IndexSearch.wandBlocks(idx, queries, kWindow, 64L, prune = true)
      val (seedsBm, jobsBm) = countJobs(
        IndexSearch.wandBlocks(idx, queries, kStored, 64L, prune = true).get._2)
      val (seedsWindow, jobsWindow) = countJobs(
        IndexSearch.wandBlocks(idx, queries, kWindow, 64L, prune = true).get._2)
      assert(seedsBm == expected(kStored),
        s"seeds $seedsBm != blockmeta-derived ${expected(kStored)}")
      assert(seedsWindow == expected(kWindow), "window-job seeds must agree")
      // k within the stored top maxes: the seed rides the resident
      // dictionary probe and wandBlocks runs no job; past them the seed
      // takes a per-batch window job
      assert(jobsBm == 0, s"stored-max seed path ran $jobsBm jobs")
      assert(jobsBm < jobsWindow,
        s"stored-max seed path ran $jobsBm jobs, window path $jobsWindow — must be fewer")
      // a warm single-query request: ONE job collects its blocks, the
      // driver ranks them, and the returned local frame collects jobless
      IndexSearch.searchWand(idx, Seq(1 -> "w1 w3")).collect()
      val (frame, jobsOne) = countJobs(IndexSearch.searchWand(idx, Seq(1 -> "w1 w3")))
      assert(jobsOne == 1, s"warm single-query searchWand ran $jobsOne jobs")
      val (rows, jobsCollect) = countJobs(frame.collect())
      assert(jobsCollect == 0 && rows.nonEmpty, s"collect ran $jobsCollect jobs")
      val (oov, jobsOov) = countJobs(IndexSearch.searchWand(idx, Seq(1 -> "qqqnotthere")).collect())
      assert(oov.isEmpty && jobsOov == 0, s"all-OOV request ran $jobsOov jobs")
      // over the bound (summed df > docsPerRange): the range-parallel path
      val (_, jobsRange) = countJobs(IndexSearch.searchWand(idx,
        Seq(6 -> "w1 w2 w3 w4 w5"), docsPerRange = idx.stats.nDocs).collect())
      assert(jobsRange > 1, s"over-bound request ran $jobsRange jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("θ-seed range prune ships fewer blocks on hot and hot+rare queries") {
    val root = java.nio.file.Files.createTempDirectory("graftwprune").toString
    BuildIndexJob.run(spark, Transcripts.synthetic(spark, 300), root, "w2",
      BuildIndexJob.Config(numShards = 8, blockSize = 16, saltTarget = 64))
    val idx = IndexSearch.open(spark, root)
    val queries = Seq(1 -> "w1", 2 -> "w1 zzzrareone")
    val rs = 64L
    val Some((pruned, seeds, _)) =
      IndexSearch.wandBlocks(idx, queries, 10, rs, prune = true)
    val Some((unpruned, _, _)) =
      IndexSearch.wandBlocks(idx, queries, 10, rs, prune = false)
    val (np, nu) = (pruned.count(), unpruned.count())
    assert(seeds.nonEmpty, "hot term has > k blocks — a θ seed must exist")
    assert(np < nu, s"range prune shipped no fewer blocks: $np vs $nu")
    // and the pruned multi-range answer is still exactly the exhaustive one
    val exh = IndexSearch.search(idx, queries, k = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val wand = IndexSearch.searchWand(idx, queries, k = 10, docsPerRange = rs)
      .orderBy("query_id", "rank").collect().toSeq
    assert(wand == exh)
  }
}
