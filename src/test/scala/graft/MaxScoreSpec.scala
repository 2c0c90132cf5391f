package graft

import graft.index.{BuildIndexJob, VarintCodec}
import graft.search.{BlockMaxWand, Bm25, IndexSearch, MaxScore}
import graft.search.BlockMaxWand.{BlockRef, TermPostings}
import graft.sources.Transcripts
import org.apache.spark.sql.catalyst.util.GenericArrayData
import scala.util.Random

class MaxScoreSpec extends SparkSpec {

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

  test("property: MaxScore top-k ≡ brute force on random corpora") {
    val rnd = new Random(1995) // Turtle & Flood vintage
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
      val got = MaxScore.topK(terms, k, nDocs, avgdl)
      val want = brute(terms, termData, k, nDocs, avgdl)
      assert(got.map(_._1) == want.map(_._1), s"trial $trial docs differ")
      got.zip(want).foreach { case ((_, gs), (_, ws)) =>
        assert(math.abs(gs - ws) < 1e-9, s"trial $trial score differs")
      }
    }
  }

  test("property: MaxScore ≡ WAND on the hot+selective shape it targets") {
    // one hot low-impact term (df ≈ nDocs, tf=1, long docs) + selective
    // terms — the essential-list partition should park the hot list
    val rnd = new Random(11)
    for (trial <- 0 until 30) {
      val nDocs = 200L + rnd.nextInt(400)
      val avgdl = 40.0
      val k = 1 + rnd.nextInt(10)
      val hot = (0L until nDocs).map(d => (d, 1, 80 + rnd.nextInt(40)))
      val selective = (0 until 1 + rnd.nextInt(3)).map { _ =>
        val df = 3 + rnd.nextInt(15)
        rnd.shuffle((0L until nDocs).toList).take(df).sorted
          .map(d => (d, 2 + rnd.nextInt(6), 10 + rnd.nextInt(20)))
      }
      val termData = hot +: selective
      val terms = termData.map(ps => mkTerm(ps, ps.size.toLong, 16, nDocs, avgdl))
      val ms = MaxScore.topK(terms, k, nDocs, avgdl)
      val wand = BlockMaxWand.topK(terms, k, nDocs, avgdl)
      assert(ms.map(_._1) == wand.map(_._1), s"trial $trial docs differ")
    }
  }

  test("property: rank-merged per-range MaxScore ≡ unbounded, with seeds") {
    val rnd = new Random(8)
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
      val whole = MaxScore.topK(terms, k, nDocs, avgdl)
      // a VALID seed: k-th largest single-term block max (k distinct docs
      // each reach their block max from that term alone) — same bound the
      // Spark path ships
      val perTerm = terms.flatMap { t =>
        val ms = t.blocks.map(_.maxScore).sorted(Ordering[Double].reverse)
        if (ms.length >= k) Some(ms(k - 1)) else None
      }
      val seed =
        if (perTerm.isEmpty) Double.NegativeInfinity else perTerm.max
      val rangeSize = 1L + rnd.nextInt(nDocs.toInt)
      val merged = (0L to (nDocs - 1) / rangeSize)
        .flatMap { rid =>
          MaxScore.topKRange(terms, k, nDocs, avgdl,
            rid * rangeSize, (rid + 1) * rangeSize, seed)
        }
        .sortBy { case (d, s) => (-BlockMaxWand.round(s, Bm25.RankScale), d) }
        .take(k)
      assert(merged.map(_._1) == whole.map(_._1),
        s"trial $trial rangeSize=$rangeSize docs differ")
    }
  }

  test("MaxScore handles ties, single term, k larger than matches, empty") {
    val nDocs = 100L; val avgdl = 10.0
    val tied = mkTerm((0L until 30L).map(d => (d, 2, 10)), 30L, 7, nDocs, avgdl)
    assert(MaxScore.topK(Seq(tied), 10, nDocs, avgdl).map(_._1) == (0L until 10L))
    val few = mkTerm(Seq((5L, 1, 10), (9L, 1, 10)), 2L, 4, nDocs, avgdl)
    assert(MaxScore.topK(Seq(few), 10, nDocs, avgdl).map(_._1) == Seq(5L, 9L))
    assert(MaxScore.topK(Seq.empty, 10, nDocs, avgdl).isEmpty)
  }

  test("searchMaxScore ≡ exhaustive index search on the synthetic corpus") {
    val root = java.nio.file.Files.createTempDirectory("graftms").toString
    BuildIndexJob.run(spark, Transcripts.synthetic(spark, 300), root, "ms1",
      BuildIndexJob.Config(numShards = 8, blockSize = 16, saltTarget = 64))
    TopKParity.check(IndexSearch.open(spark, root), IndexSearch.searchMaxScore(_, _, _, _, _))
  }
}
