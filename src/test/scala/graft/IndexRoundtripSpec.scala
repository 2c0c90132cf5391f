package graft

import graft.index.BuildIndexJob
import graft.search.{IndexSearch, Search}
import graft.sources.Transcripts
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.util.Comparator

class IndexRoundtripSpec extends SparkSpec {

  val queries = Seq(
    1 -> "w1 w3 w17",
    2 -> "zzzrareone",
    3 -> "w1",
    4 -> "w2 zzzmissing",
    5 -> "w5 w50 w500")

  def tmpDir(): String = Files.createTempDirectory("graftidx").toString

  def rmrf(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
  }

  lazy val corpusTranscripts = Transcripts.synthetic(spark, 300)

  test("persisted-index search ≡ direct corpus search (disjunctive + conjunctive)") {
    val root = tmpDir()
    try {
      BuildIndexJob.run(spark, corpusTranscripts, root, "b1",
        BuildIndexJob.Config(numShards = 8, blockSize = 16))
      val idx = IndexSearch.open(spark, root)
      val corpus = spark.read.parquet(s"$root/docs").select("doc_id", "text")
      for (conj <- Seq(false, true)) {
        val direct = Search.searchCorpus(corpus, queries, k = 10, conjunctive = conj)
          .orderBy("query_id", "rank").collect().toSeq
        val viaIndex = IndexSearch.search(idx, queries, k = 10, conjunctive = conj)
          .orderBy("query_id", "rank").collect().toSeq
        assert(viaIndex == direct, s"conjunctive=$conj")
        assert(direct.nonEmpty)
      }
    } finally rmrf(root)
  }

  test("unknown-terms-only query returns empty over the index") {
    val root = tmpDir()
    try {
      BuildIndexJob.run(spark, Transcripts.synthetic(spark, 30), root, "b2",
        BuildIndexJob.Config(numShards = 4, blockSize = 8))
      val idx = IndexSearch.open(spark, root)
      assert(IndexSearch.search(idx, Seq(1 -> "qqqnotthere")).count() == 0)
    } finally rmrf(root)
  }

  test("postings scan prunes to query-term shards") {
    val root = tmpDir()
    try {
      BuildIndexJob.run(spark, corpusTranscripts, root, "b3",
        BuildIndexJob.Config(numShards = 8, blockSize = 16))
      val idx = IndexSearch.open(spark, root)
      val plan = IndexSearch.search(idx, Seq(1 -> "w1"))
        .queryExecution.executedPlan.toString
      // the single term hashes to one shard; the file scan must carry a
      // partition filter on `shard`
      assert(plan.contains("PartitionFilters") && plan.contains("shard"),
        s"no partition pruning in plan:\n$plan")
    } finally rmrf(root)
  }

  test("resume: completed stages are skipped; rerun output identical") {
    val root = tmpDir()
    try {
      val t = Transcripts.synthetic(spark, 100)
      val cfg = BuildIndexJob.Config(numShards = 4, blockSize = 8)
      BuildIndexJob.run(spark, t, root, "b4", cfg)
      val before = IndexSearch.search(IndexSearch.open(spark, root), queries)
        .orderBy("query_id", "rank").collect().toSeq
      val lineageRuns1 = spark.read.parquet(s"$root/lineage")
        .select("stage").distinct().count()

      // full rerun: all markers present → nothing executes, lineage stable
      BuildIndexJob.run(spark, t, root, "b4", cfg)
      val lineageRuns2 = spark.read.parquet(s"$root/lineage").count()
      val lineageRows1 = lineageRuns2 // after no-op rerun
      BuildIndexJob.run(spark, t, root, "b4", cfg)
      assert(spark.read.parquet(s"$root/lineage").count() == lineageRows1,
        "no-op rerun must not append lineage")
      assert(lineageRuns1 == 4)

      def stageRows: Map[String, Long] = spark.read.parquet(s"$root/lineage")
        .groupBy("stage").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val rowsBefore = stageRows

      // simulate mid-job failure: postings artifact + marker lost
      rmrf(s"$root/postings")
      Files.delete(Paths.get(s"$root/_stage_done/postings"))
      BuildIndexJob.run(spark, t, root, "b4", cfg)
      val after = IndexSearch.search(IndexSearch.open(spark, root), queries)
        .orderBy("query_id", "rank").collect().toSeq
      assert(after == before)
      // only the postings stage re-ran: its lineage rows doubled, others flat
      val rowsAfter = stageRows
      assert(rowsAfter("postings") == 2 * rowsBefore("postings"))
      assert(rowsAfter("docs") == rowsBefore("docs"))
      assert(rowsAfter("tf") == rowsBefore("tf"))
    } finally rmrf(root)
  }

  test("manifests written for every artifact") {
    val root = tmpDir()
    try {
      BuildIndexJob.run(spark, Transcripts.synthetic(spark, 30), root, "b5",
        BuildIndexJob.Config(numShards = 4))
      Seq("docs", "tfdl", "dictionary", "stats", "postings").foreach { a =>
        val m = Paths.get(s"$root/$a/_manifest.json")
        assert(Files.exists(m), s"missing manifest for $a")
        val txt = Files.readString(m)
        assert(txt.contains("\"snapshot_id\": \"b5\""))
      }
    } finally rmrf(root)
  }

  test("alias search (exact global stats) ≡ one unified index over the union") {
    val roots = Seq(tmpDir(), tmpDir())
    val rootU = tmpDir()
    try {
      val t = Transcripts.synthetic(spark, 200)
      val parts = Seq(
        t.where(pmod(xxhash64(col("conv_id")), lit(2)) === 0),
        t.where(pmod(xxhash64(col("conv_id")), lit(2)) === 1))
      roots.zip(parts).zipWithIndex.foreach { case ((r, p), i) =>
        BuildIndexJob.run(spark, p, r, s"al$i",
          BuildIndexJob.Config(numShards = 4))
      }
      BuildIndexJob.run(spark, t, rootU, "alu",
        BuildIndexJob.Config(numShards = 4))
      val idxU = IndexSearch.open(spark, rootU)
      val want = IndexSearch.search(idxU, queries, 10)
        .join(spark.read.parquet(s"$rootU/docs")
          .select("doc_id", "conv_id", "turn_idx"), "doc_id")
        .select("query_id", "rank", "conv_id", "turn_idx", "score")
        .orderBy("query_id", "rank").collect().toSeq
      val got = IndexSearch.searchAlias(roots.map(IndexSearch.open(spark, _)), queries, 10)
        .select("query_id", "rank", "conv_id", "turn_idx", "score")
        .orderBy("query_id", "rank").collect().toSeq
      assert(got == want && got.nonEmpty)
    } finally (roots :+ rootU).foreach(rmrf)
  }

  test("index-sorted buckets: early-terminated top-k ≡ full sort; prefix walk") {
    import graft.index.SortedDocs
    val root = tmpDir()
    try {
      val t = Transcripts.synthetic(spark, 200)
      SortedDocs.write(spark, t, root, numBuckets = 8)
      def want(pred: Option[org.apache.spark.sql.Column], k: Int) = {
        val base = pred.fold(t)(t.where)
        base.orderBy(col("ts").asc, col("conv_id").asc, col("turn_idx").asc)
          .limit(k)
          .select(col("conv_id"), col("turn_idx"), col("role"),
            col("ts").cast("long").as("ts_sec"))
          .collect().toSeq
      }
      def got(pred: Option[org.apache.spark.sql.Column], k: Int) =
        SortedDocs.topK(spark, root, k, pred).orderBy("rank")
          .select("conv_id", "turn_idx", "role", "ts_sec").collect().toSeq
      // unfiltered: ≡ full sort AND only the first range bucket is read
      assert(got(None, 20) == want(None, 20))
      assert(SortedDocs.selectBuckets(spark, root, 20) == Seq(0))
      // filtered: ≡ filter+sort+limit; the walk is an ascending PREFIX
      val p = Some(col("role") === "tool")
      assert(got(p, 40) == want(p, 40) && got(p, 40).size == 40)
      val walked = SortedDocs.selectBuckets(spark, root, 40, p)
      assert(walked == (0 until walked.size) && walked.size < 8)
      // impossible predicate: walks everything, returns nothing
      val none = Some(col("role") === "nosuch")
      assert(SortedDocs.selectBuckets(spark, root, 1, none).size == 8)
      assert(got(none, 1).isEmpty)
      // k beyond the corpus: every row, still rank-contiguous
      val total = t.count().toInt
      val all = SortedDocs.topK(spark, root, total + 50).collect()
      assert(all.length == total &&
        all.map(_.getInt(0)).toSeq == (1 to total))
      intercept[IllegalArgumentException](SortedDocs.topK(spark, root, 0))
    } finally rmrf(root)
  }

  test("time-routed alias: metadata pruning + fq window ≡ per-slice search") {
    val roots = Seq(tmpDir(), tmpDir())
    try {
      val t = Transcripts.synthetic(spark, 120)
      // disjoint time slices: conv < 60 (early) vs >= 60 (late); synthetic
      // ts = epoch + c*3600 + t*30, so the slice boundary is a ts boundary
      val parts = Seq(
        t.where(col("conv_id") < "conv00000060"),
        t.where(col("conv_id") >= "conv00000060"))
      roots.zip(parts).zipWithIndex.foreach { case ((r, p), i) =>
        BuildIndexJob.run(spark, p, r, s"tra$i",
          BuildIndexJob.Config(numShards = 4))
      }
      val lateMin = parts(1).agg(min(col("ts").cast("long")))
        .collect()(0).getLong(0)
      // routing: a window starting at the late slice's first ts prunes
      // the early collection by metadata alone
      val idxs = roots.map(IndexSearch.open(spark, _))
      assert(IndexSearch.routeCollections(idxs, Some(lateMin), None)
        .map(_.paths.root) == Seq(roots(1)))
      assert(IndexSearch.routeCollections(idxs,
        Some(lateMin), Some(lateMin - 1)).isEmpty) // inverted → nothing
      // fq a no-op at the slice boundary → ≡ the single-collection alias
      val got = IndexSearch.searchAliasTimeRouted(idxs, queries,
        Some(lateMin), None).collect().toSeq
      val want = IndexSearch.searchAlias(Seq(idxs(1)), queries)
        .collect().toSeq
      assert(got == want && got.nonEmpty)
      // window past every collection → empty, keys-shaped
      assert(IndexSearch.searchAliasTimeRouted(idxs, queries,
        Some(Long.MaxValue), None).count() == 0)
      intercept[IllegalArgumentException](IndexSearch.searchAliasTimeRouted(
        idxs, queries, None, None))
    } finally roots.foreach(rmrf)
  }

  test("CheckIndex: healthy build reports ok with exact recounts") {
    val root = tmpDir()
    try {
      val turns = Transcripts.synthetic(spark, 120)
      BuildIndexJob.run(spark, turns, root, "fsck",
        BuildIndexJob.Config(numShards = 4, blockSize = 8))
      val idx = IndexSearch.open(spark, root)
      val rows = graft.index.CheckIndex.run(idx).collect()
      assert(rows.length == 1)
      val r = rows.head
      // independent ground truth from the raw text
      val toks = spark.read.parquet(s"$root/docs")
        .select(col("doc_id"), explode(graft.analysis.Analyzer.tokens(col("text"))).as("term"))
      val nTerms = toks.select("term").distinct().count()
      val totalDf = toks.select("term", "doc_id").distinct().count()
      val totalCf = toks.count()
      val nDocs = spark.read.parquet(s"$root/docs").count()
      assert(r.getAs[Long]("n_terms") == nTerms)
      assert(r.getAs[Long]("total_df") == totalDf)
      assert(r.getAs[Long]("total_cf") == totalCf)
      assert(r.getAs[Long]("postings_df") == totalDf)
      assert(r.getAs[Long]("postings_cf") == totalCf)
      assert(r.getAs[Long]("n_docs") == nDocs)
      assert(r.getAs[Long]("max_doc") == nDocs - 1)
      for (f <- Seq("postings_match", "docs_dense", "norms_match", "stats_ok", "ok"))
        assert(r.getAs[Boolean](f), f)
    } finally rmrf(root)
  }
}
