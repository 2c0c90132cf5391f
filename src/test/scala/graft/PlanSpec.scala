package graft

import graft.analysis.Analyzer
import graft.index.{BuildIndexJob, IndexBuild}
import graft.search.IndexSearch
import graft.sources.Transcripts
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the optimizations SURVEY.md §4.1 relies on
  * must actually appear in executed plans, not just in intent. */
class PlanSpec extends SparkSpec {

  lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("graftplan").toString
    BuildIndexJob.run(spark, Transcripts.synthetic(spark, 100), r, "plan",
      BuildIndexJob.Config(numShards = 8, blockSize = 16))
    r
  }

  test("ingest filter pushes down to the parquet scan") {
    val docs = spark.read.parquet(s"$root/docs")
    val plan = IndexBuild.ingest(docs.select("conv_id", "turn_idx", "text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(text)"),
      s"text non-null predicate not pushed:\n$plan")
  }

  test("column pruning: scoring scan reads only the needed columns") {
    val docs = spark.read.parquet(s"$root/docs")
    val plan = docs.select(col("doc_id"), Analyzer.docLen(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && !plan.contains("conv_id"),
      s"unneeded columns not pruned:\n$plan")
  }

  test("codec expressions run inside whole-stage codegen") {
    val idx = IndexSearch.open(spark, root)
    val df = IndexSearch.search(idx, Seq(1 -> "w1 w2"))
    df.collect() // finalize the adaptive plan — codegen spans only show then
    val plan = df.queryExecution.executedPlan.toString
    // simpleString marks WholeStageCodegen stages with "*(n)" prefixes
    assert(plan.contains("*("), s"no codegen spans:\n$plan")
    val decodeLine = plan.linesIterator
      .find(_.contains("varintdeltadecode")).getOrElse("")
    assert(decodeLine.contains("*("),
      s"varint decode not inside a codegen span: $decodeLine")
  }

  test("global sort+limit plans as TakeOrderedAndProject (W3 — no full sort)") {
    val docs = spark.read.parquet(s"$root/docs")
    val plan = docs.orderBy(col("dl").desc, col("doc_id").asc).limit(5)
      .select("doc_id", "dl").queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject:\n$plan")
  }

  test("query-term dictionary join broadcasts (no shuffle of postings)") {
    val idx = IndexSearch.open(spark, root)
    val plan = IndexSearch.search(idx, Seq(1 -> "w1"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  /** The result of `body` and the number of Spark jobs it submitted. */
  def countJobs[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.graftshim.TestShims.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.graftshim.TestShims.waitUntilListenerBusEmpty(sc)
      (r, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  /** The dictionary terms matching a SQL LIKE pattern, ascending. */
  def dictionaryLike(idx: IndexSearch.OpenIndex, like: String): Seq[String] =
    idx.dictionary.where(col("term").like(like)).select("term")
      .collect().map(_.getString(0)).toSeq.sorted

  test("prefix expansion probes the dictionary with a pushed StartsWith range") {
    val idx = IndexSearch.open(spark, root)
    // w12* stays under maxExpansions (w1* would match ~1,111 of the
    // w1..w5000 synthetic vocab and trip the TooManyClauses guard)
    val want = dictionaryLike(idx, "w12%")
    assert(want.nonEmpty)
    idx.resident // the resident dictionary loads once per open index
    // the prefix expands on the driver over the resident dictionary's
    // prefix range: exactly the dictionary's terms in it, no Spark job
    val (got, jobs) = countJobs(graft.search.MultiTerm.expandWildcards(idx, Seq("w12*"),
      IndexSearch.DefaultMaxExpansions))
    assert(got == Map("w12*" -> want), s"w12* expanded to $got")
    assert(jobs == 0, s"prefix expansion ran $jobs Spark jobs")
    // and the engine path built on it expands without error
    assert(IndexSearch.searchPrefix(idx, Seq(1 -> "w12*"), k = 5).count() > 0)
  }

  test("wildcard expansion pushes its literal prefix to the dictionary scan") {
    val idx = IndexSearch.open(spark, root)
    // w1?3 walks the resident dictionary from its literal prefix "w1" and
    // keeps the whole-term matches
    assert(graft.search.MultiTerm.literalPrefix("w1?3") == "w1")
    val want = dictionaryLike(idx, graft.search.MultiTerm.likePattern("w1?3"))
    assert(want.nonEmpty)
    idx.resident
    val (got, jobs) = countJobs(graft.search.MultiTerm.expandWildcards(idx, Seq("w1?3"),
      IndexSearch.DefaultMaxExpansions))
    assert(got == Map("w1?3" -> want), s"w1?3 expanded to $got")
    assert(jobs == 0, s"wildcard expansion ran $jobs Spark jobs")
    // single-char wildcard over the hot head (w1..w9) must rank results
    assert(graft.search.MultiTerm.searchWildcard(idx, Seq(1 -> "w?"), k = 5)
      .count() > 0)
  }

  test("a warm bulk search takes its shards from the resident dictionary: fewer Spark jobs than the dictionary join") {
    val idx = IndexSearch.open(spark, root)
    val q = Seq(1 -> "w1 w3", 2 -> "w7")
    def run() = IndexSearch.search(idx, q).collect()
    run() // warm: the resident dictionary and the postings relation load
    val (rows, jobs) = countJobs(run())
    assert(rows.nonEmpty)
    // the dictionary-join probe this replaces ran 8 jobs for this
    // call: a broadcast of the query terms joined with the dictionary and
    // a collect of their shards before the scan
    assert(jobs < 8, s"warm bulk search ran $jobs Spark jobs")
  }

  test("highlight's text lookup is a doc_id point lookup (pushed IN filter)") {
    val r = java.nio.file.Files.createTempDirectory("graftplanhl").toString
    BuildIndexJob.run(spark, Transcripts.synthetic(spark, 100), r, "plan-hl",
      BuildIndexJob.Config(numShards = 8, blockSize = 16, storePositions = true))
    val idx = IndexSearch.open(spark, r)
    val df = IndexSearch.searchHighlight(idx, Seq(1 -> "w1 w2"), k = 5)
    assert(df.count() > 0, "vacuous: no hits to highlight")
    val plan = df.queryExecution.executedPlan.toString
    // the docs/ text scan must carry the hit ids as a pushed In filter —
    // row-group pruning, not a corpus scan for ≤ queries×k snippets
    val docsScanPushed = plan.linesIterator
      .exists(l => l.contains("PushedFilters") && l.contains("In(doc_id"))
    assert(docsScanPushed, s"doc_id IN not pushed to the docs scan:\n$plan")
  }

  test("realtime get pushes the key disjunction to the docs scan") {
    val idx = IndexSearch.open(spark, root)
    val df = IndexSearch.getDocs(idx,
      Seq(("conv00000000", 0), ("conv00000001", 1)))
    assert(df.count() > 0, "vacuous: no keys found")
    val plan = df.queryExecution.executedPlan.toString
    // the Or-of-And key tree must reach the parquet scan — /get reads row
    // groups whose stats admit a requested key, never the corpus
    val pushed = plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("Or(") &&
        l.contains("EqualTo(conv_id"))
    assert(pushed, s"key disjunction not pushed to the docs scan:\n$plan")
  }

  test("MLT seed text read is a doc_id point lookup (pushed IN filter)") {
    val idx = IndexSearch.open(spark, root)
    val df = graft.search.MoreLikeThis.interestingTerms(idx,
      Seq(1 -> 0L, 2 -> 7L), maxQueryTerms = 5, minTf = 1, minDf = 1)
    assert(df.count() > 0, "vacuous: no interesting terms")
    val plan = df.queryExecution.executedPlan.toString
    val pushed = plan.linesIterator
      .exists(l => l.contains("PushedFilters") && l.contains("In(doc_id"))
    assert(pushed, s"seed doc_id IN not pushed to the docs scan:\n$plan")
  }

  test("{!join} prunes the docs relation to key columns (no text read)") {
    val idx = IndexSearch.open(spark, root)
    val df = graft.search.JoinQuery.join(idx, Seq(1 -> "w1"),
      "conv_id", "conv_id", k = 5)
    assert(df.count() > 0, "vacuous: no joined docs")
    val plan = df.queryExecution.executedPlan.toString
    val textRead = plan.linesIterator
      .exists(l => l.contains("ReadSchema") && l.contains("text"))
    assert(!textRead, s"join read the text column it never uses:\n$plan")
  }

  test("termVectors' docs read is a pushed key point lookup") {
    val idx = IndexSearch.open(spark, root)
    val df = IndexSearch.termVectors(idx,
      Seq(("conv00000000", 0), ("conv00000001", 1)))
    assert(df.count() > 0, "vacuous: no term vectors")
    val plan = df.queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("Or(") &&
        l.contains("EqualTo(conv_id"))
    assert(pushed, s"key disjunction not pushed to the docs scan:\n$plan")
  }

  test("/export prunes the attribute scan to fl + key columns (no text)") {
    val idx = IndexSearch.open(spark, root)
    val df = IndexSearch.exportSorted(idx, Seq(1 -> "w1"),
      Seq(col("dl").asc), Seq("role", "dl"))
    assert(df.count() > 0, "vacuous: empty export")
    val plan = df.queryExecution.executedPlan.toString
    val textRead = plan.linesIterator
      .exists(l => l.contains("ReadSchema") && l.contains("text"))
    assert(!textRead, s"/export read text outside its fl list:\n$plan")
  }

  test("chunking plans generate-only (no aggregate/join); scan pruned") {
    val docs = spark.read.parquet(s"$root/docs")
      .select(col("doc_id"), col("text"))
    // the only exchange allowed is the output-presentation sort; the
    // generator pipeline itself must contain no aggregate or join
    val df = graft.ops.TextOps.chunks(docs, 8, 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"),
      s"chunking should be generate-only:\n$plan")
    val readLine = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readLine.contains("conv_id") && !readLine.contains("role"),
      s"chunk scan reads more than doc_id+text: $readLine")
  }

  test("decontamination broadcasts the eval-set gram side") {
    val docs = spark.read.parquet(s"$root/docs").select("doc_id", "text")
    val df = graft.ops.TextOps.decontaminate(docs,
      docs.where(col("doc_id") % 97 === 0), 3)
    assert(df.where(col("contaminated")).count() > 0, "vacuous: no hits")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"eval grams not broadcast:\n$plan")
  }

  test("synonym expansion broadcasts the class tables; postings stay shard-pruned") {
    val idx = IndexSearch.open(spark, root)
    val df = graft.search.Synonyms.searchIndex(idx, Seq(1 -> "w1"),
      Seq(Seq("w1", "w2")))
    assert(df.count() > 0, "vacuous: no synonym hits")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"synonym class/df tables not broadcast:\n$plan")
    val pruned = plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("shard"))
    assert(pruned, s"posting scan not shard-pruned under synonyms:\n$plan")
  }

  test("semDedup pair work shuffles on label only — never a cartesian corpus join") {
    import spark.implicits._
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => ((i % 4 + 1) * (d + 1) + i * 0.01).toFloat)))
      .toDF("vec_id", "embedding")
    val df = graft.ops.Similarity.semDedup(emb, 4, 1, 0.9)
    df.collect() // finalize adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"within-cluster pairing must not be all-pairs:\n$plan")
    assert(plan.contains("hashpartitioning(label"),
      s"pair join not co-located on label:\n$plan")
  }

  test("hardNegatives rand_neg: bounded per-partition top-n feeds the window") {
    val idx = IndexSearch.open(spark, root)
    val queries = Seq(1 -> "w1", 2 -> "w2 w3")
    val heads = IndexSearch.search(idx, queries, 10)
    val qids = graft.search.Search.queryFrame(spark, queries).select("query_id")
    val rand = IndexSearch.randNegatives(idx, heads, qids, nRand = 5,
      permille = 600)
    rand.collect() // finalize adaptive plan
    val plan = rand.queryExecution.executedPlan.toString
    // the round-5 finding: every sampled candidate of a query funneled
    // through ONE window task. The fix interposes a per-partition bounded
    // top-n (typed mapPartitions) between the sampled stream and the
    // window, so the window input is ≤ partitions × queries × nRand rows.
    val winIdx = plan.indexOf("Window")
    val mapIdx = plan.indexOf("MapPartitions")
    assert(winIdx >= 0 && mapIdx >= 0,
      s"expected Window fed by MapPartitions:\n$plan")
    assert(mapIdx > winIdx, // physical plans print consumers above producers
      s"bounded top-n must sit BELOW the window (its input):\n$plan")
    // and the reduction preserves the exact global top-n per query: the
    // windowed result over partials equals the direct window over the
    // full sampled stream
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val h = conv(substring(md5(concat(col("query_id").cast("string"),
      lit(":"), col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val w = Window.partitionBy("query_id").orderBy(col("_h").asc, col("doc_id").asc)
    val brute = spark.read.parquet(s"$root/docs").select("doc_id")
      .crossJoin(broadcast(qids))
      .withColumn("_h", h)
      .where(col("_h") % 1000 < 600)
      .join(broadcast(heads.select("query_id", "doc_id")),
        Seq("query_id", "doc_id"), "left_anti")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select("query_id", "rank", "doc_id")
    assert(rand.select("query_id", "rank", "doc_id").orderBy("query_id", "rank")
      .collect().toSeq ==
      brute.orderBy("query_id", "rank").collect().toSeq,
      "two-phase rand_neg must equal the direct window result")
  }

  test("sftPairs is one window pass — no join anywhere in the plan") {
    import spark.implicits._
    val t = Seq(("c0", 0, "user", "a"), ("c0", 1, "assistant", "b"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val plan = graft.ops.TextOps.sftPairs(t)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"sftPairs must not self-join:\n$plan")
    assert(plan.contains("hashpartitioning(conv_id"),
      s"window not partitioned by conversation:\n$plan")
  }
}
