package perfbench

import graft.analysis.Analyzer
import graft.index.SegmentedIndex
import graft.search.{BlockMaxWand, Bm25}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `ingest_live`: one writer appends seeded batches (new conversations,
  * upserts, deletes) to a segmented index and applies a tiered merge
  * policy after each append, while two readers issue single-query
  * requests against it. */
object IngestLive {

  /** A writer operation: an append of batch `b` or a tieredCompact. */
  final case class WriteOp(kind: String, b: Int, startUs: Long, endUs: Long,
                           bytesBefore: Long, bytesAfter: Long,
                           error: Option[Throwable]) {
    def s: Double = (endUs - startUs) / 1e6
  }

  /** Merge policy: two segments of one size tier merge. With tiers 16×
    * apart the base (≈3.4 k turns) and a batch (≈425 turns) share a tier,
    * so every timed section holds one append and one merge. */
  final val SegsPerTier = 2
  final val TierFactor = 16.0

  /** Reader threads beside the one writer. */
  final val Readers = 2

  /** Run `body` with the calling thread's jobs in fair-scheduler pool `name`. */
  private def inPool[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", name)
    try body finally sc.setLocalProperty("spark.scheduler.pool", null)
  }

  def run(ctx: Ctx, res: Result, sessionS: Double): Unit = {
    import ctx.{opts, spark}
    val pool = Inputs.queryPool(opts.seed, opts.pool)
    val base = Inputs.turns(opts.seed, Inputs.convRange(spark, 0, opts.baseConvs))
    if (ctx.traced) Layers.corpusGen(ctx, base, res)

    // set-up: generate the base turns, append them as the first segment
    // (cold), warm up a read
    val root = s"${opts.work}/live"
    val t0 = System.nanoTime()
    ctx.group("build")(ctx.span("build", "index")(
      SegmentedIndex.append(spark, root, base, noDeletes(spark), "seg0", ctx.cfg())))
    val buildS = Stat.secsSince(t0)
    SegmentedIndex.searchWand(spark, root, pool.take(1), cfg = ctx.cfg()).collect()
    val setupS = sessionS + Stat.secsSince(t0)
    Log(f"set-up done: base append $buildS%.2f s, set-up $setupS%.2f s")
    val setupBytes = Disk.bytes(root)

    // the writer starts operations until the deadline; the readers read
    // until the writer's last operation has finished. Writer and readers
    // submit to separate fair-scheduler pools, as a serving deployment
    // would, so a read's small jobs take turns with an append's stages
    // instead of queueing behind them.
    def window(tag: String): (Vector[WriteOp], Vector[(Req, Option[Int])]) = {
      val traced = ctx.tracer.recording
      val io = if (traced) ctx.io else graft.sources.ParquetTableIO
      val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val threads = java.util.concurrent.Executors.newFixedThreadPool(1 + Readers)
      try {
        val writer = threads.submit { () =>
          val deadline = System.nanoTime() + (opts.seconds * 1e9).toLong
          val ops = Vector.newBuilder[WriteOp]
          var b = 0
          try inPool(spark, "write")(while (System.nanoTime() < deadline) {
            b += 1
            val (batch, dels) = Inputs.ingestBatch(spark, opts.seed, opts.baseConvs, opts.batchConvs, b)
            ops += write(ctx, root, "append", b, traced)(ctx.group(s"$tag-append-$b")(
              ctx.span("ingest.append", "index")(
                SegmentedIndex.append(spark, root, batch, dels, s"seg$b", ctx.cfg(io)))))
            // the merge policy runs after every append, as part of the same
            // writer operation
            ops += write(ctx, root, "compact", b, traced)(ctx.group(s"$tag-compact-$b")(
              ctx.span("ingest.compact", "index")(
                SegmentedIndex.tieredCompact(spark, root, segsPerTier = SegsPerTier,
                  tierFactor = TierFactor, cfg = ctx.cfg(io)))))
          }) finally writerDone.set(true)
          ops.result()
        }
        val readers = (0 until Readers).map { c =>
          threads.submit { () =>
            val stream = Inputs.requestStream(opts.seed, 100 + c, pool.size, 1 << 16)
            inPool(spark, "read")(Req.closedLoop(!writerDone.get()) { i =>
              // segment count seen by this read (traced only); the manifest
              // read is itself an engine call that can fail beside a commit
              val segs =
                if (!traced) Some(0)
                else scala.util.Try(SegmentedIndex.readManifest(spark, root).fold(0)(_.segments.size)).toOption
              val (qid, text) = pool(stream(i))
              Req.time(ctx, s"$tag-r$c-$i", Seq(qid), "search")(
                SegmentedIndex.searchWand(spark, root, Seq((qid, text)), cfg = ctx.cfg(io)))(
                Answers.convTurn) -> segs
            })
          }
        }
        (writer.get(), readers.flatMap(_.get()).toVector)
      } finally threads.shutdown()
    }

    Layers.tracing(ctx, on = false)
    val w0 = Clock.nowUs
    // a traced run measures a traced window in place of the untraced one: a
    // writer operation takes 20–40 s, and bracketing the traced window with
    // untraced ones would take the run past its time limit
    val (writes, reads) =
      if (!ctx.traced) window("w0")
      else {
        val b0 = Disk.bytes(root)
        val out @ (tw, _) = Layers.tracedWindow(ctx, res)(window("w1"))
        val appendedText = textBytes(tw.filter(o => o.kind == "append" && o.error.isEmpty)
          .map(o => batchOf(spark, opts, o.b)._1))
        res.put("ingest.write_amp", Stat.ratio(Disk.bytes(root) - b0, appendedText), "B/B")
        out
      }

    Log("timed section done")
    // the final live index answers the whole pool, checked against the
    // live turns modelled from the inputs (a failed append is counted as
    // failed and left out of the model)
    val committed = writes.filter(o => o.kind == "append" && o.error.isEmpty).map(_.b).sorted
    val finalReq = Req.time(ctx, "check-live", pool.map(_._1), "check")(
      SegmentedIndex.searchWand(spark, root, pool, cfg = ctx.cfg(graft.sources.ParquetTableIO)))(
      Answers.convTurn)
    Log(f"live index answered the pool in ${finalReq.ms}%.0f ms")
    val expected = ctx.group("check")(reference(spark, opts, committed, pool))
    val checked = if (opts.corruptFirstAnswer) Answers.corrupt(finalReq) else finalReq
    val poolFailures =
      if (!checked.ok) pool.size.toLong
      else pool.count { case (q, _) => checked.answers.getOrElse(q, Nil) != expected.getOrElse(q, Nil) }.toLong
    // a read also fails when its manifest read (traced runs) threw
    res.attempted += writes.size + reads.size + pool.size
    res.failed += writes.count(_.error.nonEmpty) + reads.count(r => !r._1.ok || r._2.isEmpty) +
      poolFailures

    Log(s"answers checked: ${res.failed} of ${res.attempted} failed; ${reads.size} timed requests")
    if (!ctx.traced) {
      val ok = reads.map(_._1).filter(_.ok)
      val readerWall = (if (reads.isEmpty) 0L else reads.map(_._1.endUs).max - w0) / 1e6
      res.put("setup_s", setupS, "s")
      res.put("index_turns_per_s", Stat.ratio(base.count().toDouble, buildS), "1/s")
      res.put("commit_p50_s",
        Stat.pct(writes.filter(o => o.kind == "append" && o.error.isEmpty).map(_.s), 0.5), "s")
      res.put("index_bytes_per_text_byte", Stat.ratio(setupBytes, textBytes(Seq(base))), "B/B")
      res.put("query_p50_ms", Stat.pct(ok.map(_.ms), 0.5), "ms")
      res.put("query_tail_ms", Stat.tail(ok.map(_.ms)), "ms")
      res.put("qps", Stat.ratio(ok.size, readerWall), "1/s")
    } else {
      val tOk = reads.filter(_._1.ok)
      Layers.search(ctx, res, tOk.map(_._1))
      Layers.build(ctx, res, "build", SegmentedIndex.segPath(root, "seg0"),
        base.count().toDouble)
      val jobs = ctx.jobs.get
      val appends = writes.filter(_.kind == "append")
      val compacts = writes.filter(_.kind == "compact")
      val okAppends = appends.filter(_.error.isEmpty)
      res.put("ingest.turns_per_s", Stat.ratio(
        okAppends.map(o => batchOf(spark, opts, o.b)._1.count()).sum,
        writes.map(_.s).sum), "1/s")
      res.put("ingest.append_jobs", Stat.ratio(
        jobs.jobsOf(g => g.contains("-append-")).size, appends.size), "count")
      res.put("ingest.compact_s", Stat.mean(compacts.map(_.s)), "s")
      res.put("ingest.compact_bytes_rewritten",
        compacts.map(o => o.bytesAfter - o.bytesBefore).sum.toDouble, "B")
      res.put("ingest.segments_per_read", Stat.mean(tOk.flatMap(_._2).map(_.toDouble)), "count")
      res.put("live_query.jobs_per_call", Stat.ratio(
        jobs.jobsOf(g => g.startsWith("w1-r")).size, tOk.size), "count")
      val during = tOk.map(_._1).filter(r =>
        compacts.exists(c => r.startUs < c.endUs && r.endUs > c.startUs))
      res.put("live_query.during_compact_p50_ms", Stat.pct(during.map(_.ms), 0.5), "ms")
      res.put("search.batch_qps", 0, "1/s")
      res.put("query.samples", tOk.size, "count")
      res.put("trace.overhead_frac", 0, "ratio") // not measured: see the traced window above
    }
    Disk.delete(root)
  }

  private def write(ctx: Ctx, root: String, kind: String, b: Int, traced: Boolean)(
      body: => Any): WriteOp = {
    val before = if (traced) Disk.bytes(root) else 0L
    val t0 = Clock.nowUs
    val err = try { body; None } catch {
      case e: Exception => Log.failure(s"$kind-$b", e); Some(e)
    }
    val t1 = Clock.nowUs
    WriteOp(kind, b, t0, t1, before, if (traced) Disk.bytes(root) else 0L, err)
  }

  private def noDeletes(spark: SparkSession): DataFrame =
    spark.range(0).select(lit("").as("conv_id"), lit(0).as("turn_idx"))

  private def batchOf(spark: SparkSession, opts: Opts, b: Int): (DataFrame, DataFrame) =
    Inputs.ingestBatch(spark, opts.seed, opts.baseConvs, opts.batchConvs, b)

  private def textBytes(dfs: Seq[DataFrame]): Double =
    dfs.map(_.agg(sum(octet_length(col("text")))).head())
      .map(r => if (r.isNullAt(0)) 0L else r.getLong(0)).sum.toDouble

  /** Expected top-10 per pool query over the live turns the committed
    * batches leave, modelled from the inputs alone and scored in plain
    * Scala on the driver (BM25 with the engine's per-term formula, rank
    * order and output rounding). */
  private def reference(spark: SparkSession, opts: Opts, committed: Seq[Int],
                        pool: Seq[(Int, String)]): Map[Int, Answers.Answer] = {
    val cols = Seq("conv_id", "turn_idx", "text")
    val base = Inputs.turns(opts.seed, Inputs.convRange(spark, 0, opts.baseConvs))
    val events = (base.select(cols.map(col): _*).withColumn("ord", lit(0)) +:
      committed.flatMap { b =>
        val (batch, dels) = batchOf(spark, opts, b)
        Seq(batch.select(cols.map(col): _*).withColumn("ord", lit(b)),
          dels.select(col("conv_id"), col("turn_idx"), lit(null).cast("string").as("text"),
            lit(b).as("ord")))
      }).reduce(_ unionByName _)
    val latest = Window.partitionBy("conv_id", "turn_idx").orderBy(col("ord").desc)
    val live = events.withColumn("_n", row_number().over(latest))
      .where(col("_n") === 1 && col("text").isNotNull)
      .select(cols.map(col): _*).collect()
      .map(r => ((r.getString(0), r.getInt(1)), Analyzer.tokenize(r.getString(2))))
      .filter(_._2.nonEmpty).sortBy(_._1)
    ReferenceBm25.topK(live.map { case ((c, t), toks) => (s"$c/$t", toks) }, pool, 10)
  }
}

/** Exhaustive BM25 top-k over an in-memory corpus, docs given in doc-id
  * order: the benchmark's own reference for answers of the live index. */
object ReferenceBm25 {
  def topK(docs: Seq[(String, Seq[String])], queries: Seq[(Int, String)],
           k: Int): Map[Int, Answers.Answer] = {
    val nDocs = docs.size.toLong
    val avgdl = docs.map(_._2.size.toLong).sum.toDouble / nDocs
    val postings: Map[String, Seq[(Int, Int)]] = docs.zipWithIndex.flatMap { case ((_, toks), d) =>
      toks.groupBy(identity).map { case (t, occ) => (t, (d, occ.size)) }
    }.groupMap(_._1)(_._2)
    queries.map { case (qid, text) =>
      val scores = scala.collection.mutable.HashMap.empty[Int, Double]
      for (t <- Analyzer.tokenize(text).distinct; ps <- postings.get(t); (d, tf) <- ps)
        scores(d) = scores.getOrElse(d, 0.0) +
          Bm25.score(tf, docs(d)._2.size, ps.size.toLong, nDocs, avgdl)
      qid -> scores.toSeq
        .sortBy { case (d, s) => (-BlockMaxWand.round(s, Bm25.RankScale), d) }
        .take(k).zipWithIndex
        .map { case ((d, s), i) => (i + 1, docs(d)._1, BlockMaxWand.round(s, Bm25.OutScale)) }
    }.filter(_._2.nonEmpty).toMap
  }
}
