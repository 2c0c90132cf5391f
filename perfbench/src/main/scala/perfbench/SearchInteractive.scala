package perfbench

import graft.index.BuildIndexJob
import graft.search.IndexSearch
import org.apache.spark.sql.functions._

/** `search_interactive`: closed loop of single-query requests against a
  * bulk-built index. */
object SearchInteractive {

  def run(ctx: Ctx, res: Result, sessionS: Double): Unit = {
    import ctx.{opts, spark}
    val pool = Inputs.queryPool(opts.seed, opts.pool)
    val byId = pool.toMap
    val corpus = Inputs.turns(opts.seed, Inputs.convRange(spark, 0, opts.convs))
    if (ctx.traced) Layers.corpusGen(ctx, corpus, res)

    // set-up: build cold, as a build job pays it, then open; the index is
    // searchable once the opened index has answered its first query
    val root = s"${opts.work}/index"
    val t0 = System.nanoTime()
    ctx.group("build")(ctx.span("build", "index")(
      BuildIndexJob.run(spark, corpus, root, "base", ctx.cfg())))
    val buildS = Stat.secsSince(t0)
    val plainIdx = IndexSearch.open(spark, root)
    IndexSearch.searchWand(plainIdx, pool.take(1)).collect()
    val searchableS = Stat.secsSince(t0)

    def window(tag: String, idx: IndexSearch.OpenIndex, seconds: Double): Vector[Req] =
      Req.clients(math.min(Ctx.Clients, Runtime.getRuntime.availableProcessors)) { c =>
        val stream = Inputs.requestStream(opts.seed, c, pool.size, 1 << 16)
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        Req.closedLoop(System.nanoTime() < deadline) { i =>
          val (qid, text) = pool(stream(i))
          Req.time(ctx, s"$tag-c$c-$i", Seq(qid), "search")(
            IndexSearch.searchWand(idx, Seq((qid, text))))(Answers.docId)
        }
      }

    // a window of request traffic ends the set-up: latency falls steeply
    // over the first seconds of traffic while the JVM compiles the request
    // path, and a timed window that straddles that drop spreads widely
    Layers.tracing(ctx, on = false)
    val warm = window("warm", plainIdx, opts.seconds)
    val setupS = sessionS + Stat.secsSince(t0)
    Log(f"set-up done: build $buildS%.2f s, searchable $searchableS%.2f s, set-up $setupS%.2f s")

    val w0 = Clock.nowUs
    val untraced = window("q0", plainIdx, opts.seconds)
    // a traced run adds a traced window and a second untraced one; the
    // tracing overhead compares the traced window with the mean of the two
    // untraced ones, which cancels a steady drift of the JVM's speed
    val (traced, after) =
      if (!ctx.traced) (Vector.empty, Vector.empty)
      else (Layers.tracedWindow(ctx, res)(window("q1", IndexSearch.open(spark, root, ctx.io), opts.seconds)),
        window("q2", plainIdx, opts.seconds))

    Log("timed section done")
    // answers, checked outside the timed sections against exhaustive search
    val all = warm ++ untraced ++ traced ++ after
    val batches =
      if (!ctx.traced) Vector.empty
      else (1 to 2).map { b =>
        Req.time(ctx, s"batch-$b", pool.map(_._1), "search")(
          IndexSearch.searchWand(plainIdx, pool))(Answers.docId)
      }.toVector
    val asked = (all ++ batches).filter(_.ok).flatMap(_.qids).distinct.sorted
    val expected = ctx.group("check")(Answers.byQuery(
      IndexSearch.search(plainIdx, asked.map(q => (q, byId(q)))).collect().toSeq, Answers.docId))
    val checked = if (opts.corruptFirstAnswer && all.nonEmpty) Answers.corrupt(all.head) +: all.tail else all
    res.attempted += checked.size + batches.size
    res.failed += Answers.failures(checked ++ batches, expected)

    val ok = untraced.filter(_.ok)
    val wall = (if (untraced.isEmpty) 0L else untraced.map(_.endUs).max - w0) / 1e6
    val stats = ctx.group("check")(corpus.agg(count(lit(1)), sum(octet_length(col("text")))).head())
    val (turns, textBytes) = (stats.getLong(0).toDouble, stats.getLong(1).toDouble)
    Log(s"answers checked: ${res.failed} of ${res.attempted} failed; ${untraced.size} timed requests")
    if (!ctx.traced) {
      res.put("setup_s", setupS, "s")
      res.put("index_turns_per_s", Stat.ratio(turns, buildS), "1/s")
      res.put("commit_p50_s", searchableS, "s")
      res.put("index_bytes_per_text_byte", Stat.ratio(Disk.bytes(root), textBytes), "B/B")
      res.put("query_p50_ms", Stat.pct(ok.map(_.ms), 0.5), "ms")
      res.put("query_tail_ms", Stat.tail(ok.map(_.ms)), "ms")
      res.put("qps", Stat.ratio(ok.size, wall), "1/s")
    } else {
      val tracedOk = traced.filter(_.ok)
      Layers.search(ctx, res, tracedOk)
      Layers.build(ctx, res, "build", root, turns)
      Layers.noIngest(res)
      val okBatches = batches.filter(_.ok)
      res.put("search.batch_qps",
        Stat.ratio(okBatches.map(_.qids.size).sum, okBatches.map(_.ms).sum / 1000), "1/s")
      res.put("query.samples", tracedOk.size, "count")
      res.put("trace.overhead_frac", Layers.overhead(tracedOk, untraced, after), "ratio")
    }
    Disk.delete(root)
  }
}
