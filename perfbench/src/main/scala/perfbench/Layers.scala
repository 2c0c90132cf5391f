package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import graft.index.BuildIndexJob
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-layer metrics of a traced run, measured from outside the engine:
  * the benchmark's spans around public calls, the Spark listener's jobs
  * and tasks (by job group), the TableIO wrapper, the index files on disk
  * and the JVM's management beans. A metric of a layer the workload does
  * not exercise reads 0. */
object Layers {

  /** Turn span recording and job logging on or off. */
  def tracing(ctx: Ctx, on: Boolean): Unit = {
    ctx.tracer.recording = on && ctx.traced
    ctx.jobs.foreach(_.on = on && ctx.traced)
  }

  /** Run the traced measurement window and record runtime metrics for it. */
  def tracedWindow[T](ctx: Ctx, res: Result)(body: => T): T = {
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heap.foreach(_.resetPeakUsage())
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val gc0 = gcMs
    tracing(ctx, on = true)
    val out = body
    ctx.jobs.foreach(_.drain(ctx.spark))
    tracing(ctx, on = false)
    // executors run inside this JVM (local master), so the JVM's collector
    // time covers executor and driver GC alike
    res.put("spark.gc_s", (gcMs - gc0) / 1000.0, "s")
    res.put("jvm.heap_peak_mb", heap.map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB")
    out
  }

  /** Tracing overhead: p50 latency of the traced window's requests over
    * the mean of the p50s of the untraced windows before and after it,
    * minus 1. */
  def overhead(traced: Seq[Req], before: Seq[Req], after: Seq[Req]): Double = {
    def p50(rs: Seq[Req]) = Stat.pct(rs.filter(_.ok).map(_.ms), 0.5)
    Stat.ratio(p50(traced), (p50(before) + p50(after)) / 2) - 1
  }

  /** Corpus generation alone: the seeded DataFrame materialized and dropped. */
  def corpusGen(ctx: Ctx, corpus: DataFrame, res: Result): Unit = {
    val t0 = System.nanoTime()
    ctx.group("corpus-gen")(corpus.write.format("noop").mode("overwrite").save())
    res.put("sources.corpus_gen_s", Stat.secsSince(t0), "s")
  }

  /** graft.search per call: planning (inside the search function, which
    * includes its eager probe jobs), collection, Spark work and TableIO
    * reads, attributed by each call's job group. */
  def search(ctx: Ctx, res: Result, reqs: Seq[Req]): Unit = {
    val log = ctx.jobs.get
    val groups = reqs.map(_.group).toSet
    val jobsBy = log.jobsOf(groups).groupBy(_.group)
    val tasksBy = log.tasksOf(groups).groupBy(log.groupOf)
    val queries = reqs.map(_.qids.size).sum.toDouble
    val hits = reqs.map(_.answers.values.map(_.size).sum).sum.toDouble
    val tasks = tasksBy.values.flatten.toSeq
    def perCall(f: Req => Double) = reqs.map(f)
    res.put("search.plan_ms", Stat.pct(perCall(r => (r.planEndUs - r.startUs) / 1000.0), 0.5), "ms")
    res.put("search.exec_ms", Stat.pct(perCall(r => (r.endUs - r.planEndUs) / 1000.0), 0.5), "ms")
    res.put("search.jobs_per_call", Stat.mean(perCall(r => jobsBy.getOrElse(r.group, Nil).size.toDouble)), "count")
    res.put("search.tasks_per_call", Stat.mean(perCall(r => tasksBy.getOrElse(r.group, Nil).size.toDouble)), "count")
    res.put("search.driver_self_ms", Stat.pct(perCall { r =>
      val jobs = jobsBy.getOrElse(r.group, Nil).map(j => (j.startMs * 1000, j.endMs * 1000))
      (r.endUs - r.startUs - Stat.covered(jobs, r.startUs, r.endUs)) / 1000.0
    }, 0.5), "ms")
    res.put("search.sched_wait_ms", Stat.pct(perCall { r =>
      Stat.mean(tasksBy.getOrElse(r.group, Nil).flatMap(t =>
        log.stageSubmit(t.stage).map(s => (t.launchMs - s).toDouble)))
    }, 0.5), "ms")
    res.put("search.task_busy_ms_per_query", Stat.ratio(tasks.map(_.runMs).sum, queries), "ms")
    res.put("search.rows_read_per_hit", Stat.ratio(tasks.map(_.inRecords).sum, hits), "ratio")
    res.put("search.bytes_read_per_query", Stat.ratio(tasks.map(_.inBytes).sum, queries), "B")
    res.put("search.shuffle_bytes_per_query", Stat.ratio(tasks.map(_.shuffleWriteBytes).sum, queries), "B")
    res.put("search.tableio_reads_per_call",
      Stat.ratio(ctx.tio.get.reads(groups).toDouble, reqs.size), "count")
  }

  final val Artifacts = Seq("docs", "tfdl", "dictionary", "postings", "blockmeta")

  /** graft.index bulk build (the set-up build in job group `group`,
    * writing the index at `root`) and the index it left on disk. */
  def build(ctx: Ctx, res: Result, group: String, root: String, turns: Double): Unit = {
    val spark = ctx.spark
    val p = BuildIndexJob.IndexPaths(root)
    val wall = spark.read.parquet(p.lineage).groupBy("stage").agg(max("wall_ms")).collect()
      .map(r => r.getString(0) -> r.getLong(1) / 1000.0).toMap
    for (s <- Seq("docs", "tf", "dict", "postings"))
      res.put(s"build.stage_s.$s", wall.getOrElse(s, 0.0), "s")
    val log = ctx.jobs.get
    val tasks = log.tasksOf(_ == group)
    res.put("build.jobs", log.jobsOf(_ == group).size, "count")
    res.put("build.tasks", tasks.size, "count")
    res.put("build.task_busy_s", tasks.map(_.runMs).sum / 1000.0, "s")
    res.put("build.shuffle_bytes_per_turn", Stat.ratio(tasks.map(_.shuffleWriteBytes).sum, turns), "B")
    res.put("build.spill_bytes", tasks.map(_.spillBytes).sum.toDouble, "B")
    val spans = ctx.tracer.all.filter(_.group == group)
    for (a <- Artifacts)
      res.put(s"tableio.write_s.$a",
        spans.filter(_.name == s"tableio.write.$a").map(_.durUs).sum / 1e6, "s")
    for (a <- Artifacts) res.put(s"index.bytes.$a", Disk.bytes(s"$root/$a").toDouble, "B")
    val postings = spark.read.parquet(p.dictionary).agg(sum("df")).head().getLong(0)
    res.put("index.bytes_per_posting", Stat.ratio(Disk.bytes(p.postings), postings), "B")
  }

  /** The segmented-index metrics, in a workload without live ingest. */
  def noIngest(res: Result): Unit = {
    res.put("ingest.turns_per_s", 0, "1/s")
    res.put("ingest.write_amp", 0, "B/B")
    res.put("ingest.append_jobs", 0, "count")
    res.put("ingest.compact_s", 0, "s")
    res.put("ingest.compact_bytes_rewritten", 0, "B")
    res.put("ingest.segments_per_read", 0, "count")
    res.put("live_query.jobs_per_call", 0, "count")
    res.put("live_query.during_compact_p50_ms", 0, "ms")
  }

  final val LayerNames = Seq("client", "search", "index", "sources", "spark")

  /** Self time per layer over everything traced (set-up and the traced
    * window): each span's duration minus the part its children
    * cover. Spark jobs become spans under the innermost benchmark span of
    * their job group that was open when they started. Returns the job
    * spans so they can be written with the others. */
  def selfTimes(ctx: Ctx, res: Result): Seq[Span] = {
    val spans = ctx.tracer.all
    val byGroup = spans.groupBy(_.group)
    val jobSpans = ctx.jobs.get.jobsOf(_ => true).map { j =>
      val (s, e) = (j.startMs * 1000, j.endMs * 1000)
      val parent = byGroup.getOrElse(j.group, Nil)
        .filter(p => p.startUs <= s && s <= p.endUs).sortBy(-_.startUs).headOption.fold(0L)(_.id)
      Span(-j.id - 1L, parent, "spark.job", "spark", j.group, s, e)
    }
    val all = spans ++ jobSpans
    val children = all.groupBy(_.parent)
    val self = all.map { sp =>
      val kids = children.getOrElse(sp.id, Nil).map(c => (c.startUs, c.endUs))
      sp.layer -> (sp.durUs - Stat.covered(kids, sp.startUs, sp.endUs))
    }.groupMapReduce(_._1)(_._2)(_ + _)
    for (l <- LayerNames) res.put(s"self_s.$l", self.getOrElse(l, 0L) / 1e6, "s")
    all
  }

  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.startUs).map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, "layer": "${s.layer}", """ +
        s""""group": ${Json.str(s.group)}, "start_us": ${s.startUs}, "end_us": ${s.endUs}}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}
