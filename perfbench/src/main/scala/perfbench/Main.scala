package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.sources.ParquetTableIO
import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload, one seed, one run. Writes the run's
  * result (and a line describing the machine before it) to `--result`;
  * run.py prints them. In a traced run the spans go to `--spans`.
  *
  * {{{
  * Main --workload search_interactive|ingest_live --seed N --seconds S
  *      --trace 0|1 --work DIR --result FILE [--spans FILE] [size options]
  * }}}
  */
object Main {

  final val Workloads = Seq("search_interactive", "ingest_live")

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1) // Spark's non-daemon threads would keep the JVM alive
    }

  /** One run; the self-test calls this directly. */
  def run(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = Opts.parse(args.toSeq)
    require(Workloads.contains(opts.workload),
      s"--workload must be one of ${Workloads.mkString(", ")}, got '${opts.workload}'")
    require(opts.work.nonEmpty && opts.result.nonEmpty, "--work and --result are required")
    require(!opts.trace || opts.spans.nonEmpty, "--trace 1 needs --spans")
    val nproc = Runtime.getRuntime.availableProcessors
    val load0 = loadavg()
    val master = s"local[$nproc]"
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      // jobs without a pool share the default pool first-in first-out, as
      // without this setting; ingest_live gives writer and readers a pool each
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = if (opts.trace) Some(new JobLog) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(opts.trace, spark.sparkContext)
    val tio = if (opts.trace) Some(new TracedIO(ParquetTableIO, tracer)) else None
    val ctx = new Ctx(spark, opts, tracer, jobs, tio)
    val res = new Result
    val sessionS = Stat.secsSince(t0)
    Log("session ready")
    try {
      if (opts.trace) res.put("spark.session_s", sessionS, "s")
      opts.workload match {
        case "search_interactive" => SearchInteractive.run(ctx, res, sessionS)
        case "ingest_live"        => IngestLive.run(ctx, res, sessionS)
      }
      if (opts.trace) {
        Layers.tracing(ctx, on = false)
        jobs.foreach(_.drain(spark))
        res.put("failed_ops_frac", Stat.ratio(res.failed, res.attempted), "ratio")
        Layers.writeSpans(opts.spans, Layers.selfTimes(ctx, res))
      }
    } finally spark.stop()
    // shared machine: for information only, never part of a metric
    val box = s"""{"box": {"nproc": $nproc, "master": "$master", """ +
      s""""loadavg_before": ${Json.str(load0)}, "loadavg_after": ${Json.str(loadavg())}}}"""
    Files.write(Paths.get(opts.result), s"$box\n${res.json}\n".getBytes(UTF_8))
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
    catch { case _: java.io.IOException => "" }
}
