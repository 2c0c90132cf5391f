package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.index.BuildIndexJob
import graft.sources.{ParquetTableIO, TableIO}
import org.apache.spark.sql.SparkSession

/** Command-line options. The sizes default to the benchmark's pinned
  * workload sizes; the self-test overrides them with tiny ones. */
final case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    work: String = "",
    result: String = "",
    spans: String = "",
    convs: Long = 400L,         // search corpus conversations (~3.4 k turns)
    pool: Int = 200,            // distinct queries in the pool
    baseConvs: Long = 400L,     // live index base conversations
    batchConvs: Long = 50L,     // new conversations per append (~425 turns)
    corruptFirstAnswer: Boolean = false) // self-test: tamper one answer

object Opts {
  def parse(args: Seq[String]): Opts = args match {
    case Seq() => Opts()
    case Seq(flag, value, rest @ _*) =>
      val o = parse(rest)
      flag match {
        case "--workload"     => o.copy(workload = value)
        case "--seed"         => o.copy(seed = value.toLong)
        case "--seconds"      => o.copy(seconds = value.toDouble)
        case "--trace"        => o.copy(trace = value == "1")
        case "--work"         => o.copy(work = value)
        case "--result"       => o.copy(result = value)
        case "--spans"        => o.copy(spans = value)
        case "--convs"        => o.copy(convs = value.toLong)
        case "--pool"         => o.copy(pool = value.toInt)
        case "--base-convs"   => o.copy(baseConvs = value.toLong)
        case "--batch-convs"  => o.copy(batchConvs = value.toLong)
        case "--corrupt-first-answer" => o.copy(corruptFirstAnswer = value == "1")
        case other            => throw new IllegalArgumentException(s"unknown option $other")
      }
    case Seq(flag) => throw new IllegalArgumentException(s"option $flag needs a value")
  }
}

/** What a workload run needs: the session, options, and — in a traced
  * run — the span recorder, the Spark listener and the TableIO wrapper. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer,
                val jobs: Option[JobLog], val tio: Option[TracedIO]) {
  def traced: Boolean = opts.trace
  def io: TableIO = tio.getOrElse(ParquetTableIO)
  def cfg(io: TableIO = io): BuildIndexJob.Config =
    BuildIndexJob.Config(numShards = Ctx.Shards, io = io)
  /** Tag the calling thread's Spark jobs with `group` while tracing. */
  def group[T](g: String)(body: => T): T =
    if (tracer.recording) Tracer.inGroup(spark, g)(body) else body
  def span[T](name: String, layer: String)(body: => T): T = tracer.span(name, layer)(body)
}

object Ctx {
  /** Posting shards: the build default (32) is sized for large clusters;
    * at a few thousand turns it only multiplies tiny files and tasks. */
  final val Shards = 4
  /** search_interactive client threads (at most nproc). */
  final val Clients = 2
}

/** The run's reported numbers: operations attempted and failed, and the
  * metrics in print order. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (if (value.isNaN || value.isInfinite) 0.0 else value, unit)

  def json: String = {
    val ms = metrics.map { case (n, (v, u)) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

object Log {
  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since the JVM started
    * the benchmark. */
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")
  /** An operation that threw: it counts as failed; say why on stderr. */
  def failure(op: String, e: Throwable): Unit = apply(s"FAILED $op: $e")
}

object Stat {
  /** Percentile `p` in [0, 1], interpolated linearly between the two
    * nearest order statistics, so it moves smoothly with the sample count;
    * 0 for no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = h.toInt
      if (lo + 1 >= s.size) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
    }
  /** The tail of a latency sample: the highest percentile with at least
    * `TailBeyond` samples above it, and at least the median. */
  def tail(xs: Seq[Double]): Double = pct(xs, math.max(0.5, 1 - TailBeyond.toDouble / xs.size))
  final val TailBeyond = 10
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Total length of the union of [start, end) intervals, clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    for ((s, e) <- intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
           .filter { case (s, e) => e > s }.sortBy(_._1)) {
      val from = math.max(s, reach)
      if (e > from) { total += e - from; reach = e }
    }
    total
  }
}

object Disk {
  /** Bytes of the regular files under `dir` (0 when absent). */
  def bytes(dir: String): Long = {
    val root: Path = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
  }
}
