package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.sources.TableIO
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed interval at a layer boundary. Times are epoch microseconds so
  * they line up with the Spark listener's epoch-millisecond job times.
  * `group` is the Spark job group of the thread that opened the span: the
  * request id that ties a request's spans and Spark jobs together. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      group: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

object Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000
}

/** In-memory span recorder; written out once when the run ends. Off in
  * untraced runs, where `span` is a plain call. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile var recording = on

  def span[T](name: String, layer: String)(body: => T): T =
    if (!recording) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val group = Option(sc.getLocalProperty(Tracer.GroupKey)).getOrElse("")
      stack.set(id :: parents)
      val start = Clock.nowUs
      try body
      finally {
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0L), name, layer, group, start, Clock.nowUs))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

object Tracer {
  final val GroupKey = "spark.jobGroup.id"

  /** Run `body` with the calling thread's Spark job group set to `group`. */
  def inGroup[T](spark: SparkSession, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}

/** Spark jobs, stages and tasks as the scheduler reports them, attributed
  * to the job group (request id) of the thread that submitted them. */
final class JobLog extends SparkListener {
  import JobLog._

  @volatile var on = true
  private val starts = new ConcurrentHashMap[Int, (String, Long)]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.GroupKey))).getOrElse("")
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, group))
    starts.put(e.jobId, (group, e.time))
  }

  @volatile private var lastEndedGroup = ""

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach { case (g, t0) =>
      if (on) jobs.add(Job(e.jobId, g, t0, e.time))
      lastEndedGroup = g
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.putIfAbsent(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.add(Task(e.stageId, e.taskInfo.launchTime, m.executorRunTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }

  def jobsOf(group: String => Boolean): Seq[Job] = jobs.asScala.filter(j => group(j.group)).toSeq
  def tasksOf(group: String => Boolean): Seq[Task] =
    tasks.asScala.filter(t => group(groupOf(t))).toSeq
  def groupOf(t: Task): String = stageGroup.getOrDefault(t.stage, "")
  def stageSubmit(stage: Int): Option[Long] = Option(stageSubmitMs.get(stage))

  /** Wait until every event posted before this call has been delivered:
    * listener delivery is asynchronous but in order, so once the end of a
    * marker job is seen, all earlier events are too. */
  def drain(spark: SparkSession): Unit = {
    val marker = s"drain-${System.nanoTime()}"
    Tracer.inGroup(spark, marker)(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (lastEndedGroup != marker && System.nanoTime() < deadline)
      Thread.sleep(5)
  }
}

object JobLog {
  final case class Job(id: Int, group: String, startMs: Long, endMs: Long)
  final case class Task(stage: Int, launchMs: Long, runMs: Long, inBytes: Long,
                        inRecords: Long, shuffleWriteBytes: Long, spillBytes: Long)
}

/** The benchmark's view of the `TableIO` seam: counts reads and times
  * writes per job group, and records each write as a span. */
final class TracedIO(inner: TableIO, tracer: Tracer) extends TableIO {
  private val readsByGroup = new ConcurrentHashMap[String, AtomicLong]()

  override def write(df: DataFrame, path: String, partitionBy: Seq[String],
                     snapshotId: String): Unit =
    tracer.span(s"tableio.write.${TracedIO.artifact(path)}", "sources")(
      inner.write(df, path, partitionBy, snapshotId))

  override def read(spark: SparkSession, path: String): DataFrame = {
    val g = Option(spark.sparkContext.getLocalProperty(Tracer.GroupKey)).getOrElse("")
    readsByGroup.computeIfAbsent(g, _ => new AtomicLong()).incrementAndGet()
    inner.read(spark, path)
  }

  def reads(group: String => Boolean): Long =
    readsByGroup.asScala.collect { case (g, n) if group(g) => n.get() }.sum
}

object TracedIO {
  def artifact(path: String): String = path.stripSuffix("/").split('/').last
}
