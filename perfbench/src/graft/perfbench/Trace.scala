package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval around a call into a program layer. `parent` is
  * the enclosing span (0 at top level); spans of one request, epoch or
  * query share its `group`, which is also its Spark job group.
  */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, group: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans and, through a [[JobLog]], the Spark jobs each unit of
  * work ran. When off (the untraced run) it only runs the bodies: no
  * listener, no job groups, no allocation.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val current = ThreadLocal.withInitial[(Long, String)](() => (0L, ""))

  val jobs: Option[JobLog] =
    if (!on) None
    else {
      val log = new JobLog
      spark.sparkContext.addSparkListener(log)
      Some(log)
    }

  /** A unit of work (request, epoch, query): a span and a job group. */
  def op[T](name: String, group: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(group, name, interruptOnCancel = false)
      try span(name, group)(body)
      finally sc.clearJobGroup()
    }

  /** A layer call; it inherits the enclosing span's group unless given. */
  def span[T](name: String, group: String = null)(body: => T): T =
    if (!on) body
    else {
      val saved @ (parent, inherited) = current.get
      val g = if (group == null) inherited else group
      val id = ids.incrementAndGet()
      current.set((id, g))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, g))
        current.set(saved)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def seconds(name: String): Seq[Double] = all.filter(_.name == name).map(_.seconds)

  /** Wait until the listener has seen every event posted so far. */
  def settle(): Unit = if (on) org.apache.spark.perfbench.ListenerBridge.drain(spark.sparkContext)

  def close(): Unit = jobs.foreach(l => spark.sparkContext.removeSparkListener(l))

}

object Tracer {
  /** The untraced run's tracer: bodies only. */
  val Off = new Tracer(null, on = false)


  /** Spans as JSON lines, written once at the end of the run. */
  def write(tr: Tracer, path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, tr.all.map { s =>
      Json.render(Json.obj("id" -> Json.Whole(s.id), "name" -> Json.Str(s.name),
        "start_ns" -> Json.Whole(s.startNs), "end_ns" -> Json.Whole(s.endNs),
        "parent" -> Json.Whole(s.parent), "group" -> Json.Str(s.group)))
    }.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Spark listener keeping, per job, its group and interval, and per
  * task its run time, shuffle, spill and input bytes.
  */
final class JobLog extends SparkListener {
  import JobLog._

  private val jobs = TrieMap.empty[Int, Job]
  private val stageJob = TrieMap.empty[Int, Int]
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    jobs(e.jobId) = Job(e.jobId, group, e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(stageJob.getOrElse(e.stageId, -1), e.stageId,
      m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
  }

  def jobsWhere(p: Job => Boolean): Seq[Job] = jobs.values.filter(p).toSeq

  /** Totals over the jobs matching `p` and their tasks. */
  def agg(p: Job => Boolean): Agg = {
    val ids = jobsWhere(p).map(_.id).toSet
    val ts = tasks.asScala.filter(t => ids.contains(t.jobId)).toSeq
    Agg(ids.size, ts.map(_.stageId).distinct.size, ts.size,
      ts.map(_.runMs).sum / 1000.0, ts.map(_.shuffleWriteBytes).sum,
      ts.map(_.spillBytes).sum, ts.map(_.bytesRead).sum)
  }
}

object JobLog {
  final case class Job(id: Int, group: String, startMs: Long, endMs: Long)
  final case class Task(jobId: Int, stageId: Int, runMs: Long,
      shuffleWriteBytes: Long, spillBytes: Long, bytesRead: Long)
  final case class Agg(jobs: Int, stages: Int, tasks: Int, taskSeconds: Double,
      shuffleWriteBytes: Long, spillBytes: Long, bytesRead: Long) {
    def shuffleWriteMb: Double = shuffleWriteBytes / 1048576.0
    def spillMb: Double = spillBytes / 1048576.0
  }

  /** Total length of the union of the jobs' intervals, ms: the part of
    * a request's wall time its Spark jobs account for.
    */
  def coveredMs(js: Seq[Job]): Long =
    js.sortBy(_.startMs).foldLeft((0L, Long.MinValue)) { case ((sum, reach), j) =>
      val from = math.max(j.startMs, reach)
      (sum + math.max(0L, j.endMs - from), math.max(reach, j.endMs))
    }._1
}
