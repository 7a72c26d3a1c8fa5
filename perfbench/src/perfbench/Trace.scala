package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Half-open millisecond intervals `[start, end)`. */
object Intervals {
  type I = (Long, Long)

  /** Sorted, non-overlapping cover of `xs` (touching intervals merge). */
  def union(xs: Seq[I]): Seq[I] = {
    val out = mutable.ArrayBuffer.empty[I]
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toSeq
  }

  /** The parts of `a` not covered by any interval of `b`. */
  def subtract(a: Seq[I], b: Seq[I]): Seq[I] = {
    val cut = union(b)
    union(a).flatMap { case (s0, e0) =>
      val pieces = mutable.ArrayBuffer.empty[I]
      var s = s0
      cut.foreach { case (cs, ce) =>
        if (ce > s && cs < e0) {
          if (cs > s) pieces += ((s, cs))
          s = math.max(s, ce)
        }
      }
      if (s < e0) pieces += ((s, e0))
      pieces
    }
  }

  def length(xs: Seq[I]): Long = union(xs).map { case (s, e) => e - s }.sum
}

/** File-listing snapshots and deltas under a directory root. */
object FileDelta {
  /** One file's size and modification time (ms). */
  final case class Stat(size: Long, mtimeMs: Long)

  /** Relative path → stat of every regular file under `root`. */
  def listing(root: String): Map[String, Stat] = {
    val base = new File(root)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    if (!base.exists()) Map.empty
    else walk(base).filter(_.isFile)
      .map(f => base.toPath.relativize(f.toPath).toString -> Stat(f.length(), f.lastModified()))
      .toMap
  }

  case class Delta(newFiles: Int, newBytes: Long, deletedFiles: Int, deletedBytes: Long,
                   newManifestFiles: Int)

  /** Files that are new or rewritten (name new, or size or mtime changed)
    * and files that disappeared between two listings. Hidden checksum files
    * (`.crc`) are not data and are ignored. */
  def delta(before: Map[String, Stat], after: Map[String, Stat]): Delta = {
    def data(m: Map[String, Stat]) = m.filter { case (p, _) => !p.split('/').last.startsWith(".") }
    val b = data(before)
    val a = data(after)
    val added = a.filter { case (p, st) => !b.get(p).contains(st) }
    val gone = b.filter { case (p, _) => !a.contains(p) }
    Delta(added.size, added.values.map(_.size).sum, gone.size, gone.values.map(_.size).sum,
      added.keys.count(_.split('/').last.startsWith("MANIFEST")))
  }

  def bytes(root: String): Long = listing(root).values.map(_.size).sum
}

/** One closed span: wall-clock interval, its parent, and the counters the
  * benchmark attaches from outside the engine. */
final case class SpanRec(id: Int, name: String, parent: Int, startMs: Long, endMs: Long,
                         wallNs: Long, counters: Map[String, Double])

final case class TaskRec(span: Int, launchMs: Long, finishMs: Long, shuffleBytes: Long,
                         spillBytes: Long, outputBytes: Long, outputRecords: Long)

/** In-memory span recorder plus a `SparkListener` that attributes every
  * job to the span open when it was submitted, through a local property.
  * Spans nest on the driver thread; a task belongs to the innermost span.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  val SpanKey = "perfbench.span"
  private val sc: SparkContext = spark.sparkContext
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentLinkedQueue[(Int, Int)]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(0)
    jobSpan.add(e.jobId -> span)
    e.stageIds.foreach(s => stageSpan.put(s, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    val span = Option(stageSpan.get(e.stageId)).getOrElse(0)
    if (m != null)
      tasks.add(TaskRec(span, info.launchTime, info.finishTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
  }

  /** Run `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    val prev = sc.getLocalProperty(SpanKey)
    stack = id :: stack
    sc.setLocalProperty(SpanKey, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - t0
      spans += SpanRec(id, name, parent, startMs, System.currentTimeMillis(), wall,
        counters.remove(id).map(_.toMap).getOrElse(Map.empty))
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  /** Add `v` to counter `key` of the innermost open span. */
  def count(key: String, v: Double): Unit = stack.headOption.foreach { id =>
    val c = counters.getOrElseUpdate(id, mutable.Map.empty)
    c(key) = c.getOrElse(key, 0.0) + v
  }

  /** Force Catalyst (analysis, optimization, physical planning) for the
    * frame about to be sunk, and book the time as the span's `plan_s`. */
  def plan(df: DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    df.queryExecution.executedPlan
    count("plan_s", (System.nanoTime() - t0) / 1e9)
    df
  }

  /** Book the files `body` writes under `root` as the span's `output_files`. */
  def files[T](root: String)(body: => T): T = {
    val before = FileDelta.listing(root)
    val out = body
    count("output_files", FileDelta.delta(before, FileDelta.listing(root)).newFiles)
    out
  }

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def spanRecords: Seq[SpanRec] = spans.toSeq
  def taskRecords: Seq[TaskRec] = tasks.asScala.toSeq
  def jobsOf(span: Int): Int = jobSpan.asScala.count(_._2 == span)

  def reset(): Unit = {
    spans.clear(); tasks.clear(); jobSpan.clear(); stageSpan.clear()
  }
}

/** Per-span measures computed from the recorded spans and tasks. */
object SpanMath {
  /** Self time during which no task of any span was running: driver work,
    * manifest I/O, listing, collects and scheduling gaps. */
  def driverOnlyMs(span: SpanRec, children: Seq[SpanRec], tasks: Seq[TaskRec]): Long =
    Intervals.length(Intervals.subtract(
      Intervals.subtract(Seq(span.startMs -> span.endMs), children.map(c => c.startMs -> c.endMs)),
      tasks.map(t => t.launchMs -> t.finishMs)))

  /** Measures for every span: name → (measure → value), summed over
    * spans of the same name. */
  def measures(spans: Seq[SpanRec], tasks: Seq[TaskRec], jobs: Int => Int)
      : Map[String, Map[String, Double]] = {
    val byParent = spans.groupBy(_.parent)
    val byTask = tasks.groupBy(_.span)
    spans.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
      val ts = byTask.getOrElse(s.id, Nil)
      val childWallNs = kids.map(_.wallNs).sum
      val m = Map(
        "wall_s" -> math.max(0L, s.wallNs - childWallNs) / 1e9,
        "task_s" -> ts.map(t => t.finishMs - t.launchMs).sum / 1e3,
        "max_task_s" -> (if (ts.isEmpty) 0.0 else ts.map(t => t.finishMs - t.launchMs).max / 1e3),
        "tasks" -> ts.size.toDouble,
        "jobs" -> jobs(s.id).toDouble,
        "driver_only_s" -> driverOnlyMs(s, kids, tasks) / 1e3,
        "shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
        "output_bytes" -> ts.map(_.outputBytes).sum.toDouble,
        "output_records" -> ts.map(_.outputRecords).sum.toDouble) ++ s.counters
      s.name -> m
    }.groupBy(_._1).map { case (name, ms) =>
      name -> ms.map(_._2).reduce((a, b) =>
        (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap)
    }
  }
}
