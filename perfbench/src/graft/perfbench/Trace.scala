package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark: a root span (`parent` = -1;
  * see [[Tracer.root]]) or a stage call inside one. Times are
  * wall-clock ms (for attributing Spark events, which carry ms
  * timestamps) plus monotonic ns (for durations).
  */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
    traced: Boolean, startMs: Long, startNs: Long,
    var endMs: Long = 0L, var endNs: Long = 0L) {
  def wallS: Double = (endNs - startNs) / 1e9
  def contains(ms: Long): Boolean = startMs <= ms && ms <= endMs
}

/** Span recorder. Spans are kept in memory and written out at exit by
  * [[Report]]; timing a span costs two clock reads, so the untraced
  * run records them too (its end-to-end numbers come from the span
  * walls). Only the Spark listeners are switched by `--trace`.
  */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var iter = -1
  private var traced = false

  /** A root span: one chain iteration (`name` "chain"), or the
    * workload's one-off "begin" / "end" steps around the loop.
    */
  def root[T](name: String, iteration: Int, withListeners: Boolean)(
      body: => T): (T, Span) = {
    iter = iteration
    traced = withListeners
    val out = span(name)(body)
    (out, spans.findLast(s => s.parent == -1 && s.iter == iteration).get)
  }

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, stack.headOption.getOrElse(-1), iter,
      traced, System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s.id :: stack
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
    }
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Wall minus the part covered by child spans (children never
    * overlap: one client thread opens them in sequence).
    */
  def selfS(s: Span): Double = s.wallS - children(s.id).map(_.wallS).sum
}

/** Spark-side counters, gathered by one [[SparkListener]] and one
  * [[QueryExecutionListener]] registered only while a traced chain
  * runs. Every event keeps its own timestamp; [[Attribution]] assigns
  * it to the innermost span open at that instant.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class Tasks(var runMs: Long = 0, var cpuNs: Long = 0,
      var durMs: Long = 0, var shuffleBytes: Long = 0,
      var spillBytes: Long = 0, var outBytes: Long = 0)
  final case class Query(atMs: Long, planMs: Long, files: Long)

  val jobs = ArrayBuffer.empty[Job]
  val stageTasks = scala.collection.mutable.Map.empty[Int, Tasks]
  val queries = ArrayBuffer.empty[Query]
  private var markerJob = -1
  @volatile private var markerDone = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (e.properties != null && e.properties.getProperty(Marker) != null)
      markerJob = e.jobId
    else jobs += Job(e.jobId, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == markerJob) markerDone = true
    else jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = stageTasks.getOrElseUpdate(e.stageId, Tasks())
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.durMs += e.taskInfo.duration
      t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    // delivery is asynchronous, so stamp the query with the end of its
    // planning, which happened inside the span that ran it
    val phases = qe.tracker.phases
    val planMs = phases.values.map(_.durationMs).sum
    val at = if (phases.isEmpty) System.currentTimeMillis() - durationNs / 1000000
      else phases.values.map(_.endTimeMs).max
    queries += Query(at, planMs, filesWritten(qe.executedPlan))
  }

  /** Files a write command reported, looking through the command
    * result, adaptive-plan and query-stage wrappers (none exposes its
    * plan as a child).
    */
  private def filesWritten(p: SparkPlan): Long = p match {
    case w: DataWritingCommandExec =>
      w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case c: CommandResultExec => filesWritten(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => filesWritten(a.executedPlan)
    case q: QueryStageExec => filesWritten(q.plan)
    case other => other.children.map(filesWritten).sum
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Listener delivery is asynchronous: run one marker job and wait
    * until its end event arrives — the bus delivers in order, so every
    * earlier event has been seen by then. The marker job itself is
    * not counted.
    */
  private def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    markerDone = false
    sc.setLocalProperty(Marker, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Marker, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!markerDone && System.nanoTime() < deadline) Thread.sleep(5)
    if (!markerDone) throw new IllegalStateException("listener bus did not drain")
  }

  private val Marker = "perfbench.marker"
}

/** Per-span sums of the Spark counters, plus the per-chain layer
  * split (jobs, busy time, driver-only time, dispatch overhead).
  */
final class Attribution(tr: Tracer, c: SparkCounters) {
  final case class Acc(var jobs: Int = 0, var planMs: Long = 0,
      var runMs: Long = 0, var cpuNs: Long = 0, var durMs: Long = 0,
      var shuffleBytes: Long = 0, var spillBytes: Long = 0,
      var outBytes: Long = 0, var files: Long = 0,
      busy: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty)

  /** Innermost traced span open at `ms` (ties go to the later span). */
  private def owner(ms: Long): Option[Span] =
    tr.spans.filter(s => s.traced && s.contains(ms))
      .sortBy(s => (depth(s), s.startNs)).lastOption

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(tr.spans(s.parent))

  val bySpan: Map[Int, Acc] = {
    val acc = scala.collection.mutable.Map.empty[Int, Acc]
    def at(ms: Long) = owner(ms).map(s => acc.getOrElseUpdate(s.id, Acc()))
    // a stage listed by several jobs ran its tasks once, in the
    // first of them; later jobs list it as skipped
    val claimed = scala.collection.mutable.Set.empty[Int]
    c.synchronized {
      c.jobs.sortBy(_.id).foreach { j =>
        at(j.startMs).foreach { a =>
          a.jobs += 1
          a.busy += ((j.startMs, if (j.endMs < 0) j.startMs else j.endMs))
          j.stages.filter(claimed.add).flatMap(c.stageTasks.get).foreach { t =>
            a.runMs += t.runMs; a.cpuNs += t.cpuNs; a.durMs += t.durMs
            a.shuffleBytes += t.shuffleBytes; a.spillBytes += t.spillBytes
            a.outBytes += t.outBytes
          }
        }
      }
      c.queries.foreach { q =>
        at(q.atMs).foreach { a => a.planMs += q.planMs; a.files += q.files }
      }
    }
    acc.toMap
  }

  private def subtree(id: Int): Seq[Int] =
    id +: tr.children(id).flatMap(s => subtree(s.id))

  /** Counter totals over a span and all its descendants. */
  def total(id: Int): Acc = {
    val t = Acc()
    subtree(id).flatMap(bySpan.get).foreach { a =>
      t.jobs += a.jobs; t.planMs += a.planMs; t.runMs += a.runMs
      t.cpuNs += a.cpuNs; t.durMs += a.durMs
      t.shuffleBytes += a.shuffleBytes; t.spillBytes += a.spillBytes
      t.outBytes += a.outBytes; t.files += a.files; t.busy ++= a.busy
    }
    t
  }

  /** Seconds inside `s` with at least one job running. */
  def busyS(s: Span): Double = {
    val iv = total(s.id).busy.map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    covered / 1e3
  }
}

/** Host noise readings: machine-wide steal time and this process's
  * CPU time, from /proc. They annotate a run; nothing is retried or
  * dropped on their account.
  */
object Host {
  final case class Reading(stealS: Double, procCpuS: Double)

  private val hz = 100.0 // USER_HZ, fixed by the kernel ABI on Linux

  def read(): Reading = {
    def lines(p: String) =
      try scala.io.Source.fromFile(p).getLines().toList
      catch { case _: java.io.IOException => Nil }
    val steal = lines("/proc/stat").find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).filter(_.length > 8)
      .map(_(8).toDouble / hz).getOrElse(0.0)
    // fields after the ")" that closes the command name: utime and
    // stime are fields 14 and 15 of the whole line
    val cpu = lines("/proc/self/stat").headOption.map { l =>
      val f = l.substring(l.lastIndexOf(')') + 2).split(" ")
      (f(11).toDouble + f(12).toDouble) / hz
    }.getOrElse(0.0)
    Reading(steal, cpu)
  }
}

/** Peak post-GC heap: the larger of two live-heap readings, each taken
  * after forced full collections — one after the measured loop, one
  * after the end step — so the reading is the live set at fixed points
  * of the run, not an accident of GC timing. None is taken before or
  * between measured chains: a forced collection hands Spark's
  * ContextCleaner a burst of blocking cleanup that slows the next
  * chain.
  */
object Heap {
  private var peakBytes = 0L

  /** Full collection, a pause for Spark's ContextCleaner to release
    * what the first one made unreachable, a second collection, then
    * the live heap.
    */
  def collect(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    peakBytes = math.max(peakBytes, used)
  }

  def peakMb: Double = peakBytes / (1024.0 * 1024.0)
}
