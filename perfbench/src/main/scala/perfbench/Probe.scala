package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `parent` is the id
  * of the span that caused it (empty for a root); all spans of one
  * benchmark process share `run`.
  */
final case class Span(id: String, name: String, start: Double, end: Double,
    parent: String, run: String) {
  def dur: Double = end - start
}

object Span {
  /** Length of the union of `[start, end)` intervals, in the same unit. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Everything the benchmark reads from Spark's public observation
  * surface: a [[SparkListener]] for jobs, stages and task metrics, a
  * [[QueryExecutionListener]] for `QueryPlanningTracker` phase times,
  * and `CodeGenerator.compileTime` for Janino compile time. Counters
  * are cumulative; callers take deltas with [[snapshot]].
  *
  * Only a traced probe registers the listeners. It also keeps every
  * benchmark span, job and stage as a [[Span]]; a job's parent is the
  * benchmark span open on the submitting thread (carried through the
  * `perfbench.span` local property), a stage's parent is its job.
  * An untraced probe only runs the code it wraps.
  */
final class Probe(spark: SparkSession, val run: String, traced: Boolean) {
  private val clock0Ms = System.currentTimeMillis().toDouble
  private val clock0Ns = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = clock0Ms + (System.nanoTime() - clock0Ns) / 1e6

  val jobs, stages, tasks, taskMs, gcMs, shuffleWrite, spill, recordsRead,
    bytesRead, analysisMs, optimizationMs, planningMs = new AtomicLong(0L)
  private val jobSpanOf = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageIntervals = new ConcurrentLinkedQueue[(Double, Double)]()
  private val spanQ = new ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicLong(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty("perfbench.span"))).getOrElse("")
      jobSpanOf.put(e.jobId, parent)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = Option(jobStart.get(e.jobId)).map(_.toDouble).getOrElse(e.time.toDouble)
      spanQ.add(Span(s"job${e.jobId}", "job", s, e.time.toDouble,
        Option(jobSpanOf.get(e.jobId)).getOrElse(""), run))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stages.incrementAndGet()
      for (s <- si.submissionTime; c <- si.completionTime) {
        stageIntervals.add((s.toDouble, c.toDouble))
        if (traced) {
          val job = Option(stageJob.get(si.stageId)).map(j => s"job$j").getOrElse("")
          spanQ.add(Span(s"stage${si.stageId}.${si.attemptNumber()}", "stage",
            s.toDouble, c.toDouble, job, run))
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        recordsRead.addAndGet(m.inputMetrics.recordsRead)
        bytesRead.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
      analysisMs.addAndGet(ms("analysis"))
      optimizationMs.addAndGet(ms("optimization"))
      planningMs.addAndGet(ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  if (traced) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def close(): Unit = if (traced) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Waits until the listener bus has delivered every queued event. */
  def drain(): Unit = if (traced) org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)

  /** Runs `f` inside a new span; jobs submitted by `f` on this thread
    * become its children.
    */
  def span[A](name: String, parent: String = "")(f: String => A): A = {
    val id = s"s${seq.incrementAndGet()}"
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", id)
    val s = now()
    try f(id)
    finally {
      if (traced) spanQ.add(Span(id, name, s, now(), parent, run))
      sc.setLocalProperty("perfbench.span", prev)
    }
  }

  def allSpans: Seq[Span] = spanQ.asScala.toSeq

  /** Union of completed stage intervals that overlap `[from, to)`,
    * clipped to it, in seconds.
    */
  def stageUnionS(from: Double, to: Double): Double =
    Span.unionLength(stageIntervals.asScala.toSeq
      .filter { case (s, e) => e > from && s < to }
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }) / 1000.0

  /** Cumulative counters now (call [[drain]] first for exact values). */
  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "task_s" -> taskMs.get / 1000.0,
    "gc_s" -> gcMs.get / 1000.0, "shuffle_write_mb" -> shuffleWrite.get / 1048576.0,
    "spill_mb" -> spill.get / 1048576.0, "records_read" -> recordsRead.get.toDouble,
    "read_mb" -> bytesRead.get / 1048576.0,
    "analysis_s" -> analysisMs.get / 1000.0,
    "optimization_s" -> optimizationMs.get / 1000.0,
    "planning_s" -> planningMs.get / 1000.0,
    "compile_s" -> CodeGenerator.compileTime / 1e9,
    "alloc_gb" -> (if (traced) Box.allocatedBytes() / 1e9 else 0.0))

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}

/** Box context recorded in every artifact, so a run on a busy machine
  * shows: load average, a `/proc/stat` busy% trace sampled once a
  * second, a fixed CPU calibration loop, and the process's peak RSS.
  */
object Box {
  def loadAvg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
    catch { case _: Exception => "" }

  private def statCpu(): Array[Long] =
    try scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).flatMap(s => scala.util.Try(s.toLong).toOption)
    catch { case _: Exception => Array.empty[Long] }

  /** Samples whole-box busy% and steal% (CPU time the hypervisor gave to
    * other guests) once a second on a daemon thread.
    */
  final class BusyTrace {
    val busy, steal = new ConcurrentLinkedQueue[Double]()
    @volatile private var running = true
    private val t = new Thread(() => {
      var prev = statCpu()
      while (running) {
        Thread.sleep(1000)
        val cur = statCpu()
        if (cur.length >= 8 && cur.length == prev.length) {
          val d = cur.zip(prev).map { case (a, b) => a - b }
          val total = math.max(d.sum, 1L)
          busy.add(100.0 * (total - d(3) - d(4) - d(7)) / total)
          steal.add(100.0 * d(7) / total)
        }
        prev = cur
      }
    }, "perfbench-busy-trace")
    t.setDaemon(true)
    t.start()
    def stop(): (Seq[Double], Seq[Double]) = {
      running = false
      t.join(2000)
      (busy.asScala.toSeq, steal.asScala.toSeq)
    }
  }

  /** Seconds for a fixed single-threaded integer loop; compares CPU speed
    * across runs and boxes (slower when the box is contended).
    */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  /** Bytes allocated so far by live threads (threads that ended take
    * their counts with them, so this undercounts across thread churn).
    */
  def allocatedBytes(): Double = java.lang.management.ManagementFactory.getThreadMXBean match {
    case b: com.sun.management.ThreadMXBean =>
      b.getThreadAllocatedBytes(b.getAllThreadIds).filter(_ > 0).map(_.toDouble).sum
    case _ => 0.0
  }
}
