package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbenchbridge.Bridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the trace. Times are epoch microseconds; `parent`
  * is the id of the span that caused this one (-1 for a pass). `op` is the
  * id of the operation span the interval belongs to (-1 outside any op). */
final case class Span(id: Int, layer: String, name: String, startUs: Long, endUs: Long,
    parent: Int, op: Int) {
  def durUs: Long = endUs - startUs
}

/** Wall clock in epoch microseconds with nanoTime resolution, so driver
  * spans and the scheduler's millisecond event times share one axis. */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

/** Scheduler work of one stage attempt, summed over its tasks. */
final class StageAgg {
  var jobId: Int = -1
  var name: String = ""
  var submittedMs: Long = -1L
  var completedMs: Long = -1L
  var shuffleMap: Boolean = false
  var tasks: Int = 0
  var busyMs: Long = 0L
  var cpuNs: Long = 0L
  var gcMs: Long = 0L
  var waitMs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var shuffleReadBytes: Long = 0L
  var spillBytes: Long = 0L
  var peakExecMemory: Long = 0L
}

final case class JobRec(id: Int, startMs: Long, endMs: Long, span: Int)

/** One Catalyst phase of one query execution, from its planning tracker. */
final case class PhaseRec(phase: String, startMs: Long, endMs: Long)

/**
 * The benchmark's tracer. Driver-side spans (pass, op, build, exec) are
 * opened around the benchmark's own calls into each module; the scheduler
 * side (job, stage, task counters) and the Catalyst phases arrive through a
 * `SparkListener` and a `QueryExecutionListener` registered here. Each
 * driver span publishes its id as a Spark local property, so every job a
 * span fires is attributed to it exactly. Everything stays in memory until
 * [[writeJsonLines]] at the end of the run. While inactive nothing is
 * registered and [[span]] only runs its body, so untraced passes run
 * exactly as in an untraced run.
 */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[(Int, Int)] = Nil // (span id, op id) of open spans

  private val jobStarts = new ConcurrentHashMap[Int, (Long, Int)]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageAgg]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[PhaseRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobStarts.put(e.jobId, (e.time, span))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, span) =>
        jobs.add(JobRec(e.jobId, t0, e.time, span))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val a = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      a.synchronized {
        a.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) {
        val a = stage(e.stageId, e.stageAttemptId)
        a.synchronized {
          a.tasks += 1
          a.busyMs += e.taskInfo.duration
          if (a.submittedMs >= 0) a.waitMs += math.max(0L, e.taskInfo.launchTime - a.submittedMs)
          val m = e.taskMetrics
          if (m != null) {
            a.cpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            a.spillBytes += m.diskBytesSpilled
            a.peakExecMemory = math.max(a.peakExecMemory, m.peakExecutionMemory)
          }
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val a = stage(info.stageId, info.attemptNumber())
      a.synchronized {
        a.name = info.name.linesIterator.nextOption().getOrElse("")
        a.jobId = stageJob.getOrDefault(info.stageId, -1)
        a.completedMs = info.completionTime.getOrElse(System.currentTimeMillis())
        if (a.submittedMs < 0) a.submittedMs = info.submissionTime.getOrElse(a.completedMs)
        a.shuffleMap = Bridge.isShuffleMapStage(info)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(PhaseRec(name, p.startTimeMs, p.endTimeMs))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def stage(id: Int, attempt: Int): StageAgg =
    stages.computeIfAbsent((id, attempt), _ => new StageAgg)

  @volatile private var active = false

  /** Register the listeners and record spans (true), or deliver what is
    * pending, unregister and stop recording (false). */
  def setActive(on: Boolean): Unit = if (on != active) {
    if (on) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      drain()
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    active = on
  }

  /** Wait until every scheduler event posted so far has been delivered. */
  private def drain(): Unit = Bridge.drainListenerBus(sc)

  /** Run `body` inside a span of `layer`. The span's parent is the
    * innermost open span; `isOp` marks an operation span, whose id the
    * nested spans carry as their op id. */
  def span[A](layer: String, name: String, isOp: Boolean = false)(body: => A): A =
    if (!active) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val (parent, parentOp) = stack.headOption.getOrElse((-1, -1))
      val op = if (isOp) id else parentOp
      val prevProp = sc.getLocalProperty(Tracer.SpanProperty)
      stack = (id, op) :: stack
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val t0 = Clock.nowUs
      try body
      finally {
        val t1 = Clock.nowUs
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty, prevProp)
        synchronized { spans += Span(id, layer, name, t0, t1, parent, op) }
      }
    }

  /** Id of the most recent span of `layer` (the pass just closed). */
  def lastSpanId(layer: String): Int =
    synchronized(spans.reverseIterator.find(_.layer == layer).map(_.id).getOrElse(-1))

  /** Everything recorded under the pass span `passId`: its driver spans
    * plus the job, stage and plan spans attributed to them. */
  def passView(passId: Int): PassView = {
    drain()
    val driver = synchronized(spans.toVector)
    val byId = driver.map(s => s.id -> s).toMap
    def inPass(id: Int): Boolean = {
      var cur = id
      while (cur != -1 && cur != passId) cur = byId.get(cur).map(_.parent).getOrElse(-1)
      cur == passId
    }
    val own = driver.filter(s => s.id == passId || inPass(s.id))
    val ownIds = own.map(_.id).toSet
    val passJobs = jobs.asScala.toVector.filter(j => ownIds.contains(j.span))
    val jobIds = passJobs.map(_.id).toSet
    val passStages = stages.asScala.toVector.collect {
      case ((sid, _), a) if jobIds.contains(a.jobId) && a.completedMs >= 0 => (sid, a)
    }
    val pass = byId(passId)
    val passPhases = phases.asScala.toVector
      .filter(p => p.startMs * 1000L >= pass.startUs && p.endMs * 1000L <= pass.endUs + 1000L)
    PassView(own, passJobs, passStages, passPhases)
  }

  /** Spans of the whole run as JSON lines (driver, job, stage and plan). */
  def writeJsonLines(path: java.nio.file.Path, views: Seq[PassView]): Unit = {
    val lines = views.flatMap(_.allSpans).map { s =>
      s"""{"id":${s.id},"layer":"${s.layer}","name":"${Json.esc(s.name)}","start_us":${s.startUs},""" +
        s""""end_us":${s.endUs},"parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** What one traced pass recorded, and the per-layer figures derived from it. */
final case class PassView(driver: Vector[Span], jobs: Vector[JobRec],
    stages: Vector[(Int, StageAgg)], phases: Vector[PhaseRec]) {

  private val driverById = driver.map(s => s.id -> s).toMap

  /** Job, stage and Catalyst-phase spans, parented into the driver tree.
    * Ids are offset so they never collide with driver span ids. */
  lazy val allSpans: Vector[Span] = {
    val jobSpans = jobs.map { j =>
      val p = driverById.get(j.span)
      Span(1000000 + j.id, "job", s"job ${j.id}", j.startMs * 1000L, j.endMs * 1000L,
        j.span, p.map(_.op).getOrElse(-1))
    }
    val jobOp = jobSpans.map(s => s.id - 1000000 -> s).toMap
    val stageSpans = stages.map { case (sid, a) =>
      val js = jobOp.get(a.jobId)
      Span(2000000 + sid, "stage", a.name, a.submittedMs * 1000L, a.completedMs * 1000L,
        js.map(_.id).getOrElse(-1), js.map(_.op).getOrElse(-1))
    }
    // a Catalyst phase belongs to the innermost driver span containing it
    val leaves = driver.filter(s => s.layer == "build" || s.layer == "exec")
    val planSpans = phases.zipWithIndex.map { case (p, i) =>
      val (s0, s1) = (p.startMs * 1000L, p.endMs * 1000L)
      val host = leaves.find(s => s.startUs <= s0 + 999 && s0 <= s.endUs)
      Span(3000000 + i, "plan", p.phase, s0, s1, host.map(_.id).getOrElse(-1),
        host.map(_.op).getOrElse(-1))
    }
    driver ++ jobSpans ++ stageSpans ++ planSpans
  }

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover, summed over the layer (seconds). */
  def selfSeconds: Map[String, Double] = {
    val children = allSpans.groupBy(_.parent)
    allSpans.groupBy(_.layer).map { case (layer, ss) =>
      val self = ss.map { s =>
        val kids = children.getOrElse(s.id, Vector.empty)
          .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
          .filter(iv => iv._2 > iv._1)
        s.durUs - Intervals.covered(kids)
      }.sum
      layer -> self / 1e6
    }
  }

  def opSpans: Vector[Span] = driver.filter(_.layer == "op")

  /** Jobs fired under `op`'s spans of `layer` ("build" or "exec"). */
  def jobsOf(op: Span, layer: String): Vector[JobRec] = {
    val ids = driver.filter(s => s.op == op.id && s.layer == layer).map(_.id).toSet
    jobs.filter(j => ids.contains(j.span))
  }

  def stagesOf(js: Seq[JobRec]): Vector[StageAgg] = {
    val ids = js.map(_.id).toSet
    stages.collect { case (_, a) if ids.contains(a.jobId) => a }
  }

  /** Seconds during which at least one job of the pass was running. */
  def execSeconds: Double = Intervals.covered(jobs.map(j => (j.startMs * 1000L, j.endMs * 1000L))) / 1e6
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def covered(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
