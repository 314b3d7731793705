package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Entry point of one benchmark run: one workload, one seed, one measuring
 * window. Prints a run record line and, as the last line of standard
 * output, the result object `{"correct", "attempted", "failed", "metrics"}`.
 *
 * Untraced runs (`--trace 0`) report the end-to-end metrics. Traced runs
 * (`--trace 1`) alternate untraced and traced passes and report the
 * per-layer metrics, derived from the spans of the traced passes, plus
 * `trace.overhead_s`.
 */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: String, records: String, fixtures: String, golden: String)

  /** Input sizes of the `sorted` workload, and how often set-up repeats. */
  private val StreamRows = 125000L
  private val MergeLeftRows = 100000L
  private val SetupReps = 3

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, need("work"), need("records"), need("fixtures"), need("golden"))
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val code =
      try run(parse(argv), t0)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    System.exit(code)
  }

  private def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  /** Seconds since start-up a traced run plans its passes to end within. */
  private val TraceBudgetS = 145.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Harrell-Davis estimate of quantile `q`: every order statistic weighted
    * by a Beta((n+1)q, (n+1)(1-q)) share. Each sample is a different op, so
    * a single order statistic jumps between ops from run to run; the
    * weighted average moves smoothly. */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.length
    if (n <= 1) s.headOption.getOrElse(0.0)
    else {
      val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
      val steps = 4000
      // regularised incomplete beta on a midpoint grid
      val cum = (0 until steps).map { k =>
        val x = (k + 0.5) / steps
        math.exp((a - 1) * math.log(x) + (b - 1) * math.log(1 - x))
      }.scanLeft(0.0)(_ + _)
      def cdf(x: Double): Double = cum(math.round(x * steps).toInt) / cum.last
      s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
    }
  }

  /** The highest percentile that still has at least ten samples beyond
    * it, capped at 0.90 and floored at the median. */
  private def tailQuantile(n: Int): Double = math.max(0.5, math.min(0.9, 1.0 - 10.0 / n))

  final case class OpRun(name: String, metric: String, seconds: Double, fp: Option[Fp])
  /** `heapPeakBytes`: the larger of `heapGcPeakBytes`, the most heap in use
    * right after one of the program's own collections during the pass, and
    * `heapAfterPassBytes`, heap in use after one full collection the harness
    * takes once the pass is timed. */
  final case class PassRun(traced: Boolean, seconds: Double, ops: Seq[OpRun], view: Option[PassView],
      heapGcPeakBytes: Long, heapAfterPassBytes: Long) {
    def heapPeakBytes: Long = math.max(heapGcPeakBytes, heapAfterPassBytes)
  }

  private def run(a: Args, t0: Long): Int = {
    val record = RunRecord.start()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secondsSince(t0)

    val workload: Workload = a.workload match {
      case "sorted" => new SortedOps(
        new SortedStream(spark, a.seed, a.work, a.cores, StreamRows, SetupReps),
        new SortedMerge(spark, a.seed, a.work, a.cores, MergeLeftRows, SetupReps))
      case "query_mix" => new QueryMix(spark, a.seed, a.fixtures, QueryMix.readGolden(a.golden),
        sys.props("java.io.tmpdir"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tWarm = System.nanoTime()
    warmUp(spark, a)
    val warmS = secondsSince(tWarm)
    val dataSetups = workload.setup()
    val inputRows = workload.inputRows

    val tracer = new Tracer(spark)
    val heap = new HeapPeak
    val passes = mutable.ArrayBuffer.empty[PassRun]
    def runPass(traced: Boolean): PassRun = {
      val p = passes.size
      tracer.setActive(traced)
      heap.reset()
      val tPass = System.nanoTime()
      val ops = workload.ops(p)
      val timed = tracer.span("pass", s"pass $p")(ops.map(op => runOp(op, tracer)))
      val passS = secondsSince(tPass)
      val gcPeak = heap.peak
      val afterPass = heap.afterFullCollection()
      val view = if (traced) Some(tracer.passView(tracer.lastSpanId("pass"))) else None
      tracer.setActive(false)
      // untimed and untraced: checks of what an op left behind
      val runs = ops.zip(timed).map { case (op, r) =>
        op.verify.filter(_ => r.fp.isDefined).fold(r)(v => r.copy(fp = attempt(op.name)(v())))
      }
      val run = PassRun(traced, passS, runs, view, gcPeak, afterPass)
      passes += run
      run
    }

    // The warm-up pass runs every op once before anything is timed; it is
    // checked like every pass and its time counts as set-up.
    val warmPassS = if (workload.warmUpPass) runPass(traced = false).seconds else 0.0
    val setupS = sessionS + warmS + median(dataSetups) + warmPassS
    val tExpected = System.nanoTime()
    val expected = workload.expected()
    val expectedS = secondsSince(tExpected)

    // Passes before `measured` are warm-up: the warm-up pass, or in a traced
    // run without one the first (cold) pass. An untraced run then measures
    // passes until the deadline, at least one. A traced run measures
    // untraced, traced, untraced when that fits in `TraceBudgetS`: the
    // traced pass sits between two untraced ones, so the JVM still warming
    // up across passes does not read as overhead. Otherwise it measures the
    // traced pass first and one untraced pass after it if that still fits.
    val measured = if (workload.warmUpPass || a.trace) 1 else 0
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    def fits(passCount: Int): Boolean = secondsSince(t0) + passCount * passes.last.seconds <= TraceBudgetS
    if (!a.trace) {
      runPass(traced = false)
      while (System.nanoTime() < deadline) runPass(traced = false)
    } else {
      if (passes.isEmpty) runPass(traced = false)
      if (fits(3)) runPass(traced = false)
      runPass(traced = true)
      if (fits(1)) runPass(traced = false)
    }

    // every op of every pass against the oracle, and the paths that must agree
    var attempted = 0
    var failed = 0
    val failures = mutable.LinkedHashSet.empty[String]
    passes.foreach { p =>
      val byName = p.ops.map(r => r.name -> r.fp).toMap
      p.ops.foreach { r =>
        attempted += 1
        if (r.fp.isEmpty || expected.get(r.name) != r.fp) {
          failed += 1
          failures += s"${r.name}: ${r.fp.getOrElse("error")} != ${expected.get(r.name).getOrElse("none")}"
        }
      }
      workload.samePairs.foreach { case (x, y) =>
        attempted += 1
        if (byName.get(x).flatten.isEmpty || byName.get(x).flatten != byName.get(y).flatten) {
          failed += 1
          failures += s"$x != $y"
        }
      }
    }
    failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))

    val extra = if (a.trace) workload.extraLayerMetrics() else Map.empty[String, Double]
    attempted += workload.extraChecks._1
    failed += workload.extraChecks._2

    val untraced = passes.drop(measured).filterNot(_.traced)
    val opTimes = untraced.flatMap(_.ops.map(_.seconds)).toSeq
    val hiQ = tailQuantile(opTimes.size)
    val passS = median(untraced.map(_.seconds).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", passS, "s"),
        ("op_s_p50", quantile(opTimes, 0.5), "s"),
        ("op_s_p90", quantile(opTimes, hiQ), "s"),
        ("rows_per_s", inputRows / passS, "1/s"),
        ("heap_peak_mb", untraced.map(_.heapPeakBytes).max / 1e6, "MB"),
        ("standing_store_mb", workload.standingBytes / 1e6, "MB"))
      else {
        val traced = passes.filter(_.traced).toSeq
        val perPass = traced.map(p => Layers.ofPass(p, a.cores))
        val keys = perPass.flatMap(_.keys).distinct
        val med = keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap
        val prepare = workload match {
          case q: QueryMix => q.prepareSeconds
          case _ => 0.0
        }
        // no untraced pass fitted: no overhead figure (reads 0)
        val overhead = if (untraced.isEmpty) 0.0 else median(traced.map(_.seconds)) - passS
        val all = med ++ extra ++ Map(
          "SparkEntry.prepare_s" -> prepare,
          "trace.overhead_s" -> overhead,
          "fail_ratio" -> failed.toDouble / math.max(1, attempted))
        Layers.Catalog.map { case (k, unit) => (k, all.getOrElse(k, 0.0), unit) }
      }

    val recordJson = record.finish(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> Json.num(a.seconds), "trace" -> (if (a.trace) "1" else "0"),
      "cores" -> a.cores.toString, "scale" -> Json.str(workload.scale),
      "input_rows" -> inputRows.toString,
      "session_s" -> Json.num(sessionS), "warmup_s" -> Json.num(warmS),
      "data_setup_s" -> dataSetups.map(Json.num).mkString("[", ",", "]"),
      "passes" -> passes.map(p => s"""{"traced":${p.traced},"s":${Json.num(p.seconds)},""" +
        s""""heap_gc_peak_mb":${Json.num(p.heapGcPeakBytes / 1e6)},""" +
        s""""heap_after_pass_mb":${Json.num(p.heapAfterPassBytes / 1e6)}}""").mkString("[", ",", "]"),
      "expected_s" -> Json.num(expectedS),
      "op_median_s" -> passes.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, rs) => s""""$n":${Json.num(median(rs.map(_.seconds).toSeq))}""" }
        .mkString("{", ",", "}"),
      "op_samples" -> opTimes.size.toString, "op_tail_quantile" -> Json.num(hiQ),
      "failures" -> failures.map(Json.str).mkString("[", ",", "]")))
    val stamp = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}-${System.currentTimeMillis()}"
    new java.io.File(a.records).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(a.records, s"$stamp.json"),
      (recordJson + "\n").getBytes("UTF-8"))
    if (a.trace) tracer.writeJsonLines(java.nio.file.Paths.get(a.records, s"$stamp.trace.jsonl"),
      passes.flatMap(_.view).toSeq)
    println("perfbench-record " + recordJson)

    spark.stop()
    val metricJson = metrics.map { case (k, v, unit) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$unit"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $metricJson}""")
    0
  }

  /** One op: build the frame and run the action. An exception fails the
    * op; its time is taken either way. */
  private def runOp(op: Op, tracer: Tracer): OpRun = {
    val t0 = System.nanoTime()
    val fp = attempt(op.name)(tracer.span("op", op.name, isOp = true) {
      try {
        val df = tracer.span("build", op.name)(op.build())
        tracer.span("exec", op.name)(op.action(df))
      } finally op.after()
    })
    OpRun(op.name, op.metric, secondsSince(t0), fp)
  }

  /** The fingerprint `body` computes, or None (reported) if it throws. */
  private def attempt(name: String)(body: => Fp): Option[Fp] =
    try Some(body)
    catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }

  /** JIT, codegen and shuffle warm-up, so the first timed op is not billed
    * the session's one-time start-up cost. */
  private def warmUp(spark: SparkSession, a: Args): Unit = {
    spark.range(100000).selectExpr("sum(id) as s").collect()
    if (a.workload == "query_mix")
      spark.read.parquet(s"${a.fixtures}/lineitem.parquet").limit(10).collect(): Unit
  }
}

/** Heap in use right after a collection. [[peak]] follows the collections
  * the program makes itself, from the collectors' notifications, and adds
  * none; [[afterFullCollection]] forces one full collection and reads the
  * heap left live. */
final class HeapPeak {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val max = new java.util.concurrent.atomic.AtomicLong(0L)

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        // the harness's own full collections are read by afterFullCollection
        if (info.getGcCause != "System.gc()") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          max.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = max.set(0L)
  def peak: Long = max.get()

  def afterFullCollection(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

/** The measuring window's conditions: load average and CPU steal. */
final class RunRecord private (loadStart: String, statStart: Option[Array[Long]]) {
  def finish(fields: Seq[(String, String)]): String = {
    val statEnd = RunRecord.cpuStat()
    val steal = for (s0 <- statStart; s1 <- statEnd) yield {
      val d = s1.zip(s0).map { case (x, y) => x - y }
      val total = d.take(8).sum
      if (total > 0) 100.0 * d(7) / total else 0.0
    }
    val all = fields ++ Seq(
      "loadavg_start" -> Json.str(loadStart), "loadavg_end" -> Json.str(RunRecord.loadavg()),
      "cpu_steal_pct" -> steal.map(Json.num).getOrElse("null"),
      "host_cpus" -> Runtime.getRuntime.availableProcessors().toString,
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION))
    all.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }
}

object RunRecord {
  private def read(path: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    catch { case _: Exception => None }

  def loadavg(): String = read("/proc/loadavg").map(_.trim).getOrElse("n/a")

  /** The aggregate `cpu` line of /proc/stat: user nice system idle iowait irq softirq steal. */
  def cpuStat(): Option[Array[Long]] =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map(_.trim.split("\\s+").drop(1).take(8).map(_.toLong)).filter(_.length == 8)

  def start(): RunRecord = new RunRecord(loadavg(), cpuStat())
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  /** A finite double with all its digits. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}
