package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // plan pins (PlanAuditSpec) assert the AT-SCALE plan shapes, where the
    // file layout supplies scan parallelism and SparkEntry.fanned (applied
    // per call site, never inside tbl()) is the identity — run the suite in
    // that mode (FanOutSpec covers the local fan-out mode's result-identity
    // explicitly)
    .config("spark.graft.scan.fanout", "false")
    .getOrCreate()
}

trait SparkSuite {
  lazy val spark: SparkSession = SparkSuite.spark

  /** `body`'s result and the number of Spark jobs it started. Listener
    * events arrive in order, so once a marker job's start is seen every job
    * `body` fired has been counted. */
  def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.suite.marker") != null)
          drained.countDown()
        else jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty("spark.suite.marker", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("spark.suite.marker", null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never started")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Order-insensitive multiset equality between a Dataset and expected rows. */
  def assertMultiset[T](ds: Dataset[T], expected: Seq[T]): Unit = {
    val got = ds.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val want = expected.groupBy(identity).view.mapValues(_.size).toMap
    assert(got == want, s"multiset mismatch:\n  got  = $got\n  want = $want")
  }

  /**
   * Layout-invariant checker (rebuild of the reference's `validGroupSorted`):
   * keys must not span partitions, each key's rows must be consecutive, and
   * per-key values must be ordered under `ordV`.
   */
  def assertGroupSorted[K, V](ds: Dataset[(K, V)], ordV: Option[Ordering[V]]): Unit = {
    val partitions: Array[Seq[(K, V)]] = ds.rdd
      .mapPartitions(it => Iterator.single(it.toSeq), preservesPartitioning = true)
      .collect()
    // keys do not span partitions
    val keysPerPartition = partitions.map(_.map(_._1).toSet)
    for {
      i <- keysPerPartition.indices
      j <- keysPerPartition.indices if i < j
    } assert(keysPerPartition(i).intersect(keysPerPartition(j)).isEmpty,
      s"keys span partitions $i and $j")
    partitions.foreach { rows =>
      // key runs are consecutive
      val keyRuns = rows.map(_._1).foldLeft(List.empty[K]) {
        case (acc, k) if acc.headOption.contains(k) => acc
        case (acc, k) => k :: acc
      }
      assert(keyRuns.distinct.size == keyRuns.size, s"key runs not consecutive: ${rows.map(_._1)}")
      // per-key value order
      ordV.foreach { ord =>
        rows.groupBy(_._1).values.foreach { group =>
          val vs = group.map(_._2)
          assert(vs == vs.sorted(ord), s"values not sorted within key: $vs")
        }
      }
    }
  }
}
