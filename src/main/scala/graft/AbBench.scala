package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** Paired A/B timing for a boolean query-shape conf (optimization
  * tooling): runs each named query alternately with the conf off and on
  * inside ONE session, interleaved across passes, and reports per-mode
  * minima. Ambient CPU-steal bursts hit both modes of a pass equally, so
  * the paired minima are window-robust where two separate full-bench
  * sweeps are not. The conf defaults to the round-14 scan fan-out; other
  * query-shape switches (spark.graft.query.persist) pass as the optional
  * 4th arg. Usage:
  *   SPARK_GRAFT_CPUS=32 runMain graft.AbBench <sfDir> <reps> q1,q2,... [confKey]
  */
object AbBench {
  def main(args: Array[String]): Unit = {
    val (sfDir, reps) = (args(0), args(1).toInt)
    val names = args(2).split(",").toSeq
    val confKey = if (args.length > 3) args(3) else "spark.graft.scan.fanout"
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id) as s").collect()
    SparkEntry.tbl(spark, sfDir, "lineitem").limit(10).collect()
    SparkEntry.prepare(spark, sfDir)
    def once(name: String, on: Boolean): Double = {
      spark.conf.set(confKey, on.toString)
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
          .agg(expr("bit_xor(h)")).collect()
        (System.nanoTime() - t0) / 1e9
      } finally SparkEntry.drainCleanups()
    }
    val acc = scala.collection.mutable.Map[(String, Boolean), Vector[Double]]()
      .withDefaultValue(Vector.empty)
    // COUNTER-BALANCED order: alternate which mode runs first each pass.
    // Back-to-back runs of one query are not exchangeable — the first run
    // warms the page cache / JIT / codegen caches for the second
    // (measured: identical-code control queries showed a systematic
    // 0.3-0.9 s "win" for whichever mode ran second). Alternating the
    // order cancels the position advantage across passes.
    for (rep <- 1 to reps; name <- names;
         mode <- if (rep % 2 == 1) Seq(false, true) else Seq(true, false))
      acc((name, mode)) :+= once(name, mode)
    names.foreach { n =>
      val off = acc((n, false)).min
      val on = acc((n, true)).min
      println(f"[ab] $n%-34s off=$off%7.3f on=$on%7.3f  delta=${on - off}%+7.3f  " +
        s"offs=${acc((n, false)).map(t => f"$t%.2f").mkString(",")} " +
        s"ons=${acc((n, true)).map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
