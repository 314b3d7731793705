package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Plan dump for the optimization rounds: writes `.explain("formatted")`
  * for each named query to `<outDir>/<name>_<suffix>.txt`. Usage:
  *
  *   runMain graft.Plans <sfDir> <outDir> <suffix> q193_char_entropy,q204_release_pipeline
  *   runMain graft.Plans <sfDir> <outDir> <suffix> all
  *
  * Same session shape as Bench (master/local[$SPARK_GRAFT_CPUS], shuffle
  * partitions = cpus) so the captured plans are the benched plans. Note
  * some query constructors still run eager work before returning their
  * frame — staged exports and their digest checks (q231, q237, q241, ...),
  * standing-store builds (the `ensure*` helpers, warmed by `prepare`),
  * q255's data-dependent resume point, and one-off `isEmpty` checks (e.g.
  * q242's fallback stripe, q249's epochs_differ) — so dumping a plan can
  * take real time. Equivalence gates are not among them: they are
  * broadcast sub-plans of the dumped plan.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val names: Seq[String] =
      if (args.length < 4 || args(3) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(3).split(",").toSeq
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // SPARK_GRAFT_FANOUT=false captures the at-scale plan shape (the
      // fan-out is the identity there) — the "before" plan for the
      // round-14 optimization deliverables
      .config("spark.graft.scan.fanout",
        sys.env.getOrElse("SPARK_GRAFT_FANOUT", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.prepare(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        System.out.println(s"[plans] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      } finally SparkEntry.drainCleanups()
    }
    spark.stop()
  }
}
