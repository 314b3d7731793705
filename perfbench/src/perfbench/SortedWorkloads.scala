package perfbench

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.rdd.syntax._
import graft.sorted.syntax._

/** Seeded generators for the sorted workloads' inputs. Every column is a
  * pure function of (seed, row id, salt), so a seed fixes the inputs
  * whatever the partitioning. */
object Gen {
  /** Uniform double in [0, 1) from 53 bits of `xxhash64(seed, id, salt)`. */
  def uniform(seed: Long, salt: Int): Column =
    shiftrightunsigned(xxhash64(lit(seed), col("id"), lit(salt)), 11).cast("double") /
      lit(9007199254740992.0)

  def hashMod(seed: Long, salt: Int, m: Long): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(m))

  /** `(user_id, ts, event_id, value)` rows: one hot key holding `hotShare`
    * of the rows, the rest log-uniform over [1, rows] (P(k) ~ 1/k, a Zipf
    * law), which leaves a long tail of keys with a single row. */
  def events(spark: SparkSession, seed: Long, rows: Long, parts: Int, hotShare: Double): DataFrame =
    spark.range(0L, rows, 1L, parts).select(
      when(uniform(seed, 1) < hotShare, lit(0L))
        .otherwise(floor(exp(uniform(seed, 2) * lit(math.log(rows.toDouble)))).cast("long"))
        .as("user_id"),
      (lit(1700000000000000L) + hashMod(seed, 3, 86400000000L)).as("ts"),
      col("id").as("event_id"),
      hashMod(seed, 4, 1000L).as("value"))

  /** One side of the merge workload: keys uniform over `keys` keys starting
    * at `offset`, except `hotShare` of the rows on the five many-to-many
    * keys 0..4 that both sides share. */
  def side(spark: SparkSession, seed: Long, salt: Int, rows: Long, parts: Int,
      keys: Long, offset: Long, hotShare: Double): DataFrame =
    spark.range(0L, rows, 1L, parts).select(
      when(uniform(seed, salt) < hotShare, hashMod(seed, salt + 1, 5L))
        .otherwise(lit(offset) + floor(uniform(seed, salt + 2) * lit(keys.toDouble)).cast("long"))
        .as("user_id"),
      (lit(1700000000000000L) + hashMod(seed, salt + 3, 86400000000L)).as("ts"),
      (col("id") + lit(salt.toLong * 1000000000L)).as("event_id"),
      hashMod(seed, salt + 4, 1000L).as("value"))

  /** Write `df` as parquet (one file per partition) and return its seconds. */
  def write(df: DataFrame, path: String): Double = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").parquet(path)
    (System.nanoTime() - t0) / 1e9
  }

  def dirBytes(path: String): Long = {
    val root = new java.io.File(path)
    if (!root.exists()) 0L
    else {
      val walk = java.nio.file.Files.walk(root.toPath)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size(_)).sum
      } finally walk.close()
    }
  }
}

/** Shared plumbing of the two halves of the `sorted` workload. */
abstract class SortedBase(spark: SparkSession, seed: Long, work: String, cores: Int,
    setupReps: Int) extends Workload {
  import spark.implicits._

  type Ev = (Long, (Long, Long, Long))

  /** The typed `(key, (ts, event_id, value))` view of a generated input. */
  protected def typed(path: String): Dataset[Ev] =
    spark.read.parquet(path)
      .select(col("user_id"), struct(col("ts"), col("event_id"), col("value")).as("v"))
      .as[Ev]

  protected def raw(path: String): DataFrame = spark.read.parquet(path)

  protected def valueStruct(df: DataFrame): Column =
    struct(df("ts"), df("event_id"), df("value"))

  /** The generated inputs, by name, at `rows` rows of the main input. */
  protected def inputs(rows: Long): Seq[(String, DataFrame)]
  protected def fullRows: Long

  /** Which set-up rep's copy of the inputs the ops read. */
  private var copy = ""
  protected def inputPath(name: String): String = s"$work/$name-$copy"

  /** Generate every input `setupReps` times; the last copy is the one read. */
  def setup(): Seq[Double] =
    (1 to setupReps).map { rep =>
      copy = s"r$rep"
      inputs(fullRows).map { case (name, df) => Gen.write(df, inputPath(name)) }.sum
    }
}

/** The per-key functions the sorted ops stream, kept in a top-level object
  * so Spark's closures capture nothing else. */
object Fns {
  /** Exponential moving average step, the reference's flagship fold. */
  def ema(acc: Double, v: (Long, Long, Long)): Double = 0.8 * acc + 0.2 * v._3
}

/**
 * The streaming half of `sorted`: the paper's core. One Zipf-keyed event input; the
 * `groupSort` layout alone, then the per-key streaming operators on it,
 * the same fold through `GroupSortedRDD`, and (traced runs) the
 * `iterators` kernels on seed-generated sorted arrays.
 */
final class SortedStream(spark: SparkSession, seed: Long, work: String, cores: Int,
    rows: Long, setupReps: Int)
    extends SortedBase(spark, seed, work, cores, setupReps) {
  import spark.implicits._

  def scale: String = s"rows=$rows"
  def inputRows: Long = rows
  private val hotShare = 0.05
  private def input: String = inputPath("in")
  protected def fullRows: Long = rows

  protected def inputs(n: Long): Seq[(String, DataFrame)] =
    Seq("in" -> Gen.events(spark, seed, n, cores, hotShare))

  override def standingBytes: Long = Gen.dirBytes(input)

  def ops(pass: Int): Seq[Op] = {
    val valueOrd = Ordering[(Long, Long, Long)]
    Seq(
      Op("layout", "sorted.layout", () => typed(input).groupSort().toDS.toDF()),
      Op("fold", "sorted.fold", () =>
        typed(input).groupSort().foldLeftByKey(0.0)(Fns.ema).toDF()),
      Op("scan", "sorted.scan", () =>
        typed(input).groupSort().scanLeftByKey(0L)((acc, v) => acc + v._3).toDF()),
      Op("mapstream", "sorted.mapstream", () =>
        typed(input).groupSort().mapStreamByKey(_.take(3).map(_._2)).toDF()),
      Op("reduce", "sorted.reduce", () =>
        typed(input).groupSort()
          .reduceLeftByKey[(Long, Long, Long)]((a, b) => if (b._3 > a._3) b else a).toDF()),
      Op("rdd_layout", "rdd.layout", () =>
        spark.createDataset(typed(input).rdd.groupSort(cores, valueOrd): org.apache.spark.rdd.RDD[Ev]).toDF()),
      Op("rdd_fold", "rdd.fold", () =>
        spark.createDataset(typed(input).rdd.groupSort(cores, valueOrd).foldLeftByKey(0.0)(Fns.ema)
          : org.apache.spark.rdd.RDD[(Long, Double)]).toDF()))
  }

  /** Independent Spark SQL formulations: `aggregate(array_sort(collect_list))`
    * for fold and reduce, window functions for scan and top-k. */
  def expected(): Map[String, Fp] = {
    val in = raw(input)
    val v = valueStruct(in)
    val layout = Fp.of(in.select(col("user_id"), v))
    // one grouping feeds fold and reduce, one windowing feeds scan and top-k
    val grouped = in.groupBy("user_id").agg(array_sort(collect_list(v)).as("arr")).cache()
    val fold = Fp.of(grouped.select(col("user_id"), aggregate(col("arr"), lit(0.0),
      (acc, x) => lit(0.8) * acc + lit(0.2) * x.getField("value").cast("double"))))
    val reduce = Fp.of(grouped.select(col("user_id"), aggregate(col("arr"), element_at(col("arr"), 1),
      (acc, x) => when(x.getField("value") > acc.getField("value"), x).otherwise(acc))))
    grouped.unpersist()
    val byTime = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy("ts", "event_id")
    val windowed = in.select(col("user_id"), col("event_id"),
      sum("value").over(byTime.rowsBetween(Long.MinValue, 0L)).as("acc"),
      row_number().over(byTime).as("rn")).cache()
    val scan = Fp.of(windowed.select(col("user_id"), col("acc"))
      .unionAll(windowed.where(col("rn") === 1).select(col("user_id"), lit(0L).as("acc"))))
    val topk = Fp.of(windowed.where(col("rn") <= 3).select("user_id", "event_id"))
    windowed.unpersist()
    Map("layout" -> layout, "fold" -> fold, "scan" -> scan, "mapstream" -> topk,
      "reduce" -> reduce, "rdd_layout" -> layout, "rdd_fold" -> fold)
  }

  override def samePairs: Seq[(String, String)] =
    Seq("layout" -> "rdd_layout", "fold" -> "rdd_fold")

  private var kernelChecks = (0, 0)
  override def extraChecks: (Int, Int) = kernelChecks

  override def extraLayerMetrics(): Map[String, Double] = {
    val k = Kernels.run(seed, rows.toInt)
    kernelChecks = (k.attempted, k.failed)
    k.metrics
  }
}

/**
 * The merge half of `sorted`: two inputs with partial key overlap and five
 * many-to-many keys. The merge-join family on the narrow path (both sides
 * `groupSort(n)`) and the cogroup path, `mergeUnion` on its narrow and
 * shuffle paths, then `Sink.writeRangeSortedParquet` of the inner join and
 * a read-back with a key-range filter.
 */
final class SortedMerge(spark: SparkSession, seed: Long, work: String, cores: Int,
    leftRows: Long, setupReps: Int)
    extends SortedBase(spark, seed, work, cores, setupReps) {
  import spark.implicits._

  private val rightRows = leftRows / 2
  private val leftKeys = leftRows / 2
  private val rightKeys = leftKeys
  private val rightOffset = 5L + leftKeys / 2
  private val hotShare = 0.002
  def scale: String = s"left=$leftRows,right=$rightRows"
  def inputRows: Long = leftRows + rightRows
  private def left: String = inputPath("left")
  private def right: String = inputPath("right")
  private def sinkPath: String = inputPath("sink")
  /** The read-back's key range: a tenth of the overlap, placed by the seed. */
  private val (lo, hi) = {
    val span = math.max(1L, leftKeys / 10)
    val start = rightOffset + java.lang.Math.floorMod(seed * 7919L, math.max(1L, leftKeys / 2 - span))
    (start, start + span)
  }

  protected def fullRows: Long = leftRows

  protected def inputs(n: Long): Seq[(String, DataFrame)] = Seq(
    "left" -> Gen.side(spark, seed, 10, n, cores, leftKeys, 5L, hotShare),
    "right" -> Gen.side(spark, seed, 20, n / 2, cores, rightKeys, rightOffset, hotShare))

  override def standingBytes: Long = Gen.dirBytes(left) + Gen.dirBytes(right)

  private def narrowCheck(l: graft.sorted.GroupSortedDataset[Long, (Long, Long, Long)],
      r: graft.sorted.GroupSortedDataset[Long, (Long, Long, Long)], narrow: Boolean): Unit =
    require(l.canNarrowJoinWith(r) == narrow,
      s"expected the ${if (narrow) "narrow" else "cogroup"} merge-join path")

  private def joinOp(kind: String, narrow: Boolean): Op = {
    val path = if (narrow) "narrow" else "cogroup"
    Op(s"join_${path}_$kind", s"sorted.join_$path", () => {
      val (l, r) =
        if (narrow) (typed(left).groupSort(cores), typed(right).groupSort(cores))
        else (typed(left).groupSort(), typed(right).groupSort())
      narrowCheck(l, r, narrow)
      kind match {
        case "inner" => l.mergeJoinInner(r).toDF()
        case "left" => l.mergeJoinLeftOuter(r).toDF()
        case _ => l.mergeJoinOuter(r).toDF()
      }
    })
  }

  private def innerNarrowFlat(): DataFrame = {
    val l = typed(left).groupSort(cores)
    l.mergeJoinInner(typed(right).groupSort(cores)).toDF()
      .select(col("_1").as("user_id"), col("_2._1").as("l"), col("_2._2").as("r"))
  }

  def ops(pass: Int): Seq[Op] =
    Seq("inner", "left", "outer").flatMap(k => Seq(joinOp(k, narrow = true), joinOp(k, narrow = false))) ++
    Seq(
      Op("union_narrow", "sorted.union_narrow", () =>
        typed(left).groupSort(cores).mergeUnion(typed(right).groupSort(cores)).toDS.toDF()),
      Op("union_shuffle", "sorted.union_shuffle", () =>
        typed(left).groupSort().mergeUnion(typed(right).groupSort()).toDS.toDF()),
      Op("sink_write", "sources.sink_write", () => innerNarrowFlat(), action = df => {
        graft.sources.Sink.writeRangeSortedParquet(df, sinkPath, Seq("user_id"), numFiles = cores)
        Fp(0L, 0L)
      }, verify = Some(() => sinkCheck())),
      Op("readback", "sources.readback", () =>
        spark.read.parquet(sinkPath).where(col("user_id").between(lo, hi))))

  /** The sink read back whole: its fingerprint, once each file is found
    * sorted on `user_id` with a key range no other file overlaps. */
  private def sinkCheck(): Fp = {
    val runs = spark.read.parquet(sinkPath).select(input_file_name(), col("user_id"))
      .as[(String, Long)]
      .mapPartitions { rows =>
        // (file, first key, last key, sorted) per run of one file's rows
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Boolean)]
        var file: String = null
        var first, prev = 0L
        var sorted = true
        rows.foreach { case (f, k) =>
          if (f != file) {
            if (file != null) out += ((file, first, prev, sorted))
            file = f; first = k; sorted = true
          } else if (k < prev) sorted = false
          prev = k
        }
        if (file != null) out += ((file, first, prev, sorted))
        out.iterator
      }.collect()
    val files = runs.groupBy(_._1).values
      .map(rs => (rs.map(_._2).min, rs.map(_._3).max, rs.forall(_._4))).toSeq.sortBy(_._1)
    require(files.forall(_._3), "a sink file is not sorted on user_id")
    require(files.zip(files.drop(1)).forall { case (a, b) => a._2 < b._1 },
      "sink files' user_id ranges overlap")
    Fp.of(spark.read.parquet(sinkPath))
  }

  private def sinkFiles: Int =
    Option(new java.io.File(sinkPath).listFiles()).toSeq.flatten
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  /** Plain `join` / `union` formulations of the merge family. */
  def expected(): Map[String, Fp] = {
    val (l, r) = (raw(left), raw(right))
    val (lv, rv) = (valueStruct(l), valueStruct(r))
    val lHit = when(l("user_id").isNotNull, lv)
    val rHit = when(r("user_id").isNotNull, rv)
    val on = l("user_id") === r("user_id")
    val inner = l.join(r, on, "inner")
    val fps = Map(
      "inner" -> Fp.of(inner.select(l("user_id"), struct(lv, rv))),
      "left" -> Fp.of(l.join(r, on, "left").select(l("user_id"), struct(lv, rHit))),
      "outer" -> Fp.of(l.join(r, on, "full")
        .select(coalesce(l("user_id"), r("user_id")), struct(lHit, rHit))))
    val joins = fps.toSeq.flatMap { case (k, fp) => Seq(s"join_narrow_$k" -> fp, s"join_cogroup_$k" -> fp) }
    val union = Fp.of(l.select(col("user_id"), lv).unionAll(r.select(col("user_id"), rv)))
    val flat = inner.select(l("user_id").as("user_id"), lv.as("l"), rv.as("r"))
    joins.toMap ++ Map("union_narrow" -> union, "union_shuffle" -> union,
      "sink_write" -> Fp.of(flat), "readback" -> Fp.of(flat.where(col("user_id").between(lo, hi))))
  }

  override def samePairs: Seq[(String, String)] =
    Seq("inner", "left", "outer").map(k => s"join_narrow_$k" -> s"join_cogroup_$k") :+
      ("union_narrow" -> "union_shuffle")

  override def extraLayerMetrics(): Map[String, Double] = Map(
    "sources.sink_mb" -> Gen.dirBytes(sinkPath) / 1e6,
    "sources.sink_files" -> sinkFiles.toDouble)
}

/**
 * `sorted`: the paper's layer as one workload — the streaming half
 * ([[SortedStream]]) and the merge half ([[SortedMerge]]) in one pass,
 * after a warm-up pass that runs every op once.
 */
final class SortedOps(stream: SortedStream, merge: SortedMerge) extends Workload {
  private val parts = Seq[Workload](stream, merge)
  def scale: String = parts.map(_.scale).mkString(",")
  override def warmUpPass: Boolean = true
  def setup(): Seq[Double] = parts.map(_.setup()).transpose.map(_.sum)
  def expected(): Map[String, Fp] = parts.map(_.expected()).reduce(_ ++ _)
  def ops(pass: Int): Seq[Op] = parts.flatMap(_.ops(pass))
  def inputRows: Long = parts.map(_.inputRows).sum
  override def samePairs: Seq[(String, String)] = parts.flatMap(_.samePairs)
  override def extraLayerMetrics(): Map[String, Double] = parts.map(_.extraLayerMetrics()).reduce(_ ++ _)
  override def extraChecks: (Int, Int) =
    parts.map(_.extraChecks).foldLeft((0, 0))((a, b) => (a._1 + b._1, a._2 + b._2))
  def standingBytes: Long = parts.map(_.standingBytes).sum
}
