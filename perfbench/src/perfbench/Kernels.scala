package perfbench

import graft.sorted.iterators

/** The `sorted.iterators` streaming kernels timed in the driver JVM on
  * seed-generated, key-sorted arrays, with no Spark in the loop. Each
  * kernel's output is checked against a plain-collections computation. */
object Kernels {
  final case class Result(metrics: Map[String, Double], attempted: Int, failed: Int)

  private val Reps = 7

  /** `n` (key, value) rows sorted by key, keys uniform over `keySpan`. */
  private def sortedRows(rnd: scala.util.Random, n: Int, keySpan: Int): Array[(Long, Long)] =
    Array.fill(n)((rnd.nextInt(keySpan).toLong, rnd.nextInt(1000).toLong)).sortBy(_._1)

  /** Median nanoseconds of `Reps` timed runs of `body` (after one warm run),
    * and the value the last run returned. */
  private def time[A](body: => A): (Double, A) = {
    var last = body
    val ns = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      last = body
      (System.nanoTime() - t0).toDouble
    }.sorted
    (ns(Reps / 2), last)
  }

  def run(seed: Long, rows: Int): Result = {
    val rnd = new scala.util.Random(seed)
    val left = sortedRows(rnd, rows, rows / 2)
    val right = sortedRows(rnd, rows / 2, rows / 2)

    // mapStream: per-key sum, streamed
    val (msNs, msOut) = time {
      var acc = 0L; var keys = 0
      iterators.mapStream(left.iterator)(vs => Iterator.single(vs.sum))
        .foreach { case (_, s) => acc += s; keys += 1 }
      (keys, acc)
    }
    val msWant = (left.map(_._1).distinct.length, left.map(_._2).sum)

    // mergeJoin: inner product per key
    val (mjNs, mjOut) = time {
      var n = 0L; var acc = 0L
      iterators.mergeJoin(left.iterator, right.iterator)(iterators.innerProduct[Long, Long])
        .foreach { case (_, (a, b)) => n += 1; acc += a * 1000 + b }
      (n, acc)
    }
    val rightByKey = right.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val mjWant = left.foldLeft((0L, 0L)) { case ((n, acc), (k, a)) =>
      val bs = rightByKey.getOrElse(k, Array.empty[Long])
      (n + bs.length, acc + bs.map(b => a * 1000 + b).sum)
    }

    // mergeUnion: order-preserving merge of the two sorted runs
    val (muNs, muOut) = time {
      var n = 0L; var prev = Long.MinValue; var sorted = true
      iterators.mergeUnion(left.iterator, right.iterator)(Ordering.by[(Long, Long), Long](_._1))
        .foreach { case (k, _) => n += 1; if (k < prev) sorted = false; prev = k }
      (n, sorted)
    }
    val muWant = ((left.length + right.length).toLong, true)

    val checks = Seq(msOut == msWant, mjOut == mjWant, muOut == muWant)
    Result(Map(
      "iterators.mapstream_ns_per_row" -> msNs / left.length,
      "iterators.mergejoin_ns_per_row" -> mjNs / (left.length + right.length),
      "iterators.mergeunion_ns_per_row" -> muNs / (left.length + right.length)),
      checks.size, checks.count(!_))
  }
}
