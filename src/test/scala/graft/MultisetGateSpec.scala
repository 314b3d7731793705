package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}
import org.scalatest.funspec.AnyFunSpec

/** The one-pass multiset gate (SparkEntry.multisetDiff) must agree EXACTLY
  * with the literal exceptAll-both-ways form it replaced — same
  * symmetric-difference cardinality, hence the same emptiness verdict —
  * including duplicate rows, null fields, and array columns. The gate is a
  * lazy 1-row frame, so the suite also pins its shape: exactly one
  * never-null row even over empty inputs, and cross-join semantics when it
  * is broadcast into an output. */
class MultisetGateSpec extends AnyFunSpec with SparkSuite {

  private def literalDiffCount(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).unionByName(b.toDF(a.columns: _*).exceptAll(a)).count()

  private def diff(a: DataFrame, b: DataFrame): Long =
    SparkEntry.multisetDiff(a, b).head.getLong(0)

  private def checkAgainstLiteral(a: DataFrame, b: DataFrame): Unit = {
    val want = literalDiffCount(a, b)
    assert(diff(a, b) == want, "diff count diverged from exceptAll form")
  }

  it("matches exceptAll on equal multisets with duplicates") {
    import spark.implicits._
    val a = Seq((1L, "x"), (1L, "x"), (2L, "y")).toDF("k", "v")
    val b = Seq((2L, "y"), (1L, "x"), (1L, "x")).toDF("k", "v")
    checkAgainstLiteral(a, b)
    assert(diff(a, b) == 0L)
  }

  it("counts asymmetric duplicates exactly (|a minus b| + |b minus a|)") {
    import spark.implicits._
    // a has 3x(1,x), b has 1x(1,x) and 2x(3,z): diff = 2 + 2 = 4
    val a = Seq((1L, "x"), (1L, "x"), (1L, "x"), (2L, "y")).toDF("k", "v")
    val b = Seq((1L, "x"), (2L, "y"), (3L, "z"), (3L, "z")).toDF("k", "v")
    checkAgainstLiteral(a, b)
    assert(diff(a, b) == 4L)
  }

  it("treats null fields as equal, like exceptAll") {
    import spark.implicits._
    val a = Seq((Some(1L), Option.empty[String]), (None, Some("y")))
      .toDF("k", "v")
    val b = Seq((None, Some("y")), (Some(1L), Option.empty[String]))
      .toDF("k", "v")
    checkAgainstLiteral(a, b)
    assert(diff(a, b) == 0L)
    val c = Seq((Some(1L), Option.empty[String])).toDF("k", "v")
    checkAgainstLiteral(a, c)
    assert(diff(a, c) != 0L)
  }

  it("compares array columns (the artifact gates' shape)") {
    import spark.implicits._
    val a = Seq((1L, Seq(1L, 2L, 3L)), (2L, Seq.empty[Long])).toDF("k", "ids")
    val b = Seq((2L, Seq.empty[Long]), (1L, Seq(1L, 2L, 3L))).toDF("k", "ids")
    checkAgainstLiteral(a, b)
    val c = Seq((1L, Seq(1L, 2L)), (2L, Seq.empty[Long])).toDF("k", "ids")
    checkAgainstLiteral(a, c)
    assert(diff(a, c) != 0L)
  }

  it("matches positionally when column names differ, like exceptAll") {
    import spark.implicits._
    val a = Seq((1L, 2L)).toDF("x", "y")
    val b = Seq((1L, 2L)).toDF("p", "q")
    checkAgainstLiteral(a, b)
    assert(diff(a, b) == 0L)
  }

  it("yields exactly one never-null row with n_diff = 0 over two empty inputs") {
    import spark.implicits._
    val a = Seq.empty[(Long, String)].toDF("k", "v")
    val b = Seq.empty[(Long, String)].toDF("k", "v")
    val gate = SparkEntry.multisetDiff(a, b)
    assert(gate.columns.toSeq == Seq("n_diff"))
    assert(!gate.schema("n_diff").nullable)
    val rows = gate.collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 0L)
    checkAgainstLiteral(a, b)
  }

  it("cross-joins onto an output: empty stays empty, otherwise every row carries the verdict") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val b = Seq((1L, "x"), (3L, "z")).toDF("k", "v")
    val verdict = SparkEntry.multisetDiff(a, b)
      .select((col("n_diff") === 0L).as("exact"))
    val empty = Seq.empty[Long].toDF("id")
    assert(empty.crossJoin(broadcast(verdict)).collect().isEmpty)
    val out = Seq(10L, 20L, 30L).toDF("id").crossJoin(broadcast(verdict))
    assert(out.columns.toSeq == Seq("id", "exact"))
    assertMultiset(out.as[(Long, Boolean)],
      Seq((10L, false), (20L, false), (30L, false)))
    val same = Seq(10L, 20L).toDF("id")
      .crossJoin(broadcast(SparkEntry.multisetDiff(a, a)))
    assertMultiset(same.as[(Long, Long)], Seq((10L, 0L), (20L, 0L)))
  }
}
