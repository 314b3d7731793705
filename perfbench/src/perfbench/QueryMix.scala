package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/**
 * `query_mix`: the per-query fixed cost of the registry. A fixed list of
 * `SparkEntry.queries` over the read-only fixtures after
 * `SparkEntry.prepare`; the seed only permutes the order within a pass.
 * Each result is forced on every column and checked against the golden
 * fingerprint recorded from an oracle-verified commit.
 */
final class QueryMix(spark: SparkSession, seed: Long, fixtures: String,
    golden: Map[String, Fp], standingRoot: String) extends Workload {
  import QueryMix._

  def scale: String = new java.io.File(fixtures).getName

  private var prepareS = 0.0
  def prepareSeconds: Double = prepareS

  /** Session-level standing assets: the layouts and indexes `prepare`
    * writes under `java.io.tmpdir`. Timed as the set-up. */
  def setup(): Seq[Double] = {
    val t0 = System.nanoTime()
    SparkEntry.prepare(spark, fixtures)
    prepareS = (System.nanoTime() - t0) / 1e9
    Seq(prepareS)
  }

  def standingBytes: Long =
    Option(new java.io.File(standingRoot).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft-"))
      .map(f => Gen.dirBytes(f.getPath)).sum

  /** Fixture rows, counted from the parquet footers. */
  lazy val inputRows: Long =
    Option(new java.io.File(fixtures).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
      .map(f => spark.read.parquet(f.getPath).count()).sum

  def expected(): Map[String, Fp] = golden

  def ops(pass: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(Queries).map { q =>
      Op(q, "SparkEntry", () => SparkEntry.queries(q)(spark, fixtures),
        after = () => SparkEntry.drainCleanups())
    }
}

object QueryMix {
  /** Cheap floor rows; the round-15 eager-gate rows; the iterative
    * builders; the operator-heavy rows. The run-time budget leaves out
    * q04, q06, q15 and q22 of the floor rows and the builders q255 and
    * q258 (see NOTES.md). */
  val Queries: Seq[String] = Seq(
    "q01_topn_per_key", "q05_combine_sum", "q11_join_inner",
    "q171_postings_incremental", "q181_ann_incremental", "q188_nb_incremental",
    "q198_lm_incremental",
    "q187_bpe_learned", "q217_bpe_batched", "q162_incremental_components",
    "q186_fuzzy_join", "q189_allpairs_cosine", "q191_knn_graph")

  /** Queries whose build-time job count is reported one by one. */
  val BuildJobQueries: Seq[String] = Seq(
    "q171_postings_incremental", "q181_ann_incremental", "q188_nb_incremental",
    "q198_lm_incremental", "q187_bpe_learned", "q217_bpe_batched")

  /** Operator families and the queries whose time they own. */
  val OperatorQueries: Seq[(String, Seq[String])] = Seq(
    "operators.similarity_s" -> Seq("q189_allpairs_cosine", "q191_knn_graph"),
    "operators.fuzzy_s" -> Seq("q186_fuzzy_join"),
    "operators.bpe_s" -> Seq("q187_bpe_learned", "q217_bpe_batched"),
    "operators.components_s" -> Seq("q162_incremental_components"))

  /** The golden fingerprints: `{"<query>": [rows, xor], ...}`. */
  def readGolden(path: String): Map[String, Fp] = {
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    "\"(q[^\"]+)\"\\s*:\\s*\\[\\s*(-?\\d+)\\s*,\\s*(-?\\d+)\\s*\\]".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> Fp(m.group(2).toLong, m.group(3).toLong)).toMap
  }
}
