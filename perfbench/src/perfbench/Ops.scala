package perfbench

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.{col, struct, xxhash64}

/** Order-independent fingerprint of a result: its row count and the XOR of
  * `xxhash64` over every column (the hash `Bench.once` forces each output
  * column with). XOR rather than a sum: a sum of 64-bit hashes overflows. */
final case class Fp(rows: Long, xor: Long) {
  override def toString: String = s"$rows/$xor"
}

object Fp {
  /** Per-partition (count, xor) combined on the driver: one job and no
    * exchange of its own, so the exchanges an op runs are all the op's. */
  def of(df: DataFrame): Fp = {
    // positional names: generated column names may hold dots
    val cols = df.columns.indices.map(i => s"c$i")
    val parts = df.toDF(cols: _*).select(xxhash64(struct(cols.map(col): _*)))
      .as(Encoders.scalaLong)
      .mapPartitions { hs =>
        var n = 0L
        var x = 0L
        hs.foreach { h => n += 1; x ^= h }
        Iterator.single((n, x))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect()
    Fp(parts.map(_._1).sum, parts.foldLeft(0L)(_ ^ _._2))
  }
}

/**
 * One timed operation of a pass.
 *
 * @param name    unique name within the workload; the key of its expected fingerprint
 * @param metric  per-layer metric family the op feeds, e.g. `sorted.fold`
 *                (time `sorted.fold_s`, exchanges `sorted.exchanges.fold`)
 * @param build   constructs the result frame: the module's query construction
 * @param action  executes the frame and returns what is checked
 * @param after   runs after the action, inside the op (per-query cache release)
 * @param verify  when set, the fingerprint that is checked, computed after the
 *                pass outside its time and trace from what the action left
 *                behind (e.g. the files a sink wrote)
 */
final case class Op(name: String, metric: String, build: () => DataFrame,
    action: DataFrame => Fp = Fp.of, after: () => Unit = () => (),
    verify: Option[() => Fp] = None)

/** A benchmark workload: its inputs, the oracle for its outputs, and the
  * operations one pass runs. */
trait Workload {
  /** Scale of the inputs, for the run record. */
  def scale: String
  /** Whether a warm-up pass runs every op once before the timed passes. */
  def warmUpPass: Boolean = false
  /** Build the inputs. Returns the seconds each timed repetition took. */
  def setup(): Seq[Double]
  /** Expected fingerprint per op name, computed independently and untimed. */
  def expected(): Map[String, Fp]
  /** The operations of pass `pass`, in the order they run. */
  def ops(pass: Int): Seq[Op]
  /** Input rows one pass consumes (the numerator of `rows_per_s`). */
  def inputRows: Long
  /** Pairs of ops that must produce identical fingerprints. */
  def samePairs: Seq[(String, String)] = Nil
  /** Per-layer figures the workload measures outside the traced passes. */
  def extraLayerMetrics(): Map[String, Double] = Map.empty
  /** Checks the workload ran outside the passes: (attempted, failed). */
  def extraChecks: (Int, Int) = (0, 0)
  /** Bytes the set-up leaves on disk for the passes to read. */
  def standingBytes: Long
}
