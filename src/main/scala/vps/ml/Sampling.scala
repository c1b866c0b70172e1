package vps.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import vps.text.functions.hash_uniform

/** Deterministic, seed-stable sampling and dataset splitting.
  *
  * `df.sample` / `rand()` are partition-order dependent: the same row can land
  * in train on one run and val on the next when input order, partitioning, or
  * cluster size changes. At 100-TB scale a holdout split must be a PURE
  * FUNCTION of each row's identity or the eval set silently contaminates the
  * training set across re-runs. Every operator here derives its randomness as
  * `splitmix64(id ^ salt)` mapped to `[0,1)` (`hash_uniform`, [[vps.text.TextOps.hashUniform]],
  * inside whole-stage codegen), so results reproduce across runs, engines, and
  * partitionings — the DuckDB oracle recomputes them bit-for-bit.
  *
  * 100-TB shape: all three operators are stateless map-side filters /
  * projections — no shuffle, no driver state, fully pushdown-friendly.
  * Disjoint salts give independent uniforms (e.g. split with one salt, then
  * subsample within a split with another).
  */
object Sampling {

  /** Uniform in `[0,1)` as a pure function of `(id, salt)`. */
  def uniform(id: Column, salt: Long = 0L): Column = hash_uniform(id, salt)

  /** Adds a `split` column assigning each row to the named fractions, e.g.
    * `Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)`. Buckets are
    * half-open intervals of the uniform; the LAST name takes the remainder
    * (including any floating-point slack near 1), so every row is assigned
    * exactly one split. Fractions should sum to ~1; the cut points are the
    * Scala-side cumulative sums, which the SQL oracle interpolates verbatim
    * so both sides compare against identical doubles.
    */
  def assignSplits(
      df: DataFrame,
      idCol: String,
      splits: Seq[(String, Double)],
      salt: Long = 0L): DataFrame = {
    require(splits.nonEmpty, "assignSplits needs at least one named fraction")
    val u = uniform(col(idCol), salt)
    val cuts = cumulativeCuts(splits)
    val assigned = cuts.dropRight(1).foldRight(lit(splits.last._1): Column) {
      case ((name, cut), rest) => when(u < lit(cut), name).otherwise(rest)
    }
    df.withColumn("split", assigned)
  }

  /** `(name, cumulative-upper-cut)` pairs for [[assignSplits]]; exposed so an
    * external oracle can embed the IDENTICAL double cut points.
    */
  def cumulativeCuts(splits: Seq[(String, Double)]): Seq[(String, Double)] = {
    var acc = 0.0
    splits.map { case (name, f) => acc += f; (name, acc) }
  }

  /** Deterministic Bernoulli sample: keeps rows with `uniform < fraction`.
    * Rerunning over a grown corpus keeps every previously-sampled id — the
    * incremental-pipeline property `df.sample` lacks.
    */
  def sample(df: DataFrame, idCol: String, fraction: Double, salt: Long = 0L): DataFrame =
    df.where(uniform(col(idCol), salt) < lit(fraction))

  /** Per-stratum deterministic fractions (`sampleBy` made reproducible):
    * `fractions` is a small literal map compiled into a when-chain (no join,
    * no shuffle); strata not listed are dropped, matching `sampleBy`.
    */
  def sampleBy(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      fractions: Map[String, Double],
      salt: Long = 0L): DataFrame = {
    require(fractions.nonEmpty, "sampleBy needs at least one stratum fraction")
    // deterministic chain order (sorted keys) — not semantically required
    // (strata are disjoint), but keeps plans byte-stable across runs
    val frac = fractions.toSeq.sortBy(_._1).foldRight(lit(0.0): Column) {
      case ((k, f), rest) => when(col(strataCol) === lit(k), lit(f)).otherwise(rest)
    }
    df.where(uniform(col(idCol), salt) < frac)
  }
}
