package graft.operators

import graft.functions.PortableHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling and dataset splitting.
  *
  * Training-data pipelines need samples and train/val/test splits that
  * are (a) reproducible run-to-run, (b) stable under re-partitioning
  * and engine changes, and (c) computable as a pure scan predicate (no
  * shuffle, no RNG state). All of that falls out of hashing a stable
  * id: a row is in the p-sample iff md5(id) mod P < p·P. The same
  * expression runs in any engine with md5 — which is also how the
  * DuckDB oracle checks these operators bit-for-bit.
  *
  * (Spark's df.sample is seed-deterministic but partitioning-
  * dependent, so it cannot be oracle-checked nor reproduced elsewhere;
  * hash-gating is the portable, scan-only alternative.)
  */
object Sampling {

  /** Uniform bucket in [0, 1) derived from the id column (salted so
    * different samples/splits decorrelate).
    */
  def hashBucket(id: Column, salt: String): Column =
    PortableHash.md5Mod(concat_ws("|", lit(salt), id.cast("string")))
      .cast("double") / lit(PortableHash.Prime.toDouble)

  /** Deterministic Bernoulli(p) sample predicate. */
  def sampledBy(id: Column, fraction: Double, salt: String = "sample"): Column =
    hashBucket(id, salt) < fraction

  /** Assign each row to a named split by cumulative weight ranges, e.g.
    * Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05).
    */
  def splitLabel(id: Column, splits: Seq[(String, Double)], salt: String = "split"): Column = {
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "split weights must sum to 1")
    val bucket = hashBucket(id, salt)
    val cumulative = splits.scanLeft(0.0)(_ + _._2).tail
    splits.zip(cumulative).init.foldRight(lit(splits.last._1): Column) {
      case (((name, _), upper), otherwise) =>
        when(bucket < upper, lit(name)).otherwise(otherwise)
    }
  }

  /** LEAKAGE-SAFE split: assignment keyed on the near-dup CLUSTER
    * representative instead of the row id, so near-duplicates can
    * never straddle train/test (the eval-contamination failure mode a
    * plain per-doc split invites: the model "generalizes" to a test
    * doc it memorized as a training near-copy). `clusters` is the
    * (id, cluster_id) map from [[ConnectedComponents.labels]] (what
    * [[NearDup.dupClusters]] returns too); docs absent from it are
    * their own representative, so the assignment degrades to the plain
    * [[splitLabel]] exactly where no duplicate exists. One join against
    * the skinny cluster map — O(clustered docs); when the map is small
    * enough to collect it comes back as a local relation with exact
    * size stats, so the join broadcasts it.
    */
  def leakageSafeSplit(
      docs: DataFrame,
      idCol: String,
      clusters: DataFrame,
      splits: Seq[(String, Double)],
      salt: String = "split",
      /** Keep the representative under this column (None = drop). */
      keepRepAs: Option[String] = None
  ): DataFrame = {
    val c = clusters.select(col("id").as("_lsid"), col("cluster_id").as("_lsrep"))
    val joined = docs.join(c, docs(idCol) === col("_lsid"), "left")
      .withColumn("_lsrep", coalesce(col("_lsrep"), col(idCol)))
      .withColumn("split", splitLabel(col("_lsrep"), splits, salt))
      .drop("_lsid")
    keepRepAs match {
      case Some(r) => joined.withColumnRenamed("_lsrep", r)
      case None    => joined.drop("_lsrep")
    }
  }

  /** Per-ROW weighted Bernoulli gate: keep a row with probability
    * min(1, weight · rate) — quality-weighted sampling, where a
    * document's keep probability scales with a score column (the
    * DoReMi/quality-curation shape) instead of a per-group constant.
    * Same scan-only, engine-portable hash gate as [[sampledBy]]; the
    * weight must itself be engine-stable arithmetic (integer-derived,
    * no transcendentals) for the oracle to reproduce the sample
    * bit-for-bit.
    */
  def weightedSample(
      id: Column,
      weight: Column,
      rate: Double,
      salt: String = "wsample"
  ): Column =
    hashBucket(id, salt) < least(lit(1.0), weight * lit(rate))

  /** Per-group sampling rates (e.g. domain mixing: keep 100% of a
    * rare source, 10% of a dominant one). Rates are looked up from
    * the group column; missing groups default to `defaultRate`.
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 1.0,
      salt: String = "mix"
  ): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (g, r)) =>
      when(col(groupCol) === g, lit(r)).otherwise(acc)
    }
    df.where(hashBucket(col(idCol), salt) < rate)
  }
}
