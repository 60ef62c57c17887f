package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The IVF coarse quantizer shared by the batch ANN family
  * (`LlmOps.ivf*`, `Curation.clusterPurity`) and the streaming index
  * build (`VectorIngest.assign`), so a vector lands in the same list on
  * every path.
  *
  * Every function takes a vector frame with (vec_id, v, norm) — `v` a
  * float array, `norm` its [[VectorExprs.norm]] — and keeps the
  * caller's other columns.
  * Centroid frames carry (c_id, cv, cn).
  */
object IvfQuantizer {

  /** The 16 sampled centroids: the first 16 vectors (vec_id < 16) — the
    * standard random-sample init, and deterministic so the oracle can
    * replicate it. */
  def sampledCentroids(vecs: DataFrame): DataFrame =
    vecs.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("v").as("cv"),
        col("norm").as("cn"))

  /** Every vector against every centroid, `cs` = cosine on the 6-digit
    * grid (so ties compare equal on both engines). Centroids are tiny at
    * any scale, so they broadcast. */
  def cosines(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("cs", round(
        VectorExprs.dot(col("v"), col("cv")) / (col("norm") * col("cn")), 6))

  /** [[cosines]] plus `arn`, each centroid's rank for its vector (cs
    * descending, c_id breaks ties): arn = 1 is the vector's list, and
    * arn ≤ n are the n lists a probe with nprobe = n searches. */
  def ranked(vecs: DataFrame, cents: DataFrame): DataFrame =
    cosines(vecs, cents).withColumn("arn", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
        .orderBy(col("cs").desc, col("c_id"))))

  /** Top-1 assignment: the caller's columns plus `bucket`, the id of the
    * vector's nearest centroid. */
  def assign(vecs: DataFrame, cents: DataFrame): DataFrame =
    ranked(vecs, cents).filter(col("arn") === 1)
      .withColumnRenamed("c_id", "bucket")
      .drop("cv", "cn", "cs", "arn")
}
