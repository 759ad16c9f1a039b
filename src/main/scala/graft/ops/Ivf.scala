package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{Vector => MlVector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** IVF (inverted-file) approximate nearest neighbor, the coarse
  * quantizer of Jégou/Douze/Schmid, "Product quantization for nearest
  * neighbor search", TPAMI 2011: k-means centroids partition the
  * corpus into cells; a query probes only its `nProbe` nearest cells
  * (SURVEY §7.4 "IVF or LSH-bucketed variant as the scale path").
  *
  * Scale shape: training samples the corpus (k-means on a bounded
  * sample, centroids broadcast via the model); assignment is one pass;
  * the probe join is centroid-bucketed, so query cost is
  * |corpus|·nProbe/k instead of |corpus|. Everything after assignment
  * is the same keyed-join + WindowGroupLimit top-k machinery as the
  * LSH path. Not oracle-SQL-expressible (iterative training), so the
  * driver records a rows-only check for the registered query; recall
  * is asserted against brute force in tests instead.
  */
object Ivf {

  final case class Index(assigned: DataFrame, centroids: Array[MlVector])

  /** Train centroids (seeded → deterministic) and assign each vector to
    * its cell.
    *
    * `maxIter` defaults well below Spark ML's 20: a coarse quantizer
    * only needs cells of roughly balanced population, not converged
    * Lloyd's — recall is governed by the probed corpus fraction, and
    * each extra iteration is a full pass over the training set (the
    * centroids are a sketch, not a model).
    */
  def build(corpus: DataFrame, vecCol: Column, idCol: Column,
            k: Int, seed: Long = 42L, maxIter: Int = 8,
            metaCols: Seq[(String, Column)] = Nil): Index = {
    // metaCols ride INSIDE the index rows (label, tenant, language …):
    // a filtered search then evaluates its predicate as a scan-stage
    // filter on the pinned index — no join back to the source table,
    // which at 100 TB would shuffle the corpus per query batch
    val feats = corpus.select(idCol.as("vec_id") +: vecCol.as("v") +:
        metaCols.map { case (n, c) => c.as(n) }: _*)
      .withColumn("features", array_to_vector(col("v").cast("array<double>")))
    val model = new KMeans().setK(k).setSeed(seed).setFeaturesCol("features")
      .setMaxIter(maxIter)
      .fit(feats)
    val assigned = model.transform(feats)
      .select(col("vec_id") +: col("v") +: col("prediction").as("cell") +:
        metaCols.map { case (n, _) => col(n) }: _*)
    Index(assigned, model.clusterCenters)
  }

  /** Top-k per query probing the `nProbe` nearest cells. Scoring uses
    * the fused integer q_dot (rank-equivalent to cosine for
    * similar-norm embeddings, exact and deterministic).
    */
  def topK(index: Index, queries: DataFrame, vecCol: Column, idCol: Column,
           k: Int, nProbe: Int, candFilter: Column = lit(true)): DataFrame = {
    val spark = queries.sparkSession
    val qdot = GraftFunctions.registerQDot(spark)
    import spark.implicits._
    val centroids = index.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat).toSeq) }.toSeq
      .toDF("cell", "centroid")
    // nearest nProbe cells per query via the same integer dot
    val probes = queries.select(idCol.as("q_vec_id"), vecCol.as("qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("cdot", qdot(col("qv"), col("centroid")))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("q_vec_id")).orderBy(col("cdot").desc, col("cell").asc)))
      .where(col("crnk") <= nProbe)
      .select(col("q_vec_id"), col("qv"), col("cell"))
    // candFilter evaluates on the index rows themselves (metaCols from
    // build) BEFORE the probe join — filtered search costs less than
    // unfiltered, never more
    val scored = index.assigned.where(candFilter).join(broadcast(probes), "cell")
      .select(col("q_vec_id"), col("vec_id"), qdot(col("v"), col("qv")).as("dot"))
    scored.withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_vec_id")).orderBy(col("dot").desc, col("vec_id").asc)))
      .where(col("rnk") <= k)
  }
}
