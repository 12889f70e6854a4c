package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.DotProduct

/** The DataFrame formulations the centroid kernels replaced, kept as the
  * reference the kernels must reproduce (KnnSpec, PqSpec): a broadcast
  * cross join scored with the dot-product distance identity, `min_by`
  * on (d, c_id) for the assignment, a `row_number` window for the probe
  * lists, a `posexplode` → `avg` mean per Lloyd round, and the
  * join-based PQ encoder and lookup table. */
object CentroidReference {

  private def sqDist: Column =
    col("nrm") * col("nrm") + col("cnrm2") -
      lit(2.0) * DotProduct(col("v"), col("cv"))

  private def scored(e: DataFrame, centroids: DataFrame): DataFrame =
    e.crossJoin(broadcast(centroids.select("c_id", "cv")
        .withColumn("cnrm2", DotProduct(col("cv"), col("cv")))))
      .withColumn("d", sqDist)

  private val key = struct(col("d"), col("c_id"))

  /** (vec_id, c_id): the nearest centroid of every vector. */
  def assign(e: DataFrame, centroids: DataFrame): DataFrame =
    scored(e, centroids).groupBy(col("vec_id"))
      .agg(min_by(col("c_id"), key).as("c_id"))

  /** (vec_id, rn, c_id): every vector's `nprobe` nearest centroids. */
  def probes(e: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame =
    scored(e, centroids)
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("d"), col("c_id"))))
      .filter(col("rn") <= nprobe)
      .select("vec_id", "rn", "c_id")

  /** (c_id, cv): one Lloyd round's means of the non-empty clusters. */
  def lloydRound(e: DataFrame, centroids: DataFrame): DataFrame =
    scored(e, centroids).groupBy(col("vec_id"))
      .agg(min_by(col("c_id"), key).as("c_id"), min_by(col("v"), key).as("v"))
      .select(col("c_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("c_id", "pos").agg(avg(col("x")).as("cx"))
      .groupBy("c_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("ps"))
      .select(col("c_id"), expr("transform(ps, p -> p.cx)").as("cv"))

  private def pqScored(subvecs: DataFrame, codebook: DataFrame): DataFrame =
    subvecs.join(broadcast(codebook.select("sub_id", "c_id", "code_idx", "cv")
        .withColumn("cn2", DotProduct(col("cv"), col("cv")))), Seq("sub_id"))
      .withColumn("d", col("sv2") + col("cn2") -
        lit(2.0) * DotProduct(col("sv"), col("cv")))

  /** (sub_id, c_id, mv): one codebook round's means of the non-empty
    * clusters, over `Knn.pqSubvectors` rows. */
  def pqRound(subvecs: DataFrame, codebook: DataFrame): DataFrame =
    pqScored(subvecs, codebook.withColumn("code_idx", lit(0)))
      .groupBy(col("vec_id"), col("sub_id"))
      .agg(min_by(col("c_id"), key).as("c_id"), min_by(col("sv"), key).as("sv"))
      .select(col("sub_id"), col("c_id"),
        posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy(col("sub_id"), col("c_id"), col("pos"))
      .agg(avg(col("x")).as("cx"))
      .groupBy(col("sub_id"), col("c_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("ps"))
      .select(col("sub_id"), col("c_id"),
        expr("transform(ps, p -> p.cx)").as("mv"))

  /** (vec_id, codes): the m code indices of every vector. */
  def pqEncode(subvecs: DataFrame, codebook: DataFrame): DataFrame =
    pqScored(subvecs, codebook)
      .groupBy(col("vec_id"), col("sub_id"))
      .agg(min_by(col("code_idx"), key).as("code_idx"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub_id"), col("code_idx"))))
        .as("sc"))
      .select(col("vec_id"), expr("transform(sc, p -> p.code_idx)").as("codes"))

  /** (query_id, lut): the flattened ADC lookup table of every vector. */
  def pqLut(subvecs: DataFrame, codebook: DataFrame): DataFrame = {
    val ksubEff = codebook.groupBy(col("sub_id"))
      .agg((max(col("code_idx")) + lit(1)).as("ksub_eff"))
    subvecs.withColumnRenamed("vec_id", "query_id")
      .join(broadcast(codebook.select("sub_id", "code_idx", "cv")), Seq("sub_id"))
      .join(broadcast(ksubEff), Seq("sub_id"))
      .withColumn("k2", col("sub_id").cast("long") *
        col("ksub_eff").cast("long") + col("code_idx").cast("long"))
      .withColumn("dotv", DotProduct(col("sv"), col("cv")))
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("k2"), col("dotv")))).as("kv"))
      .select(col("query_id"), expr("transform(kv, p -> p.dotv)").as("lut"))
  }
}
