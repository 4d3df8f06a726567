package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Similarity

/** The reference form PcaSpec's bit-parity test checks
  * [[Pca.covariance]] against. */
object ExplodeCovariance {

  /** The round-8 explode-structs covariance formulation: every row
    * explodes its d(d+1)/2 upper-triangle product structs, then an
    * (i,j) groupBy. */
  def explodeCovariance(em: DataFrame, d: Int): DataFrame = {
    val e = em.select(Similarity.toDoubleArray(col("embedding")).as("e"))
    e.select(explode(expr(
        s"""flatten(transform(sequence(0, ${d - 1}), i ->
              transform(sequence(i, ${d - 1}), j ->
                named_struct('i', CAST(i AS BIGINT), 'j', CAST(j AS BIGINT),
                  'p', e[i] * e[j], 'ei', e[i], 'ej', e[j]))))""")).as("x"))
      .select(col("x.i").as("i"), col("x.j").as("j"), col("x.p").as("p"),
        col("x.ei").as("ei"), col("x.ej").as("ej"))
      .groupBy("i", "j")
      .agg((avg(col("p")) - avg(col("ei")) * avg(col("ej"))).as("cov"))
  }
}
