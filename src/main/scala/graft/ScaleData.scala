package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize a scaled copy of the sf0.1 corpus tables so the BENCH
  * harness itself can run at sf1-equivalent volume: documents and
  * embeddings are multiplied N× with the Stress perturbation scheme
  * (per-copy id shift of 10M so modular selections pick analogous rows
  * in every copy; a distinct per-copy marker token appended to text so
  * copies are genuine near-duplicates, not degenerate exact replicas)
  * and written as parquet under outDir. The remaining tables are left
  * to the caller (symlinked to the sf0.1 originals — none of the
  * spot-benched queries read them at scale).
  *
  * Usage: runMain graft.ScaleData [multiplier] [outDir]
  */
object ScaleData {
  /** `mult` copies of `df` unioned: copy i shifts `idCol` by i·10M and,
    * for i > 0, appends the marker token `copymarker<i>` to `textCol`.
    * The one definition of the ×N perturbation (Stress uses it too). */
  def scaled(df: DataFrame, idCol: String, textCol: Option[String],
      mult: Int): DataFrame = {
    val copies = (0 until mult).map { i =>
      val shifted = df.withColumn(idCol, col(idCol) + lit(i * 10000000L))
      textCol match {
        case Some(t) if i > 0 =>
          shifted.withColumn(t, concat(col(t), lit(s" copymarker$i")))
        case _ => shifted
      }
    }
    copies.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val mult = if (args.length > 0) args(0).toInt else 10
    val out = if (args.length > 1) args(1) else "/tmp/graft_sfx10"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.1"

    scaled(Tables.documents(spark, sf), "doc_id", Some("text"), mult)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    scaled(Tables.embeddings(spark, sf), "vec_id", None, mult)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"SCALED mult=$mult out=$out")
    spark.stop()
  }
}
