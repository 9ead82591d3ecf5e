package perfbench

import graft.pipelines.Orbit
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The entity tables (`graft.model` rows) as parquet inputs, and the
  * payload assembly over them.
  */
object Entities {
  val Tables: Seq[String] =
    Seq("companies", "events", "snapshots", "products", "leadership", "visibility", "news")

  def write(spark: SparkSession, e: Gen#Entities, dir: String): Unit = {
    import spark.implicits._
    Seq(
      e.companies.toDS().toDF(), e.events.toDS().toDF(), e.snapshots.toDS().toDF(),
      e.products.toDS().toDF(), e.leadership.toDS().toDF(), e.visibility.toDS().toDF(),
      e.news.toDS().toDF()).zip(Tables).foreach { case (df, t) =>
      df.write.mode("overwrite").parquet(s"$dir/$t")
    }
  }

  def read(spark: SparkSession, dir: String): Map[String, DataFrame] =
    Tables.map(t => t -> spark.read.parquet(s"$dir/$t")).toMap

  def assemble(t: Map[String, DataFrame]): DataFrame =
    Orbit.assemblePayloads(
      t("companies"), t("events"), t("snapshots"), t("products"),
      t("leadership"), t("visibility"), t("news"))
}
