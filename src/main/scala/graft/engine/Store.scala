package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.model.Schemas

/** Opens the `points`/`index`/`tags` parquet family that
  * [[graft.streaming.Ingest.processBatch]] maintains under one store
  * dir — the one opener the HTTP server and the e2e fixture runner
  * share.
  *
  * Each open reads with the fixed [[Schemas]] instead of inferring the
  * schema from parquet footers: inference is a Spark job per open,
  * which a serving path that opens its tables per request would
  * otherwise pay on every find, render and PromQL query. The directory
  * is still listed on every open, so a newly committed micro-batch is
  * visible to the next read. `Schemas` must name what ingest writes
  * (`StoreSchemaSpec`); the ingest-side `is_tagged` column is not part
  * of the read contract.
  */
object Store {

  private def open(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(dir)

  def pointsDir(dir: String): String = s"$dir/points"

  def points(spark: SparkSession, dir: String): DataFrame =
    open(spark, pointsDir(dir), Schemas.points)

  def index(spark: SparkSession, dir: String): DataFrame =
    open(spark, s"$dir/index", Schemas.index)

  def tags(spark: SparkSession, dir: String): DataFrame =
    open(spark, s"$dir/tags", Schemas.tags)
}
