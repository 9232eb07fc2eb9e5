package graft.engine

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.model.Schemas

/** Opens the `points`/`index`/`tags` parquet family that
  * [[graft.streaming.Ingest.processBatch]] maintains under one store
  * dir — the one opener the HTTP server and the e2e fixture runner
  * share.
  *
  * A table is opened over the file list of a [[StoreSnapshot.Snap]],
  * which the store's log names: no directory is listed, so an open
  * costs the same at 4 part files and at 4,000, and a reader sees
  * exactly the commits its snapshot holds. `points` takes its `date`
  * partition from the paths, as Spark's own file index would.
  *
  * Each open reads with the fixed [[Schemas]] instead of inferring the
  * schema from parquet footers: inference is a Spark job per open,
  * which a serving path that opens its tables per request would
  * otherwise pay on every find, render and PromQL query. `Schemas`
  * must name what ingest writes (`StoreSchemaSpec`); the ingest-side
  * `is_tagged` column is not part of the read contract.
  */
object Store {

  def points(spark: SparkSession, snap: StoreSnapshot.Snap): DataFrame =
    open(spark, snap, "points", Schemas.points)

  def index(spark: SparkSession, snap: StoreSnapshot.Snap): DataFrame =
    open(spark, snap, "index", Schemas.index)

  def tags(spark: SparkSession, snap: StoreSnapshot.Snap): DataFrame =
    open(spark, snap, "tags", Schemas.tags)

  /** The tables as the store's log leaves them now. */
  def points(spark: SparkSession, dir: String): DataFrame = points(spark, StoreSnapshot.open(spark, dir))
  def index(spark: SparkSession, dir: String): DataFrame = index(spark, StoreSnapshot.open(spark, dir))
  def tags(spark: SparkSession, dir: String): DataFrame = tags(spark, StoreSnapshot.open(spark, dir))

  private def open(spark: SparkSession, snap: StoreSnapshot.Snap, table: String, schema: StructType): DataFrame = {
    val index = new SnapshotFileIndex(spark, new Path(snap.root, table), snap.files(table), schema)
    val parts = index.partitionSchema.fieldNames.toSet
    spark.baseRelationToDataFrame(HadoopFsRelation(
      index,
      partitionSchema = index.partitionSchema,
      dataSchema = nullable(StructType(schema.filterNot(f => parts(f.name)))).asInstanceOf[StructType],
      bucketSpec = None,
      new ParquetFileFormat,
      Map.empty)(spark))
  }

  // parquet reads every column nullable, as `DataSource` makes a
  // user-given schema
  private def nullable(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case other => other
  }

  /** A fixed file list with its partitioning taken from the paths
    * (the shape of Spark's `MetadataLogFileIndex`).
    */
  private final class SnapshotFileIndex(
      spark: SparkSession, root: Path, files: Seq[FileStatus], schema: StructType)
    extends PartitioningAwareFileIndex(spark, Map.empty, Some(schema)) {

    override protected lazy val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
      mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)

    override protected lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
      files.toArray.groupBy(_.getPath.getParent)

    override def rootPaths: Seq[Path] = Seq(root)

    override def refresh(): Unit = ()

    private lazy val spec = inferPartitioning()
    override def partitionSpec(): PartitionSpec = spec
  }
}
