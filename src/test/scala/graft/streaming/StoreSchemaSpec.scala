package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.engine.Store
import graft.model.Schemas

/** The read contract of the store: the fixed [[Schemas]] the server
  * opens its tables with ([[Store]]) must name, field by field, what
  * [[Ingest.processBatch]] writes. A renamed or retyped ingest column
  * then fails here instead of reading back as nulls. Nullability is
  * not part of the contract (parquet reads every column nullable), nor
  * is the ingest-only `is_tagged` points column.
  */
class StoreSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-schema").toFile.getAbsolutePath + "/t"
    import spark.implicits._
    Ingest.processBatch(Ingest.parseLines(Seq(
      "a.b.c 1.5 1704067200",
      "m;k=v;j=w 2.5 1704067210").toDF("value")), d)
    d
  }

  private def loose(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(loose(e), containsNull = true)
    case MapType(k, v, _) => MapType(loose(k), loose(v), valueContainsNull = true)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = loose(f.dataType), nullable = true)))
    case other => other
  }

  private def fields(s: StructType): Map[String, DataType] =
    s.fields.map(f => f.name -> loose(f.dataType)).toMap - "is_tagged"

  for ((table, fixed) <- Seq(
      "points" -> Schemas.points, "index" -> Schemas.index, "tags" -> Schemas.tags)) {
    test(s"$table: Schemas.$table matches what ingest writes") {
      // inferred from the written files, as a schema-less reader sees them
      val written = spark.read.parquet(s"$dir/$table").schema
      assert(fields(written) == fields(fixed))
    }
  }

  test("the fixed-schema opener reads back the written rows") {
    def rows(df: DataFrame, cols: Seq[String]): Set[String] =
      df.select(cols.map(col): _*).collect().map(_.toString).toSet
    for ((table, open) <- Seq[(String, (SparkSession, String) => DataFrame)](
        "points" -> Store.points, "index" -> Store.index, "tags" -> Store.tags)) {
      val fixed = open(spark, dir)
      val cols = fixed.columns.toSeq
      assert(rows(fixed, cols) == rows(spark.read.parquet(s"$dir/$table"), cols), table)
      assert(fixed.count() > 0, table)
    }
  }
}
