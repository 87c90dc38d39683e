package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/**
 * The fixture tables the query catalog reads, with their schemas
 * declared the way a table format keeps them in table metadata.
 *
 * `spark.read.parquet(path)` without a schema re-derives it from the
 * file footers, and that inference runs a Spark job every time a query
 * is built. With the schema declared the read is a plan node only: no
 * job, no footer read, until the query's own action runs.
 *
 * Every field is nullable, as Spark reports a parquet file's columns,
 * so each declared schema equals the inferred one exactly (names,
 * types, nullability, order); `TablesSpec` pins that against every
 * fixture scale. A declared column a file lacks would read as nulls,
 * which is why that spec is the guard. A new fixture table gets its
 * schema here and is read through [[read]].
 */
object Tables {

  private def nullable(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (name, t) => StructField(name, t, nullable = true) })

  val Schemas: Map[String, StructType] = Map(
    "documents" -> nullable(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> nullable(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType),
    "lineitem" -> nullable(
      "l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> nullable(
      "event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType))

  /** `<dir>/<table>.parquet` read with the table's declared schema. */
  def read(spark: SparkSession, dir: String, table: String): DataFrame = {
    val schema = Schemas.getOrElse(table, throw new IllegalArgumentException(
      s"unknown fixture table '$table'; declared: ${Schemas.keys.toSeq.sorted.mkString(", ")}"))
    spark.read.schema(schema).parquet(s"$dir/$table.parquet")
  }
}
