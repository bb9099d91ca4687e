package perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Writes the generated inputs as parquet straight through parquet-mr,
  * one file per input directory (the layout a one-partition Spark write
  * leaves), so making the few dozen input files runs no Spark job.
  */
object InputFiles {
  def write(dir: String, schema: StructType, rows: Seq[Row]): Unit = {
    val fields = schema.fields.map { f =>
      val b = if (f.nullable) Types.optional(primitive(f.dataType)) else Types.required(primitive(f.dataType))
      (if (f.dataType == StringType) b.as(LogicalTypeAnnotation.stringType()) else b).named(f.name)
    }
    val message = new MessageType("spark_schema", fields.toSeq.map(t => t: Type): _*)
    val writer = ExampleParquetWriter.builder(new Path(dir, "part-00000.parquet"))
      .withType(message).withConf(new Configuration()).build()
    try rows.foreach { r =>
      val g = new SimpleGroup(message)
      schema.fields.indices.filterNot(r.isNullAt).foreach { i =>
        schema.fields(i).dataType match {
          case LongType => g.add(i, r.getLong(i))
          case IntegerType => g.add(i, r.getInt(i))
          case DoubleType => g.add(i, r.getDouble(i))
          case StringType => g.add(i, r.getString(i))
          case other => sys.error(s"unsupported input type $other")
        }
      }
      writer.write(g)
    } finally writer.close()
  }

  private def primitive(t: DataType): PrimitiveTypeName = t match {
    case LongType => PrimitiveTypeName.INT64
    case IntegerType => PrimitiveTypeName.INT32
    case DoubleType => PrimitiveTypeName.DOUBLE
    case StringType => PrimitiveTypeName.BINARY
    case other => sys.error(s"unsupported input type $other")
  }
}
