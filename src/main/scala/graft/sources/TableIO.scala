package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Format-agnostic table IO: one entry point per direction over the
  * columnar/text formats the engine supports. Parquet is the native
  * format (columnar, statistics, schema evolution — what the warehouse
  * uses); ORC is the alternate columnar; CSV/JSON are interchange
  * formats for ingest edges.
  *
  * Scale notes: CSV/JSON readers are schema-first here — runtime
  * inference (`inferSchema`) costs an extra full scan at 100 TB and is
  * deliberately not exposed. Text formats also lose type fidelity
  * (CSV has no nested types; JSON numbers widen) — [[roundTripSafe]]
  * says which formats can carry a given schema losslessly, and
  * TableIOSpec pins that contract.
  */
object TableIO {

  val Formats: Seq[String] = Seq("parquet", "orc", "json", "csv")

  def write(df: DataFrame, path: String, format: String,
            mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode).format(format)
    val configured = format match {
      case "csv" => w.option("header", "true")
      case _ => w
    }
    configured.save(path)
  }

  /** Schema-first read (no inference scan). CSV reads multiLine so
    * quoted embedded newlines parse back as one record — without it a
    * write/read cycle splits such rows and [[roundTripSafe]]'s CSV
    * claim would be false for perfectly flat string schemas. (Cost:
    * multiLine CSV files are not line-splittable; acceptable for an
    * interchange edge, documented here.) */
  def read(spark: SparkSession, path: String, format: String,
           schema: StructType): DataFrame = {
    val r = spark.read.format(format).schema(schema)
    val configured = format match {
      case "csv" => r.option("header", "true").option("multiLine", "true")
      case _ => r
    }
    configured.load(path)
  }

  /** Columnar formats self-describe (footer schema) — no schema arg. */
  def readColumnar(spark: SparkSession, path: String,
                   format: String = "parquet"): DataFrame = {
    require(format == "parquet" || format == "orc",
      s"$format is not self-describing; use read(..., schema)")
    spark.read.format(format).load(path)
  }

  /** Whether `format` can round-trip `schema` without loss: columnar
    * formats always; CSV only for flat atomic schemas. JSON carries
    * nesting but not binary. */
  def roundTripSafe(schema: StructType, format: String): Boolean = {
    import org.apache.spark.sql.types._
    def atomic(dt: DataType): Boolean = dt match {
      case _: StructType | _: ArrayType | _: MapType | BinaryType => false
      case _ => true
    }
    def noBinary(dt: DataType): Boolean = dt match {
      case BinaryType => false
      case s: StructType => s.fields.forall(f => noBinary(f.dataType))
      case a: ArrayType => noBinary(a.elementType)
      case m: MapType => noBinary(m.keyType) && noBinary(m.valueType)
      case _ => true
    }
    format match {
      case "parquet" | "orc" => true
      case "csv" => schema.fields.forall(f => atomic(f.dataType))
      case "json" => schema.fields.forall(f => noBinary(f.dataType))
      case _ => false
    }
  }
}
