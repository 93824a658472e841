package graft.types

import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import graft.config.{ColumnSpec, StreamConfig}
import org.apache.spark.sql.types._

/** Central type table: config type-string → Spark `DataType`, plus the
  * JSON-schema emitter with the reference's required/nullable rules.
  *
  * Reference: type pass-through at tap_rawpostgresql/client.py:121-141,
  * used at tap.py:175; required-rules at tap.py:180-183.
  */
object TypeMapper {

  private val decimalRe = """(?:decimal|numeric)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r
  private val decimalPrecRe = """(?:decimal|numeric)\s*\(\s*(\d+)\s*\)""".r
  private val charLenRe =
    """(?:varchar|char|character varying|character|bpchar|nvarchar)\s*\(\s*\d+\s*\)""".r

  /** Config/PostgreSQL type string → Spark DataType. Real configs use
    * parameterized spellings (`varchar(255)`, `numeric`, `numeric(12)`) —
    * the reference passes these through to the SDK untouched, so accept
    * them here too.
    */
  def toDataType(typeName: String): DataType = typeName.trim.toLowerCase match {
    case "string" | "text" | "varchar" | "char" | "character varying" |
         "character" | "bpchar" | "nvarchar" |
         // regclass: a relation-name cast is an identity on its string
         // form — PG configs use 'tbl'::regclass in catalog filters
         "uuid" | "json" | "jsonb" | "regclass" => StringType
    case charLenRe() => StringType
    case "decimal" | "numeric" => DecimalType(38, 18)
    case decimalPrecRe(p) => DecimalType(p.toInt, 0)
    case "int" | "integer" | "int4" | "serial" => IntegerType
    case "bigint" | "int8" | "long" | "bigserial" => LongType
    case "smallint" | "int2" => ShortType
    case "datetime" | "timestamp" | "timestamptz" |
         "timestamp with time zone" | "timestamp without time zone" => TimestampType
    case "date" => DateType
    case "bool" | "boolean" => BooleanType
    case "float" | "real" | "float4" => FloatType
    case "double" | "float8" | "double precision" | "number" => DoubleType
    case "binary" | "bytea" | "blob" => BinaryType
    case decimalRe(p, s) => DecimalType(p.toInt, s.toInt)
    case other =>
      throw new IllegalArgumentException(s"unsupported column type: '$other'")
  }

  /** Declared columns → Spark schema. */
  def structType(cols: Seq[ColumnSpec]): StructType =
    StructType(cols.map(c => StructField(c.name, toDataType(c.typeName), c.nullable)))

  /** JSON-schema primitive name for a config type. */
  def jsonSchemaType(typeName: String): String = toDataType(typeName) match {
    case StringType | BinaryType | TimestampType | DateType => "string"
    case IntegerType | LongType | ShortType => "integer"
    case FloatType | DoubleType | _: DecimalType => "number"
    case BooleanType => "boolean"
    case other => throw new IllegalArgumentException(s"no json-schema mapping for $other")
  }

  /** A column is required (its JSON type array has no "null") iff it is
    * NOT nullable, OR it is a key property, OR it is the replication key
    * (reference: tap.py:180-183; test evidence FIXTURES.md F2/F3 — the
    * same column is `["integer"]` when it is the replication key and
    * `["integer","null"]` otherwise).
    */
  def isRequired(stream: StreamConfig, col: ColumnSpec): Boolean =
    !col.nullable ||
      stream.keyProperties.contains(col.name) ||
      stream.replicationKey.contains(col.name)

  /** Per-column JSON type array, e.g. `["integer","null"]`. */
  def jsonTypeArray(stream: StreamConfig, col: ColumnSpec): Seq[String] = {
    val base = jsonSchemaType(col.typeName)
    if (isRequired(stream, col)) Seq(base) else Seq(base, "null")
  }

  /** JSON-schema primitive for a Spark type (the inverse direction of
    * [[jsonSchemaType]], for columns that exist only post-transform).
    */
  def jsonSchemaTypeOf(dt: DataType): String = dt match {
    case StringType | BinaryType | TimestampType | DateType => "string"
    case IntegerType | LongType | ShortType | ByteType => "integer"
    case FloatType | DoubleType | _: DecimalType => "number"
    case BooleanType => "boolean"
    case _ => "string" // complex types serialize as JSON text
  }

  /** JSON-schema document for the stream's emitted shape `schema`:
    * columns declared in the config keep their declared types and
    * required rules; map-computed columns derive from the Spark type and
    * are nullable unless they are key properties (the SDK likewise
    * regenerates the SCHEMA message from the transformed record shape).
    * Without a stream map, pass the declared [[structType]] — never
    * `df.schema`, which Spark widens through operators.
    */
  def jsonSchema(stream: StreamConfig, schema: StructType): ObjectNode = {
    val declared = stream.columns.map(c => c.name -> c).toMap
    val props = JsonNodeFactory.instance.objectNode()
    schema.fields.foreach { f =>
      val types = declared.get(f.name) match {
        // a declared column whose Spark type the map changed (e.g.
        // {"amount": "CAST(amount AS STRING)"}) must advertise the ACTUAL
        // type — emitting the declared one would contradict the RECORD
        // payloads and strict Singer targets reject the sync
        case Some(c) if toDataType(c.typeName) == f.dataType => jsonTypeArray(stream, c)
        case _ =>
          val base = jsonSchemaTypeOf(f.dataType)
          if (stream.keyProperties.contains(f.name)) Seq(base) else Seq(base, "null")
      }
      val prop = props.putObject(f.name)
      types.foldLeft(prop.putArray("type"))(_ add _)
      if (f.dataType == TimestampType) prop.put("format", "date-time")
      else if (f.dataType == DateType) prop.put("format", "date")
    }
    JsonNodeFactory.instance.objectNode().put("type", "object")
      .set[ObjectNode]("properties", props)
  }
}
