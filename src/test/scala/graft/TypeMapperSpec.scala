package graft

import graft.config.{ColumnSpec, StreamConfig}
import graft.types.TypeMapper
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class TypeMapperSpec extends AnyFunSuite {

  test("core type mappings") {
    assert(TypeMapper.toDataType("text") === StringType)
    assert(TypeMapper.toDataType("string") === StringType)
    assert(TypeMapper.toDataType("uuid") === StringType)
    assert(TypeMapper.toDataType("int") === IntegerType)
    assert(TypeMapper.toDataType("bigint") === LongType)
    assert(TypeMapper.toDataType("datetime") === TimestampType)
    assert(TypeMapper.toDataType("timestamptz") === TimestampType)
    assert(TypeMapper.toDataType("bool") === BooleanType)
    assert(TypeMapper.toDataType("double precision") === DoubleType)
    assert(TypeMapper.toDataType("DECIMAL(12,2)") === DecimalType(12, 2))
    assert(TypeMapper.toDataType("bytea") === BinaryType)
    assertThrows[IllegalArgumentException](TypeMapper.toDataType("wat"))
  }

  // Real-world PG config spellings the reference passes through untouched
  // (ADVICE r1): parameterized character types and bare/precision-only
  // numerics must not fall through to the unsupported-type error.
  test("parameterized and bare numeric type spellings") {
    assert(TypeMapper.toDataType("varchar(255)") === StringType)
    assert(TypeMapper.toDataType("char(10)") === StringType)
    assert(TypeMapper.toDataType("character varying(64)") === StringType)
    assert(TypeMapper.toDataType("CHARACTER(8)") === StringType)
    assert(TypeMapper.toDataType("nvarchar(32)") === StringType)
    assert(TypeMapper.toDataType("numeric") === DecimalType(38, 18))
    assert(TypeMapper.toDataType("decimal") === DecimalType(38, 18))
    assert(TypeMapper.toDataType("numeric(12)") === DecimalType(12, 0))
    assert(TypeMapper.toDataType("NUMERIC(10, 4)") === DecimalType(10, 4))
  }

  test("CLI arg parsing is position-insensitive (ADVICE r1)") {
    val (o1, f1) = Main.parseArgs(Array("--discover", "--config", "c.json"))
    assert(o1 === Map("--config" -> "c.json") && f1 === Set("--discover"))
    val (o2, f2) = Main.parseArgs(Array("--config", "c.json", "--state", "s.json", "--about"))
    assert(o2 === Map("--config" -> "c.json", "--state" -> "s.json"))
    assert(f2 === Set("--about"))
    assertThrows[RuntimeException](Main.parseArgs(Array("--config")))
    assertThrows[RuntimeException](Main.parseArgs(Array("--wat", "x")))
  }

  // Reference semantics (tap.py:180-183, FIXTURES.md F2 vs F3): the same
  // nullable column is required iff it is a key property or the
  // replication key.
  test("required/nullable rules match the reference") {
    val cols = Seq(
      ColumnSpec("one", "text"),
      ColumnSpec("two", "int", nullable = true),
      ColumnSpec("three", "text", nullable = true),
      ColumnSpec("four", "text", nullable = false))

    val incremental = StreamConfig("test", "SELECT 1", keyProperties = Seq("one"),
      replicationKey = Some("two"), columns = cols)
    assert(TypeMapper.jsonTypeArray(incremental, cols(0)) === Seq("string"))
    assert(TypeMapper.jsonTypeArray(incremental, cols(1)) === Seq("integer")) // rep key
    assert(TypeMapper.jsonTypeArray(incremental, cols(2)) === Seq("string", "null"))
    assert(TypeMapper.jsonTypeArray(incremental, cols(3)) === Seq("string"))

    val fullTable = StreamConfig("test", "SELECT 1", keyProperties = Seq("one"),
      columns = cols)
    assert(TypeMapper.jsonTypeArray(fullTable, cols(1)) === Seq("integer", "null"))
  }

  test("structType preserves declared nullability") {
    val st = TypeMapper.structType(Seq(
      ColumnSpec("a", "int"), ColumnSpec("b", "text", nullable = true)))
    assert(st === StructType(Seq(
      StructField("a", IntegerType, nullable = false),
      StructField("b", StringType, nullable = true))))
  }

  test("json schema emission") {
    val s = StreamConfig("t", "SELECT 1", keyProperties = Seq("id"),
      columns = Seq(ColumnSpec("id", "int"), ColumnSpec("at", "datetime", nullable = true)))
    val js = graft.sinks.SingerSink.render(
      TypeMapper.jsonSchema(s, TypeMapper.structType(s.columns)))
    assert(js.contains(""""id":{"type":["integer"]}"""))
    assert(js.contains(""""at":{"type":["string","null"],"format":"date-time"}"""))
  }
}
