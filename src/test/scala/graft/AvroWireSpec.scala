package graft

import java.io.ByteArrayOutputStream

import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.functions._

import graft.cdc.AvroWire

/** The Avro wire contract (engagement_event.avsc): encode/decode
  * expressions, union normalization, PERMISSIVE malformed handling,
  * and the source path into the standard unwrap shape. */
class AvroWireSpec extends SparkSpec {
  import spark.implicits._

  private def rawEncode(set: GenericRecord => Unit): Array[Byte] = {
    val rec = new GenericData.Record(AvroWire.schema)
    set(rec)
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](AvroWire.schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  test("encode → decode round-trips all fields including nulls") {
    val df = Seq(("42", "c-1", "u-9", "play", "2024-01-01T10:00:00.000000",
        java.lang.Long.valueOf(1500L), "web", java.lang.Double.valueOf(2.5),
        """{"k":1}""", null: String))
      .toDF("event_id", "content_id", "user_id", "event_type", "event_ts",
        "duration_ms", "device", "engagement_score", "raw_payload", "processed_ts")
    val rec = struct(df.columns.map(col): _*)
    val back = df.select(call_function("graft_avro_decode",
      call_function("graft_avro_encode", rec)).as("r")).select("r.*").head()
    assert(back.getString(0) === "42")
    assert(back.getString(3) === "play")
    assert(back.getLong(5) === 1500L)
    assert(back.getDouble(7) === 2.5)
    assert(back.isNullAt(9)) // null processed_ts survives
  }

  test("long-branch event_id in the union decodes to its string form") {
    val bytes = rawEncode { r => r.put(0, java.lang.Long.valueOf(1234567L)) }
    val out = Seq(bytes).toDF("value")
      .select(call_function("graft_avro_decode", col("value")).as("r"))
      .select("r.event_id").head()
    assert(out.getString(0) === "1234567")
  }

  test("malformed bytes decode to a null struct (PERMISSIVE)") {
    // 0x01 = union index 1 (long) then EOF — a truncated record
    val out = Seq(Array[Byte](1), Array[Byte](99, 98, 97)).toDF("value")
      .select(call_function("graft_avro_decode", col("value")).as("r"))
      .collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("avroEngagement source lands in the standard unwrap shape, drops idless") {
    val good = rawEncode { r =>
      r.put(0, new org.apache.avro.util.Utf8("7"))
      r.put(1, new org.apache.avro.util.Utf8("content-3"))
      r.put(3, new org.apache.avro.util.Utf8("finish"))
      r.put(4, new org.apache.avro.util.Utf8("2024-01-01T10:00:00.000000"))
      r.put(5, java.lang.Long.valueOf(60000L))
      r.put(6, new org.apache.avro.util.Utf8("web"))
    }
    val idless = rawEncode { _ => () } // all-null record → dropped
    val out = graft.sources.Sources.avroEngagement(
      Seq(good, idless).toDF("value"))
    val rows = out.collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("event_id") === 7L)
    assert(r.getAs[String]("content_id") === "content-3")
    assert(r.getAs[java.sql.Timestamp]("event_ts") !== null)
    // and it enriches like the JSON path
    val dim = graft.dim.ContentDim.emptyDim(spark)
    assert(graft.enrich.Enrich.enrich(out, dim).count() === 1)
  }
}
