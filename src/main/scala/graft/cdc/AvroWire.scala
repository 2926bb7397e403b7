package graft.cdc

import java.io.ByteArrayOutputStream

import scala.util.control.NonFatal

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's Avro wire contract for engagement events
  * (/root/reference/schemas/engagement_event.avsc), re-expressed as
  * native Catalyst expressions over the Avro core library (which ships
  * with Spark — the spark-avro SQL module does not, offline):
  *
  *  - `graft_avro_encode(struct)` → binary: one Avro binary record;
  *  - `graft_avro_decode(binary)` → struct: PERMISSIVE — malformed
  *    bytes yield a null struct, mirroring the JSON unwrap's P4 drop
  *    contract; the `["null","long","string"]` event_id union
  *    normalizes to string on decode (the long branch is stringified),
  *    exactly how the reference's consumer treats mixed-type ids
  *    before normalization (EnhancedEngagementStreamingJob.java:521–529).
  *
  * Both are CodegenFallback expressions: the per-row work IS a library
  * call (Avro's DatumReader/Writer), so there is nothing for codegen to
  * fuse — the datum reader/writer are reused per task via transient
  * lazy vals (expressions deserialize per task, keeping them
  * thread-confined).
  */
object AvroWire {

  /** engagement_event.avsc rebuilt programmatically (same field order,
    * names, and union branches — the wire contract, not the file). */
  val schema: Schema = SchemaBuilder.record("EngagementEvent")
    .namespace("com.cdc.events").fields()
    .name("event_id").`type`().unionOf().nullType().and().longType().and().stringType()
      .endUnion().nullDefault()
    .name("content_id").`type`().nullable().stringType().noDefault()
    .name("user_id").`type`().nullable().stringType().noDefault()
    .name("event_type").`type`().nullable().stringType().noDefault()
    .name("event_ts").`type`().nullable().stringType().noDefault()
    .name("duration_ms").`type`().nullable().longType().noDefault()
    .name("device").`type`().nullable().stringType().noDefault()
    .name("engagement_score").`type`().nullable().doubleType().noDefault()
    .name("raw_payload").`type`().nullable().stringType().noDefault()
    .name("processed_ts").`type`().nullable().stringType().noDefault()
    .endRecord()

  /** Spark-side shape: event_id already union-normalized to string. */
  val sparkSchema: StructType = StructType(Seq(
    StructField("event_id", StringType),
    StructField("content_id", StringType),
    StructField("user_id", StringType),
    StructField("event_type", StringType),
    StructField("event_ts", StringType),
    StructField("duration_ms", LongType),
    StructField("device", StringType),
    StructField("engagement_score", DoubleType),
    StructField("raw_payload", StringType),
    StructField("processed_ts", StringType)))

  /** Indices of the string-typed fields in both schemas. */
  private[cdc] val stringFields = Set(0, 1, 2, 3, 4, 6, 8, 9)
}

/** struct → Avro binary record (schema: [[AvroWire.schema]]; string
  * event_id encodes through the union's string branch). */
case class AvroEncodeEngagement(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case s: StructType if s.length == AvroWire.sparkSchema.length &&
        s.fields.map(_.dataType).sameElements(AvroWire.sparkSchema.fields.map(_.dataType)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_avro_encode expects ${AvroWire.sparkSchema.simpleString}, got ${other.simpleString}")
    }
  }

  @transient private lazy val writer =
    new GenericDatumWriter[GenericRecord](AvroWire.schema)

  override def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    val rec = new GenericData.Record(AvroWire.schema)
    var i = 0
    while (i < AvroWire.sparkSchema.length) {
      val v: AnyRef =
        if (row.isNullAt(i)) null
        else if (AvroWire.stringFields(i)) new Utf8(row.getUTF8String(i).toString)
        else if (i == 5) java.lang.Long.valueOf(row.getLong(5))
        else java.lang.Double.valueOf(row.getDouble(7))
      rec.put(i, v)
      i += 1
    }
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    writer.write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_avro_encode"
}

/** Avro binary record → struct; malformed bytes → null (PERMISSIVE,
  * the P4 malformed-drop contract); long event_id → string. */
case class AvroDecodeEngagement(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = AvroWire.sparkSchema
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_avro_decode expects binary, got ${other.simpleString}")
    }
  }

  @transient private lazy val reader =
    new GenericDatumReader[GenericRecord](AvroWire.schema)

  override def nullSafeEval(input: Any): Any =
    try {
      val bytes = input.asInstanceOf[Array[Byte]]
      val dec = DecoderFactory.get().binaryDecoder(bytes, null)
      val rec = reader.read(null, dec)
      def str(v: AnyRef): UTF8String =
        if (v == null) null else UTF8String.fromString(v.toString)
      InternalRow(
        str(rec.get(0)), // union long|string → string
        str(rec.get(1)), str(rec.get(2)), str(rec.get(3)), str(rec.get(4)),
        rec.get(5) match { case null => null; case l: java.lang.Long => l.longValue() },
        str(rec.get(6)),
        rec.get(7) match { case null => null; case d: java.lang.Double => d.doubleValue() },
        str(rec.get(8)), str(rec.get(9)))
    } catch { case NonFatal(_) => null }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_avro_decode"
}
