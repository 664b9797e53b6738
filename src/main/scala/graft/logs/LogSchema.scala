package graft.logs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ClockTimestamp

/** Canonical log record shape + ingest normalization.
  *
  * The reference defines the record three times (wire: proto/log.proto:6-14,
  * in-memory: internal/db/db.go:69-77, storage DDL: internal/db/db.go:40-54);
  * this is the single Spark `StructType` equivalent. `attrs` is stored as a
  * JSON string (db.go:46, marshal at db.go:161-165) with a derived map view,
  * because the reference's storage column is String and queries reach into it
  * with JSONExtractString (db.go:94).
  */
object LogSchema {

  /** Storage schema — mirrors the ClickHouse DDL (internal/db/db.go:40-54).
    * `DateTime64(3,'UTC')` → TimestampType at ms precision (session TZ UTC);
    * `LowCardinality(String)` → StringType (parquet dictionary-encodes
    * automatically, same effect as LowCardinality).
    */
  val schema: StructType = StructType(Seq(
    StructField("ts", TimestampType, nullable = false),
    StructField("service", StringType, nullable = false),
    StructField("level", StringType, nullable = false),
    StructField("msg", StringType, nullable = true),
    StructField("attrs", StringType, nullable = true),
    StructField("trace_id", StringType, nullable = true),
    StructField("span_id", StringType, nullable = true)))

  /** Wire schema — protobuf LogEntry (proto/log.proto:6-14): ts is a
    * string (RFC3339/RFC3339Nano), attrs a map<string,string>. */
  val wireSchema: StructType = StructType(Seq(
    StructField("ts", StringType, nullable = true),
    StructField("service", StringType, nullable = true),
    StructField("level", StringType, nullable = true),
    StructField("msg", StringType, nullable = true),
    StructField("attrs", MapType(StringType, StringType), nullable = true),
    StructField("trace_id", StringType, nullable = true),
    StructField("span_id", StringType, nullable = true)))

  private val attrsMapType = MapType(StringType, StringType)

  /** Ingest normalization (internal/service/service.go:26-44): parse the ts
    * string as RFC3339Nano / RFC3339, falling back to `now()` UTC when
    * unparseable (service.go:27-34); serialize the attrs map to a JSON
    * string (db.go:161-165). `try_to_timestamp` uses Spark's ISO-8601 cast
    * parser, which accepts `Z`/±hh:mm offsets and 0-9 fractional digits —
    * the same surface Go's two time.Parse layouts accept — and yields NULL
    * (not an ANSI error) on failure, making the fallback a `coalesce`.
    * The fallback is [[ClockTimestamp]], read when the row is normalized
    * (in the micro-batch, not on the ack path), like the reference's
    * per-entry `time.Now().UTC()`; unlike `current_timestamp()` it is not
    * folded into a per-query literal, so warm micro-batches reuse their
    * generated classes instead of compiling new ones.
    * Result is truncated to millisecond precision like the reference's
    * DateTime64(3) column.
    */
  def normalize(wire: DataFrame): DataFrame =
    wire.select(
      date_trunc("millisecond",
        coalesce(try_to_timestamp(col("ts")), ClockTimestamp.clockTimestamp())).as("ts"),
      coalesce(col("service"), lit("")).as("service"),
      coalesce(col("level"), lit("")).as("level"),
      col("msg"),
      to_json(col("attrs")).as("attrs"),
      col("trace_id"),
      col("span_id"))

  /** Lenient JSON-string → map view of attrs: malformed JSON reads as an
    * empty map, mirroring db.go:122-131 (json.Unmarshal error → `{}` with a
    * warning, never a query failure). */
  def attrsMap(attrs: Column): Column =
    coalesce(from_json(attrs, attrsMapType), map())

  /** `JSONExtractString(attrs, key)` analog (db.go:94). ClickHouse returns
    * `''` for missing key / invalid JSON; `get_json_object` returns NULL.
    * Inside an equality filter the two are indistinguishable (NULL = x is
    * never true, '' = x is only true for x = '', which the API cannot send
    * because empty params are treated as absent — api.go:69-71), so the
    * cheaper codegen'd builtin is used. */
  def attrString(attrs: Column, key: String): Column =
    get_json_object(attrs, s"$$.$key")
}
