package graft.model

import org.apache.spark.sql.types._

/** Schema system for the engine.
  *
  * Source-table schemas mirror the reference's CDC-captured Postgres tables
  * (reference: postgres-init.sql:4-11, 41-47, 49-59, 61-67) flattened through
  * the Debezium `ExtractNewRecordState` transform, which appends four
  * meta-fields (reference: debezium-connectors/debezium-postgres-connector.config.json:15-19):
  * `__op`, `__table`, `__source_ts_ms`, `__source_table` (plus `__deleted`
  * under delete.handling.mode=rewrite, config.json:18).
  *
  * Types follow FIXTURES.md: serial -> LongType, text -> StringType,
  * enum -> StringType, timestamp -> TimestampType, ts_ms -> LongType.
  */
object Schemas {

  /** Debezium meta-fields present on every flattened CDC event. */
  val cdcMetaFields: Seq[StructField] = Seq(
    StructField("__op", StringType),            // 'c' | 'u' | 'd'
    StructField("__table", StringType),
    StructField("__source_ts_ms", LongType),    // commit epoch-millis
    StructField("__source_table", StringType),
    StructField("__deleted", StringType)        // "true"/"false" (rewrite mode)
  )

  private def cdc(fields: StructField*): StructType =
    StructType(fields ++ cdcMetaFields)

  /** likes (reference: postgres-init.sql:41-47). */
  val likesCdc: StructType = cdc(
    StructField("id", LongType),
    StructField("shard_id", LongType),
    StructField("liked_by", StringType),
    StructField("updated_at", StringType),
    StructField("created_at", StringType)
  )

  /** comments (reference: postgres-init.sql:4-11). */
  val commentsCdc: StructType = cdc(
    StructField("id", LongType),
    StructField("message", StringType),
    StructField("user_id", StringType),
    StructField("shard_id", LongType),
    StructField("updated_at", StringType),
    StructField("created_at", StringType)
  )

  /** shards (reference: postgres-init.sql:49-59). Note camelCase
    * `templateType` source column (postgres-init.sql:53). */
  val shardsCdc: StructType = cdc(
    StructField("id", LongType),
    StructField("title", StringType),
    StructField("user_id", StringType),
    StructField("templateType", StringType),
    StructField("mode", StringType),            // 'normal' | 'collaboration'
    StructField("type", StringType),            // 'public' | 'private' | 'forked'
    StructField("last_sync_timestamp", StringType),
    StructField("updated_at", StringType),
    StructField("created_at", StringType)
  )

  /** followers (reference: postgres-init.sql:61-67). */
  val followersCdc: StructType = cdc(
    StructField("id", LongType),
    StructField("follower_id", StringType),
    StructField("following_id", StringType),
    StructField("updated_at", StringType),
    StructField("created_at", StringType)
  )

  /** CDC schema by source-table name (reference dispatch: enums.py:4-9,
    * strategy.py:137-149). */
  val cdcSchemas: Map[String, StructType] = Map(
    "likes" -> likesCdc,
    "comments" -> commentsCdc,
    "shards" -> shardsCdc,
    "followers" -> followersCdc
  )

  /** Union of `schemas` by field name, first occurrence first. Fails fast
    * when two schemas give one field name different types: one envelope
    * could not parse both tables' frames faithfully. */
  def merged(schemas: Seq[StructType]): StructType = {
    val fields = schemas.flatMap(_.fields)
    fields.groupBy(_.name).foreach { case (name, fs) =>
      val types = fs.map(_.dataType).distinct
      require(types.size == 1,
        s"field $name has conflicting types across CDC tables: ${types.mkString(", ")}")
    }
    StructType(fields.distinctBy(_.name))
  }

  /** One envelope for the multiplexed frame stream: every table's fields
    * plus the meta-fields, so each frame is parsed once whatever its
    * `__source_table` (reference: one `json.loads` per message,
    * event_processor.py:63). */
  val cdcEnvelope: StructType =
    merged(Seq(likesCdc, commentsCdc, shardsCdc, followersCdc))

  /** Uniform activity record, the engine's one typed IR
    * (reference: config.py:18-25 CassandraRecord; sink DDL
    * cassandra-init.cql:6-15). `event_timestamp` is a proper timestamp
    * (from `__source_ts_ms` millis); `activity_id` is a time-ordered
    * unique id (see graft.expr.TimeUuid). */
  val activity: StructType = StructType(Seq(
    StructField("user_id", StringType, nullable = false),
    StructField("activity_id", StringType, nullable = false),
    StructField("activity_type", StringType, nullable = false),
    StructField("event_timestamp", TimestampType, nullable = false),
    StructField("target_id", StringType),
    StructField("target_type", StringType),
    StructField("metadata", MapType(StringType, StringType))
  ))

  /** Valid activity_type values (reference: strategy.py:31,59,88,120). */
  val activityTypes: Seq[String] =
    Seq("LIKE_SHARD", "COMMENT_SHARD", "CREATE_SHARD", "FOLLOW_USER")
}

/** Typed boundary record (reference: config.py:18-25). Used with
  * Dataset[ActivityRecord] at the adapter edge; DataFrame inside the engine. */
case class ActivityRecord(
    user_id: String,
    activity_id: String,
    activity_type: String,
    event_timestamp: java.sql.Timestamp,
    target_id: String,
    target_type: String,
    metadata: Map[String, String])
