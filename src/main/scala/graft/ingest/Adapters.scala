package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-table CDC -> uniform activity projections (P1-P4).
  *
  * The reference implements these as four strategy classes that build a
  * `CassandraRecord` dict per event (reference: strategy.py:21-135). Here
  * each adapter is a pure `Column` projection — no UDF, no runtime dispatch,
  * fully codegen'd and constant-folded by Catalyst. At 100 TB this is a
  * narrow (shuffle-free) map stage.
  *
  * Common output shape (reference: config.py:18-25):
  *   user_id, activity_type, event_timestamp, target_id, target_type,
  *   metadata map<string,string>, activity_pk (internal: source row pk, used
  *   as the deterministic sort tiebreak; dropped at the sink edge).
  *
  * All adapters carry the metadata base keys
  * {source_table, primary_key_value, primary_key_field, primary_key_type}
  * (reference: strategy.py:41-46,69-75,98-107,129-134); comments add
  * `message`, shards add `template_type`/`mode`/`type`/`title`.
  *
  * Each table's mapping is written once, as a [[Spec]]. The typed adapters
  * ([[likes]] … [[followers]]) project one table's frames with it; the
  * multiplexed projection ([[multiplexed]]) picks every column's spec by
  * `__source_table`, so a stream of mixed frames is projected in one pass.
  */
object Adapters {

  /** Metadata map column: base keys + per-table extras.
    * Stringly-typed on purpose (SURVEY.md §2.10 item 7). */
  private def metadata(extras: Seq[(String, Column)]): Column = {
    val base: Seq[Column] = Seq(
      lit("source_table"), col("__table"),
      lit("primary_key_value"), col("id").cast("string"),
      lit("primary_key_field"), lit("id"),
      lit("primary_key_type"), lit("integer"))
    val extra = extras.flatMap { case (k, v) => Seq(lit(k), v) }
    map((base ++ extra): _*)
  }

  /** One source table's mapping onto the activity shape: what differs
    * between tables. */
  private final case class Spec(
      table: String,
      userId: Column,
      activityType: String,
      targetId: Column,
      targetType: String,
      extras: Seq[(String, Column)] = Nil)

  /** P1 — likes: actor is `liked_by`, target is the liked shard
    * (reference: strategy.py:21-47). */
  private val likesSpec = Spec("likes",
    userId = col("liked_by"),
    activityType = "LIKE_SHARD",
    targetId = col("shard_id"),
    targetType = "shard")

  /** P2 — comments: actor is `user_id`, target is the commented shard;
    * metadata additionally carries the comment `message`
    * (reference: strategy.py:49-76). */
  private val commentsSpec = Spec("comments",
    userId = col("user_id"),
    activityType = "COMMENT_SHARD",
    targetId = col("shard_id"),
    targetType = "shard",
    extras = Seq("message" -> col("message")))

  /** P3 — shards (posts): actor is `user_id`, target is the new shard
    * itself; metadata carries template_type (from camelCase source column
    * `templateType`, reference postgres-init.sql:53), mode, type, title
    * (reference: strategy.py:78-108). */
  private val shardsSpec = Spec("shards",
    userId = col("user_id"),
    activityType = "CREATE_SHARD",
    targetId = col("id"),
    targetType = "shard",
    extras = Seq(
      "template_type" -> col("templateType"),
      "mode" -> col("mode"),
      "type" -> col("type"),
      "title" -> col("title")))

  /** P4 — followers: the follow event is attributed to the *follower*
    * (user_id=follower_id), target is the followed user — keep exactly this
    * asymmetry (reference: strategy.py:110-135; SURVEY.md §2.10 item 4). */
  private val followersSpec = Spec("followers",
    userId = col("follower_id"),
    activityType = "FOLLOW_USER",
    targetId = col("following_id"),
    targetType = "user")

  /** Every source table's spec (≙ reference factory strategy.py:137-149). */
  private val specs: Seq[Spec] = Seq(likesSpec, commentsSpec, shardsSpec, followersSpec)

  /** The activity columns, each per-table column taken from the spec that
    * `pick` selects. */
  private def activity(pick: (Spec => Column) => Column): Seq[Column] = Seq(
    pick(_.userId.cast("string")).as("user_id"),
    pick(s => lit(s.activityType)).as("activity_type"),
    timestamp_millis(col("__source_ts_ms")).as("event_timestamp"),
    pick(_.targetId.cast("string")).as("target_id"),
    pick(s => lit(s.targetType)).as("target_type"),
    pick(s => metadata(s.extras)).as("metadata"),
    col("id").as("activity_pk"))

  private def project(cdc: DataFrame, spec: Spec): DataFrame =
    cdc.select(activity(column => column(spec)): _*)

  /** P1-P4 over one table's parsed frames. */
  def likes(cdc: DataFrame): DataFrame = project(cdc, likesSpec)
  def comments(cdc: DataFrame): DataFrame = project(cdc, commentsSpec)
  def shards(cdc: DataFrame): DataFrame = project(cdc, shardsSpec)
  def followers(cdc: DataFrame): DataFrame = project(cdc, followersSpec)

  /** Frames of any source table, parsed with [[graft.model.Schemas.cdcEnvelope]]
    * → activity shape in one projection. Frames naming no known table are
    * dropped; every per-table column is a CASE on `__source_table` over the
    * specs (the last spec is the ELSE arm, so a column is nullable only
    * where some table's mapping is). Same rows and schema as the union of
    * the typed adapters over per-table parses. */
  def multiplexed(cdc: DataFrame): DataFrame = {
    val table = col("__source_table")
    def pick(column: Spec => Column): Column =
      specs.init.tail.foldLeft(when(table === specs.head.table, column(specs.head))) {
        (acc, s) => acc.when(table === s.table, column(s))
      }.otherwise(column(specs.last))
    cdc.where(table.isin(specs.map(_.table): _*)).select(activity(pick): _*)
  }
}
