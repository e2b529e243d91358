package graft.streaming

import graft.SparkSuite
import graft.ingest.{Adapters, CdcEnvelope}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Streaming parity (SURVEY.md §2.9): the batch plan bound to MemoryStream,
  * checkpointed parquet sink, and the replay-twice proof that watermarked
  * dedup upgrades at-least-once to effectively-once. */
class StreamingSpec extends SparkSuite {

  import spark.implicits._

  private val events = Seq(
    """{"id":7,"shard_id":3,"liked_by":"2","__op":"c","__table":"likes","__source_ts_ms":1752228000000,"__source_table":"likes"}""",
    """{"id":4,"message":"nice shard!","user_id":"2","shard_id":3,"__op":"c","__table":"comments","__source_ts_ms":1752228060000,"__source_table":"comments"}""",
    """{"id":6,"title":"My Sixth Shard","user_id":"2","templateType":"react","mode":"normal","type":"public","__op":"c","__table":"shards","__source_ts_ms":1752228120000,"__source_table":"shards"}""",
    """{"id":2,"follower_id":"2","following_id":"1","__op":"c","__table":"followers","__source_ts_ms":1752228180000,"__source_table":"followers"}""",
    """{"id":8,"shard_id":3,"liked_by":"9","__op":"u","__table":"likes","__source_ts_ms":1752228240000,"__source_table":"likes"}""")

  test("streaming pipeline over MemoryStream produces the 4 activities") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(events: _*)
    val out = tmpDir("graft_stream_out")
    val ckpt = tmpDir("graft_stream_ckpt")
    val q = StreamingIngest.runToParquet(
      StreamingIngest.activityStream(mem.toDF().withColumnRenamed("value", "value")),
      out, ckpt)
    q.awaitTermination()
    val res = spark.read.parquet(out)
    assert(res.count() === 4) // the 'u' event is gated out
    assert(res.select("activity_type").distinct().count() === 4)
  }

  test("replayed duplicates are absorbed: effectively-once via dedup") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = tmpDir("graft_replay_out")
    val ckpt = tmpDir("graft_replay_ckpt")

    // batch 1: all events; run to completion
    mem.addData(events: _*)
    StreamingIngest.runToParquet(
      StreamingIngest.dedupedActivityStream(mem.toDF()), out, ckpt)
      .awaitTermination()

    // batch 2: the SAME events replayed (≙ at-least-once redelivery),
    // plus one genuinely new event
    val fresh =
      """{"id":99,"shard_id":5,"liked_by":"3","__op":"c","__table":"likes","__source_ts_ms":1752228300000,"__source_table":"likes"}"""
    mem.addData(events :+ fresh: _*)
    StreamingIngest.runToParquet(
      StreamingIngest.dedupedActivityStream(mem.toDF()), out, ckpt)
      .awaitTermination()

    val res = spark.read.parquet(out)
    // 4 originals + 1 fresh; replays deduped by the event key
    assert(res.count() === 5)
    assert(res.dropDuplicates("activity_type", "activity_pk").count() === 5)
  }

  test("streaming K1: foreachBatch maintains the bucketed serving layout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = tmpDir("graft_k1_stream_out")
    val ckpt = tmpDir("graft_k1_stream_ckpt")

    mem.addData(events: _*)
    graft.sinks.ActivitySink.runToActivityTable(
      StreamingIngest.dedupedActivityStream(mem.toDF()), out, ckpt)
      .awaitTermination()
    val fresh =
      """{"id":99,"shard_id":5,"liked_by":"3","__op":"c","__table":"likes","__source_ts_ms":1752228300000,"__source_table":"likes"}"""
    mem.addData(fresh)
    graft.sinks.ActivitySink.runToActivityTable(
      StreamingIngest.dedupedActivityStream(mem.toDF()), out, ckpt)
      .awaitTermination()

    val table = spark.read.parquet(out)
    assert(table.count() === 5) // 4 creates + 1 fresh, deduped
    assert(table.columns.contains("user_bucket"))
    // partition pruning works against the streamed layout
    val userBuckets = graft.sinks.ActivitySink.bucketsOf(
      table.select("user_id").distinct())
    assert(userBuckets.nonEmpty)
    val pruned = table.where(org.apache.spark.sql.functions.col("user_bucket")
      .isin(userBuckets: _*))
    assert(pruned.count() === 5)
  }

  test("dropDuplicatesWithinWatermark variant also absorbs bounded-lag replays") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = tmpDir("graft_replay_within_out")
    val ckpt = tmpDir("graft_replay_within_ckpt")

    mem.addData(events: _*)
    StreamingIngest.runToParquet(
      StreamingIngest.dedupedActivityStreamWithin(mem.toDF()), out, ckpt)
      .awaitTermination()

    // same events redelivered within the watermark horizon + one new
    val fresh =
      """{"id":99,"shard_id":5,"liked_by":"3","__op":"c","__table":"likes","__source_ts_ms":1752228300000,"__source_table":"likes"}"""
    mem.addData(events :+ fresh: _*)
    StreamingIngest.runToParquet(
      StreamingIngest.dedupedActivityStreamWithin(mem.toDF()), out, ckpt)
      .awaitTermination()

    val res = spark.read.parquet(out)
    assert(res.count() === 5)
    assert(res.dropDuplicates("activity_type", "activity_pk").count() === 5)
  }

  /** Every frame shape the one-pass plan must treat as the per-table
    * union does: the four tables, `u`/`d` ops, truncated JSON, JSON
    * without `__op`, an unknown `__source_table`, and a followers frame
    * whose likes/comments field `shard_id` is mistyped. */
  private val mixed = events ++ Seq(
    """{"id":5,"message":"gone","user_id":"3","shard_id":3,"__op":"d","__table":"comments","__source_ts_ms":1752228250000,"__source_table":"comments","__deleted":"true"}""",
    """{"id":9,"shard_id":3,"liked_by":"2","__op":"c","__tab""",
    """{"id":10,"shard_id":3,"liked_by":"4","__table":"likes","__source_ts_ms":1752228260000,"__source_table":"likes"}""",
    """{"id":11,"user_id":"2","__op":"c","__table":"reposts","__source_ts_ms":1752228270000,"__source_table":"reposts"}""",
    """{"id":12,"follower_id":"3","following_id":"2","shard_id":"abc","__op":"c","__table":"followers","__source_ts_ms":1752228280000,"__source_table":"followers"}""")

  /** The plan the one-pass stream replaces: each table parsed with its own
    * schema, gated and projected by its typed adapter, then unioned. */
  private def perTableUnion(raw: DataFrame): DataFrame =
    Seq(
      Adapters.likes(CdcEnvelope.admitted(CdcEnvelope.parseTable(raw, "likes"))),
      Adapters.comments(CdcEnvelope.admitted(CdcEnvelope.parseTable(raw, "comments"))),
      Adapters.shards(CdcEnvelope.admitted(CdcEnvelope.parseTable(raw, "shards"))),
      Adapters.followers(CdcEnvelope.admitted(CdcEnvelope.parseTable(raw, "followers"))))
      .reduce(_ unionByName _)

  private def sorted(rows: Array[Row]): Seq[Row] =
    rows.toSeq.sortBy(r => (r.getAs[String]("activity_type"), r.getAs[Long]("activity_pk")))

  test("one-pass activityStream equals the per-table union over mixed frames") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(mixed: _*)
    val stream = StreamingIngest.activityStream(mem.toDF())
    assert(stream.schema === perTableUnion(mem.toDF()).schema)
    val q = stream.writeStream.format("memory").queryName("one_pass_activity")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = sorted(spark.table("one_pass_activity").collect())
    val want = sorted(perTableUnion(mixed.toDF("value")).collect())
    assert(got === want)
    // 4 creates + the follow whose foreign field is mistyped
    assert(got.map(_.getAs[Long]("activity_pk")) === Seq(4L, 6L, 2L, 12L, 7L))
    val follow = got.find(_.getAs[Long]("activity_pk") == 12L).get
    assert(follow.getAs[String]("user_id") === "3")
    assert(follow.getAs[String]("target_id") === "2")
    // the source is scanned once: one input row per frame
    assert(q.recentProgress.map(_.numInputRows).sum === mixed.size.toLong)
  }

  test("one-pass activityStream parses each frame once") {
    // an RDD source, so the optimizer cannot fold the plan into a relation
    val raw = spark.sparkContext.parallelize(mixed).toDF("value")
    val plan = StreamingIngest.activityStream(raw).queryExecution.executedPlan
    val parses = plan.flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))
    assert(parses.size === 1)
  }

  test("kafka binding is compiled in-tree and reaches source resolution") {
    // The production constructor runs the real code path: subscribe list,
    // offsets, frame projection. Without the spark-sql-kafka connector jar
    // (absent in this zero-egress env) Spark fails at exactly the
    // data-source lookup — proving the binding is one classpath jar away,
    // not an unexercised docstring claim.
    val e = intercept[Exception] {
      StreamingIngest.kafkaActivityStream(spark, "broker-1:9092,broker-2:9092")
    }
    assert(e.getMessage.toLowerCase.contains("kafka"),
      s"expected kafka source-resolution failure, got: ${e.getMessage}")
    assert(StreamingIngest.topics ===
      Seq("postgres.public.likes", "postgres.public.comments",
        "postgres.public.shards", "postgres.public.followers"))
  }
}
