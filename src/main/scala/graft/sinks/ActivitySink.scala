package graft.sinks

import java.util.concurrent.ConcurrentHashMap

import graft.ingest.Pipeline
import graft.sources.CdcSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** K1 — the materialized activity table (reference: event_processor.py:89-113
  * writing cassandra-init.cql:6-15).
  *
  * The reference's whole read path works because the activity table is
  * materialized partitioned by `user_id` and clustered newest-first
  * (cassandra-init.cql:14-15). The Spark-native equivalent:
  *
  *  - '''hash-bucket directory partitioning''': `user_bucket =
  *    pmod(hash(user_id), N)` as a partition directory column. A feed read
  *    computes the buckets of the followee set and prunes to those
  *    directories — genuine partition pruning with a bounded directory
  *    count (N, not |users|), which is what survives 100 TB / 1000
  *    executors. (Spark's `bucketBy` would also give bucket pruning but
  *    requires a metastore table; the directory form works on any path.)
  *  - '''clustering order, requested but not delivered''': [[write]]
  *    asks for `sortWithinPartitions(user_id, event_timestamp desc,
  *    activity_pk desc)`, the CQL clustering order. Spark's planned write
  *    (`spark.sql.optimizer.plannedWrite.enabled`, on by default) sorts
  *    each write task by the partition column `user_bucket` alone, and
  *    that sort replaces the requested one, so the rows of a file are not
  *    in clustering order. Results do not depend on it: every feed read
  *    orders its rows itself ([[graft.serve.FeedQueries]]). Prefixing the
  *    sort with `user_bucket` would restore the order, at about 6 % more
  *    bytes per event; that trade is still open.
  *
  * [[materialized]] builds the table once per fixture dir (then reuses it),
  * and persists the read-back DataFrame — the engine-scoped substitution for
  * the reference's Redis result cache (S4/K2, main.py:143-146,184; the
  * reference caches pages forever with no invalidation, we scope the cache
  * to the session instead, SURVEY.md §2.10 item 6).
  */
object ActivitySink {

  val defaultBuckets = 64

  private def clusteringSort = Seq(
    col("user_id"), col("event_timestamp").desc, col("activity_pk").desc)

  /** Write the canonical activity table: bucket-partitioned directories
    * ([[BucketedSink]] with the CQL clustering sort, which the planned
    * write overrides; see above). */
  def write(activity: DataFrame, path: String, buckets: Int = defaultBuckets): Unit =
    BucketedSink.write(activity, path, col("user_id"), "user_bucket",
      buckets, clusteringSort, "overwrite")

  /** Append one micro-batch into the same layout (streaming K1). Each
    * batch adds files under the bucket directories; a
    * periodic compaction (re-running [[write]] over the accumulated
    * table) restores one-file-per-bucket when batch counts grow. */
  def appendBatch(activity: DataFrame, path: String, buckets: Int = defaultBuckets): Unit =
    BucketedSink.write(activity, path, col("user_id"), "user_bucket",
      buckets, clusteringSort, "append")

  /** The K1 write path in streaming form (≙ event_processor.py:89-113):
    * checkpointed foreachBatch into the bucketed/clustered layout, so the
    * serving table the feed queries read is maintained continuously.
    * Delivery semantics: see [[BucketedSink.runToTable]] — rows carry the
    * deterministic `activity_pk` key, so readers needing exactly-once
    * apply `dropDuplicates(activity_type, activity_pk)`. */
  def runToActivityTable(
      activity: DataFrame,
      path: String,
      checkpointPath: String,
      buckets: Int = defaultBuckets): org.apache.spark.sql.streaming.StreamingQuery =
    BucketedSink.runToTable(activity, path, checkpointPath,
      appendBatch(_, path, buckets))

  /** Compact an activity table that [[runToActivityTable]] has been
    * appending into (VERDICT r3 item 8 — without this, streaming cadence
    * accumulates small files until scan throughput decays); mechanics and
    * the quiesced-writer contract in [[BucketedSink.compact]]. */
  def compact(spark: SparkSession, path: String, buckets: Int = defaultBuckets): Unit =
    BucketedSink.compact(spark, path,
      // user_bucket is re-derived by write() from the same hash
      (df, tmp) => write(df.drop("user_bucket"), tmp, buckets))

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucket ids of a (small) keyed DataFrame of `user_id` — used to prune
    * the feed scan to the followees' partitions. The collect is the API-edge
    * equivalent of the reference's client-side IN-list (main.py:149-154):
    * at most `buckets` small ints, never data-sized. */
  def bucketsOf(keys: DataFrame, buckets: Int = defaultBuckets): Seq[Int] =
    keys
      .select(pmod(hash(col("user_id")), lit(buckets)).as("b"))
      .distinct()
      .collect()
      .map(_.getInt(0))
      .toSeq

  // One materialization per fixture dir per JVM; the table itself is
  // immutable fixture-derived, so reuse is sound.
  private val cache = new ConcurrentHashMap[String, DataFrame]()

  /** The materialized activity table for a fixture dir (built on first use,
    * persisted MEMORY_AND_DISK thereafter). Columns: canonical 7 + the
    * deterministic `activity_pk` tiebreak + `user_bucket`. */
  def materialized(spark: SparkSession, sfDir: String): DataFrame =
    cache.computeIfAbsent(sfDir, { _ =>
      val path = graft.util.DirKeys.tmpPath("activity", sfDir)
      val (l, c, s, f) = CdcSource.all(spark, sfDir)
      // A2: observe() on the write-side plan — the Spark-native counterpart
      // of the reference's processed-events counter (connection_state.py:8-9,
      // event_processor.py:73-74); metrics surface via QueryExecutionListener.
      val activity = Pipeline
        .activity(l, c, s, f)
        .observe("graft_ingest", count(lit(1)).as("events_written"))
      write(activity, path)
      read(spark, path).persist(StorageLevel.MEMORY_AND_DISK)
    })
}
