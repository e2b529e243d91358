package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared hash-bucketed serving-layout machinery behind
  * [[ActivitySink]] (CDC tier, K1) and [[CorpusSink]] (corpus tier):
  * `pmod(hash(key), N)` directory partitioning (bounded directory count —
  * what survives 100 TB / 1000 executors), marker-fenced streaming
  * appends, and the small-file compaction pass.
  * Each tier keeps its own key/sort/column-name policy; the write/append/
  * run/compact mechanics live once, here. */
private[sinks] object BucketedSink {

  /** Write `df` partitioned into `bucketCol = pmod(hash(key), buckets)`
    * directories. `sortCols` does not reach the files: Spark's planned
    * write (`spark.sql.optimizer.plannedWrite.enabled`, on by default)
    * sorts each write task by `bucketCol` alone, and that sort replaces
    * the `sortWithinPartitions` below, so rows within a file follow no
    * `sortCols` order. */
  def write(
      df: DataFrame,
      path: String,
      key: Column,
      bucketCol: String,
      buckets: Int,
      sortCols: Seq[Column],
      mode: String): Unit =
    df.withColumn(bucketCol, pmod(hash(key), lit(buckets)))
      .repartition(col(bucketCol))
      .sortWithinPartitions(sortCols: _*)
      .write
      .mode(mode)
      .partitionBy(bucketCol)
      .parquet(path)

  /** Checkpointed foreachBatch into the bucketed layout via `append`.
    * Delivery: a per-batch marker file skips batches that already
    * committed fully, so clean restarts never duplicate. A crash between
    * a partial parquet append and the marker write can still replay that
    * batch (plain parquet append is not transactional) — at-least-once
    * at the file level; rows carrying a deterministic key let readers
    * needing exactly-once apply `dropDuplicates`, and a transactional
    * table format slots in at this seam for stronger guarantees. */
  def runToTable(
      stream: DataFrame,
      path: String,
      checkpointPath: String,
      append: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val marker = new org.apache.hadoop.fs.Path(s"$path/_batches/$id")
        val fs = marker.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        if (!fs.exists(marker)) {
          append(batch)
          fs.create(marker, true).close()
        }
      }
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Compact an appended table back to the canonical one-file-per-bucket
    * clustered layout and GC the `_batches` markers. The rewrite goes to
    * a sibling directory first (the write materializes the read of the
    * old files before the swap deletes them), then swaps via
    * rename-aside (ADVICE r7 — a delete-then-rename swap had a crash
    * window that lost the table): the live dir moves to `path__old`,
    * the rewrite renames into place, and only then is the old copy
    * deleted — a crash at any step leaves a complete copy, and the next
    * compact self-heals via [[graft.util.SwapDirs.restoreFromOld]]
    * (`path__old` if the second rename never ran, `path` otherwise). A
    * leftover `path__old` beside a complete live table is cleared first. Run BETWEEN streaming runs, not concurrently with
    * an active writer: the markers only guard foreachBatch retries
    * within a run (committed batches are already fenced by the
    * checkpoint), so a quiesced stream loses nothing by their removal. */
  def compact(
      spark: SparkSession,
      path: String,
      rewrite: (DataFrame, String) => Unit): Unit = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact")
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    // a prior compact crashed between its two renames → the table lives
    // only at __old; rename it back before reading
    graft.util.SwapDirs.restoreFromOld(fs, hPath)
    rewrite(spark.read.parquet(path), tmp.toString)
    if (fs.exists(old)) fs.delete(old, true)
    // Hadoop rename signals most failures by RETURNING FALSE, not
    // throwing; an unchecked false on the first rename would leave the
    // live dir in place and the second rename would nest the rewrite
    // INSIDE it (copy-into-dest fallback) — silent corruption. Abort
    // loudly instead: a failed swap leaves both complete copies.
    require(fs.rename(hPath, old),
      s"compact: rename $hPath -> $old failed; table unchanged, rewrite at $tmp")
    require(fs.rename(tmp, hPath),
      s"compact: rename $tmp -> $hPath failed; original preserved at $old")
    fs.delete(old, true)
    ()
  }
}
