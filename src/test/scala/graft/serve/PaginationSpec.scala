package graft.serve

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.SparkSuite
import graft.sinks.ActivitySink
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pagination invariants (SURVEY.md §5 item 3): page disjointness,
  * concatenation-is-prefix, and keyset ≡ offset equivalence; and the K1
  * page path (followee list → buckets → pruned page) over parquet. */
class PaginationSpec extends SparkSuite {

  import spark.implicits._

  // 100 activities of 4 followees + 50 of others, deterministic times
  private lazy val activity = (1 to 150).map { i =>
    val uid = if (i <= 100) s"u${i % 4}" else s"x${i % 7}"
    (uid, "LIKE_SHARD", new java.sql.Timestamp(1700000000000L + i * 1000L),
      i.toString, "shard", i.toLong)
  }.toDF("user_id", "activity_type", "event_timestamp", "target_id",
    "target_type", "activity_pk")

  private lazy val followers = Seq(
    ("me", "u0"), ("me", "u1"), ("me", "u2"), ("me", "u3"))
    .toDF("follower_id", "following_id")

  test("pages are disjoint and concatenate to a prefix of the full order") {
    val full = FeedQueries.feedPage(activity, followers, "me", limit = 100)
      .collect().map(_.getAs[Long]("activity_pk")).toSeq
    val p1 = FeedQueries.feedPage(activity, followers, "me", limit = 30)
      .collect().map(_.getAs[Long]("activity_pk")).toSeq
    val p2 = FeedQueries.feedPage(activity, followers, "me", limit = 30, offset = 30)
      .collect().map(_.getAs[Long]("activity_pk")).toSeq
    assert(p1.toSet.intersect(p2.toSet).isEmpty)
    assert((p1 ++ p2) === full.take(60))
    assert(full === full.sortBy(-_)) // newest first == pk desc here
  }

  test("keyset page equals the offset page after the same cursor") {
    val offsetPage = FeedQueries.feedPage(activity, followers, "me",
      limit = 20, offset = 30).collect().map(_.getAs[Long]("activity_pk")).toSeq
    // cursor = last row of the first 30
    val cursorRow = FeedQueries.feedPage(activity, followers, "me", limit = 30)
      .collect().last
    val keysetPage = FeedQueries.feedPageAfter(activity, followers, "me",
      lastTsMillis = cursorRow.getAs[java.sql.Timestamp]("event_timestamp").getTime,
      lastPk = cursorRow.getAs[Long]("activity_pk"),
      limit = 20).collect().map(_.getAs[Long]("activity_pk")).toSeq
    assert(keysetPage === offsetPage)
  }

  test("only followees' activities appear") {
    val page = FeedQueries.feedPage(activity, followers, "me", limit = 200)
    assert(page.where(not(col("user_id").startsWith("u"))).count() === 0)
    assert(page.count() === 100)
  }

  test("topKPerUser returns exactly k newest per user") {
    val top = FeedQueries.topKPerUser(activity, k = 5)
    assert(top.groupBy("user_id").count().where(col("count") > 5).count() === 0)
    val u0 = top.where(col("user_id") === "u0")
      .orderBy(col("rn")).collect().map(_.getAs[Long]("activity_pk")).toSeq
    // newest 5 of u0's activities (pks ≡ 0 mod 4, up to 100)
    assert(u0 === Seq(100L, 96L, 92L, 88L, 84L))
  }

  // Page-path fixture, on parquet like the served table: 6 followees with
  // 60 activities each (two full pages of 100, timestamps shared in pairs
  // so the pk tiebreak matters), 40 activities of users "me" does not
  // follow, and one with a null user_id. The follow table holds a
  // duplicate edge and null edges; "ghost" follows only null, "nobody"
  // follows no one.
  private lazy val pathDir = tmpDir("graft_feed_path")
  private lazy val pathActivity = {
    val rows = (1 to 401).map { i =>
      val uid = if (i <= 360) s"f${i % 6}" else if (i <= 400) s"x${i % 5}" else null
      (uid, "LIKE_SHARD", new java.sql.Timestamp(1700000000000L + (i / 2) * 1000L),
        i.toString, "shard", i.toLong)
    }.toDF("user_id", "activity_type", "event_timestamp", "target_id",
      "target_type", "activity_pk")
    rows.write.parquet(s"$pathDir/activity")
    spark.read.parquet(s"$pathDir/activity")
  }
  private lazy val pathFollowers = {
    ((0 until 6).map(k => ("me", s"f$k")) ++ Seq(
      ("me", "f0"), ("me", null), ("ghost", null), ("other", "x1")))
      .toDF("follower_id", "following_id")
      .coalesce(1).write.parquet(s"$pathDir/followers")
    spark.read.parquet(s"$pathDir/followers")
  }
  private val k1Buckets = 8
  private lazy val k1 = {
    ActivitySink.write(pathActivity, s"$pathDir/k1", k1Buckets)
    ActivitySink.read(spark, s"$pathDir/k1")
  }

  /** The served K1 path, in the order a request makes the calls. */
  private def materializedPage(uid: String, offset: Int): DataFrame = {
    val followees = FeedQueries.followeesOf(pathFollowers, uid)
    val buckets = ActivitySink.bucketsOf(followees, k1Buckets)
    FeedQueries.feedPageMaterialized(k1, buckets, followees, limit = 100, offset)
  }

  private def pks(df: DataFrame): Seq[Long] =
    df.collect().map(_.getAs[Long]("activity_pk")).toSeq

  /** Runs `body` under its own job group; returns the jobs it started and
    * the shuffle bytes their tasks wrote. */
  private def jobsAndShuffle(body: => Unit): (Int, Long) = {
    val group = "pagination-spec-page-path"
    val jobs = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "feed page path")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    (jobs.get, shuffleBytes.get)
  }

  test("K1 page path runs at most 2 jobs and shuffles nothing") {
    materializedPage("me", 0).collect() // table written, schema read, warm
    for (offset <- Seq(0, 100)) {
      val (jobs, shuffled) = jobsAndShuffle(materializedPage("me", offset).collect())
      // the followee scan of the follow table is one job by itself
      assert(jobs >= 1 && jobs <= 2, s"offset $offset: $jobs jobs")
      assert(shuffled === 0L, s"offset $offset: $shuffled shuffle bytes")
    }
  }

  test("materialized page equals feedPage and the plain answer at offsets 0 and 100") {
    val followed = (0 until 6).map(k => s"f$k").toSet
    val expected = pathActivity.collect()
      .filter(r => followed.contains(r.getAs[String]("user_id")))
      .map(r => (r.getAs[java.sql.Timestamp]("event_timestamp").getTime,
        r.getAs[Long]("activity_pk")))
      .sortBy { case (ts, pk) => (-ts, -pk) }
      .map(_._2).toSeq
    assert(expected.size === 360)
    for (offset <- Seq(0, 100)) {
      val page = pks(materializedPage("me", offset))
      assert(page === expected.slice(offset, offset + 100), s"offset $offset")
      assert(page ===
        pks(FeedQueries.feedPage(pathActivity, pathFollowers, "me", 100, offset)))
    }
  }

  test("a user with no followees gets an empty page from every page function") {
    for (uid <- Seq("nobody", "ghost")) {
      val followees = FeedQueries.followeesOf(pathFollowers, uid)
      assert(ActivitySink.bucketsOf(followees, k1Buckets).isEmpty, uid)
      assert(FeedQueries.feedPage(pathActivity, pathFollowers, uid, 100).collect().isEmpty, uid)
      assert(FeedQueries.feedPageAfter(pathActivity, pathFollowers, uid,
        lastTsMillis = 1800000000000L, lastPk = Long.MaxValue, limit = 100)
        .collect().isEmpty, uid)
      assert(materializedPage(uid, 0).collect().isEmpty, uid)
    }
  }

  test("a null following_id matches no row, as in the semi-join") {
    for (uid <- Seq("me", "ghost", "other")) {
      val semi = pathActivity.join(
        pathFollowers.where(col("follower_id") === uid)
          .select(col("following_id").as("user_id")),
        Seq("user_id"), "left_semi")
      val got = FeedQueries.followedActivity(pathActivity, pathFollowers, uid)
      assert(pks(got).sorted === pks(semi).sorted, uid)
      assert(got.where(col("user_id").isNull).isEmpty, uid)
    }
    assert(FeedQueries.followedActivity(pathActivity, pathFollowers, "me").count() === 360)
  }
}
