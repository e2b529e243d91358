package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import graft.ingest.{CdcEnvelope, Pipeline}
import graft.serve.FeedQueries
import graft.sinks.ActivitySink
import graft.streaming.StreamingIngest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The CDC feed benchmark: one workload per JVM.
  *
  * {{{
  * perfbench.Main --workload ingest|serve --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Prints one JSON line: `correct`, `attempted`, `failed` and `metrics`
  * (end-to-end metrics untraced, per-layer metrics traced). */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  /** A metric as printed: name -> (value, unit). */
  final class Metrics {
    val values = mutable.LinkedHashMap.empty[String, (Double, String)]
    def update(name: String, vu: (Double, String)): Unit = values(name) = vu
  }

  /** Ops attempted and failed across a run. */
  final class Tally {
    @volatile var attempted = 0L
    @volatile var failed = 0L
    def add(a: Long, f: Long): Unit = synchronized { attempted += a; failed += f }
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1", kv("work"))
    val setup = new Setup(ManagementFactory.getRuntimeMXBean.getStartTime)
    val spark = session(Runtime.getRuntime.availableProcessors, args.work)
    val tally = new Tally
    val metrics = new Metrics
    if (args.trace) PerLayer.names.foreach { case (n, u) => metrics(n) = (0.0, u) }
    args.workload match {
      case "ingest" => new Ingest(spark, args, setup, tally, metrics).run()
      case "serve" => new Serve(spark, args, setup, tally, metrics).run()
      case w => sys.error(s"unknown workload $w")
    }
    if (!args.trace) metrics("setup_s") = (setup.seconds, "s")
    if (args.trace) Trace.write(s"${args.work}/trace.jsonl")
    SparkSession.getActiveSession.foreach(_.stop())
    // A per-layer ratio over an empty traced part (no pages, say) prints 0.
    val ms = metrics.values.map { case (n, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString
      s""""$n":{"value":$num,"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":${tally.failed == 0},"attempted":${tally.attempted},"failed":${tally.failed},"metrics":{$ms}}""")
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Set-up time: from JVM start to the first timed operation. Steps run
  * through [[repeat]] (input generation) run several times; only their
  * median counts. The Spark set-up steps run once: repeating them cost
  * 7-13 s a run that the benchmark's time budget cannot spare. */
final class Setup(jvmStartMs: Long) {
  private var extraMs = 0.0
  private var endMs = 0L

  /** Logs a set-up milestone to stderr with the seconds since JVM start. */
  def log(what: String): Unit =
    System.err.println(f"[perfbench-setup] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s $what")

  def repeat[A](times: Int)(body: => A): A = {
    val ms = mutable.ArrayBuffer.empty[Double]
    var out: Option[A] = None
    for (_ <- 1 to times) {
      val t0 = System.nanoTime()
      out = Some(body)
      ms += (System.nanoTime() - t0) / 1e6
    }
    extraMs += ms.sum - Stats.p50(ms.toSeq)
    out.get
  }

  /** Marks the first timed operation; later calls are ignored. */
  def done(): Unit = if (endMs == 0) { endMs = System.currentTimeMillis(); log("done") }
  def seconds: Double = (endMs - jvmStartMs - extraMs) / 1000.0
}

/** The per-layer metrics every traced run prints; a layer a workload does
  * not exercise reads 0. */
object PerLayer {
  val names: Seq[(String, String)] = Seq(
    "ingest.parse_ms" -> "ms", "ingest.gate_ms" -> "ms", "ingest.adapters_ms" -> "ms",
    "ingest.dedup_ms" -> "ms", "ingest.frames_in" -> "count", "ingest.malformed" -> "count",
    "ingest.f2_valid" -> "count", "ingest.f3_admitted" -> "count", "ingest.admit_ratio" -> "ratio",
    "ingest.dup_dropped" -> "count", "ingest.rows.likes" -> "count", "ingest.rows.comments" -> "count",
    "ingest.rows.shards" -> "count", "ingest.rows.followers" -> "count",
    "streaming.source_rows_per_frame" -> "ratio", "streaming.batches" -> "count",
    "streaming.first_batch_ms" -> "ms", "streaming.batch_ms_p50" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.get_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "streaming.state_dropped_by_watermark" -> "count",
    "sinks.write_ms" -> "ms", "sinks.files" -> "count",
    "sinks.bytes_per_row" -> "B/row", "sinks.files_per_bucket_max" -> "count",
    "serve.buckets_ms" -> "ms", "serve.page_ms" -> "ms", "serve.jobs_per_page" -> "count",
    "serve.tasks_per_page" -> "count", "serve.plan_ms_per_page" -> "ms",
    "serve.exec_ms_per_page" -> "ms", "serve.files_scanned_per_page" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
    "bench.trace_overhead_pct" -> "%", "bench.latency_p95_ms" -> "ms",
    "bench.local1_events_per_s" -> "events/s") ++
    Analytics.sample.map(q => s"queries.${q}_ms" -> "ms") ++
    Seq("queries.plan_ms" -> "ms", "queries.exec_ms" -> "ms")

  /** The end-to-end metrics. Throughput is frames per second of batch time
    * (`ingest`) or pages per second (`serve`); latency is per micro-batch
    * (`ingest`) or per page (`serve`). */
  def endToEnd(m: Main.Metrics, opsPerS: Double, latMs: Seq[Double], bytesPerEvent: Double): Unit = {
    require(latMs.nonEmpty && opsPerS > 0 && bytesPerEvent > 0 && !opsPerS.isInfinite,
      s"nothing measured: ${latMs.size} latencies, $opsPerS ops/s, $bytesPerEvent B/row")
    m("throughput_per_s") = (opsPerS, "ops/s")
    m("latency_p50_ms") = (Stats.p50(latMs), "ms")
    m("k1_bytes_per_event") = (bytesPerEvent, "B/row")
  }

  /** Engine totals of a traced phase. */
  def spark(m: Main.Metrics, c: Counters): Unit = {
    val t = c.all
    m("spark.jobs") = (t.jobs.get.toDouble, "count")
    m("spark.stages") = (t.stages.get.toDouble, "count")
    m("spark.tasks") = (t.tasks.get.toDouble, "count")
    m("spark.executor_run_ms") = (t.runMs.get.toDouble, "ms")
    m("spark.executor_cpu_ms") = (t.cpuNs.get / 1e6, "ms")
    m("spark.gc_ms") = (t.gcMs.get.toDouble, "ms")
    m("spark.shuffle_read_bytes") = (t.shuffleRead.get.toDouble, "B")
    m("spark.shuffle_write_bytes") = (t.shuffleWrite.get.toDouble, "B")
    m("spark.spill_bytes") = (t.spill.get.toDouble, "B")
  }

  /** Micro-batch counters of a traced phase. */
  def streaming(m: Main.Metrics, p: Progress, rowsPerFrame: Double): Unit = {
    val b = p.dataBatches
    m("streaming.source_rows_per_frame") = (rowsPerFrame, "ratio")
    m("streaming.batches") = (b.size.toDouble, "count")
    m("streaming.batch_ms_p50") = (Stats.p50(b.map(_.durationMs.get("triggerExecution").toDouble)), "ms")
    Seq("add_batch" -> "addBatch", "query_planning" -> "queryPlanning", "get_batch" -> "getBatch",
      "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets", "latest_offset" -> "latestOffset")
      .foreach { case (n, k) => m(s"streaming.${n}_ms") = (p.phaseMs(k), "ms") }
    val ops = p.all.flatMap(_.stateOperators)
    val last = p.all.lastOption.toSeq.flatMap(_.stateOperators)
    m("streaming.state_rows") = (last.map(_.numRowsTotal).sum.toDouble, "count")
    m("streaming.state_mb") = (last.map(_.memoryUsedBytes).sum / 1e6, "MB")
    m("streaming.state_dropped_by_watermark") = (ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
  }

  /** Serve-path counters per page: jobs and tasks run under the page job
    * group, plan/exec time and files scanned by the reader session. */
  def serve(m: Main.Metrics, pr: Probes, pages: Long): Unit = {
    val n = math.max(pages, 1L).toDouble
    m("serve.jobs_per_page") = (pr.counters.pages.jobs.get / n, "count")
    m("serve.tasks_per_page") = (pr.counters.pages.tasks.get / n, "count")
    m("serve.plan_ms_per_page") = (pr.actions.planNs.get / 1e6 / n, "ms")
    m("serve.exec_ms_per_page") = (pr.actions.execNs.get / 1e6 / n, "ms")
    m("serve.files_scanned_per_page") = (pr.actions.files.get / n, "count")
    m("serve.buckets_ms") = (Trace.selfMsP50("serve.buckets"), "ms")
    m("serve.page_ms") = (Trace.selfMsP50("serve.page"), "ms")
  }

  /** Layout of a K1 table on disk. */
  def sink(m: Main.Metrics, path: String, rows: Long): Unit = {
    val files = K1.files(path)
    m("sinks.files") = (files.size.toDouble, "count")
    m("sinks.bytes_per_row") = (files.map(_.length).sum.toDouble / math.max(rows, 1L), "B/row")
    m("sinks.files_per_bucket_max") =
      (if (files.isEmpty) 0.0 else files.groupBy(_.getParent).values.map(_.size).max.toDouble, "count")
  }
}

/** K1 table helpers shared by the workloads. */
object K1 {
  /** Data files of a table, skipping Spark's hidden and temporary entries. */
  def files(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    Option(new File(path).listFiles).toSeq.flatten.flatMap(walk)
  }

  def landed(r: Row): Landed = Landed(
    r.getAs[String]("user_id"), r.getAs[String]("activity_type"), r.getAs[Long]("activity_pk"),
    r.getAs[java.sql.Timestamp]("event_timestamp").getTime, r.getAs[String]("target_id"))

  def scan(spark: SparkSession, path: String): Seq[Landed] =
    ActivitySink.read(spark, path)
      .select(col("user_id"), col("activity_type"), col("activity_pk"), col("event_timestamp"), col("target_id"))
      .collect().toSeq.map(landed)

  /** Check a landed table against the expected answer: every expected
    * event once, nothing else. Each event is one attempted op. */
  def check(spark: SparkSession, path: String, exp: Expected, tally: Main.Tally, what: String): Seq[Landed] = {
    val got = scan(spark, path)
    val (lost, dups, unexpected, sample) = exp.diff(got)
    val bad = lost + dups + unexpected
    if (bad > 0) System.err.println(
      s"[perfbench] $what: lost=$lost duplicated=$dups unexpected=$unexpected lost e.g. ${sample.mkString(" ")}")
    tally.add(exp.landed.size.toLong + unexpected, bad.toLong)
    got
  }

  def rm(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(del)
      f.delete()
    }
    del(new File(path))
  }

  /** Frames as `files` parquet files under `src`, in frame order, with
    * modification times increasing in that order so the file source reads
    * them in order. */
  def stageParquet(spark: SparkSession, values: Vector[String], files: Int, src: String, tmp: String): Unit = {
    import spark.implicits._
    rm(src); rm(tmp); new File(src).mkdirs()
    spark.sparkContext.parallelize(values, files).toDF("value").write.parquet(tmp)
    val parts = new File(tmp).listFiles.filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val base = System.currentTimeMillis() - files * 1000L
    parts.zipWithIndex.foreach { case (part, k) =>
      val dst = new File(src, f"frames-$k%05d.parquet")
      Files.move(part.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
      dst.setLastModified(base + k * 1000L)
    }
    rm(tmp)
  }

  /** The source-of-truth follow table (follower_id, following_id). */
  def stageFollowers(spark: SparkSession, plan: Plan, path: String): Unit = {
    import spark.implicits._
    plan.follows.toDF("follower_id", "following_id").coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** One feed page through the serve layer: followee buckets, then the
    * bucket-pruned page. Spans split the two calls when tracing. */
  def page(table: DataFrame, followers: DataFrame, uid: String, limit: Int, offset: Int): Vector[Landed] = {
    val followees = FeedQueries.followeesOf(followers, uid)
    val buckets = Trace.span("serve.buckets")(ActivitySink.bucketsOf(followees))
    Trace.span("serve.page")(
      FeedQueries.feedPageMaterialized(table, buckets, followees, limit, offset).collect().toVector.map(landed))
  }

  val pageLimit = 100
}

/** `ingest`: one drain of a staged backlog through the streaming K1 write
  * path, large micro-batches of `filesPerTrigger` files. The first
  * `warmBatches` batches carry codegen and JIT warm-up and count as set-up;
  * the rest are measured, about `--seconds` worth on a 4-core host. */
final class Ingest(spark: SparkSession, a: Main.Args, setup: Setup, tally: Main.Tally, m: Main.Metrics) {
  val eventsPerFile = 6000
  val filesPerTrigger = 2
  val warmBatches = 3
  /** Measured batches, a multiple of 4 for the traced run's U-T-T-U split. */
  val measuredBatches = 4 * math.max(1, (a.seconds + 4) / 8)
  val files = filesPerTrigger * (warmBatches + measuredBatches)
  val users = 20000
  private val src = s"${a.work}/ingest-src"
  private val head = s"${a.work}/ingest-head"

  /** Drains `dir` into a fresh table, calling `onBatch` with the number of
    * data batches done so far while it runs. */
  private def drain(s: SparkSession, dir: String, k: Int)(onBatch: Int => Unit): (StreamingQuery, String) = {
    val out = s"${a.work}/k1-$k"
    val q = ActivitySink.runToActivityTable(
      StreamingIngest.dedupedActivityStream(
        s.readStream.schema("value STRING").option("maxFilesPerTrigger", filesPerTrigger).parquet(dir)),
      out, s"${a.work}/ckpt-$k")
    var seen = -1
    while (!q.awaitTermination(10)) {
      val n = q.recentProgress.count(_.numInputRows > 0)
      if (n != seen) { seen = n; onBatch(n) }
    }
    (q, out)
  }

  /** Frames per second of each data batch after the warm-up ones, with
    * frames = source rows / source rows per frame over the whole drain. */
  private def rates(q: StreamingQuery, frames: Long): Seq[Double] = {
    val b = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val perFrame = b.map(_.numInputRows).sum.toDouble / frames
    b.drop(warmBatches).map(p => p.numInputRows / perFrame * 1000.0 / p.durationMs.get("triggerExecution"))
  }

  private def batchMs(q: StreamingQuery): Seq[Double] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).drop(warmBatches)
      .map(_.durationMs.get("triggerExecution").toDouble)

  def run(): Unit = {
    val plan = setup.repeat(3)(Gen.plan(a.seed, eventsPerFile * files, users, 2.0))
    val values = plan.values
    val exp = plan.expected
    setup.log("planned")
    K1.stageParquet(spark, values, files, src, s"${a.work}/stage-tmp")
    setup.log("staged")
    val probes = new Probes(spark, spark)
    // Traced runs trace the middle half of the measured batches and leave
    // the quarters before and after untraced, so a warm-up trend cancels
    // out of the overhead.
    val quarter = measuredBatches / 4
    val (q, out) = drain(spark, src, 0) { n =>
      if (n >= warmBatches) setup.done()
      if (a.trace && !Trace.enabled && n >= warmBatches + quarter && n < warmBatches + 3 * quarter) {
        probes.start(); Trace.enabled = true
      }
      if (Trace.enabled && n >= warmBatches + 3 * quarter) { probes.stop(); Trace.enabled = false }
    }
    val landed = K1.check(spark, out, exp, tally, "drain")
    val r = rates(q, values.size)
    if (!a.trace) {
      PerLayer.endToEnd(m, Stats.p50(r), batchMs(q), K1.files(out).map(_.length).sum.toDouble / landed.size)
      return
    }
    val untraced = r.take(quarter) ++ r.drop(3 * quarter)
    m("bench.trace_overhead_pct") = ((Stats.p50(untraced) / Stats.p50(r.slice(quarter, 3 * quarter)) - 1) * 100, "%")
    m("bench.latency_p95_ms") = (Stats.quantile(batchMs(q), 0.95), "ms")
    PerLayer.spark(m, probes.counters)
    val all = q.recentProgress.toSeq
    PerLayer.streaming(m, probes.progress, all.map(_.numInputRows).sum.toDouble / values.size)
    m("streaming.first_batch_ms") = (all.head.durationMs.get("triggerExecution").toDouble, "ms")
    PerLayer.sink(m, out, landed.size)
    landed.groupBy(_.activityType).foreach { case (t, v) =>
      m(s"ingest.rows.${Gen.activityType.find(_._2 == t).get._1}") = (v.size.toDouble, "count")
    }
    // The replay and the one-core baseline run over the first two batches' files.
    new File(head).mkdirs()
    K1.files(src).sortBy(_.getName).take(2 * filesPerTrigger).foreach { f =>
      Files.copy(f.toPath, new File(head, f.getName).toPath)
      new File(head, f.getName).setLastModified(f.lastModified)
    }
    replay()
    local1()
  }

  /** Envelope fields the adapters and gates read, per table. The parse and
    * gates layers of the replay output exactly these, so Catalyst prunes the
    * same `from_json` fields in every layer and the differences hold. */
  private val adapterFields: Map[String, Seq[String]] = {
    val meta = Seq("id", "__op", "__table", "__source_ts_ms", "__source_table")
    Map(
      "likes" -> Seq("liked_by", "shard_id"),
      "comments" -> Seq("user_id", "shard_id", "message"),
      "shards" -> Seq("user_id", "templateType", "mode", "type", "title"),
      "followers" -> Seq("follower_id", "following_id")).map { case (t, f) => t -> (meta ++ f) }
  }

  /** Layered batch replay over the staged frames: each cumulative layer's
    * full output forced through `noop`, so self time = difference. */
  private def replay(): Unit = {
    val raw = spark.read.parquet(head)
    def parsed(t: String) = CdcEnvelope.parseTable(raw, t)
    def fields(t: String, df: DataFrame) = df.select(adapterFields(t).map(col): _*)
    def union(fs: Seq[DataFrame]) = fs.reduce(_.unionByName(_, allowMissingColumns = true))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val out = s"${a.work}/replay-k1"
    val layers: Seq[(String, () => Unit)] = Seq(
      "replay.parse" -> (() => noop(union(Gen.tables.map(t => fields(t, parsed(t)))))),
      "replay.gates" -> (() => noop(union(Gen.tables.map(t => fields(t, CdcEnvelope.admitted(parsed(t))))))),
      "replay.adapters" -> (() => noop(StreamingIngest.activityStream(raw))),
      "replay.dedup" -> (() => noop(Pipeline.deduped(StreamingIngest.activityStream(raw)))),
      "replay.write" -> (() => ActivitySink.write(Pipeline.deduped(StreamingIngest.activityStream(raw)), out)))
    // Rounds 1 and 2 compile and warm each layer; the fastest of rounds 3-6 counts.
    val rounds = (1 to 6).map { _ =>
      layers.map { case (name, run) =>
        val t0 = System.nanoTime()
        Trace.span(name)(run())
        (System.nanoTime() - t0) / 1e6
      }
    }
    val ms = layers.indices.map(i => rounds.drop(2).map(_(i)).min)
    rounds.foreach(r => System.err.println(s"[perfbench] replay round ms, cumulative layers: ${r.map(x => f"$x%.0f").mkString(" ")}"))
    m("ingest.parse_ms") = (ms(0), "ms")
    m("ingest.gate_ms") = (ms(1) - ms(0), "ms")
    m("ingest.adapters_ms") = (ms(2) - ms(1), "ms")
    m("ingest.dedup_ms") = (ms(3) - ms(2), "ms")
    m("sinks.write_ms") = (ms(4) - ms(3), "ms")
    val framesIn = raw.count()
    val branch = Gen.tables.map(t => parsed(t).count()).sum
    val valid = Gen.tables.map(t => CdcEnvelope.valid(parsed(t)).count()).sum
    val admitted = Gen.tables.map(t => CdcEnvelope.admitted(parsed(t)).count()).sum
    val deduped = Pipeline.deduped(StreamingIngest.activityStream(raw)).count()
    m("ingest.frames_in") = (framesIn.toDouble, "count")
    m("ingest.malformed") = ((framesIn - branch).toDouble, "count")
    m("ingest.f2_valid") = (valid.toDouble, "count")
    m("ingest.f3_admitted") = (admitted.toDouble, "count")
    m("ingest.admit_ratio") = (admitted.toDouble / framesIn, "ratio")
    m("ingest.dup_dropped") = ((admitted - deduped).toDouble, "count")
  }

  /** The first batches' files drained on one core, as the single-thread
    * baseline; codegen is warm, its cache outlives the session. */
  private def local1(): Unit = {
    spark.stop()
    val one = Main.session(1, a.work)
    val (q, _) = drain(one, head, 1)(_ => ())
    val b = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    val frames = one.read.parquet(head).count()
    m("bench.local1_events_per_s") = (frames * 1000.0 / b.map(_.durationMs.get("triggerExecution").toLong).sum, "events/s")
  }
}

/** `serve`: closed-loop feed pages over a K1 table built in set-up. */
final class Serve(spark: SparkSession, a: Main.Args, setup: Setup, tally: Main.Tally, m: Main.Metrics) {
  val events = 30000
  val users = 5000
  val clients = math.min(4, Runtime.getRuntime.availableProcessors)
  val strata = 64
  private val k1 = s"${a.work}/serve-k1"
  private val followersPath = s"${a.work}/followers"

  def run(): Unit = {
    val plan = setup.repeat(3)(Gen.plan(a.seed, events, users, 2.0))
    val exp = plan.expected
    val values = plan.values
    setup.log("planned")
    import spark.implicits._
    val frames = spark.sparkContext.parallelize(values, spark.sparkContext.defaultParallelism).toDF("value")
    ActivitySink.write(Pipeline.deduped(StreamingIngest.activityStream(frames)), k1)
    K1.stageFollowers(spark, plan, followersPath)
    setup.log("table built")
    K1.check(spark, k1, exp, tally, "serve table")
    val reader = spark.newSession()
    val table = ActivitySink.read(reader, k1)
    val followers = reader.read.parquet(followersPath)
    val zipf = new Gen.Zipf(users, Gen.zipfS)

    /** Closed loop: `clients` threads issue pages until `seconds` pass.
      * Returns latencies (ms), pages and wall seconds. */
    def loop(seconds: Double, salt: Int): (Seq[Double], Int, Double) = {
      val lat = new Samples
      val t0 = System.nanoTime()
      val end = t0 + (seconds * 1e9).toLong
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          reader.sparkContext.setJobGroup(Counters.pageGroup, "feed page", interruptOnCancel = false)
          // Stratified Zipf: client c cycles through strata c, c+clients, ...
          // in a seeded order, so every run asks for the same mix of hot and
          // cold feeds; every fifth request is a second page.
          val rnd = new java.util.Random(a.seed * 7919 + salt * 31 + c)
          val mine = scala.util.Random.javaRandomToRandom(rnd)
            .shuffle((c until strata by clients).map(i => zipf.at((i + 0.5) / strata).toString))
          var i = 0
          while (System.nanoTime() < end) {
            val uid = mine(i % mine.size)
            val offset = if (i % 5 == 4) K1.pageLimit else 0
            i += 1
            val s = System.nanoTime()
            val got = try Some(Trace.span("serve.request")(K1.page(table, followers, uid, K1.pageLimit, offset)))
            catch { case e: Exception => System.err.println(s"[perfbench] page $uid: $e"); None }
            lat.add((System.nanoTime() - s) / 1e6)
            // The expected page is computed after the clock stops.
            val ok = got.contains(exp.page(uid, K1.pageLimit, offset))
            if (!ok) System.err.println(s"[perfbench] wrong page for user $uid offset $offset")
            tally.add(1, if (ok) 0 else 1)
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      (lat.values, lat.values.size, (System.nanoTime() - t0) / 1e9)
    }

    loop(4.0, 0)
    setup.done()
    if (!a.trace) {
      val (lat, n, wall) = loop(a.seconds, 1)
      PerLayer.endToEnd(m, n / wall, lat, K1.files(k1).map(_.length).sum.toDouble / exp.landed.size)
      return
    }
    // Untraced, traced, untraced: a warm-up trend cancels out of the overhead.
    val (before, _, _) = loop(a.seconds / 4.0, 1)
    val probes = new Probes(spark, reader)
    probes.start()
    Trace.enabled = true
    val (traced, n, _) = loop(a.seconds / 2.0, 2)
    probes.stop()
    Trace.enabled = false
    val (after, _, _) = loop(a.seconds / 4.0, 3)
    m("bench.trace_overhead_pct") = ((Stats.p50(traced) / Stats.p50(before ++ after) - 1) * 100, "%")
    m("bench.latency_p95_ms") = (Stats.quantile(before ++ traced ++ after, 0.95), "ms")
    PerLayer.spark(m, probes.counters)
    PerLayer.serve(m, probes, n)
    PerLayer.sink(m, k1, exp.landed.size)
    Analytics.run(spark, a.seed, s"${a.work}/analytics", m)
  }
}
