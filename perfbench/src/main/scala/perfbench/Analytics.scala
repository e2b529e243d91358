package perfbench

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp
import java.util.SplittableRandom

import graft.SparkEntry
import graft.ext.Dedup
import org.apache.spark.sql.SparkSession

/** The registry-query layer (`graft.queries` and `graft.ext`, reached
  * through `SparkEntry.queries`) on a small sample of queries, over
  * fixture-shaped tables the benchmark generates from the seed.
  *
  * Each result is written as parquet with its DuckDB oracle SQL beside it;
  * `run.py` runs the oracle over the same tables and compares the rows. */
object Analytics {
  /** One query per layer family: the follow-graph PageRank (`graft.serve`
    * through `ParityQueries`), exact grouped quantiles (`AnalyticsQueries`)
    * and cross-source shingle containment (`graft.ext.TextAnalysis`). */
  val sample: Seq[String] = Seq("feed_influence", "q_price_quantiles", "source_overlap")

  val events = 20000
  val users = 300
  val lineitems = 20000
  val documents = 1000

  /** Runs the sample under `dir`: the tables go to `dir/tables`, each
    * result to `dir/out/<query>` and its oracle SQL to `dir/out/<query>.sql`.
    * Round 1 writes the results (and compiles the plans); rounds 2 and 3
    * force each query through `noop`, and the faster of the two counts. */
  def run(spark: SparkSession, seed: Long, dir: String, m: Main.Metrics): Unit = {
    val tables = s"$dir/tables"
    val out = s"$dir/out"
    write(spark, seed, tables)
    val queries = SparkEntry.queries
    new File(out).mkdirs()
    sample.foreach(q => Files.write(new File(s"$out/$q.sql").toPath, SparkEntry.oracleSql(q).getBytes("UTF-8")))

    def once(q: String)(sink: org.apache.spark.sql.DataFrame => Unit): Double = {
      val t0 = System.nanoTime()
      Trace.span(s"queries.$q")(sink(queries(q)(spark, tables)))
      val ms = (System.nanoTime() - t0) / 1e6
      Dedup.releaseAll()
      ms
    }
    Trace.enabled = true
    sample.foreach(q => once(q)(_.write.mode("overwrite").parquet(s"$out/$q")))
    val actions = new Actions
    spark.listenerManager.register(actions)
    val rounds = (2 to 3).map(_ => sample.map(q => once(q)(_.write.format("noop").mode("overwrite").save())))
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(actions)
    Trace.enabled = false
    sample.indices.foreach(i => m(s"queries.${sample(i)}_ms") = (rounds.map(_(i)).min, "ms"))
    m("queries.plan_ms") = (actions.planNs.get / 1e6 / rounds.size, "ms")
    m("queries.exec_ms") = (actions.execNs.get / 1e6 / rounds.size, "ms")
  }

  /** `events`, `lineitem` and `documents` in the schemas of the
    * repository's test fixtures (FIXTURES.md §3), one parquet directory each. */
  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val t0 = 1704067200000L // 2024-01-01T00:00Z, as in the fixtures
    def money(lo: Double, hi: Double) = math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0

    val types = Seq("click", "view", "signup", "purchase", "error")
    var ts = t0
    val ev = (0 until events).map { i =>
      ts += 1 + rnd.nextInt(60000)
      (i.toLong, new Timestamp(ts), rnd.nextInt(users).toLong, types(rnd.nextInt(types.size)),
        money(1, 200), s"""{"k": ${rnd.nextInt(100)}}""")
    }
    val li = (0 until lineitems).map { i =>
      val qty = (1 + rnd.nextInt(50)).toDouble
      (i / 4L + 1, 1L + rnd.nextInt(2000), 1L + rnd.nextInt(100), i % 4 + 1, qty,
        math.round(qty * money(1, 2000) * 100) / 100.0, rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)),
        new Timestamp(t0 + rnd.nextInt(2500) * 86400000L))
    }
    // Texts from a 600-word vocabulary; one in five copies a 12-word run of
    // an earlier document, so sources share shingles (re-hosting).
    val vocab = (0 until 600).map(i => s"w${Integer.toString(i * 7919 % 10007, 36)}")
    val texts = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    val docs = (0 until documents).map { i =>
      var words = Vector.fill(20 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.size)))
      if (i > 0 && rnd.nextInt(5) == 0) {
        val from = texts(rnd.nextInt(texts.size))
        val at = rnd.nextInt(math.max(1, from.size - 12))
        words = words ++ from.slice(at, at + 12)
      }
      texts += words
      val text = words.mkString(" ")
      (i.toLong, text, Seq("en", "de", "fr")(rnd.nextInt(3)),
        Seq("web", "news", "forum", "wiki", "blog")(rnd.nextInt(5)), text.length.toLong)
    }
    val conf = "spark.sql.parquet.outputTimestampType"
    val was = spark.conf.getOption(conf)
    spark.conf.set(conf, "TIMESTAMP_MICROS")
    try {
      ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      li.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    } finally was match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }
}
