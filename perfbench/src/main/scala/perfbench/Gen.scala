package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One planned CDC change event. `tsMs` is the commit time; `id` is drawn
  * from one sequence shared by all four tables, so the feed order (event
  * time desc, pk desc) is total. */
final case class Event(table: String, id: Long, op: Char, actor: String, target: String, tsMs: Long) {
  def activityType: String = Gen.activityType(table)
  /** The row this event lands as, in the form the checks compare. */
  def landed: Landed = Landed(actor, activityType, id, tsMs, target)
}

/** A landed K1 row reduced to the fields the checks compare. */
final case class Landed(userId: String, activityType: String, pk: Long, tsMs: Long, targetId: String)

/** A frame in the multiplexed stream: the event it carries and its junk
  * kind (0 for a well-formed frame). */
final case class Frame(event: Event, junk: Int)

/** A seeded stream of Kafka-shaped frames, in commit-timestamp order. */
final case class Plan(events: Vector[Event], frames: Vector[Frame]) {
  /** Frame `value` strings. Junk is 1 (JSON cut before its meta-fields) or
    * 2 (valid JSON without `__op`, so only the F2 gate can drop it). */
  def values: Vector[String] = frames.map(Gen.render)

  def expected: Expected = new Expected(events.filter(_.op == 'c').map(_.landed))

  /** Follow edges (follower, following) as the source-of-truth table. */
  def follows: Vector[(String, String)] =
    events.filter(e => e.op == 'c' && e.table == "followers").map(e => (e.actor, e.target)).distinct
}

/** The answer computed from the plan alone, with no Spark. */
final class Expected(val landed: Vector[Landed]) {
  val byKey: Map[(String, Long), Landed] = landed.map(l => (l.activityType, l.pk) -> l).toMap

  private val byUser: Map[String, Vector[Landed]] = landed.groupBy(_.userId)
  private val followees: Map[String, Set[String]] =
    landed.filter(_.activityType == "FOLLOW_USER").groupBy(_.userId)
      .map { case (u, v) => u -> v.map(_.targetId).toSet }

  def followeesOf(uid: String): Set[String] = followees.getOrElse(uid, Set.empty)

  /** Feed page of `uid`: followees' activities, event time desc then pk
    * desc, after `offset`, at most `limit`. */
  def page(uid: String, limit: Int, offset: Int): Vector[Landed] =
    followeesOf(uid).toVector.flatMap(u => byUser.getOrElse(u, Vector.empty))
      .sortBy(l => (-l.tsMs, -l.pk)).slice(offset, offset + limit)

  /** Lost, duplicated and unexpected rows of a landed set, and a few of
    * the lost keys. */
  def diff(got: Seq[Landed]): (Int, Int, Int, Seq[(String, Long)]) = {
    val seen = mutable.HashMap.empty[(String, Long), Int]
    var unexpected = 0
    got.foreach { l =>
      val k = (l.activityType, l.pk)
      seen(k) = seen.getOrElse(k, 0) + 1
      if (!byKey.get(k).contains(l)) unexpected += 1
    }
    val lost = byKey.keys.filterNot(seen.contains).toSeq
    val dups = seen.valuesIterator.map(_ - 1).sum
    (lost.size, dups, unexpected, lost.take(5))
  }
}

object Gen {
  val tables: Seq[String] = Seq("likes", "comments", "shards", "followers")
  val activityType: Map[String, String] = Map(
    "likes" -> "LIKE_SHARD", "comments" -> "COMMENT_SHARD",
    "shards" -> "CREATE_SHARD", "followers" -> "FOLLOW_USER")
  /** Commit time of the first backlog event (the reference fixtures' day). */
  val epochMs = 1752228000000L

  // Traffic parameters. perfbench/README.md ("Traffic parameters") gives
  // the source of each, or says that it is an assumption.
  /** Share of each table, in `tables` order: even, as in the repository's
    * CDC derivation over the `events` fixture (`graft.sources.CdcSource`). */
  private val tableWeights = Array(0.25, 0.25, 0.25, 0.25)
  /** Zipf exponent of actor popularity (assumption). */
  val zipfS = 1.0
  val redeliveryRate = 0.05
  val junkRate = 0.005
  /** Redeliveries repeat a frame at most this many frames later. */
  val maxRedeliveryLag = 2000

  /** Zipf(s) ranks 1..n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val c = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s)).scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def apply(rnd: SplittableRandom): Int = at(rnd.nextDouble())
    /** The rank at cumulative probability `u`. */
    def at(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1) + 1
    }
  }

  /** `n` events by Zipf-skewed users, commit times `stepMs` apart from
    * [[epochMs]], ops 8:1:1 c/u/d, plus redelivered and junk frames. */
  def plan(seed: Long, n: Int, users: Int, stepMs: Double): Plan = {
    val rnd = new SplittableRandom(seed)
    val zipf = new Zipf(users, zipfS)
    val created = Map(tables.map(_ -> mutable.ArrayBuffer.empty[Event]): _*)
    var nextId = 1L
    val events = Vector.newBuilder[Event]
    val frames = Vector.newBuilder[Frame]
    val pending = mutable.PriorityQueue.empty[(Int, Event)](Ordering.by[(Int, Event), Int](-_._1))
    for (i <- 0 until n) {
      val u = rnd.nextDouble()
      var t = 0
      var acc = tableWeights(0)
      while (u > acc && t < 3) { t += 1; acc += tableWeights(t) }
      val table = tables(t)
      val ts = epochMs + (i * stepMs).toLong
      val r = rnd.nextDouble()
      val prior = created(table)
      val e =
        if (r < 0.8 || prior.isEmpty) {
          val actor = zipf(rnd).toString
          val target = table match {
            case "shards" => nextId.toString
            case "followers" =>
              var f = zipf(rnd).toString
              if (f == actor) f = (actor.toInt % users + 1).toString
              f
            case _ => (1 + rnd.nextInt(1000)).toString
          }
          val c = Event(table, nextId, 'c', actor, target, ts)
          nextId += 1
          prior += c
          c
        } else prior(rnd.nextInt(prior.size)).copy(op = if (r < 0.9) 'u' else 'd', tsMs = ts)
      events += e
      frames += Frame(e, junk = 0)
      if (rnd.nextDouble() < redeliveryRate) pending.enqueue((i + 1 + rnd.nextInt(maxRedeliveryLag), e))
      if (rnd.nextDouble() < junkRate) frames += Frame(e, junk = 1 + rnd.nextInt(2))
      while (pending.nonEmpty && pending.head._1 <= i) frames += Frame(pending.dequeue()._2, junk = 0)
    }
    while (pending.nonEmpty) frames += Frame(pending.dequeue()._2, junk = 0)
    Plan(events.result(), frames.result())
  }

  private def q(s: String) = "\"" + s + "\""

  /** Flattened Debezium `ExtractNewRecordState` JSON, meta-fields last. */
  def render(f: Frame): String = {
    val e = f.event
    val iso = q(java.time.Instant.ofEpochMilli(e.tsMs).toString)
    val row = e.table match {
      case "likes" =>
        s""""id":${e.id},"shard_id":${e.target},"liked_by":${q(e.actor)},"updated_at":null,"created_at":$iso"""
      case "comments" =>
        s""""id":${e.id},"message":"msg ${e.id}","user_id":${q(e.actor)},"shard_id":${e.target},"updated_at":null,"created_at":$iso"""
      case "shards" =>
        val tpl = Seq("react", "node", "static")((e.id % 3).toInt)
        val mode = if (e.id % 2 == 0) "normal" else "collaboration"
        val typ = Seq("public", "private", "forked")((e.id % 3).toInt)
        s""""id":${e.id},"title":"Shard #${e.id}","user_id":${q(e.actor)},"templateType":"$tpl","mode":"$mode","type":"$typ","last_sync_timestamp":$iso,"updated_at":null,"created_at":$iso"""
      case "followers" =>
        s""""id":${e.id},"follower_id":${q(e.actor)},"following_id":${q(e.target)},"updated_at":null,"created_at":$iso"""
    }
    val op = s""""__op":"${e.op}","""
    val meta = s""""__table":"${e.table}","__source_ts_ms":${e.tsMs},"__source_table":"${e.table}","__deleted":"${e.op == 'd'}""""
    f.junk match {
      case 0 => s"{$row,$op$meta}"
      case 1 => s"{$row,"
      case _ => s"{$row,$meta}"
    }
  }
}
