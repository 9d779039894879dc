package graft.perfbench

import java.time.LocalDate
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.sources.PagedApi.{ApiPage, PagedApiClient, RateLimitedError, TransientApiError}

/** Sizes of one synthetic Zoom account; every day that holds meetings
  * holds `meetingsPerDay`. */
final case class EtlSize(users: Int, userPage: Int, groups: Int,
                         membersPerGroup: Int, memberPage: Int,
                         meetingsPerDay: Int, participants: Int,
                         participantPage: Int)

/** One page the API serves: entity, parent key, continuation token. */
final case class PageKey(entity: String, key: Option[String], token: Option[String])

/** Raised by [[ZoomApi]] when one run asks for the same day's meetings
  * twice: the watermark did not advance and the drain loop would spin. */
final class WatermarkStalled(day: String)
    extends RuntimeException(s"watermark stalled: meetings for $day fetched twice in one run")

/** Deterministic in-memory Zoom account, seeded by the workload seed.
  * `day0` is the school-year start the pipeline falls back to on an empty
  * warehouse; days `0 until days` hold meetings, later days are empty.
  * 5% of meetings were scheduled but never held and serve no
  * participants. They are drawn separately among the backfill days (at
  * least one) and the nights' days, so every seed re-fetches as many. */
final class ZoomFixture(seed: Long, val size: EtlSize, val backfillDays: Int, nights: Int) {
  val days: Int = backfillDays + nights
  val day0: LocalDate = LocalDate.parse("2023-08-01")
  private val rnd = new scala.util.Random(seed)

  private def alnum(n: Int): String =
    rnd.alphanumeric.take(n).mkString
  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
  private def obj(fields: (String, Any)*): String = fields.map {
    case (k, v: String) => s""""$k":"$v""""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")
  private def paged(records: IndexedSeq[String], per: Int): IndexedSeq[IndexedSeq[String]] =
    if (records.isEmpty) IndexedSeq(IndexedSeq.empty) else records.grouped(per).toIndexedSeq

  private val depts = IndexedSeq("math", "science", "english", "history", "arts", "office")
  private val zones = IndexedSeq("America/Chicago", "America/New_York", "America/Los_Angeles")

  private val userIds = (0 until size.users).map(i => f"u$i%05d${alnum(6)}")
  val users: IndexedSeq[String] = userIds.zipWithIndex.map { case (id, i) =>
    obj("id" -> id, "first_name" -> alnum(7), "last_name" -> alnum(9),
      "email" -> s"user$i@example.org", "type" -> (1 + rnd.nextInt(2)), "status" -> "active",
      "pmi" -> (1000000000L + rnd.nextInt(900000000)), "timezone" -> pick(zones),
      "dept" -> pick(depts), "created_at" -> "2020-07-01T12:00:00Z",
      "last_login_time" -> f"2023-07-${1 + rnd.nextInt(28)}%02dT08:00:00Z",
      "last_client_version" -> s"5.${rnd.nextInt(16)}.1", "verified" -> rnd.nextInt(2))
  }

  val groupIds: IndexedSeq[String] = (0 until size.groups).map(g => f"g$g%03d${alnum(8)}")
  val groups: IndexedSeq[String] = groupIds.zipWithIndex.map { case (id, g) =>
    obj("id" -> id, "name" -> (if (g == 0) "Students" else s"Staff ${alnum(4)}"),
      "total_members" -> size.membersPerGroup)
  }
  val members: Map[String, IndexedSeq[String]] = groupIds.map { gid =>
    gid -> rnd.shuffle(userIds.indices.toVector).take(size.membersPerGroup).sorted.map { u =>
      obj("id" -> userIds(u), "email" -> s"user$u@example.org", "first_name" -> alnum(7),
        "last_name" -> alnum(9), "type" -> 1)
    }
  }.toMap

  final case class Meeting(uuid: String, id: Long, day: Int, held: Boolean, json: String)

  val meetings: IndexedSeq[Meeting] = {
    val n = days * size.meetingsPerDay
    val split = backfillDays * size.meetingsPerDay
    def draw(from: Int, until: Int, atLeast: Int) =
      rnd.shuffle((from until until).toVector)
        .take(math.max(atLeast, math.round((until - from) * 0.05).toInt))
    val empty = (draw(0, split, 1) ++ draw(split, n, 0)).toSet
    (0 until n).map { i =>
      val day = i / size.meetingsPerDay
      val uuid = alnum(20) + f"$i%04d"
      val id = 80000000000L + rnd.nextInt(1000000) * 10000L + i
      val start = f"${day0.plusDays(day)}T${8 + i % size.meetingsPerDay}%02d:${rnd.nextInt(60)}%02d:00+00:00"
      Meeting(uuid, id, day, !empty(i), obj("uuid" -> uuid, "id" -> id,
        "topic" -> s"${pick(depts)} ${alnum(5)}", "start_time" -> start,
        "duration" -> (30 + rnd.nextInt(60))))
    }
  }
  private val meetingsByDay = meetings.groupBy(_.day)

  val participants: Map[String, IndexedSeq[String]] = meetings.map { m =>
    m.uuid -> (if (!m.held) IndexedSeq.empty else (0 until size.participants).map { p =>
      val u = rnd.nextInt(userIds.size)
      obj("id" -> s"${userIds(u)}-$p", "user_id" -> userIds(u), "user_name" -> alnum(8),
        "device" -> pick(IndexedSeq("Windows", "Mac", "iOS", "Android")),
        "ip_address" -> s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}",
        "join_time" -> "2023-08-01T08:01:00Z", "leave_time" -> "2023-08-01T08:40:00Z")
    })
  }.toMap

  val settings: Map[Long, String] = meetings.map { m =>
    m.id -> s"""{"settings":${obj("enforce_login" -> rnd.nextBoolean(),
      "waiting_room" -> rnd.nextBoolean(), "meeting_authentication" -> rnd.nextBoolean(),
      "authentication_name" -> s"sso-${alnum(4)}", "enforce_login_domains" -> "example.org")}}"""
  }.toMap

  def dayString(day: Int): String = day0.plusDays(day).toString

  /** Pages of one (entity, key) chain; `None` if the API does not know it. */
  def chain(entity: String, key: Option[String]): Option[IndexedSeq[IndexedSeq[String]]] =
    (entity, key) match {
      case ("users", None) => Some(paged(users, size.userPage))
      case ("groups", None) => Some(IndexedSeq(groups))
      case ("group_members", Some(g)) => members.get(g).map(paged(_, size.memberPage))
      case ("meetings", Some(d)) =>
        val day = java.time.temporal.ChronoUnit.DAYS.between(day0, LocalDate.parse(d)).toInt
        Some(paged(meetingsByDay.getOrElse(day, IndexedSeq.empty).map(_.json), 300))
      case ("participants", Some(u)) => participants.get(u).map(paged(_, size.participantPage))
      case ("settings", Some(id)) => settings.get(id.toLong).map(s => IndexedSeq(IndexedSeq(s)))
      case _ => None
    }

  def pageKeys(entity: String, key: Option[String]): Seq[PageKey] =
    chain(entity, key).toSeq.flatMap(_.indices.map(i =>
      PageKey(entity, key, if (i == 0) None else Some(i.toString))))

  /** Pages a load of meeting days `from until to` must fetch, users and
    * groups included when `snapshots`. */
  def requiredPages(from: Int, to: Int, snapshots: Boolean): Seq[PageKey] = {
    val snap = if (!snapshots) Nil else
      pageKeys("users", None) ++ pageKeys("groups", None) ++
        groupIds.flatMap(g => pageKeys("group_members", Some(g)))
    val ms = meetings.filter(m => m.day >= from && m.day < to)
    snap ++ (from until to).flatMap(d => pageKeys("meetings", Some(dayString(d)))) ++
      ms.flatMap(m => pageKeys("participants", Some(m.uuid)) ++ pageKeys("settings", Some(m.id.toString)))
  }

  /** Row total and distinct-key count (see [[EtlChecks.keys]]) every
    * table must hold once meeting days `0 until throughDay` are loaded;
    * users and groups only if `snapshots` were loaded too. */
  def expectedTables(throughDay: Int, snapshots: Boolean): Map[String, (Long, Long)] = {
    val ms = meetings.filter(_.day < throughDay)
    val memberRows = members.values.map(_.size.toLong).sum
    val partRows = ms.map(m => participants(m.uuid).size.toLong).sum
    def snap(n: Long) = if (snapshots) (n, n) else (0L, 0L)
    Map(
      "users" -> snap(users.size.toLong),
      "groups" -> snap(groups.size.toLong),
      "group_members" -> snap(memberRows),
      "meetings" -> (ms.size.toLong, ms.size.toLong),
      "participants" -> (partRows, partRows),
      "meeting_settings" -> (ms.size.toLong, ms.size.toLong))
  }

  /** Seeded fault schedule over `pages`: the first `rateLimited` draws
    * answer 429 once, the next `transient` fail once with a transient
    * error; the retry of each succeeds. */
  def faults(pages: Seq[PageKey], rateLimited: Int, transient: Int,
             salt: Long): Map[PageKey, String] = {
    val r = new scala.util.Random(seed * 31 + salt)
    val drawn = r.shuffle(pages.distinct.toVector).take(rateLimited + transient)
    drawn.zipWithIndex.map { case (p, i) => p -> (if (i < rateLimited) "429" else "5xx") }.toMap
  }
}

/** Counters of one run's traffic between the pipeline and the API. */
final class SourceCounters {
  val fetches = new AtomicLong
  val pages = new AtomicLong
  val useful = new AtomicLong
  val jsonBytes = new AtomicLong
  val rateLimited = new AtomicLong
  val transient = new AtomicLong
  val backoffNs = new AtomicLong
}

/** The Zoom API as the pipeline sees it: serves [[ZoomFixture]] pages,
  * injects the scheduled faults once each, and fails a second fetch of
  * one day's meetings with [[WatermarkStalled]]. One instance per run. */
final class ZoomApi(fixture: ZoomFixture, faultPlan: Map[PageKey, String],
                    val counters: SourceCounters) extends PagedApiClient {
  private val fired = ConcurrentHashMap.newKeySet[PageKey]()
  private val served = ConcurrentHashMap.newKeySet[PageKey]()
  private val meetingDays = ConcurrentHashMap.newKeySet[String]()

  def fetchPage(entity: String, key: Option[String], token: Option[String]): ApiPage = {
    counters.fetches.incrementAndGet()
    val pk = PageKey(entity, key, token)
    faultPlan.get(pk).filter(_ => fired.add(pk)).foreach {
      case "429" => counters.rateLimited.incrementAndGet(); throw new RateLimitedError(20)
      case _ => counters.transient.incrementAndGet(); throw new TransientApiError(s"injected 5xx on $pk")
    }
    if (entity == "meetings" && token.isEmpty && !meetingDays.add(key.getOrElse("")))
      throw new WatermarkStalled(key.getOrElse(""))
    val chain = fixture.chain(entity, key)
      .getOrElse(throw new IllegalArgumentException(s"unknown resource $entity/$key"))
    val idx = token.map(_.toInt).getOrElse(0)
    val records = chain(idx)
    served.add(pk)
    counters.pages.incrementAndGet()
    if (records.nonEmpty) counters.useful.incrementAndGet()
    counters.jsonBytes.addAndGet(records.map(_.length.toLong).sum)
    ApiPage(records, if (idx + 1 < chain.size) Some((idx + 1).toString) else None)
  }

  /** The pipeline's injectable sleep: really waits, and records how long. */
  val sleep: Long => Unit = { ms =>
    val t0 = System.nanoTime()
    Thread.sleep(ms)
    counters.backoffNs.addAndGet(System.nanoTime() - t0)
  }

  /** Fetch-level check: every required page was served, and every fault
    * scheduled on a served page fired exactly once and was retried. */
  def verify(required: Seq[PageKey]): Option[String] = {
    val missing = required.filterNot(served.contains)
    val unretried = faultPlan.keys.filter(p => fired.contains(p) && !served.contains(p))
    val attempts = counters.fetches.get
    val expected = counters.pages.get + fired.size
    if (missing.nonEmpty) Some(s"${missing.size} required pages never fetched, e.g. ${missing.head}")
    else if (unretried.nonEmpty) Some(s"fault not retried on ${unretried.head}")
    else if (attempts != expected) Some(s"fetch total $attempts != pages ${counters.pages.get} + injected retries ${fired.size}")
    else None
  }
}

object ZoomApi {
  /** Sum of several runs' counters. */
  def total(cs: Seq[SourceCounters]): SourceCounters = {
    val t = new SourceCounters
    cs.foreach { c =>
      t.fetches.addAndGet(c.fetches.get); t.pages.addAndGet(c.pages.get)
      t.useful.addAndGet(c.useful.get); t.jsonBytes.addAndGet(c.jsonBytes.get)
      t.rateLimited.addAndGet(c.rateLimited.get); t.transient.addAndGet(c.transient.get)
      t.backoffNs.addAndGet(c.backoffNs.get)
    }
    t
  }
}
