package graft.pipeline

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase
import graft.sources.PagedApi.{ApiPage, FixtureClient, PagedApiClient, TransientApiError}

/** The per-key stages' write shape and the warehouse's read contract:
  * one Spark write per stage batch whatever the number of keys, byte
  * budgeted batches that never split a key, declared-schema reads (no
  * inference job, fixed key types, empty directories read as empty
  * tables), re-fetch after a failed run, and per-stage times in the
  * runner's report.
  */
class ZoomPipelineBatchSpec extends SparkTestBase {
  import spark.implicits._

  private val day1 = "2023-08-01"
  private val day2 = "2023-08-02"

  private def meeting(uuid: String, id: Long, start: String) =
    s"""{"uuid":"$uuid","id":$id,"topic":"t","start_time":"${start}T10:00:00+00:00","duration":30}"""
  private def participant(id: String) =
    s"""{"id":"$id","user_id":"u$id","user_name":"n","join_time":"j","leave_time":"l"}"""

  /** Three meetings on day 1 with participants over one or two pages,
    * settings, and three groups with members. */
  private type Fixtures = Map[(String, Option[String]), Seq[ApiPage]]

  private val threeKeys: Fixtures = Map(
    ("meetings", Some(day1)) -> Seq(ApiPage(Seq(
      meeting("m1", 101, day1), meeting("m2", 102, day1), meeting("m3", 103, day1)), None)),
    ("participants", Some("m1")) -> Seq(
      ApiPage(Seq(participant("p1")), Some("1")), ApiPage(Seq(participant("p2")), None)),
    ("participants", Some("m2")) -> Seq(ApiPage(Seq(participant("p3")), None)),
    ("participants", Some("m3")) -> Seq(ApiPage(Seq(participant("p4"), participant("p5")), None)),
    ("settings", Some("101")) -> Seq(ApiPage(Seq("""{"settings":{"waiting_room":true}}"""), None)),
    ("settings", Some("102")) -> Seq(ApiPage(Seq("""{"settings":{}}"""), None)),
    ("settings", Some("103")) -> Seq(ApiPage(Seq("""{"settings":{"enforce_login":false}}"""), None)),
    ("groups", None) -> Seq(ApiPage(Seq(
      """{"id":"g1","name":"A","total_members":1}""",
      """{"id":"g2","name":"B","total_members":2}""",
      """{"id":"g3","name":"C","total_members":1}"""), None)),
    ("group_members", Some("g1")) -> Seq(ApiPage(Seq("""{"id":"u1","type":1}"""), None)),
    ("group_members", Some("g2")) -> Seq(
      ApiPage(Seq("""{"id":"u2","type":1}"""), Some("1")), ApiPage(Seq("""{"id":"u3","type":2}"""), None)),
    ("group_members", Some("g3")) -> Seq(ApiPage(Seq("""{"id":"u4","type":1}"""), None)))

  private def pipeline(client: PagedApiClient, wh: String = newWarehouse()) =
    new ZoomPipeline(spark, client, wh, sleep = _ => ())
  private def newWarehouse() = Files.createTempDirectory("zoombatch").toString

  /** Counts the Spark writes and jobs `body` runs on the shared session. */
  private def counting[T](body: => T): (T, Int, Int) = {
    val writes = new AtomicInteger
    val jobs = new AtomicInteger
    val qe = new QueryExecutionListener {
      private def record(q: QueryExecution): Unit =
        if (q.logical.exists(_.isInstanceOf[DataWritingCommand])) writes.incrementAndGet()
      def onSuccess(f: String, q: QueryExecution, ns: Long): Unit = record(q)
      def onFailure(f: String, q: QueryExecution, e: Exception): Unit = record(q)
    }
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(qe)
    spark.sparkContext.addSparkListener(sl)
    try {
      val out = body
      TestListenerBus.drain(spark.sparkContext)
      (out, writes.get, jobs.get)
    } finally {
      spark.listenerManager.unregister(qe)
      spark.sparkContext.removeSparkListener(sl)
    }
  }

  test("per-key stages: one write command each over 3 new keys") {
    val p = pipeline(new FixtureClient(threeKeys))
    assert(p.loadMeetings(LocalDate.parse(day2)).contains(LocalDate.parse(day1)))
    val (parts, partWrites, _) = counting(p.loadParticipants())
    assert(parts == 3 && partWrites == 1)
    val (settings, settingWrites, _) = counting(p.loadMeetingSettings())
    assert(settings == 3 && settingWrites == 1)
    assert(p.loadGroups() == 3L)
    val (members, memberWrites, _) = counting(p.loadGroupMembers())
    assert(members == 4L && memberWrites == 1)

    val pt = p.table("participants")
    assert(pt.count() == 5)
    assert(pt.filter(col("meeting_uuid") === "m1").select("id").as[String]
      .collect().sorted.toSeq == Seq("p1", "p2"))
    assert(p.table("meeting_settings").filter(col("meeting_id") === 101L)
      .select("waiting_room").head().getBoolean(0))
    assert(p.table("group_members").filter(col("group_id") === "g2").count() == 2)

    // nothing new: no fetch-and-write at all on a rerun
    val (_, rerunWrites, _) = counting {
      assert(p.loadParticipants() == 0 && p.loadMeetingSettings() == 0)
    }
    assert(rerunWrites == 0)
  }

  test("table(t) starts no Spark job before an action, for each of the six tables") {
    val p = pipeline(new FixtureClient(threeKeys))
    val report = ZoomRunner.run(p, ZoomRunner.parseFlags(Seq("--users", "--meetings")),
      LocalDate.parse(day2), _ => ())
    assert(report.success, report.errorMessage)
    val tables = Seq("users", "groups", "group_members", "meetings",
      "participants", "meeting_settings")
    tables.foreach(t => assert(p.tableExists(t), t))
    val (_, _, jobs) = counting(tables.foreach(p.table))
    assert(jobs == 0)
    // the same tables read back with their declared key types
    assert(p.table("meetings").schema.last.name == "run_date")
    assert(p.table("group_members").schema("group_id").dataType == StringType)
  }

  test("empty first participants load: later loads succeed with exact counts") {
    val fixtures: Fixtures = Map(
      ("meetings", Some(day1)) -> Seq(ApiPage(Seq(meeting("e1", 201, day1)), None)),
      ("participants", Some("e1")) -> Seq(ApiPage(Seq.empty, None)),
      ("meetings", Some(day2)) -> Seq(ApiPage(Seq(meeting("f1", 202, day2)), None)),
      ("participants", Some("f1")) -> Seq(ApiPage(Seq(participant("q1"), participant("q2")), None)))
    val p = pipeline(new FixtureClient(fixtures))
    val runDate = LocalDate.parse("2023-08-03")
    assert(p.loadMeetings(runDate).contains(LocalDate.parse(day1)))
    assert(p.loadParticipants() == 1) // e1 held no participants
    assert(p.loadMeetings(runDate).contains(LocalDate.parse(day2)))
    assert(p.loadParticipants() == 2) // e1 is still new, and f1
    assert(p.table("participants").count() == 2)
    assert(p.loadParticipants() == 1) // only the empty e1 remains new
    assert(p.table("participants").count() == 2)
  }

  test("an empty table directory reads as an empty table") {
    val wh = newWarehouse()
    // the shape an empty partitioned write leaves: a directory holding
    // only the commit marker
    val dir = Paths.get(wh, "participants")
    Files.createDirectories(dir)
    Files.createFile(dir.resolve("_SUCCESS"))
    val p = pipeline(new FixtureClient(threeKeys), wh)
    assert(p.table("participants").count() == 0)
    assert(p.table("participants").schema.last.name == "meeting_uuid")
    assert(p.loadMeetings(LocalDate.parse(day2)).isDefined)
    assert(p.loadParticipants() == 3)
    assert(p.table("participants").count() == 5)
  }

  test("key columns keep fixed types: digit-only uuid stays a string, ids are bigint") {
    val fixtures: Fixtures = Map(
      ("meetings", Some(day1)) -> Seq(ApiPage(Seq(
        meeting("0012", 101, day1), meeting("m2", 102, day1)), None)),
      ("participants", Some("0012")) -> Seq(ApiPage(Seq(participant("p1")), None)),
      ("participants", Some("m2")) -> Seq(ApiPage(Seq.empty, None)),
      ("settings", Some("101")) -> Seq(ApiPage(Seq("""{"settings":{}}"""), None)),
      ("settings", Some("102")) -> Seq(ApiPage(Seq("""{"settings":{}}"""), None)))
    val wh = newWarehouse()
    val p = pipeline(new FixtureClient(fixtures), wh)
    assert(p.loadMeetings(LocalDate.parse(day2)).isDefined)
    assert(p.loadParticipants() == 2)
    assert(p.loadMeetingSettings() == 2)
    val parts = p.table("participants")
    assert(parts.schema("meeting_uuid").dataType == StringType)
    assert(parts.select("meeting_uuid").head().getString(0) == "0012")
    val settings = p.table("meeting_settings")
    assert(settings.schema("meeting_id").dataType == LongType)
    assert(settings.select("meeting_id").collect().map(_.getLong(0)).sorted.toSeq == Seq(101L, 102L))
    // the anti-join matches "0012" to its rows: only m2 (no participants) is new
    val fetched = new AtomicInteger
    val recording = new PagedApiClient {
      private val inner = new FixtureClient(fixtures)
      def fetchPage(e: String, k: Option[String], t: Option[String]): ApiPage = {
        if (e == "participants") assert(k.contains("m2"), k)
        fetched.incrementAndGet()
        inner.fetchPage(e, k, t)
      }
    }
    assert(pipeline(recording, wh).loadParticipants() == 1)
    assert(fetched.get == 1)
  }

  test("a fetch failing on the second uuid fails the run; a healthy rerun is exact") {
    val wh = newWarehouse()
    val failing = new PagedApiClient {
      private val inner = new FixtureClient(threeKeys)
      def fetchPage(e: String, k: Option[String], t: Option[String]): ApiPage =
        if (e == "participants" && k.contains("m2")) throw new TransientApiError("m2 is down")
        else inner.fetchPage(e, k, t)
    }
    val flags = ZoomRunner.parseFlags(Seq("--meetings"))
    val failed = ZoomRunner.run(pipeline(failing, wh), flags, LocalDate.parse(day2), _ => ())
    assert(!failed.success)
    assert(failed.errorMessage.exists(_.contains("m2 is down")))
    assert(failed.stagesRun == Seq("load_meetings"))

    val p = pipeline(new FixtureClient(threeKeys), wh)
    val ok = ZoomRunner.run(p, flags, LocalDate.parse(day2), _ => ())
    assert(ok.success, ok.errorMessage)
    val parts = p.table("participants")
    assert(parts.count() == 5)
    assert(parts.select("meeting_uuid", "id").distinct().count() == 5)
    val perMeeting = parts.groupBy("meeting_uuid").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perMeeting == Map("m1" -> 2L, "m2" -> 1L, "m3" -> 2L))
    assert(p.table("meeting_settings").count() == 3)
  }

  test("batches: key order kept, no key split, an oversized key alone") {
    def keyed(sizes: (String, Seq[Int])*) =
      sizes.iterator.map { case (k, rs) => k -> rs.map("x" * _) }
    def shape(bs: Iterator[Seq[(String, String)]]) =
      bs.map(_.map { case (k, r) => k -> r.length }).toList

    // budget 10: a(4+4) fits, b(3) would make 11 → next batch
    assert(shape(ZoomPipeline.batches(keyed("a" -> Seq(4, 4), "b" -> Seq(3), "c" -> Seq(5)), 10)) ==
      List(List("a" -> 4, "a" -> 4), List("b" -> 3, "c" -> 5)))
    // an oversized key gets a batch of its own, wherever it falls
    assert(shape(ZoomPipeline.batches(
      keyed("a" -> Seq(2), "big" -> Seq(6, 7), "c" -> Seq(1), "d" -> Seq(1)), 10)) ==
      List(List("a" -> 2), List("big" -> 6, "big" -> 7), List("c" -> 1, "d" -> 1)))
    assert(shape(ZoomPipeline.batches(keyed("big" -> Seq(11), "c" -> Seq(1)), 10)) ==
      List(List("big" -> 11), List("c" -> 1)))
    // keys without records vanish from the rows but keep their place
    assert(shape(ZoomPipeline.batches(keyed("a" -> Nil, "b" -> Seq(10), "c" -> Nil), 10)) ==
      List(List("b" -> 10)))
    assert(ZoomPipeline.batches(Iterator.empty, 10).isEmpty)

    // many keys under a tiny budget: order kept, every key in exactly one batch
    val many = (1 to 50).map(i => f"k$i%02d" -> Seq.fill(i % 4)(i % 7 + 1))
    val out = ZoomPipeline.batches(keyed(many: _*), 9).toList
    assert(out.flatten.map(_._1) == many.flatMap { case (k, rs) => rs.map(_ => k) })
    val batchOf = out.zipWithIndex.flatMap { case (b, i) => b.map(_._1 -> i) }.groupBy(_._1)
    assert(batchOf.values.forall(_.map(_._2).distinct.size == 1))
    assert(out.forall(b => b.map(_._2.length).sum <= 9 || b.map(_._1).distinct.size == 1))

    // lazy: the second key is fetched only when the first batch is full
    var pulled = List.empty[String]
    val lazyIn = Iterator("a", "b", "c").map { k => pulled :+= k; k -> Seq("x" * 6) }
    val it = ZoomPipeline.batches(lazyIn, 10)
    assert(it.next() == Seq("a" -> "xxxxxx") && pulled == List("a", "b"))
  }

  test("runner: one non-negative time per stage run, in order, summing within elapsedMs") {
    val slow = new ZoomPipeline(spark, new FixtureClient(threeKeys), newWarehouse(), _ => ()) {
      override def loadUsers(): Long = { Thread.sleep(120); 0L }
      override def loadGroups(): Long = 0L
      override def loadGroupMembers(): Long = { Thread.sleep(40); 0L }
    }
    val r = ZoomRunner.run(slow, ZoomRunner.JobFlags(users = true), LocalDate.parse(day2), _ => ())
    assert(r.success)
    assert(r.stagesRun == Seq("load_users", "load_groups", "load_group_members"))
    assert(r.stageMs.size == 3 && r.stageMs.forall(_ >= 0))
    assert(r.stageMs(0) >= 120 && r.stageMs(2) >= 40)
    assert(r.stageMs.sum <= r.elapsedMs)
    assert(r.stageSummary.startsWith("load_users ") && r.stageSummary.contains(" ms, load_groups "))

    // a failing stage gets no time: times cover exactly the stages run
    val broken = new ZoomPipeline(spark, new FixtureClient(threeKeys), newWarehouse(), _ => ()) {
      override def loadGroups(): Long = sys.error("groups down")
    }
    val f = ZoomRunner.run(broken, ZoomRunner.JobFlags(users = true), LocalDate.parse(day2), _ => ())
    assert(!f.success && f.stagesRun == Seq("load_users") && f.stageMs.size == 1)
    assert(f.stageMs.sum <= f.elapsedMs)
  }
}
