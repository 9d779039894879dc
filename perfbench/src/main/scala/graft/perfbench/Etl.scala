package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}

import graft.pipeline.{ZoomPipeline, ZoomRunner}
import graft.sources.PagedApi.PagedApiClient

/** A `ZoomPipeline` that puts a span around each public load call. Only
  * traced passes use it; untraced passes run the program's own class. */
final class TimedPipeline(spark: SparkSession, client: PagedApiClient, warehouse: String,
                          sleep: Long => Unit, t: Tracer)
    extends ZoomPipeline(spark, client, warehouse, sleep) {
  override def loadUsers(): Long = t.span("pipeline.load_users")(super.loadUsers())
  override def loadGroups(): Long = t.span("pipeline.load_groups")(super.loadGroups())
  override def loadGroupMembers(): Long =
    t.span("pipeline.load_group_members")(super.loadGroupMembers())
  override def loadMeetings(runDate: LocalDate): Option[LocalDate] =
    t.span("pipeline.load_meetings")(super.loadMeetings(runDate))
  override def loadParticipants(): Int =
    t.span("pipeline.load_participants")(super.loadParticipants())
  override def loadMeetingSettings(): Int =
    t.span("pipeline.load_meeting_settings")(super.loadMeetingSettings())
}

/** Row and distinct-key checks of a warehouse against the generator, and
  * its footprint on disk. */
object EtlChecks {
  val keys: Map[String, Seq[String]] = Map(
    "users" -> Seq("id"), "groups" -> Seq("id"),
    "group_members" -> Seq("group_id", "id"), "meetings" -> Seq("uuid"),
    "participants" -> Seq("meeting_uuid", "id"), "meeting_settings" -> Seq("meeting_id"))

  /** Per table (rows, distinct keys) as committed; (-1, -1) for a table
    * directory that cannot be read. */
  def tables(spark: SparkSession, warehouse: Path): Map[String, (Long, Long)] =
    keys.map { case (t, ks) =>
      val dir = warehouse.resolve(t)
      t -> (if (!Files.exists(dir)) (0L, 0L) else try {
        val r = spark.read.parquet(dir.toString)
          .agg(count(lit(1)), countDistinct(col(ks.head), ks.tail.map(col): _*)).head()
        (r.getLong(0), r.getLong(1))
      } catch { case _: org.apache.spark.sql.AnalysisException => (-1L, -1L) })
    }

  def mismatches(expected: Map[String, (Long, Long)],
                 actual: Map[String, (Long, Long)]): Seq[String] =
    expected.toSeq.sortBy(_._1).collect {
      case (t, e) if actual.get(t) != Some(e) =>
        s"$t: (rows, distinct keys) ${actual.getOrElse(t, (0L, 0L))} != expected $e"
    }

  final case class Footprint(bytes: Long, files: Long, partitionDirs: Long)

  def footprint(root: Path): Footprint = {
    if (!Files.exists(root)) return Footprint(0, 0, 0)
    var bytes = 0L; var files = 0L; var parts = 0L
    val it = Files.walk(root).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (Files.isRegularFile(p)) { bytes += Files.size(p); files += 1 }
      else if (Files.isDirectory(p) && p.getFileName.toString.contains("=")) parts += 1
    }
    Footprint(bytes, files, parts)
  }

  def delete(root: Path): Unit = if (Files.exists(root)) {
    val all = Files.walk(root).iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
    while (all.hasNext) buf += all.next()
    buf.reverseIterator.foreach(Files.delete)
  }

}

/** The ETL workload. One pass loads one synthetic account into an empty
  * warehouse as the job runs over a school year's first days: one cold
  * `--all` backfill of `backfillDays` days, then one nightly `--meetings`
  * run for each of `nights` further days, each run on its own session and
  * client and each one timed operation. An untimed `--meetings` run for
  * the following day, which holds no meetings, ends the pass. The
  * warehouse is then checked against the generator and deleted. */
final class EtlWorkload(spark: SparkSession, seed: Long,
                        size: EtlSize, backfillDays: Int, nights: Int,
                        warmSize: EtlSize, work: Path, corruptTotals: Boolean)
    extends Workload {
  private val fixture = new ZoomFixture(seed, size, backfillDays, nights)
  private var passNo = 0
  private val silent = new ZoomRunner.Notifier { def notify(r: ZoomRunner.JobReport): Unit = () }

  def nominalPassS = 12.0

  /** One pass on a small account of the same shape: every code path runs
    * before timing starts. */
  def warmUp(threads: Int): Unit = pass(new ZoomFixture(seed, warmSize, 1, 1), None)

  def pass(t: Option[Tracer]): PassResult = pass(fixture, t)

  /** One `ZoomRunner.run` loading days before `until`, on a fresh session. */
  private def run(f: ZoomFixture, wh: Path, flags: String, until: Int,
                  faults: Map[PageKey, String], t: Option[Tracer]): (ZoomRunner.JobReport, ZoomApi) = {
    val api = new ZoomApi(f, faults, new SourceCounters)
    val session = spark.newSession()
    t.foreach(_.watch(session))
    val pipeline = t match {
      case Some(tr) => new TimedPipeline(session, api, wh.toString, api.sleep, tr)
      case None => new ZoomPipeline(session, api, wh.toString, api.sleep)
    }
    val report = ZoomRunner.run(pipeline, ZoomRunner.parseFlags(Seq(flags)),
      f.day0.plusDays(until), silent)
    (report, api)
  }

  private def pass(f: ZoomFixture, t: Option[Tracer]): PassResult = {
    val prep0 = System.nanoTime()
    passNo += 1
    val wh = work.resolve(s"warehouse-$passNo")
    Files.createDirectories(wh)
    val prepS = (System.nanoTime() - prep0) / 1e9
    // (first day, end day, flags, rate limits, transient errors) per run
    val backfill = (0, f.backfillDays, "--all", 2, 1)
    val nightly = (f.backfillDays until f.days).map(d => (d, d + 1, "--meetings", 1, 1))
    val results = (backfill +: nightly).zipWithIndex.map { case ((from, until, flags, r429, r5xx), i) =>
      val required = f.requiredPages(from, until, snapshots = flags == "--all")
      val faults = f.faults(required, r429, r5xx, salt = i)
      val kind = if (flags == "--all") "backfill" else "nightly"
      val c0 = Resources.cpuNs(); val t0 = System.nanoTime()
      val (report, api) = Tracer.op(t, s"etl.$kind")(run(f, wh, flags, until, faults, t))
      val dt = (System.nanoTime() - t0) / 1e9
      val cpu = (Resources.cpuNs() - c0) / 1e9
      (OpResult(s"$kind ${f.dayString(from)}", dt * 1000, report.errorMessage.orElse(api.verify(required))),
        cpu, api.counters)
    }
    val (emptyReport, _) = run(f, wh, "--meetings", f.days + 1, Map.empty, None)
    val probe = OpResult(s"empty day ${f.dayString(f.days)}", 0, emptyReport.errorMessage)
    val actual = EtlChecks.tables(spark, wh)
    val expected = {
      val e = f.expectedTables(f.days, snapshots = true)
      if (!corruptTotals) e else e.updated("users", (e("users")._1 + 1, e("users")._2))
    }
    val tableErrors = EtlChecks.mismatches(expected, actual)
    val ops = results.map(_._1)
    val checked = if (tableErrors.isEmpty) ops
      else ops.init :+ ops.last.copy(error = Some(tableErrors.mkString("; ")))
    val fp = EtlChecks.footprint(wh)
    val src = ZoomApi.total(results.map(_._3))
    EtlChecks.delete(wh)
    t.foreach { tr =>
      tr.add("sources.fetches", src.fetches.get.toDouble)
      tr.add("sources.pages", src.pages.get.toDouble)
      tr.add("sources.json_bytes", src.jsonBytes.get.toDouble)
      tr.add("sources.useful_fetches", src.useful.get.toDouble)
      tr.add("sources.rate_limited", src.rateLimited.get.toDouble)
      tr.add("sources.transient_errors", src.transient.get.toDouble)
      tr.add("sources.backoff_s", src.backoffNs.get / 1e9)
      tr.add("pipeline.rows_committed", actual.values.map(_._1).sum.toDouble)
      tr.add("storage.bytes", fp.bytes.toDouble)
      tr.add("storage.files", fp.files.toDouble)
      tr.add("storage.partition_dirs", fp.partitionDirs.toDouble)
    }
    PassResult(ops.map(_.ms).sum / 1000, results.map(_._2).sum, prepS, checked, Seq(probe),
      storageAmp = Some(fp.bytes.toDouble / src.jsonBytes.get))
  }
}
