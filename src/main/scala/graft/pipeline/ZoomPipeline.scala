package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Ingest, Relational, Temporal}
import graft.schemas.Schemas
import graft.sources.PagedApi
import graft.sources.PagedApi.PagedApiClient

/** The reference's three entry points (SURVEY.md §3) as one composable
  * pipeline over a parquet warehouse, with the §7.5 semantic warts fixed:
  *
  *  - snapshot loads are atomic overwrites (no drop-then-load window,
  *    /root/reference/main.py:38-46)
  *  - incremental writes overwrite their keyed partition (dynamic partition
  *    overwrite) so a retried load converges instead of duplicating
  *    (/root/reference/main.py:237)
  *  - retry lives at the page-fetch level (PagedApi), never around a whole
  *    load stage (/root/reference/main.py:94), so the anti-join predicate
  *    stays truthful after partial failures
  *  - "today" is a parameter (`runDate`), never the wall clock
  *    (/root/reference/main.py:214,244), so runs are deterministic
  *
  * Per-key stages (participants, settings, group members) fetch their
  * keys' pages in sorted key order on the driver and commit them as
  * `(key, record)` rows with ONE `partitionBy(key)` dynamic-overwrite
  * write per batch, so the number of Spark writes does not grow with the
  * number of keys. A batch holds at most [[ZoomPipeline.BatchBudget]]
  * chars of JSON and never splits a key (see [[ZoomPipeline.batches]]):
  * overwriting a key's partition from a second batch would delete the
  * rows the first one wrote. A batch with no rows writes nothing. If a
  * fetch fails, the keys fetched but not yet written are lost with the
  * run; the anti-join picks them up again on the next run.
  *
  * Every read uses the table's declared schema ([[ZoomPipeline.tableSchemas]]):
  * no footer-reading inference job, partition keys keep their declared
  * type whatever their values look like (a uuid `"0012"` stays a string),
  * and a table directory without data files reads as zero rows.
  *
  * Driver-edge rule (100 TB posture): the only collect()s are the key
  * lists, whose cardinality is bounded by the anti-join of *unprocessed*
  * keys, and the fetched JSON of one batch — never warehouse data rows.
  */
class ZoomPipeline(spark: SparkSession, client: PagedApiClient,
                   warehouse: String, sleep: Long => Unit = Thread.sleep) {
  import spark.implicits._
  import ZoomPipeline._

  spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

  private def path(table: String) = s"$warehouse/$table"

  def tableExists(table: String): Boolean = {
    // Hadoop FileSystem, not java.io.File — the warehouse may be hdfs://
    // or s3a://, where a local File.exists() is always false and would
    // silently reset every incremental load to the fallback branch.
    val p = new org.apache.hadoop.fs.Path(path(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def table(table: String): DataFrame =
    spark.read.schema(tableSchemas(table)).parquet(path(table))

  /** JSON records in a `value` column → typed rows via one `from_json`
    * under a declared schema; absent fields null-fill, extras drop
    * (SURVEY.md §1.3). `key`, a data column of `records`, follows the
    * parsed fields and wins over a JSON field of the same name.
    */
  private def parse(records: DataFrame, schema: StructType,
                    key: Option[String] = None): DataFrame = {
    val fields = StructType(schema.filterNot(f => key.contains(f.name)))
    val keyCols = key.toSeq.map(col)
    records.select(from_json(col("value"), fields).as("r") +: keyCols: _*)
      .select(col("r.*") +: keyCols: _*)
  }

  private def pagesToDf(pages: Seq[PagedApi.ApiPage], schema: StructType): DataFrame =
    parse(pages.flatMap(_.records).toDF("value"), schema)

  /** Per-key stage commit: `fetch` each key's records in the given order
    * and write each [[ZoomPipeline.batches]] batch as `(key, value)` rows
    * shaped by `rows`, with one dynamic-overwrite `partitionBy(key)` write.
    */
  private def writeBatches[K: Encoder](table: String, key: String, keys: Seq[K])(
      fetch: K => Seq[String])(rows: DataFrame => DataFrame): Unit = {
    val enc = Encoders.tuple(implicitly[Encoder[K]], Encoders.STRING)
    batches(keys.iterator.map(k => k -> fetch(k)), BatchBudget)
      .filter(_.nonEmpty)
      .foreach { batch =>
        rows(spark.createDataset(batch)(enc).toDF(key, "value"))
          .write.mode("overwrite").partitionBy(key).parquet(path(table))
      }
  }

  /** Users snapshot (§3.1): paged fetch → fixed 13-column reindex → atomic
    * overwrite. Returns rows loaded.
    */
  def loadUsers(): Long = {
    val pages = PagedApi.fetchAllPages(client, "users", sleep = sleep)
    val users = Ingest.reindexTo(pagesToDf(pages, Schemas.users), Schemas.users)
    users.write.mode("overwrite").parquet(path("users"))
    table("users").count()
  }

  /** Incremental meetings load (§3.2 step 1): high-watermark next date with
    * school-year fallback; skip when caught up (main.py:213-215); write the
    * day's rows into a run_date partition (idempotent re-run).
    * Returns the loaded date, or None when caught up.
    */
  def loadMeetings(runDate: LocalDate): Option[LocalDate] = {
    // One source of truth for max+1day-or-school-year-start: the same
    // Temporal op the declared queries use — absent table behaves like an
    // empty one (fallback branch).
    val source =
      if (tableExists("meetings"))
        table("meetings").select(Temporal.parseIsoOffset(col("start_time")).as("__ts"))
      else spark.emptyDataset[java.sql.Timestamp].toDF("__ts")
    val next = LocalDate.parse(
      Temporal.nextLoadDateWithFallback(source, "__ts", to_date(lit(runDate.toString)))
        .select(date_format(col("next_date"), "yyyy-MM-dd")).as[String].head())

    if (!next.isBefore(runDate)) return None // watermark caught up

    val pages = PagedApi.fetchAllPages(client, "meetings", Some(next.toString), sleep = sleep)
    val meetings = pagesToDf(pages, Schemas.meetings)
      .dropDuplicates("uuid") // §7.5.3: no double rows from retried pages
      .withColumn("run_date", lit(next.toString))
    meetings.write.mode("overwrite").partitionBy("run_date").parquet(path("meetings"))
    Some(next)
  }

  /** Participants (§3.2 step 2): anti-join finds meetings with no
    * participant rows yet (main.py:79-85); per-uuid paged fetch; each
    * meeting's rows land in its meeting_uuid partition, so a retry
    * overwrites instead of duplicating. Returns meetings processed.
    */
  def loadParticipants(): Int = {
    if (!tableExists("meetings")) return 0
    val meetings = table("meetings").select("uuid").distinct()
    val newKeys =
      if (tableExists("participants"))
        Relational.antiJoinNewKeys(
          meetings, table("participants").select("meeting_uuid"),
          "uuid", "meeting_uuid")
      else meetings
    // driver edge: bounded list of *unprocessed* keys only (S4 analog),
    // sorted here, nulls first like Spark's ascending order
    val uuids = newKeys.as[String].collect().sortBy(Option(_))
    writeBatches("participants", "meeting_uuid", uuids.toSeq) { uuid =>
      PagedApi.fetchAllPages(client, "participants", Some(uuid), sleep = sleep).flatMap(_.records)
    }(parse(_, Schemas.participants, Some("meeting_uuid"))) // F5 key injection
    uuids.length
  }

  /** Meeting settings (§3.2 step 3): anti-join on numeric id
    * (main.py:310-316), single-shot fetch per id, nested-JSON flatten with
    * null defaults (main.py:324-334).
    */
  def loadMeetingSettings(): Int = {
    if (!tableExists("meetings")) return 0
    val meetings = table("meetings").select(col("id")).distinct()
    val newKeys =
      if (tableExists("meeting_settings"))
        Relational.antiJoinNewKeys(
          meetings, table("meeting_settings").select("meeting_id"),
          "id", "meeting_id")
      else meetings
    val ids = newKeys.as[Long].collect().sorted
    writeBatches("meeting_settings", "meeting_id", ids.toSeq) { id =>
      PagedApi.fetchWithRetry(client, "settings", Some(id.toString), None, sleep = sleep).records
    } { settings =>
      settings.select(
        col("meeting_id"),
        get_json_object(col("value"), "$.settings.enforce_login").try_cast("boolean").as("enforce_login"),
        get_json_object(col("value"), "$.settings.enforce_login_domains").as("enforce_login_domains"),
        get_json_object(col("value"), "$.settings.authentication_domains").as("authentication_domains"),
        get_json_object(col("value"), "$.settings.authentication_name").as("authentication_name"),
        get_json_object(col("value"), "$.settings.meeting_authentication").try_cast("boolean").as("meeting_authentication"),
        get_json_object(col("value"), "$.settings.waiting_room").try_cast("boolean").as("waiting_room"))
    }
    ids.length
  }

  /** Permission groups snapshot (S3 single-shot scan, main.py:125-135):
    * one-page fetch → declared-schema reindex → atomic overwrite (the
    * reference drops the table before inserting, main.py:129-130 — a
    * reader in that window sees nothing; overwrite here is atomic).
    * Returns rows loaded.
    */
  def loadGroups(): Long = {
    val pages = PagedApi.fetchAllPages(client, "groups", sleep = sleep)
    val groups = Ingest.reindexTo(pagesToDf(pages, Schemas.groups), Schemas.groups)
    groups.write.mode("overwrite").parquet(path("groups"))
    table("groups").count()
  }

  /** Group-id lookup (main.py:137-147): optional name filter, ids sorted
    * for determinism (the reference inherits arbitrary DB order). Driver
    * edge: the group list is small by construction.
    */
  def groupIds(groupName: Option[String] = None): Seq[String] = {
    if (!tableExists("groups")) return Seq.empty
    val g = table("groups")
    groupName.fold(g)(n => g.filter(col("name") === n))
      .select("id").as[String].collect().sortBy(Option(_)).toSeq
  }

  /** A4 first-match pick — the reference's `_get_group_ids("Students")[0]`
    * (main.py:186), total instead of crashing on a missing group.
    */
  def firstGroupId(groupName: String): Option[String] =
    groupIds(Some(groupName)).headOption

  /** Group members (S4 per-key scan, main.py:149-170): page loop per group
    * id, parent-key injection, one partition per group so a re-run
    * overwrites instead of duplicating. Returns total member rows.
    */
  def loadGroupMembers(): Long = {
    writeBatches("group_members", "group_id", groupIds()) { gid =>
      PagedApi.fetchAllPages(client, "group_members", Some(gid), sleep = sleep).flatMap(_.records)
    }(parse(_, Schemas.groupMembers, Some("group_id"))) // F5 key injection (main.py:165)
    if (tableExists("group_members")) table("group_members").count() else 0L
  }

  /** Reverse ETL (§3.3): per-row error isolation — one bad row must not
    * fail the batch (main.py:188-194). Returns (succeeded, failed).
    */
  def createStudentAccounts(students: DataFrame,
                            create: Row => Unit): (Int, Int) = {
    var ok = 0
    var failed = 0
    students.collect().foreach { row => // driver edge: small account batch (S9)
      try { create(row); ok += 1 }
      catch { case _: Exception => failed += 1 } // log-and-continue semantics
    }
    (ok, failed)
  }
}

object ZoomPipeline {

  /** JSON buffered on the driver per per-key write, counted in chars. */
  private val BatchBudget: Long = 64L << 20

  /** Groups consecutive keys' records into write batches of at most
    * `budget` chars of JSON, in key order. A key's records are never split
    * across batches; a key larger than `budget` gets a batch of its own.
    * Lazy: a batch pulls keys (and so fetches them) only up to the first
    * key that no longer fits, so at most one batch plus one key is held.
    */
  private[pipeline] def batches[K](keyed: Iterator[(K, Seq[String])],
                                   budget: Long): Iterator[Seq[(K, String)]] = {
    def chars(records: Seq[String]): Long = records.iterator.map(_.length.toLong).sum
    val in = keyed.buffered
    new Iterator[Seq[(K, String)]] {
      def hasNext: Boolean = in.hasNext
      def next(): Seq[(K, String)] = {
        val batch = Vector.newBuilder[(K, String)]
        var used = 0L
        var first = true
        while (in.hasNext && (first || used + chars(in.head._2) <= budget)) {
          val (k, records) = in.next()
          records.foreach(r => batch += (k -> r))
          used += chars(records)
          first = false
        }
        batch.result()
      }
    }
  }

  /** Each warehouse table's declared read schema: the entity's fields,
    * then its partition key with a fixed type (inference would type a key
    * from its values: a uuid `"0012"` as int 12, small ids as int).
    */
  private val tableSchemas: Map[String, StructType] = {
    def keyedBy(schema: StructType, key: String, tpe: DataType) =
      StructType(schema.filterNot(_.name == key) :+ StructField(key, tpe))
    Map(
      "users" -> Schemas.users,
      "groups" -> Schemas.groups,
      "meetings" -> keyedBy(Schemas.meetings, "run_date", DateType),
      "participants" -> keyedBy(Schemas.participants, "meeting_uuid", StringType),
      "meeting_settings" -> keyedBy(Schemas.meetingSettings, "meeting_id", LongType),
      "group_members" -> keyedBy(Schemas.groupMembers, "group_id", StringType))
  }
}
