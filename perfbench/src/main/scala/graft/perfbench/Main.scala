package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One operation: an ETL run or a query. `error` set means it failed. */
final case class OpResult(name: String, ms: Double, error: Option[String])

/** One pass of a workload: its timed operations, their summed wall and
  * process CPU time, the untimed per-pass set-up, untimed probes whose
  * outcome is reported but not timed, and the heap live after it. */
final case class PassResult(wallS: Double, cpuS: Double, prepS: Double,
                            ops: Seq[OpResult], probes: Seq[OpResult],
                            storageAmp: Option[Double], tempBytes: Option[Long] = None,
                            liveHeapBytes: Long = 0) {
  def liveHeapMb: Double = liveHeapBytes / 1048576.0
}

trait Workload {
  /** Untimed work at the end of set-up that brings the JIT, the code
    * generator's cache and the class loader to their steady state. */
  def warmUp(threads: Int): Unit
  /** About how long one pass takes on a 4-core machine; it sets how many
    * passes fill `--seconds`. */
  def nominalPassS: Double
  def pass(t: Option[Tracer]): PassResult
}

/** Process-level resources: CPU time, and the heap still live after a
  * full collection. */
object Resources {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime

  /** Collects twice: Spark's cleaner frees broadcast and shuffle blocks
    * only after a collection has found them unreachable. */
  def liveHeapBytes(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, sample count), if there are eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] =
    if (xs.size < 11) None
    else Some((xs.sorted.apply(xs.size - 11), 100.0 * (xs.size - 10) / xs.size, xs.size))
}

/** The benchmark's entry point; `perfbench/run.py` builds and launches it.
  *
  * One JVM at `local[cpus]` with the session confs `graft.Bench` sets; one
  * caller thread runs the workload's passes back to back (a closed loop),
  * as many as fill `--seconds` at the workload's nominal pass time, after
  * an untimed set-up. With `--trace 1` untraced and traced passes
  * alternate; the per-layer numbers come from the traced ones. The last
  * line printed is the result object. */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, bench: Path = Paths.get("perfbench"),
                        work: Path = Paths.get(".bench_build", "work"), cpus: Int = 4,
                        scale: String = "full", corrupt: String = "none",
                        dumpOracle: Option[Path] = None)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: r => parse(r, o.copy(workload = v))
    case "--seed" :: v :: r => parse(r, o.copy(seed = v.toLong))
    case "--seconds" :: v :: r => parse(r, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: r => parse(r, o.copy(trace = v == "1"))
    case "--bench-dir" :: v :: r => parse(r, o.copy(bench = Paths.get(v)))
    case "--work" :: v :: r => parse(r, o.copy(work = Paths.get(v)))
    case "--cpus" :: v :: r => parse(r, o.copy(cpus = v.toInt))
    case "--scale" :: v :: r => parse(r, o.copy(scale = v))
    case "--corrupt" :: v :: r => parse(r, o.copy(corrupt = v))
    case "--dump-oracle" :: v :: r => parse(r, o.copy(dumpOracle = Some(Paths.get(v))))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  val workloads = Seq("etl", "slate_sample")

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    o.dumpOracle.foreach { out => dumpOracle(o, out); return }
    require(workloads.contains(o.workload), s"--workload must be one of ${workloads.mkString(", ")}")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(o.work)
    val spark = session(o)
    val wl = workload(o, spark)
    val w0 = System.nanoTime()
    wl.warmUp(o.cpus)
    val warmS = (System.nanoTime() - w0) / 1e9
    val toFirstPassS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // with tracing, untraced and traced passes alternate, half the time each
    val n = math.max(1, math.round(o.seconds / (if (o.trace) 2 else 1) / wl.nominalPassS).toInt)
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val passes = (0 until n).flatMap(_ => None +: tracer.toSeq.map(Some(_))).map(measure(wl, _))
    val plain = passes.filter(_._1.isEmpty).map(_._2)
    val traced = tracer.map(t => (t, passes.filter(_._1.isDefined).map(_._2)))
    // set-up: JVM start to the first timed pass, with the per-pass set-up
    // that every pass repeats counted as its median
    val all = plain ++ traced.toSeq.flatMap(_._2)
    val setupS = toFirstPassS + Stats.median(all.map(_.prepS))

    val ops = plain.flatMap(_.ops)
    val failed = all.flatMap(_.ops).filter(_.error.isDefined)
    val probes = all.flatMap(_.probes)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", Stats.median(plain.map(_.wallS)), "s"),
      ("op_p50_ms", Stats.median(ops.map(_.ms)), "ms"),
      ("cpu_s", Stats.median(plain.map(_.cpuS)), "s"),
      ("live_heap_peak_mb", plain.map(_.liveHeapMb).max, "MB"))

    println(s"# perfbench workload=${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0}" +
      s" nproc=${o.cpus} spark=${spark.version} jvm=${System.getProperty("java.version")}" +
      s" data=${o.bench.resolve("data")}(sf0.01) passes=${plain.size} warm_up_s=$warmS")
    e2e.foreach { case (n, v, u) => println(s"metric $n $v $u") }
    Stats.tail(ops.map(_.ms)) match {
      case Some((v, p, n)) => println(f"metric op_tail_ms $v ms (p$p%.1f of $n operations)")
      case None => println(s"metric op_tail_ms n/a ms (${ops.size} operations; a tail needs 11)")
    }
    val attemptedAll = all.map(_.ops.size).sum + probes.size
    val failedAll = failed.size + probes.count(_.error.isDefined)
    println(s"metric failed_share ${failedAll.toDouble / attemptedAll} ratio ($failedAll of $attemptedAll operations" +
      (if (probes.isEmpty) ")" else s", ${probes.size} of them untimed empty-day probes)"))
    plain.flatMap(_.storageAmp) match {
      case Seq() => println("metric storage_amp n/a ratio (no warehouse)")
      case amps => println(s"metric storage_amp ${Stats.median(amps)} ratio")
    }
    plain.flatMap(_.tempBytes) match {
      case Seq() =>
      case bs => println(s"info temp_store_bytes_after_each_pass ${bs.mkString(",")}")
    }
    println(s"info wall_s_per_pass ${plain.map(_.wallS).mkString(",")}")
    println(s"info live_heap_mb_per_pass ${plain.map(_.liveHeapMb).mkString(",")}")
    ops.groupBy(_.name).toSeq.sortBy(-_._2.map(_.ms).sum).foreach { case (n, os) =>
      println(s"info op_ms ${n.replace(' ', '_')} ${Stats.median(os.map(_.ms))} (median of ${os.size})")
    }
    failed.foreach(f => println(s"failed ${f.name}: ${f.error.get}"))
    probes.foreach(p => println(s"probe ${p.name}: ${p.error.fold("ok")(e => s"failed: $e")}"))

    val metrics = traced match {
      case None => e2e
      case Some((t, passes)) =>
        t.write(o.work.getParent.resolve("traces").resolve(s"${o.workload}-seed${o.seed}.jsonl"))
        println(s"info trace_spans ${t.allSpans.size}")
        layerMetrics(t, passes, Stats.median(passes.map(_.wallS)) - Stats.median(plain.map(_.wallS)))
    }
    if (o.trace) metrics.foreach { case (n, v, u) => println(s"layer $n $v $u") }
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    spark.stop()
    println(s"""{"correct":${failed.isEmpty},"attempted":${all.map(_.ops.size).sum},"failed":${failed.size},"metrics":{$body}}""")
  }

  /** Runs `tasks` on `threads` threads and waits for all of them. */
  def concurrently(threads: Int, tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  /** One pass, traced or not, and the heap live after it. Two commits run
    * the same passes in the same order: their count depends only on the
    * arguments and the workload's nominal pass time. */
  private def measure(wl: Workload, t: Option[Tracer]): (Option[Tracer], PassResult) = {
    t.foreach(_.start())
    val p = wl.pass(t)
    t.foreach(_.finish())
    (t, p.copy(liveHeapBytes = Resources.liveHeapBytes()))
  }

  private def layerMetrics(t: Tracer, passes: Seq[PassResult],
                           overheadS: Double): Seq[(String, Double, String)] = {
    val n = passes.size.toDouble
    def per(name: String) = t.counter(name) / n
    val stages = Seq("load_users", "load_groups", "load_group_members", "load_meetings",
      "load_participants", "load_meeting_settings")
    val registries = Seq("QScanJoin", "QAggWindow", "QTemporal", "QDedup", "QVector",
      "QTextCuration", "QMultimodal", "QScale")
    val fetches = per("sources.fetches")
    Seq(
      ("sources.fetches", fetches, "count"), ("sources.pages", per("sources.pages"), "count"),
      ("sources.json_bytes", per("sources.json_bytes"), "B"),
      ("sources.useful_fetch_ratio", if (fetches == 0) 0.0 else per("sources.useful_fetches") / fetches, "ratio"),
      ("sources.rate_limited", per("sources.rate_limited"), "count"),
      ("sources.transient_errors", per("sources.transient_errors"), "count"),
      ("sources.backoff_s", per("sources.backoff_s"), "s")) ++
    stages.flatMap(s => Seq((s"pipeline.${s}_s", per(s"pipeline.${s}_s"), "s"),
      (s"pipeline.${s}_calls", per(s"pipeline.${s}_calls"), "count"))) ++
    Seq(("pipeline.rows_committed", per("pipeline.rows_committed"), "count"),
      ("queries.build_s", per("queries.build_s"), "s"),
      ("queries.count_s", per("queries.count_s"), "s")) ++
    registries.map(r => (s"queries.${r}_s", per(s"queries.${r}_s"), "s")) ++
    Seq(("storage.bytes", per("storage.bytes"), "B"), ("storage.files", per("storage.files"), "count"),
      ("storage.partition_dirs", per("storage.partition_dirs"), "count"),
      ("storage.write_execs", per("storage.write_execs"), "count")) ++
    Seq("sql_execs", "jobs", "stages", "tasks").map(c => (s"spark.$c", per(s"spark.$c"), "count")) ++
    Seq("planning_s", "driver_only_s", "executor_run_s", "executor_cpu_s", "gc_s")
      .map(c => (s"spark.$c", per(s"spark.$c"), "s")) ++
    Seq("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
      .map(c => (s"spark.$c", per(s"spark.$c"), "B")) ++
    Seq(("trace.overhead_s", overheadS, "s"))
  }

  def session(o: Opts): SparkSession = {
    val work = o.work.toAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val etlSize = EtlSize(users = 300, userPage = 100, groups = 2, membersPerGroup = 20,
    memberPage = 15, meetingsPerDay = 2, participants = 30, participantPage = 20)
  private val etlTiny = EtlSize(users = 40, userPage = 20, groups = 2, membersPerGroup = 5,
    memberPage = 10, meetingsPerDay = 2, participants = 4, participantPage = 3)

  def workload(o: Opts, spark: SparkSession): Workload = {
    val tiny = o.scale == "tiny"
    o.workload match {
      case "etl" =>
        new EtlWorkload(spark, o.seed, if (tiny) etlTiny else etlSize,
          backfillDays = if (tiny) 1 else 2, nights = if (tiny) 1 else 2, warmSize = etlTiny,
          o.work, corruptTotals = o.corrupt == "generator")
      case "slate_sample" =>
        val names = SlateWorkload.sample(o.bench.resolve("slate_sample.txt"))
        val expected = readCounts(o.bench.resolve("expected_counts.json"))
        val counts = if (o.corrupt != "expected") expected
          else expected.updated(names.head, expected.getOrElse(names.head, 0L) + 1)
        new SlateWorkload(spark, o.bench.resolve("data").toAbsolutePath.toString,
          if (tiny) names.take(3) else names, counts,
          Paths.get(System.getProperty("java.io.tmpdir")))
    }
  }

  private def readCounts(p: Path): Map[String, Long] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile).get("counts")
    m.fieldNames().asScala.map(k => k -> m.get(k).asLong()).toMap
  }

  /** Writes {name: oracle SQL} for the slate sample, for make_expected.py. */
  private def dumpOracle(o: Opts, out: Path): Unit = {
    val names = SlateWorkload.sample(o.bench.resolve("slate_sample.txt"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val missing = names.filterNot(graft.SparkEntry.oracleSql.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    mapper.writerWithDefaultPrettyPrinter().writeValue(out.toFile,
      names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap.asJava)
  }
}
