package graft
package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A fixed sample of the declared-query slate, run in the sample file's
  * order, each query timed with its build plus `.count()` as `graft.Bench`
  * times it, on a fresh session per pass, and its row count checked
  * against the DuckDB oracle's. The data set is fixed, so the seed changes
  * nothing here. */
final class SlateWorkload(spark: SparkSession, dataDir: String,
                          names: Seq[String], expected: Map[String, Long],
                          storeRoot: Path) extends Workload {
  private val registryOf: Map[String, String] = Seq(
    "QScanJoin" -> QScanJoin.queries, "QAggWindow" -> QAggWindow.queries,
    "QTemporal" -> QTemporal.queries, "QDedup" -> QDedup.queries,
    "QVector" -> QVector.queries, "QTextCuration" -> QTextCuration.queries,
    "QMultimodal" -> QMultimodal.queries, "QScale" -> QScale.queries
  ).flatMap { case (r, qs) => qs.keys.map(_ -> r) }.toMap

  def nominalPassS = 8.0

  /** Every query once, spread over `threads` sessions at a time. */
  def warmUp(threads: Int): Unit = Main.concurrently(threads, names.map { q => () =>
    val session = spark.newSession()
    try SparkEntry.queries.get(q).foreach(_(session, dataDir).count())
    catch { case e: Throwable => System.err.println(s"perfbench: warm-up of $q failed: $e") }
    finally session.catalog.clearCache()
  })

  def pass(t: Option[Tracer]): PassResult = {
    val prep0 = System.nanoTime()
    val session = spark.newSession()
    t.foreach(_.watch(session))
    val before = EtlChecks.footprint(storeRoot)
    val prepS = (System.nanoTime() - prep0) / 1e9
    var wall = 0.0
    var cpu = 0.0
    val ops = names.map { q =>
      val fn = SparkEntry.queries.get(q)
      val c0 = Resources.cpuNs(); val t0 = System.nanoTime()
      val got = Tracer.op(t, s"query.$q") {
        try {
          val df = Tracer.span(t, "queries.build")(fn.get(session, dataDir))
          Right(Tracer.span(t, "queries.count")(df.count()))
        } catch { case e: Throwable => Left(e.toString.takeWhile(_ != '\n').take(200)) }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      wall += dt; cpu += (Resources.cpuNs() - c0) / 1e9
      t.foreach(_.add(s"queries.${registryOf.getOrElse(q, "unknown")}_s", dt))
      session.catalog.clearCache()
      val err = got match {
        case Left(e) => Some(s"$q threw $e")
        case Right(n) if !expected.get(q).contains(n) =>
          Some(s"$q returned $n rows, oracle ${expected.get(q).fold("missing")(_.toString)}")
        case _ => None
      }
      OpResult(q, dt * 1000, err)
    }
    val after = EtlChecks.footprint(storeRoot)
    t.foreach { tr =>
      tr.add("storage.bytes", (after.bytes - before.bytes).toDouble)
      tr.add("storage.files", (after.files - before.files).toDouble)
      tr.add("storage.partition_dirs", (after.partitionDirs - before.partitionDirs).toDouble)
    }
    PassResult(wall, cpu, prepS, ops, Nil, storageAmp = None,
      tempBytes = Some(after.bytes))
  }
}

object SlateWorkload {
  def sample(file: Path): Seq[String] =
    Files.readAllLines(file).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
}
