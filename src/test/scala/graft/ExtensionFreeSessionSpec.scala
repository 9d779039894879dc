package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorOps
import graft.ops.LlmOps

/** The DataFrame operators build graft's native expressions directly, so
  * a session built WITHOUT `spark.sql.extensions` runs the same native
  * plans — including the saturating LSH hot-bucket cap, for bigint and
  * string ids alike. The shared test session is stopped for the duration
  * (one SparkContext per JVM); the next suite gets a fresh one.
  */
class ExtensionFreeSessionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var bare: SparkSession = _
  private val cap = 10

  override def beforeAll(): Unit = {
    TestSpark.spark.stop()
    bare = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    bare.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = bare.stop()

  /** `cap + 5` identical boilerplate docs (one hot bucket per band), one
    * identical pair (1, 2) and one unrelated doc (3).
    */
  private def corpus(stringIds: Boolean): DataFrame = {
    val s = bare
    import s.implicits._
    val rows = (0 until cap + 5).map(i =>
        (100L + i, "boilerplate footer text repeated across many pages of the site")) ++
      Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy dog"),
        (3L, "completely different words entirely unrelated text here okay"))
    val df = rows.toDF("doc_id", "text")
    if (stringIds) df.select(concat(lit("d"), $"doc_id").as("doc_id"), $"text") else df
  }

  private def optimized(df: DataFrame): String = df.queryExecution.optimizedPlan.toString

  test("the session really has no graft extension") {
    assert(bare.conf.getOption("spark.sql.extensions").isEmpty)
    assert(!bare.catalog.functionExists("bounded_collect_list"))
    assert(!bare.catalog.functionExists("cosine_sim"))
  }

  Seq(false -> "bigint", true -> "string").foreach { case (stringIds, kind) =>
    test(s"hot bucket dropped natively without the extension ($kind ids)") {
      val docs = corpus(stringIds)
      val hot = docs.filter(col("text").startsWith("boilerplate"))
        .select(col("doc_id").cast("string")).collect().map(_.getString(0)).toSet
      val pairId = if (stringIds) Set("d1", "d2") else Set("1", "2")
      def check(pairs: DataFrame): Unit = {
        assert(optimized(pairs).contains("bounded_collect_list"), optimized(pairs))
        val got = pairs.select(col("id_a").cast("string"), col("id_b").cast("string"))
          .collect().map(r => Set(r.getString(0), r.getString(1))).toSet
        assert(got == Set(pairId), got)
        assert(got.flatten.intersect(hot).isEmpty)
      }
      check(LlmOps.nearDupPairs(docs, "doc_id", "text", numHashes = 16, bands = 4,
        threshold = 0.5, maxBucketSize = cap))
      check(LlmOps.simhashPairs(docs, "doc_id", "text", maxBucketSize = cap))
    }
  }

  test("per-row native helper (cosine) runs without the extension") {
    val s = bare
    import s.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (3L, Seq(0.0f, 0.0f), Seq(1.0f, 2.0f))).toDF("id", "a", "b")
    val scored = df.select($"id", VectorOps.cosine($"a", $"b").as("c"))
    val analyzed = scored.queryExecution.analyzed.toString
    assert(analyzed.contains("cosine_sim"), analyzed)
    assert(scored.as[(Long, Double)].collect().toMap == Map(1L -> 1.0, 2L -> 0.0, 3L -> 0.0))
  }
}
