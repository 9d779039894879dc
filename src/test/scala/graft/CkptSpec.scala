package graft

import org.apache.spark.sql.functions._

import graft.ops.Ckpt

/** `Ckpt.release` frees only a checkpoint itself: a plan built on top of
  * one is refused, so a still-live checkpoint it reads is never unpersisted.
  */
class CkptSpec extends SparkTestBase {

  test("release refuses a plan over a checkpoint; the checkpoint stays computable") {
    val ckpt = spark.range(100).select(col("id"), (col("id") % 7).as("m"))
      .localCheckpoint(eager = true)
    val e = intercept[IllegalArgumentException](Ckpt.release(ckpt.select("m")))
    assert(e.getMessage.contains("Project"))
    intercept[IllegalArgumentException](Ckpt.release(ckpt.join(ckpt, "id")))
    assert(ckpt.count() == 100)
    assert(ckpt.agg(sum("id")).head().getLong(0) == 4950L)
  }

  test("release frees a checkpoint root") {
    val ckpt = spark.range(10).toDF().localCheckpoint(eager = true)
    val rdd = ckpt.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    Ckpt.release(ckpt)
    val deadline = System.nanoTime() + 10000000000L
    while (spark.sparkContext.getPersistentRDDs.contains(rdd.id) && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
  }
}
