package graft

import org.apache.spark.sql.functions._

/** Native bounded_collect_list: registration, parity with collect_list for
  * under-cap groups, and the saturation contract (cap+1 elements marks an
  * over-cap group) that makes it a bounded-memory hot-bucket census.
  */
class BoundedCollectListSpec extends SparkTestBase {
  import spark.implicits._

  test("bounded_collect_list resolves via SQL (extension registration)") {
    assert(spark.catalog.functionExists("bounded_collect_list"))
    val v = spark.sql(
      "SELECT sort_array(bounded_collect_list(x, 10)) AS xs FROM VALUES (1L),(2L),(3L) AS t(x)")
      .as[Seq[Long]].head()
    assert(v == Seq(1L, 2L, 3L))
  }

  test("under-cap groups: same element set as collect_list") {
    val df = spark.range(0, 1000)
      .select((col("id") % 7).as("g"), col("id").as("x"))
    val got = df.groupBy("g")
      .agg(sort_array(call_function("bounded_collect_list", col("x"), lit(200))).as("xs"))
    val want = df.groupBy("g")
      .agg(sort_array(collect_list(col("x"))).as("xs"))
    assert(got.join(want, "g")
      .filter(got("xs") =!= want("xs")).isEmpty)
  }

  test("over-cap groups saturate at exactly cap+1 elements (census verdict)") {
    val df = spark.range(0, 10000).select(lit(0).as("g"), col("id").as("x"))
    val sizes = df.groupBy("g")
      .agg(size(call_function("bounded_collect_list", col("x"), lit(100))).as("n"))
      .as[(Int, Int)].collect()
    assert(sizes.map(_._2).toSeq == Seq(101),
      "a 10000-element group must stop accumulating at cap+1=101, not 10000")
  }

  test("saturation bounds memory through shuffle partials too (multi-partition group)") {
    // Spread one group across 32 partitions: every map-side partial and the
    // reduce-side merge must each stay <= cap+1.
    val df = spark.range(0, 100000).repartition(32)
      .select(lit(0).as("g"), col("id").as("x"))
    val n = df.groupBy("g")
      .agg(size(call_function("bounded_collect_list", col("x"), lit(50))).as("n"))
      .as[(Int, Int)].head()._2
    assert(n == 51)
  }

  test("two bounded lists in one aggregation are index-aligned (zip contract)") {
    // simhashPairs zips bounded_collect_list(id) with
    // bounded_collect_list(sketch) from the SAME groupBy and relies on
    // element i of both arrays coming from the same input row. Encode the
    // dependency (y = 3x + 1) and check it survives a multi-partition
    // shuffle with saturation in play.
    val df = spark.range(0, 20000).repartition(16)
      .select((col("id") % 5).as("g"), col("id").as("x"),
        (col("id") * 3 + 1).as("y"))
    val misaligned = df.groupBy("g")
      .agg(call_function("bounded_collect_list", col("x"), lit(1000)).as("xs"),
        call_function("bounded_collect_list", col("y"), lit(1000)).as("ys"))
      .select(explode(arrays_zip(col("xs"), col("ys"))).as("p"))
      .filter(col("p.ys") =!= col("p.xs") * 3 + 1)
      .count()
    assert(misaligned == 0)
  }

  test("any element type: strings and structs collect and saturate like longs") {
    val df = spark.range(0, 1000)
      .select((col("id") % 4).as("g"), concat(lit("d"), col("id")).as("s"),
        struct(col("id").as("i"), col("id").cast("string").as("t")).as("st"))
    val got = df.groupBy("g")
      .agg(sort_array(call_function("bounded_collect_list", col("s"), lit(300))).as("ss"),
        sort_array(call_function("bounded_collect_list", col("st"), lit(300))).as("sts"))
    val want = df.groupBy("g")
      .agg(sort_array(collect_list(col("s"))).as("ss"),
        sort_array(collect_list(col("st"))).as("sts"))
    assert(got.join(want, "g")
      .filter(got("ss") =!= want("ss") || got("sts") =!= want("sts")).isEmpty)
    val sizes = df.repartition(8).groupBy("g")
      .agg(size(call_function("bounded_collect_list", col("s"), lit(20))).as("n"),
        size(call_function("bounded_collect_list", col("st"), lit(20))).as("m"))
      .as[(Long, Int, Int)].collect()
    assert(sizes.length == 4 && sizes.forall(r => r._2 == 21 && r._3 == 21))
  }

  test("out-of-range cap fails at analysis time") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT bounded_collect_list(x, 0) FROM VALUES (1L) AS t(x)")
        .queryExecution.analyzed
    }
    assert(e.getMessage.contains("cap must be >= 1"), e.getMessage)
  }
}
