package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorOps
import graft.ops.{Ingest, LlmOps, Relational, Temporal}
import graft.pipeline.ZoomJobs
import graft.QShared._

/** ScanJoin slice of the declared query slate — split from the former 4.3k-line
  * SparkEntry.scala (VERDICT r7 #7); bodies moved verbatim, composition in
  * [[SparkEntry]] keeps the driver contract identical. */
private[graft] object QScanJoin {

  /** The 16-bucket fact tables both bucketed-join faces scan: installed
    * once per slate run (SlateStore memo, per-table corpus tags), shared
    * by name — one helper so the DataFrame and SQL-text faces can never
    * drift onto different layouts. Returns (orders, lineitem) catalog
    * names. */
  private def bucketedFactTables(s: org.apache.spark.sql.SparkSession,
                                 dir: String): (String, String) = {
    val ordTag = graft.ops.SlateStore.corpusTag(s, s"$dir/orders.parquet")
    val liTag = graft.ops.SlateStore.corpusTag(s, s"$dir/lineitem.parquet")
    val ord = graft.ops.Bucketing.ensureBucketed(
      s, s"orders|$dir#$ordTag", "o_orderkey", numBuckets = 16)(
      t(s, dir, "orders").select("o_orderkey", "o_orderpriority"))
    val li = graft.ops.Bucketing.ensureBucketed(
      s, s"lineitem|$dir#$liTag", "l_orderkey", numBuckets = 16)(
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount"))
    (ord, li)
  }

  /** The two-commit versioned orders table BOTH time-travel faces read
    * (commit 1 = the pre-1995 backfill, commit 2 = the full corpus,
    * retain=2): published once per (session, corpus snapshot) via the
    * scalar memo, shared by path — one builder so the DataFrame face
    * (`snapshot_rollback_diff`) and the SQL-text face
    * (`sql_snapshot_at_diff`) can never read version pairs built by
    * different code (the bucketedFactTables discipline). minAgeMs=0 is
    * safe in the session-private temp root (no foreign readers). */
  private def timeTravelOrders(s: org.apache.spark.sql.SparkSession,
                               dir: String): String = {
    val orders = t(s, dir, "orders")
    val tag = graft.ops.SlateStore.corpusTag(s, s"$dir/orders.parquet")
    graft.ops.SlateStore.scalar(s, s"tt_orders|$dir#$tag") {
      val p = new java.io.File(
        graft.ops.SlateStore.sessionTempRoot(s), s"tt_orders_$tag").toString
      graft.ops.Sink.overwriteSnapshot(
        orders.filter(col("o_orderdate") <
          lit("1995-01-01 00:00:00").cast("timestamp")),
        p, retain = 2, minAgeMs = 0L)
      graft.ops.Sink.overwriteSnapshot(orders, p, retain = 2, minAgeMs = 0L)
      p
    }
  }

  /** The three-segment (year-ranged, stats-bearing) orders table the
    * plan-derived-pruning face reads — published once per (session,
    * corpus snapshot); Round17StoreSpec audits the same layout. */
  private def segmentedOrders(s: org.apache.spark.sql.SparkSession,
                              dir: String): String = {
    val base = t(s, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")).cast("long"))
    val tag = graft.ops.SlateStore.corpusTag(s, s"$dir/orders.parquet")
    graft.ops.SlateStore.scalar(s, s"seg_orders|$dir#$tag") {
      val p = new java.io.File(
        graft.ops.SlateStore.sessionTempRoot(s), s"seg_orders_$tag").toString
      graft.ops.Sink.overwriteSegmented(base.filter(col("o_year") <= 1996),
        p, retain = 1, minAgeMs = 600000L, statsCols = Seq("o_year"))
      graft.ops.Sink.appendSegment(base.filter(col("o_year").between(1997, 1998)),
        p, retain = 1, minAgeMs = 600000L, statsCols = Seq("o_year"))
      graft.ops.Sink.appendSegment(base.filter(col("o_year") >= 1999),
        p, retain = 1, minAgeMs = 600000L, statsCols = Seq("o_year"))
      p
    }
  }

  /** The three-commit segmented orders table the changefeed face reads
    * (commit 1 = the ≤1998 backfill, commit 2 = the 1999 append,
    * commit 3 = a patch deleting the 1995 keys and appending ≥2000) —
    * published once per (session, corpus snapshot), retain=2 so both
    * replayed base versions stay on disk. minAgeMs=0 is safe in the
    * session-private temp root (no foreign readers). */
  private def changefeedOrders(s: org.apache.spark.sql.SparkSession,
                               dir: String): String = {
    val orders = t(s, dir, "orders")
    val tag = graft.ops.SlateStore.corpusTag(s, s"$dir/orders.parquet")
    graft.ops.SlateStore.scalar(s, s"cf_orders|$dir#$tag") {
      val p = new java.io.File(
        graft.ops.SlateStore.sessionTempRoot(s), s"cf_orders_$tag").toString
      val yr = year(col("o_orderdate"))
      graft.ops.Sink.overwriteSegmented(orders.filter(yr <= 1998),
        p, retain = 2, minAgeMs = 0L)
      graft.ops.Sink.appendSegment(orders.filter(yr === 1999),
        p, retain = 2, minAgeMs = 0L)
      graft.ops.Sink.patchSegmented(p,
        deleteKeys = Some(orders.filter(yr === 1995).select("o_orderkey")),
        delta = Some(orders.filter(yr >= 2000)),
        retain = 2, minAgeMs = 0L)
      p
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- §2.1/§2.2 scans, projections, filters -------------------------
    "scan_project" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")),

    "reindex_columns" -> ((s, dir) =>
      Ingest.reindexTo(t(s, dir, "customer"), StructType(Seq(
          StructField("c_custkey", LongType),
          StructField("c_name", StringType),
          StructField("c_mktsegment", StringType),
          StructField("c_phone", StringType)))) // absent in source → typed null
        .orderBy("c_custkey")),

    "filter_eq" -> ((s, dir) =>
      Relational.filterEq(t(s, dir, "events"), "event_type", "click")
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")),

    "filter_date_range" -> ((s, dir) =>
      Relational.filterTsRange(t(s, dir, "orders"), "o_orderdate",
          "1995-01-01 00:00:00", "1996-01-01 00:00:00")
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
        .orderBy("o_orderkey")),

    "distinct_keys" -> ((s, dir) =>
      Relational.distinctKeys(t(s, dir, "lineitem"), "l_orderkey")
        .orderBy("l_orderkey")),

    // ---- §2.3 joins ----------------------------------------------------,

    // ---- §2.3 joins ----------------------------------------------------
    "anti_join_new_keys" -> ((s, dir) => {
      val processed = Relational.filterTsRange(t(s, dir, "orders"), "o_orderdate",
        "1995-01-01 00:00:00", "1996-01-01 00:00:00").select("o_custkey")
      Relational.antiJoinNewKeys(t(s, dir, "customer"), processed, "c_custkey", "o_custkey")
        .select("c_custkey").distinct().orderBy("c_custkey")
    }),

    "semi_join_active" -> ((s, dir) => {
      val urgent = Relational.filterEq(t(s, dir, "orders"), "o_orderpriority", "1-URGENT")
      Relational.semiJoin(t(s, dir, "customer"), urgent, "c_custkey", "o_custkey")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    "join_enrich" -> ((s, dir) => {
      val cn = Relational.enrichWithDim(t(s, dir, "customer"), t(s, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      Relational.enrichWithDim(cn, t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey", "c_name", "n_name", "r_name")
        .orderBy("c_custkey")
    }),

    "left_join_counts" -> ((s, dir) => {
      // LEFT JOIN keeps customers with zero orders in range (cnt = 0):
      // COUNT(o_orderkey) counts only matched rows, never the null row.
      val window = Relational.filterTsRange(t(s, dir, "orders"), "o_orderdate",
        "1995-01-01 00:00:00", "1996-01-01 00:00:00")
      t(s, dir, "customer")
        .join(window, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }),

    "full_outer_keys" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("uk")).distinct()
      val window = o.filter(col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
        .select(col("o_custkey").as("wk")).distinct()
      urgent.join(window, col("uk") === col("wk"), "full_outer")
        .select(
          coalesce(col("uk"), col("wk")).as("cust"),
          col("uk").isNotNull.as("is_urgent"),
          col("wk").isNotNull.as("in_window"))
        .orderBy("cust")
    }),

    // ---- §2.7/§2.8 set ops, literals -----------------------------------
    "union_pages" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val pages = Seq(
        o.filter(col("o_orderkey") % 3 === 0).select("o_orderkey", "o_custkey", "o_totalprice"),
        o.filter(col("o_orderkey") % 3 === 1).select("o_custkey", "o_totalprice", "o_orderkey"),
        o.filter(col("o_orderkey") % 3 === 2).select("o_totalprice", "o_orderkey", "o_custkey"))
      Relational.unionPages(pages)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    "add_literal" -> ((s, dir) =>
      Relational.addLiteral(t(s, dir, "events"), "source_system", "zoom")
        .select("event_id", "user_id", "source_system")
        .orderBy("event_id")),

    // ---- §2.4 aggregations ---------------------------------------------,

    "union_by_name" -> ((s, dir) => {
      // schema-evolution union: two ingest batches with drifted schemas
      // align by NAME with null fill — positional union would silently
      // put source values in the lang column
      val docs = t(s, dir, "documents")
      val batchA = docs.filter(col("lang") === "en")
        .select("doc_id", "lang", "n_chars")
      val batchB = docs.filter(col("lang") =!= "en")
        .select("doc_id", "source", "n_chars")
      Relational.unionByNameLoose(Seq(batchA, batchB)).orderBy("doc_id")
    }),

    "bloom_join" -> ((s, dir) => {
      // shuffle-reduction audit: orders joined to one nation's customers
      // through the relational bloom prefilter. Census is fully
      // md5-replayable: n_pass (bloom survivors), n_match (true semi
      // join), false_pass = their gap (bounded by the bloom rate), and
      // the joined-row count + exact floored revenue prove the final join
      // equals the plain one (no false negatives by construction)
      val orders = t(s, dir, "orders")
      val dim = t(s, dir, "customer").filter(col("c_nationkey") === 5)
      val bits = Relational.bloomBits(dim, "c_custkey")
      val nFact = orders.agg(count(lit(1)).as("n_fact"))
      val nPass = Relational.bloomPass(orders, "o_custkey", bits)
        .agg(count(lit(1)).as("n_pass"))
      val nMatch = orders.join(dim, col("o_custkey") === col("c_custkey"),
        "left_semi").agg(count(lit(1)).as("n_match"))
      val joined = Relational.bloomPrefilterJoin(orders, dim,
          "o_custkey", "c_custkey")
        .agg(count(lit(1)).as("n_joined"),
          sum(floor(col("o_totalprice")).cast("long")).as("rev_floor"))
      nFact.crossJoin(nPass).crossJoin(nMatch).crossJoin(joined)
        .select(col("n_fact"), col("n_pass"), col("n_match"),
          (col("n_pass") - col("n_match")).as("false_pass"),
          col("n_joined"), col("rev_floor"))
    }),

    "salted_join_counts" -> ((s, dir) => {
      // skew-proof shuffle join: events' hot user keys spread over 16
      // salted reducers against a 16×-replicated dim; rows identical to
      // the plain join (the oracle IS the plain join), plan audited
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      Relational.saltedJoin(ev, cust, "user_id", "c_custkey", "event_id",
          salts = 16)
        .groupBy("c_nationkey").agg(count(lit(1)).as("cnt"))
        .orderBy("c_nationkey")
    }),

    "bucketed_join_revenue" -> ((s, dir) => {
      // the shuffle paid at WRITE time: orders and lineitem installed once
      // per slate run as 16-bucket catalog tables on the join key, so the
      // fact-fact join plans with NO exchange and NO sort on either side
      // (BucketingSpec audits the plan; rows identical to the plain join,
      // which IS the oracle). At 100 TB this is the difference between
      // re-shuffling the fact table per query and never shuffling it again.
      // ONE tag per table, each keying only ITS bucketed layout (r14
      // review fixes: a whole-dir tag walked all 10 tables' metadata per
      // invocation, and a concatenated two-table tag still re-bucketed
      // the untouched fact when the other regenerated)
      val (ord, li) = bucketedFactTables(s, dir)
      s.table(ord).join(s.table(li), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          Relational.decimalSumProduct(
            col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    }),

    "sql_bucketed_join_revenue" -> ((s, dir) => {
      // the SQL-surface face of the r14 bucketed layout (VERDICT r14
      // item 7): the SAME 16-bucket catalog tables bucketed_join_revenue
      // installs, entered through RAW SQL TEXT over their catalog names —
      // proving the zero-exchange/zero-sort co-located plan survives
      // SQL-text entry, not just the DataFrame API (BucketingSpec audits
      // the plan; the oracle is the plain join, shared with the
      // DataFrame face). One store memo per table per slate run — this
      // query and bucketed_join_revenue share the installed layout.
      val (ord, li) = bucketedFactTables(s, dir)
      s.sql(
        s"""SELECT o_orderpriority,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                AS revenue,
              CAST(COUNT(*) AS BIGINT) AS n_items
            FROM $ord JOIN $li ON o_orderkey = l_orderkey
            GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    "dpp_day_counts" -> ((s, dir) => {
      // dynamic partition pruning — the RUNTIME half of partition pruning.
      // The event log is laid out once per slate run as date-partitioned
      // parquet (Sink.writeClustered, memoized + corpus-tagged); the
      // "reprocess these days" dim (top-5 busiest days, broadcastable by
      // construction) is only known at run time, so Catalyst injects a
      // dynamicpruning subquery into the fact scan and 25 of 30 partition
      // dirs are never opened (DppSpec audits the plan + files-read
      // metric). At 100 TB this is the difference between scanning the
      // whole log and scanning the flagged days.
      // events alone (r14 review fix: the whole-dir tag over-invalidated)
      val tag = graft.ops.SlateStore.corpusTag(s, s"$dir/events.parquet")
      val path = graft.ops.SlateStore.scalar(s, s"events_by_day|$dir#$tag") {
        val p = new java.io.File(
          graft.ops.SlateStore.sessionTempRoot(s), s"events_by_day_$tag").toString
        graft.ops.Sink.writeClustered(
          t(s, dir, "events")
            .withColumn("event_date", to_date(col("ts").cast("timestamp"))),
          p, Seq("event_date"), Seq("ts"))
        p
      }
      val fact = s.read.parquet(path)
      // the n > 0 guard is semantically a no-op (counts are >= 1) but it is
      // load-bearing: Catalyst's PartitionPruning rule only plants a
      // dynamicpruning subquery when the dim side carries a selective
      // Filter, and an Aggregate+Limit alone doesn't qualify; n is not the
      // join key, so the guard can't be constraint-propagated into a
      // static fact-side filter (which would bypass the runtime path)
      val dim = t(s, dir, "events")
        .groupBy(to_date(col("ts").cast("timestamp")).as("day"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 0)
        .orderBy(col("n").desc, col("day")).limit(5)
        .select("day")
      fact.join(dim, col("event_date") === col("day"))
        .groupBy("event_date", "event_type")
        .agg(count(lit(1)).as("cnt"))
        .select(date_format(col("event_date"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("cnt"))
        .orderBy("day", "event_type")
    }),

    "snapshot_rollback_diff" -> ((s, dir) => {
      // versioned-sink TIME TRAVEL: the orders table is published twice
      // per slate run (commit 1 = the pre-1995 backfill, commit 2 = the
      // full corpus; retain=2 keeps the superseded version), then the
      // LIVE read and the 1-commit-back read (Sink.readSnapshotAt) diff
      // per status — the rollback/audit query a versioned corpus sink
      // owes its operators: "what did this publish change" answered from
      // immutable pinned version dirs, no second copy of the corpus kept
      // anywhere. Published via the shared timeTravelOrders builder.
      val path = timeTravelOrders(s, dir)
      val live = graft.ops.Sink.readSnapshotAt(s, path, 0)
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n_live"))
      val prev = graft.ops.Sink.readSnapshotAt(s, path, 1)
        .groupBy("o_orderstatus").agg(count(lit(1)).as("__np"))
      live.join(prev, Seq("o_orderstatus"), "left")
        .select(col("o_orderstatus"), col("n_live"),
          coalesce(col("__np"), lit(0L)).as("n_prev"),
          (col("n_live") - coalesce(col("__np"), lit(0L))).as("n_added"))
        .orderBy("o_orderstatus")
    }),

    "sql_snapshot_at_diff" -> ((s, dir) => {
      // the SQL-TEXT face of time travel (VERDICT r15 item 4): the same
      // two-commit versioned table as snapshot_rollback_diff — ONE
      // shared builder (timeTravelOrders), so the slate publishes it
      // once and the two faces can never read version pairs built by
      // different code — diffed purely in raw SQL through the
      // snapshot_at(path, n) table function the extension injects (the
      // asof_native TVF recipe applied to the store). VERSION AS OF
      // semantics with zero DataFrame code.
      val path = timeTravelOrders(s, dir)
      s.sql(
        s"""SELECT o_orderstatus, n_live,
           |       coalesce(n_prev, CAST(0 AS BIGINT)) AS n_prev,
           |       n_live - coalesce(n_prev, CAST(0 AS BIGINT)) AS n_added
           |FROM (SELECT o_orderstatus, count(*) AS n_live
           |      FROM snapshot_at('$path', 0) GROUP BY o_orderstatus) live
           |LEFT JOIN (SELECT o_orderstatus, count(*) AS n_prev
           |           FROM snapshot_at('$path', 1) GROUP BY o_orderstatus) prev
           |USING (o_orderstatus)
           |ORDER BY o_orderstatus""".stripMargin)
    }),

    "segment_pruned_scan" -> ((s, dir) => {
      // PLAN-DERIVED manifest data skipping (VERDICT r16 item 1; the
      // r16 incarnation hand-passed bounds to readSnapshotPruned):
      // orders committed as three year-range segments with per-segment
      // min/max bounds on o_year (statsCols), read back through the
      // ORDINARY readSnapshot + a plain `.filter` — the filter's own
      // pushed predicates are evaluated against the manifest bounds at
      // file-listing time (SegmentPruning), so the non-overlapping
      // segments' files are never opened or planned (Round17StoreSpec
      // audits the scan's numFiles == the overlapping segment's alone,
      // and the same through the snapshot_at SQL TVF). The oracle
      // recomputes the window from the raw corpus, so skipping can
      // never drop a row without failing the compare.
      val path = segmentedOrders(s, dir)
      graft.ops.Sink.readSnapshot(s, path)
        .filter(col("o_year").between(1997, 1998))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Relational.decimalSum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    "changefeed_replay" -> ((s, dir) => {
      // CHANGEFEED read (round 17, VERDICT r16 item 3 — the Delta CDF
      // shape): a three-commit segmented table (backfill ≤1998, append
      // 1999, patch = delete the 1995 keys + append ≥2000), then
      // Sink.readChangesSince(2) replays the last two commits from the
      // MANIFESTS — per-version inserted rows and deleted keys at
      // delta-sized read cost, no snapshot diffing. The aggregate pins
      // both change kinds (row counts and key checksums per type); the
      // oracle recomputes the same sets from the raw corpus, so the
      // feed can neither miss nor invent a change without failing.
      val path = changefeedOrders(s, dir)
      graft.ops.Sink.readChangesSince(s, path, 2)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("key_sum"))
        .orderBy("change_type")
    }),

    "orc_roundtrip_agg" -> ((s, dir) => {
      // source-format coverage beyond parquet/JSON/CSV/JDBC: the corpus
      // exported ONCE per slate run as zstd ORC, read back through the
      // declared schema (no inference job), the filter pushed into the
      // ORC scan (OrcSpec audits PushedFilters). The oracle computes the
      // same aggregate from the parquet original — equality proves the
      // round trip carried every row and type faithfully.
      val src = t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
      val schema = src.schema
      // lineitem alone (r14 review fix: the whole-dir tag over-invalidated)
      val tag = graft.ops.SlateStore.corpusTag(s, s"$dir/lineitem.parquet")
      val path = graft.ops.SlateStore.scalar(s, s"orc_export|$dir#$tag") {
        val p = new java.io.File(
          graft.ops.SlateStore.sessionTempRoot(s), s"orc_lineitem_$tag").toString
        Ingest.writeOrc(src, p); p
      }
      Ingest.readOrc(s, path, schema)
        .filter(col("l_quantity") >= 25)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          Relational.decimalSum(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // ---- §2.7 set ops beyond union, §2.4 grouping sets, §2.11 generator --
    "set_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("cust"))
        .intersect(
          o.filter(col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
            .select(col("o_custkey").as("cust")))
        .orderBy("cust")
    }),

    "set_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey").as("cust"))
        .except(
          o.filter(col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
            .select(col("o_custkey").as("cust")))
        .orderBy("cust")
    }),

    "range_join_pairs" -> ((s, dir) =>
      graft.ops.AsOfJoin.rangeJoinPairs(t(s, dir, "events"), "event_id", "ts",
          bandSeconds = 30)
        .orderBy("id_a", "id_b")),

    "asof_last_purchase" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      graft.ops.AsOfJoin.asOf(clicks, purchases, "user_id", "user_id", "ts", "ts")
        .select(col("event_id"), col("user_id"),
          date_format(col("asof.ts"), "yyyy-MM-dd HH:mm:ss").as("last_purchase_ts"))
        .orderBy("event_id")
    }),

    "asof_native_last_purchase" -> ((s, dir) => {
      // the SAME semantics as asof_last_purchase, executed by the native
      // physical operator (AsOfJoinNativeExec — LogicalPlan + Strategy +
      // SparkPlan via injectPlannerStrategy): per-side key shuffles,
      // per-side sorts, O(1)-state streaming merge; parity with the
      // composed op is spec-asserted, and this query pins it to the
      // DuckDB ASOF JOIN oracle at every SF
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"),
          col("user_id").as("p_user_id"), col("ts").as("p_ts"))
      graft.ops.AsOfJoin.asOfNative(clicks, purchases,
          "user_id", "p_user_id", "ts", "p_ts")
        .select(col("event_id"), col("user_id"),
          date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("last_purchase_ts"))
        .orderBy("event_id")
    }),

    "asof_forward_native_next_purchase" -> ((s, dir) => {
      // the FORWARD direction of the native merge exec (r12): for each
      // click, the user's EARLIEST purchase at-or-after it, no horizon —
      // same per-side exchanges/sorts, cursor direction flipped, equal-ts
      // ties by the composed op's payload-hash rule (parity spec'd).
      // Output carries only the matched ts, so the oracle's MIN subquery
      // is tie-insensitive by construction.
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"),
          col("user_id").as("p_user_id"), col("ts").as("p_ts"))
      graft.ops.AsOfJoin.asOfForwardNative(clicks, purchases,
          "user_id", "p_user_id", "ts", "p_ts")
        .select(col("event_id"), col("user_id"),
          date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("next_purchase_ts"))
        .orderBy("event_id")
    }),

    "asof_next_purchase" -> ((s, dir) => {
      // forward as-of with a horizon: for each click, the FIRST purchase by
      // the same user at-or-after it within 2 days (attribution window) —
      // same one-shuffle union+window shape as asof_last_purchase, sort
      // reversed, tolerance nulls matches beyond the horizon
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      graft.ops.AsOfJoin.asOfForward(clicks, purchases, "user_id", "user_id",
          "ts", "ts", toleranceSeconds = 2L * 24 * 3600)
        .select(col("event_id"), col("user_id"),
          date_format(col("asof.ts"), "yyyy-MM-dd HH:mm:ss").as("next_purchase_ts"))
        .orderBy("event_id")
    }),

    "merge_upsert" -> ((s, dir) => {
      // lakehouse MERGE: a delta derived from post-cut orders upserts the
      // customer snapshot — updates (new balance), deletes (every 17th
      // key), inserts (key-shifted synthetic rows) — one anti join +
      // union, base never shuffles
      val cut = to_timestamp(lit("1999-01-01 00:00:00"))
      val delta = t(s, dir, "orders").filter(col("o_orderdate") >= cut)
        .groupBy(col("o_custkey"))
        .agg(Relational.decimalSum(col("o_totalprice")).cast("string")
          .cast("double").as("__bal"))
      def asRow(keyCol: Column, del: Column) = Seq(
        keyCol.as("c_custkey"),
        concat(lit("upd-"), keyCol).as("c_name"),
        pmod(keyCol, lit(25)).cast("int").as("c_nationkey"),
        col("__bal").as("c_acctbal"),
        lit("UPDATED").as("c_mktsegment"),
        del.as("__delete"))
      val upd = delta.select(asRow(col("o_custkey"),
        pmod(col("o_custkey"), lit(17)) === 0): _*)
      val ins = delta.filter(pmod(col("o_custkey"), lit(7)) === 0)
        .select(asRow(col("o_custkey") + 10000000L, lit(false)): _*)
      Relational.mergeUpsert(t(s, dir, "customer"),
          upd.unionByName(ins), "c_custkey", "__delete")
        .select(col("c_custkey"), col("c_name"),
          col("c_nationkey").cast("long").as("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    "ref_integrity" -> ((s, dir) => {
      // the post-load data contract: orphaned FKs (corruption) and
      // childless dimension rows (coverage) for three relationships
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      Relational.refIntegrity(t(s, dir, "lineitem"), "l_orderkey",
          o, "o_orderkey", "lineitem->orders")
        .union(Relational.refIntegrity(o, "o_custkey",
          c, "c_custkey", "orders->customer"))
        .union(Relational.refIntegrity(t(s, dir, "events"), "user_id",
          c, "c_custkey", "events->customer"))
        .orderBy("relationship")
    }),

    "star_join_revenue" -> ((s, dir) => {
      // classic warehouse star join (TPC-H Q5 shape): fact lineitem⋈orders
      // with four dimension hops (customer, supplier, nation, region) and
      // an exact-decimal revenue rollup per nation. The dimensions
      // broadcast (plan-audited); only the two fact tables shuffle.
      val li = t(s, dir, "lineitem")
      li.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .groupBy("n_name")
        .agg(Relational.decimalSumProduct(
          col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),

    "json_extract_settings" -> ((s, dir) =>
      Ingest.flattenJson(t(s, dir, "events"), "props",
          Seq(("$.k", "k_val", "long"), ("$.missing", "missing_val", "string")))
        .select("event_id", "k_val", "missing_val")
        .orderBy("event_id")),

    "sql_surface_q1" -> ((s, dir) => {
      // the engine's SQL TEXT surface inside the oracled slate: TPC-H
      // Q1's shape issued via spark.sql over registered views — same
      // ANSI statement both engines parse, proving a reference user can
      // bring raw SQL, not just the DataFrame combinators
      Tables.registerViews(s, dir)
      s.sql("""
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
          CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '2000-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")
    }),

    "sql_surface_q2" -> ((s, dir) => {
      // the NATIVE-expression SQL surface: graft's registered Catalyst
      // functions composing in raw SQL text (hashed_shingles here) — a
      // reference user can call the engine's extensions from plain SQL.
      // The query consumes hashes only through DISTINCTNESS (counts), so
      // the DuckDB twin replays it over string shingles exactly.
      Tables.registerViews(s, dir)
      s.sql("""
        WITH s AS (
          SELECT lang, explode(hashed_shingles(text, 3)) AS h
          FROM documents)
        SELECT lang,
          CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_shingles,
          CAST(COUNT(*) AS BIGINT) AS n_shingle_occurrences
        FROM s GROUP BY lang ORDER BY lang""")
    }),

    "sql_surface_q3" -> ((s, dir) => {
      // the WHOLE-OPERATOR SQL surface (VERDICT r11 item 6): the native
      // as-of merge join issued as the asof_native(...) TABLE FUNCTION
      // (injectTableFunction + resolution rule) and the native
      // gram_matrix AGGREGATE, both inside one raw-SQL statement — a
      // reference user reaches the (c)-tier custom plan and the
      // TypedImperativeAggregate from plain SQL text. The as-of arm is
      // consumed through tie-insensitive counts; the gram arm through
      // the exact integer trace — both DuckDB-replayable.
      Tables.registerViews(s, dir)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW v_q3_clicks AS
               SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'""")
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW v_q3_purchases AS
               SELECT user_id AS p_user_id, ts AS p_ts FROM events
               WHERE event_type = 'purchase'""")
      s.sql("""
        WITH j AS (
          SELECT * FROM asof_native('v_q3_clicks', 'v_q3_purchases',
                                    'user_id', 'p_user_id', 'ts', 'p_ts')),
        a AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_clicks,
            CAST(SUM(CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_matched
          FROM j),
        g AS (
          SELECT gm.n AS n_vecs,
            aggregate(gm.cells, CAST(0 AS BIGINT),
              (acc, c) -> acc + (CASE WHEN c.i = c.j THEN c.gram
                                 ELSE CAST(0 AS BIGINT) END)) AS gram_trace
          FROM (SELECT gram_matrix(embedding, 64) AS gm FROM embeddings))
        SELECT a.n_clicks, a.n_matched, g.n_vecs, g.gram_trace
        FROM a CROSS JOIN g""")
    }),

    "contract_violations" -> ((s, dir) =>
      // post-load publish gate: the whole contract in ONE aggregate pass
      // — |rules| output rows, null predicate counts as violation
      Relational.contractViolations(t(s, dir, "orders"), Seq(
          ("orderkey_not_null", col("o_orderkey").isNotNull),
          ("positive_price", col("o_totalprice") > 0),
          ("known_priority", col("o_orderpriority").isin(
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
          ("date_in_range", col("o_orderdate") >= to_timestamp(lit("1990-01-01 00:00:00"))
            && col("o_orderdate") < to_timestamp(lit("2010-01-01 00:00:00")))))
        .orderBy("rule")),

    "delta_encoding_audit" -> ((s, dir) =>
      // layout planning: per-day bit width of sorted event_id deltas vs
      // raw values — integer bin()-length bit math, no libm
      Relational.deltaEncodingAudit(
          t(s, dir, "events")
            .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
              col("event_id")),
          "day", "event_id")
        .orderBy("day")),

    "blocking_suppliers" -> ((s, dir) => {
      // TPC-H Q21 shape re-expressed Spark-first: in multi-supplier
      // orders, the supplier who UNIQUELY shipped last "blocked" the
      // order — EXISTS(another supplier) AND NOT EXISTS(another supplier
      // also at the max) as per-order facts from ONE Window pass, never
      // correlated subqueries; top-20 blockers via TakeOrderedAndProject.
      // Collapse to the (order, supplier) grain FIRST: per-supplier max
      // shipdate per order — then every later step is a plain count, no
      // countDistinct Expand anywhere and the raw lineitems shuffle once.
      // r18 (guide §2.4): the per-order max/nsupp/unique-at-max facts are
      // all full-partition aggregates over the SAME key, so the Window
      // over `os` replaces the old aggregate + join-back + second
      // aggregate + semi-join shape — which re-derived the (order,
      // supplier) grain subtree twice (no cross-branch CSE) and paid two
      // extra exchanges; identical survivors by construction
      val os = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("l_shipdate")).as("__sship"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey"))
      os.withColumn("__maxship", max(col("__sship")).over(w))
        .withColumn("__nsupp", count(lit(1)).over(w))
        .withColumn("__natmax",
          sum(when(col("__sship") === col("__maxship"), 1L).otherwise(0L))
            .over(w))
        .filter(col("__sship") === col("__maxship") &&
          col("__nsupp") >= 2 && col("__natmax") === 1)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).cast("long").as("n_blocked_orders"))
        .orderBy(col("n_blocked_orders").desc, col("l_suppkey").asc)
        .limit(20)
    }),

    "supplier_share" -> ((s, dir) => {
      // TPC-H Q11 shape: suppliers whose exact-cents revenue exceeds
      // 1.05× the AVERAGE supplier share (scale-free cutoff) — the 1-row
      // global aggregate broadcasts (scalar-subquery-free), and the
      // threshold compare stays INTEGER (cents·n_supp·20 > total·21),
      // floats only in the reported share
      val li = t(s, dir, "lineitem")
      val perSupp = li.groupBy(col("l_suppkey"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
          .cast("long")).as("revenue_cents"))
      val total = perSupp.agg(sum(col("revenue_cents")).as("__total"),
        count(lit(1)).as("__nsupp"))
      perSupp.crossJoin(broadcast(total))
        .filter(col("revenue_cents") * col("__nsupp") * 20 > col("__total") * 21)
        .select(col("l_suppkey"), col("revenue_cents"),
          (col("revenue_cents").cast("double")
            / col("__total").cast("double")).as("share"))
        .orderBy(col("revenue_cents").desc, col("l_suppkey").asc)
    }),

    "late_orders_by_priority" -> ((s, dir) => {
      // TPC-H Q4 shape: orders where EXISTS a lineitem shipped > 30 days
      // after the order date, counted per priority — a left-semi join of
      // the order relation against the late-line set (key-only), one agg
      val o = t(s, dir, "orders")
      val late = t(s, dir, "lineitem")
        .join(o.select(col("o_orderkey").as("__ok"), col("o_orderdate")),
          col("l_orderkey") === col("__ok"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .select(col("l_orderkey"))
      o.join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).cast("long").as("n_late_orders"))
        .orderBy("o_orderpriority")
    }),

    // ---- §2.6 sort/limit, §2.5 windows ---------------------------------,

    "explode_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(LlmOps.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc)
        .limit(20)),

    // ---- §3 composed pipeline ------------------------------------------
    "flagship_pipeline" -> ((s, dir) => ZoomJobs.flagship(s, dir)),

  )

  val oracle: Map[String, String] = Map(

    "scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "reindex_columns" ->
      """SELECT c_custkey, c_name, c_mktsegment, CAST(NULL AS VARCHAR) AS c_phone
         FROM customer ORDER BY c_custkey""",

    "filter_eq" ->
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE event_type = 'click' ORDER BY event_id""",

    "filter_date_range" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
         ORDER BY o_orderkey""",

    "distinct_keys" ->
      "SELECT DISTINCT l_orderkey FROM lineitem ORDER BY l_orderkey",

    "anti_join_new_keys" ->
      """SELECT DISTINCT c.c_custkey
         FROM customer c
         LEFT JOIN (SELECT o_custkey FROM orders
                    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00') o
           ON c.c_custkey = o.o_custkey
         WHERE o.o_custkey IS NULL
         ORDER BY c_custkey""",

    "semi_join_active" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",

    "join_enrich" ->
      """SELECT c_custkey, c_name, n_name, r_name
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         ORDER BY c_custkey""",

    "left_join_counts" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
         FROM customer
         LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
                    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00') o
           ON c_custkey = o.o_custkey
         GROUP BY c_custkey
         ORDER BY c_custkey""",

    "full_outer_keys" ->
      """WITH u AS (SELECT DISTINCT o_custkey AS uk FROM orders
                    WHERE o_orderpriority = '1-URGENT'),
            w AS (SELECT DISTINCT o_custkey AS wk FROM orders
                    WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
         SELECT COALESCE(uk, wk) AS cust,
                uk IS NOT NULL AS is_urgent,
                wk IS NOT NULL AS in_window
         FROM u FULL OUTER JOIN w ON uk = wk
         ORDER BY cust""",

    "union_pages" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_orderkey""",

    "add_literal" ->
      """SELECT event_id, user_id, 'zoom' AS source_system FROM events
         ORDER BY event_id""",

    "union_by_name" ->
      """SELECT doc_id, lang, n_chars, CAST(NULL AS VARCHAR) AS source
         FROM documents WHERE lang = 'en'
         UNION ALL
         SELECT doc_id, CAST(NULL AS VARCHAR) AS lang, n_chars, source
         FROM documents WHERE lang <> 'en'
         ORDER BY doc_id""",

    // the oracle IS the plain join: salting must be output-invisible,

    // the oracle IS the plain join: salting must be output-invisible
    "bloom_join" ->
      """WITH dim AS (SELECT c_custkey FROM customer WHERE c_nationkey = 5),
         bits AS (
           SELECT DISTINCT ('0x' || substr(md5('bloom:' || t.j || ':' ||
             CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT % 4096 AS pos
           FROM dim, range(0, 2) t(j)),
         pass AS (
           SELECT * FROM orders
           WHERE (('0x' || substr(md5('bloom:0:' || CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT % 4096)
                   IN (SELECT pos FROM bits)
             AND (('0x' || substr(md5('bloom:1:' || CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT % 4096)
                   IN (SELECT pos FROM bits)),
         mtch AS (SELECT * FROM orders WHERE o_custkey IN (SELECT c_custkey FROM dim)),
         joined AS (SELECT o_totalprice FROM pass JOIN dim ON o_custkey = c_custkey)
         SELECT
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_fact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pass) AS n_pass,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM mtch) AS n_match,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pass) -
             (SELECT CAST(COUNT(*) AS BIGINT) FROM mtch) AS false_pass,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM joined) AS n_joined,
           (SELECT CAST(SUM(FLOOR(o_totalprice)) AS BIGINT) FROM joined) AS rev_floor""",

    "salted_join_counts" ->
      """SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY c_nationkey ORDER BY c_nationkey""",

    "dpp_day_counts" ->
      """WITH top5 AS (
           SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
           FROM events GROUP BY 1
           ORDER BY n DESC, day LIMIT 5)
         SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
            CAST(COUNT(*) AS BIGINT) AS cnt
         FROM events JOIN top5 ON CAST(ts AS DATE) = top5.day
         GROUP BY 1, 2 ORDER BY day, event_type""",

    // live = the full orders table, prev = the pre-1995 backfill commit:
    // the oracle recomputes both states from the parquet original, so
    // equality proves the pinned version dirs carried exactly those rows
    "snapshot_rollback_diff" ->
      """WITH live AS (
           SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_live
           FROM orders GROUP BY 1),
         prev AS (
           SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_prev
           FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
           GROUP BY 1)
         SELECT live.o_orderstatus, n_live,
            COALESCE(n_prev, 0) AS n_prev,
            n_live - COALESCE(n_prev, 0) AS n_added
         FROM live LEFT JOIN prev USING (o_orderstatus)
         ORDER BY o_orderstatus""",

    // the SQL-text face reads the same two committed versions through the
    // snapshot_at TVF; the oracle recomputes both states from the parquet
    // original — equality proves time travel is exact from raw SQL too
    "sql_snapshot_at_diff" ->
      """WITH live AS (
           SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_live
           FROM orders GROUP BY 1),
         prev AS (
           SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_prev
           FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
           GROUP BY 1)
         SELECT live.o_orderstatus, n_live,
            COALESCE(n_prev, 0) AS n_prev,
            n_live - COALESCE(n_prev, 0) AS n_added
         FROM live LEFT JOIN prev USING (o_orderstatus)
         ORDER BY o_orderstatus""",

    // the changefeed's last-two-commit replay must carry exactly the rows
    // those commits appended (years >= 1999) and the keys they deleted
    // (the 1995 orderkeys) — recomputed here from the raw corpus, so the
    // manifest-derived feed can neither miss nor invent a change
    "changefeed_replay" ->
      """SELECT * FROM (
           SELECT 'delete' AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
           FROM orders WHERE year(o_orderdate) = 1995
           UNION ALL
           SELECT 'insert' AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
                  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
           FROM orders WHERE year(o_orderdate) >= 1999)
         ORDER BY change_type""",

    // the pruned segmented read must equal the raw-corpus window: manifest
    // bounds may only SKIP non-overlapping segments, never drop rows
    "segment_pruned_scan" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         WHERE year(o_orderdate) BETWEEN 1997 AND 1998
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "orc_roundtrip_agg" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem WHERE l_quantity >= 25
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    "bucketed_join_revenue" ->
      """SELECT o_orderpriority,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
            CAST(COUNT(*) AS BIGINT) AS n_items
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // the SQL-text face reads the same bucketed layout; the oracle is the
    // identical plain join — layout must never change results
    "sql_bucketed_join_revenue" ->
      """SELECT o_orderpriority,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
            CAST(COUNT(*) AS BIGINT) AS n_items
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // same transitive closure as dedup_clusters; survivor = argmax(n_chars)
    // per cluster, ties to the smaller id,

    "set_intersect" ->
      """SELECT o_custkey AS cust FROM orders WHERE o_orderpriority = '1-URGENT'
         INTERSECT
         SELECT o_custkey AS cust FROM orders
         WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
         ORDER BY cust""",

    "set_except" ->
      """SELECT o_custkey AS cust FROM orders WHERE o_orderpriority = '1-URGENT'
         EXCEPT
         SELECT o_custkey AS cust FROM orders
         WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
         ORDER BY cust""",

    "range_join_pairs" ->
      """SELECT a.event_id AS id_a, b.event_id AS id_b
         FROM events a JOIN events b
           ON a.event_id < b.event_id
          AND abs(CAST(floor(epoch(a.ts)) AS BIGINT)
                - CAST(floor(epoch(b.ts)) AS BIGINT)) < 30
         ORDER BY id_a, id_b""",

    "asof_last_purchase" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
            p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
         SELECT c.event_id, c.user_id,
            strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS last_purchase_ts
         FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
         ORDER BY c.event_id""",

    // identical to the asof_last_purchase twin: the native exec must land
    // on the same rows DuckDB's ASOF LEFT JOIN produces
    "asof_native_last_purchase" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
            p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
         SELECT c.event_id, c.user_id,
            strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS last_purchase_ts
         FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
         ORDER BY c.event_id""",

    // forward native merge: earliest at-or-after purchase, no horizon —
    // the MIN(ts >= click ts) subquery is tie-insensitive
    "asof_forward_native_next_purchase" ->
      """SELECT c.event_id, c.user_id,
           strftime((SELECT min(p.ts) FROM events p
                     WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
                       AND p.ts >= c.ts),
                    '%Y-%m-%d %H:%M:%S') AS next_purchase_ts
         FROM events c WHERE c.event_type = 'click'
         ORDER BY c.event_id""",

    "asof_next_purchase" ->
      """SELECT c.event_id, c.user_id,
           strftime((SELECT min(p.ts) FROM events p
                     WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
                       AND p.ts >= c.ts
                       AND p.ts <= c.ts + INTERVAL 2 DAY),
                    '%Y-%m-%d %H:%M:%S') AS next_purchase_ts
         FROM events c WHERE c.event_type = 'click'
         ORDER BY c.event_id""",

    "merge_upsert" ->
      """WITH delta AS (
           SELECT o_custkey AS k,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
               AS DOUBLE) AS bal
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
           GROUP BY o_custkey),
         upd AS (
           SELECT k AS c_custkey, 'upd-' || k AS c_name,
             CAST(k % 25 AS INT) AS c_nationkey, bal AS c_acctbal,
             'UPDATED' AS c_mktsegment, (k % 17 = 0) AS del
           FROM delta),
         ins AS (
           SELECT k + 10000000 AS c_custkey, 'upd-' || (k + 10000000) AS c_name,
             CAST((k + 10000000) % 25 AS INT) AS c_nationkey, bal AS c_acctbal,
             'UPDATED' AS c_mktsegment, false AS del
           FROM delta WHERE k % 7 = 0),
         allupd AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
         SELECT c.c_custkey, c.c_name, CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
           c.c_acctbal, c.c_mktsegment
         FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM allupd u WHERE u.c_custkey = c.c_custkey)
         UNION ALL
         SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey,
           c_acctbal, c_mktsegment
         FROM allupd WHERE NOT del
         ORDER BY c_custkey""",

    "ref_integrity" ->
      """WITH rel AS (
           SELECT 'lineitem->orders' AS relationship,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphan_child,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_parent,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS n_childless_parent
           UNION ALL
           SELECT 'orders->customer',
             (SELECT COUNT(*) FROM orders),
             (SELECT COUNT(*) FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
             (SELECT COUNT(*) FROM customer),
             (SELECT COUNT(*) FROM customer c
               WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
           UNION ALL
           SELECT 'events->customer',
             (SELECT COUNT(*) FROM events),
             (SELECT COUNT(*) FROM events e
               WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)),
             (SELECT COUNT(*) FROM customer),
             (SELECT COUNT(*) FROM customer c
               WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)))
         SELECT * FROM rel ORDER BY relationship""",

    // the SAME ANSI statement — the oracle IS the query text
    "sql_surface_q1" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
           CAST(COUNT(*) AS BIGINT) AS n_rows
         FROM lineitem
         WHERE l_shipdate < TIMESTAMP '2000-09-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    // the native hashed_shingles consumed through distinctness only —
    // DuckDB replays with the string shingle family (per-doc distinct,
    // split-replicating tokenizer), counts agree collision-free
    "sql_surface_q2" ->
      """WITH d AS (
           SELECT lang,
             list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(lower(trim(text)), '\s+')) - 3, 0) + 2),
               i -> array_to_string(list_slice(string_split_regex(lower(trim(text)), '\s+'), i, i + 2), ' '))) AS sh
           FROM documents),
         s AS (SELECT lang, unnest(sh) AS h FROM d)
         SELECT lang,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_shingles,
           CAST(COUNT(*) AS BIGINT) AS n_shingle_occurrences
         FROM s GROUP BY lang ORDER BY lang""",

    // the asof_native TVF arm replayed by DuckDB's ASOF LEFT JOIN
    // (tie-insensitive counts), the gram_matrix arm by the exact
    // quantized trace Σ_docs Σ_d floor(v·1000)² (same milli-unit
    // quantization, 64-length/null guards mirror the aggregate's skips)
    "sql_surface_q3" ->
      """WITH c AS (
           SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'click'),
         p AS (
           SELECT user_id AS p_user_id, ts AS p_ts FROM events
           WHERE event_type = 'purchase'),
         j AS (
           SELECT c.event_id, p.p_ts
           FROM c ASOF LEFT JOIN p
             ON c.user_id = p.p_user_id AND c.ts >= p.p_ts),
         a AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_clicks,
             CAST(SUM(CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_matched
           FROM j),
         g AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(SUM(list_reduce(list_transform(embedding,
                 v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)
                   * CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)),
               (x, y) -> x + y)) AS BIGINT) AS gram_trace
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) = 64
             AND len(list_filter(embedding, v -> v IS NULL)) = 0)
         SELECT a.n_clicks, a.n_matched, g.n_vecs, g.gram_trace
         FROM a CROSS JOIN g""",

    "contract_violations" ->
      """WITH m AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN NOT COALESCE(o_orderkey IS NOT NULL, false)
               THEN 1 ELSE 0 END) AS BIGINT) AS v1,
             CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, false)
               THEN 1 ELSE 0 END) AS BIGINT) AS v2,
             CAST(SUM(CASE WHEN NOT COALESCE(o_orderpriority IN
               ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'),
               false) THEN 1 ELSE 0 END) AS BIGINT) AS v3,
             CAST(SUM(CASE WHEN NOT COALESCE(
               o_orderdate >= TIMESTAMP '1990-01-01 00:00:00'
               AND o_orderdate < TIMESTAMP '2010-01-01 00:00:00', false)
               THEN 1 ELSE 0 END) AS BIGINT) AS v4
           FROM orders),
         r AS (
           SELECT 'orderkey_not_null' AS rule, v1 AS nv, total FROM m
           UNION ALL SELECT 'positive_price', v2, total FROM m
           UNION ALL SELECT 'known_priority', v3, total FROM m
           UNION ALL SELECT 'date_in_range', v4, total FROM m)
         SELECT rule, nv AS n_violations, total AS n_rows,
           CAST(nv AS DOUBLE) / CAST(total AS DOUBLE) AS violation_rate,
           nv = 0 AS passed
         FROM r ORDER BY rule""",

    // bin()-length bit widths of per-day sorted deltas vs raw
    "delta_encoding_audit" ->
      """WITH b AS (
           SELECT strftime(ts, '%Y-%m-%d') AS day, event_id,
             abs(event_id - lag(event_id) OVER (
               PARTITION BY strftime(ts, '%Y-%m-%d')
               ORDER BY event_id)) AS d
           FROM events),
         a AS (
           SELECT day, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(MAX(event_id) AS BIGINT) AS maxraw,
             CAST(COALESCE(MAX(d), 0) AS BIGINT) AS maxd
           FROM b GROUP BY 1)
         SELECT day, n_rows,
           CAST(length(bin(maxraw)) AS BIGINT) AS raw_bits,
           CAST(length(bin(maxd)) AS BIGINT) AS delta_bits,
           1.0 - CAST(length(bin(maxd)) AS DOUBLE)
             / CAST(length(bin(maxraw)) AS DOUBLE) AS bits_saved_ratio
         FROM a ORDER BY day""",

    // unique-last-shipper replay: two per-order aggregates, semi join, top-k
    "blocking_suppliers" ->
      """WITH li AS (
           SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem),
         po AS (
           SELECT l_orderkey, MAX(l_shipdate) AS maxship,
             COUNT(DISTINCT l_suppkey) AS nsupp
           FROM li GROUP BY 1),
         last AS (
           SELECT li.l_orderkey, li.l_suppkey
           FROM li JOIN po USING (l_orderkey)
           WHERE li.l_shipdate = po.maxship AND po.nsupp >= 2),
         uniq AS (
           SELECT l_orderkey FROM last
           GROUP BY 1 HAVING COUNT(DISTINCT l_suppkey) = 1),
         blocked AS (
           SELECT DISTINCT l.l_orderkey, l.l_suppkey
           FROM last l JOIN uniq USING (l_orderkey))
         SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_blocked_orders
         FROM blocked GROUP BY 1
         ORDER BY n_blocked_orders DESC, l_suppkey LIMIT 20""",

    // integer-threshold share replay: cents·n_supp·20 > total·21
    "supplier_share" ->
      """WITH ps AS (
           SELECT l_suppkey,
             CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
               AS BIGINT)) AS BIGINT) AS revenue_cents
           FROM lineitem GROUP BY 1),
         tot AS (SELECT CAST(SUM(revenue_cents) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS ns FROM ps)
         SELECT l_suppkey, revenue_cents,
           CAST(revenue_cents AS DOUBLE) / CAST(t AS DOUBLE) AS share
         FROM ps, tot
         WHERE revenue_cents * ns * 20 > t * 21
         ORDER BY revenue_cents DESC, l_suppkey""",

    "late_orders_by_priority" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_late_orders
         FROM orders o
         WHERE EXISTS (
           SELECT 1 FROM lineitem l
           WHERE l.l_orderkey = o.o_orderkey
             AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
         GROUP BY 1 ORDER BY o_orderpriority""",

    "star_join_revenue" ->
      """SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name""",

    // integer-exact PageRank unrolled: p0 → p1 → p2 → p3 chained CTEs
    // replay Graph.pageRank's div/floor arithmetic digit-for-digit,

    "json_extract_settings" ->
      """SELECT event_id,
            CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
            json_extract_string(props, '$.missing') AS missing_val
         FROM events ORDER BY event_id""",

    "explode_tokens" ->
      """SELECT token, COUNT(*) AS cnt FROM (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
           FROM documents) u
         WHERE token <> ''
         GROUP BY token
         ORDER BY cnt DESC, token LIMIT 20""",

    "flagship_pipeline" ->
      """SELECT r_name, n_name, COUNT(*) AS new_customers
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c_custkey
                             AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                             AND o.o_orderdate <  TIMESTAMP '1996-01-01 00:00:00')
         GROUP BY r_name, n_name
         ORDER BY r_name, n_name""",

  )
}
