package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.ext._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 gets an entry in `queries`
  * (name → (session, sfDir) → DataFrame) and, when SQL-expressible, a
  * matching DuckDB oracle in `oracleSql`. Column names are aliased
  * identically on both sides (the driver sorts columns by name before
  * hashing). Aggregates over doubles are rounded to 2 decimals on both
  * sides so summation-order noise cannot flip the hash.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ ExtQueries.queries ++ StreamQueries.queries ++
      RelationalQueries.queries ++ Round2Queries.queries ++
      Round4Queries.queries ++ Round6Queries.queries ++ Round7Queries.queries ++
      Round10Queries.queries ++ Round11Queries.queries ++
      Round12Queries.queries ++ Round13Queries.queries ++
      Round14Queries.queries ++ Round15Queries.queries ++
      Round16Queries.queries ++ Round17Queries.queries ++
      Round18Queries.queries ++ Round19Queries.queries ++
      Round20Queries.queries ++ WarehouseQueries.queries

  def oracleSql: Map[String, String] =
    CoreQueries.oracleSql ++ ExtQueries.oracleSql ++ StreamQueries.oracleSql ++
      RelationalQueries.oracleSql ++ Round2Queries.oracleSql ++
      Round4Queries.oracleSql ++ Round6Queries.oracleSql ++ Round7Queries.oracleSql ++
      Round10Queries.oracleSql ++ Round11Queries.oracleSql ++
      Round12Queries.oracleSql ++ Round13Queries.oracleSql ++
      Round14Queries.oracleSql ++ Round15Queries.oracleSql ++
      Round16Queries.oracleSql ++ Round17Queries.oracleSql ++
      Round18Queries.oracleSql ++ Round19Queries.oracleSql ++
      Round20Queries.oracleSql ++ WarehouseQueries.oracleSql
}

/** Event-window and multimodal queries (SURVEY.md §2b X5/X6). Windowed
  * aggregations run in batch mode here — identical code paths serve the
  * streaming variants (see graft.stream.EventWindows) — because batch
  * results are what DuckDB can oracle-check.
  */
object StreamQueries {
  import graft.stream.EventWindows

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // X6: tumbling window aggregation (epoch-aligned, oracle: time_bucket).
    "events_windowed" -> { (s, dir) =>
      EventWindows.tumbling(Tables.events(s, dir), "1 hour")
    },
    // X6: session windows per user, 30-minute inactivity gap.
    "events_sessions" -> { (s, dir) =>
      EventWindows.sessions(Tables.events(s, dir), "30 minutes")
    },
    // X6: sliding windows (1h window, 30m slide → every event in 2 windows).
    "events_sliding" -> { (s, dir) =>
      EventWindows.sliding(Tables.events(s, dir), "1 hour", "30 minutes")
    },
    // X1 × X6: streaming ingest dedup's batch twin (round-4 ask #5).
    // dropDuplicatesWithinWatermark keeps an ARBITRARY row per key in
    // batch (and the first-arrived row in streaming), so the query
    // projects exactly the dedup key — the surviving KEY SET is the
    // deterministic, engine-independent part of the semantics: one row
    // per distinct key iff the dedup dropped every repeat and nothing
    // else. The streaming form of the same function is exercised in
    // EventWindowsSpec ("streaming dedup drops repeated keys").
    "events_dedup" -> { (s, dir) =>
      EventWindows.dedupStream(Tables.events(s, dir),
          Seq("user_id", "event_type"), "1 hour")
        .select(col("user_id"), col("event_type"))
    },
    // X5: binary media column plumbing — byte length + frame count stay
    // in whole-stage codegen.
    "multimodal_stats" -> { (s, dir) =>
      Multimodal.mediaStats(Multimodal.withSyntheticMedia(Tables.documents(s, dir)))
    },
    // X5: REAL-format decode (round-6 ask #3) — synthesize valid
    // RIFF/WAVE PCM bytes from the text deterministically (codegen'd hex
    // assembly), deliberately truncate every 97th file to 11 bytes (the
    // malformed-input path a real pipeline hits first), then parse the
    // actual chunk structure in mapPartitions: magic tags, LE sizes,
    // word-aligned chunk walk, truncation checks, signed 16-bit sample
    // extraction. Header fields and integer sample aggregates are
    // bit-exact functions of the ASCII text, so the oracle recomputes
    // them all in SQL — including which files are invalid.
    "multimodal_decode" -> { (s, dir) =>
      val wav = Multimodal.withSyntheticWav(Tables.documents(s, dir))
        .withColumn("media",
          when(col("doc_id") % 97 === 0, substring(col("media"), 1, 11))
            .otherwise(col("media")))
      Multimodal.decodeWav(s, wav).toDF()
    }
  )

  def oracleSql: Map[String, String] = Map(
    "events_windowed" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        |       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "events_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |numbered AS (
        |  SELECT user_id, ts, value,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked)
        |SELECT min(ts) AS session_start, user_id,
        |       count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM numbered GROUP BY user_id, session_id""".stripMargin,
    "events_sliding" ->
      """SELECT time_bucket(INTERVAL '30 minutes', ts)
        |         - INTERVAL '30 minutes' * k.k AS window_start,
        |       event_type, count(*) AS n_events
        |FROM events CROSS JOIN (VALUES (0), (1)) AS k(k)
        |GROUP BY 1, 2""".stripMargin,
    // the dedup survivors' key set = the distinct keys (exactly one row
    // each; a dropped key or a surviving duplicate both fail the compare)
    "events_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "multimodal_stats" ->
      """SELECT doc_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |            ELSE 'video' END AS kind,
        |       octet_length(encode(text)) AS media_len,
        |       CAST(ceil(octet_length(encode(text)) / 256.0) AS INT) AS n_frames
        |FROM documents""".stripMargin,
    // The WAV synthesis maps char i to sample ascii·256 − 32768, so the
    // parse output is pure integer arithmetic on the ASCII codes:
    // sum = 256·Σascii − 32768·n, min/max from the char extremes; the
    // header fields are the synthesis constants; every 97th doc is
    // truncated → the invalid row with zeroed fields.
    "multimodal_decode" ->
      """WITH d AS (
        |  SELECT doc_id, (doc_id % 97 != 0) AS ok,
        |         CAST(length(text) AS BIGINT) AS n,
        |         list_transform(range(length(text)),
        |                        i -> ascii(text[CAST(i + 1 AS INT)])) AS a
        |  FROM documents)
        |SELECT doc_id, ok AS valid,
        |       CAST(CASE WHEN ok THEN 1 ELSE 0 END AS INT) AS audio_format,
        |       CAST(CASE WHEN ok THEN 1 ELSE 0 END AS INT) AS n_channels,
        |       CAST(CASE WHEN ok THEN 8000 ELSE 0 END AS BIGINT) AS sample_rate,
        |       CAST(CASE WHEN ok THEN 16 ELSE 0 END AS INT) AS bits_per_sample,
        |       CASE WHEN ok THEN n ELSE 0 END AS n_samples,
        |       CAST(CASE WHEN ok AND n > 0
        |                 THEN 256 * list_sum(a) - 32768 * n
        |                 ELSE 0 END AS BIGINT) AS sum_sample,
        |       CAST(CASE WHEN ok AND n > 0
        |                 THEN 256 * list_min(a) - 32768
        |                 ELSE 0 END AS BIGINT) AS min_sample,
        |       CAST(CASE WHEN ok AND n > 0
        |                 THEN 256 * list_max(a) - 32768
        |                 ELSE 0 END AS BIGINT) AS max_sample
        |FROM d""".stripMargin
  )
}

/** Core relational operators (SURVEY.md §2a) exposed as driver queries. */
object CoreQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A2: per-partition row count — one grouped agg, not one query per
    // partition like the reference (verizon_automation_script.sh:111-122).
    "rowcount_by_partition" -> { (s, dir) =>
      PartitionCounts.perPartition(Tables.lineitem(s, dir), "lineitem", Seq("l_returnflag"))
        .withColumnRenamed("table", "table_name")
        .withColumnRenamed("partition", "partition_spec")
    },
    // A1: whole-table counts for the full fixture set, one unioned plan.
    "rowcount_total" -> { (s, dir) =>
      PartitionCounts.forTables(s, dir,
        Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
          .map(_ -> Seq.empty[String]))
        .withColumnRenamed("table", "table_name")
        .withColumnRenamed("partition", "partition_spec")
    },
    // Flagship: TPC-H Q1-style pricing summary (A1 generalized beyond the
    // reference's count(*)-only surface).
    "q1_agg" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
    // J1/J2: full reconciliation report — source vs deterministically
    // perturbed target (the 'R' partition loses every 97th order's rows),
    // one Reconcile.cells grouping over both sides' count records.
    "reconcile_report" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val src = PartitionCounts.perPartition(li, "lineitem", Seq("l_returnflag"))
      val tgt = PartitionCounts.perPartition(perturbed(li), "lineitem", Seq("l_returnflag"))
      Reconcile.counts(src, tgt)
        .withColumnRenamed("table", "table_name")
        .withColumnRenamed("partition", "partition_spec")
    },
    // J1: matched subset of the same report.
    "reconcile_matched" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val src = PartitionCounts.perPartition(li, "lineitem", Seq("l_returnflag"))
      val tgt = PartitionCounts.perPartition(perturbed(li), "lineitem", Seq("l_returnflag"))
      Reconcile.matched(Reconcile.counts(src, tgt))
        .withColumnRenamed("table", "table_name")
        .withColumnRenamed("partition", "partition_spec")
    },
    // J1/J2 at WAREHOUSE width (round-4 ask #7): the reference's UC#1
    // loops six tables (configuration.properties:9-15); here all eight
    // fixture tables reconcile in ONE plan with ONE Reconcile.cells
    // grouping. The deterministic perturbations exercise all four
    // statuses: lineitem's 'R' partition loses every 97th order
    // (mismatched), orders' 'F' loses every 101st order (mismatched) and
    // its 'P' partition entirely (missing_in_target), the source side
    // drops the events 'error' partition (missing_in_source); everything
    // else matches. Each partitioned table is scanned once: its rows
    // carry both the source's and the target's keep predicate, so one
    // scan feeds both sides, and are counted per (value, src keep, tgt
    // keep) before the spec is rendered — rendering it per row costs
    // more than that small grouping. Every table then enters as count
    // records (n = cnt), the five untouched ones as their footer-served
    // count on both sides.
    "reconcile_warehouse" -> { (s, dir) =>
      val whole = Seq("region", "nation", "customer", "supplier", "part").map { t =>
        Reconcile.weighted(Tables.load(s, dir, t).agg(count(lit(1)).as("cnt")),
          Seq(lit(t).as("table"), lit(null).cast("string").as("partition")),
          lit(true), lit(true), col("cnt"))
      }
      val partitioned = Seq(
        ("lineitem", Tables.lineitem(s, dir), "l_returnflag", lit(true),
          !(col("l_returnflag") === "R" && col("l_orderkey") % 97 === 0)),
        ("orders", Tables.orders(s, dir), "o_orderstatus", lit(true),
          !(col("o_orderstatus") === "F" && col("o_orderkey") % 101 === 0) &&
            col("o_orderstatus") =!= "P"),
        ("events", Tables.events(s, dir), "event_type",
          col("event_type") =!= "error", lit(true))
      ).map { case (t, df, partCol, inSrc, inTgt) =>
        val byValue = df.groupBy(Tables.column(partCol), inSrc.as("in_src"), inTgt.as("in_tgt"))
          .agg(count(lit(1)).as("cnt"))
        Reconcile.weighted(byValue,
          Seq(lit(t).as("table"), PartitionCounts.spec(Seq(partCol)).as("partition")),
          col("in_src"), col("in_tgt"), col("cnt"))
      }
      Reconcile.cells((whole ++ partitioned).reduce(_ union _), Seq("table", "partition"))
        .select(col("table").as("table_name"),
          col("partition").as("partition_spec"),
          col("src_cnt"), col("tgt_cnt"),
          Reconcile.status(col("src_cnt"), col("tgt_cnt")).as("status"))
    },
    // A3: per-partition integrity check via order-insensitive digests
    // (count + bit_xor of row hashes); the digest columns themselves are
    // engine-internal, only the consistent verdict is exposed.
    "integrity_by_partition" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      Fingerprint.compare(li, perturbed(li), Seq("l_returnflag"))
    },
    // L1: deterministic sample — LIMIT n over a total order on all
    // columns (TakeOrdered: per-partition top-N, only n rows shuffled).
    "sample_limit" -> { (s, dir) =>
      Sample.limitN(Tables.lineitem(s, dir), 10)
    },
    // S4/P1/T7: compare_tables.sh — split pipe-delimited lines into 3
    // fields, re-project space-separated; short rows give empty fields.
    "delim_scan_project" -> { (s, dir) =>
      val n = Tables.nation(s, dir)
      val lines = n.select(concat_ws("|",
          col("n_name"), col("n_nationkey").cast("string"), col("n_regionkey").cast("string"))
        .as("line"))
        .unionByName(n.select(col("n_name").as("line"))) // short rows: fields 2,3 missing
      Delim.scanAndProject(lines, "line")
    },
    // K2 roundtrip: the reconciliation report is WRITTEN as a header CSV
    // (the reference's TableMismatchedData/MatchedData sink,
    // verizon_automation_script.sh:170-182), read back from the CSV
    // bytes, and the read-back rows are what the oracle checks — the
    // sink+source path is driver-visible, not just spec-covered.
    "reports_roundtrip" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val src = PartitionCounts.perPartition(li, "lineitem", Seq("l_returnflag"))
      val tgt = PartitionCounts.perPartition(perturbed(li), "lineitem", Seq("l_returnflag"))
      val report = Reconcile.counts(src, tgt)
      val out = scratchDir("reports_roundtrip")
      Reports.writeCsv(report, s"$out/report")
      s.read.option("header", "true")
        .schema("table STRING, partition STRING, src_cnt BIGINT, tgt_cnt BIGINT, status STRING")
        .csv(s"$out/report")
        .select(col("table").as("table_name"), col("partition").as("partition_spec"),
          col("src_cnt"), col("tgt_cnt"), col("status"))
    },
    // K3 roundtrip: the sampled export sink (INSERT OVERWRITE LOCAL
    // DIRECTORY ... LIMIT n, verizon_automation_script.sh:219-233) —
    // deterministic 10-row sample written as CSV, read back with the
    // table's schema, checked against the same sample computed in SQL.
    "sampled_export_roundtrip" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val out = scratchDir("sampled_export_roundtrip")
      Reports.sampledExport(li, s"$out/lineitem", 10)
      s.read.option("header", "true").schema(li.schema).csv(s"$out/lineitem")
    },
    // K3 in a second wire format: the same deterministic sample written
    // as JSON lines and read back with the table schema (timestamps
    // roundtrip as ISO strings under the fixed UTC session timezone).
    "json_export_roundtrip" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val out = scratchDir("json_export_roundtrip")
      Sample.limitN(li, 10).write.mode("overwrite").json(s"$out/lineitem")
      s.read.schema(li.schema).json(s"$out/lineitem")
    },
    // K3 in a third wire format: ORC — the other columnar format a
    // warehouse migration encounters (typed, splittable, predicate-
    // pushdown-capable like parquet; Spark's built-in source). Same
    // deterministic sample, same lossless-roundtrip oracle.
    "orc_export_roundtrip" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val out = scratchDir("orc_export_roundtrip")
      Sample.limitN(li, 10).write.mode("overwrite").orc(s"$out/lineitem")
      s.read.schema(li.schema).orc(s"$out/lineitem")
    },
    // The reference's native table layout end-to-end: WRITE a
    // directory-partitioned table (partitionBy, the Hive layout), read
    // it back, and aggregate ONE partition — the partition predicate
    // resolves against directory metadata, so only that partition's
    // files are ever opened (PlanAuditSpec asserts the PartitionFilters
    // mechanics; this query puts the whole sink→prune→aggregate path
    // under the DuckDB oracle).
    "partitioned_write_scan" -> { (s, dir) =>
      val out = scratchDir("partitioned_write_scan")
      Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(s"$out/events")
      s.read.parquet(s"$out/events")
        .filter(col("event_type") === "click")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_clicks"),
          countDistinct(col("user_id")).as("n_users"))
    }
  )

  /** Deterministic target-side perturbation for reconcile/integrity
    * demos: drop rows of every 97th order within the 'R' return flag.
    * SQL-expressible so the same relation is reproducible in DuckDB.
    */
  private def perturbed(li: DataFrame): DataFrame =
    li.filter(!(col("l_returnflag") === "R" && col("l_orderkey") % 97 === 0))

  /** Fixed per-query scratch dir for the sink-roundtrip queries. A fresh
    * createTempDirectory per invocation accumulated unboundedly (these
    * queries run in the bench warm pass, measured pass, verify, AND plan
    * inspection — the writes execute eagerly at DataFrame-construction
    * time); a fixed path + SaveMode.Overwrite caps the footprint at one
    * copy per query. The root is USER-scoped: on a shared /tmp a fixed
    * unqualified path could be pre-created (and symlinked) by another
    * user, intercepting roundtrip outputs. A per-JVM random root would
    * close the remaining same-user race between concurrent harness
    * processes, but would also reintroduce unbounded accumulation across
    * runs — the harnesses run sequentially, so user-scoping is the
    * balance point. NOTE the eager-write side effect stands: "planning"
    * a roundtrip query performs I/O by design (the sink is the thing
    * under test).
    */
  private[graft] def scratchDir(name: String): String =
    java.nio.file.Paths.get(scratchRoot,
      "graft_scratch-" + sys.props.getOrElse("user.name", "anon"),
      name).toString

  /** Scratch root: `GRAFT_SCRATCH_ROOT` env override, else /dev/shm when
    * it is a writable tmpfs, else java.io.tmpdir. The tmpfs preference is
    * a MEASUREMENT fix, not an engine one: the roundtrip/export queries
    * are scratch-write-bound at fixture scale, and on a disk-backed /tmp
    * their bench times absorb whatever else the box is writing (round-10
    * driver bench showed 0.4 s → 3.9 s phantom regressions on
    * `sample_limit` from exactly that). Footprint stays capped at one
    * copy per query (fixed paths + overwrite), well under tmpfs size.
    */
  private lazy val scratchRoot: String =
    sys.env.get("GRAFT_SCRATCH_ROOT").orElse {
      Some("/dev/shm").filter(p => new java.io.File(p).canWrite)
    }.getOrElse(sys.props.getOrElse("java.io.tmpdir", "/tmp"))

  def oracleSql: Map[String, String] = Map(
    "rowcount_by_partition" ->
      """SELECT 'lineitem' AS table_name,
        |       'l_returnflag=' || l_returnflag AS partition_spec,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "rowcount_total" ->
      """SELECT * FROM (
        |  SELECT 'region' AS table_name, NULL AS partition_spec, count(*) AS cnt FROM region
        |  UNION ALL SELECT 'nation', NULL, count(*) FROM nation
        |  UNION ALL SELECT 'customer', NULL, count(*) FROM customer
        |  UNION ALL SELECT 'supplier', NULL, count(*) FROM supplier
        |  UNION ALL SELECT 'part', NULL, count(*) FROM part
        |  UNION ALL SELECT 'orders', NULL, count(*) FROM orders
        |  UNION ALL SELECT 'lineitem', NULL, count(*) FROM lineitem)""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "reconcile_report" ->
      s"""WITH src AS (SELECT 'lineitem' AS table_name,
         |                    'l_returnflag=' || l_returnflag AS partition_spec,
         |                    count(*) AS src_cnt FROM lineitem GROUP BY 1, 2),
         |     tgt AS (SELECT 'lineitem' AS table_name,
         |                    'l_returnflag=' || l_returnflag AS partition_spec,
         |                    count(*) AS tgt_cnt FROM lineitem
         |             WHERE NOT (l_returnflag = 'R' AND l_orderkey % 97 = 0)
         |             GROUP BY 1, 2)
         |SELECT coalesce(s.table_name, t.table_name) AS table_name,
         |       coalesce(s.partition_spec, t.partition_spec) AS partition_spec,
         |       s.src_cnt, t.tgt_cnt,
         |       CASE WHEN s.src_cnt IS NULL THEN 'missing_in_source'
         |            WHEN t.tgt_cnt IS NULL THEN 'missing_in_target'
         |            WHEN s.src_cnt = t.tgt_cnt THEN 'matched'
         |            ELSE 'mismatched' END AS status
         |FROM src s FULL JOIN tgt t
         |  ON s.table_name = t.table_name
         | AND s.partition_spec IS NOT DISTINCT FROM t.partition_spec""".stripMargin,
    "reconcile_matched" ->
      """WITH src AS (SELECT 'l_returnflag=' || l_returnflag AS partition_spec,
        |                    count(*) AS cnt FROM lineitem GROUP BY 1),
        |     tgt AS (SELECT 'l_returnflag=' || l_returnflag AS partition_spec,
        |                    count(*) AS cnt FROM lineitem
        |             WHERE NOT (l_returnflag = 'R' AND l_orderkey % 97 = 0)
        |             GROUP BY 1)
        |SELECT 'lineitem' AS table_name, s.partition_spec, s.cnt
        |FROM src s JOIN tgt t
        |  ON s.partition_spec = t.partition_spec AND s.cnt = t.cnt""".stripMargin,
    "reconcile_warehouse" ->
      """WITH src AS (
        |  SELECT 'region' AS table_name, NULL AS partition_spec, count(*) AS cnt FROM region
        |  UNION ALL SELECT 'nation', NULL, count(*) FROM nation
        |  UNION ALL SELECT 'customer', NULL, count(*) FROM customer
        |  UNION ALL SELECT 'supplier', NULL, count(*) FROM supplier
        |  UNION ALL SELECT 'part', NULL, count(*) FROM part
        |  UNION ALL SELECT 'lineitem', 'l_returnflag=' || l_returnflag, count(*)
        |            FROM lineitem GROUP BY 2
        |  UNION ALL SELECT 'orders', 'o_orderstatus=' || o_orderstatus, count(*)
        |            FROM orders GROUP BY 2
        |  UNION ALL SELECT 'events', 'event_type=' || event_type, count(*)
        |            FROM events WHERE event_type <> 'error' GROUP BY 2),
        |tgt AS (
        |  SELECT 'region' AS table_name, NULL AS partition_spec, count(*) AS cnt FROM region
        |  UNION ALL SELECT 'nation', NULL, count(*) FROM nation
        |  UNION ALL SELECT 'customer', NULL, count(*) FROM customer
        |  UNION ALL SELECT 'supplier', NULL, count(*) FROM supplier
        |  UNION ALL SELECT 'part', NULL, count(*) FROM part
        |  UNION ALL SELECT 'lineitem', 'l_returnflag=' || l_returnflag, count(*)
        |            FROM lineitem
        |            WHERE NOT (l_returnflag = 'R' AND l_orderkey % 97 = 0) GROUP BY 2
        |  UNION ALL SELECT 'orders', 'o_orderstatus=' || o_orderstatus, count(*)
        |            FROM orders
        |            WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 101 = 0)
        |              AND o_orderstatus <> 'P' GROUP BY 2
        |  UNION ALL SELECT 'events', 'event_type=' || event_type, count(*)
        |            FROM events GROUP BY 2)
        |SELECT coalesce(s.table_name, t.table_name) AS table_name,
        |       coalesce(s.partition_spec, t.partition_spec) AS partition_spec,
        |       s.cnt AS src_cnt, t.cnt AS tgt_cnt,
        |       CASE WHEN s.cnt IS NULL THEN 'missing_in_source'
        |            WHEN t.cnt IS NULL THEN 'missing_in_target'
        |            WHEN s.cnt = t.cnt THEN 'matched'
        |            ELSE 'mismatched' END AS status
        |FROM src s FULL JOIN tgt t
        |  ON s.table_name = t.table_name
        | AND s.partition_spec IS NOT DISTINCT FROM t.partition_spec""".stripMargin,
    // The perturbed target is a subset of the source within each group,
    // so multiset equality <=> equal counts; the engine verifies it with
    // xxhash64 digests, the oracle with the subset shortcut.
    "integrity_by_partition" ->
      """SELECT s.l_returnflag,
        |       s.src_cnt, t.tgt_cnt,
        |       s.src_cnt = t.tgt_cnt AS consistent
        |FROM (SELECT l_returnflag, count(*) AS src_cnt FROM lineitem GROUP BY 1) s
        |JOIN (SELECT l_returnflag, count(*) AS tgt_cnt FROM lineitem
        |      WHERE NOT (l_returnflag = 'R' AND l_orderkey % 97 = 0) GROUP BY 1) t
        |  ON s.l_returnflag = t.l_returnflag""".stripMargin,
    "sample_limit" ->
      """SELECT * FROM lineitem
        |ORDER BY l_discount, l_extendedprice, l_linenumber, l_linestatus,
        |         l_orderkey, l_partkey, l_quantity, l_returnflag, l_shipdate,
        |         l_suppkey, l_tax
        |LIMIT 10""".stripMargin,
    // identical relation to reconcile_report — the roundtrip through the
    // CSV sink must be lossless
    "reports_roundtrip" ->
      s"""WITH src AS (SELECT 'lineitem' AS table_name,
         |                    'l_returnflag=' || l_returnflag AS partition_spec,
         |                    count(*) AS src_cnt FROM lineitem GROUP BY 1, 2),
         |     tgt AS (SELECT 'lineitem' AS table_name,
         |                    'l_returnflag=' || l_returnflag AS partition_spec,
         |                    count(*) AS tgt_cnt FROM lineitem
         |             WHERE NOT (l_returnflag = 'R' AND l_orderkey % 97 = 0)
         |             GROUP BY 1, 2)
         |SELECT coalesce(s.table_name, t.table_name) AS table_name,
         |       coalesce(s.partition_spec, t.partition_spec) AS partition_spec,
         |       s.src_cnt, t.tgt_cnt,
         |       CASE WHEN s.src_cnt IS NULL THEN 'missing_in_source'
         |            WHEN t.tgt_cnt IS NULL THEN 'missing_in_target'
         |            WHEN s.src_cnt = t.tgt_cnt THEN 'matched'
         |            ELSE 'mismatched' END AS status
         |FROM src s FULL JOIN tgt t
         |  ON s.table_name = t.table_name
         | AND s.partition_spec IS NOT DISTINCT FROM t.partition_spec""".stripMargin,
    "sampled_export_roundtrip" ->
      """SELECT * FROM lineitem
        |ORDER BY l_discount, l_extendedprice, l_linenumber, l_linestatus,
        |         l_orderkey, l_partkey, l_quantity, l_returnflag, l_shipdate,
        |         l_suppkey, l_tax
        |LIMIT 10""".stripMargin,
    "json_export_roundtrip" ->
      """SELECT * FROM lineitem
        |ORDER BY l_discount, l_extendedprice, l_linenumber, l_linestatus,
        |         l_orderkey, l_partkey, l_quantity, l_returnflag, l_shipdate,
        |         l_suppkey, l_tax
        |LIMIT 10""".stripMargin,
    "orc_export_roundtrip" ->
      """SELECT * FROM lineitem
        |ORDER BY l_discount, l_extendedprice, l_linenumber, l_linestatus,
        |         l_orderkey, l_partkey, l_quantity, l_returnflag, l_shipdate,
        |         l_suppkey, l_tax
        |LIMIT 10""".stripMargin,
    "partitioned_write_scan" ->
      """SELECT date_trunc('day', ts) AS day, count(*) AS n_clicks,
        |       count(DISTINCT user_id) AS n_users
        |FROM events WHERE event_type = 'click' GROUP BY 1""".stripMargin,
    "delim_scan_project" ->
      """SELECT concat_ws(' ',
        |         string_split(line, '|')[1],
        |         coalesce(string_split(line, '|')[2], ''),
        |         coalesce(string_split(line, '|')[3], '')) AS projected
        |FROM (
        |  SELECT n_name || '|' || CAST(n_nationkey AS VARCHAR) || '|' ||
        |         CAST(n_regionkey AS VARCHAR) AS line FROM nation
        |  UNION ALL SELECT n_name FROM nation)""".stripMargin
  )
}
