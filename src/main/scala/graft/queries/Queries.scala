package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.Store

/** Testdata access. `events.ts` has shipped as both parquet TIMESTAMP(NANOS)
  * (which Spark's vectorized reader rejects — read as a nanos long via the
  * legacy flag) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Every consumer
  * in this codebase — and the nanos arithmetic in the inventory queries —
  * assumes nanos-since-epoch LONG, so `t` canonicalizes whatever arrives to
  * that: the session timeZone is pinned UTC, so the NTZ wall clock IS the
  * UTC epoch and `unix_micros(cast) * 1000` is exact integer arithmetic
  * (never double division, which loses ulps at 1e18). */
object Td {
  /** Schema-cached table read ([[graft.Scratch.readCachedSchema]]) — the
    * catalog-metastore shape shared with the ext-store readers. The
    * nanosAsLong flag must already be set when a path's FIRST read pays the
    * inference (t() sets it before calling). */
  def readTable(spark: SparkSession, path: String): DataFrame =
    graft.Scratch.readCachedSchema(spark, path)

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→TIMESTAMP cast below is only exact under a UTC session zone;
    // pin it here so correctness never depends on caller-side session state.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val df = readTable(spark, s"$dir/$name.parquet")
    df.schema.find(_.name == "ts") match {
      case Some(f) =>
        f.dataType match {
          case org.apache.spark.sql.types.LongType => df
          case org.apache.spark.sql.types.TimestampType |
              org.apache.spark.sql.types.TimestampNTZType =>
            df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
          case other =>
            throw new IllegalStateException(
              s"$name.ts arrived as $other; expected LONG (nanos) or TIMESTAMP[_NTZ] — " +
                "refusing to guess an epoch encoding")
        }
      case None => df
    }
  }

  /** events with ts as nanos long + derived exact epoch-seconds and date. */
  def events(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("ts_secs", expr("ts div 1000000000"))
      .withColumn("d", to_date(timestamp_micros(expr("ts div 1000"))))
}

/** SURVEY §2 operator inventory over the driver's TPC-H-ish testdata
  * (FIXTURES.md §B mapping). Each entry: (name, Spark program, DuckDB oracle
  * SQL or None for non-SQL-expressible ops).
  *
  * Determinism contract (driver hash-compares row-by-row): every multi-row
  * result ends in a TOTAL ORDER BY; aggregated doubles are round()ed;
  * integer sums are CAST AS BIGINT in the oracle (DuckDB sums BIGINT into
  * HUGEINT); raw column passthroughs stay unrounded (bit-exact both sides).
  */
object Queries {
  type Q = (SparkSession, String) => DataFrame

  import Td.t

  /** Scalar max(col) read null-safely: max over an empty table is null, and
    * Row.getLong would NPE. Returns `default` (e.g. -1 ⇒ empty spark.range)
    * when there are no rows. */
  private def maxOrElse(df: DataFrame, c: String, default: Long): Long = {
    val row = df.agg(max(c)).head
    if (row.isNullAt(0)) default else row.getLong(0)
  }

  /** Scratch dir for the write-then-read-back gates (s6/s10/s11), deleted on
    * JVM exit: the gates return DataFrames that may still read the files
    * lazily after this function returns, so eager deletion is unsafe — the
    * shutdown hook is the correct lifetime (round-12 advice: every gate run
    * used to leak a parquet tree into /tmp). */
  private def scratchDir(prefix: String): String = graft.Scratch.dir(prefix)

  // ------------------------------------------------------------------------
  // P — projection / filter / predicates
  // ------------------------------------------------------------------------

  val pFamily: Seq[(String, Q, Option[String])] = Seq(
    ("p1_claim_next",
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .filter(col("o_orderstatus") === "O" && col("o_orderkey") >= 10)
          .select(col("o_orderkey").as("id"), col("o_custkey"), col("o_totalprice"))
          .orderBy("id").limit(1),
      Some("SELECT o_orderkey AS id, o_custkey, o_totalprice FROM orders " +
        "WHERE o_orderstatus = 'O' AND o_orderkey >= 10 ORDER BY id LIMIT 1")),

    ("p2_status_inlist",
      (s: SparkSession, d: String) =>
        Td.events(s, d).filter(col("event_type").isin("click", "purchase"))
          .select("event_id", "event_type").orderBy("event_id"),
      Some("SELECT event_id, event_type FROM events " +
        "WHERE event_type IN ('click','purchase') ORDER BY event_id")),

    ("p3_time_window",
      (s: SparkSession, d: String) => {
        val e = Td.events(s, d)
        val mx = e.agg(max("ts").as("mx"))
        e.crossJoin(broadcast(mx))
          .filter(col("ts") > col("mx") - lit(3600L * 1000000000L))
          .select("event_id").orderBy("event_id")
      },
      Some("SELECT event_id FROM events " +
        "WHERE ts > (SELECT max(ts) FROM events) - INTERVAL 1 HOUR ORDER BY event_id")),

    ("p4_range_cap",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .filter(col("l_orderkey") > 5900 || col("l_partkey") > 195)
          .select("l_orderkey", "l_partkey", "l_linenumber")
          .orderBy("l_orderkey", "l_partkey", "l_linenumber"),
      Some("SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem " +
        "WHERE l_orderkey > 5900 OR l_partkey > 195 " +
        "ORDER BY l_orderkey, l_partkey, l_linenumber")),

    ("p5_interval_overlap",
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .withColumn("start_h", col("o_custkey") * 10)
          .withColumn("end_h", col("o_custkey") * 10 + 9)
          .filter(graft.plans.Intervals.overlaps(lit(500L), lit(700L), col("start_h"), col("end_h")))
          .select("o_orderkey", "start_h", "end_h").orderBy("o_orderkey"),
      Some("SELECT o_orderkey, o_custkey*10 AS start_h, o_custkey*10+9 AS end_h FROM orders " +
        "WHERE NOT (o_custkey*10+9 < 500 OR o_custkey*10 > 700) ORDER BY o_orderkey")),

    ("p6_array_exists",
      (s: SparkSession, d: String) =>
        t(s, d, "part")
          .filter(exists(split(col("p_name"), " "), w => w === "widget"))
          .select("p_partkey", "p_name").orderBy("p_partkey"),
      Some("SELECT p_partkey, p_name FROM part " +
        "WHERE list_contains(string_split(p_name, ' '), 'widget') ORDER BY p_partkey")),

    ("p7_retry_eligibility",
      (s: SparkSession, d: String) =>
        Td.events(s, d)
          .filter(col("value") < 50 && col("user_id") % 7 < 3)
          .select("event_id", "user_id", "value").orderBy("event_id"),
      Some("SELECT event_id, user_id, value FROM events " +
        "WHERE value < 50 AND user_id % 7 < 3 ORDER BY event_id")))

  // ------------------------------------------------------------------------
  // J — joins
  // ------------------------------------------------------------------------

  val jFamily: Seq[(String, Q, Option[String])] = Seq(
    ("j1_fact_dim_join",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"), "inner")
          .select("l_orderkey", "l_linenumber", "o_custkey", "o_orderstatus")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("SELECT l_orderkey, l_linenumber, o_custkey, o_orderstatus " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "ORDER BY l_orderkey, l_linenumber")),

    ("j2_events_dim_join",
      (s: SparkSession, d: String) =>
        Td.events(s, d)
          .join(t(s, d, "customer"), col("user_id") === col("c_custkey"), "inner")
          .select("event_id", "event_type", "c_name").orderBy("event_id"),
      Some("SELECT event_id, event_type, c_name FROM events " +
        "JOIN customer ON user_id = c_custkey ORDER BY event_id")),

    ("j3_gap_detection",
      (s: SparkSession, d: String) => {
        // Missing l_orderkeys in [0, max(o_orderkey)] — left-anti vs a
        // generated series (ref orchestrator.js:393-405). The series comes
        // from spark.range (parallel Range node, like Pipeline.findGaps):
        // explode(sequence(0, mx)) would materialize the whole series in
        // ONE row = one task, and sequence() caps element count.
        val mx = maxOrElse(t(s, d, "orders"), "o_orderkey", -1L)
        s.range(0L, mx + 1).toDF("height")
          .join(t(s, d, "lineitem").select(col("l_orderkey").as("height")).distinct(),
            Seq("height"), "left_anti")
          .orderBy("height")
      },
      Some("SELECT height FROM (SELECT UNNEST(generate_series(0, " +
        "(SELECT max(o_orderkey) FROM orders))) AS height) h " +
        "LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l ON height = l_orderkey " +
        "WHERE l_orderkey IS NULL ORDER BY height")),

    ("j4_range_join",
      (s: SparkSession, d: String) => {
        val cand = t(s, d, "region")
          .select(col("r_regionkey"), (col("r_regionkey") * 100).as("cs"),
            (col("r_regionkey") * 100 + 150).as("ce"))
        val rng = t(s, d, "nation")
          .select(col("n_nationkey"), (col("n_nationkey") * 20).as("ns"),
            (col("n_nationkey") * 20 + 10).as("ne"))
        // Non-equi range join; small side broadcast — at 100 TB this becomes
        // a banded join (bucket by floor(start/band)), same predicate.
        cand.join(broadcast(rng),
          graft.plans.Intervals.overlaps(col("cs"), col("ce"), col("ns"), col("ne")))
          .select("r_regionkey", "n_nationkey").orderBy("r_regionkey", "n_nationkey")
      },
      Some("SELECT r_regionkey, n_nationkey FROM region, nation " +
        "WHERE NOT (n_nationkey*20+10 < r_regionkey*100 OR n_nationkey*20 > r_regionkey*100+150) " +
        "ORDER BY r_regionkey, n_nationkey")),

    ("j5_broadcast_dict",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"), "inner")
          .select("l_orderkey", "l_linenumber", "p_brand")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("SELECT l_orderkey, l_linenumber, p_brand FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey ORDER BY l_orderkey, l_linenumber")),

    ("j6_hash_probe",
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"), "left")
          .select("o_orderkey", "c_name").orderBy("o_orderkey"),
      Some("SELECT o_orderkey, c_name FROM orders " +
        "LEFT JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey")),

    ("j7_zip_join",
      (s: SparkSession, d: String) =>
        t(s, d, "part")
          .withColumn("w1", split(col("p_name"), " "))
          .withColumn("w2", reverse(col("w1")))
          .select(col("p_partkey"), posexplode(arrays_zip(col("w1"), col("w2"))))
          .select(col("p_partkey"), col("pos").cast("long").as("pos"),
            col("col.w1").as("word"), col("col.w2").as("word_rev"))
          .orderBy("p_partkey", "pos"),
      Some("SELECT p_partkey, i - 1 AS pos, w AS word, w2 AS word_rev " +
        "FROM (SELECT p_partkey, string_split(p_name, ' ') AS ws FROM part), " +
        "LATERAL (SELECT UNNEST(generate_series(1, len(ws))) AS i, " +
        "UNNEST(ws) AS w, UNNEST(list_reverse(ws)) AS w2) " +
        "ORDER BY p_partkey, pos")),

    ("j8_semi_probe",
      (s: SparkSession, d: String) =>
        t(s, d, "customer")
          .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey").orderBy("c_custkey"),
      Some("SELECT c_custkey FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey")),

    ("j8_anti_probe",
      (s: SparkSession, d: String) =>
        t(s, d, "customer")
          .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey").orderBy("c_custkey"),
      Some("SELECT c_custkey FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey")))

  // ------------------------------------------------------------------------
  // A — aggregations
  // ------------------------------------------------------------------------

  val aFamily: Seq[(String, Q, Option[String])] = Seq(
    ("a1_max_default",
      (s: SparkSession, d: String) => {
        val o = t(s, d, "orders")
        o.agg(coalesce(max("o_orderkey"), lit(0L)).as("max_all"))
          .crossJoin(o.filter(col("o_orderstatus") === "X")
            .agg(coalesce(max("o_orderkey"), lit(0L)).as("max_empty")))
      },
      Some("SELECT CAST(coalesce(max(o_orderkey), 0) AS BIGINT) AS max_all, " +
        "CAST(coalesce((SELECT max(o_orderkey) FROM orders WHERE o_orderstatus = 'X'), 0) AS BIGINT) AS max_empty " +
        "FROM orders")),

    ("a2_greatest_resume",
      (s: SparkSession, d: String) =>
        t(s, d, "orders").agg(max("o_orderkey").as("a"))
          .crossJoin(t(s, d, "lineitem").agg(max("l_orderkey").as("b")))
          .select(greatest(col("a"), col("b")).as("resume_height")),
      Some("SELECT CAST(greatest((SELECT max(o_orderkey) FROM orders), " +
        "(SELECT max(l_orderkey) FROM lineitem)) AS BIGINT) AS resume_height")),

    ("a3_status_counts",
      (s: SparkSession, d: String) =>
        t(s, d, "orders").groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("cnt")).orderBy("status"),
      Some("SELECT o_orderstatus AS status, count(*) AS cnt FROM orders GROUP BY 1 ORDER BY 1")),

    ("a4_status_report",
      (s: SparkSession, d: String) =>
        t(s, d, "orders").groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("cnt"), min("o_orderkey").as("min_key"),
            max("o_orderkey").as("max_key"))
          .orderBy("status"),
      Some("SELECT o_orderstatus AS status, count(*) AS cnt, min(o_orderkey) AS min_key, " +
        "max(o_orderkey) AS max_key FROM orders GROUP BY 1 ORDER BY 1")),

    ("a5_failure_report",
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .groupBy(col("o_orderstatus").as("status"), col("o_orderpriority").as("prio"))
          .agg(count(lit(1)).as("cnt"),
            min(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("first_date"),
            max(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("last_date"))
          .orderBy("status", "prio"),
      Some("SELECT o_orderstatus AS status, o_orderpriority AS prio, count(*) AS cnt, " +
        "min(strftime(o_orderdate, '%Y-%m-%d')) AS first_date, " +
        "max(strftime(o_orderdate, '%Y-%m-%d')) AS last_date " +
        "FROM orders GROUP BY 1, 2 ORDER BY 1, 2")),

    // Money aggregates use the exact integer-cents pattern: per-row cents are
    // bit-deterministic in both engines, integer sums are exact, and the final
    // division happens on identical operands — no float-rounding ambiguity.
    ("a6_mv1_daily_stats",
      (s: SparkSession, d: String) =>
        Td.events(s, d).groupBy(date_format(col("d"), "yyyy-MM-dd").as("d"))
          .agg(count(lit(1)).as("n_events"),
            (sum(round(col("value") * 100).cast("long")) / lit(100.0)).as("sum_value"))
          .orderBy("d"),
      Some("SELECT strftime(ts, '%Y-%m-%d') AS d, count(*) AS n_events, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value " +
        "FROM events GROUP BY 1 ORDER BY 1")),

    ("a7_mv2_daily_tx_stats",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem")
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"), "inner")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
          .agg(count(lit(1)).as("n_items"),
            sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"),
            count(when(col("l_returnflag") === "R", 1)).as("n_returned"))
          .select(col("d"), col("n_items"),
            (col("cents") / lit(100.0)).as("sum_price"),
            round(col("cents") / col("n_items") / lit(100.0), 6).as("avg_price"),
            col("n_returned"))
          .orderBy("d"),
      Some("SELECT d, n_items, cents / 100.0 AS sum_price, " +
        "round(cents / n_items / 100.0, 6) AS avg_price, n_returned FROM " +
        "(SELECT strftime(o_orderdate, '%Y-%m-%d') AS d, count(*) AS n_items, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents, " +
        "count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1) t ORDER BY d")),

    ("a8_mv3_event_type_stats",
      (s: SparkSession, d: String) =>
        Td.events(s, d).groupBy(date_format(col("d"), "yyyy-MM-dd").as("d"), col("event_type"))
          .agg(count(lit(1)).as("cnt")).orderBy("d", "event_type"),
      Some("SELECT strftime(ts, '%Y-%m-%d') AS d, event_type, count(*) AS cnt " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2")),

    ("a9_loop_detect",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem").groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > 2)
          .agg(count(lit(1)).as("n_loops"), coalesce(max("cnt"), lit(0L)).as("max_cnt")),
      Some("SELECT count(*) AS n_loops, CAST(coalesce(max(cnt), 0) AS BIGINT) AS max_cnt " +
        "FROM (SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1 HAVING count(*) > 2) t")),

    ("a10_duplicate_detect",
      (s: SparkSession, d: String) =>
        t(s, d, "orders").groupBy("o_custkey", "o_orderstatus").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > 1)
          .agg(count(lit(1)).as("n_dups")),
      Some("SELECT count(*) AS n_dups FROM (SELECT o_custkey, o_orderstatus, count(*) AS cnt " +
        "FROM orders GROUP BY 1, 2 HAVING count(*) > 1) t")),

    ("a11_gap_stats",
      (s: SparkSession, d: String) => {
        // Scalar max + spark.range: parallel series generation (see j3 note).
        val mx = maxOrElse(t(s, d, "orders"), "o_orderkey", -1L)
        s.range(0L, mx + 1).toDF("height")
          .join(t(s, d, "lineitem").select(col("l_orderkey").as("height")).distinct(),
            Seq("height"), "left_anti")
          .agg(count(lit(1)).as("n_missing"),
            coalesce(min("height"), lit(0L)).as("first_missing"),
            coalesce(max("height"), lit(0L)).as("last_missing"))
      },
      Some("SELECT count(*) AS n_missing, CAST(coalesce(min(height), 0) AS BIGINT) AS first_missing, " +
        "CAST(coalesce(max(height), 0) AS BIGINT) AS last_missing FROM " +
        "(SELECT height FROM (SELECT UNNEST(generate_series(0, (SELECT max(o_orderkey) FROM orders))) AS height) h " +
        "LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l ON height = l_orderkey " +
        "WHERE l_orderkey IS NULL) t")),

    ("a12_multi_scalar_report",
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .agg(count(lit(1)).as("n_orders"), min("o_orderkey").as("min_key"),
            max("o_orderkey").as("max_key"))
          .crossJoin(t(s, d, "lineitem").agg(count(lit(1)).as("n_items")))
          .select("n_orders", "n_items", "min_key", "max_key"),
      Some("SELECT (SELECT count(*) FROM orders) AS n_orders, " +
        "(SELECT count(*) FROM lineitem) AS n_items, " +
        "(SELECT min(o_orderkey) FROM orders) AS min_key, " +
        "(SELECT max(o_orderkey) FROM orders) AS max_key")),

    ("a13_storage_stats",
      (s: SparkSession, d: String) => {
        val tables = Seq("customer", "events", "lineitem", "orders", "part", "supplier")
        tables.map { n =>
          t(s, d, n).agg(count(lit(1)).as("n_rows")).select(lit(n).as("tbl"), col("n_rows"))
        }.reduce(_ unionByName _).orderBy("tbl")
      },
      Some(Seq("customer", "events", "lineitem", "orders", "part", "supplier")
        .map(n => s"SELECT '$n' AS tbl, count(*) AS n_rows FROM $n")
        .mkString("", " UNION ALL ", " ORDER BY tbl"))),

    ("a14_distinct_set",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem").groupBy("l_returnflag")
          .agg(array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("statuses"))
          .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') " +
        "AS statuses FROM lineitem GROUP BY 1 ORDER BY 1")),

    ("a15_latest_per_key",
      (s: SparkSession, d: String) =>
        Store.latest(Td.events(s, d), Seq("user_id"), "ts", Seq("event_id"))
          .select(col("user_id"), col("event_id").as("latest_event_id"),
            col("event_type").as("latest_type"))
          .orderBy("user_id"),
      Some("SELECT user_id, event_id AS latest_event_id, event_type AS latest_type FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) t WHERE rn = 1 ORDER BY user_id")),

    ("a16_ingest_counters",
      (s: SparkSession, d: String) =>
        Td.events(s, d).agg(
          count(lit(1)).as("n"),
          count(when(col("value") === 0, 1)).as("n_zero"),
          countDistinct(col("user_id")).as("n_users"),
          (sum(round(col("value") * 100).cast("long")) / lit(100.0)).as("total_value")),
      Some("SELECT count(*) AS n, count(CASE WHEN value = 0 THEN 1 END) AS n_zero, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_value " +
        "FROM events")))

  // ------------------------------------------------------------------------
  // W — window-shaped semantics
  // ------------------------------------------------------------------------

  val wFamily: Seq[(String, Q, Option[String])] = Seq(
    ("w1_latest_state",
      (s: SparkSession, d: String) =>
        Store.latest(Td.events(s, d), Seq("event_type"), "ts", Seq("event_id"))
          .select("event_type", "event_id", "user_id").orderBy("event_type"),
      Some("SELECT event_type, event_id, user_id FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) t WHERE rn = 1 ORDER BY event_type")),

    ("w2_argmax_per_key",
      (s: SparkSession, d: String) =>
        Store.latest(Td.events(s, d), Seq("user_id"), "value", Seq("event_id"))
          .select("user_id", "event_id", "value").orderBy("user_id"),
      Some("SELECT user_id, event_id, value FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS rn " +
        "FROM events) t WHERE rn = 1 ORDER BY user_id")),

    ("w3_final_hint", // the FINAL query hint (ClickHouse's FINAL modifier
      // as a Spark hint, resolved by the injected FinalHintResolution
      // rule against the versioned-table registry): latest-per-key through
      // the ANALYZER, not an explicit latest() call. Output keeps only
      // (key, winning version) — tie-insensitive, so the arbitrary-row
      // tie-break can't leak nondeterminism into the hash gate.
      (s: SparkSession, d: String) =>
        Td.events(s, d)
          .select(col("user_id").as("height"), col("ts").as("created_at"),
            col("event_id"))
          .hint("FINAL")
          .select(col("height"), expr("created_at div 1000").as("created_at_us"))
          .orderBy("height"),
      Some("SELECT user_id AS height, max(epoch_us(ts)) AS created_at_us " +
        "FROM events GROUP BY user_id ORDER BY height")))

  // ------------------------------------------------------------------------
  // O — sorts / limits / top-k
  // ------------------------------------------------------------------------

  val oFamily: Seq[(String, Q, Option[String])] = Seq(
    ("o1_min_claim",
      (s: SparkSession, d: String) =>
        Td.events(s, d).select("event_id", "user_id", "event_type")
          .orderBy("event_id").limit(1),
      Some("SELECT event_id, user_id, event_type FROM events ORDER BY event_id LIMIT 1")),

    ("o2_latest_row",
      (s: SparkSession, d: String) =>
        Td.events(s, d).orderBy(col("ts").desc, col("event_id").desc)
          .select("event_id", "event_type").limit(1),
      Some("SELECT event_id, event_type FROM events ORDER BY ts DESC, event_id DESC LIMIT 1")),

    ("o3_topk_800",
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .select(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
            col("o_totalprice"))
          .limit(800),
      Some("SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS d, o_totalprice FROM orders " +
        "ORDER BY o_orderdate ASC, o_orderkey ASC LIMIT 800")),

    ("o4_reconcile_scan",
      (s: SparkSession, d: String) =>
        t(s, d, "orders").select("o_orderkey", "o_orderstatus")
          .orderBy("o_orderkey").limit(50),
      Some("SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey LIMIT 50")),

    ("o5_report_sort",
      (s: SparkSession, d: String) =>
        t(s, d, "customer").select("c_mktsegment", "c_custkey", "c_name")
          .orderBy("c_mktsegment", "c_custkey"),
      Some("SELECT c_mktsegment, c_custkey, c_name FROM customer " +
        "ORDER BY c_mktsegment, c_custkey")))

  // ------------------------------------------------------------------------
  // S — source/sink-shaped queries
  // ------------------------------------------------------------------------

  /** Deterministic fixture transport shared by the source gates (s1/s2/s3):
    * status reports tip 42, block_results echoes the height into gas_used,
    * block carries one base64 tx and a height-derived time/app_hash. The
    * production path swaps in HttpTransport behind the same seam. */
  private def fixtureRpcClient(): graft.sources.RpcClient = {
    val transport: (String, String) => String = (_, pth) => {
      val h = pth.dropWhile(!_.isDigit)
      if (pth.startsWith("/status"))
        """{"result":{"sync_info":{"latest_block_height":"42"}}}"""
      else if (pth.startsWith("/block_results"))
        s"""{"result":{"txs_results":[{"code":0,"gas_wanted":"10","gas_used":"$h","data":"","log":"","events":[]}],"finalize_block_events":[]}}"""
      else
        s"""{"result":{"block":{"header":{"time":"2025-06-01T12:00:0${h}Z","app_hash":"AH$h"},"data":{"txs":["dGVzdA=="]}}}}"""
    }
    new graft.sources.RpcClient(
      graft.sources.RpcConfig(Seq("http://fixture"), sleeper = _ => ()), transport)
  }

  val sFamily: Seq[(String, Q, Option[String])] = Seq(
    ("s2_results_fetch", // S2 dedicated gate (VERDICT r10 residue #2: the
      // block-results source was folded into s1's n_results count): the
      // results half of the fetch pair flattened to its own fields — code /
      // gas_wanted / gas_used per height, where the fixture echoes the
      // height into gas_used, so a results-side parsing or zip drift
      // changes values, not just counts.
      (s: SparkSession, d: String) =>
        graft.sources.RpcSource.fetchEnvelopes(s, fixtureRpcClient(), 1, 3,
            parallelism = 2)
          .select(col("height"), explode(col("txs_results")).as("r"))
          .select(col("height"), col("r.code").as("code"),
            col("r.gas_wanted").as("gas_wanted"), col("r.gas_used").as("gas_used"))
          .orderBy("height"),
      Some("SELECT * FROM (VALUES " +
        "(CAST(1 AS BIGINT), CAST(0 AS INTEGER), '10', '1'), " +
        "(CAST(2 AS BIGINT), CAST(0 AS INTEGER), '10', '2'), " +
        "(CAST(3 AS BIGINT), CAST(0 AS INTEGER), '10', '3')" +
        ") v(height, code, gas_wanted, gas_used) ORDER BY height")),

    ("s3_tip_discovery", // S3 dedicated gate: tip discovery alone —
      // latestHeight() through the status endpoint, as the one-row frame a
      // scheduler would range against.
      (s: SparkSession, d: String) => {
        import s.implicits._
        Seq(fixtureRpcClient().latestHeight()).toDF("tip")
      },
      Some("SELECT CAST(42 AS BIGINT) AS tip")),

    ("s1_fixture_fetch", // S1+S2+S3 driver-checked: the full fetch pair +
      // tip discovery over an embedded deterministic fixture transport
      // (the production path swaps in HttpTransport — same seam). The
      // expected rows are constants, so the oracle is a VALUES table: if
      // fetch, JSON parsing, or the envelope projection drift, the Spark
      // side changes and the hash fails.
      (s: SparkSession, d: String) => {
        val client = fixtureRpcClient()
        val tip = client.latestHeight()
        graft.sources.RpcSource.fetchEnvelopes(s, client, 1, 3, parallelism = 2)
          .select(col("height"), col("app_hash"), col("time").as("btime"),
            size(col("txs")).as("n_txs"), size(col("txs_results")).as("n_results"),
            lit(tip).as("tip"))
          .orderBy("height")
      },
      Some("SELECT * FROM (VALUES " +
        "(CAST(1 AS BIGINT), 'AH1', '2025-06-01T12:00:01Z', CAST(1 AS INTEGER), CAST(1 AS INTEGER), CAST(42 AS BIGINT)), " +
        "(CAST(2 AS BIGINT), 'AH2', '2025-06-01T12:00:02Z', CAST(1 AS INTEGER), CAST(1 AS INTEGER), CAST(42 AS BIGINT)), " +
        "(CAST(3 AS BIGINT), 'AH3', '2025-06-01T12:00:03Z', CAST(1 AS INTEGER), CAST(1 AS INTEGER), CAST(42 AS BIGINT))" +
        ") v(height, app_hash, btime, n_txs, n_results, tip) ORDER BY height")),

    ("s4_point_lookup",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem").filter(col("l_orderkey") === 1)
          .select("l_orderkey", "l_linenumber", "l_quantity").orderBy("l_linenumber"),
      Some("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "WHERE l_orderkey = 1 ORDER BY l_linenumber")),

    ("s5_retry_rotation", // S5 driver-checked: the deterministic attempt log
      // of retry-then-rotate — two failures on the first endpoint, success
      // on the second (reference: rotate after retriesPerEndpoint failures).
      (s: SparkSession, d: String) => {
        import s.implicits._
        val log = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        val transport: (String, String) => String = (url, pth) => {
          if (url == "http://bad") { log += ((url, "fail")); throw new RuntimeException("boom") }
          log += ((url, "ok"))
          """{"result":{"sync_info":{"latest_block_height":"7"}}}"""
        }
        val client = new graft.sources.RpcClient(
          graft.sources.RpcConfig(Seq("http://bad", "http://good"),
            retriesPerEndpoint = 2, sleeper = _ => ()), transport)
        val tip = client.latestHeight()
        log.zipWithIndex
          .map { case ((ep, outcome), i) => (i + 1L, ep, outcome, tip) }
          .toSeq.toDF("attempt", "endpoint", "outcome", "tip")
          .orderBy("attempt")
      },
      Some("SELECT * FROM (VALUES " +
        "(CAST(1 AS BIGINT), 'http://bad', 'fail', CAST(7 AS BIGINT)), " +
        "(CAST(2 AS BIGINT), 'http://bad', 'fail', CAST(7 AS BIGINT)), " +
        "(CAST(3 AS BIGINT), 'http://good', 'ok', CAST(7 AS BIGINT))" +
        ") v(attempt, endpoint, outcome, tip) ORDER BY attempt")),

    ("s7_sql_surface",
      (s: SparkSession, d: String) => {
        t(s, d, "orders").createOrReplaceTempView("graft_orders_v")
        // 100.0 alone parses as DECIMAL(4,1) in Spark SQL (decimal division),
        // while the DuckDB oracle divides to DOUBLE — cast to keep the hash
        // encoding identical (the DSL queries get this for free via lit(100.0)).
        s.sql("SELECT o_orderstatus AS status, count(*) AS cnt, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total " +
          "FROM graft_orders_v GROUP BY 1 ORDER BY 1")
      },
      Some("SELECT o_orderstatus AS status, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total " +
        "FROM orders GROUP BY 1 ORDER BY 1")),

    ("s8_insert_if_absent",
      (s: SparkSession, d: String) =>
        Store.insertIfAbsent(
          existing = t(s, d, "lineitem").select(col("l_orderkey").as("o_orderkey")),
          incoming = t(s, d, "orders"),
          keys = Seq("o_orderkey"))
          .select("o_orderkey").orderBy("o_orderkey"),
      Some("SELECT o_orderkey FROM orders WHERE o_orderkey NOT IN " +
        "(SELECT l_orderkey FROM lineitem) ORDER BY o_orderkey")),

    ("s9_upsert_lww",
      (s: SparkSession, d: String) => {
        // Split events into an "existing" and "incoming" half and run the
        // last-write-wins upsert view — equivalent to latest() over the union.
        val e = Td.events(s, d)
        val half = e.filter(col("event_id") % 2 === 0)
        val rest = e.filter(col("event_id") % 2 =!= 0)
        Store.upsert(half, rest, Seq("user_id", "event_type"), "ts", Seq("event_id"))
          .select("user_id", "event_type", "event_id")
          .orderBy("user_id", "event_type")
      },
      Some("SELECT user_id, event_type, event_id FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY user_id, event_type " +
        "ORDER BY ts DESC, event_id DESC) AS rn FROM events) t WHERE rn = 1 " +
        "ORDER BY user_id, event_type")),

    ("s10_partition_layout", // S6+S10 driver-checked: Store.writeTable's
      // partitioned append produces exactly the expected bucket directories
      // and each partition reads back the rows routed to it. Constants in,
      // constants out — the VALUES oracle fails if the writer's layout or
      // routing drifts.
      (s: SparkSession, d: String) => {
        val dir = scratchDir("graft_s10")
        val df = s.range(6).select(
          col("id").as("height"),
          concat(lit("v"), col("id")).as("v"),
          (col("id") % 3).as("height_bucket"))
        Store.writeTable(df.coalesce(1), s"$dir/t",
          partitionCols = Seq("height_bucket"), sortCols = Seq("height"))
        val dirBuckets = new java.io.File(s"$dir/t").listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("height_bucket="))
          .map(_.getName.stripPrefix("height_bucket=").toLong).toSeq
        s.read.parquet(s"$dir/t")
          // directory partition values infer as INT; the written column was long
          .withColumn("height_bucket", col("height_bucket").cast("long"))
          .groupBy("height_bucket")
          .agg(count(lit(1)).as("n_rows"), min("height").as("min_h"),
            max("height").as("max_h"))
          .withColumn("dir_present",
            col("height_bucket").isin(dirBuckets.map(x => x: Any): _*))
          .orderBy("height_bucket")
      },
      Some("SELECT * FROM (VALUES " +
        "(CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(3 AS BIGINT), true), " +
        "(CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT), true), " +
        "(CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(5 AS BIGINT), true)" +
        ") v(height_bucket, n_rows, min_h, max_h, dir_present) ORDER BY height_bucket")),

    ("s6_sink", // S6 dedicated (VERDICT r11 item 4 — previously folded into
      // s10): the batched APPEND sink. Two writeTable batches land in the
      // same partitioned layout; the read-back audits, per partition: both
      // batches' rows routed correctly, exactly one file per (batch,
      // partition) (coalesce(1) per batch => 2 files), the within-file sort
      // order the MergeTree-primary-index analogue relies on, and the
      // parquet BLOOM FILTER on tx_hash (the reference's bloom_filter(0.01)
      // skip-index analogue, checked in the footer via ParquetFileReader).
      // Constants in, constants out — a VALUES oracle.
      (s: SparkSession, d: String) => {
        val dir = scratchDir("graft_s6")
        def batch(lo: Long, n: Long) = s.range(lo, lo + n).select(
          col("id").as("height"),
          concat(lit("h"), col("id")).as("tx_hash"),
          (col("id") % 3).as("height_bucket"))
        Seq(0L, 6L).foreach { lo =>
          Store.writeTable(batch(lo, 6).coalesce(1), s"$dir/t",
            partitionCols = Seq("height_bucket"), sortCols = Seq("height"),
            bloomCols = Seq("tx_hash"))
        }
        val conf = s.sparkContext.hadoopConfiguration
        def hasBloom(f: java.io.File): Boolean = {
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
          try {
            import scala.jdk.CollectionConverters._
            val bg = rd.getRowGroups.get(0)
            bg.getColumns.asScala.find(_.getPath.toDotString == "tx_hash")
              .exists(cc =>
                rd.getBloomFilterDataReader(bg).readBloomFilter(cc) != null)
          } finally rd.close()
        }
        val rows = new java.io.File(s"$dir/t").listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("height_bucket="))
          .sortBy(_.getName)
          .map { bd =>
            val bucket = bd.getName.stripPrefix("height_bucket=").toLong
            val files = bd.listFiles()
              .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
            val perFile = files.map(f =>
              s.read.parquet(f.getAbsolutePath).select("height")
                .collect().map(_.getLong(0)).toSeq)
            val all = perFile.flatten
            (bucket, all.length.toLong, all.min, all.max,
              files.length.toLong,
              files.forall(hasBloom),
              perFile.forall(hs => hs == hs.sorted))
          }
        import s.implicits._
        rows.toSeq
          .toDF("height_bucket", "n_rows", "min_h", "max_h", "n_files",
            "bloom_present", "sorted_files")
          .orderBy("height_bucket")
      },
      Some("SELECT * FROM (VALUES " +
        "(CAST(0 AS BIGINT), CAST(4 AS BIGINT), CAST(0 AS BIGINT), CAST(9 AS BIGINT), CAST(2 AS BIGINT), true, true), " +
        "(CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(1 AS BIGINT), CAST(10 AS BIGINT), CAST(2 AS BIGINT), true, true), " +
        "(CAST(2 AS BIGINT), CAST(4 AS BIGINT), CAST(2 AS BIGINT), CAST(11 AS BIGINT), CAST(2 AS BIGINT), true, true)" +
        ") v(height_bucket, n_rows, min_h, max_h, n_files, bloom_present, sorted_files) " +
        "ORDER BY height_bucket")),

    ("s11_catalog_stats", // S11 driver-checked: tableStats over a freshly
      // written two-table warehouse — table names, row counts, and file
      // counts are all deterministic (coalesce(1) => one file each).
      (s: SparkSession, d: String) => {
        val wh = scratchDir("graft_s11")
        s.range(4).coalesce(1).write.parquet(s"$wh/t_big")
        s.range(2).coalesce(1).write.parquet(s"$wh/t_small")
        Store.tableStats(s, wh)
          .select("table", "n_rows", "n_files")
          .orderBy("table")
      },
      Some("SELECT * FROM (VALUES " +
        "('t_big', CAST(4 AS BIGINT), CAST(1 AS BIGINT)), " +
        "('t_small', CAST(2 AS BIGINT), CAST(1 AS BIGINT))" +
        ") v(\"table\", n_rows, n_files) ORDER BY \"table\"")))

  // ------------------------------------------------------------------------
  // F — scalar functions
  // ------------------------------------------------------------------------

  val fFamily: Seq[(String, Q, Option[String])] = Seq(
    ("f1_tx_hash",
      (s: SparkSession, d: String) =>
        t(s, d, "customer")
          .select(col("c_custkey"),
            upper(sha2(unbase64(base64(col("c_name").cast("binary"))), 256)).as("tx_hash"))
          .orderBy("c_custkey"),
      Some("SELECT c_custkey, upper(sha256(c_name)) AS tx_hash FROM customer ORDER BY c_custkey")),

    ("f2_b64_hex",
      (s: SparkSession, d: String) =>
        t(s, d, "part")
          .select(col("p_partkey"),
            lower(hex(unbase64(base64(col("p_name").cast("binary"))))).as("hx"))
          .orderBy("p_partkey"),
      Some("SELECT p_partkey, lower(hex(p_name)) AS hx FROM part ORDER BY p_partkey")),

    ("f3_maybe_b64",
      // Oracle-checkable without a DuckDB base64 heuristic: for printable
      // inputs maybeB64Decode(base64(x)) == x and c_name contains '#'
      // (outside the b64 charset) so maybeB64Decode(c_name) == c_name —
      // DuckDB states both identities directly. Known tricky vectors
      // (valid-b64→printable, valid-charset→non-printable, bad charset)
      // pin the heuristic's branches with hard-coded expectations.
      (s: SparkSession, d: String) => {
        import s.implicits._
        val fromData = t(s, d, "customer")
          .select(col("c_custkey"),
            graft.functions.Fns.maybeB64Decode(base64(col("c_name").cast("binary"))).as("decoded"),
            graft.functions.Fns.maybeB64Decode(col("c_name")).as("passthrough"))
        val vecInputs = Seq(
          (-4L, "aGVsbG8="),    // valid b64 of printable "hello" -> decode
          (-3L, "abcd"),        // valid charset but decodes to non-printable -> unchanged
          (-2L, "not base64!"), // charset miss -> unchanged
          (-1L, "TWFuIQ=="))    // valid b64 of "Man!" -> decode
          .toDF("c_custkey", "inp")
        val fromVecs = vecInputs.select(col("c_custkey"),
          graft.functions.Fns.maybeB64Decode(base64(col("inp").cast("binary"))).as("decoded"),
          graft.functions.Fns.maybeB64Decode(col("inp")).as("passthrough"))
        fromData.unionByName(fromVecs).orderBy("c_custkey")
      },
      Some("SELECT c_custkey, c_name AS decoded, c_name AS passthrough FROM customer " +
        "UNION ALL SELECT CAST(k AS BIGINT), d, p FROM (VALUES " +
        "(-4, 'aGVsbG8=', 'hello'), (-3, 'abcd', 'abcd'), " +
        "(-2, 'not base64!', 'not base64!'), (-1, 'TWFuIQ==', 'Man!')) v(k, d, p) " +
        "ORDER BY c_custkey")),

    ("f4_json_extract",
      (s: SparkSession, d: String) =>
        Td.events(s, d)
          .select(col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k"))
          .orderBy("event_id"),
      Some("SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k " +
        "FROM events ORDER BY event_id")),

    ("f5_canonical_json",
      (s: SparkSession, d: String) =>
        t(s, d, "customer")
          .select(col("c_custkey"),
            to_json(struct(col("c_custkey").as("custkey"), col("c_name").as("name"))).as("js"))
          .orderBy("c_custkey"),
      Some("SELECT c_custkey, CAST(to_json(struct_pack(custkey := c_custkey, " +
        "name := c_name)) AS VARCHAR) AS js FROM customer ORDER BY c_custkey")),

    ("f6_epoch_seconds",
      (s: SparkSession, d: String) =>
        Td.events(s, d).select(col("event_id"), col("ts_secs")).orderBy("event_id"),
      Some("SELECT event_id, CAST(epoch_ms(ts) // 1000 AS BIGINT) AS ts_secs " +
        "FROM events ORDER BY event_id")),

    ("f7_date_format",
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .select(col("o_orderkey"), date_format(col("o_orderdate"), "yyyyMM").as("ym"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
          .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, strftime(o_orderdate, '%Y%m') AS ym, " +
        "strftime(o_orderdate, '%Y-%m-%d') AS d FROM orders ORDER BY o_orderkey")),

    ("f8_height_bucket",
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .select(col("o_orderkey"), floor(col("o_orderkey") / 100).as("bucket"))
          .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, CAST(floor(o_orderkey / 100) AS BIGINT) AS bucket " +
        "FROM orders ORDER BY o_orderkey")),

    ("f9_now_guard",
      (s: SparkSession, d: String) =>
        Td.events(s, d)
          .filter(expr("ts div 1000000") <= unix_millis(current_timestamp()))
          .agg(count(lit(1)).as("n")),
      Some("SELECT count(*) AS n FROM events WHERE epoch_ms(ts) <= epoch_ms(now())")),

    ("f10_sequence",
      (s: SparkSession, d: String) =>
        s.range(1, 21).select(col("id").as("h"), (col("id") * 2).as("dbl")).orderBy("h"),
      Some("SELECT h, h * 2 AS dbl FROM range(1, 21) t(h) ORDER BY h")),

    ("f11_coalesce_greatest",
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .select(col("o_orderkey"),
            greatest(col("o_totalprice"), lit(150000.0)).as("g"),
            coalesce(nullif(col("o_orderstatus"), lit("")), lit("NA")).as("st"),
            col("o_custkey").cast("string").as("ck"))
          .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, greatest(o_totalprice, 150000.0) AS g, " +
        "coalesce(nullif(o_orderstatus, ''), 'NA') AS st, CAST(o_custkey AS VARCHAR) AS ck " +
        "FROM orders ORDER BY o_orderkey")),

    ("f12_concat_tag",
      (s: SparkSession, d: String) =>
        t(s, d, "customer")
          .select(col("c_custkey"), concat(col("c_name"), lit(" [reset_over_cap]")).as("tagged"))
          .orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name || ' [reset_over_cap]' AS tagged " +
        "FROM customer ORDER BY c_custkey")),

    ("f13_age_minutes",
      (s: SparkSession, d: String) => {
        val e = Td.events(s, d)
        val mx = e.agg(max(col("ts_secs")).as("mx_secs"))
        e.crossJoin(broadcast(mx))
          .select(col("event_id"),
            graft.functions.Fns.ageMinutes(col("ts_secs"), col("mx_secs")).as("age_min"))
          .orderBy("event_id")
      },
      Some("SELECT event_id, CAST(((SELECT epoch_ms(max(ts)) // 1000 FROM events) - " +
        "epoch_ms(ts) // 1000) // 60 AS BIGINT) AS age_min FROM events ORDER BY event_id")),

    ("f14_interval_shift",
      (s: SparkSession, d: String) =>
        Td.events(s, d)
          .select(col("event_id"), (col("ts_secs") + 3600L).as("ts_plus_1h"))
          .orderBy("event_id"),
      Some("SELECT event_id, CAST(epoch_ms(ts + INTERVAL 1 HOUR) // 1000 AS BIGINT) " +
        "AS ts_plus_1h FROM events ORDER BY event_id")),

    ("f16_backoff",
      (s: SparkSession, d: String) =>
        t(s, d, "lineitem").select(col("l_linenumber")).distinct()
          .select(col("l_linenumber").as("attempts"),
            graft.functions.Fns.backoffSeconds(col("l_linenumber")).as("backoff_s"))
          .orderBy("attempts"),
      Some("SELECT l_linenumber AS attempts, " +
        "CAST(least(600, power(2, l_linenumber) * 5) AS BIGINT) AS backoff_s " +
        "FROM (SELECT DISTINCT l_linenumber FROM lineitem) t ORDER BY attempts")),

    ("f17_det_id",
      (s: SparkSession, d: String) =>
        t(s, d, "orders")
          .select(col("o_orderkey"), (col("o_orderkey") * 100000 + col("o_custkey")).as("gen_id"))
          .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, o_orderkey * 100000 + o_custkey AS gen_id " +
        "FROM orders ORDER BY o_orderkey")),

    ("f19_falsy_default",
      (s: SparkSession, d: String) =>
        Td.events(s, d)
          .select(col("event_id"),
            graft.functions.Fns.falsyDefault(col("event_type"), "unknown").as("et"),
            graft.functions.Fns.falsyDefaultNum(col("value"), -1.0).as("v"))
          .orderBy("event_id"),
      Some("SELECT event_id, coalesce(nullif(event_type, ''), 'unknown') AS et, " +
        "CASE WHEN value = 0 OR value IS NULL THEN -1.0 ELSE value END AS v " +
        "FROM events ORDER BY event_id")),

    ("f15_readable_size",
      // Oracle-checkable: the data-driven rows stay under 1024 so the format
      // is the exact "<n> B" string DuckDB can build; the full unit ladder
      // (KiB..PiB, negatives) is pinned by hard-coded vectors. Fractional
      // KiB+ values are deliberately vector-only: Java's %.2f rounds half-up
      // while C printf rounds half-even, so a data-driven fraction could
      // hash-differ at exactly representable halves (e.g. 1.125).
      (s: SparkSession, d: String) => {
        import s.implicits._
        val fromData = t(s, d, "orders")
          .select(col("o_orderkey").as("id"),
            (col("o_orderkey") % 1000).cast("long").as("bytes"))
        val vecs = Seq(
          (-11L, 0L), (-10L, 1023L), (-9L, 1024L), (-8L, 1536L), (-7L, 5632L),
          (-6L, 1048576L), (-5L, 1572864L), (-4L, 1073741824L),
          (-3L, 1099511627776L), (-2L, 1125899906842624L), (-1L, -2048L))
          .toDF("id", "bytes")
        fromData.unionByName(vecs)
          .select(col("id"), col("bytes"),
            graft.functions.GraftExpressions.format_readable_size(col("bytes")).as("size"))
          .orderBy("id")
      },
      Some("SELECT o_orderkey AS id, o_orderkey % 1000 AS bytes, " +
        "CAST(o_orderkey % 1000 AS VARCHAR) || ' B' AS size FROM orders " +
        "UNION ALL SELECT CAST(i AS BIGINT), CAST(b AS BIGINT), s FROM (VALUES " +
        "(-11, 0, '0 B'), (-10, 1023, '1023 B'), (-9, 1024, '1.00 KiB'), " +
        "(-8, 1536, '1.50 KiB'), (-7, 5632, '5.50 KiB'), (-6, 1048576, '1.00 MiB'), " +
        "(-5, 1572864, '1.50 MiB'), (-4, 1073741824, '1.00 GiB'), " +
        "(-3, 1099511627776, '1.00 TiB'), (-2, 1125899906842624, '1.00 PiB'), " +
        "(-1, -2048, '-2.00 KiB')) v(i, b, s) ORDER BY id")),

    ("f20_ping",
      (s: SparkSession, d: String) =>
        s.range(1).select(lit(1).as("ok")),
      Some("SELECT 1 AS ok")))

  // ------------------------------------------------------------------------
  // §2.9 — the flatten itself, hash-checked: envelopes are SYNTHESIZED from
  // the orders table (1 tx, 1 event, 1 attr per height) so DuckDB can
  // reproduce the expected flattened rows in pure SQL. Exercises the zip
  // join, sha256-of-decoded-bytes, base64→hex, gas parsing, type routing,
  // and the canonical attrs JSON — end-to-end through Flatten().
  // ------------------------------------------------------------------------

  private[graft] def syntheticEnvelopes(s: SparkSession, d: String) =
    t(s, d, "orders").select(
      col("o_orderkey").as("height"),
      date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("time"),
      col("o_orderpriority").as("app_hash"),
      array(base64(col("o_orderstatus").cast("binary"))).as("txs"),
      array(struct(
        (col("o_custkey") % 3).cast("int").as("code"),
        col("o_custkey").cast("string").as("gas_wanted"),
        (col("o_custkey") * 2).cast("string").as("gas_used"),
        base64(col("o_orderpriority").cast("binary")).as("data"),
        lit("ok").as("log"),
        array(struct(
          when(col("o_custkey") % 2 === 0, "message").otherwise("wasm").as("type"),
          array(struct(
            lit("action").as("key"),
            col("o_orderpriority").as("value"),
            lit(true).as("index"))).as("attributes"))).as("events"))).as("txs_results"),
      lit(null).cast(graft.schema.Schemas.envelope("finalize_block_events").dataType)
        .as("finalize_block_events"))

  private def flattened(s: SparkSession, d: String) =
    graft.ingest.Flatten(syntheticEnvelopes(s, d))

  /** [[flattened]] with the envelope batch round-robined up to the
    * session's parallelism first — for the gates that MATERIALIZE the
    * per-row crypto/JSON columns (sha256 tx hash, base64→hex, canonical
    * attrs JSON): a small orders.parquet scans as ONE task, which
    * serialized those gates on a single core at bench scale. The
    * count-shaped gates (flat_fanout, flat_tx_events, flat_type_route)
    * keep the plain form: column pruning already drops their heavy
    * expressions, so the extra exchange was a measured net loss there
    * (flat_fanout 1.14 → 2.28 s). Par.ensure is a stats-based no-op on big
    * inputs, so the production path keeps its natural partitioning. */
  private def flattenedPar(s: SparkSession, d: String) =
    graft.ingest.Flatten(graft.ext.Par.ensure(syntheticEnvelopes(s, d)))

  val flatFamily: Seq[(String, Q, Option[String])] = Seq(
    ("flat_txs",
      (s: SparkSession, d: String) =>
        flattenedPar(s, d).txs.orderBy("height"),
      Some("SELECT o_orderkey AS height, 0 AS tx_index, CAST(o_custkey % 3 AS INT) AS code, " +
        "o_custkey AS gas_wanted, o_custkey * 2 AS gas_used, " +
        "lower(hex(o_orderpriority)) AS data, upper(sha256(o_orderstatus)) AS tx_hash, " +
        "'ok' AS log FROM orders ORDER BY height")),

    ("flat_tx_events",
      (s: SparkSession, d: String) =>
        flattened(s, d).txEvents.orderBy("height"),
      Some("SELECT o_orderkey AS height, 0 AS tx_index, 0 AS event_index, " +
        "CASE WHEN o_custkey % 2 = 0 THEN 'message' ELSE 'wasm' END AS type " +
        "FROM orders ORDER BY height")),

    ("flat_type_route",
      (s: SparkSession, d: String) => {
        val f = flattened(s, d)
        f.typeMessage.select("height", "type", "tx_hash")
          .unionByName(f.typeWasm.select("height", "type", "tx_hash"))
          .orderBy("height")
      },
      Some("SELECT o_orderkey AS height, " +
        "CASE WHEN o_custkey % 2 = 0 THEN 'message' ELSE 'wasm' END AS type, " +
        "upper(sha256(o_orderstatus)) AS tx_hash FROM orders ORDER BY height")),

    ("flat_fanout", // full 10-table fan-out in one pass: per-table cardinalities
      (s: SparkSession, d: String) => {
        val f = flattened(s, d)
        f.all.map { case (n, df) =>
          df.agg(count(lit(1)).as("n_rows")).select(lit(n).as("tbl"), col("n_rows"))
        }.reduce(_ unionByName _).orderBy("tbl")
      },
      Some(Seq(
        "SELECT 'blocks' AS tbl, count(*) AS n_rows FROM orders",
        "SELECT 'txs', count(*) FROM orders",
        "SELECT 'tx_events', count(*) FROM orders",
        "SELECT 'tx_event_attrs_json', count(*) FROM orders",
        "SELECT 'type_message', count(CASE WHEN o_custkey % 2 = 0 THEN 1 END) FROM orders",
        "SELECT 'type_message_attrs', count(CASE WHEN o_custkey % 2 = 0 THEN 1 END) FROM orders",
        "SELECT 'type_wasm', count(CASE WHEN o_custkey % 2 <> 0 THEN 1 END) FROM orders",
        "SELECT 'type_wasm_attrs', count(CASE WHEN o_custkey % 2 <> 0 THEN 1 END) FROM orders",
        "SELECT 'block_events', 0 FROM (SELECT 1)",
        "SELECT 'block_event_attrs', 0 FROM (SELECT 1)")
        .mkString("", " UNION ALL ", " ORDER BY tbl"))),

    ("flat_attrs_json",
      (s: SparkSession, d: String) =>
        flattenedPar(s, d).txEventAttrsJson
          .select("height", "attrs_kv", "attrs_map", "attr_count")
          .orderBy("height"),
      Some("SELECT o_orderkey AS height, " +
        "'[{\"attr_index\":0,\"key\":\"action\",\"value\":\"' || o_orderpriority || " +
        "'\",\"indexed\":true}]' AS attrs_kv, " +
        "'{\"action\":[\"' || o_orderpriority || '\"]}' AS attrs_map, " +
        "1 AS attr_count FROM orders ORDER BY height")),

    ("flat_stream_mv", // §2.10 — the flatten run as a REAL multi-batch file
      // stream through the exactly-once path: envelopes staged as 3
      // height-range parquet chunks, fed one per micro-batch, each batch
      // writing all 10 tables + 3 MV deltas keyed by batch id with dynamic
      // partition overwrite; the harness then RE-DELIVERS the final batch
      // (foreachBatch's at-least-once failure mode) before the MV is read.
      // Matching the batch oracle proves the redelivery was absorbed —
      // an appended duplicate would double every sum. 2 chunks (r14, down
      // from 3): each micro-batch re-buys the same ~13-write ingest
      // constant (PLANS.md r11 chunk curve), and the gate's claims —
      // disjoint batch ids, cross-batch isolation, redelivery absorption —
      // are fully exercised by 2 data batches + the plant. Chunk staging
      // is cached per state of orders.parquet and delivered atomically; spec-level
      // multi-batch coverage (out-of-order, JSON arrival) lives in
      // StreamingSpec.
      (s: SparkSession, d: String) => {
        val wh = graft.streaming.StreamingIngest
          .flattenFileRun(s, syntheticEnvelopes(s, d), chunks = 2,
            stageInputs = Seq(s"$d/orders.parquet"))
        Mvs.readMv(s.read.parquet(s"$wh/mv_daily_block_stats")
            .drop("ingest_batch"), Seq("date"))
          .withColumn("date", date_format(col("date"), "yyyy-MM-dd"))
          .orderBy("date")
      },
      Some("SELECT strftime(o_orderdate, '%Y-%m-%d') AS date, count(*) AS blocks_count, " +
        "count(*) AS total_txs, CAST(0 AS BIGINT) AS total_events " +
        "FROM orders GROUP BY 1 ORDER BY date")))

  // ------------------------------------------------------------------------
  // §2.7 — set operations (EXCEPT/INTERSECT DISTINCT semantics)
  // ------------------------------------------------------------------------

  val setFamily: Seq[(String, Q, Option[String])] = Seq(
    ("set_except",
      (s: SparkSession, d: String) =>
        t(s, d, "orders").select(col("o_orderkey").as("k"))
          .except(t(s, d, "lineitem").select(col("l_orderkey").as("k")))
          .orderBy("k"),
      Some("SELECT o_orderkey AS k FROM orders EXCEPT " +
        "SELECT l_orderkey AS k FROM lineitem ORDER BY k")),

    ("set_intersect",
      (s: SparkSession, d: String) =>
        t(s, d, "customer").select(col("c_custkey").as("k"))
          .intersect(Td.events(s, d).select(col("user_id").as("k")))
          .orderBy("k"),
      Some("SELECT c_custkey AS k FROM customer INTERSECT " +
        "SELECT user_id AS k FROM events ORDER BY k")))

  /** Full §2 relational inventory. */
  val inventory: Seq[(String, Q, Option[String])] =
    pFamily ++ jFamily ++ aFamily ++ wFamily ++ oFamily ++ sFamily ++ fFamily ++
      flatFamily ++ setFamily
}
