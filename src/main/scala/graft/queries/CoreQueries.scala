package graft.queries

import graft.Tables
import graft.operators.Relational._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator coverage (SURVEY.md §2.1–§2.8) expressed over the
  * driver's TPC-H-ish testdata. Each query demonstrates one reference
  * operator re-expressed Spark-first; the oracle SQL is the DuckDB
  * equivalent the driver runs for the correctness gate.
  */
object CoreQueries {

  val all: Seq[QueryDef] = Seq(

    // S1–S4: scan with filter + projection pushed to the parquet reader
    // (reference: per-table COPY extraction with column pruning,
    // include/unescape_copy_row.hpp:340-367).
    QueryDef.sql("q01_scan_filter_project",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.05""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_quantity") > 45 && col("l_discount") < 0.05)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    },

    // S5/A1: global max timestamp scan (reference
    // include/table_extractor.hpp:31-47 running max → planet timestamp).
    QueryDef.sql("q02_max_timestamp",
      """SELECT max(ts) AS max_ts, min(ts) AS min_ts, count(*) AS n_rows
        |FROM events""".stripMargin) {
      (s, d) =>
        Tables.events(s, d)
          .agg(max("ts").as("max_ts"), min("ts").as("min_ts"),
               count(lit(1)).as("n_rows"))
    },

    // O2: global sort by composite key (reference external merge sort,
    // src/dump_reader.cpp:450-628 → Catalyst range-partitioned SortExec).
    QueryDef.sql("q03_global_sort",
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_shipdate")
          .orderBy("l_orderkey", "l_linenumber")
    },

    // J1/J2/A3: 1:N children collected in sequence order (reference
    // way_nodes cursor join, src/copy_elements.cpp:166-235). The sort key
    // leads the struct so array_sort == sequence order; rendered as a
    // joined string so the oracle (string_agg ORDER BY) is comparable.
    QueryDef.sql("q04_collect_ordered",
      """SELECT l_orderkey AS okey,
        |       string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_linenumber, l_partkey) AS parts,
        |       count(*) AS n_items
        |FROM lineitem GROUP BY l_orderkey""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy(col("l_orderkey").as("okey"))
          .agg(
            concat_ws(",", transform(
              array_sort(collect_list(struct(col("l_linenumber"), col("l_partkey")))),
              x => x.getField("l_partkey").cast("string"))).as("parts"),
            count(lit(1)).as("n_items"))
    },

    // J3: parent left-outer 1:N aggregation — parents without children
    // survive (reference changeset ⋈ comments keeps commentless
    // changesets, src/xml_writer.cpp:485-531).
    QueryDef.sql("q05_left_outer_agg",
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |       CAST(round(coalesce(sum(o_totalprice), 0) * 100) AS BIGINT) AS total_cents
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin) {
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey")
          .agg(count("o_orderkey").as("n_orders"),
               cents(coalesce(sum("o_totalprice"), lit(0))).as("total_cents"))
    },

    // J4/F8: broadcast dimension chain (reference uid→display_name map,
    // src/copy_elements.cpp:328-337 — a broadcast join at cluster scale).
    QueryDef.sql("q06_broadcast_dim_join",
      """SELECT r_name, n_name, count(*) AS n_supp,
        |       CAST(round(sum(s_acctbal) * 100) AS BIGINT) AS acctbal_cents
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin) {
      (s, d) =>
        Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(count(lit(1)).as("n_supp"), cents(sum("s_acctbal")).as("acctbal_cents"))
    },

    // J5: two-hop attribution fact→mid→dim (reference element →
    // changeset → user, src/pbf_writer.cpp:564-571 + uid map).
    QueryDef.sql("q07_two_hop_attribution",
      """SELECT c_mktsegment,
        |       CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS revenue_cents,
        |       count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"),
               count(lit(1)).as("n_lines"))
    },

    // F1/F2: guard filters at the earliest scan (reference redaction +
    // negative-id drop, src/copy_elements.cpp:211-218) — pushed to parquet.
    QueryDef.sql("q08_guard_filters",
      """SELECT count(*) AS n_kept, min(p_size) AS min_size, max(p_size) AS max_size
        |FROM part WHERE p_size >= 0 AND p_retailprice IS NOT NULL
        |  AND p_partkey >= 0""".stripMargin) {
      (s, d) =>
        Tables.part(s, d)
          .filter(col("p_size") >= 0 && col("p_retailprice").isNotNull &&
                  col("p_partkey") >= 0)
          .agg(count(lit(1)).as("n_kept"), min("p_size").as("min_size"),
               max("p_size").as("max_size"))
    },

    // F3 window form: latest-version-per-id (reference
    // src/history_filter.cpp:30-245 ≡ row_number()=1).
    QueryDef.sql("q09_latest_per_key",
      """SELECT user_id, event_id AS last_event_id, event_type AS last_type
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin) {
      (s, d) =>
        latestVersion(Tables.events(s, d), Seq("user_id"), Seq(col("ts"), col("event_id")))
          .select(col("user_id"), col("event_id").as("last_event_id"),
                  col("event_type").as("last_type"))
    },

    // F3 agg form: same semantics via partial-aggregatable max_by —
    // the 100 TB-preferred plan (map-side combine, no per-partition sort).
    QueryDef.sql("q10_latest_per_key_agg",
      """SELECT user_id,
        |       max_by(event_id, ts) AS last_event_id,
        |       max(ts) AS last_ts
        |FROM events GROUP BY user_id""".stripMargin) {
      (s, d) =>
        // (user_id, ts) is unique in events, so ts alone totally orders a
        // group; with ties, latestVersionAgg's struct ordering is the shape.
        Tables.events(s, d)
          .groupBy("user_id")
          .agg(max_by(col("event_id"), col("ts")).as("last_event_id"),
               max("ts").as("last_ts"))
    },

    // top-k per group generalization of F3 (k=3), rank window.
    QueryDef.sql("q11_topk_per_group",
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders) WHERE rn <= 3""".stripMargin) {
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice")
      }
    },

    // A1–A3: the classic wide aggregate (TPC-H Q1 shape; reference's only
    // aggregates are max-ts + counts, this is the engine-complete form).
    QueryDef.sql("q12_wide_agg",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(round(sum(l_quantity) * 100) AS BIGINT) AS sum_qty_cents,
        |       CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS sum_price_cents,
        |       CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS sum_disc_cents,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(cents(sum("l_quantity")).as("sum_qty_cents"),
               cents(sum("l_extendedprice")).as("sum_price_cents"),
               cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_cents"),
               count(lit(1)).as("n"))
    },

    // X2: fixed-point coordinate formatting `%.7f` (reference
    // src/xml_writer.cpp:276-282 — int ÷ 1e7 printed at the sink).
    QueryDef.sql("q13_format_fixed7",
      """SELECT event_id,
        |       printf('%.7f', CAST(round(value * 100000) AS BIGINT) / 10000000.0) AS coord
        |FROM events WHERE event_id < 1000""".stripMargin) {
      (s, d) =>
        // reference stores 1e7-scaled *integers* and prints int/1e7 — an
        // exact-7-decimal value, so %.7f never hits a halfway-rounding
        // case (where C and Java printf disagree).
        Tables.events(s, d).filter(col("event_id") < 1000)
          .select(col("event_id"),
            format_string("%.7f",
              round(col("value") * 100000).cast("long") / lit(1e7)).as("coord"))
    },

    // X3: ISO-8601 Zulu timestamp format (reference src/xml_writer.cpp:86-123).
    QueryDef.sql("q14_iso8601_format",
      """SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS iso
        |FROM events WHERE event_id < 1000""".stripMargin) {
      (s, d) =>
        Tables.events(s, d).filter(col("event_id") < 1000)
          .select(col("event_id"),
                  date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("iso"))
    },

    // X4: XML-invalid control chars → '?' (reference src/xml_writer.cpp:41-56).
    QueryDef.sql("q15_control_char_clean",
      """SELECT doc_id,
        |       regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]', '?', 'g') AS clean,
        |       length(text) AS n_chars2
        |FROM documents""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
                  regexp_replace(col("text"), "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", "?").as("clean"),
                  length(col("text")).cast("long").as("n_chars2"))
    },

    // X6/X8: enum ↔ string mapping + bool rendering (reference
    // nwr_enum → "node"/"way"/"relation", src/xml_writer.cpp:615-620).
    QueryDef.sql("q16_enum_decode",
      """SELECT event_id,
        |       CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
        |            WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 9 END AS type_code,
        |       CASE WHEN value > 50 THEN 'true' ELSE 'false' END AS is_big
        |FROM events""".stripMargin) {
      (s, d) =>
        Tables.events(s, d)
          .select(col("event_id"),
            when(col("event_type") === "click", 0)
              .when(col("event_type") === "view", 1)
              .when(col("event_type") === "purchase", 2)
              .when(col("event_type") === "signup", 3)
              .otherwise(9).as("type_code"),
            when(col("value") > 50, "true").otherwise("false").as("is_big"))
    },

    // X7: scalar-aggregate broadcast into a row expression (reference
    // `open = closed_at > max_time`, src/xml_writer.cpp:454-460).
    QueryDef.sql("q17_scalar_agg_broadcast",
      """SELECT o_orderkey,
        |       CASE WHEN o_orderdate = (SELECT max(o_orderdate) FROM orders)
        |            THEN 'open' ELSE 'closed' END AS status
        |FROM orders""".stripMargin) {
      (s, d) => {
        val o = Tables.orders(s, d)
        // cross-join a 1-row aggregate (Catalyst broadcasts it) instead of
        // collecting to the driver — survives the 1000-executor case.
        val maxDate = o.agg(max("o_orderdate").as("__max_date"))
        o.crossJoin(broadcast(maxDate))
          .select(col("o_orderkey"),
            when(col("o_orderdate") === col("__max_date"), "open")
              .otherwise("closed").as("status"))
      }
    },

    // distinct / exact set dedup (§2.7 — reference has none; engine-complete).
    QueryDef.sql("q18_distinct",
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem""") {
      (s, d) =>
        Tables.lineitem(s, d).select("l_returnflag", "l_linestatus").distinct()
    },

    // semi/anti joins (reference J4's implicit semi-filter generalized).
    QueryDef.sql("q19_semi_anti_join",
      """SELECT 'with_orders' AS side, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'without_orders' AS side, count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin) {
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
        val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .agg(count(lit(1)).as("n")).select(lit("with_orders").as("side"), col("n"))
        val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("n")).select(lit("without_orders").as("side"), col("n"))
        semi.unionAll(anti)
      }
    },

    // rollup (grouping sets surface; engine-complete beyond reference).
    QueryDef.sql("q20_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       CAST(round(sum(l_quantity) * 100) AS BIGINT) AS qty_cents
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), cents(sum("l_quantity")).as("qty_cents"))
    },

    // JSON extraction from a string column (events.props `{"k": 69}`).
    QueryDef.sql("q21_json_extract",
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE event_id < 2000""".stripMargin) {
      (s, d) =>
        Tables.events(s, d).filter(col("event_id") < 2000)
          .select(col("event_id"),
                  get_json_object(col("props"), "$.k").cast("long").as("k"))
    },

    // running / windowed analytics: cumulative sum + lag (frame specs —
    // §2.6 notes the reference has only row_number; engine-complete).
    QueryDef.sql("q22_running_window",
      """SELECT user_id, event_id,
        |       CAST(round(sum(value) OVER
        |         (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100) AS BIGINT)
        |         AS running_cents,
        |       lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event
        |FROM events WHERE user_id < 100""".stripMargin) {
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables.events(s, d).filter(col("user_id") < 100)
          .select(col("user_id"), col("event_id"),
            cents(sum("value").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
              .as("running_cents"),
            lag("event_id", 1).over(w).as("prev_event"))
      }
    },

    // exact percentiles + distinct counting (engine-complete aggregates).
    QueryDef.sql("q42_percentiles_distinct",
      """SELECT l_returnflag,
        |       CAST(round(quantile_cont(l_quantity, 0.5) * 100) AS BIGINT) AS p50_cents,
        |       CAST(round(quantile_cont(l_quantity, 0.95) * 100) AS BIGINT) AS p95_cents,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) {
      (s, d) => {
        // Three column-pruned aggregations joined on the (tiny) group key
        // instead of one agg with two countDistincts + exact percentiles:
        // that single-agg form forces an Expand (3× row multiplication
        // into one mega shuffle). Here each distinct count partial-
        // aggregates map-side and shuffles only distinct (flag, key)
        // pairs; the exact percentile — the oracle contract; swap in
        // approx_percentile at 100 TB — sorts only (flag, quantity).
        // The 3-row joins broadcast.
        val li = Tables.lineitem(s, d)
        val pct = li.groupBy("l_returnflag")
          .agg(cents(percentile(col("l_quantity"), lit(0.5))).as("p50_cents"),
            cents(percentile(col("l_quantity"), lit(0.95))).as("p95_cents"))
        val parts = li.select("l_returnflag", "l_partkey")
          .where(col("l_partkey").isNotNull).distinct()
          .groupBy("l_returnflag").agg(count(lit(1)).as("n_parts"))
        val supps = li.select("l_returnflag", "l_suppkey")
          .where(col("l_suppkey").isNotNull).distinct()
          .groupBy("l_returnflag").agg(count(lit(1)).as("n_supps"))
        pct.join(parts, "l_returnflag").join(supps, "l_returnflag")
      }
    },

    // histogram binning (explicit floor buckets — the oracle engine
    // predates width_bucket; identical arithmetic both sides).
    QueryDef.sql("q43_histogram",
      """SELECT CAST(floor(o_totalprice / 5000) AS BIGINT) AS bucket,
        |       count(*) AS n,
        |       CAST(round(min(o_totalprice) * 100) AS BIGINT) AS min_cents
        |FROM orders GROUP BY 1""".stripMargin) {
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(floor(col("o_totalprice") / 5000).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n"), cents(min("o_totalprice")).as("min_cents"))
    },

    // cube (full grouping-set lattice; q20 covers rollup).
    QueryDef.sql("q44_cube",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin) {
      (s, d) =>
        Tables.orders(s, d).cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
    },

    // time-bucketed aggregation (batch form of the streaming windowed agg).
    QueryDef.sql("q23_time_bucket_agg",
      """SELECT date_trunc('hour', ts) AS hour_bucket, event_type,
        |       count(*) AS n,
        |       CAST(round(sum(value) * 100) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("hour_bucket"), col("event_type"))
          .agg(count(lit(1)).as("n"), cents(sum("value")).as("value_cents"))
    },

    // Batch sessionization (the batch twin of streaming
    // sessionizeEventTime, same 30-min gap rule): a session starts at
    // a gap > 30 min from the previous event; session_seq = running
    // count of session starts. Two user-partitioned windows + one
    // aggregate; microsecond-exact gap arithmetic on both engines.
    QueryDef.sql("q57_sessionize_batch",
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
        |                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              <= 1800000000 THEN 0 ELSE 1 END AS is_new
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM flagged)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |       count(*) AS n_events, min(ts) AS first_ts, max(ts) AS last_ts,
        |       CAST(round(sum(value) * 100) AS BIGINT) AS value_cents
        |FROM sess GROUP BY 1, 2""".stripMargin) {
      (s, d) => {
        val byUser = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        // same (ts, event_id) tie-break as the lag window — with ties
        // on ts alone, which tied row "sees" a session start first
        // would otherwise be engine-dependent
        val running = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        Tables.events(s, d)
          .withColumn("is_new",
            when(unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)
              <= 1800000000L, 0L).otherwise(1L))
          .withColumn("session_seq", sum("is_new").over(running))
          .groupBy(col("user_id"), col("session_seq"))
          .agg(count(lit(1)).as("n_events"), min("ts").as("first_ts"),
            max("ts").as("last_ts"), cents(sum("value")).as("value_cents"))
      }
    },

    // Pivot (wide conditional aggregation): event counts per user by
    // type. Spark's groupBy().pivot() compiles to exactly the
    // conditional-aggregate form the oracle writes out — one hash agg,
    // no row multiplication.
    QueryDef.sql("q58_pivot", {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val filters = types
        .map(t => s"       count(*) FILTER (event_type = '$t') AS \"$t\"")
        .mkString(",\n")
      s"""SELECT user_id,
         |$filters
         |FROM events GROUP BY user_id""".stripMargin
    }) {
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        Tables.events(s, d)
          .groupBy("user_id")
          .pivot("event_type", types)
          .agg(count(lit(1)))
          .na.fill(0L, types)
      }
    },

    // TPC-H Q1 (pricing summary): the canonical wide aggregate —
    // partial-aggregates map-side, money rendered hash-stable in cents.
    QueryDef.sql("q60_tpch_q1",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |  CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS sum_base_cents,
        |  CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS sum_disc_cents,
        |  CAST(round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100) AS BIGINT) AS sum_charge_cents,
        |  CAST(round(avg(l_quantity) * 1000) AS BIGINT) AS avg_qty_milli,
        |  CAST(round(avg(l_extendedprice) * 100) AS BIGINT) AS avg_price_cents,
        |  CAST(round(avg(l_discount) * 100000) AS BIGINT) AS avg_disc_e5,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum("l_quantity")).cast("long").as("sum_qty"),
            cents(sum("l_extendedprice")).as("sum_base_cents"),
            cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .as("sum_disc_cents"),
            cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
              * (lit(1) + col("l_tax")))).as("sum_charge_cents"),
            round(avg("l_quantity") * 1000).cast("long").as("avg_qty_milli"),
            cents(avg("l_extendedprice")).as("avg_price_cents"),
            round(avg("l_discount") * 100000).cast("long").as("avg_disc_e5"),
            count(lit(1)).as("count_order"))
    },

    // TPC-H Q3 (shipping priority, adapted: this schema carries
    // o_orderpriority instead of o_shippriority): 3-way join +
    // aggregate + deterministic top-10 (integer revenue, orderkey
    // tie-break) — compiles to TakeOrderedAndProject, no global sort.
    QueryDef.sql("q61_tpch_q3",
      """SELECT l_orderkey,
        |  CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS revenue_cents,
        |  o_orderdate, o_orderpriority
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY 1, 3, 4
        |ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""".stripMargin) {
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
        val l = Tables.lineitem(s, d)
          .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("l_orderkey"))
          .limit(10)
          .select("l_orderkey", "revenue_cents", "o_orderdate", "o_orderpriority")
      }
    },

    // TPC-H Q5 (local-supplier revenue): the six-way join — region and
    // nation broadcast, customer/supplier co-key the join, one
    // partial-aggregating rollup per nation. The canonical
    // join-reorder/broadcast showcase.
    QueryDef.sql("q62_tpch_q5",
      """SELECT n_name,
        |  CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT) AS revenue_cents
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin) {
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        Tables.customer(s, d)
          .join(o, col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.supplier(s, d),
            col("l_suppkey") === col("s_suppkey")
              && col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(cents(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"))
      }
    },

    // AS-OF join: each purchase attributed to the user's latest click
    // at-or-before it. The oracle uses the engine-native ASOF JOIN;
    // Spark lacks one, so Relational.asofJoin composes it as a tagged
    // union + one windowed carry-forward — no row multiplication (the
    // naive range join explodes |L|·|R| per key). Only the click ts is
    // emitted: with duplicate click timestamps, which same-ts row wins
    // is engine-unspecified, the timestamp itself is not.
    QueryDef.sql("q63_asof_join",
      """SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin) {
      (s, d) => {
        val ev = Tables.events(s, d)
        val p = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val c = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("ts").as("click_ts"))
        asofJoin(p, c, "user_id", "ts", Seq("click_ts"))
          .withColumnRenamed("asof_click_ts", "click_ts")
      }
    },

    // Range join: every event inside the 20 busiest hour-long windows.
    // Keyless interval containment — the oracle does the inequality
    // join directly; Spark grid-buckets it (Relational.rangeJoin) so
    // only bucket-plausible pairs ever join, instead of a nested-loop
    // cartesian.
    QueryDef.sql("q64_range_join",
      """WITH buckets AS (
        |  SELECT date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events GROUP BY 1),
        |peaks AS (SELECT h FROM buckets ORDER BY n DESC, h LIMIT 20)
        |SELECT e.event_id, p.h AS window_start
        |FROM events e JOIN peaks p
        |  ON e.ts >= p.h AND e.ts < p.h + INTERVAL 1 HOUR""".stripMargin) {
      (s, d) => {
        val ev = Tables.events(s, d)
        val peaks = ev.groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("h")).limit(20)
          .select(col("h").as("window_start"),
            (col("h") + expr("INTERVAL 1 HOUR")).as("window_end"))
        rangeJoin(ev.select("event_id", "ts"), "ts",
            peaks, "window_start", "window_end")
          .select("event_id", "window_start")
      }
    },

    // Correlated EXISTS through the SQL front door (Catalyst rewrites
    // the subquery to a left-semi join): customers with at least one
    // urgent order.
    QueryDef.sql("q59_exists_subquery",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')""".stripMargin) {
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer")
        Tables.orders(s, d).createOrReplaceTempView("orders")
        s.sql(
          """SELECT c_custkey, c_name FROM customer c
            |WHERE EXISTS (SELECT 1 FROM orders o
            |              WHERE o.o_custkey = c.c_custkey
            |                AND o.o_orderpriority = '1-URGENT')""".stripMargin)
      }
    },

    // TPC-H Q18 (large-volume customers): the HAVING aggregate over
    // the biggest table, joined back to orders/customer. The Spark
    // plan computes the per-order quantity aggregate ONCE — it serves
    // both the HAVING filter and the final sum (the output grouping
    // keys are functionally determined by o_orderkey), so lineitem is
    // scanned and shuffled exactly once; the surviving order set is
    // tiny (~0.3% of orders) and BROADCASTS into orders, then that
    // result broadcasts into customer. At 100 TB: one lineitem shuffle
    // on l_orderkey, zero customer/orders shuffles, top-100 via
    // TakeOrderedAndProject.
    QueryDef.sql("q66_tpch_q18",
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300)
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY totalprice_cents DESC, o_orderkey LIMIT 100""".stripMargin) {
      (s, d) => {
        // filter on the UNROUNDED sum — the HAVING in the oracle sees
        // sum(l_quantity) > 300, so a fractional sum in (300, 300.5]
        // must pass here too; rounding is output formatting only
        val perOrder = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(sum("l_quantity").as("qty_sum"))
          .filter(col("qty_sum") > 300)
          .select(col("l_orderkey"), round(col("qty_sum")).cast("long").as("sum_qty"))
        val o = Tables.orders(s, d)
          .join(broadcast(perOrder), col("o_orderkey") === col("l_orderkey"))
        Tables.customer(s, d)
          .join(broadcast(o), col("c_custkey") === col("o_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"),
            round(col("o_totalprice") * 100).cast("long").as("totalprice_cents"),
            col("sum_qty"))
          .orderBy(col("totalprice_cents").desc, col("o_orderkey"))
          .limit(100)
      }
    },

    // TPC-H Q4 (order priority checking, adapted: this schema has no
    // l_commitdate/l_receiptdate, so "late" = any line shipped >60
    // days after the order date). The EXISTS compiles to ONE left-semi
    // join with the non-equi ship-date predicate evaluated inside the
    // join — lineitem is never aggregated or deduplicated first, and
    // the quarter filter prunes orders at the scan. At 100 TB: one
    // shuffle each side on orderkey, semi-join short-circuits per
    // order at the first qualifying line.
    QueryDef.sql("q70_tpch_q4",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1""".stripMargin) {
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp")
            && col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
        val l = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
        o.join(l, col("l_orderkey") === col("o_orderkey")
            && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
      }
    },

    // TPC-H Q13 (customer order-count distribution): LEFT OUTER join
    // whose filter lives in the JOIN CONDITION, not WHERE (a WHERE
    // would silently turn the outer join inner and drop zero-order
    // customers), then a two-level aggregate. count(o_orderkey)
    // counts non-null matches, so customers with no surviving orders
    // land in the c_count=0 bucket. Both aggregates partial map-side;
    // the second input is at most |customers| rows.
    QueryDef.sql("q71_tpch_q13",
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |      FROM customer c
        |      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |        AND o.o_orderpriority <> '1-URGENT'
        |      GROUP BY 1) t
        |GROUP BY 1""".stripMargin) {
      (s, d) =>
        Tables.customer(s, d).select("c_custkey")
          .join(Tables.orders(s, d)
              .filter(col("o_orderpriority") =!= "1-URGENT")
              .select("o_custkey", "o_orderkey"),
            col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
    },

    // TPC-H Q21 (suppliers who kept orders waiting, adapted: the
    // "fault" marker is l_returnflag = 'R' since this schema carries
    // no receipt/commit dates): the hardest decorrelation shape in
    // the suite — a semi-join AND an anti-join against the SAME big
    // table, both correlated on orderkey with a supplier inequality.
    // The oracle keeps that classic form; fed the same SQL, Catalyst
    // rewrites both subqueries to orderkey-keyed joins but scans and
    // shuffles lineitem THREE times (verified in the sf plan). The
    // window form below is the one-pass algebra: per order,
    //   EXISTS(other supplier)       ⟺ |distinct suppliers| ≥ 2,
    //   NOT EXISTS(other R-supplier) ⟺ |distinct R-suppliers| = 1
    // (the candidate line is itself R, so its supplier is in the set),
    // both computed as collect_set windows over ONE orderkey
    // partitioning — one lineitem scan, one fact shuffle, and the
    // orders join lands on the already-partitioned key. Per-order
    // supplier sets are naturally tiny (≤7 in TPC-H), so the
    // collect_set state is bounded.
    QueryDef.sql("q72_tpch_q21",
      """SELECT s_name, count(*) AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin) {
      (s, d) => {
        val byOrder = Window.partitionBy("l_orderkey")
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_returnflag")
          .withColumn("n_supp", size(collect_set(col("l_suppkey")).over(byOrder)))
          .withColumn("n_supp_r", size(collect_set(
            when(col("l_returnflag") === "R", col("l_suppkey"))).over(byOrder)))
          .filter(col("l_returnflag") === "R" &&
            col("n_supp") >= 2 && col("n_supp_r") === 1)
          .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
              .select("o_orderkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.supplier(s, d)),
            col("s_suppkey") === col("l_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(100)
      }
    },

    // TPC-H Q22 (global sales opportunity, adapted: nationkey stands
    // in for the phone country code, "inactive" = no order since
    // 2000): scalar aggregate subquery (the corpus-wide average
    // balance, one tiny broadcast) + correlated NOT EXISTS (anti-join
    // on custkey). The threshold floor(avg(bal_cents)) is computed
    // ENTIRELY in integer arithmetic — sum(cents) DIV count — never
    // through a double avg: avg's double accumulation is summation-
    // order-dependent, and past 2^53 total cents a 1-ULP difference
    // between engines shifts the floor by one cent and flips boundary
    // customers. Integer sums are order-independent and exact
    // (balances are bounded, so even 10^10 customers × 10^6 cents
    // stays far under the 2^63 BIGINT ceiling; DuckDB sums in
    // int128), and both operands are positive so truncating division
    // IS floor.
    QueryDef.sql("q73_tpch_q22",
      """WITH bal AS (SELECT c_custkey, c_nationkey,
        |                    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |             FROM customer WHERE c_acctbal > 0.0),
        |thr AS (SELECT CAST(sum(bal_cents) // count(*) AS BIGINT) AS t FROM bal)
        |SELECT c_nationkey, count(*) AS numcust,
        |       CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
        |FROM bal CROSS JOIN thr
        |WHERE bal_cents > t
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = bal.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1""".stripMargin) {
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer")
        Tables.orders(s, d).createOrReplaceTempView("orders")
        s.sql(
          """WITH bal AS (SELECT c_custkey, c_nationkey,
            |                    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
            |             FROM customer WHERE c_acctbal > 0.0),
            |thr AS (SELECT sum(bal_cents) DIV count(*) AS t FROM bal)
            |SELECT c_nationkey, count(*) AS numcust,
            |       CAST(sum(bal_cents) AS BIGINT) AS totacctbal_cents
            |FROM bal CROSS JOIN thr
            |WHERE bal_cents > t
            |  AND NOT EXISTS (SELECT 1 FROM orders o
            |                  WHERE o.o_custkey = bal.c_custkey
            |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
            |GROUP BY 1""".stripMargin)
      }
    },

    // TPC-H Q17 (small-quantity-order revenue): the classic CORRELATED
    // SCALAR SUBQUERY — each lineitem compares its quantity against an
    // aggregate over its OWN part's lineitems. Through the SQL front
    // door so Catalyst's decorrelation (RewriteCorrelatedScalarSubquery)
    // does the rewrite: the subquery becomes ONE per-partkey aggregate
    // over lineitem joined back to the outer scan — one lineitem
    // shuffle for the aggregate, whose |parts|-sized result AQE then
    // broadcasts into the outer side (verified in the sf plan), so
    // lineitem is never shuffled twice here. Honest scale note: at a
    // part count where the aggregate outgrows broadcast, AQE keeps a
    // partkey-partitioned shuffle join — two lineitem shuffles; the
    // one-shuffle alternative at that extreme is the window form
    // (sum/count over partkey partitions, the q09/q10 shape). The
    // engine picks per stats; both are skew-safe on partkey. The Q17
    // predicate l_quantity < 0.2 *
    // avg(l_quantity) is restated in EXACT integer arithmetic:
    // qty < sum/(5*cnt)  ⟺  qty <= (sum-1) div (5*cnt) for integer
    // qty and positive sums (quantities are >= 1) — no double avg, no
    // 0.2 rounding, engine-deterministic at any scale. Revenue sums
    // per-row cents (BIGINT), not doubles, for the same reason.
    QueryDef.sql("q74_tpch_q17",
      """WITH lq AS (SELECT l_partkey, CAST(round(l_quantity) AS BIGINT) AS qty,
        |                   CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
        |            FROM lineitem)
        |SELECT CAST(sum(price_cents) AS BIGINT) AS revenue_cents,
        |       count(*) AS n_lines
        |FROM lq l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand = 'Brand#4'
        |  AND l.qty <= (SELECT (sum(qty) - 1) // (5 * count(*))
        |                FROM lq l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin) {
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        Tables.part(s, d).createOrReplaceTempView("part")
        s.sql(
          """WITH lq AS (SELECT l_partkey, CAST(round(l_quantity) AS BIGINT) AS qty,
            |                   CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
            |            FROM lineitem)
            |SELECT CAST(sum(price_cents) AS BIGINT) AS revenue_cents,
            |       count(*) AS n_lines
            |FROM lq l JOIN part p ON p.p_partkey = l.l_partkey
            |WHERE p.p_brand = 'Brand#4'
            |  AND l.qty <= (SELECT (sum(qty) - 1) DIV (5 * count(*))
            |                FROM lq l2 WHERE l2.l_partkey = l.l_partkey)""".stripMargin)
      }
    },

    // GROUPING SETS beyond rollup (q20) and cube (q44): the two
    // one-dimension margins of (priority, status) plus the grand total
    // WITHOUT the full cross product — Catalyst plans ONE Expand (3
    // replicas per row) into one partial-aggregating hash agg, the
    // same single-shuffle shape as rollup/cube, just a sparser grid.
    // Money sums are per-row cents (BIGINT) before aggregation.
    QueryDef.sql("q76_grouping_sets",
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS total_cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin) {
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders")
        s.sql(
          """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
            |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            |         AS total_cents
            |FROM orders
            |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""".stripMargin)
      }
    },

    // RECURSIVE CTE (Spark 4's WITH RECURSIVE): a generated weekly
    // date spine LEFT-joined against weekly order counts — the
    // standard gap-filling pattern that exposes zero-activity periods
    // a bare GROUP BY silently drops (the spine deliberately extends
    // 6 months past the filtered data so the coalesce(0) path is
    // real: ~26 empty weeks). The recursion is a 78-step linear chain
    // (UNION ALL + strictly-advancing date guard, under Spark's
    // default 100-level limit); the join side is one ordinary
    // aggregate. Note Spark executes the spine as its UnionLoop plan
    // on the driver-side single row — the DATA path (orders) stays a
    // normal distributed agg, which is the right split at 100 TB:
    // recursion over a 78-row spine, never over the corpus (cyclic
    // reachability at scale is Dedup.connectedComponents, q55 —
    // Spark's recursive CTE is UNION ALL-only and cannot terminate
    // on cycles).
    QueryDef.sql("q77_recursive_spine",
      """WITH RECURSIVE weeks(d) AS (
        |  SELECT DATE '1996-01-01'
        |  UNION ALL
        |  SELECT d + INTERVAL 7 DAY FROM weeks
        |  WHERE d + INTERVAL 7 DAY < DATE '1997-07-01')
        |SELECT CAST(d AS DATE) AS week_start,
        |       CAST(coalesce(n, 0) AS BIGINT) AS n_orders
        |FROM weeks LEFT JOIN (
        |  SELECT DATE '1996-01-01' + INTERVAL (7 * CAST(floor(
        |           date_diff('day', DATE '1996-01-01', CAST(o_orderdate AS DATE)) / 7)
        |           AS INTEGER)) DAY AS wk,
        |         count(*) AS n
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1) t ON t.wk = weeks.d""".stripMargin) {
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders")
        s.sql(
          """WITH RECURSIVE weeks(d) AS (
            |  SELECT DATE '1996-01-01'
            |  UNION ALL
            |  SELECT date_add(d, 7) FROM weeks WHERE date_add(d, 7) < DATE '1997-07-01')
            |SELECT d AS week_start, CAST(coalesce(n, 0) AS BIGINT) AS n_orders
            |FROM weeks LEFT JOIN (
            |  SELECT date_add(DATE '1996-01-01',
            |           7 * CAST(floor(datediff(CAST(o_orderdate AS DATE),
            |                                   DATE '1996-01-01') / 7) AS INT)) AS wk,
            |         count(*) AS n
            |  FROM orders
            |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            |    AND o_orderdate < TIMESTAMP '1997-01-01'
            |  GROUP BY 1) t ON t.wk = weeks.d""".stripMargin)
      }
    },

    // LATERAL correlated subquery with ORDER BY + LIMIT: top-2
    // highest-value orders per customer — the per-key top-k shape
    // expressed through the SQL front door instead of a window
    // (Catalyst decorrelates the lateral into a per-customer
    // rank-and-filter; customers with no orders drop out, inner
    // lateral semantics on both engines). Ties break on orderkey so
    // the LIMIT cut is engine-deterministic; money compares as exact
    // cents.
    QueryDef.sql("q78_lateral_topk",
      """SELECT c.c_custkey, l.o_orderkey, l.totalprice_cents
        |FROM customer c,
        |LATERAL (SELECT o_orderkey,
        |                CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents
        |         FROM orders o WHERE o.o_custkey = c.c_custkey
        |         ORDER BY totalprice_cents DESC, o_orderkey LIMIT 2) l""".stripMargin) {
      (s, d) => {
        Tables.customer(s, d).createOrReplaceTempView("customer")
        Tables.orders(s, d).createOrReplaceTempView("orders")
        s.sql(
          """SELECT c.c_custkey, l.o_orderkey, l.totalprice_cents
            |FROM customer c,
            |LATERAL (SELECT o_orderkey,
            |                CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents
            |         FROM orders o WHERE o.o_custkey = c.c_custkey
            |         ORDER BY totalprice_cents DESC, o_orderkey LIMIT 2) l""".stripMargin)
      }
    },

    // The SKEW-RESISTANT ordered collect, oracle-gated (q04 gates the
    // plain form; the spec proves salted ≡ plain — this gates the
    // salted path itself against the engine-independent semantics).
    // Phase 1 spreads each hot key across `salts` reducers (salt =
    // order-column mod salts), phase 2 flattens + sorts per key — no
    // single reducer ever receives a viral key's full row stream.
    QueryDef.sql("q85_collect_ordered_salted",
      """SELECT l_orderkey AS okey,
        |       string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_linenumber, l_partkey) AS parts,
        |       count(*) AS n_items
        |FROM lineitem GROUP BY l_orderkey""".stripMargin) {
      (s, d) =>
        collectOrderedSalted(Tables.lineitem(s, d), Seq("l_orderkey"),
            "l_linenumber", Seq("l_partkey"), "arr", salts = 8)
          .select(col("l_orderkey").as("okey"),
            concat_ws(",", transform(col("arr"),
              x => x.getField("l_partkey").cast("string"))).as("parts"),
            size(col("arr")).cast("long").as("n_items"))
    },

    // TPC-H Q7 (volume shipping): the deepest join tree in the suite —
    // lineitem ⋈ supplier ⋈ orders ⋈ customer ⋈ nation ×2, revenue by
    // (supplier nation, customer nation, year) for one nation pair in
    // both directions. The nation filter prunes BEFORE the big joins
    // (two tiny nation dims broadcast into supplier/customer, which
    // then broadcast into the fact scans), so at 100 TB lineitem
    // shuffles only for its orderkey join with the surviving orders —
    // and AQE broadcasts even that when the pair filter is selective.
    // Money is per-row cents (BIGINT) before the sum.
    QueryDef.sql("q86_tpch_q7",
      """SELECT supp_nation, cust_nation, yr,
        |       CAST(sum(vol_cents) AS BIGINT) AS revenue_cents,
        |       count(*) AS n_lines
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         CAST(year(l_shipdate) AS BIGINT) AS yr,
        |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |           AS vol_cents
        |  FROM lineitem l
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        |  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) t
        |GROUP BY 1, 2, 3""".stripMargin) {
      (s, d) => {
        Seq("lineitem" -> Tables.lineitem(s, d), "supplier" -> Tables.supplier(s, d),
          "orders" -> Tables.orders(s, d), "customer" -> Tables.customer(s, d),
          "nation" -> Tables.nation(s, d))
          .foreach { case (n, df) => df.createOrReplaceTempView(n) }
        s.sql(
          """SELECT supp_nation, cust_nation, yr,
            |       CAST(sum(vol_cents) AS BIGINT) AS revenue_cents,
            |       count(*) AS n_lines
            |FROM (
            |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
            |         CAST(year(l_shipdate) AS BIGINT) AS yr,
            |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
            |           AS vol_cents
            |  FROM lineitem l
            |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
            |  JOIN orders o ON o.o_orderkey = l.l_orderkey
            |  JOIN customer c ON c.c_custkey = o.o_custkey
            |  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
            |  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
            |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) t
            |GROUP BY 1, 2, 3""".stripMargin)
      }
    },

    // TPC-H Q6 (forecast revenue change): the pure-scan aggregate.
    // Every predicate (shipdate year, discount band, quantity cap) is a
    // parquet-pushable comparison and the projection prunes to three
    // columns, so at 100 TB the scan skips row groups on min/max stats
    // and reads ~3/11 of the bytes; the only exchange is the single
    // partial→final agg. Revenue is per-row cents (BIGINT) pre-sum.
    QueryDef.sql("q87_tpch_q6",
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
        |            AS BIGINT) AS revenue_cents,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
          .agg(sum(round(col("l_extendedprice") * col("l_discount") * 100).cast("long"))
                 .cast("long").as("revenue_cents"),
               count(lit(1)).as("n_lines"))
    },

    // TPC-H Q10 (returned-item losses): the join-then-top-k shape.
    // lineitem keeps only returnflag='R' rows before its one shuffle on
    // orderkey against the date-windowed orders; customer and nation are
    // broadcast into the per-customer agg, and the final top-20 compiles
    // to TakeOrderedAndProject — no global sort is ever materialized.
    // Ties at the cut break on custkey so the LIMIT is deterministic.
    QueryDef.sql("q88_tpch_q10",
      """SELECT c_custkey, c_name, n_name,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |            AS BIGINT) AS revenue_cents
        |FROM customer
        |JOIN orders   ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation   ON n_nationkey = c_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_cents DESC, c_custkey LIMIT 20""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
          .join(Tables.orders(s, d)
              .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1996-07-01").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "n_name")
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long")).cast("long").as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("c_custkey"))
          .limit(20)
    },

    // TPC-H Q14 (promotion effect): conditional aggregation over a
    // broadcast part⋈lineitem join on a one-month shipdate slice. The
    // headline ratio is reported in integer basis points
    // (promo*10000 DIV total) so both engines divide exact BIGINTs —
    // no floating ratio crosses the oracle boundary.
    QueryDef.sql("q89_tpch_q14",
      """WITH j AS (
        |  SELECT p_type,
        |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS v
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01')
        |SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN v ELSE 0 END) AS BIGINT)
        |         AS promo_cents,
        |       CAST(sum(v) AS BIGINT) AS total_cents,
        |       CAST(sum(CASE WHEN p_type = 'PROMO' THEN v ELSE 0 END) * 10000
        |            // sum(v) AS BIGINT) AS promo_bps
        |FROM j""".stripMargin) {
      (s, d) => {
        val j = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
          .join(broadcast(Tables.part(s, d)), col("p_partkey") === col("l_partkey"))
          .select(col("p_type"),
            round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
              .cast("long").as("v"))
        j.agg(
          sum(when(col("p_type") === "PROMO", col("v")).otherwise(0L)).cast("long")
            .as("promo_cents"),
          sum(col("v")).cast("long").as("total_cents"))
         .select(col("promo_cents"), col("total_cents"),
           expr("promo_cents * 10000 DIV total_cents").as("promo_bps"))
      }
    },

    // TPC-H Q19 (discounted revenue): the OR-of-ANDs disjunction that
    // classically defeats naive pushdown. Spark splits the common
    // conjuncts (the join key) from the disjunction, broadcasts the
    // filtered part side, and evaluates the residual OR as one codegen'd
    // predicate after the join — l_quantity bounds (the only
    // single-table conjunct derivable from the OR: qty between 1 and 30)
    // are NOT hand-hoisted; the gate checks the engine handles the
    // disjunction as written.
    QueryDef.sql("q90_tpch_q19",
      """SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |            AS BIGINT) AS revenue_cents,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 50
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)), col("p_partkey") === col("l_partkey"))
          .filter(
            (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(1, 50) &&
              col("l_quantity").between(20, 30)))
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
                 .cast("long")).cast("long").as("revenue_cents"),
               count(lit(1)).as("n_lines"))
    },

    // TPC-H Q15 (top supplier): the per-supplier revenue view is
    // referenced twice — once joined, once under max(). The oracle
    // keeps the scalar-subquery form; fed the same SQL, Catalyst plans
    // the subquery as its OWN scan+aggregate of lineitem (two full
    // passes, verified in the sf plan — the subquery channel does not
    // reuse the main plan's exchange). The form below computes `rev`
    // once and broadcasts its one-row max back as a cross join, so
    // lineitem is scanned and shuffled once and the second reference
    // costs only the tiny rollup. Exact-cents revenue makes the
    // "equals max" cut engine-deterministic (double revenue here would
    // make ties engine-dependent — the classic Q15 trap).
    QueryDef.sql("q91_tpch_q15",
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |              AS BIGINT) AS total_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_cents
        |FROM supplier JOIN rev ON l_suppkey = s_suppkey
        |WHERE total_cents = (SELECT max(total_cents) FROM rev)""".stripMargin) {
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .groupBy("l_suppkey")
          .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long")).cast("long").as("total_cents"))
        val mx = rev.agg(max("total_cents").as("mx"))
        rev.crossJoin(broadcast(mx))
          .filter(col("total_cents") === col("mx"))
          .join(broadcast(Tables.supplier(s, d)),
            col("s_suppkey") === col("l_suppkey"))
          .select("s_suppkey", "s_name", "total_cents")
      }
    },

    // TPC-H Q11 (important stock, adapted — the testdata has no
    // partsupp, so "inventory value" is per-part shipped value from
    // lineitem): a filter against global aggregates. The oracle keeps
    // the scalar-subquery form; fed the same SQL, Catalyst recomputed
    // the per-part agg once per subquery (three lineitem passes,
    // verified in the sf plan). The form below runs the per-part agg
    // ONCE, rolls its (count, total) up into one broadcast row, and
    // filters against it. The cut is "value > 1.2× the average part's value"
    // (value × n_parts × 10 > total × 12) — relative to the average,
    // NOT a fixed fraction of the total, so selectivity is scale-free
    // (~16% at sf0.01 AND sf0.1; a fixed total-fraction cut
    // degenerates as the part count grows). All-integer compare; at
    // true 100 TB the product nears int64 range, so the production
    // form would widen to DECIMAL(38,0) — same plan shape.
    QueryDef.sql("q92_tpch_q11",
      """WITH v AS (
        |  SELECT l_partkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |           AS value_cents
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT l_partkey AS partkey, value_cents
        |FROM v
        |WHERE value_cents * (SELECT count(*) FROM v) * 10
        |      > (SELECT CAST(sum(value_cents) AS BIGINT) FROM v) * 12""".stripMargin) {
      (s, d) => {
        val v = Tables.lineitem(s, d)
          .groupBy("l_partkey")
          .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .cast("long").as("value_cents"))
        val t = v.agg(count(lit(1)).as("n_parts"),
          sum("value_cents").as("tot"))
        v.crossJoin(broadcast(t))
          .filter(col("value_cents") * col("n_parts") * 10 > col("tot") * 12)
          .select(col("l_partkey").as("partkey"), col("value_cents"))
      }
    },

    // TPC-H Q12 (shipping priority, adapted — no shipmode/receiptdate
    // columns, so the class is l_linestatus and "late" is shipped ≥60
    // days after the order date): the conditional two-way count split.
    // The date lag compares DATE + integer days (exact calendar
    // arithmetic on both engines — no interval-literal dialect drift),
    // and the orderkey join is the one shuffle; the year filter prunes
    // the lineitem scan before it.
    QueryDef.sql("q93_tpch_q12",
      """SELECT l_linestatus AS ship_class,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE) + 60
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus""".stripMargin) {
      (s, d) => {
        val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate").cast("date") >=
            date_add(col("o_orderdate").cast("date"), 60))
          .groupBy(col("l_linestatus").as("ship_class"))
          .agg(sum(when(high, 1).otherwise(0)).cast("long").as("high_line_count"),
               sum(when(high, 0).otherwise(1)).cast("long").as("low_line_count"))
      }
    },

    // TPC-H Q8 (national market share): the widest join tree in the
    // suite — lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region (demand
    // side) ⋈ part ⋈ supplier ⋈ nation (supply side), 7 joins. Region +
    // part-type filters prune the dims BEFORE broadcast, so only the
    // lineitem⋈orders edge shuffles at scale. Share is integer basis
    // points (cents × 10000 DIV total) — no float ratio in the gate;
    // HAVING total > 0 guards the division identically on both engines.
    QueryDef.sql("q94_tpch_q8",
      """SELECT yr,
        |       CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN v ELSE 0 END) AS BIGINT)
        |         AS nation_cents,
        |       CAST(sum(v) AS BIGINT) AS total_cents,
        |       CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN v ELSE 0 END) * 10000
        |            // sum(v) AS BIGINT) AS share_bps
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS v,
        |         n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders   ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON n1.n_nationkey = c_nationkey
        |  JOIN region   ON r_regionkey = n1.n_regionkey
        |  JOIN part     ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n2 ON n2.n_nationkey = s_nationkey
        |  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD') t
        |GROUP BY yr HAVING sum(v) > 0""".stripMargin) {
      (s, d) => {
        Seq("lineitem" -> Tables.lineitem(s, d), "orders" -> Tables.orders(s, d),
          "customer" -> Tables.customer(s, d), "nation" -> Tables.nation(s, d),
          "region" -> Tables.region(s, d), "part" -> Tables.part(s, d),
          "supplier" -> Tables.supplier(s, d))
          .foreach { case (n, df) => df.createOrReplaceTempView(n) }
        s.sql(
          """SELECT yr,
            |       CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN v ELSE 0 END) AS BIGINT)
            |         AS nation_cents,
            |       CAST(sum(v) AS BIGINT) AS total_cents,
            |       CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN v ELSE 0 END) * 10000
            |            DIV sum(v) AS BIGINT) AS share_bps
            |FROM (
            |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
            |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS v,
            |         n2.n_name AS supp_nation
            |  FROM lineitem
            |  JOIN orders   ON o_orderkey = l_orderkey
            |  JOIN customer ON c_custkey = o_custkey
            |  JOIN nation n1 ON n1.n_nationkey = c_nationkey
            |  JOIN region   ON r_regionkey = n1.n_regionkey
            |  JOIN part     ON p_partkey = l_partkey
            |  JOIN supplier ON s_suppkey = l_suppkey
            |  JOIN nation n2 ON n2.n_nationkey = s_nationkey
            |  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD') t
            |GROUP BY yr HAVING sum(v) > 0""".stripMargin)
      }
    },

    // TPC-H Q9 (product type profit, adapted — the testdata has no
    // partsupp/ps_supplycost, so cost is the part's list price ×
    // quantity): profit by supplier nation and order year for parts
    // matching a name substring. The LIKE filter prunes part BEFORE its
    // broadcast; supplier+nation broadcast too; lineitem⋈orders on
    // orderkey is the one shuffle. Profit is exact integer cents:
    // revenue cents minus retail-cents × integer quantity — no double
    // subtraction crosses the gate.
    QueryDef.sql("q97_tpch_q9",
      """SELECT nation, yr, CAST(sum(amount_cents) AS BIGINT) AS profit_cents,
        |       count(*) AS n_lines
        |FROM (
        |  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |         - CAST(round(p_retailprice * 100) AS BIGINT)
        |           * CAST(round(l_quantity) AS BIGINT) AS amount_cents
        |  FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN part     ON p_partkey = l_partkey
        |  JOIN orders   ON o_orderkey = l_orderkey
        |  JOIN nation   ON n_nationkey = s_nationkey
        |  WHERE p_name LIKE '%gear%') t
        |GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d).filter(col("p_name").like("%gear%"))),
            col("p_partkey") === col("l_partkey"))
          .join(Tables.orders(s, d), col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(Tables.supplier(s, d)), col("s_suppkey") === col("l_suppkey"))
          .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("s_nationkey"))
          .select(col("n_name").as("nation"),
            year(col("o_orderdate")).cast("long").as("yr"),
            (round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")
              - round(col("p_retailprice") * 100).cast("long")
                * round(col("l_quantity")).cast("long")).as("amount_cents"))
          .groupBy("nation", "yr")
          .agg(sum("amount_cents").cast("long").as("profit_cents"),
               count(lit(1)).as("n_lines"))
    },

    // TPC-H Q2 (minimum-cost supplier, adapted — no partsupp, so the
    // supplier-part offer relation is DERIVED from lineitem: per
    // (part, supplier), cost = the cheapest observed unit price in
    // exact cents via integer division). The oracle keeps Q2's defining
    // correlated-min-subquery form; the Spark plan does NOT — fed the
    // same SQL, Catalyst decorrelates but computes the derived `ps`
    // aggregate TWICE (once per reference, two full lineitem shuffles —
    // verified in the sf plan). The window form below is the
    // 100 TB-correct plan: ONE lineitem aggregate on (partkey,
    // suppkey), the EUROPE supplier dim broadcast into it, then
    // min-per-part as a window over the pruned ps slice — the second
    // shuffle moves |ps| rows, never lineitem. partkey salting is
    // unnecessary: ps is already one row per (part, supplier). The
    // final LIMIT is deterministic on (p_partkey, s_suppkey).
    QueryDef.sql("q98_tpch_q2",
      """WITH ps AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk,
        |         CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                  // CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS cost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT p_partkey, s_suppkey, s_name, n_name, cost
        |FROM ps
        |JOIN part ON p_partkey = pk
        |JOIN supplier ON s_suppkey = sk
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |WHERE r_name = 'EUROPE' AND p_size BETWEEN 10 AND 20
        |  AND p_type IN ('LARGE', 'MEDIUM')
        |  AND cost = (SELECT min(ps2.cost) FROM ps ps2
        |              JOIN supplier s2 ON s2.s_suppkey = ps2.sk
        |              JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        |              JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        |              WHERE r2.r_name = 'EUROPE' AND ps2.pk = p_partkey)
        |ORDER BY p_partkey, s_suppkey LIMIT 100""".stripMargin) {
      (s, d) => {
        val euroSupp = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("n_nationkey") === col("s_nationkey"))
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
            col("r_regionkey") === col("n_regionkey"))
          .select("s_suppkey", "s_name", "n_name")
        val ps = Tables.lineitem(s, d)
          .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .agg(min(expr("CAST(round(l_extendedprice * 100) AS BIGINT)" +
              " DIV CAST(round(l_quantity) AS BIGINT)"))
            .cast("long").as("cost"))
        val w = Window.partitionBy("pk")
        ps.join(broadcast(euroSupp), col("sk") === col("s_suppkey"))
          .withColumn("min_cost", min(col("cost")).over(w))
          .filter(col("cost") === col("min_cost"))
          .join(broadcast(Tables.part(s, d)
              .filter(col("p_size").between(10, 20) &&
                col("p_type").isin("LARGE", "MEDIUM"))),
            col("p_partkey") === col("pk"))
          .select("p_partkey", "s_suppkey", "s_name", "n_name", "cost")
          .orderBy(col("p_partkey"), col("s_suppkey"))
          .limit(100)
      }
    },

    // TPC-H Q16 (parts/supplier relationship, adapted — the offer
    // relation is the DISTINCT (part, supplier) pairs observed in
    // lineitem, and the "complaints" exclusion list is suppliers with
    // negative balance): count(DISTINCT supplier) per part attribute
    // triple with a NOT-IN anti-join. The distinct-pairs projection
    // shuffles once on the pair; the exclusion list is tiny →
    // broadcast anti-join; the distinct count re-shuffles only the
    // surviving pairs. s_suppkey is never NULL so NOT IN ≡ anti-join
    // on both engines (the NULL trap q81 documents is avoided by
    // construction).
    QueryDef.sql("q99_tpch_q16",
      """SELECT p_brand, p_type, p_size, count(DISTINCT sk) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem) ps
        |JOIN part ON p_partkey = pk
        |WHERE p_brand <> 'Brand#4' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND sk NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d).select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .distinct()
          .join(broadcast(Tables.supplier(s, d).filter(col("s_acctbal") < 0)
              .select(col("s_suppkey"))),
            col("sk") === col("s_suppkey"), "left_anti")
          .join(broadcast(Tables.part(s, d)
              .filter(col("p_brand") =!= "Brand#4" && col("p_type") =!= "PROMO" &&
                col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))),
            col("p_partkey") === col("pk"))
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("sk")).as("supplier_cnt"))
    },

    // TPC-H Q20 (potential part promotion, adapted — no
    // partsupp.availqty, so "excess" is scale-free: suppliers whose
    // shipped quantity of the name-filtered parts in the year beats the
    // average per-supplier quantity, the q92-style relative cut). The
    // oracle keeps Q20's nested-IN-subquery form; fed the same SQL,
    // Catalyst plans each scalar subquery as its OWN recomputation of
    // the per-supplier aggregate — three lineitem passes (verified in
    // the sf plan). The form below computes `sq` once: part IN-list →
    // broadcast semi-join into the pruned lineitem scan, ONE
    // per-supplier aggregate, its one-row (count, total) rollup
    // broadcast back as a cross join (ReuseExchange dedups the shared
    // scan+aggregate), winners semi-joined into the nation-filtered
    // supplier dim. Quantities are integer-exact; the relative cut
    // keeps selectivity stable across SFs.
    QueryDef.sql("q100_tpch_q20",
      """WITH sq AS (
        |  SELECT l_suppkey AS sk,
        |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON n_nationkey = s_nationkey
        |WHERE n_name IN ('NATION_1', 'NATION_3')
        |  AND s_suppkey IN (SELECT sk FROM sq
        |                    WHERE qty * (SELECT count(*) FROM sq)
        |                          > (SELECT sum(qty) FROM sq))""".stripMargin) {
      (s, d) => {
        val sq = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
          .join(broadcast(Tables.part(s, d).filter(col("p_name").like("small%"))
              .select("p_partkey")),
            col("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy(col("l_suppkey").as("sk"))
          .agg(sum(round(col("l_quantity")).cast("long")).cast("long").as("qty"))
        val thr = sq.agg(count(lit(1)).as("n_sup"), sum("qty").as("tot"))
        val winners = sq.crossJoin(broadcast(thr))
          .filter(col("qty") * col("n_sup") > col("tot"))
          .select("sk")
        Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
              .filter(col("n_name").isin("NATION_1", "NATION_3"))),
            col("n_nationkey") === col("s_nationkey"))
          .join(winners, col("s_suppkey") === col("sk"), "left_semi")
          .select("s_suppkey", "s_name", "n_name")
      }
    },

    // SQL set operations with SET semantics: INTERSECT and EXCEPT
    // (customers active in both 1996 halves vs only the first), tagged
    // and unioned into one gate. Dataset.intersect/except compile to
    // left-semi / left-anti joins over a distinct aggregate — each
    // branch is two pruned orders scans plus one shuffle on the key;
    // no row payload ever moves, only the distinct custkeys. At 100 TB
    // both branches share the same two date-pruned scans, and the semi
    // side is an aggregate small enough for AQE to broadcast.
    QueryDef.sql("q101_set_ops",
      """SELECT 'both' AS cohort, ck FROM (
        |  SELECT o_custkey AS ck FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        |  INTERSECT
        |  SELECT o_custkey AS ck FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1997-01-01') t1
        |UNION ALL
        |SELECT 'h1_only' AS cohort, ck FROM (
        |  SELECT o_custkey AS ck FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        |  EXCEPT
        |  SELECT o_custkey AS ck FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1997-01-01') t2""".stripMargin) {
      (s, d) => {
        def half(from: String, to: String) =
          Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
              col("o_orderdate") < lit(to).cast("timestamp"))
            .select(col("o_custkey").as("ck"))
        val h1 = half("1996-01-01", "1996-07-01")
        val h2 = half("1996-07-01", "1997-01-01")
        h1.intersect(h2).select(lit("both").as("cohort"), col("ck"))
          .unionAll(h1.except(h2).select(lit("h1_only").as("cohort"), col("ck")))
      }
    },

    // FULL OUTER join: per-nation count of high-balance customers vs
    // overdrawn suppliers, keeping nations present on EITHER side
    // (at sf0.01 all three match paths are populated: both, left-only,
    // right-only). Both inputs aggregate BEFORE the join — the outer
    // join moves one row per nation, never raw customers/suppliers,
    // which is the 100 TB-correct order (outer-joining the raw tables
    // then aggregating would shuffle the full fact rows). coalesce
    // fills the missing side with 0 identically on both engines.
    QueryDef.sql("q102_full_outer",
      """SELECT coalesce(cn, sn) AS nationkey,
        |       CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
        |       CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
        |FROM (SELECT c_nationkey AS cn, count(*) AS n_cust FROM customer
        |      WHERE c_acctbal > 9900 GROUP BY 1) c
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS sn, count(*) AS n_supp FROM supplier
        |      WHERE s_acctbal < -500 GROUP BY 1) s
        |ON cn = sn""".stripMargin) {
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_acctbal") > 9900)
          .groupBy(col("c_nationkey").as("cn"))
          .agg(count(lit(1)).as("n_cust"))
        val sp = Tables.supplier(s, d).filter(col("s_acctbal") < -500)
          .groupBy(col("s_nationkey").as("sn"))
          .agg(count(lit(1)).as("n_supp"))
        c.join(sp, col("cn") === col("sn"), "full_outer")
          .select(coalesce(col("cn"), col("sn")).as("nationkey"),
            coalesce(col("n_cust"), lit(0L)).cast("long").as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).cast("long").as("n_supp"))
      }
    },

    // CONVERSION FUNNEL: ordered step matching — first view, first
    // click within 24h AFTER that view, first purchase within 24h
    // after that click. Three sequential window mins over the SAME
    // user_id partitioning (each step's threshold feeds the next), so
    // like q57's sessionization the whole funnel is ONE fact shuffle; the final
    // one-row rollup counts distinct users per stage. Time bounds
    // compare exact integer µs; min() skips NULLs identically on both
    // engines, so a user with no qualifying step propagates NULL down
    // the funnel. The streaming twin is EventStreams.clickToPurchase
    // (stateful per-user step tracking, incremental).
    QueryDef.sql("q104_funnel",
      """WITH s1 AS (
        |  SELECT user_id, ts, event_type,
        |         min(CASE WHEN event_type = 'view' THEN ts END)
        |           OVER (PARTITION BY user_id) AS t_view
        |  FROM events),
        |s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view
        |                      AND epoch_us(ts) - epoch_us(t_view) < 86400000000
        |                     THEN ts END)
        |              OVER (PARTITION BY user_id) AS t_click
        |  FROM s1),
        |s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click
        |                      AND epoch_us(ts) - epoch_us(t_click) < 86400000000
        |                     THEN ts END)
        |              OVER (PARTITION BY user_id) AS t_purch
        |  FROM s2)
        |SELECT CAST(count(DISTINCT CASE WHEN t_view  IS NOT NULL THEN user_id END)
        |            AS BIGINT) AS n_view,
        |       CAST(count(DISTINCT CASE WHEN t_click IS NOT NULL THEN user_id END)
        |            AS BIGINT) AS n_click,
        |       CAST(count(DISTINCT CASE WHEN t_purch IS NOT NULL THEN user_id END)
        |            AS BIGINT) AS n_purchase
        |FROM s3""".stripMargin) {
      (s, d) => {
        val dayUs = 86400000000L
        val w = Window.partitionBy("user_id")
        Tables.events(s, d)
          .withColumn("t_view",
            min(when(col("event_type") === "view", col("ts"))).over(w))
          .withColumn("t_click",
            min(when(col("event_type") === "click" && col("ts") > col("t_view") &&
              unix_micros(col("ts")) - unix_micros(col("t_view")) < dayUs,
              col("ts"))).over(w))
          .withColumn("t_purch",
            min(when(col("event_type") === "purchase" && col("ts") > col("t_click") &&
              unix_micros(col("ts")) - unix_micros(col("t_click")) < dayUs,
              col("ts"))).over(w))
          .agg(
            countDistinct(when(col("t_view").isNotNull, col("user_id")))
              .as("n_view"),
            countDistinct(when(col("t_click").isNotNull, col("user_id")))
              .as("n_click"),
            countDistinct(when(col("t_purch").isNotNull, col("user_id")))
              .as("n_purchase"))
      }
    },

    // COHORT RETENTION: customers bucketed by first-order month, then
    // counted per (cohort, month-offset) across their later activity —
    // the standard retention triangle (51 cohorts × offsets at
    // sf0.01). Both inputs reduce BEFORE the join: the cohort map is a
    // per-customer min (one orders shuffle on custkey), activity is a
    // distinct (custkey, month) projection, and AQE broadcasts the
    // cohort side into the activity join at any realistic cohort
    // cardinality. Month arithmetic is calendar-exact on both engines
    // (months_between on month-start dates is integral).
    QueryDef.sql("q105_cohort_retention",
      """WITH f AS (
        |  SELECT o_custkey AS ck, CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS cohort
        |  FROM orders GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT o_custkey AS ck, CAST(date_trunc('month', o_orderdate) AS DATE) AS m
        |  FROM orders)
        |SELECT cohort, CAST(date_diff('month', cohort, m) AS BIGINT) AS month_offset,
        |       count(*) AS n_active
        |FROM f JOIN a USING (ck)
        |GROUP BY 1, 2""".stripMargin) {
      (s, d) => {
        val f = Tables.orders(s, d)
          .groupBy(col("o_custkey").as("ck"))
          .agg(date_trunc("month", min(col("o_orderdate"))).cast("date").as("cohort"))
        val a = Tables.orders(s, d)
          .select(col("o_custkey").as("ck"),
            date_trunc("month", col("o_orderdate")).cast("date").as("m"))
          .distinct()
        a.join(broadcast(f), Seq("ck"))
          .groupBy(col("cohort"),
            months_between(col("m"), col("cohort")).cast("long").as("month_offset"))
          .agg(count(lit(1)).as("n_active"))
      }
    },

    // RANGE window frame (value-based, not row-based): per event, the
    // user's event count and value sum over the PRECEDING HOUR by
    // timestamp — the rolling-rate shape behind alerting and
    // rate-limiting analytics. ROWS frames (q22/q57) bound by row
    // counts; a RANGE frame bounds by the ORDER-BY value, so sparse
    // and dense hours behave correctly. Both engines order by exact
    // integer epoch-µs with the same 3.6e9 lower bound — value-based
    // peer semantics are identical, no float time anywhere. Same
    // single-shuffle story as every user_id-keyed window here.
    QueryDef.sql("q106_range_frame",
      """SELECT user_id, event_id,
        |       count(*) OVER w AS n_last_hour,
        |       CAST(round(sum(value) OVER w * 100) AS BIGINT) AS cents_last_hour
        |FROM events
        |WHERE user_id < 30
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin) {
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
          .rangeBetween(-3600000000L, Window.currentRow)
        Tables.events(s, d).filter(col("user_id") < 30)
          .select(col("user_id"), col("event_id"),
            count(lit(1)).over(w).as("n_last_hour"),
            round(sum("value").over(w) * 100).cast("long").as("cents_last_hour"))
      }
    },

    // grouping() disambiguation: in a CUBE/ROLLUP result a NULL group
    // key is ambiguous — real NULL data or a subtotal row? grouping()
    // answers (1 = aggregated-over, 0 = real value). The gate
    // synthesizes genuine NULLs (nullif maps status 'P' to NULL) so
    // BOTH kinds of NULL rows appear and the flag is load-bearing:
    // at sf0.01 the cube has 6 real-NULL groups AND 6 subtotal rows.
    // Same one-Expand single-shuffle plan as q44's cube.
    QueryDef.sql("q107_grouping_flag",
      """SELECT o_orderpriority AS pri, nullif(o_orderstatus, 'P') AS st,
        |       CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri,
        |       CAST(grouping(nullif(o_orderstatus, 'P')) AS BIGINT) AS g_st,
        |       count(*) AS n
        |FROM orders
        |GROUP BY CUBE (o_orderpriority, nullif(o_orderstatus, 'P'))""".stripMargin) {
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders")
        s.sql(
          """SELECT o_orderpriority AS pri, nullif(o_orderstatus, 'P') AS st,
            |       CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri,
            |       CAST(grouping(nullif(o_orderstatus, 'P')) AS BIGINT) AS g_st,
            |       count(*) AS n
            |FROM orders
            |GROUP BY CUBE (o_orderpriority, nullif(o_orderstatus, 'P'))""".stripMargin)
      }
    },

    // NULL-SAFE join equality (<=> / IS NOT DISTINCT FROM): plain `=`
    // silently drops NULL-keyed rows from a join — the classic merge
    // pipeline trap when a "cleaned" key column has genuine NULLs.
    // The gate joins a NULL-bearing aggregate to its own distinct key
    // set: with `=` the NULL group (5k rows at sf0.01) vanishes; with
    // the null-safe operator it survives on both engines. Plan-wise
    // <=> keys hash/shuffle like any equi-join (NULL is just another
    // key value) — no nested-loop fallback.
    QueryDef.sql("q108_null_safe_join",
      """WITH a AS (SELECT nullif(o_orderstatus, 'P') AS st, count(*) AS n
        |           FROM orders GROUP BY 1),
        |b AS (SELECT DISTINCT nullif(o_orderstatus, 'P') AS st FROM orders)
        |SELECT a.st, CAST(a.n AS BIGINT) AS n
        |FROM a JOIN b ON a.st IS NOT DISTINCT FROM b.st""".stripMargin) {
      (s, d) => {
        val st = expr("nullif(o_orderstatus, 'P')")
        val a = Tables.orders(s, d).groupBy(st.as("st"))
          .agg(count(lit(1)).cast("long").as("n"))
        val b = Tables.orders(s, d).select(st.as("st_b")).distinct()
        a.join(b, col("st") <=> col("st_b"))
          .select(col("st"), col("n"))
      }
    },

    // BAG set operations (EXCEPT ALL / INTERSECT ALL): multiplicity-
    // preserving difference and intersection — q101's set-semantic
    // cousins, and the semantics audit diffs actually need ("this
    // partkey shipped 5 times in slice A, 3 in slice B" ⇒ EXCEPT ALL
    // keeps 2). Catalyst plans both WITHOUT exploding rows: a
    // per-side count aggregate, then generate the surplus
    // (min/difference) copies — two pruned scans + one shuffle per
    // branch, multiplicities verified non-trivial (2.7k groups with
    // n>1 at sf0.01). Output is re-grouped so the gate compares
    // (op, key, multiplicity) rather than raw row bags.
    QueryDef.sql("q109_bag_set_ops",
      """SELECT 'h1_minus_h2' AS op, pk, count(*) AS n FROM (
        |  SELECT l_partkey AS pk FROM lineitem WHERE l_orderkey % 4 IN (0, 1)
        |  EXCEPT ALL
        |  SELECT l_partkey AS pk FROM lineitem WHERE l_orderkey % 4 IN (1, 2)) t1
        |GROUP BY 1, 2
        |UNION ALL
        |SELECT 'common' AS op, pk, count(*) AS n FROM (
        |  SELECT l_partkey AS pk FROM lineitem WHERE l_orderkey % 4 IN (0, 1)
        |  INTERSECT ALL
        |  SELECT l_partkey AS pk FROM lineitem WHERE l_orderkey % 4 IN (1, 2)) t2
        |GROUP BY 1, 2""".stripMargin) {
      (s, d) => {
        def slice(ms: Seq[Int]) = Tables.lineitem(s, d)
          .filter((col("l_orderkey") % 4).isin(ms.map(Integer.valueOf): _*))
          .select(col("l_partkey").as("pk"))
        val h1 = slice(Seq(0, 1))
        val h2 = slice(Seq(1, 2))
        h1.exceptAll(h2).groupBy("pk").agg(count(lit(1)).as("n"))
          .select(lit("h1_minus_h2").as("op"), col("pk"), col("n"))
          .unionAll(
            h1.intersectAll(h2).groupBy("pk").agg(count(lit(1)).as("n"))
              .select(lit("common").as("op"), col("pk"), col("n")))
      }
    },

    // UNPIVOT / MELT (wide→long): the inverse reshape of q58's pivot —
    // Spark's native unpivot (ids=source, variable column lang, value
    // column n_docs) over a per-source language cross-tab restores the
    // long form INCLUDING the zero rows the pivot materialized, which
    // a plain GROUP BY never had; the oracle builds them with a
    // source × lang spine left-join (src6/fr, src14/de, src18/zh are
    // absent in the data, so the zero path is genuinely exercised).
    // unpivot is a zero-shuffle row-expansion (each wide row emits its
    // value columns locally), so the only exchange in the plan is the
    // pivot aggregate it consumes.
    QueryDef.sql("q115_unpivot",
      """WITH counts AS (
        |  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
        |spine AS (
        |  SELECT DISTINCT d.source, l.lang
        |  FROM documents d CROSS JOIN (
        |    SELECT unnest(['de','en','es','fr','zh']) AS lang) l)
        |SELECT spine.source, spine.lang,
        |       coalesce(counts.n, 0) AS n_docs
        |FROM spine LEFT JOIN counts USING (source, lang)""".stripMargin) {
      (s, d) => {
        val wide = Tables.documents(s, d)
          .groupBy("source")
          .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
          .agg(count(lit(1)))
          .na.fill(0L, Seq("de", "en", "es", "fr", "zh"))
        wide.unpivot(Array(col("source")),
          Array(col("de"), col("en"), col("es"), col("fr"), col("zh")),
          "lang", "n_docs")
      }
    },

    // PAGERANK (integer-exact, 4 fixed iterations, damping 0.85) over
    // the customer→supplier trade graph (distinct (o_custkey,
    // l_suppkey) pairs; node ids disambiguated as cust·2 / supp·2+1).
    // Iterative graph analytics beyond connected components: ranks are
    // micro-mass integers, per-edge contributions and damping use
    // integer division, so an inherently iterative float metric
    // becomes bit-portable across engines. The oracle unrolls the same
    // four iterations as chained CTEs from the same templated SQL the
    // Spark loop mirrors. Top 20 by rank (node tie-break).
    QueryDef.sql("q116_pagerank", {
      def it(i: Int): String =
        s"""r${i + 1} AS (
           |  SELECT n.node, st.base + (85 * coalesce(inf.s, 0)) // 100 AS r
           |  FROM nodes n CROSS JOIN st
           |  LEFT JOIN (
           |    SELECT e.dst AS node, sum(r$i.r // od.c) AS s
           |    FROM edges e JOIN r$i ON e.src = r$i.node
           |    JOIN outdeg od ON e.src = od.src
           |    GROUP BY e.dst) inf ON n.node = inf.node)""".stripMargin
      s"""WITH edges AS (
         |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |st AS (SELECT (15 * (1000000000000 // count(*))) // 100 AS base,
         |              1000000000000 // count(*) AS r0 FROM nodes),
         |outdeg AS (SELECT src, count(*) AS c FROM edges GROUP BY src),
         |r0 AS (SELECT node, st.r0 AS r FROM nodes CROSS JOIN st),
         |${(0 until 4).map(it).mkString(",\n")}
         |SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r4
         |ORDER BY rank_micro DESC, node LIMIT 20""".stripMargin
    }) {
      (s, d) => {
        val edges = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
          .distinct()
        graft.operators.Graphs.pageRankMicro(edges, iterations = 4)
          .orderBy(col("rank_micro").desc, col("node")).limit(20)
      }
    },

    // COLUMN PROFILING (Deequ-style audit): rows/nulls/distincts/
    // min/max for four orders columns in ONE aggregate over ONE scan,
    // reshaped long with a local inline — the input-validation pass a
    // pipeline runs before trusting a new snapshot. Exact distincts
    // here (the multi-distinct Expand is the documented cost; the
    // operator's approxDistinct flag is the 100 TB path, accuracy-
    // gated separately by q79/q80). The oracle computes each column's
    // stats as its own SELECT — per-column scans are fine for DuckDB,
    // the single-pass shape is the Spark side's contract.
    QueryDef.sql("q117_column_profile", {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |       count(*) - count($c) AS n_null,
           |       count(DISTINCT $c) AS n_distinct,
           |       CAST(min($c) AS VARCHAR) AS min_val,
           |       CAST(max($c) AS VARCHAR) AS max_val FROM orders""".stripMargin
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map(one).mkString("\nUNION ALL\n")
    }) {
      (s, d) =>
        graft.operators.Profiling.columnProfile(Tables.orders(s, d),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    },

    // Z-ORDER (Morton) layout key: interleave the low 20 bits of
    // (l_partkey, l_suppkey) into one clustering value — sorting a
    // written table by it gives min/max pruning on EITHER dimension
    // from one layout (the Delta/Iceberg Z-ORDER mechanism). The key
    // is a stateless codegen'd shift/mask fold; the oracle rebuilds it
    // with pure integer arithmetic ((x // 2^i) % 2 weights), so the
    // gate witnesses bit-exactness of the interleave itself.
    QueryDef.sql("q118_zorder_key", {
      val terms = (0 until 20).flatMap { i =>
        Seq(s"((l_partkey // ${1L << i}) % 2) * ${BigInt(1) << (2 * i)}",
          s"((l_suppkey // ${1L << i}) % 2) * ${BigInt(1) << (2 * i + 1)}")
      }
      s"""SELECT l_orderkey, l_linenumber,
         |       CAST(${terms.mkString(" + ")} AS BIGINT) AS zval
         |FROM lineitem""".stripMargin
    }) {
      (s, d) =>
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
          graft.operators.Layout.zValue(col("l_partkey"), col("l_suppkey"), 20)
            .as("zval"))
    },

    // COUNT-MIN SKETCH as a custom Catalyst TypedImperativeAggregate
    // (plans.CountMinSketchAgg, SQL-registered as cm_sketch): the
    // approximate-frequency path for heavy-hitter questions where an
    // exact per-key count would shuffle every distinct key. The hash
    // family is the engine's own seed-chained xxhash64(i, x), and cell
    // adds commute, so the 3×256 sketch is BIT-IDENTICAL under any
    // partitioning — the oracle rebuilds the whole sketch relationally
    // from the bit-exact XXH64 chains (width 256 is a power of two, so
    // the oracle's unsigned bucket mod equals Spark's signed pmod) and
    // answers the same point queries: five probes incl. one absent key,
    // est = min over rows, alongside the exact counts (est >= exact is
    // the CM guarantee, visible in the gated rows).
    QueryDef.sql("q120_count_min", {
      import XxHash64Sql._
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      import org.apache.spark.sql.types.LongType
      val depth = 3; val width = 256
      val probeVals = Seq(1L, 2L, 3L, 500L, 999999L)
      def seedU64(i: Int): String = {
        val sgn = XxHash64Function.hash(i.toLong, LongType, 42L)
        (if (sgn < 0) BigInt(sgn) + (BigInt(1) << 64) else BigInt(sgn)).toString
      }
      var rowCtes = List.empty[String]
      var rowSrc = "lineitem"
      val rowH = (0 until depth).map { i =>
        val (steps, h) = hashLongSteps(s2u("l_partkey"), seedU64(i), s"R$i")
        val (c, last) = chainCtes(rowSrc, steps, s"rc$i")
        rowCtes :+= c; rowSrc = last; h
      }
      var prCtes = List.empty[String]
      var prSrc = "pr"
      val prH = (0 until depth).map { i =>
        val (steps, h) = hashLongSteps(s2u("pk"), seedU64(i), s"P$i")
        val (c, last) = chainCtes(prSrc, steps, s"pc$i")
        prCtes :+= c; prSrc = last; h
      }
      val cells = (0 until depth).map(i =>
        s"cells$i AS (SELECT (((${rowH(i)}) % $width) + $width) % $width AS b, " +
          s"count(*) AS c FROM $rowSrc GROUP BY 1)")
      val pb = s"pb AS (SELECT pk, " +
        (0 until depth).map(i =>
          s"(((${prH(i)}) % $width) + $width) % $width AS b$i").mkString(", ") +
        s" FROM $prSrc)"
      val joins = (0 until depth).map(i =>
        s"LEFT JOIN cells$i c$i ON pb.b$i = c$i.b").mkString(" ")
      s"""WITH pr AS (SELECT CAST(unnest([${probeVals.mkString(", ")}]) AS BIGINT) AS pk),
         |${rowCtes.mkString(",\n")},
         |${prCtes.mkString(",\n")},
         |${cells.mkString(",\n")},
         |$pb,
         |exact AS (SELECT l_partkey AS pk, count(*) AS n FROM lineitem GROUP BY 1)
         |SELECT pb.pk, coalesce(e.n, 0) AS exact_n,
         |       least(${(0 until depth).map(i => s"coalesce(c$i.c, 0)").mkString(", ")}) AS cm_est
         |FROM pb $joins LEFT JOIN exact e ON pb.pk = e.pk""".stripMargin
    }) {
      (s, d) => {
        import s.implicits._
        val sk = Tables.lineitem(s, d).agg(
          graft.plans.CountMinSketch.sketch(col("l_partkey"), 3, 256).as("sk"))
        val probes = Seq(1L, 2L, 3L, 500L, 999999L).toDF("pk")
        val exact = Tables.lineitem(s, d).groupBy(col("l_partkey").as("pk"))
          .agg(count(lit(1)).as("n"))
        probes.join(exact, Seq("pk"), "left_outer")
          .crossJoin(broadcast(sk))
          .select(col("pk"), coalesce(col("n"), lit(0L)).as("exact_n"),
            graft.plans.CountMinSketch.estimate(col("sk"), col("pk"), 3, 256)
              .as("cm_est"))
      }
    },

    // CDC APPLY / MERGE (Delta-style upsert+delete): a change batch —
    // 'U' rows replacing every orderkey ≡ 5 (mod 10) at doubled price,
    // 'D' tombstones for every orderkey ≡ 0 (mod 10) — applied to the
    // orders snapshot via `Relational.applyCdc`: ONE anti-join of base
    // against change keys (AQE broadcasts the batch when it measures
    // small — the nightly-CDC case) + a shuffle-free unionByName of the
    // 'U' payloads. No full-outer join, no per-column coalesce: whole-
    // row 'U' payloads are what log-compacted CDC feeds deliver. The
    // streaming twin (tombstoned current view) is
    // `EventStreams.currentView`, spec-gated.
    QueryDef.sql("q121_cdc_apply",
      """WITH changes AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice * 2 AS o_totalprice, o_orderdate,
        |         o_orderpriority, 'U' AS op
        |  FROM orders WHERE o_orderkey % 10 = 5
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |         o_orderdate, o_orderpriority, 'D' AS op
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |merged AS (
        |  SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, o.o_orderstatus
        |  FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM changes c
        |                    WHERE c.o_orderkey = o.o_orderkey)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |  FROM changes WHERE op = 'U')
        |SELECT o_orderkey, o_custkey,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |       o_orderstatus
        |FROM merged""".stripMargin) {
      (s, d) => {
        val o = Tables.orders(s, d)
        val ups = o.filter(col("o_orderkey") % 10 === 5)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("op", lit("U"))
        val dels = o.filter(col("o_orderkey") % 10 === 0)
          .withColumn("op", lit("D"))
        applyCdc(o, ups.unionByName(dels), Seq("o_orderkey"))
          .select(col("o_orderkey"), col("o_custkey"),
            cents(col("o_totalprice")).as("price_cents"), col("o_orderstatus"))
      }
    },

    // MERGEABLE HLL SKETCH (custom TypedImperativeAggregate #2,
    // plans.HllRegistersAgg / hll_registers in SQL): unlike the
    // built-in approx_count_distinct, the REGISTER ARRAY is the output
    // — store one sketch per day/source, merge stored sketches
    // losslessly later (register max is associative+idempotent): the
    // incremental distinct-count pattern that makes year-over-year
    // stats a sketch union instead of a re-scan. The gate builds the
    // global sketch AND the per-priority sketches merged relationally
    // (posexplode + max per register), asserts the merge is lossless
    // (identical registers and estimate), and hash-verifies registers,
    // estimate (harmonic sum in fixed index order — bit-portable
    // doubles) and the |est−exact| ≤ 40% raw-HLL contract against an
    // oracle that rebuilds every register from the bit-exact XXH64.
    QueryDef.sql("q122_hll_mergeable", {
      import XxHash64Sql._
      val m = 256
      val (steps, h) = hashLongSteps(s2u("o_custkey"), "42", "HG")
      val (ctes, last) = chainCtes("orders", steps, "hgc")
      val est = graft.plans.HllSketch.estimateOracleSql("rl.regs", m)
      s"""WITH $ctes,
         |hrows AS (SELECT CAST(($h) % $m AS INT) AS bucket,
         |                 CAST(($h) // $m AS BIGINT) AS w FROM $last),
         |ranks AS (SELECT bucket,
         |                 CASE WHEN w = 0 THEN 57
         |                      ELSE 57 - length(ltrim(bin(w), '0')) END AS rank
         |          FROM hrows),
         |regs0 AS (SELECT bucket, max(rank) AS r FROM ranks GROUP BY bucket),
         |spine AS (SELECT unnest(generate_series(0, ${m - 1})) AS bucket),
         |regs AS (SELECT s.bucket, coalesce(r0.r, 0) AS r
         |         FROM spine s LEFT JOIN regs0 r0 USING (bucket)),
         |rl AS (SELECT list(r ORDER BY bucket) AS regs FROM regs),
         |ex AS (SELECT count(DISTINCT o_custkey) AS exact_n FROM orders)
         |SELECT ex.exact_n,
         |       $est AS hll_est,
         |       TRUE AS merge_lossless,
         |       (SELECT CAST(sum((bucket + 1) * r) AS BIGINT) FROM regs)
         |         AS reg_checksum,
         |       (abs(($est) - ex.exact_n) * 10 <= ex.exact_n * 4) AS ok
         |FROM rl CROSS JOIN ex""".stripMargin
    }) {
      (s, d) => {
        import graft.plans.HllSketch
        val m = 256
        val o = Tables.orders(s, d)
        val global = o.agg(HllSketch.registers(col("o_custkey"), m).as("regs"))
        val merged = o.groupBy("o_orderpriority")
          .agg(HllSketch.registers(col("o_custkey"), m).as("regs"))
          .select(posexplode(col("regs")).as(Seq("pos", "r")))
          .groupBy("pos").agg(max("r").as("r"))
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("r")))),
            x => x.getField("r")).as("mregs"))
        val exact = o.agg(countDistinct(col("o_custkey")).as("exact_n"))
        global.crossJoin(broadcast(merged)).crossJoin(broadcast(exact))
          .select(
            col("exact_n"),
            HllSketch.estimate("regs", m).as("hll_est"),
            (col("regs") === col("mregs") &&
              HllSketch.estimate("regs", m) === HllSketch.estimate("mregs", m))
              .as("merge_lossless"),
            expr(s"""aggregate(transform(sequence(0, ${m - 1}),
                    |  i -> (CAST(i AS BIGINT) + 1) * element_at(regs, i + 1)),
                    |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin)
              .as("reg_checksum"),
            (abs(HllSketch.estimate("regs", m) - col("exact_n")) * 10
              <= col("exact_n") * 4).as("ok"))
      }
    },

    // SKETCH-PRUNED EXACT HEAVY HITTERS (Sketches.heavyHitters): keys
    // with true frequency >= 650, found by broadcasting a count-min
    // sketch back over the stream and exactly counting ONLY rows whose
    // estimate clears the bar — CM never underestimates, so the prune
    // has zero false negatives, and the final exact re-filter makes
    // collisions cost candidates, never correctness. The aggregate
    // shuffle carries candidate-key rows only (at a billion-key long
    // tail: orders of magnitude under the full HAVING groupBy); the
    // oracle states the SEMANTIC contract — a plain HAVING — which the
    // exotic plan must reproduce exactly.
    QueryDef.sql("q123_heavy_hitters",
      """SELECT l_suppkey AS key, count(*) AS n
        |FROM lineitem GROUP BY 1 HAVING count(*) >= 650""".stripMargin) {
      (s, d) =>
        graft.operators.Sketches.heavyHitters(
          Tables.lineitem(s, d), col("l_suppkey"), threshold = 650)
    },

    // TRIANGLE COUNTING (graph analytics #3, after connected
    // components q55 and PageRank q116): exact triangles of the
    // supplier co-occurrence graph (suppliers sharing ≥ 5 DISTINCT
    // orders — the threshold keeps the co-occurrence graph a
    // strong-tie graph rather than a near-clique). The edge build is
    // `Graphs.cooccurrenceEdges`: distinct (order, supplier) baskets,
    // a hot-basket cap bounding per-order pair fan-out at C(cap, 2)
    // (the LSH hot-bucket discipline — one viral basket would
    // otherwise emit quadratic pairs), pair counts map-side
    // combinable. Degree orientation then caps every node's
    // out-degree at O(√m), so the wedge self-join's intermediate is
    // m^1.5-bounded instead of hub-degree-quadratic — the
    // skew-proofing that makes triangle counting feasible on
    // power-law graphs at scale; the closing edge is ONE equi-join
    // (orientation makes b→c deterministic), no OR predicates.
    // Sanity anchor: at sf0.01 the graph is the complete K100, whose
    // count must be exactly C(100,3) = 161700.
    QueryDef.sql("q124_triangles",
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS k, l_suppkey AS i FROM lineitem),
        |kept AS (
        |  SELECT items.k, items.i FROM items
        |  JOIN (SELECT k, count(*) AS n FROM items GROUP BY 1) sz
        |    ON items.k = sz.k
        |  WHERE sz.n <= 1000),
        |e AS (
        |  SELECT x.i AS a, y.i AS b
        |  FROM kept x JOIN kept y ON x.k = y.k AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |deg AS (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) t
        |  GROUP BY 1),
        |o AS (
        |  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
        |              THEN e.a ELSE e.b END AS src,
        |         CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
        |              THEN e.b ELSE e.a END AS dst,
        |         CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b)
        |              THEN db.d ELSE da.d END AS dd
        |  FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node),
        |tri AS (
        |  SELECT count(*) AS n_triangles
        |  FROM o o1 JOIN o o2 ON o1.src = o2.src
        |    AND ((o1.dd < o2.dd) OR (o1.dd = o2.dd AND o1.dst < o2.dst))
        |  JOIN o o3 ON o3.src = o1.dst AND o3.dst = o2.dst)
        |SELECT (SELECT count(*) FROM e) AS n_edges, n_triangles FROM tri""".stripMargin) {
      (s, d) => {
        val edges = graft.operators.Graphs.cooccurrenceEdges(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          "l_orderkey", "l_suppkey", minShared = 5, maxBasketSize = 1000)
          .select("a", "b")
        graft.operators.Graphs.triangleCount(edges)
      }
    },

    // SCD-2 HISTORIZATION (the time-travel twin of q121's CDC apply):
    // build the full versioned state history of each user's
    // event_type from the append-only event log — one row per
    // VERSION, half-open [valid_from, valid_to) epoch-µs intervals,
    // consecutive same-state rows collapsed, 1-based version numbers,
    // is_current on the open interval. Both windows share ONE
    // exchange: the change-collapse filter preserves the user_id
    // partitioning, so the lead/row_number pass re-sorts without
    // re-shuffling. Ties on ts break by event_id (deterministic
    // zero-width versions, never engine-dependent order).
    QueryDef.sql("q125_scd2_history",
      """WITH s AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t, event_id,
        |         lag(event_type) OVER w AS prev, row_number() OVER w AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |ch AS (
        |  SELECT user_id, event_type, t, event_id FROM s
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, t AS valid_from_us,
        |       lead(t) OVER w2 AS valid_to_us,
        |       row_number() OVER w2 AS version,
        |       (lead(t) OVER w2 IS NULL) AS is_current
        |FROM ch
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY t, event_id)""".stripMargin) {
      (s, d) => {
        val log = Tables.events(s, d).select(col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("t_us"),
          col("event_id"))
        graft.operators.Relational.scd2Historize(log, Seq("user_id"),
            "t_us", Seq("event_type"), tieCols = Seq("event_id"))
          .select(col("user_id"), col("event_type"),
            col("valid_from").as("valid_from_us"),
            col("valid_to").as("valid_to_us"),
            col("version").cast("long").as("version"), col("is_current"))
      }
    },

    // BUCKETED CO-LOCATED JOIN (the write-once/join-forever layout —
    // Spark's native equivalent of the reference's sorted on-disk
    // runs, SURVEY.md §2 O2/O3): bucket lineitem AND orders on the
    // order key with the same bucket count, then join and aggregate
    // READING ONLY THE BUCKETED TABLES — EnsureRequirements sees the
    // scan's HashPartitioning already satisfies the join, so neither
    // fact table shuffles (the spec asserts zero Exchange in this
    // plan shape; at 100 TB this is the shuffle you pay once at
    // ingest instead of on every query). The timed path deliberately
    // includes the bucketing write: ingest cost is part of the
    // pattern. Revenue in per-row exact cents.
    QueryDef.sql("q127_bucketed_join",
      """SELECT o.o_orderpriority,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |                     AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin) {
      (s, d) => {
        val l = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        val o = Tables.orders(s, d)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        graft.operators.Layout.writeBucketed(l, "graft_bkt_lineitem", 8,
          Seq("l_orderkey"))
        graft.operators.Layout.writeBucketed(o, "graft_bkt_orders", 8,
          Seq("l_orderkey"))
        s.table("graft_bkt_lineitem")
          .join(s.table("graft_bkt_orders"), Seq("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
              * 100).cast("long")).cast("long").as("revenue_cents"))
      }
    },

    // SNAPSHOT DIFF / CDC GENERATION (the producer side of q121's
    // applyCdc — diff two snapshots into the minimal 'U'/'D' batch;
    // how an incremental pipeline ships a delta instead of the
    // corpus). ONE full-outer join on the key + a null-safe
    // whole-struct payload compare; unchanged keys emit nothing. The
    // spec additionally enforces the algebraic contract
    // applyCdc(old, snapshotDiff(old, new)) == new. The synthetic new
    // snapshot deletes keys %10=0, doubles prices on %10=5, and
    // inserts key+10^8 copies of %10=7.
    QueryDef.sql("q128_snapshot_diff",
      """WITH old AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |neu AS (
        |  SELECT k, st, CASE WHEN k % 10 = 5 THEN cents * 2 ELSE cents END AS cents
        |  FROM old WHERE k % 10 <> 0
        |  UNION ALL
        |  SELECT k + 100000000, st, cents FROM old WHERE k % 10 = 7)
        |SELECT coalesce(n.k, o.k) AS o_orderkey,
        |       CASE WHEN n.k IS NOT NULL THEN n.st ELSE o.st END AS o_orderstatus,
        |       CASE WHEN n.k IS NOT NULL THEN n.cents ELSE o.cents END AS price_cents,
        |       CASE WHEN n.k IS NOT NULL THEN 'U' ELSE 'D' END AS op
        |FROM old o FULL OUTER JOIN neu n ON o.k = n.k
        |WHERE o.k IS NULL OR n.k IS NULL
        |   OR (o.st, o.cents) IS DISTINCT FROM (n.st, n.cents)""".stripMargin) {
      (s, d) => {
        // the synthetic new snapshot derives from old twice and the
        // diff reads old again — persist the projection so the gate
        // scans orders ONCE (real-world old/new are distinct tables)
        val old = graft.operators.CacheRegistry.persist(
          Tables.orders(s, d).select(col("o_orderkey"),
            col("o_orderstatus"), cents(col("o_totalprice")).as("price_cents")))
        val neu = old.filter(col("o_orderkey") % 10 =!= 0)
          .withColumn("price_cents", when(col("o_orderkey") % 10 === 5,
            col("price_cents") * 2).otherwise(col("price_cents")))
          .unionByName(old.filter(col("o_orderkey") % 10 === 7)
            .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
        graft.operators.Relational.snapshotDiff(old, neu, Seq("o_orderkey"))
      }
    },

    // TIME-SERIES GAP-FILL + LOCF RESAMPLE (irregular events → a
    // regular per-user hourly grid carrying the last observed value —
    // the feature-store / monitoring-join regularization step). The
    // Spark side and the oracle DERIVE the same series two different
    // ways: Spark uses the spine-free lead()+explode(sequence)
    // formulation (agg shuffle + key window, ZERO joins — see
    // TimeSeries.resampleLocf); the oracle builds the classic per-key
    // calendar spine, left-joins observations, and forward-fills with
    // last_value IGNORE NULLS — agreeing output is evidence for both.
    // Within-bucket winner is the max-event_id row (deterministic);
    // values in exact cents.
    QueryDef.sql("q129_gapfill_locf",
      """WITH obs AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
        |         arg_max(CAST(round(value * 100) AS BIGINT), event_id) AS value_cents
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT user_id, min(bucket_ts) AS h0, max(bucket_ts) AS h1
        |  FROM obs GROUP BY 1),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket_ts
        |  FROM bounds),
        |joined AS (
        |  SELECT s.user_id, s.bucket_ts, o.value_cents,
        |         o.user_id IS NOT NULL AS observed
        |  FROM spine s LEFT JOIN obs o
        |    ON s.user_id = o.user_id AND s.bucket_ts = o.bucket_ts)
        |SELECT user_id, bucket_ts,
        |       last_value(value_cents IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY bucket_ts
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_cents,
        |       observed
        |FROM joined""".stripMargin) {
      (s, d) =>
        graft.operators.TimeSeries.resampleLocf(
          Tables.events(s, d), "user_id", "ts",
          cents(col("value")), "value_cents", "event_id")
    },

    // ROLLING Z-SCORE ANOMALY DETECTION, integer-exact: flag events
    // whose value deviates > 3σ from the user's trailing 20-event
    // window (window excludes the current row — anomaly vs HISTORY).
    // The z² > 9 test clears every denominator: with n/s/q the
    // trailing count/Σcents/Σcents², flag when
    // (n·v − s)² > 9·(n·q − s²) — all BIGINT (cents ≤ 5·10⁴, n ≤ 20
    // keeps every product < 10¹⁴), so both engines agree bit-for-bit
    // where double mean/stddev would differ in ULPs. One shuffle on
    // user_id serves all three window sums; ≥ 8 prior events required
    // before a row may flag (variance of a near-empty window is
    // noise).
    QueryDef.sql("q135_rolling_zscore",
      """WITH v AS (
        |  SELECT event_id, user_id, ts,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id, cents,
        |         count(*)  OVER win AS n,
        |         sum(cents) OVER win AS s,
        |         sum(cents * cents) OVER win AS q
        |  FROM v
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, cents, CAST(n AS BIGINT) AS n_prev
        |FROM w
        |WHERE n >= 8
        |  AND (n*cents - s) * (n*cents - s) > 9 * (n*q - s*s)""".stripMargin) {
      (s, d) => {
        val v = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("ts"),
            cents(col("value")).as("cents"))
        val win = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(-20, -1)
        v.withColumn("n", count(lit(1)).over(win))
          .withColumn("s", sum(col("cents")).over(win))
          .withColumn("q", sum(col("cents") * col("cents")).over(win))
          .filter(col("n") >= 8 &&
            (col("n") * col("cents") - col("s")) * (col("n") * col("cents") - col("s"))
              > lit(9L) * (col("n") * col("q") - col("s") * col("s")))
          .select(col("event_id"), col("user_id"), col("cents"),
            col("n").cast("long").as("n_prev"))
      }
    },

    // DATA-QUALITY EXPECTATION SUITE (Deequ/great-expectations
    // pattern): completeness, bounds, set membership, key uniqueness
    // and referential integrity over orders/lineitem/customer — every
    // row-level metric from ONE scan per table, each referential
    // check one anti-join. The floor-1000 bound deliberately FAILS
    // (cheap orders exist), proving violation counting end-to-end.
    QueryDef.sql("q144_expectations",
      """WITH om AS (
        |  SELECT
        |    count(CASE WHEN o_custkey IS NULL THEN 1 END) AS v_complete,
        |    count(CASE WHEN o_totalprice <= 0 THEN 1 END) AS v_pos,
        |    count(CASE WHEN o_totalprice < 1000 THEN 1 END) AS v_floor,
        |    count(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) AS v_status,
        |    count(CASE WHEN o_orderkey IS NOT NULL THEN 1 END)
        |      - count(DISTINCT CASE WHEN o_orderkey IS NOT NULL THEN o_orderkey END) AS v_uniq
        |  FROM orders),
        |lm AS (
        |  SELECT count(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END) AS v_range
        |  FROM lineitem),
        |rc AS (
        |  SELECT count(*) AS v FROM orders o
        |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON o.o_custkey = c.c_custkey
        |  WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL),
        |rl AS (
        |  SELECT count(*) AS v FROM lineitem l
        |  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL),
        |rep AS (
        |  SELECT 'orders.o_custkey complete' AS check_name, v_complete AS n_violations FROM om
        |  UNION ALL SELECT 'orders.o_totalprice positive', v_pos FROM om
        |  UNION ALL SELECT 'orders.o_totalprice floor1000', v_floor FROM om
        |  UNION ALL SELECT 'orders.o_orderstatus known', v_status FROM om
        |  UNION ALL SELECT 'orders.o_orderkey unique', v_uniq FROM om
        |  UNION ALL SELECT 'orders.o_custkey in customer', v FROM rc
        |  UNION ALL SELECT 'lineitem.l_quantity in [1,50]', v_range FROM lm
        |  UNION ALL SELECT 'lineitem.l_orderkey in orders', v FROM rl)
        |SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
        |       n_violations = 0 AS pass
        |FROM rep ORDER BY check_name""".stripMargin) {
      (s, d) => {
        val orders = Tables.orders(s, d)
        val suiteO = graft.operators.Integrity.expectations(orders,
          rowChecks = Seq(
            "orders.o_custkey complete" -> col("o_custkey").isNull,
            "orders.o_totalprice positive" -> (col("o_totalprice") <= 0),
            "orders.o_totalprice floor1000" -> (col("o_totalprice") < 1000),
            "orders.o_orderstatus known" ->
              !col("o_orderstatus").isin("O", "F", "P")),
          uniqueChecks = Seq("orders.o_orderkey unique" -> Seq("o_orderkey")),
          refChecks = Seq(("orders.o_custkey in customer",
            col("o_custkey"), Tables.customer(s, d), col("c_custkey"))))
        val suiteL = graft.operators.Integrity.expectations(Tables.lineitem(s, d),
          rowChecks = Seq("lineitem.l_quantity in [1,50]" ->
            (col("l_quantity") < 1 || col("l_quantity") > 50)),
          refChecks = Seq(("lineitem.l_orderkey in orders",
            col("l_orderkey"), orders, col("o_orderkey"))))
        suiteO.unionAll(suiteL).orderBy("check_name")
      }
    },

    // TIME-WEIGHTED AVERAGE per user (TWAP): each event's value holds
    // until the next event, so the mean weights values by µs held —
    // the duration-correct aggregate a plain avg gets wrong on bursty
    // streams. Integer-exact: cents × µs-durations sum as longs
    // (commutative), one final integer division; both engines agree
    // bit-for-bit where a double TWAP would drift.
    QueryDef.sql("q148_time_weighted_avg",
      """WITH s AS (
        |  SELECT user_id, epoch_us(ts) AS t,
        |         CAST(round(value * 100) AS BIGINT) AS c,
        |         lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS nxt
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |       CAST(sum(c * (nxt - t)) // sum(nxt - t) AS BIGINT) AS twap_cents
        |FROM s WHERE nxt IS NOT NULL
        |GROUP BY user_id HAVING sum(nxt - t) > 0""".stripMargin) {
      (s, d) =>
        graft.operators.TimeSeries.timeWeightedAvg(
          Tables.events(s, d), "user_id", unix_micros(col("ts")),
          cents(col("value")), "event_id")
    },

    // K-ANONYMITY audit: every (nation, segment) quasi-identifier
    // group, its population, and the k=8 re-identification flag —
    // the privacy check before releasing or training on
    // user-adjacent rows. One map-side-combinable aggregate.
    QueryDef.sql("q149_k_anonymity",
      """SELECT c_nationkey, c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       count(*) < 8 AS at_risk
        |FROM customer GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        graft.operators.Integrity.kAnonymity(
          Tables.customer(s, d), Seq("c_nationkey", "c_mktsegment"), k = 8)
    },

    // INTERVAL-OVERLAP JOIN without a shared key: purchase windows
    // [t, t+10min) × error windows [t, t+10min) that intersect —
    // the grid-bucketed equi-join replaces the quadratic theta-join
    // (both sides explode to 10-min buckets ≈ 2 rows each, pairs
    // meet only in shared buckets, exact predicate + pair-distinct
    // finish). Oracle is the brute-force non-equi join.
    QueryDef.sql("q150_interval_overlap_join",
      """WITH a AS (
        |  SELECT event_id AS a_id, epoch_us(ts) AS s,
        |         epoch_us(ts) + 600000000 AS e
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT event_id AS b_id, epoch_us(ts) AS s,
        |         epoch_us(ts) + 600000000 AS e
        |  FROM events WHERE event_type = 'error')
        |SELECT a_id, b_id,
        |       least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
        |FROM a JOIN b ON a.s < b.e AND b.s < a.e""".stripMargin) {
      (s, d) => {
        val ev = Tables.events(s, d)
        def side(t: String, id: String, st: String, en: String) =
          ev.filter(col("event_type") === t)
            .select(col("event_id").as(id), unix_micros(col("ts")).as(st),
              (unix_micros(col("ts")) + 600000000L).as(en))
        graft.operators.Relational.intervalOverlapJoin(
          side("purchase", "pid", "ps", "pe"), "pid", "ps", "pe",
          side("error", "eid", "es", "ee"), "eid", "es", "ee",
          bucketMicros = 600000000L)
      }
    },

    // PER-USER LINEAR TREND (OLS slope in milli-cents/hour): five
    // integer sufficient statistics in ONE map-side-combinable
    // aggregate, slope by |num|-division with the sign re-applied —
    // floor-vs-trunc divergence on negatives is the cross-engine
    // trap this construction dodges. x = epoch-hour index (the
    // defined model), so every product stays in int64.
    QueryDef.sql("q151_group_trend",
      """WITH s AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS x,
        |         CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events),
        |g AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x*y) AS BIGINT) AS sxy,
        |         CAST(sum(x*x) AS BIGINT) AS sxx
        |  FROM s GROUP BY 1),
        |t AS (SELECT user_id, n_obs, n_obs*sxy - sx*sy AS num,
        |             n_obs*sxx - sx*sx AS den FROM g)
        |SELECT user_id, n_obs,
        |       CAST(CASE WHEN num < 0 THEN -((1000 * (-num)) // den)
        |                 ELSE (1000 * num) // den END AS BIGINT) AS slope_milli
        |FROM t WHERE den > 0""".stripMargin) {
      (s, d) =>
        graft.operators.TimeSeries.groupTrend(
          Tables.events(s, d), "user_id", unix_micros(col("ts")),
          cents(col("value")))
    },

    // CATEGORICAL DISTRIBUTION DRIFT (training-data shift audit):
    // event-type mix of the first half-month vs the second, each
    // category's exact-integer contribution to the total-variation
    // distance in ppm over the common denominator n_a·n_b.
    QueryDef.sql("q152_distribution_drift",
      """WITH a AS (SELECT event_type AS category, count(*) AS n_a
        |           FROM events WHERE epoch_us(ts) < 1705363200000000 GROUP BY 1),
        |b AS (SELECT event_type AS category, count(*) AS n_b
        |      FROM events WHERE epoch_us(ts) >= 1705363200000000 GROUP BY 1),
        |j AS (SELECT coalesce(a.category, b.category) AS category,
        |             coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |      FROM a FULL OUTER JOIN b ON a.category = b.category),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        |             CAST(sum(n_b) AS BIGINT) AS tb FROM j)
        |SELECT category, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |       CAST((1000000 * abs(n_a * tb - n_b * ta)) // (2 * ta * tb)
        |            AS BIGINT) AS tvd_contrib_ppm
        |FROM j CROSS JOIN t""".stripMargin) {
      (s, d) => {
        val ev = Tables.events(s, d).withColumn("__us", unix_micros(col("ts")))
        val cut = 1705363200000000L // 2024-01-16T00:00Z
        graft.operators.Profiling.distributionDrift(
          ev.filter(col("__us") < cut), ev.filter(col("__us") >= cut),
          col("event_type"))
      }
    },

    // MAD ROBUST OUTLIERS per user: |v − median| > 3·MAD with EXACT
    // rank order statistics (the lower median, q84's convention) —
    // the robust complement to q135's rolling z-score (mean/σ are
    // dragged by the outliers they should flag; median/MAD have 50%
    // breakdown). All integer; both rank windows and both joins are
    // user-keyed.
    QueryDef.sql("q155_mad_outliers",
      """WITH v AS (SELECT event_id, user_id,
        |                 CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |                  ORDER BY cents, event_id) AS rn,
        |             count(*) OVER (PARTITION BY user_id) AS n FROM v),
        |med AS (SELECT user_id, cents AS med FROM r WHERE rn = (n + 1) // 2),
        |dv AS (SELECT v.event_id, v.user_id, v.cents, med.med,
        |              abs(v.cents - med.med) AS d
        |       FROM v JOIN med USING (user_id)),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |                   ORDER BY d, event_id) AS rn,
        |              count(*) OVER (PARTITION BY user_id) AS n FROM dv),
        |mad AS (SELECT user_id, d AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT dv.event_id, dv.user_id, dv.cents, dv.med, mad.mad
        |FROM dv JOIN mad USING (user_id)
        |WHERE dv.d > 3 * mad.mad""".stripMargin) {
      (s, d) =>
        graft.operators.TimeSeries.madOutliers(
          Tables.events(s, d), "user_id", cents(col("value")), "event_id", k = 3)
    },

    // MARKOV TRANSITION MATRIX: corpus-wide event-type transition
    // counts + milli-probabilities from per-user (ts, event_id)
    // sequences — one lead() window, one pair count, broadcast row
    // normalization. 25 rows (5×5 state space), every one exact.
    QueryDef.sql("q156_transition_matrix",
      """WITH s AS (
        |  SELECT user_id, event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS nxt
        |  FROM events),
        |t AS (SELECT event_type AS from_state, nxt AS to_state,
        |             CAST(count(*) AS BIGINT) AS n
        |      FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS tn
        |        FROM t GROUP BY 1)
        |SELECT from_state, to_state, n,
        |       CAST((1000 * n) // tn AS BIGINT) AS p_milli
        |FROM t JOIN tot USING (from_state)""".stripMargin) {
      (s, d) =>
        graft.operators.TimeSeries.transitionMatrix(
          Tables.events(s, d), "user_id", unix_micros(col("ts")),
          col("event_type"), "event_id")
    },

    // BOUNDED MULTI-SOURCE BFS: hop tiers from the first ten
    // customers through the symmetrized customer↔supplier graph
    // (q116's node encoding) within 3 hops — frontier expansion, one
    // edge join per round, one job per round (lazy checkpoint + the
    // convergence count, the connected-components discipline). The
    // oracle is a recursive UNION CTE (distinct (node, dist) rows, so
    // cycles cannot explode it) reduced by min(dist).
    QueryDef.sql("q159_bfs_distances",
      """WITH RECURSIVE base AS (
        |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |edges AS (SELECT src, dst FROM base
        |          UNION SELECT dst, src FROM base),
        |seeds AS (SELECT DISTINCT o_custkey * 2 AS node
        |          FROM orders WHERE o_custkey < 10),
        |d(node, dist) AS (
        |  SELECT node, 0 FROM seeds
        |  UNION
        |  SELECT e.dst, d.dist + 1
        |  FROM d JOIN edges e ON e.src = d.node WHERE d.dist < 3)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist
        |FROM d GROUP BY node""".stripMargin) {
      (s, d) => {
        val base = Tables.orders(s, d)
          .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst")).distinct()
        val edges = base.unionByName(
          base.select(col("dst").as("src"), col("src").as("dst")))
        val seeds = Tables.orders(s, d).filter(col("o_custkey") < 10)
          .select((col("o_custkey") * 2).as("node")).distinct()
        graft.operators.Graphs.bfsDistances(edges, seeds, maxHops = 3)
      }
    }
  )
}
