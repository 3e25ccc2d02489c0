package graft.gate

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators._
import graft.functions._
import graft.plans._
import graft.gate.Gate._

/** Gated queries for the relational analytics beyond the reference (X,
  * SURVEY §2.8) and event windowing (E).
  */
private[graft] object AnalyticsGates {

  lazy val queries: Seq[GatedQuery] = Seq(
    /** Calendar bucketing (reference `utils.js:126-143` quarter keys): orders
      * rolled up by year/quarter with the quarter's date bounds. Dates go out
      * as epoch DAYS (BIGINT) — DATE columns are another canonicalization-
      * fragile type class across engines.
      */
    GatedQuery("q_x_quarter",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("y"), quarter(col("o_orderdate")).as("q"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("o_totalprice") * 100 + 0.5)).as("sum_cents"))
          .select(col("y"), col("q"),
            datediff(DateOps.quarterStartDate(col("y"), col("q")), lit("1970-01-01"))
              .cast("long").as("qs_days"),
            datediff(DateOps.quarterEndDate(col("y"), col("q")), lit("1970-01-01"))
              .cast("long").as("qe_days"),
            col("n"), col("sum_cents"))
          .orderBy("y", "q"),
      """SELECT year(o_orderdate) AS y, quarter(o_orderdate) AS q,
                CAST(make_date(year(o_orderdate), (quarter(o_orderdate) - 1) * 3 + 1, 1)
                     - DATE '1970-01-01' AS BIGINT) AS qs_days,
                CAST(last_day(make_date(year(o_orderdate), quarter(o_orderdate) * 3, 1))
                     - DATE '1970-01-01' AS BIGINT) AS qe_days,
                count(*) AS n,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM orders GROUP BY 1, 2, 3, 4 ORDER BY y, q"""),

    /** Binned range join ([[graft.operators.Joins.rangeJoin]]): lineitems
      * shipping inside each sampled order's 30-day window. A raw
      * `d BETWEEN lo AND hi` join plans as a nested loop — the binned operator
      * turns it into an equi-join on the bin key (SURVEY §2.8 scope extension).
      */
    GatedQuery("q_x_range_join",
      (s, dir) => {
        def days(c: Column): Column = datediff(c.cast("date"), lit("1970-01-01").cast("date"))
        val intervals = t(s, dir, "orders")
          .filter(pmod(col("o_orderkey"), lit(97)) === 0)
          .select(col("o_orderkey"), days(col("o_orderdate")).as("lo_day"))
          .withColumn("hi_day", col("lo_day") + 30)
        val points = t(s, dir, "lineitem")
          .select(days(col("l_shipdate")).as("d"), col("l_quantity"))
        Joins.rangeJoin(points, intervals, "d", "lo_day", "hi_day", binWidth = 32)
          .groupBy("o_orderkey", "lo_day")
          .agg(count(lit(1)).as("n_ship"),
            sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("qty_cents"))
          .select("o_orderkey", "lo_day", "n_ship", "qty_cents")
          .orderBy("o_orderkey")
      },
      """WITH i AS (SELECT o_orderkey,
                    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS lo_day
                    FROM orders WHERE o_orderkey % 97 = 0),
              p AS (SELECT datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d,
                    l_quantity FROM lineitem)
         SELECT i.o_orderkey, CAST(i.lo_day AS INTEGER) AS lo_day,
                CAST(count(*) AS BIGINT) AS n_ship,
                CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_cents
         FROM p JOIN i ON p.d BETWEEN i.lo_day AND i.lo_day + 30
         GROUP BY 1, 2 ORDER BY o_orderkey"""),

    /** Schema explosion on request (SURVEY §7.4.3): dynamic keys → fixed
      * columns via pivot.
      */
    GatedQuery("q_x_pivot",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy("user_id")
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy("user_id"),
      """SELECT user_id,
                count(*) FILTER (WHERE event_type = 'click') AS click,
                count(*) FILTER (WHERE event_type = 'error') AS error,
                count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                count(*) FILTER (WHERE event_type = 'signup') AS signup,
                count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY user_id ORDER BY user_id"""),

    /** Dynamic JSON payload column (§1.2): extract from the props JSON string
      * without widening the schema.
      */
    GatedQuery("q_x_json_props",
      (s, dir) =>
        t(s, dir, "events")
          .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(pmod(col("k"), lit(10)).as("k_bucket"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
          .orderBy("k_bucket"),
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
                count(*) AS n,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
         FROM events GROUP BY 1 ORDER BY k_bucket"""),

    GatedQuery("q_x_window_topn",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn")
      },
      topNSql),

    /** `q_x_window_topn`'s semantics through the BOUNDED AGGREGATE instead
      * of the window — `top_k_pairs(score, id, k)` in a plain GROUP BY (the
      * SQL registration, so a spec `agg` node can author it). The partial
      * pass keeps ≤k rows per group per map partition where the window form
      * ships-and-sorts every row; both must produce the identical relation,
      * which this gate pins against the same row_number() oracle.
      */
    GatedQuery("q_x_topn_agg",
      (s, dir) => {
        GraftFunctions.register(s)
        t(s, dir, "orders").createOrReplaceTempView("__orders_topn")
        s.sql(
          """SELECT o_custkey, e.id AS o_orderkey, e.score AS o_totalprice,
                CAST(pos + 1 AS INT) AS rn
         FROM (SELECT o_custkey,
                      top_k_pairs(o_totalprice, o_orderkey, 3) AS top
               FROM __orders_topn GROUP BY o_custkey)
         LATERAL VIEW posexplode(top) t AS pos, e
         ORDER BY o_custkey, rn""")
      },
      // the same analytic as a BOUNDED AGGREGATE (top_k_pairs in a GROUP
      // BY) — must equal the window form row-for-row
      topNSql),

    /** Frame-based window: per-customer running order total (cents) in date
      * order — the cumulative-aggregation idiom (frame = unbounded preceding
      * to current row, with orderkey tiebreak for determinism).
      */
    GatedQuery("q_x_running",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders")
          .filter(col("o_custkey") <= 200)
          .select(col("o_custkey"), col("o_orderkey"),
            sum(floor(col("o_totalprice") * 100 + 0.5)).over(w).as("running_cents"))
          .orderBy("o_custkey", "o_orderkey")
      },
      runningSql),

    /** Distribution bucketing: quartile assignment over account balance. */
    GatedQuery("q_x_ntile",
      (s, dir) => {
        val w = Window.orderBy(col("c_acctbal").desc, col("c_custkey"))
        t(s, dir, "customer")
          .select(col("c_custkey"), ntile(4).over(w).as("balance_quartile"))
          .orderBy("c_custkey")
      },
      """SELECT c_custkey,
                CAST(ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS INT)
                  AS balance_quartile
         FROM customer ORDER BY c_custkey"""),

    GatedQuery("q_x_anti_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o95 = t(s, dir, "orders").filter(year(col("o_orderdate")) === 1995)
        c.join(o95, c("c_custkey") === o95("o_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_mktsegment")
          .orderBy("c_custkey")
      },
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                           AND year(o.o_orderdate) = 1995)
         ORDER BY c_custkey"""),

    GatedQuery("q_x_semi_join",
      (s, dir) => {
        val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
          .orderBy("c_mktsegment")
      },
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    GatedQuery("q_x_rollup",
      (s, dir) => {
        val li = t(s, dir, "lineitem"); val sup = t(s, dir, "supplier")
        val nat = t(s, dir, "nation"); val reg = t(s, dir, "region")
        li.join(sup, li("l_suppkey") === sup("s_suppkey"))
          .join(nat, sup("s_nationkey") === nat("n_nationkey"))
          .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("l_extendedprice") * 100 + 0.5)).as("sum_price_cents"))
          .select(coalesce(col("r_name"), lit("ALL")).as("region_name"),
                  coalesce(col("n_name"), lit("ALL")).as("nation_name"),
                  col("n"), col("sum_price_cents"))
          .orderBy("region_name", "nation_name")
      },
      """SELECT coalesce(r_name, 'ALL') AS region_name,
                coalesce(n_name, 'ALL') AS nation_name,
                count(*) AS n,
                CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name) ORDER BY region_name, nation_name"""),

    /** CUBE over two dimensions (rollup's sibling; all 2² grouping sets). */
    GatedQuery("q_x_cube",
      (s, dir) =>
        t(s, dir, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("o_totalprice") * 100 + 0.5)).as("sum_cents"))
          .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
                  coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
                  col("n"), col("sum_cents"))
          .orderBy("status", "priority"),
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
                coalesce(o_orderpriority, 'ALL') AS priority,
                count(*) AS n,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY status, priority"""),

    GatedQuery("q_x_intersect",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val y95 = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
        val y96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
        y95.intersect(y96).orderBy("o_custkey")
      },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         INTERSECT SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         ORDER BY o_custkey"""),

    GatedQuery("q_x_except",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val y95 = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
        val y96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
        y95.except(y96).orderBy("o_custkey")
      },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
         EXCEPT SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
         ORDER BY o_custkey"""),

    /** As-of join: enrich each purchase with the user's latest prior click. */
    GatedQuery("q_x_asof",
      (s, dir) => {
        val events = t(s, dir, "events")
        val purchases = events.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = events.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"),
            col("ts").as("click_ts"), col("value").as("click_value"))
        Joins.asofJoin(purchases, clicks, "user_id", "ts", "ts",
            payload = Seq("click_ts", "click_value"))
          .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
            unix_micros(col("click_ts")).as("click_ts_us"), col("click_value"))
          .orderBy("event_id")
      },
      """SELECT p.event_id, epoch_us(p.ts) AS ts_us,
                epoch_us(c.ts) AS click_ts_us, c.value AS click_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts >= c.ts
         ORDER BY p.event_id"""),

    GatedQuery("q_e_tumbling",
      (s, dir) =>
        // Window boundary goes out as epoch micros (q_x_asof's passing pattern):
        // formatted-timestamp strings depend on session timezone and hash
        // unstably in the driver's canonicalization.
        graft.streaming.Streams.tumblingAgg(t(s, dir, "events"), "ts", "1 hour",
          keys = Seq(col("event_type")),
          aggs = Seq(count(lit(1)).as("n"),
            sum(floor(col("value") * 100 + 0.5)).as("sum_value_cents")))
          .select(unix_micros(col("window_start")).as("ws_us"),
                  col("event_type"), col("n"), col("sum_value_cents"))
          .orderBy("ws_us", "event_type"),
      tumblingSql),

    GatedQuery("q_e_sessionize",
      (s, dir) =>
        graft.streaming.Streams.sessionize(t(s, dir, "events"), "user_id", "ts", gapSeconds = 1800)
          .groupBy("user_id")
          .agg(max(col("session_seq")).as("n_sessions"), count(lit(1)).as("n_events"))
          .orderBy("user_id"),
      sessionCountsSql(">")),

    /** Sessionization via Spark's NATIVE session_window operator (the
      * streaming-state formulation; merge-on-overlap semantics, so a new
      * session starts at gap >= 30 min — the oracle mirrors the half-open
      * interval with `>=`).
      */
    GatedQuery("q_e_session_window",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"), sum(col("n")).cast("long").as("n_events"))
          .orderBy("user_id"),
      // session_window merges on interval overlap → a new session at gap >= 30min
      // (half-open [t, t+gap)), hence >= here vs > in the lag formulation above
      sessionCountsSql(">=")),

    /** CDC diff of two deterministic snapshots of `orders`: keys divisible by
      * 7 are absent from prev (→ inserts), by 5 absent from next (→ deletes),
      * by 3 repriced (→ updates); everything else is unchanged and dropped.
      */
    GatedQuery("q_x_snapshot_diff",
      (s, dir) => {
        val orders = t(s, dir, "orders").select(col("o_orderkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("price_cents"))
        val prev = orders.filter(col("o_orderkey") % 7 =!= 0)
        val next = orders.filter(col("o_orderkey") % 5 =!= 0)
          .withColumn("price_cents",
            when(col("o_orderkey") % 3 === 0, col("price_cents") + 100)
              .otherwise(col("price_cents")))
        Snapshot.diff(prev, next, Seq("o_orderkey"), Seq("price_cents"))
          .orderBy("o_orderkey")
      },
      """WITH o AS (SELECT o_orderkey,
                           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
                    FROM orders),
         prev AS (SELECT * FROM o WHERE o_orderkey % 7 <> 0),
         next AS (SELECT o_orderkey,
                         CASE WHEN o_orderkey % 3 = 0 THEN price_cents + 100
                              ELSE price_cents END AS price_cents
                  FROM o WHERE o_orderkey % 5 <> 0)
         SELECT * FROM (
           SELECT COALESCE(n.o_orderkey, p.o_orderkey) AS o_orderkey,
                  CASE WHEN n.o_orderkey IS NULL THEN p.price_cents
                       ELSE n.price_cents END AS price_cents,
                  CASE WHEN p.o_orderkey IS NULL THEN 'insert'
                       WHEN n.o_orderkey IS NULL THEN 'delete'
                       WHEN n.price_cents IS DISTINCT FROM p.price_cents THEN 'update'
                       END AS op
           FROM next n FULL OUTER JOIN prev p ON n.o_orderkey = p.o_orderkey)
         WHERE op IS NOT NULL ORDER BY o_orderkey"""),

    /** SCD type-2 history from a 3-round synthetic observation log of
      * `orders` prices: round 2 reprices keys divisible by 3, round 3 repeats
      * round 2 (must collapse). Open intervals emit valid_to = -1 and
      * is_current as BIGINT — hash-stable output types.
      */
    GatedQuery("q_x_scd2",
      (s, dir) => {
        val orders = t(s, dir, "orders").filter(col("o_orderkey") % 50 === 0)
          .select(col("o_orderkey"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("price_cents"))
        def obs(ts: Long, reprice: Boolean) = {
          val p = if (reprice)
            when(col("o_orderkey") % 3 === 0, col("price_cents") + 100)
              .otherwise(col("price_cents"))
          else col("price_cents")
          orders.select(col("o_orderkey"), p.as("price_cents"), lit(ts).as("ts"))
        }
        val log = obs(1, reprice = false)
          .unionByName(obs(2, reprice = true))
          .unionByName(obs(3, reprice = true))
        Snapshot.scd2(log, Seq("o_orderkey"), "ts", Seq("price_cents"))
          .select(col("o_orderkey"), col("price_cents"), col("valid_from"),
            coalesce(col("valid_to"), lit(-1L)).as("valid_to"),
            col("is_current").cast("long").as("is_current"))
          .orderBy("o_orderkey", "valid_from")
      },
      """WITH o AS (SELECT o_orderkey,
                           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
                    FROM orders WHERE o_orderkey % 50 = 0),
         log AS (
           SELECT o_orderkey, price_cents, CAST(1 AS BIGINT) AS ts FROM o
           UNION ALL
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 3 = 0 THEN price_cents + 100
                       ELSE price_cents END, CAST(2 AS BIGINT) FROM o
           UNION ALL
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 3 = 0 THEN price_cents + 100
                       ELSE price_cents END, CAST(3 AS BIGINT) FROM o),
         marked AS (
           SELECT *,
                  CASE WHEN lag(price_cents) OVER w IS DISTINCT FROM price_cents
                         OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS first
           FROM log WINDOW w AS (PARTITION BY o_orderkey ORDER BY ts)),
         iv AS (
           SELECT o_orderkey, price_cents, ts AS valid_from,
                  lead(ts) OVER (PARTITION BY o_orderkey ORDER BY ts) AS valid_to
           FROM marked WHERE first = 1)
         SELECT o_orderkey, price_cents, valid_from,
                coalesce(valid_to, -1) AS valid_to,
                CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
         FROM iv ORDER BY o_orderkey, valid_from"""),

    /** Top-N-per-key as a persisted spec — the window/analytic node
      * ([[graft.plans.WindowNodeSpec]]) through the authored-JSON UX: a
      * RunSpec user writes "keep the largest N per key" without Scala. The
      * gate compiles FROM the checked-in asset `specs/window_topn.json`.
      */
    GatedQuery("q_x_window_topn_spec",
      (s, dir) =>
        PipelineCompiler.compile(
          SpecJson.fromJson(SpecJson.resource("/specs/window_topn.json")), s, Map("dir" -> dir)),
      // same analytic through the persisted-spec surface (WindowNodeSpec
      // compiled from specs/window_topn.json) — the oracle is identical
      topNSql),

    /** The FRAME clause through the persisted surface: `q_x_running`'s
      * cumulative sum authored as a window node. The spec round-trips
      * through JSON on the gate path (serialize → parse → compile), so the
      * frame string's fidelity is oracle-checked, not just CI-checked.
      */
    GatedQuery("q_x_running_spec",
      (s, dir) => {
        val spec = PipelineSpec(Seq(
          "orders" -> SourceSpec("parquet", "{%dir%}/orders.parquet"),
          "small"  -> FilterSpec(RefSpec("orders"), "o_custkey <= 200"),
          "run"    -> WindowNodeSpec(RefSpec("small"),
                        "sum(floor(o_totalprice * 100 + 0.5))", "running_cents",
                        partitionBy = Seq("o_custkey"),
                        orderBy = Seq("o_orderdate", "o_orderkey"),
                        frame = "rows between unbounded preceding and current row"),
          "out"    -> MapSpec(RefSpec("run"), Seq(
                        "o_custkey" -> "o_custkey", "o_orderkey" -> "o_orderkey",
                        "running_cents" -> "running_cents")),
          "sorted" -> SortSpec(RefSpec("out"), Seq("o_custkey", "o_orderkey"))),
          out = "sorted")
        PipelineCompiler.compile(SpecJson.fromJson(SpecJson.toJson(spec)), s, Map("dir" -> dir))
      },
      // the frame clause through the persisted window node: same oracle
      runningSql),

    /** Spy node through the persisted-spec surface (`jobs/job.js:99-116` —
      * the reference attaches spies to STORED jobs; round 16 closes the last
      * spec-surface parity gap): the spy wraps the filtered stream, reports
      * `rows` plus a named metric as observed metrics on every action
      * (values pinned in PipelineSpecSpec; RunSpec prints them), and must
      * return the stream UNCHANGED — pass-through fidelity is the
      * oracle-checkable contract, so the oracle is the spy-less query.
      */
    GatedQuery("q_x_spy_node",
      (s, dir) => {
        val spec = PipelineSpec(Seq(
          "orders" -> SourceSpec("parquet", "{%dir%}/orders.parquet"),
          "spied"  -> SpyNodeSpec(FilterSpec(RefSpec("orders"), "o_custkey <= 200"),
                        "gate_spy", Seq("n_open" -> "count_if(o_orderstatus = 'O')")),
          "out"    -> MapSpec(RefSpec("spied"), Seq(
                        "o_orderkey" -> "o_orderkey", "o_custkey" -> "o_custkey",
                        "cents" -> "cast(floor(o_totalprice * 100 + 0.5) as bigint)")),
          "sorted" -> SortSpec(RefSpec("out"), Seq("o_orderkey"))),
          out = "sorted")
        PipelineCompiler.compile(SpecJson.fromJson(SpecJson.toJson(spec)), s, Map("dir" -> dir))
      },
      // the spy node is pass-through — the oracle is the spy-less query
      """SELECT o_orderkey, o_custkey,
                CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
         FROM orders WHERE o_custkey <= 200
         ORDER BY o_orderkey"""),

    /** Z-order layout gate ([[graft.sinks.Writers.zorderLayout]]) THROUGH the
      * [[graft.plans.LayoutNodeSpec]] spec surface: a lineitem projection is
      * rewritten into a Morton-clustered parquet layout by a pipeline compiled
      * from its own persisted JSON (LayoutNode round-trip), read back, and
      * compared row-for-row against the source — a clustered layout must be a
      * pure physical reordering, zero row or value drift. File-pruning
      * efficacy (the reason the layout exists) is CI-gated in ZorderSpec on
      * footer min/max overlap and decoded-row scan metrics; this gate pins
      * end-to-end data fidelity of the rewrite.
      */
    GatedQuery("q_x_zorder",
      (s, dir) => {
        val out = tmp("x_zorder", dir)
        val spec = PipelineSpec(nodes = Seq(
          "li"     -> SourceSpec("parquet", "{%dir%}/lineitem.parquet"),
          "narrow" -> MapSpec(RefSpec("li"), Seq(
            "l_orderkey" -> "l_orderkey", "l_linenumber" -> "l_linenumber",
            "l_partkey" -> "l_partkey", "l_quantity" -> "l_quantity",
            "l_extendedprice" -> "l_extendedprice")),
          "z"      -> LayoutNodeSpec(RefSpec("narrow"), "zorder", s"$out/z",
                        Seq("l_partkey", "l_extendedprice"), files = 16, bits = 8)),
          out = "z")
        val back = SpecJson.fromJson(SpecJson.toJson(spec))
        PipelineCompiler.compile(back, s, Map("dir" -> dir))
          .orderBy("l_orderkey", "l_linenumber")
      },
      // Z-order layout: the rewrite is a pure physical reordering, so the
      // read-back relation must equal the source projection row-for-row
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""),

    /** Exact distributed percentiles (Catalyst `percentile`, one hash-agg
      * pass). Gate-output rule: prices are scaled to integer cents BEFORE the
      * percentile so interpolation happens on integers at binary-exact
      * fractions (.25/.5/.75) — both engines' linear-interpolation formulas
      * are then bit-identical, and the ×100 output stays integral.
      */
    GatedQuery("q_x_percentiles",
      (s, dir) => {
        val cents = floor(col("l_extendedprice") * 100 + 0.5)
        val pct = percentile(cents, lit(Array(0.25, 0.5, 0.75)))
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), pct.as("p"))
          .select(col("l_returnflag"), col("n"),
            (element_at(col("p"), 1) * 100).cast("long").as("p25_c100"),
            (element_at(col("p"), 2) * 100).cast("long").as("p50_c100"),
            (element_at(col("p"), 3) * 100).cast("long").as("p75_c100"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, count(*) AS n,
                CAST(quantile_cont(cents, 0.25) * 100 AS BIGINT) AS p25_c100,
                CAST(quantile_cont(cents, 0.5)  * 100 AS BIGINT) AS p50_c100,
                CAST(quantile_cont(cents, 0.75) * 100 AS BIGINT) AS p75_c100
         FROM (SELECT l_returnflag, floor(l_extendedprice * 100 + 0.5) AS cents
               FROM lineitem)
         GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Top 3 orders per customer by price — the window, bounded-aggregate
    * and spec forms must all equal it row for row.
    */
  private val topNSql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"""

  /** Per-customer running order total in cents (Scala window and spec form). */
  private val runningSql =
    """SELECT o_custkey, o_orderkey,
              CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
       FROM orders WHERE o_custkey <= 200
       ORDER BY o_custkey, o_orderkey"""
}
