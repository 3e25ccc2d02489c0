package graft.gate

import org.apache.spark.sql.functions._

import graft.operators._
import graft.plans._
import graft.gate.Gate._

/** Gated queries for the convertors (C1–C9) and the hi-order operators
  * (H1–H4).
  */
private[graft] object ConvertorGates {

  lazy val queries: Seq[GatedQuery] = Seq(
    GatedQuery("q_c1_filter",
      (s, dir) =>
        CoreOps.filterOp(t(s, dir, "lineitem"), col("l_quantity") > 45 && col("l_discount") < 0.05)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
                  col("l_quantity"), col("l_extendedprice"))
          .orderBy(col("l_orderkey"), col("l_linenumber")),
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
         FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.05
         ORDER BY l_orderkey, l_linenumber"""),

    GatedQuery("q_c2_mapper",
      (s, dir) =>
        CoreOps.mapper(t(s, dir, "orders"),
          "o_orderkey" -> col("o_orderkey"),
          "o_year" -> year(col("o_orderdate")),
          "status_prio" -> concat_ws("-", col("o_orderstatus"), col("o_orderpriority")),
          // integer-cents via floor(x+0.5): pure IEEE ops, bit-identical in any
          // engine (round()/decimal-cast semantics differ between engines)
          "commission_cents" -> floor(col("o_totalprice") * 0.1 * 100 + 0.5).cast("long"))
          .orderBy("o_orderkey"),
      """SELECT o_orderkey, year(o_orderdate) AS o_year,
                o_orderstatus || '-' || o_orderpriority AS status_prio,
                CAST(floor(o_totalprice * 0.1 * 100 + 0.5) AS BIGINT) AS commission_cents
         FROM orders ORDER BY o_orderkey"""),

    GatedQuery("q_c3_thru",
      (s, dir) => {
        import s.implicits._
        val part = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
        val exploded = CoreOps.flatMapExplode(part, split(col("p_name"), " "), "word")
        val synthetic = Seq((-1L, "__header__")).toDF("p_partkey", "word")
        CoreOps.injectRows(exploded.select(col("p_partkey"), col("word")), synthetic)
          .orderBy("p_partkey", "word")
      },
      """SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part
         UNION ALL SELECT -1 AS p_partkey, '__header__' AS word
         ORDER BY p_partkey, word"""),

    /** C3 Thru STATEFUL fidelity mode gate: a cross-record running fold
      * (1-based arrival sequence + running integer-cents total) over orders in
      * o_orderkey order, via [[CoreOps.thruStateful]]'s single-partition
      * sequential execution — the reference's one-thread Thru semantics
      * (`job-thru.js:17-53`). Window-expressible, so DuckDB oracles it with
      * row_number() + a running sum; integer cents keep the running sum
      * bit-identical across engines. Bounded to o_orderkey <= 2000 because
      * the fidelity mode is DELIBERATELY sequential (SURVEY §7.4.1): the gate
      * proves semantics, not scale — the distributed reformulation is
      * `q_x_running`.
      */
    GatedQuery("q_c3_stateful",
      (s, dir) => {
        import s.implicits._
        val src = t(s, dir, "orders").filter(col("o_orderkey") <= 2000)
          .select(col("o_orderkey").cast("long").as("k"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
          .orderBy("k").as[(Long, Long)]
        CoreOps.thruStateful(src, (0L, 0L)) { case ((seq, tot), (k, cents)) =>
          ((seq + 1, tot + cents), Seq((k, seq + 1, tot + cents)))
        }.toDF("o_orderkey", "seq", "run_cents").orderBy("o_orderkey")
      },
      """SELECT o_orderkey,
                CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS seq,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                     OVER (ORDER BY o_orderkey) AS BIGINT) AS run_cents
         FROM orders WHERE o_orderkey <= 2000
         ORDER BY o_orderkey"""),

    GatedQuery("q_c4_reducer",
      (s, dir) =>
        // All money/quantity sums go out as BIGINT integer-cents (floor(x*100+0.5)
        // is pure IEEE, then sum-of-longs): decimal sum outputs widen to
        // DECIMAL(28,2) in Spark vs DECIMAL(38,2) in DuckDB and the driver's hash
        // canonicalization is not stable across that — see VERDICT r1 §wrong #1.
        CoreOps.reducer(
          CoreOps.filterOp(t(s, dir, "lineitem"), col("l_shipdate") <= lit("1998-09-02")),
          keys = Seq(col("l_returnflag"), col("l_linestatus")),
          aggs = Seq(
            sum(floor(col("l_quantity") * 100 + 0.5)).as("sum_qty_cents"),
            sum(floor(col("l_extendedprice") * 100 + 0.5)).as("sum_base_cents"),
            sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100 + 0.5))
              .as("sum_disc_cents"),
            count(lit(1)).as("count_order")))
          .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
                CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents,
                CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
                count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),

    /** C9 `Nothing` through the gate: the plan executes against the noop sink
      * (materializing nothing) while a spy (`observe`) records aggregates —
      * the reference's nothing-writer + spy combination (`job-nothing.js`,
      * `jobs/job.js:202-210`). The observed metrics are the query result, so
      * the oracle checks that the noop execution really ran the full plan.
      */
    GatedQuery("q_c9_nothing",
      (s, dir) => {
        import s.implicits._
        val obs = new org.apache.spark.sql.Observation(
          s"c9_${math.abs(dir.hashCode)}_${c9Seq.incrementAndGet()}")
        val df = t(s, dir, "supplier").observe(obs,
          count(lit(1)).as("n"),
          sum(floor(col("s_acctbal") * 100 + 0.5)).as("bal_cents"))
        graft.sinks.Writers.noop(df)
        Seq((obs.get("n").asInstanceOf[Long], obs.get("bal_cents").asInstanceOf[Long]))
          .toDF("n", "bal_cents")
      },
      """SELECT count(*) AS n,
                CAST(sum(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS bal_cents
         FROM supplier"""),

    GatedQuery("q_c5_sorter",
      (s, dir) =>
        CoreOps.sorter(t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal"),
          col("c_acctbal").desc, col("c_custkey").asc).limit(100),
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         ORDER BY c_acctbal DESC, c_custkey LIMIT 100"""),

    GatedQuery("q_c6_uniquer",
      (s, dir) =>
        CoreOps.uniquerKeepFirst(t(s, dir, "orders"), key = Seq("o_custkey"), order = Seq("o_orderkey"))
          .select(col("o_custkey"), col("o_orderkey").as("first_order"),
                  col("o_orderstatus").as("first_status"))
          .orderBy("o_custkey"),
      """SELECT o_custkey, min(o_orderkey) AS first_order,
                min_by(o_orderstatus, o_orderkey) AS first_status
         FROM orders GROUP BY o_custkey ORDER BY o_custkey"""),

    GatedQuery("q_c7c8_map_roundtrip",
      (s, dir) => {
        // per-user event_type counts → array<struct> → map (C7 w/ collapse rule)
        // → back to array (C8) → exploded rows; oracle is the plain GROUP BY.
        val counts = t(s, dir, "events").groupBy("user_id", "event_type").count()
        val arr = counts.groupBy("user_id")
          .agg(collect_list(struct(col("event_type").as("id"), col("count").as("cnt"))).as("arr"))
        val asMap = CoreOps.array2map(arr, "arr", "m", idKey = "id")
        val back = CoreOps.map2array(asMap, "m", "entries", idKey = "id", valueKey = "value")
        back.select(col("user_id"), explode(col("entries")).as("e"))
          .select(col("user_id"), col("e.id").as("event_type"), col("e.value").as("n"))
          .orderBy("user_id", "event_type")
      },
      """SELECT user_id, event_type, count(*) AS n FROM events
         GROUP BY user_id, event_type ORDER BY user_id, event_type"""),

    /** C3's measure-explosion idiom (one record → a set of measure/value
      * records from its numeric fields, `examples/bor-dwc.js:461-498`) —
      * relationally, an unpivot.
      */
    GatedQuery("q_c3_unpivot",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_orderkey") <= 1000)
          .select(col("l_orderkey"), col("l_linenumber"),
            expr("stack(3, 'qty', l_quantity, 'price', l_extendedprice, 'disc', l_discount) AS (measure, value)"))
          .orderBy("l_orderkey", "l_linenumber", "measure"),
      """SELECT l_orderkey, l_linenumber, measure, value FROM (
           SELECT l_orderkey, l_linenumber, 'qty' AS measure, l_quantity AS value
           FROM lineitem WHERE l_orderkey <= 1000
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
           FROM lineitem WHERE l_orderkey <= 1000
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'disc', l_discount
           FROM lineitem WHERE l_orderkey <= 1000)
         ORDER BY l_orderkey, l_linenumber, measure"""),

    GatedQuery("q_h1_joiner",
      (s, dir) => {
        val li = t(s, dir, "lineitem"); val part = t(s, dir, "part")
        Joins.enrich(li, part, li("l_partkey"), part("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_items"),
            sum(floor(col("l_extendedprice") * 100 + 0.5)).as("sum_price_cents"))
          .orderBy("p_brand")
      },
      """SELECT p_brand, count(*) AS n_items,
                CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand"""),

    GatedQuery("q_h2_join_detail",
      (s, dir) =>
        // detailCols: only the column the query reads rides the detail-side
        // shuffle (full-row struct(*) was 16× the needed volume, VERDICT #5)
        Joins.joinDetail(t(s, dir, "orders"), t(s, dir, "lineitem"), "o_orderkey", "l_orderkey",
            detailCols = Seq("l_quantity"))
          .select(col("o_orderkey"), size(col("details")).as("n_details"),
            round(aggregate(col("details"), lit(0.0), (acc, x) => acc + x.getField("l_quantity")), 2)
              .as("qty"))
          .orderBy("o_orderkey"),
      """SELECT o_orderkey, count(l_orderkey) AS n_details,
                round(coalesce(sum(l_quantity), 0), 2) AS qty
         FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderkey ORDER BY o_orderkey"""),

    GatedQuery("q_h3_splitter",
      (s, dir) => {
        val out = tmp("h3_split", dir)
        Splitter.routedWrite(t(s, dir, "orders"), pmod(col("o_orderkey"), lit(3)),
          out, validRoutes = 3)
        s.read.parquet(out).groupBy(col("route").cast("int").as("route"))
          .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)")).as("sum_price"))
          .orderBy("route")
      },
      """SELECT CAST(o_orderkey % 3 AS INT) AS route, count(*) AS n,
                sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_price
         FROM orders GROUP BY 1 ORDER BY route"""),

    GatedQuery("q_h4_pipeline",
      (s, dir) => {
        val spec = PipelineSpec(nodes = Seq(
          "li"       -> SourceSpec("parquet", "{%dir%}/lineitem.parquet"),
          "filtered" -> FilterSpec(RefSpec("li"), "l_quantity > 10"),
          "part"     -> SourceSpec("parquet", "{%dir%}/part.parquet"),
          "joined"   -> JoinSpec(RefSpec("filtered"), RefSpec("part"), "l_partkey", "p_partkey"),
          "agg"      -> AggSpec(RefSpec("joined"), keys = Seq("p_type"), aggs = Seq(
                          "n" -> "count(1)",
                          "sum_price" -> "sum(cast(l_extendedprice as decimal(18,2)))")),
          "sorted"   -> SortSpec(RefSpec("agg"), Seq("p_type"))),
          out = "sorted")
        PipelineCompiler.compile(spec, s, Map("dir" -> dir))
      },
      """SELECT p_type, count(*) AS n,
                sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_quantity > 10 GROUP BY p_type ORDER BY p_type"""))

  private val c9Seq = new java.util.concurrent.atomic.AtomicLong()
}
