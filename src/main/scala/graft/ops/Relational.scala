package graft.ops

import graft.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Projection / filter / distinct / conditional operators.
  *
  * In the reference every one of these is delegated to MySQL through the
  * opaque query passthrough (/root/reference/main.go:106); here they are
  * declarative DataFrame plans so Catalyst pushes the predicates and the
  * column pruning all the way into the parquet scan (visible as
  * PushedFilters / ReadSchema in .explain), which is what makes the same
  * query viable on a 100 TB table: the scan only reads the referenced
  * columns and skips row groups via min/max stats.
  *
  * Determinism contract (FIXTURES.md): every oracle-checked query ends in
  * a total ORDER BY and rounds floating aggregates.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** Engine-neutral SQL (identical text runs on Spark SQL and DuckDB).
    * Correlated scalar subquery — Catalyst decorrelates it into a left
    * outer aggregate-join (RewriteCorrelatedScalarSubquery), so the
    * 100 TB plan is one shuffle, not N probes.
    */
  private val scalarSubquerySql =
    """SELECT c_custkey, c_name,
      | round((SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey), 2) AS max_order
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Multi-stage CTE with a window over an aggregate (MySQL 8 WITH
    * surface) — engine-neutral text; Catalyst inlines the CTEs, so the
    * plan is the same agg→window it would be written by hand.
    */
  private val cteSql =
    """WITH per_cust AS (
      |  SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
      |), ranked AS (
      |  SELECT o_custkey, n,
      |         CAST(rank() OVER (ORDER BY n DESC, o_custkey) AS BIGINT) AS rk
      |  FROM per_cust
      |)
      |SELECT o_custkey, n, rk FROM ranked WHERE rk <= 20 ORDER BY rk""".stripMargin

  /** WITH RECURSIVE (MySQL 8 / Spark 4 surface): a 12-row calendar
    * spine generated by bounded recursion, left-joined to monthly order
    * counts so empty months surface as zeros — the standard
    * series-fill pattern. Recursion depth is a constant 12; the data
    * side stays one aggregation, so scale cost is unchanged by the
    * recursion.
    */
  private val recursiveCteSql =
    """WITH RECURSIVE months(m) AS (
      |  SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12
      |)
      |SELECT m AS month, CAST(coalesce(t.n, 0) AS BIGINT) AS n_orders
      |FROM months LEFT JOIN (
      |  SELECT month(o_orderdate) AS om, count(*) AS n
      |  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY month(o_orderdate)
      |) t ON m = om
      |ORDER BY month""".stripMargin

  /** LATERAL derived table (MySQL 8.0.14 surface): per-customer top-1
    * order. Catalyst plans the correlated lateral subquery as a
    * DomainJoin and decorrelates it — at scale this is a join + per-key
    * top-1, not N probes.
    */
  private val lateralSql =
    """SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
      |FROM customer c,
      |LATERAL (
      |  SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
      |  FROM orders WHERE o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
      |) l
      |ORDER BY c.c_custkey""".stripMargin

  /** IN-subquery — planned as a left semi join. */
  private val inSubquerySql =
    """SELECT o_orderkey, o_custkey
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
      |  AND o_totalprice > 150000
      |ORDER BY o_orderkey""".stripMargin

  /** CDC snapshot merge — the compaction an INCREMENTAL mysql2parquet
    * runs: base snapshot ∪ change batch (insert/update/delete rows keyed
    * by `pk`, ordered by `version`), latest version wins, `op` = "D"
    * drops the key. Merge-on-read collapsed to ONE pk-keyed hash
    * aggregate (max_by over the payload struct) — no window, no sort;
    * the agg is partial (map-side max_by per pk) so at 100 TB the
    * exchange carries one candidate row per pk per mapper, not the full
    * base. Contract: (pk, version) unique within base ∪ delta (the
    * binlog gives a total order per key; ties would make max_by
    * nondeterministic).
    *
    * Both inputs must share a schema of pk :: payload... :: version ::
    * op; the output is pk :: payload... for surviving keys.
    */
  def snapshotMerge(base: DataFrame, delta: DataFrame,
                    pk: String, version: String, op: String): DataFrame = {
    val cols = base.columns
    val payload = cols.filterNot(_ == pk)
    val merged = base.unionByName(delta)
      .groupBy(col(pk))
      .agg(max_by(struct(payload.map(col): _*), col(version)).as("__r"))
      .filter(col(s"__r.$op") =!= "D")
    val out = cols.filterNot(c => c == version || c == op)
      .map(c => if (c == pk) col(pk) else col(s"__r.$c").as(c))
    merged.select(out.toSeq: _*)
  }

  /** SCD Type-2 history build from the same CDC event stream q146
    * compacts: every surviving I/U event becomes a versioned dimension
    * row valid over [version, next-event-version); a D event emits no
    * row but closes its predecessor's interval (it IS the lead()).
    * is_current marks rows with no successor event. One window over the
    * HIGH-cardinality pk — this is the case where Window.partitionBy is
    * the right tool (millions of 1-5-row groups; the low-card
    * ScalableRank rule in CLAUDE.md does not apply), so the plan is one
    * pk-hash exchange + partition-local sort, the minimum any
    * versioned-interval build can do.
    */
  def scdHistory(events: DataFrame, pk: String, version: String, op: String): DataFrame = {
    val w = Window.partitionBy(col(pk)).orderBy(col(version))
    events
      .withColumn("valid_to", lead(col(version), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull && col(op) =!= "D")
      .filter(col(op) =!= "D")
      .withColumnRenamed(version, "valid_from")
      .drop(op)
  }

  /** Snapshot reconciliation (the table-diff audit run after any
    * replication/compaction step): full outer join on pk classifies
    * every key as added / removed / changed / same between two
    * snapshots. One pk-keyed shuffle join; the rollup is 4 rows. The
    * value columns are compared null-safely (<=>), so a payload
    * flipping to NULL counts as changed, not same.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame,
                   pk: String, values: Seq[String]): DataFrame = {
    val b = before.select((pk +: values).map(c => col(c).as("b_" + c)): _*)
    val a = after.select((pk +: values).map(c => col(c).as("a_" + c)): _*)
    val same = values.map(c => col("b_" + c) <=> col("a_" + c)).reduce(_ && _)
    b.join(a, col("b_" + pk) === col("a_" + pk), "full_outer")
      .select(
        when(col("b_" + pk).isNull, "added")
          .when(col("a_" + pk).isNull, "removed")
          .when(same, "same").otherwise("changed").as("change_kind"))
      .groupBy(col("change_kind")).agg(count(lit(1)).as("n"))
  }

  /** Time-travel read over an SCD2 history ([[scdHistory]] output):
    * the snapshot AS OF version v is the rows whose validity interval
    * covers v. Pure filter + projection — version-pruned at the scan
    * when the history is stored partitioned/sorted on valid_from. The
    * algebra invariant (spec'd): asOf(history, v) ≡ compacting only
    * the events with version <= v.
    */
  def asOf(history: DataFrame, v: Long): DataFrame =
    history
      .filter(col("valid_from") <= v && (col("valid_to").isNull || col("valid_to") > v))
      .drop("valid_from", "valid_to", "is_current")

  /** Version v of the deterministic CDC stream over orders that
    * q146–q249 replay (a real pipeline feeds the binlog instead):
    * 0 inserts every order; 1 updates keys ending in 3 (status X),
    * deletes the 7s and inserts the 1s under a fresh key; 2 re-updates
    * keys ending in 13 (status Y). Rows are (pk, status, total,
    * version, op). */
  private def cdcVersion(s: SparkSession, d: String, v: Int): DataFrame = {
    val o = T.orders(s, d)
    val m = pmod(col("o_orderkey"), lit(10))
    v match {
      case 0 => o.select(
        col("o_orderkey").as("pk"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("total"), lit(0L).as("version"), lit("I").as("op"))
      case 1 => o.filter(m.isin(1, 3, 7)).select(
        when(m === 1, col("o_orderkey") + 10000000L).otherwise(col("o_orderkey")).as("pk"),
        when(m === 3, lit("X")).otherwise(col("o_orderstatus")).as("status"),
        col("o_totalprice").as("total"), lit(1L).as("version"),
        when(m === 7, lit("D")).when(m === 1, lit("I")).otherwise(lit("U")).as("op"))
      case 2 => o.filter(pmod(col("o_orderkey"), lit(100)) === 13).select(
        col("o_orderkey").as("pk"), lit("Y").as("status"),
        col("o_totalprice").as("total"), lit(2L).as("version"), lit("U").as("op"))
    }
  }

  /** All three versions of [[cdcVersion]] as one event stream. */
  private def cdcStream(s: SparkSession, d: String): DataFrame =
    (0 to 2).map(cdcVersion(s, d, _)).reduce(_ unionByName _)

  val queries: Map[String, Q] = Map(
    // TPC-H Q1-shaped pricing summary: the flagship scan→filter→agg→sort
    // slice (SURVEY.md §7.2). Partial aggregation (map-side combine) is
    // automatic in Spark's hash aggregate, so the shuffle carries one row
    // per (flag,status,partition), not 100 TB of lineitems.
    "q01_pricing_summary" -> ((s, d) =>
      T.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // WHERE-clause surface: comparison, BETWEEN, IN, LIKE, AND/OR/NOT.
    // All predicates are parquet-pushable (no UDFs in the filter).
    "q02_filter_predicates" -> ((s, d) =>
      T.orders(s, d)
        .filter(
          col("o_totalprice").between(50000, 200000) &&
          col("o_orderstatus").isin("F", "O") &&
          col("o_orderpriority").like("1%") &&
          !(col("o_custkey") % 10 === 0))
        .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(col("o_orderkey"))),

    // DISTINCT projection — a shuffle on the projected columns only.
    "q03_distinct" -> ((s, d) =>
      T.customer(s, d)
        .select(col("c_mktsegment"), col("c_nationkey"))
        .distinct()
        .orderBy(col("c_mktsegment"), col("c_nationkey"))),

    // CASE WHEN bucketing + aggregation over the derived column.
    "q04_case_when" -> ((s, d) =>
      T.orders(s, d)
        .select(
          col("o_orderstatus"),
          when(col("o_totalprice") < 50000, "low")
            .when(col("o_totalprice") < 150000, "mid")
            .otherwise("high").as("price_band"))
        .groupBy(col("o_orderstatus"), col("price_band"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"), col("price_band"))),

    // IS NULL / null-safe predicate surface, exercised through an outer
    // join that actually produces nulls (the base tables are complete).
    "q05_null_predicates" -> ((s, d) => {
      val bigOrders = T.orders(s, d).filter(col("o_totalprice") > 150000)
        .select(col("o_custkey"), col("o_orderkey"))
      T.customer(s, d)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_outer")
        .filter(col("o_orderkey").isNull)
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // Correlated scalar subquery (shared SQL text = its own oracle).
    "q06_scalar_subquery" -> ((s, d) => {
      T.customer(s, d).createOrReplaceTempView("customer")
      T.orders(s, d).createOrReplaceTempView("orders")
      s.sql(scalarSubquerySql)
    }),

    // IN (subquery) semi-join form.
    "q07_in_subquery" -> ((s, d) => {
      T.customer(s, d).createOrReplaceTempView("customer")
      T.orders(s, d).createOrReplaceTempView("orders")
      s.sql(inSubquerySql)
    }),

    "q37_lateral_join" -> ((s, d) => {
      T.customer(s, d).createOrReplaceTempView("customer")
      T.orders(s, d).createOrReplaceTempView("orders")
      s.sql(lateralSql)
    }),

    "q08_cte" -> ((s, d) => {
      T.orders(s, d).createOrReplaceTempView("orders")
      s.sql(cteSql)
    }),

    "q09_recursive_cte" -> ((s, d) => {
      T.orders(s, d).createOrReplaceTempView("orders")
      s.sql(recursiveCteSql)
    }),

    // snapshotMerge of cdcVersion's first change batch onto its base.
    // Semantics spec'd on planted CDC rows in Mysql2ParquetSpec;
    // exchange shape pinned in PlanAuditSpec.
    "q146_snapshot_merge" -> ((s, d) =>
      snapshotMerge(cdcVersion(s, d, 0), cdcVersion(s, d, 1), "pk", "version", "op")
        .orderBy(col("pk"))),

    // snapshotDiff between the q146 base snapshot and its compacted
    // result: m=7 keys were deleted (removed), m=3 keys updated
    // (changed), m=1 inserts under fresh keys (added), the rest same —
    // the reconciliation report that validates a replication run.
    "q157_snapshot_diff" -> ((s, d) => {
      val base = cdcVersion(s, d, 0)
      val before = base.select(col("pk"), col("status"), col("total"))
      val after = snapshotMerge(base, cdcVersion(s, d, 1), "pk", "version", "op")
      snapshotDiff(before, after, "pk", Seq("status", "total"))
        .orderBy(col("change_kind"))
    }),

    // Time-travel: q147's history read AS OF version 1 — between the
    // two change batches, so v1 updates/inserts are visible, v1
    // deletes are gone, and v2 re-updates are NOT yet. The oracle
    // replays the interval filter over the same lead() history.
    "q158_time_travel" -> ((s, d) =>
      asOf(scdHistory(cdcStream(s, d), "pk", "version", "op"), 1L)
        .select(col("pk"), col("status"), round(col("total"), 2).as("total"))
        .orderBy(col("pk"))),

    // scdHistory over all three versions of cdcStream — 3-row chains,
    // closed intervals, delete-closed intervals and current rows in one
    // result. Oracle replays the same lead() window in DuckDB.
    "q147_scd2_history" -> ((s, d) =>
      scdHistory(cdcStream(s, d), "pk", "version", "op")
        .select(col("pk"), col("status"), round(col("total"), 2).as("total"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy(col("pk"), col("valid_from"))),

    // Column-profiling / expectations report (the Deequ shape): per
    // column of orders — null count, exact distinct count, typed
    // min/max (integers exact; doubles as floored cents; timestamps as
    // epoch days; strings lexicographic) — in ONE aggregate pass (Spark
    // plans the multi-count-distinct as a single Expand + partial-agg
    // pipeline; at 100 TB swap exact distincts for
    // approx_count_distinct and it is still one pass). The single wide
    // row then stacks into a row per column — pure projection, no
    // second scan. Doubles/dates are profiled through exact-integer
    // images because a double→string cast is NOT engine-portable
    // (scientific-notation thresholds differ).
    "q164_column_profile" -> ((s, d) =>
      T.orders(s, d)
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("a_null"),
          countDistinct(col("o_orderkey")).as("a_dist"),
          min(col("o_orderkey")).as("a_min"), max(col("o_orderkey")).as("a_max"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("b_null"),
          countDistinct(col("o_custkey")).as("b_dist"),
          min(col("o_custkey")).as("b_min"), max(col("o_custkey")).as("b_max"),
          sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("c_null"),
          countDistinct(col("o_orderstatus")).as("c_dist"),
          min(col("o_orderstatus")).as("c_min"), max(col("o_orderstatus")).as("c_max"),
          sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("p_null"),
          countDistinct(col("o_totalprice")).as("p_dist"),
          min(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("p_min"),
          max(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("p_max"),
          sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("t_null"),
          countDistinct(col("o_orderdate")).as("t_dist"),
          min(expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)")).as("t_min"),
          max(expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)")).as("t_max"),
          sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("q_null"),
          countDistinct(col("o_orderpriority")).as("q_dist"),
          min(col("o_orderpriority")).as("q_min"), max(col("o_orderpriority")).as("q_max"))
        .select(col("n_rows"), expr(
          """stack(6,
            |'o_orderkey', a_null, a_dist, a_min, a_max, CAST(NULL AS STRING), CAST(NULL AS STRING),
            |'o_custkey', b_null, b_dist, b_min, b_max, CAST(NULL AS STRING), CAST(NULL AS STRING),
            |'o_orderstatus', c_null, c_dist, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), c_min, c_max,
            |'o_totalprice', p_null, p_dist, p_min, p_max, CAST(NULL AS STRING), CAST(NULL AS STRING),
            |'o_orderdate', t_null, t_dist, t_min, t_max, CAST(NULL AS STRING), CAST(NULL AS STRING),
            |'o_orderpriority', q_null, q_dist, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), q_min, q_max)"""
            .stripMargin)
          .as(Seq("col_name", "n_null", "n_distinct", "min_i", "max_i", "min_s", "max_s")))
        .select(col("col_name"), col("n_rows"), col("n_null"), col("n_distinct"),
          col("min_i"), col("max_i"), col("min_s"), col("max_s"))
        .orderBy(col("col_name"))),

    // Order-independent table checksum — the replication-validation
    // primitive next to q157's row-level diff: one number per table,
    // comparable across engines/stores without sorting anything. Each
    // row folds to an engine-neutral md5-derived integer (doubles and
    // timestamps enter through exact-integer images — cents and epoch
    // days — because double→string casts are not engine-portable) and
    // the checksum is their SUM, which is commutative: partition order,
    // shuffle order and engine never matter. Pure scan + one partial-
    // aggregable global agg — the cheapest possible full-table pass.
    "q175_table_checksum" -> ((s, d) =>
      T.orders(s, d)
        .select(expr(
          """CAST(conv(substring(md5(concat_ws('|',
            |  CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING), o_orderstatus,
            |  CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS STRING),
            |  CAST(CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT) AS STRING),
            |  o_orderpriority)), 1, 8), 16, 10) AS BIGINT)""".stripMargin).as("h"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))),

    // Direct standardization (mix-adjusted rates) — the Simpson's-
    // paradox antidote: each nation's conversion rate re-weighted to
    // the GLOBAL segment mix, so two nations compare on behavior
    // rather than on who happens to bank where (q252 decomposes a
    // delta; this removes a confounder before comparing at all — the
    // epidemiology direct-standardization method on business data).
    // Exact integers: per-(nation,segment) counts, broadcast global
    // mix weights, the standardized rate as Σ_seg floor(1e6·k·w/(n·t))
    // — both engines floor each stratum term identically. A segment
    // absent in a nation contributes nothing (no rate to borrow),
    // the documented convention. One partial-aggregable cell count +
    // two broadcast joins; nothing else touches the table.
    "q254_standardized_rates" -> ((s, d) => {
      val c = T.customer(s, d).select(col("c_nationkey").as("nat"),
        col("c_mktsegment").as("seg"),
        when(col("c_acctbal") > 5000, 1L).otherwise(0L).as("conv"))
      val cell = c.groupBy(col("nat"), col("seg"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
      val mix = c.groupBy(col("seg")).agg(count(lit(1)).as("w"))
      val tot = c.agg(count(lit(1)).as("t"))
      cell.join(broadcast(mix), "seg").crossJoin(broadcast(tot))
        .groupBy(col("nat"))
        .agg(sum(col("n")).as("n_cust"),
             sum(col("k")).as("n_conv"),
             // 1e6·k·w and n·t both pass int64 at corpus row counts
             // (k,w,n,t all scale with customers) while each stratum
             // term stays ≤ 1e6 — the q248/q166 DECIMAL(38,0) class
             sum(expr("(CAST(1000000 AS DECIMAL(38,0)) * k * w) div " +
               "(CAST(n AS DECIMAL(38,0)) * t)")).as("std_rate_ppm"))
        .withColumn("raw_rate_ppm", expr("(1000000 * n_conv) div n_cust"))
        .select(col("nat"), col("n_cust"), col("n_conv"),
          col("raw_rate_ppm"), col("std_rate_ppm"),
          (col("std_rate_ppm") - col("raw_rate_ppm")).as("mix_effect_ppm"))
        .orderBy(col("nat"))
    }),

    // Point-in-time join against the SCD2 history — the feature-store
    // correctness op ("train-serve skew" is exactly getting this
    // wrong): every probe row fetches the dimension version that was
    // valid AT ITS OWN version-time, not today's row and not one
    // shared snapshot (q158's time travel is the one-snapshot special
    // case). The probe stream is lineitem keyed by l_orderkey with a
    // per-row as-of version; the join is pk-equi + validity-interval
    // filter, so fan-out is bounded by SCD depth per key (≤3 here) —
    // a keyed join, never a broadcast of anything that grows. A probe
    // whose key has no valid version at v (deleted by then) keeps a
    // NULL status via LEFT join — the rollup counts those explicitly.
    "q249_pit_join" -> ((s, d) => {
      val hist = scdHistory(cdcStream(s, d), "pk", "version", "op")
        .select(col("pk").as("hpk"), col("status"),
          col("valid_from"), col("valid_to"))
      val probes = T.lineitem(s, d).select(col("l_orderkey").as("pk"),
        (col("l_linenumber") % 3).cast("long").as("v"))
      probes.join(hist,
          col("pk") === col("hpk") && col("valid_from") <= col("v") &&
            (col("valid_to").isNull || col("valid_to") > col("v")), "left")
        .groupBy(col("v"), col("status"))
        .agg(count(lit(1)).as("n_probes"), countDistinct(col("pk")).as("n_keys"))
        .orderBy(col("v"), col("status"))
    }),

    // k-anonymity / l-diversity audit — the privacy gate a dataset
    // release runs BEFORE export (the quasi-identifier sibling of
    // q216's deletion dry-run): treating (nation, account-balance
    // band) as the quasi-identifier and market segment as the
    // sensitive attribute, report per nation the re-identification
    // surface — group count, smallest group (k), groups below k=5 and
    // the rows exposed in them, and the l-diversity floor (a group
    // whose members all share one segment leaks it even at large k).
    // Pure two-level partial-aggregable rollup: the QI groupBy
    // collapses map-side, the nation rollup is 25 rows; the band is
    // floor(bal/1000) — double division + floor is IEEE-identical in
    // both engines, no interpolated edge under the comparison.
    "q233_kanonymity" -> ((s, d) => {
      val g = T.customer(s, d)
        .select(col("c_nationkey"),
          expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("bal_band"),
          col("c_mktsegment"))
        .groupBy(col("c_nationkey"), col("bal_band"))
        .agg(count(lit(1)).as("k"), countDistinct(col("c_mktsegment")).as("l"))
      g.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_groups"),
             min(col("k")).as("min_k"),
             sum(when(col("k") < 5, 1L).otherwise(0L)).as("n_groups_k_lt5"),
             sum(when(col("k") < 5, col("k")).otherwise(0L)).as("n_rows_at_risk"),
             min(col("l")).as("min_l"),
             sum(when(col("l") < 2, 1L).otherwise(0L)).as("n_groups_l_lt2"))
        .orderBy(col("c_nationkey"))
    }),

    // Right-to-be-forgotten cascade audit — the compliance twin of
    // q154's FK integrity check: given a deletion subject set (an md5
    // 10% sample of customers, standing in for a GDPR request batch),
    // count the blast radius BEFORE deleting: customer rows, their
    // orders, and those orders' lineitems. The cascade is two LEFT
    // SEMI probes down the FK chain — each keyed on its own join key,
    // never a fact-table broadcast — and the report is three
    // partial-aggregable counts unioned. At 100 TB this is the dry-run
    // a deletion pipeline MUST emit for sign-off, at the cost of one
    // keyed pass per cascaded table.
    "q216_deletion_cascade" -> ((s, d) => {
      val cust = T.customer(s, d)
      val del = cust
        .filter(conv(substring(md5(col("c_custkey").cast("string")), 1, 8), 16, 10)
          .cast("long") % 10 === 0)
        .select(col("c_custkey"))
      val orders = T.orders(s, d)
      val delOrders = orders.join(del.withColumnRenamed("c_custkey", "o_custkey"),
        Seq("o_custkey"), "left_semi")
      val li = T.lineitem(s, d)
      val delLi = li.join(
        delOrders.select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), "left_semi")
      def row(name: String, all: DataFrame, deleted: DataFrame): DataFrame =
        all.agg(count(lit(1)).as("rows_total"))
          .crossJoin(deleted.agg(count(lit(1)).as("rows_deleted")))
          .select(lit(name).as("table_name"), col("rows_total"), col("rows_deleted"),
            expr("(1000000 * rows_deleted) div rows_total").as("del_ppm"))
      row("customer", cust, del)
        .unionByName(row("orders", orders, delOrders))
        .unionByName(row("lineitem", li, delLi))
        .orderBy(col("table_name"))
    })
  )

  /** Oracle twin of [[cdcVersion]]: `base`, `delta1` and, for three
    * versions, `delta2`, unioned as `u`. */
  private def cdcCtes(versions: Int): String = {
    val ctes = Seq(
      """base AS (
        |  SELECT o_orderkey AS pk, o_orderstatus AS status,
        |         o_totalprice AS total, CAST(0 AS BIGINT) AS version, 'I' AS op
        |  FROM orders
        |)""".stripMargin,
      """delta1 AS (
        |  SELECT CASE WHEN o_orderkey % 10 = 1 THEN o_orderkey + 10000000
        |              ELSE o_orderkey END AS pk,
        |         CASE WHEN o_orderkey % 10 = 3 THEN 'X'
        |              ELSE o_orderstatus END AS status,
        |         o_totalprice AS total, CAST(1 AS BIGINT) AS version,
        |         CASE WHEN o_orderkey % 10 = 7 THEN 'D'
        |              WHEN o_orderkey % 10 = 1 THEN 'I'
        |              ELSE 'U' END AS op
        |  FROM orders WHERE o_orderkey % 10 IN (1, 3, 7)
        |)""".stripMargin,
      """delta2 AS (
        |  SELECT o_orderkey AS pk, 'Y' AS status, o_totalprice AS total,
        |         CAST(2 AS BIGINT) AS version, 'U' AS op
        |  FROM orders WHERE o_orderkey % 100 = 13
        |)""".stripMargin).take(versions)
    val u = ctes.map(c => "SELECT * FROM " + c.takeWhile(_ != ' ')).mkString(" UNION ALL ")
    (ctes :+ s"u AS (\n  $u\n)").mkString(", ")
  }

  val oracle: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_extendedprice),4) AS avg_price,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_predicates" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS o_totalprice
        |FROM orders
        |WHERE o_totalprice BETWEEN 50000 AND 200000
        |  AND o_orderstatus IN ('F','O')
        |  AND o_orderpriority LIKE '1%'
        |  AND NOT (o_custkey % 10 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    "q03_distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey
        |FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,

    "q04_case_when" ->
      """SELECT o_orderstatus,
        | CASE WHEN o_totalprice < 50000 THEN 'low'
        |      WHEN o_totalprice < 150000 THEN 'mid'
        |      ELSE 'high' END AS price_band,
        | count(*) AS n
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY o_orderstatus, price_band""".stripMargin,

    "q05_null_predicates" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders WHERE o_totalprice > 150000) b
        |  ON c_custkey = b.o_custkey
        |WHERE b.o_orderkey IS NULL
        |ORDER BY c_custkey""".stripMargin,

    "q06_scalar_subquery" -> scalarSubquerySql,
    "q08_cte" -> cteSql,
    "q37_lateral_join" -> lateralSql,
    "q09_recursive_cte" -> recursiveCteSql,
    "q07_in_subquery" -> inSubquerySql,

    "q146_snapshot_merge" ->
      s"""WITH ${cdcCtes(2)}, r AS (
        |  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY version DESC) AS rn
        |  FROM u
        |)
        |SELECT pk, status, total FROM r WHERE rn = 1 AND op <> 'D'
        |ORDER BY pk""".stripMargin,

    "q157_snapshot_diff" ->
      s"""WITH ${cdcCtes(2)}, r AS (
        |  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY version DESC) AS rn
        |  FROM u
        |), aft AS (
        |  SELECT pk, status, total FROM r WHERE rn = 1 AND op <> 'D'
        |), bef AS (SELECT pk, status, total FROM base),
        |j AS (
        |  SELECT CASE WHEN b.pk IS NULL THEN 'added'
        |              WHEN a.pk IS NULL THEN 'removed'
        |              WHEN b.status IS NOT DISTINCT FROM a.status
        |               AND b.total IS NOT DISTINCT FROM a.total THEN 'same'
        |              ELSE 'changed' END AS change_kind
        |  FROM bef b FULL OUTER JOIN aft a ON b.pk = a.pk
        |)
        |SELECT change_kind, count(*) AS n FROM j GROUP BY 1
        |ORDER BY change_kind""".stripMargin,

    "q158_time_travel" ->
      s"""WITH ${cdcCtes(3)}, h AS (
        |  SELECT pk, status, round(total, 2) AS total, version AS valid_from,
        |         lead(version) OVER (PARTITION BY pk ORDER BY version) AS valid_to,
        |         op
        |  FROM u
        |)
        |SELECT pk, status, total
        |FROM h
        |WHERE op <> 'D' AND valid_from <= 1 AND (valid_to IS NULL OR valid_to > 1)
        |ORDER BY pk""".stripMargin,

    "q147_scd2_history" ->
      s"""WITH ${cdcCtes(3)}, h AS (
        |  SELECT pk, status, round(total, 2) AS total, version AS valid_from,
        |         lead(version) OVER (PARTITION BY pk ORDER BY version) AS valid_to,
        |         (lead(version) OVER (PARTITION BY pk ORDER BY version) IS NULL
        |          AND op <> 'D') AS is_current,
        |         op
        |  FROM u
        |)
        |SELECT pk, status, total, valid_from, valid_to, is_current
        |FROM h WHERE op <> 'D'
        |ORDER BY pk, valid_from""".stripMargin,

    "q164_column_profile" ->
      """WITH n AS (SELECT count(*) AS n_rows FROM orders)
        |SELECT col_name, n_rows, n_null, n_distinct, min_i, max_i, min_s, max_s
        |FROM (
        |  SELECT 'o_orderkey' AS col_name, (SELECT n_rows FROM n) AS n_rows,
        |         CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
        |         CAST(min(o_orderkey) AS BIGINT) AS min_i,
        |         CAST(max(o_orderkey) AS BIGINT) AS max_i,
        |         CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', (SELECT n_rows FROM n),
        |         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(count(DISTINCT o_custkey) AS BIGINT),
        |         CAST(min(o_custkey) AS BIGINT), CAST(max(o_custkey) AS BIGINT),
        |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', (SELECT n_rows FROM n),
        |         CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(count(DISTINCT o_orderstatus) AS BIGINT),
        |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |         min(o_orderstatus), max(o_orderstatus)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', (SELECT n_rows FROM n),
        |         CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(count(DISTINCT o_totalprice) AS BIGINT),
        |         CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT),
        |         CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT),
        |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', (SELECT n_rows FROM n),
        |         CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(count(DISTINCT o_orderdate) AS BIGINT),
        |         CAST(min(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS BIGINT),
        |         CAST(max(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS BIGINT),
        |         CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', (SELECT n_rows FROM n),
        |         CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |         min(o_orderpriority), max(o_orderpriority)
        |  FROM orders
        |)
        |ORDER BY col_name""".stripMargin,

    "q175_table_checksum" ->
      """WITH h AS (
        |  SELECT CAST(('0x' || substr(md5(concat_ws('|',
        |           CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), o_orderstatus,
        |           CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR),
        |           CAST(CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS VARCHAR),
        |           o_orderpriority)), 1, 8)) AS BIGINT) AS v
        |  FROM orders
        |)
        |SELECT count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS checksum FROM h""".stripMargin,

    "q254_standardized_rates" ->
      """WITH c AS (
        |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
        |         CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS conv
        |  FROM customer
        |), cell AS (
        |  SELECT nat, seg, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(conv) AS BIGINT) AS k
        |  FROM c GROUP BY 1, 2
        |), mix AS (
        |  SELECT seg, CAST(count(*) AS BIGINT) AS w FROM c GROUP BY 1
        |), tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM c),
        |agg AS (
        |  SELECT nat, CAST(sum(n) AS BIGINT) AS n_cust,
        |         CAST(sum(k) AS BIGINT) AS n_conv,
        |         CAST(sum((1000000 * k * w) // (n * t)) AS BIGINT) AS std_rate_ppm
        |  FROM cell JOIN mix USING (seg) CROSS JOIN tot
        |  GROUP BY 1
        |)
        |SELECT nat, n_cust, n_conv,
        |       (1000000 * n_conv) // n_cust AS raw_rate_ppm,
        |       std_rate_ppm,
        |       std_rate_ppm - (1000000 * n_conv) // n_cust AS mix_effect_ppm
        |FROM agg ORDER BY nat""".stripMargin,

    "q249_pit_join" ->
      s"""WITH ${cdcCtes(3)}, h AS (
        |  SELECT pk, status, op, version AS valid_from,
        |         lead(version) OVER (PARTITION BY pk ORDER BY version) AS valid_to
        |  FROM u
        |), hist AS (
        |  SELECT pk, status, valid_from, valid_to FROM h WHERE op <> 'D'
        |), probes AS (
        |  SELECT l_orderkey AS pk, CAST(l_linenumber % 3 AS BIGINT) AS v FROM lineitem
        |)
        |SELECT p.v, h2.status,
        |       CAST(count(*) AS BIGINT) AS n_probes,
        |       CAST(count(DISTINCT p.pk) AS BIGINT) AS n_keys
        |FROM probes p LEFT JOIN hist h2 ON p.pk = h2.pk
        |  AND h2.valid_from <= p.v AND (h2.valid_to IS NULL OR h2.valid_to > p.v)
        |GROUP BY 1, 2 ORDER BY v, status NULLS FIRST""".stripMargin,

    "q233_kanonymity" ->
      """WITH g AS (
        |  SELECT c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |         CAST(count(*) AS BIGINT) AS k,
        |         CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l
        |  FROM customer GROUP BY 1, 2
        |)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_groups,
        |       min(k) AS min_k,
        |       CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_k_lt5,
        |       CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
        |       min(l) AS min_l,
        |       CAST(sum(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_l_lt2
        |FROM g GROUP BY 1 ORDER BY c_nationkey""".stripMargin,

    "q216_deletion_cascade" ->
      """WITH del AS (
        |  SELECT c_custkey FROM customer
        |  WHERE CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0
        |), delo AS (
        |  SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM del)
        |), delli AS (
        |  SELECT 1 AS x FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM delo)
        |), rep AS (
        |  SELECT 'customer' AS table_name,
        |         (SELECT CAST(count(*) AS BIGINT) FROM customer) AS rows_total,
        |         (SELECT CAST(count(*) AS BIGINT) FROM del) AS rows_deleted
        |  UNION ALL
        |  SELECT 'orders',
        |         (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |         (SELECT CAST(count(*) AS BIGINT) FROM delo)
        |  UNION ALL
        |  SELECT 'lineitem',
        |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |         (SELECT CAST(count(*) AS BIGINT) FROM delli)
        |)
        |SELECT table_name, rows_total, rows_deleted,
        |       (1000000 * rows_deleted) // rows_total AS del_ppm
        |FROM rep ORDER BY table_name""".stripMargin
  )
}
