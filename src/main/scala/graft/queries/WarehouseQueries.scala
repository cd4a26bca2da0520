package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expr.Exprs
import graft.pipeline.demo.TpchShipments
import graft.warehouse.StarSchema

/** End-to-end lifecycle queries: the full R→T→L pipeline (§3.1-3.2)
  * and the star-schema/observation-view serving layer (§3.3). Oracles
  * embed the packaged nationkey→country mapping as VALUES rows so
  * DuckDB replays the same joins.
  */
object WarehouseQueries {

  private def cmapValues: String =
    TpchShipments.nationIso3.toSeq.sorted
      .map { case (nk, iso3) => s"($nk, '$iso3')" }.mkString(", ")

  private def cmapRegionValues: String = {
    val byIso3 = graft.core.Countries.all.map(c => c.iso3 -> c.region).toMap
    TpchShipments.nationIso3.toSeq.sorted
      .map { case (nk, iso3) => s"($nk, '$iso3', '${byIso3(iso3)}')" }.mkString(", ")
  }

  /** Shared oracle CTE computing the canonical observations. */
  private def obsSql(cmap: String): String =
    s"""obs AS (
       |  SELECT c.country_code,
       |    CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS year,
       |    l_returnflag AS dimension,
       |    CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS value
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN $cmap c ON n_nationkey = c.nk
       |  GROUP BY c.country_code, EXTRACT(YEAR FROM l_shipdate), l_returnflag)""".stripMargin

  /** Synthetic keyed changelog over orders, shared by qw23 and its
    * streaming twin qst21 (stateless selects + union, so it applies
    * to the batch table and the file stream alike): every order
    * INSERTed; keys %5=0 UPDATEd (+10 and a group move O→F→P→O);
    * keys %7=0 DELETEd, before-images reflecting the prior update.
    * Output: (op, grp, val, bgrp, bval) with DECIMAL(30,6) values. */
  private[queries] def ordersChangelog(orders: DataFrame): DataFrame = {
    val dec = "decimal(30,6)"
    val ord = orders.select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("g0"),
      col("o_totalprice").cast(dec).as("v0"))
    val moved = when(col("g0") === "O", "F")
      .when(col("g0") === "F", "P").otherwise("O")
    val ins = ord.select(lit("I").as("op"), col("g0").as("grp"),
      col("v0").as("val"), lit(null).cast("string").as("bgrp"),
      lit(null).cast(dec).as("bval"))
    val upd = ord.filter(pmod(col("k"), lit(5)) === 0)
      .select(lit("U").as("op"), moved.as("grp"),
        (col("v0") + lit(10).cast(dec)).as("val"),
        col("g0").as("bgrp"), col("v0").as("bval"))
    val del = ord.filter(pmod(col("k"), lit(7)) === 0)
      .select(lit("D").as("op"), lit(null).cast("string").as("grp"),
        lit(null).cast(dec).as("val"),
        when(pmod(col("k"), lit(5)) === 0, moved).otherwise(col("g0")).as("bgrp"),
        when(pmod(col("k"), lit(5)) === 0, col("v0") + lit(10).cast(dec))
          .otherwise(col("v0")).as("bval"))
    ins.unionByName(upd).unionByName(del)
  }

  /** The full-recompute oracle both retract-agg queries must equal. */
  private[queries] val retractOracle: String =
    """WITH fin AS (
      |  SELECT CASE WHEN o_orderkey % 5 = 0 THEN
      |           CASE o_orderstatus WHEN 'O' THEN 'F' WHEN 'F' THEN 'P' ELSE 'O' END
      |         ELSE o_orderstatus END AS status,
      |    CASE WHEN o_orderkey % 5 = 0
      |         THEN CAST(o_totalprice AS DECIMAL(30,6)) + 10
      |         ELSE CAST(o_totalprice AS DECIMAL(30,6)) END AS v
      |  FROM orders WHERE o_orderkey % 7 <> 0)
      |SELECT status, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(v) AS DOUBLE) AS total_value
      |FROM fin GROUP BY 1""".stripMargin

  val all: Seq[Q] = Seq(
    Q(
      "qw01_etl_pipeline",
      "Full R→T→L lifecycle (§3.1): retrieve (joins over broadcast " +
        "dims) → transform (country mapping, exact-sum agg, indicator " +
        "synthesis, dimension fold) → provider stamp → membership " +
        "filter → validation (§2.12) → year window. Output = the " +
        "canonical observation table.",
      (s, dir) => TpchShipments.run(s, dir),
      Some(s"""WITH cmap(nk, country_code) AS (VALUES $cmapValues),
        |${obsSql("cmap")}
        |SELECT 'tpch_shipments' AS provider,
        |  'Shipped quantity, units [QTY]' AS indicator_name,
        |  country_code, year, dimension, value,
        |  CAST(NULL AS VARCHAR) AS source
        |FROM obs""".stripMargin)),

    Q(
      "qw02_observation_view",
      "Star-schema build + observation view (§3.3): dim tables with " +
        "stable surrogate ids, FK resolution via broadcast joins (J1), " +
        "denormalising left-outer view (J2), and the reference's own " +
        "serving query shape (A6 group-count) extended with exact sums. " +
        "value round-trips the warehouse's float32, mirrored in the " +
        "oracle.",
      (s, dir) => {
        val obs = TpchShipments.run(s, dir)
        val w = StarSchema.build(s, obs)
        StarSchema.observationView(w)
          .groupBy(col("indicator_provider"), col("region"),
            col("dimension_name"))
          .agg(count(lit(1)).as("n_obs"),
            Exprs.exactSum(col("value").cast("double")).as("total_value"))
      },
      Some(s"""WITH cmap(nk, country_code, region) AS (VALUES $cmapRegionValues),
        |${obsSql("cmap")}
        |SELECT 'tpch_shipments' AS indicator_provider, c2.region,
        |  dimension AS dimension_name,
        |  count(*) AS n_obs,
        |  CAST(sum(CAST(CAST(CAST(value AS FLOAT) AS DOUBLE) AS DECIMAL(30,6))) AS DOUBLE) AS total_value
        |FROM obs JOIN cmap c2 USING (country_code)
        |GROUP BY c2.region, dimension""".stripMargin)),

    Q(
      "qw03_scd2_history",
      "SCD2 dimension-history build (beyond-reference warehouse op): an " +
        "event log (orders per customer) becomes validity intervals — " +
        "valid_from = event time, valid_to = next event's time via " +
        "lead() over (key ORDER BY time, id), open interval = current " +
        "row. One shuffle on the key, per-partition sort; the standard " +
        "log-to-slowly-changing-dimension transform.",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        graft.core.Tables.load(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
            col("o_orderdate"))
          .withColumn("valid_to_ts", lead(col("o_orderdate"), 1).over(w))
          .select(
            col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
            date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
              .as("valid_from"),
            date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss")
              .as("valid_to"),
            col("valid_to_ts").isNull.as("is_current"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderstatus,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(lead(o_orderdate) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  lead(o_orderdate) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),

    Q(
      "qw07_point_in_time",
      "Point-in-time (PIT) enrichment against SCD2-style history " +
        "(beyond-reference warehouse op; composes AsofJoin with " +
        "qw03's history shape): each lineitem takes the customer's " +
        "order status valid AT SHIP TIME — the latest history row " +
        "with valid_from <= ship date (ties → greatest order key), " +
        "null when the ship predates the customer's history (the " +
        "generator breaks TPC-H's date invariant for 29k rows, so " +
        "the null path is genuinely exercised). Plan = one equi-join " +
        "for the customer key + AsofJoin's single union+window pass — " +
        "no non-equi join anywhere.",
      (s, dir) => {
        val ord = graft.core.Tables.load(s, dir, "orders")
        val li = graft.core.Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
          .join(ord.select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .drop("o_orderkey")
        val hist = ord.select(col("o_custkey"), col("o_orderdate"),
          col("o_orderkey"), col("o_orderstatus").as("status_at_ship"))
        graft.operators.AsofJoin.asofBackward(
          li, hist, key = "o_custkey", leftTs = "l_shipdate",
          rightTs = "o_orderdate", payload = Seq("status_at_ship"),
          rightTiebreak = Some("o_orderkey"))
          .select(col("l_orderkey"), col("l_linenumber"), col("status_at_ship"))
      },
      // the as-of winner resolves per DISTINCT (key, ts) then joins
      // back, so duplicated lineitem rows (the generator emits them)
      // keep their multiplicity — a per-row rn=1 would collapse them
      Some("""WITH li AS (
        |  SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, l.l_shipdate
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |keys AS (SELECT DISTINCT o_custkey, l_shipdate FROM li),
        |best AS (
        |  SELECT o_custkey, l_shipdate, status_at_ship FROM (
        |    SELECT k.o_custkey, k.l_shipdate,
        |      h.o_orderstatus AS status_at_ship,
        |      row_number() OVER (PARTITION BY k.o_custkey, k.l_shipdate
        |        ORDER BY h.o_orderdate DESC NULLS LAST,
        |          h.o_orderkey DESC NULLS LAST) AS rn
        |    FROM keys k LEFT JOIN orders h
        |      ON h.o_custkey = k.o_custkey AND h.o_orderdate <= k.l_shipdate)
        |  WHERE rn = 1)
        |SELECT li.l_orderkey, li.l_linenumber, best.status_at_ship
        |FROM li JOIN best ON best.o_custkey = li.o_custkey
        |  AND best.l_shipdate = li.l_shipdate""".stripMargin)),

    Q(
      "qw04_cdc_apply",
      "CDC snapshot materialization (Cdc.applyChanges, beyond-reference " +
        "warehouse op): collapse a change feed (events per user; " +
        "'error' rows are delete tombstones) into current state — " +
        "latest (ts, event_id) wins per key, a key whose last change " +
        "is a tombstone is absent. One shuffle on the key, a bounded " +
        "per-key window, NO join against the previous snapshot — the " +
        "set-based mirror transform that scales where row-at-a-time " +
        "MERGE does not (the executed-MERGE serving path is K5/K6).",
      (s, dir) =>
        graft.warehouse.Cdc.applyChanges(
          graft.core.Tables.load(s, dir, "events")
            .select(col("user_id"), col("event_id"), col("event_type"),
              col("value"), col("ts")),
          keyCols = Seq("user_id"),
          orderBy = Seq(col("ts"), col("event_id")),
          isDelete = col("event_type") === "error")
          .select(col("user_id"), col("event_id").as("last_event_id"),
            col("event_type").as("last_type"), col("value").as("last_value")),
      Some("""SELECT user_id, last_event_id, last_type, last_value FROM (
        |  SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        |    value AS last_value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND last_type <> 'error'""".stripMargin)),

    Q(
      "qw23_retract_agg",
      "RETRACTION-aware incremental aggregation (Cdc.retractDeltas + " +
        "retractMerge — the IVM step for feeds with updates and " +
        "deletes, where qw05's append-only merge stops): a keyed " +
        "changelog over orders (every order inserted; keys %5=0 " +
        "updated with value+10 AND a group move O→F→P→O; keys %7=0 " +
        "deleted, before-images reflecting the prior update) turns " +
        "into signed deltas — U retracts the old group and inserts " +
        "the new, D retracts — and the stored per-status state " +
        "absorbs sum-of-deltas without rescanning history. DECIMAL " +
        "deltas make retraction exact (+v then −v restores state " +
        "bit-for-bit); a group counted down to 0 disappears. Oracle " +
        "= the full recompute of the final state, which the " +
        "maintained view must equal exactly — the Materialize/Flink " +
        "retract-stream correctness bar.",
      (s, dir) => {
        val log = ordersChangelog(graft.core.Tables.load(s, dir, "orders"))
        def deltas(df: DataFrame) = graft.warehouse.Cdc.retractDeltas(
          df, col("op"), col("grp"), col("val"), col("bgrp"), col("bval"))
        // stored state = the insert-only view; the delta batch = U+D
        val state = graft.warehouse.Cdc.retractMerge(
          deltas(log.filter(col("op") === "I"))
            .groupBy(col("grp"))
            .agg(sum(col("dn")).cast("long").as("n"), sum(col("dv")).as("v")),
          deltas(log.filter(col("op") =!= "I")))
        state.select(col("grp").as("status"), col("n_rows"),
          col("total").cast("double").as("total_value"))
      },
      Some(retractOracle)),

    Q(
      "qw24_profile_drift",
      "Snapshot profile DRIFT (Profile.profileDrift — the data-" +
        "observability monitor over qw16's profile): two versions of " +
        "orders (the new one nullifies status 'P', doubles " +
        "o_totalprice, drops o_orderpriority, adds a channel column) " +
        "profile per column and full-outer join on column name; " +
        "statuses col_added / col_removed / drifted (exact integer " +
        "null-basis-points or any null-safe min/max move) / stable. " +
        "Output is schema-sized metadata; the verdict is bit-exact " +
        "so nightly monitors can diff verdicts across runs.",
      (s, dir) => {
        val ord = graft.core.Tables.load(s, dir, "orders")
        val oldDf = ord.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderpriority"))
        val newDf = ord.select(col("o_orderkey"), col("o_custkey"),
          nullif(col("o_orderstatus"), lit("P")).as("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"),
          lit("web").as("o_channel"))
        graft.warehouse.Profile.profileDrift(oldDf, newDf)
      },
      Some {
        def prof(rel: String, c: String, kind: String): String = {
          val (mn, mx, mns, mxs) = kind match {
            case "num" => (s"CAST(min($c) AS DOUBLE)", s"CAST(max($c) AS DOUBLE)",
              "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
            case _ => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
              s"min($c)", s"max($c)")
          }
          s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  $mn AS mn, $mx AS mx, $mns AS mns, $mxs AS mxs FROM $rel"""
            .stripMargin
        }
        val oldCols = Seq(("o_orderkey", "num"), ("o_custkey", "num"),
          ("o_orderstatus", "str"), ("o_totalprice", "num"),
          ("o_orderpriority", "str"))
        val newCols = Seq(("o_orderkey", "num"), ("o_custkey", "num"),
          ("o_orderstatus", "str"), ("o_totalprice", "num"),
          ("o_channel", "str"))
        val po = oldCols.map { case (c, k) => prof("orders", c, k) }
          .mkString("\nUNION ALL\n")
        val pn = newCols.map { case (c, k) => prof("nn", c, k) }
          .mkString("\nUNION ALL\n")
        s"""WITH nn AS (
          |  SELECT o_orderkey, o_custkey,
          |    nullif(o_orderstatus, 'P') AS o_orderstatus,
          |    o_totalprice * 2 AS o_totalprice, 'web' AS o_channel
          |  FROM orders),
          |po AS ($po),
          |pn AS ($pn),
          |j AS (
          |  SELECT coalesce(po.col_name, pn.col_name) AS col_name,
          |    po.n_rows AS n_rows_old, pn.n_rows AS n_rows_new,
          |    po.n_distinct AS n_distinct_old, pn.n_distinct AS n_distinct_new,
          |    po.n_nulls * 10000 // po.n_rows AS null_bp_old,
          |    pn.n_nulls * 10000 // pn.n_rows AS null_bp_new,
          |    po.mn AS mn_o, po.mx AS mx_o, po.mns AS mns_o, po.mxs AS mxs_o,
          |    pn.mn AS mn_n, pn.mx AS mx_n, pn.mns AS mns_n, pn.mxs AS mxs_n
          |  FROM po FULL OUTER JOIN pn ON po.col_name = pn.col_name)
          |SELECT col_name,
          |  CASE WHEN n_rows_old IS NULL THEN 'col_added'
          |       WHEN n_rows_new IS NULL THEN 'col_removed'
          |       WHEN null_bp_old IS DISTINCT FROM null_bp_new
          |         OR mn_o IS DISTINCT FROM mn_n
          |         OR mx_o IS DISTINCT FROM mx_n
          |         OR mns_o IS DISTINCT FROM mns_n
          |         OR mxs_o IS DISTINCT FROM mxs_n THEN 'drifted'
          |       ELSE 'stable' END AS status,
          |  n_rows_old, n_rows_new, n_distinct_old, n_distinct_new,
          |  null_bp_old, null_bp_new
          |FROM j""".stripMargin
      }),

    Q(
      "qw25_incremental_profile",
      "MERGEABLE incremental profile (Profile.mergeableProfile + " +
        "mergeProfiles — qw05's IVM discipline applied to qw16's " +
        "profile): counts and typed min/max merge as they stand; the " +
        "one non-mergeable statistic (exact distinct) becomes the " +
        "KMV bottom-64 sketch whose union-truncate is EXACT w.r.t. " +
        "the full value set's bottom k — so the stored state " +
        "(orders with o_orderkey %5 != 0) absorbs the delta batch " +
        "(%5 = 0) in O(delta), never rescanning history, and the " +
        "merged state equals a full rebuild bit-for-bit (distinct " +
        "ESTIMATE included — the oracle recomputes from scratch). " +
        "Doubles sketch exact integer cents, not their string " +
        "rendering (the engine-portable hash discipline).",
      (s, dir) => {
        val ord = graft.core.Tables.load(s, dir, "orders")
        val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
        def dk(c: String) = c match {
          case "o_totalprice" => graft.operators.Dedup.hash60(
            floor(col(c) * 100).cast("long").cast("string"))
          case _ => graft.operators.Dedup.hash60(col(c).cast("string"))
        }
        val stored = graft.warehouse.Profile.mergeableProfile(
          ord.filter(pmod(col("o_orderkey"), lit(5)) =!= 0), cols, dk)
        val delta = graft.warehouse.Profile.mergeableProfile(
          ord.filter(pmod(col("o_orderkey"), lit(5)) === 0), cols, dk)
        graft.warehouse.Profile.mergeProfiles(stored, delta)
          .select(col("col_name"), col("n_rows"), col("n_nulls"),
            graft.warehouse.Profile.kmvEstimate(col("sk")).as("est_distinct"),
            col("min_num"), col("max_num"), col("min_str"), col("max_str"))
      },
      Some {
        def one(c: String, hash: String, mn: String, mx: String,
            mns: String, mxs: String): String =
          s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |  (SELECT CASE WHEN len(sk) < 64 THEN CAST(len(sk) AS DOUBLE)
             |     ELSE CAST(63 AS DOUBLE) * power(CAST(2 AS DOUBLE), CAST(60 AS DOUBLE))
             |          / CAST(sk[64] AS DOUBLE) END
             |   FROM (SELECT list_slice(list_sort(list(DISTINCT $hash)), 1, 64) AS sk
             |         FROM orders WHERE $c IS NOT NULL)) AS est_distinct,
             |  $mn AS min_num, $mx AS max_num, $mns AS min_str, $mxs AS max_str
             |FROM orders""".stripMargin
        val k1 = TextQueries.dkHash60("CAST(o_orderkey AS VARCHAR)")
        val k2 = TextQueries.dkHash60("o_orderstatus")
        val k3 = TextQueries.dkHash60(
          "CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR)")
        Seq(
          one("o_orderkey", k1,
            "CAST(min(o_orderkey) AS DOUBLE)", "CAST(max(o_orderkey) AS DOUBLE)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"),
          one("o_orderstatus", k2,
            "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
            "min(o_orderstatus)", "max(o_orderstatus)"),
          one("o_totalprice", k3,
            "CAST(min(o_totalprice) AS DOUBLE)", "CAST(max(o_totalprice) AS DOUBLE)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"))
          .mkString("\nUNION ALL\n")
      }),

    Q(
      "qw12_compaction_plan",
      "Small-file compaction planning (Compaction.compactionPlan - " +
        "the lakehouse maintenance pass): a file inventory (here " +
        "orders as stand-in metadata: one 'file' per order, bytes = " +
        "whole cents of o_totalprice, partition = order year) is " +
        "bin-packed into target-sized rewrite groups by EXCLUSIVE " +
        "prefix sum in file-id order - bins are contiguous, " +
        "deterministic, and engine/partitioning-invariant (pure " +
        "integer window arithmetic), so a retried maintenance job " +
        "rewrites identical groups. The inventory is METADATA (one " +
        "row per data file), never the data; the window partitions " +
        "by the table-partition key so each group is directory-sized.",
      (s, dir) => {
        val inv = graft.core.Tables.load(s, dir, "orders")
          .select(year(col("o_orderdate")).cast("long").as("part_year"),
            col("o_orderkey"),
            floor(col("o_totalprice") * 100).as("cents"))
        graft.storage.Compaction.compactionPlan(
          inv, "part_year", "o_orderkey", "cents", targetBytes = 500000000L)
      },
      // duckdb sum(BIGINT) is HUGEINT and `//` keeps it; the driver's
      // arrow/pandas bridge renders HUGEINT as float → hash mismatch even
      // when every value is equal. CAST the bin back to BIGINT.
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS grp,
        |  o_orderkey AS file_id,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS bytes,
        |  CAST((sum(CAST(floor(o_totalprice * 100) AS BIGINT)) OVER (
        |     PARTITION BY year(o_orderdate) ORDER BY o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   - CAST(floor(o_totalprice * 100) AS BIGINT)) // 500000000
        |    AS BIGINT) AS bin
        |FROM orders""".stripMargin)),

    Q(
      "qw13_partition_refresh_plan",
      "Partition refresh planning (Cdc.partitionRefreshPlan over " +
        "qw06's snapshotDiff): the nightly publisher's minimal " +
        "rewrite set - each differing key joins its partition (order " +
        "year, from the UNION of both snapshots so removed keys " +
        "resolve), aggregated to (grp, n_added, n_removed, " +
        "n_changed). Untouched partitions are structurally ABSENT, " +
        "so dynamic partition overwrite rewrites O(changed " +
        "partitions), never the table; the join touches diff-sized " +
        "data only.",
      (s, dir) => {
        val ord = graft.core.Tables.load(s, dir, "orders")
        val oldV = ord.filter(col("o_orderkey") % 13 =!= 0)
        val newV = ord.filter(col("o_orderkey") % 11 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 7 === 0, col("o_totalprice") + lit(1.0))
              .otherwise(col("o_totalprice")))
        val diff = graft.warehouse.Cdc.snapshotDiff(oldV, newV, Seq("o_orderkey"))
        val keyed = oldV.unionByName(newV)
          .select(col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("part_year"))
        graft.warehouse.Cdc.partitionRefreshPlan(diff, keyed,
          Seq("o_orderkey"), Seq("part_year"))
      },
      Some("""WITH diff AS (
        |  SELECT o_orderkey, 'removed' AS status FROM orders
        |  WHERE o_orderkey % 13 <> 0 AND o_orderkey % 11 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'added' FROM orders
        |  WHERE o_orderkey % 13 = 0 AND o_orderkey % 11 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, 'changed' FROM orders
        |  WHERE o_orderkey % 13 <> 0 AND o_orderkey % 11 <> 0
        |    AND o_orderkey % 7 = 0)
        |SELECT CAST(year(o_orderdate) AS BIGINT) AS part_year,
        |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_added,
        |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_changed
        |FROM diff JOIN orders USING (o_orderkey)
        |GROUP BY 1""".stripMargin)),

    Q(
      "qw11_late_dimension_repair",
      "Late-arriving dimension repair (the early-fact problem): the " +
        "initial load left orders referencing not-yet-arrived " +
        "customers with NULL dim attributes (left join against the " +
        "on-time slice, c_custkey % 3 <> 0); when the late slice " +
        "lands, the repair joins it to ONLY the null-dim facts - " +
        "repair cost is proportional to the LATE slice's fact " +
        "fan-out, never a view rescan (the unresolved facts are " +
        "storage-partitionable by is_resolved). Oracle = the full " +
        "recompute against the complete dimension.",
      (s, dir) => {
        val ords = graft.core.Tables.load(s, dir, "orders")
        val cust = graft.core.Tables.load(s, dir, "customer")
        val onTime = cust.filter(pmod(col("c_custkey"), lit(3)) =!= 0)
        val late = cust.filter(pmod(col("c_custkey"), lit(3)) === 0)
        // initial load: left join against the on-time dim slice
        val v0 = ords.join(onTime, col("o_custkey") === col("c_custkey"), "left")
          .select(col("o_orderkey"), col("o_custkey"),
            col("c_mktsegment"), col("c_nationkey").cast("long").as("c_nationkey"))
        // repair: ONLY the unresolved facts meet the late slice
        val unresolved = v0.filter(col("c_mktsegment").isNull)
          .select(col("o_orderkey"), col("o_custkey"))
        val repaired = unresolved
          .join(broadcast(late), col("o_custkey") === col("c_custkey"), "left")
          .select(col("o_orderkey"), col("o_custkey"),
            col("c_mktsegment"), col("c_nationkey").cast("long").as("c_nationkey"))
        v0.filter(col("c_mktsegment").isNotNull).unionByName(repaired)
      },
      Some("""SELECT o_orderkey, o_custkey, c_mktsegment,
        |  CAST(c_nationkey AS BIGINT) AS c_nationkey
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    Q(
      "qw10_incremental_join",
      "Incremental JOIN-view maintenance (the delta-join complement " +
        "to qw05's aggregate IVM): the stored view orders x customer " +
        "absorbs insert batches on BOTH sides via " +
        "V' = V + dA x B' + A_old x dB - three delta-sized joins, " +
        "never a rescan of V (deltas broadcast; the disjoint " +
        "old/delta key split makes the union exact, no dedup " +
        "needed). Deletes/updates route through the CDC family " +
        "first. Oracle = the full recompute - maintained and " +
        "recomputed views must match row-for-row.",
      (s, dir) => {
        val ords = graft.core.Tables.load(s, dir, "orders")
        val cust = graft.core.Tables.load(s, dir, "customer")
        val aOld = ords.filter(pmod(col("o_orderkey"), lit(5)) =!= 0)
        val dA = ords.filter(pmod(col("o_orderkey"), lit(5)) === 0)
        val bOld = cust.filter(pmod(col("c_custkey"), lit(7)) =!= 0)
        val dB = cust.filter(pmod(col("c_custkey"), lit(7)) === 0)
        def j(a: org.apache.spark.sql.DataFrame,
              b: org.apache.spark.sql.DataFrame) =
          a.join(b, col("o_custkey") === col("c_custkey"))
            .select(col("o_orderkey"), col("c_custkey"),
              col("c_mktsegment"),
              col("o_totalprice").cast("double").as("o_totalprice"))
        j(aOld, bOld)                       // V (stored; recomputed here)
          .unionByName(j(dA, bOld.unionByName(dB))) // dA × B'
          .unionByName(j(aOld, broadcast(dB)))      // A_old × dB
      },
      Some("""SELECT o_orderkey, c_custkey, c_mktsegment,
        |  CAST(o_totalprice AS DOUBLE) AS o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    Q(
      "qw05_incremental_agg",
      "Incremental view maintenance (beyond-reference warehouse op): " +
        "a stored per-type aggregate state (count, DECIMAL sum, KMV " +
        "user sketch — all MERGEABLE partials) absorbs a delta batch " +
        "by merging states, never rescanning history: counts add, " +
        "decimal sums add exactly, sketches union-truncate " +
        "(order-invariant, so the merge is partitioning-proof). " +
        "Oracle = the full recompute over all events — merged " +
        "incremental state must equal it bit-for-bit, distinct-user " +
        "estimate included.",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        import org.apache.spark.sql.{Column, DataFrame}
        graft.functions.GraftFunctions.register(s)
        val k = 64
        val ev = graft.core.Tables.load(s, dir, "events")
        def state(df: DataFrame): DataFrame = df
          .select(col("event_type"), col("value"),
            graft.operators.Dedup.hash60(col("user_id").cast("string")).as("uh"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).cast("long").as("n"),
            sum(col("value").cast(DecimalType(30, 6))).as("sv"),
            call_function("graft_bottom_k", col("uh"), lit(k)).as("sk"))
        val stored = state(ev.filter(pmod(col("event_id"), lit(5)) =!= 0))
        val delta = state(ev.filter(pmod(col("event_id"), lit(5)) === 0))
        def est(c: Column): Column =
          when(size(c) < k, size(c).cast("double"))
            .otherwise(lit((k - 1).toDouble) * pow(lit(2.0), lit(60.0)) /
              element_at(c, k).cast("double"))
        stored.unionByName(delta)
          .groupBy(col("event_type"))
          .agg(sum(col("n")).cast("long").as("n_events"),
            sum(col("sv")).cast("double").as("total_value"),
            aggregate(collect_list(col("sk")),
              array().cast("array<bigint>"),
              (acc, x) => slice(array_sort(array_union(acc, x)), 1, k)).as("sk"))
          .select(col("event_type"), col("n_events"), col("total_value"),
            est(col("sk")).as("est_users"))
      },
      Some("""WITH h AS (
        |  SELECT event_type, value,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS uh
        |  FROM events),
        |agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |    list_slice(list_sort(list(DISTINCT uh)), 1, 64) AS sk
        |  FROM h GROUP BY 1)
        |SELECT event_type, n_events, total_value,
        |  CASE WHEN len(sk) < 64 THEN CAST(len(sk) AS DOUBLE)
        |       ELSE CAST(63 AS DOUBLE) * power(CAST(2 AS DOUBLE), CAST(60 AS DOUBLE))
        |            / CAST(sk[64] AS DOUBLE) END AS est_users
        |FROM agg""".stripMargin)),

    Q(
      "qw06_snapshot_diff",
      "Snapshot diff (Cdc.snapshotDiff — mirror reconciliation): two " +
        "versions of the orders table (keys dropped on one side, " +
        "added on the other, prices bumped on a third subset) reduce " +
        "to (key, row-hash), one full-outer equi-join classifies " +
        "added/removed/changed, unchanged keys are filtered out — the " +
        "diff is output-proportional, the row width collapses to a " +
        "hash before the shuffle. The oracle replays the diff " +
        "SEMANTICS set-wise (which keys differ and why), so the " +
        "hashing is checked by consequence, not by format.",
      (s, dir) => {
        val ord = graft.core.Tables.load(s, dir, "orders")
        val oldV = ord.filter(col("o_orderkey") % 13 =!= 0)
        val newV = ord.filter(col("o_orderkey") % 11 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 7 === 0, col("o_totalprice") + lit(1.0))
              .otherwise(col("o_totalprice")))
        graft.warehouse.Cdc.snapshotDiff(oldV, newV, Seq("o_orderkey"))
      },
      Some("""SELECT o_orderkey, 'removed' AS status FROM orders
        |WHERE o_orderkey % 13 <> 0 AND o_orderkey % 11 = 0
        |UNION ALL
        |SELECT o_orderkey, 'added' FROM orders
        |WHERE o_orderkey % 13 = 0 AND o_orderkey % 11 <> 0
        |UNION ALL
        |SELECT o_orderkey, 'changed' FROM orders
        |WHERE o_orderkey % 13 <> 0 AND o_orderkey % 11 <> 0
        |  AND o_orderkey % 7 = 0""".stripMargin)),

    Q(
      "qw20_write_conflicts",
      "Two-writer write-write conflict audit (Cdc.writeConflictAudit " +
        "- the optimistic-concurrency commit check as one query): " +
        "the events feed split by event_id parity stands in for two " +
        "concurrent writers against the same base; each side " +
        "collapses to latest-wins intent per user ('error' rows are " +
        "delete intents), one full-outer equi-join classifies every " +
        "touched key a_only / b_only / agree (both delete, or value " +
        "columns null-safe-equal) / diverge. Touched-keys-" +
        "proportional; the base table never participates - the " +
        "property that lets the check run per commit at 100 TB.",
      (s, dir) =>
        graft.warehouse.Cdc.writeConflictAudit(
          graft.core.Tables.load(s, dir, "events")
            .filter(col("event_id") % 2 === 0),
          graft.core.Tables.load(s, dir, "events")
            .filter(col("event_id") % 2 === 1),
          keyCols = Seq("user_id"),
          orderBy = Seq(col("ts"), col("event_id")),
          isDelete = col("event_type") === "error",
          valueCols = Seq("event_type", "value")),
      Some("""WITH a AS (
        |  SELECT * FROM (
        |    SELECT user_id, event_type, value,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_id % 2 = 0) WHERE rn = 1),
        |b AS (
        |  SELECT * FROM (
        |    SELECT user_id, event_type, value,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_id % 2 = 1) WHERE rn = 1)
        |SELECT coalesce(a.user_id, b.user_id) AS user_id,
        |  CASE WHEN b.user_id IS NULL THEN 'a_only'
        |       WHEN a.user_id IS NULL THEN 'b_only'
        |       WHEN (a.event_type = 'error' AND b.event_type = 'error')
        |         OR (a.event_type <> 'error' AND b.event_type <> 'error'
        |             AND a.event_type IS NOT DISTINCT FROM b.event_type
        |             AND a.value IS NOT DISTINCT FROM b.value)
        |       THEN 'agree'
        |       ELSE 'diverge' END AS status
        |FROM a FULL OUTER JOIN b ON a.user_id = b.user_id""".stripMargin)),

    Q(
      "qw09_scd2_apply",
      "Incremental SCD2 apply (Cdc.scd2Apply): a synthetic current " +
        "history (keys %13≠0; segments overridden to 'OLD' for keys " +
        "%7=0) advances by the true customer snapshot (keys %11≠0, " +
        "simulating deletes). Changed keys close + reopen, deletes " +
        "close, new keys open, unchanged pass through — only the " +
        "CURRENT slice joins the snapshot (one full-outer equi-join, " +
        "consumed once via a conditional struct explode); closed " +
        "history is untouched storage. Oracle replays the four-way " +
        "classification as unions.",
      (s, dir) => {
        val cust = graft.core.Tables.load(s, dir, "customer")
        val hist = cust.filter(col("c_custkey") % 13 =!= 0)
          .select(col("c_custkey"),
            when(col("c_custkey") % 7 === 0, lit("OLD"))
              .otherwise(col("c_mktsegment")).as("segment"),
            lit("1990-01-01 00:00:00").as("valid_from"),
            lit(null).cast("string").as("valid_to"),
            lit(true).as("is_current"))
        val snap = cust.filter(col("c_custkey") % 11 =!= 0)
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))
        graft.warehouse.Cdc.scd2Apply(
          hist, snap, "c_custkey", Seq("segment"),
          effectiveTs = "2000-06-01 00:00:00")
      },
      Some("""WITH hist AS (
        |  SELECT c_custkey, CASE WHEN c_custkey % 7 = 0 THEN 'OLD'
        |           ELSE c_mktsegment END AS segment,
        |    '1990-01-01 00:00:00' AS valid_from
        |  FROM customer WHERE c_custkey % 13 <> 0),
        |snap AS (
        |  SELECT c_custkey, c_mktsegment AS segment
        |  FROM customer WHERE c_custkey % 11 <> 0)
        |SELECT h.c_custkey, h.segment, h.valid_from,
        |  '2000-06-01 00:00:00' AS valid_to, FALSE AS is_current
        |FROM hist h LEFT JOIN snap s ON h.c_custkey = s.c_custkey
        |WHERE s.c_custkey IS NULL OR h.segment <> s.segment
        |UNION ALL
        |SELECT h.c_custkey, h.segment, h.valid_from,
        |  CAST(NULL AS VARCHAR), TRUE
        |FROM hist h JOIN snap s ON h.c_custkey = s.c_custkey
        |WHERE h.segment = s.segment
        |UNION ALL
        |SELECT s.c_custkey, s.segment, '2000-06-01 00:00:00',
        |  CAST(NULL AS VARCHAR), TRUE
        |FROM snap s LEFT JOIN hist h ON h.c_custkey = s.c_custkey
        |WHERE h.c_custkey IS NULL OR h.segment <> s.segment""".stripMargin)),

    Q(
      "qw08_bucketed_join",
      "Co-bucketed fact join (warehouse/Bucketing — the write-time " +
        "shuffle lever): orders and lineitem land as external " +
        "bucketed+sorted tables hash-partitioned on the order key " +
        "(the one shuffle, paid at write), then the recurring join " +
        "reads co-located buckets — SortMergeJoin with ZERO Exchange " +
        "on either side (BucketingSpec asserts the plan). At 100 TB " +
        "this converts every repeated fact-fact join from two full " +
        "shuffles to none; output equals the plain join the oracle " +
        "runs.",
      (s, dir) => {
        val ord = graft.core.Tables.load(s, dir, "orders")
        val li = graft.core.Tables.load(s, dir, "lineitem")
        val base = java.nio.file.Files
          .createTempDirectory("graft_bucket_").toString
        graft.warehouse.Bucketing.writeBucketed(
          ord, "graft_b_orders", s"$base/orders", "o_orderkey", 8)
        graft.warehouse.Bucketing.writeBucketed(
          li, "graft_b_lineitem", s"$base/lineitem", "l_orderkey", 8)
        graft.warehouse.Bucketing
          .bucketedJoin(s, "graft_b_lineitem", "graft_b_orders",
            "l_orderkey", "o_orderkey")
          .groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_li"),
            Exprs.exactSum(col("l_extendedprice")).as("sum_price"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_li,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin)),

    Q(
      "qw14_time_travel",
      "Time travel over the versioned parquet layout (Storage.versions " +
        "/ readAsOf + Cdc.snapshotDiff): two versions of the orders " +
        "table land under one root (v1 = pre-1998 orders; v2 = all " +
        "orders, status flipped for keys %97=0), an as-of read " +
        "resolves each stamp by pure string comparison on the " +
        "directory names (the layout IS the version log — no " +
        "manifest), and the diff between the two as-of views " +
        "classifies every key. Listing is metadata-only; the diff is " +
        "output-proportional (qw06's hash-collapse). The oracle " +
        "replays the version definitions set-wise from the base " +
        "table.",
      (s, dir) => {
        val base = java.nio.file.Files
          .createTempDirectory("graft_tt_").toString
        val ord = graft.core.Tables.load(s, dir, "orders")
        val v1 = ord.filter(year(col("o_orderdate")) <= 1997)
        val v2 = ord.withColumn("o_orderstatus",
          when(col("o_orderkey") % 97 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
        graft.storage.LocalStorage(base, "v20-01-01").write(v1, "orders")
        graft.storage.LocalStorage(base, "v20-06-01").write(v2, "orders")
        val asOfV1 = graft.storage.Storage.readAsOf(s, base, "orders", "v20-03-15")
        val asOfV2 = graft.storage.Storage.readAsOf(s, base, "orders", "v20-12-31")
        graft.warehouse.Cdc.snapshotDiff(asOfV1, asOfV2, Seq("o_orderkey"))
      },
      Some("""SELECT o_orderkey, 'added' AS status FROM orders
        |WHERE EXTRACT(YEAR FROM o_orderdate) > 1997
        |UNION ALL
        |SELECT o_orderkey, 'changed' FROM orders
        |WHERE EXTRACT(YEAR FROM o_orderdate) <= 1997
        |  AND o_orderkey % 97 = 0""".stripMargin)),

    Q(
      "qw15_referential_integrity",
      "Referential-integrity audit across the star schema: for every " +
        "FK edge, row count + orphan count (non-null FK values with " +
        "no parent) via left-anti joins — true dims (nation, region) " +
        "broadcast so the big side never shuffles for them; fact→fact " +
        "edges shuffle once on the key (prefilterable with q45's " +
        "Bloom branch when orphans are known-rare). NULL FKs are " +
        "excluded (a null reference is a modeling choice, not a " +
        "dangling one). One edge audits against a deliberately " +
        "sampled dim (customers %10<>0) so the orphan path is " +
        "genuinely exercised; the healthy edges assert zero. Output " +
        "is one row per edge — the nightly governance report.",
      (s, dir) => {
        import org.apache.spark.sql.DataFrame
        def edge(name: String, fact: DataFrame, fk: String,
                 dim: DataFrame, pk: String, bcast: Boolean): DataFrame = {
          val f = fact.select(col(fk).as("k")).filter(col("k").isNotNull)
          val d0 = dim.select(col(pk).as("pk"))
          val d = if (bcast) broadcast(d0) else d0
          f.agg(count(lit(1)).as("n_rows"))
            .crossJoin(f.join(d, col("k") === col("pk"), "left_anti")
              .agg(count(lit(1)).as("n_orphans")))
            .select(lit(name).as("fk"), col("n_rows"), col("n_orphans"))
        }
        val li = graft.core.Tables.load(s, dir, "lineitem")
        val ord = graft.core.Tables.load(s, dir, "orders")
        val cust = graft.core.Tables.load(s, dir, "customer")
        val supp = graft.core.Tables.load(s, dir, "supplier")
        val part = graft.core.Tables.load(s, dir, "part")
        val nat = graft.core.Tables.load(s, dir, "nation")
        val reg = graft.core.Tables.load(s, dir, "region")
        val sampled = cust.filter(col("c_custkey") % 10 =!= 0)
        edge("lineitem.l_orderkey->orders", li, "l_orderkey", ord, "o_orderkey", bcast = false)
          .unionByName(edge("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey", bcast = true))
          .unionByName(edge("lineitem.l_suppkey->supplier", li, "l_suppkey", supp, "s_suppkey", bcast = true))
          .unionByName(edge("orders.o_custkey->customer", ord, "o_custkey", cust, "c_custkey", bcast = true))
          .unionByName(edge("orders.o_custkey->customer[sampled]", ord, "o_custkey", sampled, "c_custkey", bcast = true))
          .unionByName(edge("customer.c_nationkey->nation", cust, "c_nationkey", nat, "n_nationkey", bcast = true))
          .unionByName(edge("supplier.s_nationkey->nation", supp, "s_nationkey", nat, "n_nationkey", bcast = true))
          .unionByName(edge("nation.n_regionkey->region", nat, "n_regionkey", reg, "r_regionkey", bcast = true))
      },
      Some("""SELECT 'lineitem.l_orderkey->orders' AS fk,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL) AS n_rows,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
        |     AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphans
        |UNION ALL
        |SELECT 'lineitem.l_partkey->part',
        |  (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL),
        |  (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL
        |     AND l_partkey NOT IN (SELECT p_partkey FROM part))
        |UNION ALL
        |SELECT 'lineitem.l_suppkey->supplier',
        |  (SELECT count(*) FROM lineitem WHERE l_suppkey IS NOT NULL),
        |  (SELECT count(*) FROM lineitem WHERE l_suppkey IS NOT NULL
        |     AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
        |UNION ALL
        |SELECT 'orders.o_custkey->customer',
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL),
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
        |     AND o_custkey NOT IN (SELECT c_custkey FROM customer))
        |UNION ALL
        |SELECT 'orders.o_custkey->customer[sampled]',
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL),
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
        |     AND o_custkey NOT IN (SELECT c_custkey FROM customer
        |                           WHERE c_custkey % 10 <> 0))
        |UNION ALL
        |SELECT 'customer.c_nationkey->nation',
        |  (SELECT count(*) FROM customer WHERE c_nationkey IS NOT NULL),
        |  (SELECT count(*) FROM customer WHERE c_nationkey IS NOT NULL
        |     AND c_nationkey NOT IN (SELECT n_nationkey FROM nation))
        |UNION ALL
        |SELECT 'supplier.s_nationkey->nation',
        |  (SELECT count(*) FROM supplier WHERE s_nationkey IS NOT NULL),
        |  (SELECT count(*) FROM supplier WHERE s_nationkey IS NOT NULL
        |     AND s_nationkey NOT IN (SELECT n_nationkey FROM nation))
        |UNION ALL
        |SELECT 'nation.n_regionkey->region',
        |  (SELECT count(*) FROM nation WHERE n_regionkey IS NOT NULL),
        |  (SELECT count(*) FROM nation WHERE n_regionkey IS NOT NULL
        |     AND n_regionkey NOT IN (SELECT r_regionkey FROM region))""".stripMargin)),

    Q(
      "qw16_profile",
      "Per-column dataset profile (Profile.profile — the 'what is in " +
        "this table' audit before trusting a source): row/null/EXACT " +
        "distinct counts + typed min/max per column, as one " +
        "single-column aggregate branch per column, unioned. " +
        "Deliberately not one wide multi-distinct agg: that plans via " +
        "Expand (n× row replication through the shuffle); independent " +
        "branches each prune the parquet scan to ONE column, so total " +
        "IO equals a single full-width scan and branches parallelize " +
        "across the cluster.",
      (s, dir) =>
        graft.warehouse.Profile.profile(
          graft.core.Tables.load(s, dir, "orders")),
      Some("""SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        |  count(*) - count(o_orderkey) AS n_nulls,
        |  count(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(min(o_orderkey) AS DOUBLE) AS min_num,
        |  CAST(max(o_orderkey) AS DOUBLE) AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |  count(DISTINCT o_custkey),
        |  CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
        |  NULL, NULL
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |  count(DISTINCT o_orderstatus), NULL, NULL,
        |  min(o_orderstatus), max(o_orderstatus)
        |FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
        |  count(DISTINCT o_totalprice),
        |  CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE),
        |  NULL, NULL
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
        |  count(DISTINCT o_orderdate),
        |  CAST(epoch_us(min(o_orderdate)) AS DOUBLE),
        |  CAST(epoch_us(max(o_orderdate)) AS DOUBLE),
        |  NULL, NULL
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        |  count(DISTINCT o_orderpriority), NULL, NULL,
        |  min(o_orderpriority), max(o_orderpriority)
        |FROM orders""".stripMargin)),

    Q(
      "qw17_erasure_plan",
      "Subject-erasure manifest (Erasure.erasurePlan — GDPR cascade " +
        "planning): walk customer → orders → lineitem along the FK " +
        "graph for subjects c_custkey % 97 = 0 and emit every " +
        "dependent row as an auditable per-table delete manifest. " +
        "Each hop is one left-semi equi-join (broadcast for the usual " +
        "small erasure batch, shuffled when a hot subject fans out); " +
        "planning is separate from execution — at 100 TB the manifest " +
        "schedules partition rewrites (qw12), never row deletes.",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val subjects = graft.core.Tables.load(s, dir, "customer")
          .filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey").as("k"))
        graft.warehouse.Erasure.erasurePlan(
          graft.core.Tables.load(s, dir, "customer"),
          graft.core.Tables.load(s, dir, "orders"),
          graft.core.Tables.load(s, dir, "lineitem"),
          subjects)
      },
      Some("""WITH subj AS (
        |  SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
        |ord AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT k FROM subj))
        |SELECT 'customer' AS table_name, c_custkey AS k1,
        |  CAST(NULL AS BIGINT) AS k2
        |FROM customer WHERE c_custkey IN (SELECT k FROM subj)
        |UNION ALL
        |SELECT 'orders', o_orderkey, NULL FROM ord
        |UNION ALL
        |SELECT 'lineitem', l_orderkey, CAST(l_linenumber AS BIGINT)
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM ord)""".stripMargin)),

    Q(
      "qw21_erasure_execute",
      "Erasure EXECUTION audit (Erasure.erasureAudit - qw17's plan " +
        "actually carried out): the cascade runs as whole-table " +
        "anti-joins in dependency order (subject rows, their orders, " +
        "those orders' lineitems), and the audit emits one row per " +
        "table with rows_before / rows_deleted / rows_after plus " +
        "orphans_after - rows in the REWRITTEN table still " +
        "referencing an erased subject or deleted order. The oracle " +
        "pins orphans_after to 0, so a missed hop or wrong key " +
        "breaks parity loudly. Counts are metadata-sized; the " +
        "execution itself is the partition-rewrite semantics qw13 " +
        "schedules at 100 TB.",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val subjects = graft.core.Tables.load(s, dir, "customer")
          .filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey").as("k"))
        graft.warehouse.Erasure.erasureAudit(
          graft.core.Tables.load(s, dir, "customer"),
          graft.core.Tables.load(s, dir, "orders"),
          graft.core.Tables.load(s, dir, "lineitem"),
          subjects)
      },
      Some("""WITH subj AS (
        |  SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
        |ord AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT k FROM subj))
        |SELECT 'customer' AS table_name,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer) AS rows_before,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_custkey IN (SELECT k FROM subj)) AS rows_deleted,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_custkey NOT IN (SELECT k FROM subj)) AS rows_after,
        |  CAST(0 AS BIGINT) AS orphans_after
        |UNION ALL
        |SELECT 'orders',
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_custkey IN (SELECT k FROM subj)),
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_custkey NOT IN (SELECT k FROM subj)),
        |  CAST(0 AS BIGINT)
        |UNION ALL
        |SELECT 'lineitem',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_orderkey IN (SELECT o_orderkey FROM ord)),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM ord)),
        |  CAST(0 AS BIGINT)""".stripMargin)),

    Q(
      "qw22_retention_plan",
      "Snapshot-version retention planning (Retention.retentionPlan - " +
        "the vacuum-policy half of the versioned layout: qw14 time-" +
        "travels versions, this decides which may be GC'd): orders " +
        "stands in for a commit log (version = o_orderkey, ts = " +
        "o_orderdate); keep the last 10 commits (rollback window) " +
        "plus each calendar month's LAST commit for the 24 months up " +
        "to the newest commit (audit tier), expire the rest. 'As of' " +
        "= the log's own max ts (no wall clock), ties on version id; " +
        "the last-N cut is orderBy+limit (per-partition top-N), the " +
        "monthly winners a month-partitioned window - all metadata-" +
        "sized.",
      (s, dir) =>
        graft.storage.Retention.retentionPlan(
          graft.core.Tables.load(s, dir, "orders"),
          "o_orderkey", "o_orderdate", keepLast = 10, keepMonths = 24),
      Some("""WITH log AS (
        |  SELECT o_orderkey AS version_id, o_orderdate AS committed_ts
        |  FROM orders),
        |mx AS (SELECT max(committed_ts) AS max_ts FROM log),
        |lastn AS (
        |  SELECT version_id FROM log
        |  ORDER BY committed_ts DESC, version_id DESC LIMIT 10),
        |monthly AS (
        |  SELECT version_id FROM (
        |    SELECT version_id, date_trunc('month', committed_ts) AS m,
        |      row_number() OVER (PARTITION BY date_trunc('month', committed_ts)
        |        ORDER BY committed_ts DESC, version_id DESC) AS rn
        |    FROM log) t, mx
        |  WHERE rn = 1
        |    AND m >= date_trunc('month', max_ts) - INTERVAL '23 months')
        |SELECT l.version_id, l.committed_ts,
        |  CASE WHEN l.version_id IN (SELECT version_id FROM lastn)
        |         OR l.version_id IN (SELECT version_id FROM monthly)
        |       THEN 'keep' ELSE 'expire' END AS action,
        |  CASE WHEN l.version_id IN (SELECT version_id FROM lastn)
        |       THEN 'last_n'
        |       WHEN l.version_id IN (SELECT version_id FROM monthly)
        |       THEN 'monthly' ELSE 'expired' END AS reason
        |FROM log l""".stripMargin)),

    Q(
      "qw18_fk_discovery",
      "Foreign-key DISCOVERY via inclusion coefficients " +
        "(Profile.fkDiscovery — qw15's complement: that audits " +
        "declared FKs, this PROPOSES candidates): per (child col, " +
        "parent col) pair, the fraction of the child's distinct " +
        "values the parent contains — 1.0 = inclusion dependency. " +
        "Two column-pruned distincts + one left join per pair, on " +
        "collapsed value sets; containment is one division of exact " +
        "longs. Includes a true FK, a sampled-parent partial, and a " +
        "cross-domain negative.",
      (s, dir) => {
        val li = graft.core.Tables.load(s, dir, "lineitem")
        val ord = graft.core.Tables.load(s, dir, "orders")
        val cust = graft.core.Tables.load(s, dir, "customer")
        val nat = graft.core.Tables.load(s, dir, "nation")
        graft.warehouse.Profile.fkDiscovery(Seq(
          ("lineitem.l_orderkey->orders.o_orderkey",
            li, "l_orderkey", ord, "o_orderkey"),
          ("orders.o_custkey->customer.c_custkey",
            ord, "o_custkey", cust, "c_custkey"),
          ("customer.c_nationkey->nation.n_nationkey",
            cust, "c_nationkey", nat, "n_nationkey"),
          // cross-domain negative: order keys are NOT nation keys
          ("orders.o_custkey->nation.n_nationkey",
            ord, "o_custkey", nat, "n_nationkey")))
      },
      Some("""WITH pair1 AS (
        |  SELECT DISTINCT l_orderkey AS v FROM lineitem
        |  WHERE l_orderkey IS NOT NULL),
        |par1 AS (SELECT DISTINCT o_orderkey AS v FROM orders
        |         WHERE o_orderkey IS NOT NULL),
        |pair2 AS (SELECT DISTINCT o_custkey AS v FROM orders
        |          WHERE o_custkey IS NOT NULL),
        |par2 AS (SELECT DISTINCT c_custkey AS v FROM customer
        |         WHERE c_custkey IS NOT NULL),
        |pair3 AS (SELECT DISTINCT c_nationkey AS v FROM customer
        |          WHERE c_nationkey IS NOT NULL),
        |par3 AS (SELECT DISTINCT n_nationkey AS v FROM nation
        |         WHERE n_nationkey IS NOT NULL)
        |SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS candidate,
        |  count(*) AS n_child_values,
        |  CAST(sum(CASE WHEN par1.v IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_contained,
        |  CAST(sum(CASE WHEN par1.v IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
        |    / count(*) AS containment
        |FROM pair1 LEFT JOIN par1 USING (v)
        |UNION ALL
        |SELECT 'orders.o_custkey->customer.c_custkey', count(*),
        |  CAST(sum(CASE WHEN par2.v IS NULL THEN 0 ELSE 1 END) AS BIGINT),
        |  CAST(sum(CASE WHEN par2.v IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
        |    / count(*)
        |FROM pair2 LEFT JOIN par2 USING (v)
        |UNION ALL
        |SELECT 'customer.c_nationkey->nation.n_nationkey', count(*),
        |  CAST(sum(CASE WHEN par3.v IS NULL THEN 0 ELSE 1 END) AS BIGINT),
        |  CAST(sum(CASE WHEN par3.v IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
        |    / count(*)
        |FROM pair3 LEFT JOIN par3 USING (v)
        |UNION ALL
        |SELECT 'orders.o_custkey->nation.n_nationkey', count(*),
        |  CAST(sum(CASE WHEN par3.v IS NULL THEN 0 ELSE 1 END) AS BIGINT),
        |  CAST(sum(CASE WHEN par3.v IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
        |    / count(*)
        |FROM pair2 LEFT JOIN par3 USING (v)""".stripMargin)),

    Q(
      "qw19_zone_pruning",
      "Zone-map pruning simulation (ZoneMaps.zonePruningStats — the " +
        "WHY behind q47/qw12/qw13's layout machinery): per-file " +
        "min/max zone maps from ONE hash aggregate, skip-or-scan " +
        "decided on the METADATA alone, folded to exact counters — " +
        "for the same 1997-H1 date predicate under the natural " +
        "date-clustered layout (monthly files: scans ~6/80 files) vs " +
        "a key-scattered layout (every file overlaps: scans all). " +
        "Turns 'should we re-cluster?' into a measured scan-fraction " +
        "answer before any rewrite is paid for.",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, date_format, unix_micros}
        val ord = graft.core.Tables.load(s, dir, "orders")
          .withColumn("od", unix_micros(col("o_orderdate")))
        val lo = 852076800000000L   // 1997-01-01T00:00:00Z in micros
        val hi = 867715199999999L   // 1997-06-30T23:59:59.999999Z
        graft.storage.ZoneMaps.zonePruningStats(ord, "date_clustered",
            date_format(col("o_orderdate"), "yyyy-MM"), "od", lo, hi)
          .unionByName(
            graft.storage.ZoneMaps.zonePruningStats(ord, "key_scattered",
              col("o_orderkey") % 50, "od", lo, hi))
      },
      Some("""WITH o AS (
        |  SELECT *, epoch_us(o_orderdate) AS od FROM orders),
        |z1 AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS f,
        |    min(od) AS zmin, max(od) AS zmax, count(*) AS n
        |  FROM o GROUP BY 1),
        |z2 AS (
        |  SELECT o_orderkey % 50 AS f,
        |    min(od) AS zmin, max(od) AS zmax, count(*) AS n
        |  FROM o GROUP BY 1),
        |m AS (SELECT count(*) AS n_rows_matching FROM o
        |      WHERE od >= 852076800000000 AND od <= 867715199999999)
        |SELECT 'date_clustered' AS layout,
        |  count(*) AS n_files,
        |  CAST(sum(CASE WHEN zmin IS NOT NULL AND zmin <= 867715199999999
        |    AND zmax >= 852076800000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_files_scanned,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN zmin IS NOT NULL AND zmin <= 867715199999999
        |    AND zmax >= 852076800000000 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_rows_scanned,
        |  (SELECT n_rows_matching FROM m) AS n_rows_matching
        |FROM z1
        |UNION ALL
        |SELECT 'key_scattered', count(*),
        |  CAST(sum(CASE WHEN zmin IS NOT NULL AND zmin <= 867715199999999
        |    AND zmax >= 852076800000000 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(sum(n) AS BIGINT),
        |  CAST(sum(CASE WHEN zmin IS NOT NULL AND zmin <= 867715199999999
        |    AND zmax >= 852076800000000 THEN n ELSE 0 END) AS BIGINT),
        |  (SELECT n_rows_matching FROM m)
        |FROM z2""".stripMargin))
  )
}
