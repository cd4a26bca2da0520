package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.expr.Exprs
import graft.expr.Exprs.{exactAvg, exactSum}

/** Relational operator inventory (SURVEY.md §2.1–§2.9) exercised on the
  * driver's TPC-H-ish tables. Each query is the Spark-first expression
  * of one operator family the reference implements in pandas.
  *
  * Scale notes are inline: broadcasts are explicit where a side is a
  * dimension table by construction; aggregation uses exact decimal sums
  * so results are reproducible under any partitioning.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val all: Seq[Q] = Seq(
    Q(
      "q01_group_agg",
      "A5/A6-style grouped aggregation (TPC-H Q1 shape): filter + hash " +
        "aggregate with exact decimal sums; partial (map-side) agg then " +
        "one shuffle on the 6-value group key.",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.filter(col("l_shipdate") <= lit("2000-12-31 00:00:00").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            exactSum(col("l_quantity")).as("sum_qty"),
            exactSum(col("l_extendedprice")).as("sum_base_price"),
            exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("sum_disc_price"),
            exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * (lit(1.0) + col("l_tax"))).as("sum_charge"),
            exactAvg(col("l_quantity")).as("avg_qty"),
            exactAvg(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS avg_qty,
        |  CAST(sum(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE)/CAST(count(*) AS DOUBLE) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    Q(
      "q02_select_rename",
      "P1 reindex-rename projection (`world_bank_wdi.py:78-87`): exact " +
        "column list in order, missing columns created as typed nulls. " +
        "One narrow select — Catalyst prunes the parquet scan to 3 columns.",
      (s, dir) =>
        Exprs.selectRenamed(
          t(s, dir, "part"),
          Seq("p_partkey" -> "part_id", "p_name" -> "part_name",
            "p_brand" -> "brand", "p_unit" -> "unit")),
      Some("""SELECT p_partkey AS part_id, p_name AS part_name,
        |  p_brand AS brand, CAST(NULL AS VARCHAR) AS unit
        |FROM part""".stripMargin)),

    Q(
      "q03_year_filter",
      "P2 global year-range filter (`_pipeline.py:98-104`) on an " +
        "extracted year; predicate is partition-prunable when data is " +
        "laid out by year at scale.",
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"),
            year(col("o_orderdate")).cast("long").as("o_year"))
          .filter(col("o_year").between(1996, 1999)),
      Some("""SELECT o_orderkey, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year
        |FROM orders
        |WHERE EXTRACT(YEAR FROM o_orderdate) BETWEEN 1996 AND 1999""".stripMargin)),

    Q(
      "q04_semi_join",
      "J3 membership filter against a computed dimension subset as a " +
        "broadcast left-semi join: no row duplication, no shuffle of the " +
        "big side. (The pipeline's M49 filter, `_base.py:215-217`, checks " +
        "a fixed code list and runs as an `isin` set predicate instead.)",
      (s, dir) => {
        val nations = t(s, dir, "nation")
          .filter(col("n_name").isin("NATION_1", "NATION_7", "NATION_19"))
        t(s, dir, "customer")
          .join(broadcast(nations),
            col("c_nationkey") === col("n_nationkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE c_nationkey IN (
        |  SELECT n_nationkey FROM nation
        |  WHERE n_name IN ('NATION_1','NATION_7','NATION_19'))""".stripMargin)),

    Q(
      "q05_star_join",
      "J1 FK-resolution star join (`database.ipynb` cell 12): fact " +
        "joins small dims — nation/region broadcast so the lineitem side " +
        "never shuffles for them; revenue via exact sums.",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val ord = t(s, dir, "orders")
        val cust = t(s, dir, "customer")
        val nat = broadcast(t(s, dir, "nation"))
        val reg = broadcast(t(s, dir, "region"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(nat, col("c_nationkey") === col("n_nationkey"))
          .join(reg, col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(
            exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin)),

    Q(
      "q06_left_outer",
      "J2 left-outer denormalising join (`entities.py:124-128` " +
        "observation view shape): preserved-side rows survive with null " +
        "counts collapsing to 0 via count(col).",
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val ord = t(s, dir, "orders")
        cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("n_orders"))
      },
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin)),

    Q(
      "q07_dedup_keep_first",
      "A3 deterministic keep-first dedup (`who_gho_api.py:182-190`): " +
        "row_number over an ordered window — NOT dropDuplicates, which " +
        "is partition-order-dependent and irreproducible at scale.",
      (s, dir) => {
        val w = Window.partitionBy(col("l_orderkey"))
          .orderBy(col("l_linenumber"), col("l_partkey"))
        t(s, dir, "lineitem")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("l_orderkey"), col("l_partkey").as("first_part"),
            col("l_linenumber").as("first_line"))
      },
      Some("""SELECT l_orderkey, l_partkey AS first_part, l_linenumber AS first_line
        |FROM lineitem
        |QUALIFY row_number() OVER (
        |  PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) = 1""".stripMargin)),

    Q(
      "q08_dedup_keep_none",
      "A4 keep-none dedup (`unaids_kpatlas.py:85-91`): eliminate every " +
        "member of any duplicated key — count-over-window = 1, not " +
        "distinct.",
      (s, dir) => {
        val w = Window.partitionBy(col("l_partkey"), col("l_suppkey"))
        t(s, dir, "lineitem")
          .withColumn("key_n", count(lit(1)).over(w))
          .filter(col("key_n") === 1)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      },
      Some("""SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
        |QUALIFY count(*) OVER (PARTITION BY l_partkey, l_suppkey) = 1""".stripMargin)),

    Q(
      "q09_distinct",
      "A2 full-row distinct (`unstats_sdg_database.py:126-127`): " +
        "hash-aggregate on all columns, map-side partials first.",
      (s, dir) =>
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct(),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    Q(
      "q10_grouped_nunique",
      "A1 grouped distinct-count broadcast back to rows " +
        "(`unaids_kpatlas.py:78-79` transform('nunique')): " +
        "size(collect_set) over a window — bounded because priorities " +
        "have 5 distinct values; a true high-cardinality case would use " +
        "a groupBy+join instead.",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
        t(s, dir, "orders")
          .withColumn("n_priorities",
            size(collect_set(col("o_orderpriority")).over(w)).cast("long"))
          .select(col("o_orderkey"), col("n_priorities"))
      },
      Some("""SELECT o_orderkey,
        |  CAST(count(DISTINCT o_orderpriority) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_priorities
        |FROM orders""".stripMargin)),

    Q(
      "q11_unpivot",
      "R1 melt/unpivot wide→long (`world_bank_wdi.py:84`, " +
        "`sipri_milex.py:117-120`): Spark 3.4+ native unpivot — a " +
        "narrow (no-shuffle) Generate.",
      (s, dir) =>
        t(s, dir, "part").unpivot(
          Array(col("p_partkey")),
          Array(col("p_size").cast("double").as("p_size"), col("p_retailprice")),
          "attr", "val"),
      Some("""SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part""".stripMargin)),

    Q(
      "q12_union_by_name",
      "R3 heterogeneous-batch union (`pd.concat` across sources, e.g. " +
        "`unstats_sdg_database.py:55-60`): unionByName with " +
        "allowMissingColumns — positional union would silently misalign.",
      (s, dir) => {
        val c = t(s, dir, "customer").select(
          col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_mktsegment").as("segment"), lit("customer").as("kind"))
        val sup = t(s, dir, "supplier").select(
          col("s_suppkey").as("id"), col("s_name").as("name"),
          lit("supplier").as("kind"))
        c.unionByName(sup, allowMissingColumns = true)
      },
      Some("""SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment, 'customer' AS kind FROM customer
        |UNION ALL
        |SELECT s_suppkey, s_name, CAST(NULL AS VARCHAR), 'supplier' FROM supplier""".stripMargin)),

    Q(
      "q13_string_funcs",
      "C1/C2/C4/C5 scalar string functions: trim+snake_case " +
        "(`utils.py:158-188`), indicator-name synthesis " +
        "(`world_bank_wdi.py:88-90`), prefix strip (`who_gho_api.py:163`). " +
        "All codegen'd built-ins, no UDFs.",
      (s, dir) =>
        t(s, dir, "part").select(
          col("p_partkey"),
          Exprs.toSnakeCase(col("p_name")).as("snake_name"),
          Exprs.indicatorName(col("p_name"), col("p_type"), col("p_brand"))
            .as("indicator_name"),
          regexp_replace(col("p_brand"), "^Brand#", "").as("brand_code")),
      Some("""SELECT p_partkey,
        |  regexp_replace(lower(trim(p_name)), '\s+', '_', 'g') AS snake_name,
        |  concat(p_name, ', ', p_type, ' [', p_brand, ']') AS indicator_name,
        |  regexp_replace(p_brand, '^Brand#', '') AS brand_code
        |FROM part""".stripMargin)),

    Q(
      "q14_extract_cast",
      "C6-adjacent regex extract + coercing cast (S13-lite JSON-ish " +
        "field pull from `events.props`).",
      (s, dir) =>
        t(s, dir, "events").select(
          col("event_id"),
          regexp_extract(col("props"), "([0-9]+)", 1).cast("long").as("k_val")),
      Some("""SELECT event_id,
        |  CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS k_val
        |FROM events""".stripMargin)),

    Q(
      "q15_coalesce_nullif",
      "C8 coalesce chain + F10 sentinel→null (`world_bank_api.py:176,182-183`).",
      (s, dir) =>
        t(s, dir, "orders").select(
          col("o_orderkey"),
          coalesce(expr("nullif(o_orderstatus, 'O')"), col("o_orderpriority"))
            .as("status_or_priority")),
      Some("""SELECT o_orderkey,
        |  coalesce(nullif(o_orderstatus, 'O'), o_orderpriority) AS status_or_priority
        |FROM orders""".stripMargin)),

    Q(
      "q16_window_ffill",
      "W1 forward-fill (`energydata_info.py:74`): last(ignoreNulls) over " +
        "an explicitly pinned row order — order-sensitivity made explicit " +
        "via (user_id, event_id) instead of relying on file order.",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events").select(
          col("event_id"), col("user_id"),
          last(when(col("event_type") === "click", col("value")), ignoreNulls = true)
            .over(w).as("last_click_value"))
      },
      Some("""SELECT event_id, user_id,
        |  last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_value
        |FROM events""".stripMargin)),

    Q(
      "q17_uniqueness_check",
      "A7 composite-key uniqueness violation report (`validation.py:107` " +
        "pandera unique=): one hash-aggregate pass, the validation gate " +
        "of §2.12.",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") > 1),
      Some("""SELECT l_partkey, l_suppkey, count(*) AS n
        |FROM lineitem GROUP BY l_partkey, l_suppkey HAVING count(*) > 1""".stripMargin)),

    Q(
      "q18_contains_null_keep",
      "F5 contains-filter with null-passes semantics " +
        "(`ilo_sdmx_api.py:179-183` na=True — load-bearing).",
      (s, dir) => {
        val prio = expr("nullif(o_orderpriority, '3-MEDIUM')")
        t(s, dir, "orders")
          .select(col("o_orderkey"), prio.as("prio"))
          .filter(Exprs.containsOrNull(col("prio"), "H"))
      },
      Some("""SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS prio
        |FROM orders
        |WHERE nullif(o_orderpriority, '3-MEDIUM') IS NULL
        |   OR contains(nullif(o_orderpriority, '3-MEDIUM'), 'H')""".stripMargin)),

    Q(
      "q19_anti_join",
      "Anti-join (beyond-reference but essential at scale): preserved " +
        "rows with no match in a filtered build side, as a " +
        "broadcast-able left_anti.",
      (s, dir) => {
        val pending = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
        t(s, dir, "customer")
          .join(pending, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin)),

    Q(
      "q20_events_hourly",
      "Tumbling-window batch aggregation over the event stream table " +
        "(streaming §2.10 greenfield — batch equivalent of the " +
        "readStream window agg; same plan shape).",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(
            date_format(col("ts"), "yyyy-MM-dd HH:00:00").as("hour"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), exactSum(col("value")).as("total_value")),
      Some("""SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin)),

    Q(
      "q21_dim_build",
      "A5 + J1: dimension-table build (project→distinct→stable surrogate " +
        "id) and FK resolution back onto the fact table " +
        "(`database.ipynb` cells 8-12). Dense ids over a 6-row distinct " +
        "set via single-partition numbering (Partitioning.denseIds) — " +
        "no global window, safe only because dims are small by definition.",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val dim = graft.core.Partitioning.denseIds(
          li.select(col("l_returnflag"), col("l_linestatus")).distinct(),
          "flag_id", col("l_returnflag"), col("l_linestatus"))
        li.join(broadcast(dim), Seq("l_returnflag", "l_linestatus"))
          .groupBy(col("flag_id"))
          .agg(count(lit(1)).as("n_rows"))
      },
      Some("""WITH dim AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(dense_rank() OVER (ORDER BY l_returnflag, l_linestatus) AS BIGINT) AS flag_id
        |  FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem))
        |SELECT flag_id, count(*) AS n_rows
        |FROM lineitem JOIN dim USING (l_returnflag, l_linestatus)
        |GROUP BY flag_id""".stripMargin)),

    Q(
      "q23_grouped_cardinality",
      "F6 negated startsWith + F7 grouped-cardinality predicate " +
        "(`unaids_kpatlas.py:76-80`): drop a category prefix, then keep " +
        "rows whose group has exactly one distinct subgroup OR a " +
        "designated subgroup — the window runs after the row filter " +
        "(order is load-bearing).",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
        t(s, dir, "orders")
          .filter(!col("o_orderpriority").startsWith("4"))
          .withColumn("n_prio",
            size(collect_set(col("o_orderpriority")).over(w)))
          .filter(col("n_prio") === 1 || col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderpriority FROM (
        |  SELECT o_orderkey, o_custkey, o_orderpriority,
        |    count(DISTINCT o_orderpriority) OVER (PARTITION BY o_custkey) AS n
        |  FROM orders WHERE NOT starts_with(o_orderpriority, '4'))
        |WHERE n = 1 OR o_orderpriority = '1-URGENT'""".stripMargin)),

    Q(
      "q24_json_expand",
      "J6/S13 struct expansion: parse a JSON column with from_json and " +
        "flatten the struct to sibling columns (the reference's " +
        "index-aligned dict flatten, `world_bank_api.py:168-175`).",
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_id"),
            from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k INT")).as("j"))
          .select(col("event_id"), col("j.k").cast("long").as("k")),
      Some("""SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin)),

    Q(
      "q25_array_guard",
      "C10 split + slice + set-membership guard " +
        "(`ilo_sdmx_api.py:75-83`): keep rows whose code's middle " +
        "segments all belong to a whitelist — array functions, no UDF.",
      (s, dir) => {
        val parts = split(col("p_name"), " ")
        val middle = slice(parts, lit(1), size(parts) - 1)
        t(s, dir, "part")
          .filter(forall(middle,
            x => x.isInCollection(Seq("small", "red", "blue", "hot", "large", "green"))))
          .select(col("p_partkey"), col("p_name"))
      },
      Some("""SELECT p_partkey, p_name FROM (
        |  SELECT p_partkey, p_name, string_split(p_name, ' ') AS w FROM part)
        |WHERE len(list_filter(list_slice(w, 1, len(w) - 1),
        |  x -> x NOT IN ('small', 'red', 'blue', 'hot', 'large', 'green'))) = 0""".stripMargin)),

    Q(
      "q26_rollup",
      "Multi-level aggregation via ROLLUP (beyond-reference; the " +
        "grouping-sets shape serving dashboards at scale in one pass " +
        "instead of N groupBys): region → nation → grand total with " +
        "exact sums.",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val ord = t(s, dir, "orders")
        val cust = t(s, dir, "customer")
        val nat = broadcast(t(s, dir, "nation"))
        val reg = broadcast(t(s, dir, "region"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(nat, col("c_nationkey") === col("n_nationkey"))
          .join(reg, col("n_regionkey") === col("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(exactSum(col("l_quantity")).as("sum_qty"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT r_name, n_name,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)""".stripMargin)),

    Q(
      "q27_topk_per_group",
      "Top-k per group (beyond-reference; the sort-limit-per-key " +
        "pattern): 3 highest-value orders per customer via a ranked " +
        "window — per-partition sort bounded by group size, no global " +
        "sort.",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_totalprice"), col("rnk").cast("long").as("rnk"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |FROM orders
        |QUALIFY row_number() OVER (
        |  PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 3""".stripMargin)),

    Q(
      "q28_median",
      "Exact continuous-interpolation median per group " +
        "(beyond-reference): both engines interpolate (1−g)·a + g·b over " +
        "the sorted values — same doubles in, same double out.",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(expr("percentile(l_extendedprice, 0.5)").as("median_price"),
            count(lit(1)).as("n")),
      Some("""SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS median_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    Q(
      "q29_pivot",
      "Pivot wide (beyond-reference; the inverse of R1's melt): event " +
        "counts per user × type with an EXPLICIT pivot value list — " +
        "open-ended pivots need a driver-side distinct pass and produce " +
        "unstable schemas at scale.",
      (s, dir) => {
        val types = Seq("click", "view", "purchase", "signup", "error")
        val p = t(s, dir, "events")
          .groupBy(col("user_id"))
          .pivot("event_type", types)
          .agg(count(lit(1)))
        p.select(col("user_id") +:
          types.map(tp => coalesce(col(s"`$tp`"), lit(0L)).as(s"n_$tp")): _*)
      },
      Some("""SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
        |FROM events GROUP BY user_id""".stripMargin)),

    Q(
      "q30_setops",
      "Set operations (beyond-reference): customers with both pending " +
        "and finished orders (INTERSECT) tagged apart from " +
        "finished-only (EXCEPT) — hash-aggregate distinct semantics on " +
        "both engines.",
      (s, dir) => {
        val ord = t(s, dir, "orders")
        val pending = ord.filter(col("o_orderstatus") === "P")
          .select(col("o_custkey"))
        val finished = ord.filter(col("o_orderstatus") === "F")
          .select(col("o_custkey"))
        val both = pending.intersect(finished)
          .withColumn("segment", lit("both"))
        val finishedOnly = finished.except(pending)
          .withColumn("segment", lit("finished_only"))
        both.unionByName(finishedOnly)
      },
      Some("""SELECT o_custkey, 'both' AS segment FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT o_custkey, 'finished_only' AS segment FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')""".stripMargin)),

    Q(
      "q31_salted_agg",
      "Two-phase (salted) aggregation (beyond-reference; the " +
        "aggregation-skew mitigation at 1000-executor scale): phase 1 " +
        "aggregates on (key, salt) spreading hot keys over 32 buckets, " +
        "phase 2 merges partials per key. Decimal partials keep the " +
        "result bit-identical to the direct single-phase aggregate, " +
        "which is exactly what the oracle runs.",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        graft.core.Partitioning.twoPhaseAgg(
          t(s, dir, "events").select(col("event_type"), col("value")),
          Seq("event_type"), buckets = 32)(
          Seq(sum(col("value").cast(DecimalType(30, 6))).as("s"),
            count(lit(1)).as("n")),
          Seq(sum(col("s")).cast("double").as("total_value"),
            sum(col("n")).cast("long").as("n_events")))
      },
      Some("""SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY event_type""".stripMargin)),

    Q(
      "q22_sessionize",
      "Sessionization with a 30-minute inactivity gap (batch shape of " +
        "the streaming mapGroupsWithState operator): lag + cumulative " +
        "flag-sum, all integer microsecond math so both engines agree " +
        "exactly.",
      (s, dir) => {
        val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "events")
          .withColumn("prev_us", lag(graft.expr.Exprs.tsMicros(col("ts")), 1).over(ord))
          .withColumn("new_sess",
            when(col("prev_us").isNull ||
              graft.expr.Exprs.tsMicros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum(col("new_sess")).over(cum))
          .select(col("event_id"), col("user_id"), col("session_id"))
      },
      Some("""SELECT event_id, user_id,
        |  CAST(sum(CASE WHEN prev IS NULL OR epoch_us(CAST(ts AS TIMESTAMP)) - prev > 1800000000
        |                THEN 1 ELSE 0 END) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        |  SELECT *, lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)""".stripMargin)),

    Q(
      "q32_asof_join",
      "Backward as-of join (beyond-reference; pandas merge_asof / " +
        "DuckDB ASOF JOIN): every event annotated with the value of " +
        "the most recent error event of the same user. Implemented as " +
        "tag-union + one window pass per key (single shuffle, no " +
        "non-equi join, no nested loop) — see operators.AsofJoin.",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val err = ev.filter(col("event_type") === lit("error"))
          .select(col("user_id"), col("ts").as("err_ts"),
            col("value").as("last_err_value"), col("event_id").as("err_id"))
        graft.operators.AsofJoin.asofBackward(
            ev, err, key = "user_id", leftTs = "ts", rightTs = "err_ts",
            payload = Seq("last_err_value"), rightTiebreak = Some("err_id"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("last_err_value"))
      },
      Some("""SELECT e.event_id, e.user_id, e.event_type, r.value AS last_err_value
        |FROM events e ASOF LEFT JOIN (
        |  SELECT user_id, ts, max_by(value, event_id) AS value
        |  FROM events WHERE event_type = 'error' GROUP BY user_id, ts) r
        |  ON e.user_id = r.user_id AND e.ts >= r.ts""".stripMargin)),

    Q(
      "q33_range_join",
      "Interval (range) join as a bucketed equi-join (beyond-reference): " +
        "event values binned into half-open [lo, hi) tiers. The interval " +
        "side explodes to covered fixed-width buckets, the join is " +
        "bucket = bucket (broadcast hash join) with the range predicate " +
        "as residual filter — no nested loop at any dim size; see " +
        "operators.RangeJoin.",
      (s, dir) => {
        import s.implicits._
        val tiers = Seq(
          (0.0, 25.0, "t0"), (25.0, 60.0, "t1"),
          (60.0, 150.0, "t2"), (150.0, 500.0, "t3"))
          .toDF("lo", "hi", "tier")
        graft.operators.RangeJoin.bucketedRangeJoin(
            t(s, dir, "events"), tiers, "value", "lo", "hi",
            bucketWidth = 25.0)
          .select(col("event_id"), col("tier"))
      },
      Some("""SELECT e.event_id, t.tier
        |FROM events e
        |JOIN (VALUES (0.0, 25.0, 't0'), (25.0, 60.0, 't1'),
        |             (60.0, 150.0, 't2'), (150.0, 500.0, 't3')) t(lo, hi, tier)
        |  ON e.value >= t.lo AND e.value < t.hi""".stripMargin)),

    Q(
      "q35_asof_forward",
      "FORWARD as-of join (beyond-reference; merge_asof " +
        "direction='forward'): every event annotated with the value of " +
        "the same user's NEXT error at-or-after it — same single-shuffle " +
        "window plan as q32, iterated in descending time order. Oracle " +
        "= DuckDB ASOF JOIN over negated epoch micros (max of negated " +
        "ts ≤ ⟺ min ts ≥).",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val err = ev.filter(col("event_type") === lit("error"))
          .select(col("user_id"), col("ts").as("err_ts"),
            col("value").as("next_err_value"), col("event_id").as("err_id"))
        graft.operators.AsofJoin.asofForward(
            ev, err, key = "user_id", leftTs = "ts", rightTs = "err_ts",
            payload = Seq("next_err_value"), rightTiebreak = Some("err_id"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("next_err_value"))
      },
      Some("""SELECT e.event_id, e.user_id, e.event_type, r.value AS next_err_value
        |FROM (SELECT *, -epoch_us(CAST(ts AS TIMESTAMP)) AS nts FROM events) e
        |ASOF LEFT JOIN (
        |  SELECT user_id, -epoch_us(CAST(ts AS TIMESTAMP)) AS nts,
        |    max_by(value, event_id) AS value
        |  FROM events WHERE event_type = 'error'
        |  GROUP BY user_id, -epoch_us(CAST(ts AS TIMESTAMP))) r
        |  ON e.user_id = r.user_id AND e.nts >= r.nts""".stripMargin)),

    Q(
      "q34_rolling_window",
      "Time-RANGE window frame (beyond-reference; the rolling-feature " +
        "shape of event featurization): per event, count and exact sum " +
        "of the same user's events in the trailing hour — RANGE frame " +
        "over event-time micros, so co-timestamped events are treated " +
        "identically regardless of physical order. One shuffle on the " +
        "key; frames never materialize more than the per-key sort run.",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val w = Window.partitionBy(col("user_id"))
          .orderBy(graft.expr.Exprs.tsMicros(col("ts")))
          .rangeBetween(-3600L * 1000000L, 0L)
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
          .withColumn("n_1h", count(lit(1)).over(w).cast("long"))
          .withColumn("sum_1h",
            sum(col("value").cast(DecimalType(30, 6))).over(w).cast("double"))
          .select(col("event_id"), col("user_id"), col("n_1h"), col("sum_1h"))
      },
      Some("""SELECT event_id, user_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(sum(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin)),

    Q(
      "q36_grouping_sets",
      "Arbitrary GROUPING SETS (beyond-reference; the generalization " +
        "of q26's rollup): ((returnflag, linestatus), (linestatus), ()) " +
        "— NOT a rollup lattice — computed in ONE pass via Spark's " +
        "Expand (each input row fans out once per set, partial " +
        "aggregation absorbs the fan-out map-side) instead of three " +
        "separate jobs over the fact table. Explicit grouping() flags " +
        "disambiguate real nulls from subtotal rows.",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupingSets(
            Seq(Seq(col("l_returnflag"), col("l_linestatus")),
              Seq(col("l_linestatus")), Seq.empty),
            col("l_returnflag"), col("l_linestatus"))
          .agg(grouping(col("l_returnflag")).cast("long").as("g_rf"),
            grouping(col("l_linestatus")).cast("long").as("g_ls"),
            exactSum(col("l_quantity")).as("sum_qty"),
            count(lit(1)).as("n_items")),
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_items
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())""".stripMargin)),

    Q(
      "q37_funnel",
      "Ordered funnel (Funnel.funnel, beyond-reference event " +
        "analytics): users reaching view → click → purchase, each " +
        "stage strictly after the user's FIRST prior-stage event " +
        "(first-touch). Per stage: predicate-pruned scan, equi-join " +
        "on the shrinking reached-set, min-aggregate — no global " +
        "window, no per-user sort; hot users collapse to one row per " +
        "stage before the next join.",
      (s, dir) =>
        graft.operators.Funnel.funnel(
          t(s, dir, "events"), "user_id", "ts",
          Seq("view" -> (col("event_type") === "view"),
            "click" -> (col("event_type") === "click"),
            "purchase" -> (col("event_type") === "purchase"))),
      Some("""WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
        |  CAST(count(*) AS BIGINT) AS n_users FROM s1
        |UNION ALL SELECT CAST(2 AS BIGINT), 'click', CAST(count(*) AS BIGINT) FROM s2
        |UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT) FROM s3""".stripMargin)),

    Q(
      "q38_hist_quantile",
      "Equi-width histogram quantile estimation (Histogram." +
        "quantileEstimates, beyond-reference): p50/p95/p99 of " +
        "l_extendedprice per returnflag from a 1000-bin histogram — " +
        "one calibration aggregate + ONE linear pass with partial " +
        "aggregation, versus q28's exact percentile whose per-group " +
        "sort IS the job at scale. Estimates are right-bin-edge upper " +
        "bounds (error ≤ one bin width); bin counts are mergeable " +
        "state, the same incremental-maintenance shape as qw05.",
      (s, dir) =>
        graft.operators.Histogram.quantileEstimates(
          t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
          bins = 1000,
          quantiles = Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99)),
      Some("""WITH mm AS (
        |  SELECT min(CAST(l_extendedprice AS DOUBLE)) AS mn,
        |         max(CAST(l_extendedprice AS DOUBLE)) AS mx
        |  FROM lineitem),
        |h AS (
        |  SELECT l_returnflag AS grp,
        |    least(CAST(floor((CAST(l_extendedprice AS DOUBLE) - mn) /
        |      ((mx - mn) / 1000)) AS BIGINT), 999) AS bin,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem, mm GROUP BY 1, 2),
        |c2 AS (
        |  SELECT grp, bin, c,
        |    sum(c) OVER (PARTITION BY grp ORDER BY bin) AS cum,
        |    sum(c) OVER (PARTITION BY grp) AS n
        |  FROM h),
        |sel AS (
        |  SELECT grp, CAST(max(n) AS BIGINT) AS n_rows,
        |    min(CASE WHEN cum >= ceil(0.5 * n) THEN bin END) AS b_p50,
        |    min(CASE WHEN cum >= ceil(0.95 * n) THEN bin END) AS b_p95,
        |    min(CASE WHEN cum >= ceil(0.99 * n) THEN bin END) AS b_p99
        |  FROM c2 GROUP BY 1)
        |SELECT grp AS l_returnflag, n_rows,
        |  mn + (b_p50 + 1) * ((mx - mn) / 1000) AS est_p50,
        |  mn + (b_p95 + 1) * ((mx - mn) / 1000) AS est_p95,
        |  mn + (b_p99 + 1) * ((mx - mn) / 1000) AS est_p99
        |FROM sel, mm""".stripMargin)),

    Q(
      "q39_interval_coverage",
      "Interval coverage via bounded fan-out (beyond-reference): " +
        "active orders per day, each order live for 7 days from its " +
        "order date — every interval explodes to its covered grain " +
        "rows (constant 7× fan-out) and a hash aggregate counts per " +
        "day, with partial aggregation collapsing map-side. The " +
        "scale-safe alternative to a point-in-interval NON-EQUI join " +
        "(which plans a range join); unbounded interval lengths " +
        "bucket like q33 instead.",
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderdate"),
            explode(sequence(lit(0), lit(6))).as("off"))
          .select(date_format(
            date_add(col("o_orderdate").cast("date"), col("off")),
            "yyyy-MM-dd").as("day"))
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n_active")),
      Some("""SELECT strftime(CAST(o_orderdate AS DATE) + CAST(t.i AS INTEGER), '%Y-%m-%d') AS day,
        |  count(*) AS n_active
        |FROM orders, unnest(range(0, 7)) t(i)
        |GROUP BY 1""".stripMargin)),

    Q(
      "q40_event_transitions",
      "Markov transition counts (beyond-reference sequence mining): " +
        "per-user consecutive event-type pairs via lag() over " +
        "(user ORDER BY ts, id), aggregated into the from→to " +
        "transition matrix — one shuffle on the user key, bounded " +
        "per-key sort, then a hash agg over a |types|² key space. " +
        "The building block for session path analysis and " +
        "next-action models.",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .withColumn("from_type", lag(col("event_type"), 1).over(w))
          .filter(col("from_type").isNotNull)
          .groupBy(col("from_type"), col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""SELECT from_type, event_type AS to_type, count(*) AS n
        |FROM (
        |  SELECT event_type, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS from_type
        |  FROM events)
        |WHERE from_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin)),

    Q(
      "q41_retention_cohorts",
      "Weekly retention cohorts (the product-analytics matrix every " +
        "event warehouse serves): cohort = the user's first-event " +
        "week, activity = distinct (user, week) pairs, cell = users " +
        "from cohort w active at offset k. Two hash aggs on the user " +
        "key + one equi-join — the (user, week) distinct bounds state " +
        "at users × weeks regardless of event volume, and both week " +
        "truncations are Monday-anchored in either engine. Offsets " +
        "divide exactly (both sides week-truncated), so the integer " +
        "division is lossless.",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val f = ev.groupBy(col("user_id"))
          .agg(date_trunc("week", min(col("ts"))).as("cw"))
        val a = ev.select(col("user_id"),
          date_trunc("week", col("ts")).as("w")).distinct()
        f.join(a, Seq("user_id"))
          .groupBy(col("cw").cast("date").as("cohort_week"),
            expr("datediff(w, cw) div 7").cast("long").as("week_offset"))
          .agg(count(lit(1)).cast("long").as("n_users"))
      },
      Some("""WITH f AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cw
        |  FROM events GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
        |SELECT CAST(f.cw AS DATE) AS cohort_week,
        |  CAST(date_diff('day', CAST(f.cw AS DATE), CAST(a.w AS DATE)) // 7 AS BIGINT) AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM f JOIN a USING (user_id)
        |GROUP BY 1, 2""".stripMargin)),

    Q(
      "q42_zscore_outliers",
      "Per-group z-score outliers (Timeseries.zScoreOutliers, the " +
        "data-quality anomaly flag): population μ/σ from ONE " +
        "aggregation pass with decimal-exact sum and sum-of-squares " +
        "(order-invariant — μ and σ bit-reproducible; σ via one " +
        "correctly-rounded sqrt), stats broadcast back, narrow " +
        "|x−μ| > 3σ filter. Zero-variance groups flag nothing.",
      (s, dir) =>
        graft.operators.Timeseries.zScoreOutliers(
          t(s, dir, "events"), "event_type", "value", z = 3.0)
          .select(col("event_id"), col("event_type"),
            col("value"), col("z_score")),
      Some("""WITH st AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(30,6))) AS DOUBLE) AS s,
        |    CAST(sum(CAST(CAST(value AS DOUBLE) * CAST(value AS DOUBLE)
        |      AS DECIMAL(30,6))) AS DOUBLE) AS s2
        |  FROM events GROUP BY 1),
        |m AS (SELECT event_type, s/n AS mu,
        |        sqrt(s2/n - (s/n)*(s/n)) AS sigma FROM st)
        |SELECT e.event_id, e.event_type, e.value,
        |  round((CAST(e.value AS DOUBLE) - mu) / sigma, 6) AS z_score
        |FROM events e JOIN m USING (event_type)
        |WHERE sigma > 0 AND abs(CAST(e.value AS DOUBLE) - mu) > 3.0 * sigma""".stripMargin)),

    Q(
      "q43_interpolate_daily",
      "Per-user daily resample + linear interpolation of interior " +
        "gaps (Timeseries.resampleInterpolateDaily — the gap-filling " +
        "stage of an indicator pipeline): per-key [min,max] day grid " +
        "via bounded sequence explode (no global calendar join), " +
        "nearest observed neighbor each side via two frame-bounded " +
        "IGNORE NULLS windows over ONE (key, day) sort, one " +
        "interpolation division rounded to 6 decimals.",
      (s, dir) =>
        graft.operators.Timeseries.resampleInterpolateDaily(
          t(s, dir, "events"), "user_id", "ts", "value"),
      Some("""WITH obs AS (
        |  SELECT user_id AS k, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(30,6))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT k, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT k, min(day) AS d0, max(day) AS d1 FROM obs GROUP BY 1)),
        |j AS (
        |  SELECT g.k, g.day, o.v FROM grid g
        |  LEFT JOIN obs o ON o.k = g.k AND o.day = g.day),
        |w AS (
        |  SELECT k, day, v,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER (PARTITION BY k ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER (PARTITION BY k ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM j)
        |SELECT k AS user_id, day,
        |  round(CASE WHEN v IS NOT NULL THEN v
        |    ELSE pv + (nv - pv) *
        |      (CAST(date_diff('day', pd, day) AS DOUBLE) /
        |       CAST(date_diff('day', pd, nd) AS DOUBLE)) END, 6) AS value
        |FROM w""".stripMargin)),

    Q(
      "q44_heavy_hitters",
      "Exact two-pass heavy hitters (HeavyHitters.heavyHitters): every " +
        "user holding >= 8‰ of events, found by a mergeable " +
        "Misra-Gries summary (graft_heavy_keys, capacity 256 — the " +
        "only state shuffled in pass 1) then exact-counted over a " +
        "broadcast candidate semi-join. capacity+1 > 1000/permille " +
        "makes the candidate set a guaranteed superset, so the output " +
        "equals the plain GROUP BY HAVING answer the oracle runs — " +
        "deterministic result from a sketch-shaped, key-shuffle-free " +
        "plan.",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        graft.operators.HeavyHitters.heavyHitters(
          graft.core.Partitioning.parallelize(
            t(s, dir, "events"), col("event_id")),
          "user_id", permille = 8, capacity = 256)
      },
      Some("""SELECT user_id AS hh_key,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_total
        |FROM events GROUP BY 1
        |HAVING count(*) * 1000 >= (SELECT count(*) FROM events) * 8""".stripMargin)),

    Q(
      "q48_topk_agg",
      "Bounded top-k AGGREGATE (functions/TopKAgg, graft_topk): top-3 " +
        "events by value per user via a mergeable (score, id) heap — " +
        "the scale-correct replacement for the row_number window " +
        "(q27's shape): the window sorts every group's full row set " +
        "through the shuffle; this aggregate collapses map-side to " +
        "k-pair summaries, so only O(groups·k) state moves. Total " +
        "(value DESC, event_id ASC) order makes the result " +
        "deterministic under any partitioning; oracle = the plain " +
        "window form.",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        graft.core.Partitioning.parallelize(t(s, dir, "events"), col("event_id"))
          .groupBy(col("user_id"))
          .agg(call_function("graft_topk",
            col("value"), col("event_id"), lit(3)).as("top"))
          .select(col("user_id"), posexplode(col("top")))
          .select(col("user_id"), (col("pos") + 1).cast("long").as("rnk"),
            col("col.id").as("event_id"), col("col.score").as("value"))
      },
      Some("""SELECT user_id, CAST(rnk AS BIGINT) AS rnk, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rnk
        |  FROM events)
        |WHERE rnk <= 3""".stripMargin)),

    Q(
      "q50_seasonal_decompose",
      "Classical additive seasonal decomposition by moving averages " +
        "(Timeseries.seasonalDecompose): daily decimal-exact totals, " +
        "centered 7-day moving-average trend (full windows only), " +
        "seasonal index per position-in-period (days-since-epoch mod " +
        "7 - no engine day-of-week convention), residual. Detrended " +
        "values stay SCALED in decimal (7*daily - trendSum) until " +
        "the final single divisions, rounded to 6. The event stream " +
        "collapses in the hash agg before the (allow-listed, " +
        "days-sized) series window sees it.",
      (s, dir) =>
        graft.operators.Timeseries.seasonalDecompose(
          t(s, dir, "events"), "ts", "value", period = 7, maWindow = 7),
      Some("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    sum(CAST(CAST(value AS DOUBLE) AS DECIMAL(30,6))) AS dsum
        |  FROM events GROUP BY 1),
        |tw AS (
        |  SELECT day, dsum,
        |    CASE WHEN count(*) OVER (ORDER BY day
        |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) = 7
        |      THEN sum(dsum) OVER (ORDER BY day
        |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) END AS tsum,
        |    date_diff('day', DATE '1970-01-05', day) % 7 AS sidx
        |  FROM daily),
        |seas AS (
        |  SELECT sidx, sum(7 * dsum - tsum) AS ssum, count(*) AS sn
        |  FROM tw WHERE tsum IS NOT NULL GROUP BY 1),
        |o AS (
        |  SELECT b.day,
        |    round(CAST(b.dsum AS DOUBLE), 6) AS daily,
        |    round(CAST(b.tsum AS DOUBLE) / 7.0, 6) AS trend,
        |    round(CAST(s.ssum AS DOUBLE) / (7.0 * CAST(s.sn AS DOUBLE)), 6) AS seasonal
        |  FROM tw b LEFT JOIN seas s USING (sidx))
        |SELECT day, daily, trend, seasonal,
        |  round(daily - trend - seasonal, 6) AS residual
        |FROM o""".stripMargin)),

    Q(
      "q51_cube_distinct",
      "CUBE with a SKETCH measure (the sketch x OLAP synergy q49 + " +
        "q26 imply): distinct-orderkey HLL registers at every " +
        "granularity of (returnflag, linestatus) - detail, both " +
        "rollups, grand total - in ONE pass over the fact table. " +
        "Exact distinct across a cube re-shuffles the keys per " +
        "grouping set; mergeable registers ride Spark's Expand+agg " +
        "with 256 bytes per (set, group). Same integer-exact " +
        "derivation as q49.",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"),
            graft.operators.Dedup.hash60(col("l_orderkey").cast("string")).as("h"))
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(call_function("graft_hll", col("h"), lit(8)).as("regs"))
          .select(col("l_returnflag"), col("l_linestatus"),
            size(filter(col("regs"), r => r === 0)).cast("long").as("v_zero"),
            expr("aggregate(regs, CAST(0 AS BIGINT), " +
              "(acc, r) -> acc + shiftright(CAST(9007199254740992 AS BIGINT), r))")
              .as("s_scaled"))
          .withColumn("est_distinct",
            lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) * lit(65536.0) *
              lit(9007199254740992.0) / col("s_scaled").cast("double"))
      },
      Some("""WITH h AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM lineitem),
        |regs AS (
        |  SELECT l_returnflag, l_linestatus, hv // 4503599627370496 AS bucket,
        |    max(CASE WHEN hv % 4503599627370496 = 0 THEN 53
        |        ELSE 53 - length(bin(hv % 4503599627370496)) END) AS rho
        |  FROM h GROUP BY CUBE(l_returnflag, l_linestatus), bucket),
        |agg AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(256 - count(*) AS BIGINT) AS v_zero,
        |    CAST(sum(9007199254740992 >> rho)
        |      + (256 - count(*)) * 9007199254740992 AS BIGINT) AS s_scaled
        |  FROM regs GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, v_zero, s_scaled,
        |  0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0 /
        |    CAST(s_scaled AS DOUBLE) AS est_distinct
        |FROM agg""".stripMargin)),

    Q(
      "q52_cms_freq",
      "Count-Min point-frequency estimates (functions/CountMinSketch " +
        "via operators/Frequency, graft_cms, 4x512): one linear pass " +
        "folds every l_partkey occurrence into a 16 KB counter grid " +
        "(elementwise-sum merge -> map-side partials collapse before " +
        "the exchange), then each key's estimate is least() over four " +
        "element_at probes of the BROADCAST grid - no join against a " +
        "frequency table, no second data scan. All four hash rows are " +
        "15-bit slices of the shared md5 hash60, so the oracle " +
        "replays bucketing with three integer ops; the exact count " +
        "sits beside the estimate to exhibit the one-sided guarantee " +
        "(est >= true, always).",
      (s, dir) =>
        graft.operators.Frequency.cmsPointEstimates(
          t(s, dir, "lineitem").select(col("l_partkey")),
          "l_partkey", depth = 4, width = 512)
          .select(col("key").as("part_key"), col("true_cnt"), col("est_cnt")),
      Some("""WITH kc AS (
        |  SELECT CAST(l_partkey AS BIGINT) AS part_key, count(*) AS true_cnt,
        |    CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM lineitem GROUP BY 1, 3),
        |ctr AS (
        |  SELECT t.i AS ri, ((hv >> (15 * t.i)) & 32767) % 512 AS bucket,
        |    CAST(sum(true_cnt) AS BIGINT) AS c
        |  FROM kc, unnest(range(0, 4)) t(i)
        |  GROUP BY 1, 2)
        |SELECT kc.part_key, CAST(kc.true_cnt AS BIGINT) AS true_cnt,
        |  least(c0.c, c1.c, c2.c, c3.c) AS est_cnt
        |FROM kc
        |JOIN ctr c0 ON c0.ri = 0 AND c0.bucket = (hv & 32767) % 512
        |JOIN ctr c1 ON c1.ri = 1 AND c1.bucket = ((hv >> 15) & 32767) % 512
        |JOIN ctr c2 ON c2.ri = 2 AND c2.bucket = ((hv >> 30) & 32767) % 512
        |JOIN ctr c3 ON c3.ri = 3 AND c3.bucket = ((hv >> 45) & 32767) % 512"""
        .stripMargin)),

    Q(
      "q53_cms_join_size",
      "Equi-join cardinality estimation from Count-Min inner products " +
        "(Frequency.cmsJoinSize) - the planner-statistics use: " +
        "|A JOIN B| is upper-bounded by min over rows of " +
        "dot(ctrA_i, ctrB_i), here the events-x-events self-join on " +
        "user_id (= sum of per-user count squared, the shuffle-skew " +
        "diagnostic). Each side is one counting scan into 16 KB of " +
        "mergeable state; the estimate touches only the two grids, so " +
        "at 100 TB the join-size QUESTION costs two linear passes " +
        "where the exact answer costs the join itself (run here only " +
        "to exhibit est >= true).",
      (s, dir) =>
        graft.operators.Frequency.cmsJoinSize(
          t(s, dir, "events"), "user_id",
          t(s, dir, "events"), "user_id", depth = 4, width = 512),
      Some("""WITH kc AS (
        |  SELECT count(*) AS cnt,
        |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events GROUP BY user_id, hv),
        |ctr AS (
        |  SELECT t.i AS ri, ((hv >> (15 * t.i)) & 32767) % 512 AS bucket,
        |    CAST(sum(cnt) AS BIGINT) AS c
        |  FROM kc, unnest(range(0, 4)) t(i)
        |  GROUP BY 1, 2),
        |dots AS (SELECT ri, CAST(sum(c * c) AS BIGINT) AS dot FROM ctr GROUP BY 1),
        |tru AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS true_size FROM kc)
        |SELECT tru.true_size, d.est_size
        |FROM tru, (SELECT CAST(min(dot) AS BIGINT) AS est_size FROM dots) d"""
        .stripMargin)),

    Q(
      "q54_weighted_median",
      "Exact WEIGHTED median per group (q28's weighted sibling): the " +
        "smallest price whose cumulative quantity-weight reaches half " +
        "the group total — integer-exact threshold (cum*2 >= tot over " +
        "BIGINT weights), so no float percentile interpolation can " +
        "disagree at the boundary. One shuffle+sort per group key " +
        "(window partitioned by l_partkey - thousands of small " +
        "groups, each reducer-sized); for FEW huge groups the q38 " +
        "histogram machinery is the sketch alternative, same note as " +
        "qt21. Tie runs of equal prices cannot flip the answer: the " +
        "minimal qualifying VALUE is selected, whatever the " +
        "within-run order.",
      (s, dir) => {
        // both windows share ONE partitioning AND ordering so they
        // evaluate in a single Window pass over one sort (the
        // whole-partition total uses an unbounded-both-ends frame
        // instead of a second, unordered window spec)
        val ord = Window.partitionBy(col("part_key"))
          .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        val ordw = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val pw = ord.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "lineitem")
          .select(col("l_partkey").cast("long").as("part_key"),
            col("l_extendedprice"),
            col("l_quantity").cast("long").as("wt"),
            col("l_orderkey"), col("l_linenumber"))
          .withColumn("cum", sum(col("wt")).over(
            ordw))
          .withColumn("tot", sum(col("wt")).over(pw))
          .filter(col("cum") * 2 >= col("tot"))
          .groupBy(col("part_key"))
          .agg(min(col("l_extendedprice")).as("w_median"),
            max(col("tot")).as("total_w"))
      },
      Some("""WITH c AS (
        |  SELECT CAST(l_partkey AS BIGINT) AS part_key, l_extendedprice,
        |    sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey) AS tot
        |  FROM lineitem)
        |SELECT part_key, min(l_extendedprice) AS w_median,
        |  CAST(max(tot) AS BIGINT) AS total_w
        |FROM c WHERE cum * 2 >= tot GROUP BY 1""".stripMargin)),

    Q(
      "q49_hll_distinct",
      "HyperLogLog distinct sketch (functions/HllSketch, graft_hll, " +
        "p=8): per-group register arrays over hash60(l_orderkey), " +
        "merged by elementwise max — fixed 256 bytes of state per " +
        "group regardless of cardinality (KMV's qd05 counterpart " +
        "with size independent of k tuning). Registers are exact " +
        "ints, the harmonic sum is an integer 2^(53-rho) fold " +
        "(fits BIGINT), and the raw estimator is one identical " +
        "literal-arithmetic chain in both engines - bit-exact " +
        "parity, measured within 4% of truth at m=256.",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            graft.operators.Dedup.hash60(col("l_orderkey").cast("string")).as("h"))
          .groupBy(col("l_returnflag"))
          .agg(call_function("graft_hll", col("h"), lit(8)).as("regs"))
          .select(col("l_returnflag"),
            size(filter(col("regs"), r => r === 0)).cast("long").as("v_zero"),
            expr("aggregate(regs, CAST(0 AS BIGINT), " +
              "(acc, r) -> acc + shiftright(CAST(9007199254740992 AS BIGINT), r))")
              .as("s_scaled"))
          .withColumn("est_distinct",
            lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) * lit(65536.0) *
              lit(9007199254740992.0) / col("s_scaled").cast("double"))
      },
      Some("""WITH h AS (
        |  SELECT l_returnflag,
        |    CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM lineitem),
        |regs AS (
        |  SELECT l_returnflag, hv // 4503599627370496 AS bucket,
        |    max(CASE WHEN hv % 4503599627370496 = 0 THEN 53
        |        ELSE 53 - length(bin(hv % 4503599627370496)) END) AS rho
        |  FROM h GROUP BY 1, 2),
        |agg AS (
        |  SELECT l_returnflag,
        |    CAST(256 - count(*) AS BIGINT) AS v_zero,
        |    CAST(sum(9007199254740992 >> rho)
        |      + (256 - count(*)) * 9007199254740992 AS BIGINT) AS s_scaled
        |  FROM regs GROUP BY 1)
        |SELECT l_returnflag, v_zero, s_scaled,
        |  0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0 /
        |    CAST(s_scaled AS DOUBLE) AS est_distinct
        |FROM agg""".stripMargin)),

    Q(
      "q47_zorder_cluster",
      "Z-order (Morton) clustering (operators/ZOrder): interleave the " +
        "bits of (user_id, floor(value)) into one z-value — a pure " +
        "shift/and/or expression chain, codegen'd, no UDF — then " +
        "range-shuffle + sort so every output file is a small (x,y) " +
        "RECTANGLE and min-max stats prune box predicates on EITHER " +
        "dimension (the Delta/Iceberg ZORDER BY technique; skipping " +
        "measured in ZOrderSpec). Output = (event_id, zval), replayed " +
        "bit-for-bit by the oracle's integer bit ops.",
      (s, dir) =>
        graft.operators.ZOrder.clusterByZ(
          graft.core.Partitioning.parallelize(
            t(s, dir, "events"), col("event_id"))
            .select(col("event_id"), col("user_id"),
              floor(col("value")).cast("long").as("vb")),
          "user_id", "vb", bits = 9, nPartitions = 16)
          .select(col("event_id"), col("zval")),
      Some {
        // NB: joined on one line — stripMargin would eat a leading "|"
        val terms = (0 until 9).map(b =>
          s"((((xm >> $b) & 1) << ${2 * b}) | (((ym >> $b) & 1) << ${2 * b + 1}))")
          .mkString(" | ")
        s"""SELECT event_id, ($terms) AS zval
           |FROM (SELECT event_id, user_id & 511 AS xm,
           |        CAST(floor(value) AS BIGINT) & 511 AS ym
           |      FROM events)""".stripMargin
      }),

    Q(
      "q45_bloom_semi_join",
      "Bloom-prefiltered exact semi-join (BloomJoin.semiJoin): the " +
        "urgent-order key set is aggregated into one 64 Kbit Bloom " +
        "filter (graft_bloom_build — the only state broadcast), " +
        "big-side lineitem rows failing the codegen'd probe are " +
        "dropped before the join shuffle, and the exact left-semi " +
        "join removes the ~1% false positives — so the output equals " +
        "the plain semi-join the oracle runs while the shuffle sees " +
        "only selectivity+fpr of the fact table. The explicit, " +
        "persistable form of Spark's runtime bloom filter.",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val li = t(s, dir, "lineitem")
        val urgent = t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
        graft.operators.BloomJoin
          .semiJoin(li, "l_orderkey", urgent, "o_orderkey", nBits = 1 << 16)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n_li"),
            exactSum(col("l_quantity")).as("sum_qty"))
      },
      Some("""SELECT l_returnflag, count(*) AS n_li,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin)),

    Q(
      "q46_bloom_anti_join",
      "Bloom-prefiltered exact anti-join (BloomJoin.antiJoin), the " +
        "two-branch shape: rows FAILING the Bloom probe are definite " +
        "non-matches (no false negatives) and bypass the join " +
        "entirely; only the fpr+selectivity sliver that passes goes " +
        "through the exact left-anti shuffle. Output equals the plain " +
        "NOT IN anti-join.",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        val li = t(s, dir, "lineitem")
        val urgent = t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
        graft.operators.BloomJoin
          .antiJoin(li, "l_orderkey", urgent, "o_orderkey", nBits = 1 << 16)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n_li"),
            exactSum(col("l_quantity")).as("sum_qty"))
      },
      Some("""SELECT l_returnflag, count(*) AS n_li,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey NOT IN
        |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin)),

    Q(
      "q55_event_paths",
      "Session path mining: q22's 30-minute sessionization feeding an " +
        "ordered per-session event-type path (array_sort over (ts, " +
        "event_id) structs makes collect_list's arrival order " +
        "irrelevant), then path frequency with a min-support cut. " +
        "Scale shape: the sessionize window shuffles once on user_id; " +
        "the path agg shuffles once on (user_id, session_id) — both " +
        "key-partitioned, no global sort; the final path count is a " +
        "low-cardinality hash agg (paths collapse onto the event-type " +
        "alphabet). The support cut keeps output at the head of the " +
        "path distribution, never session-proportional.",
      (s, dir) => {
        val ord = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val us = graft.expr.Exprs.tsMicros(col("ts"))
        t(s, dir, "events")
          .withColumn("prev_us", lag(us, 1).over(ord))
          .withColumn("new_sess",
            when(col("prev_us").isNull ||
              us - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("session_id", sum(col("new_sess")).over(cum))
          .groupBy(col("user_id"), col("session_id"))
          .agg(array_sort(collect_list(struct(
            col("ts"), col("event_id"), col("event_type")))).as("evs"))
          .select(concat_ws(">",
            transform(col("evs"), e => e.getField("event_type"))).as("path"))
          .groupBy(col("path"))
          .agg(count(lit(1)).as("n_sessions"))
          .filter(col("n_sessions") >= 5)
      },
      Some("""WITH s AS (
        |  SELECT *, lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |se AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    sum(CASE WHEN prev IS NULL
        |             OR epoch_us(CAST(ts AS TIMESTAMP)) - prev > 1800000000
        |             THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM s),
        |p AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM se GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions
        |FROM p GROUP BY 1 HAVING count(*) >= 5""".stripMargin)),

    Q(
      "q56_copurchase",
      "Frequent co-occurring item pairs (market-basket, A-Priori " +
        "pruned): per-order distinct items → drop items below the " +
        "support floor FIRST (an item in < minsup orders cannot be in " +
        "a pair with support >= minsup — the A-Priori downward-closure " +
        "argument), THEN the within-order self-join. The prune is what " +
        "makes the self-join survive 100 TB: the frequent-item set is " +
        "catalog-bounded (broadcast), the pair blow-up is quadratic " +
        "only in surviving items per basket, and the pair agg is " +
        "map-side combinable. Without it the join squares the raw " +
        "basket tail.",
      (s, dir) => {
        val items = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val freq = items.groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n")).filter(col("n") >= 3)
          .select(col("l_partkey"))
        val pruned = items
          .join(broadcast(freq), Seq("l_partkey"), "left_semi")
        val a = pruned.select(col("l_orderkey"), col("l_partkey").as("p1"))
        val b = pruned.select(col("l_orderkey").as("ok2"), col("l_partkey").as("p2"))
        a.join(b, col("l_orderkey") === col("ok2") && col("p1") < col("p2"))
          .groupBy(col("p1"), col("p2"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 3)
      },
      Some("""WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |f AS (SELECT l_partkey FROM items GROUP BY 1 HAVING count(*) >= 3),
        |it AS (SELECT * FROM items
        |       WHERE l_partkey IN (SELECT l_partkey FROM f))
        |SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |FROM it a JOIN it b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin)),

    Q(
      "q57_grouped_regression",
      "Per-group OLS fit y = slope·x + intercept with r² " +
        "(Stats.groupedRegression — per-segment trend extraction): " +
        "six order-invariant sufficient statistics (n, Σx, Σy, Σx², " +
        "Σy², Σxy) from ONE map-side-combined hash aggregate, each " +
        "summed DECIMAL(30,6)-exact then cast to double, so the " +
        "closed-form coefficients are a fixed IEEE dag — " +
        "bit-reproducible at any partitioning. One shuffle on the " +
        "group key; output is |groups| rows. Zero-x-variance groups " +
        "drop; zero-y-variance keeps slope with NULL r².",
      (s, dir) =>
        graft.operators.Stats.groupedRegression(
          t(s, dir, "lineitem"), "l_returnflag",
          "l_quantity", "l_extendedprice"),
      Some("""WITH st AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(CAST(l_quantity AS DOUBLE) AS DECIMAL(30,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DOUBLE) AS DECIMAL(30,6))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)
        |      AS DECIMAL(30,6))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)
        |      AS DECIMAL(30,6))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)
        |      AS DECIMAL(30,6))) AS DOUBLE) AS sxy
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
        |  round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6) AS intercept,
        |  CASE WHEN n*syy - sy*sy > 0 THEN
        |    round(((n*sxy - sx*sy) * (n*sxy - sx*sy)) /
        |      ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) END AS r2
        |FROM st WHERE n*sxx - sx*sx > 0""".stripMargin)),

    Q(
      "q58_attribution",
      "First/last-touch conversion attribution (Funnel." +
        "touchAttribution): for each purchase, the first and last " +
        "view/click by the same user strictly before it — both " +
        "models from ONE per-user sort via two IGNORE-NULLS window " +
        "reads with a ROWS frame ending at 1 PRECEDING (positional " +
        "strictness: simultaneous timestamps resolve by the id " +
        "tiebreak, not engine peer handling). Unattributed " +
        "conversions keep NULLs. One shuffle on user_id; no " +
        "conversions×touches self-join.",
      (s, dir) =>
        graft.operators.Funnel.touchAttribution(
          t(s, dir, "events"), "user_id", "ts", "event_type",
          "event_id", "purchase", Seq("view", "click")),
      Some("""WITH w AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    first_value(CASE WHEN event_type IN ('view', 'click')
        |        THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS first_touch_id,
        |    last_value(CASE WHEN event_type IN ('view', 'click')
        |        THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_touch_id
        |  FROM events)
        |SELECT event_id AS conversion_id, user_id, ts AS conversion_ts,
        |  first_touch_id, last_touch_id
        |FROM w WHERE event_type = 'purchase'""".stripMargin)),

    Q(
      "q59_event_pattern",
      "Sequence-pattern occurrence counting (Funnel." +
        "patternOccurrences, the MATCH_RECOGNIZE shape): each user's " +
        "history encodes to a one-char-per-event string in (ts, id) " +
        "order — built by a deterministic sort_array-over-structs " +
        "hash agg, no window — then regexp counts non-overlapping " +
        "view→click→purchase motifs (other types are gap chars the " +
        "pattern tolerates via [^P]*). Every match spans first-V to " +
        "next-P, so greedy-Java and leftmost-RE2 count identically. " +
        "Complements q37's funnel (reach) with occurrence counts.",
      (s, dir) =>
        graft.operators.Funnel.patternOccurrences(
          t(s, dir, "events"), "user_id", "ts", "event_type",
          "event_id",
          Map("view" -> "V", "click" -> "C", "purchase" -> "P"),
          "V[^P]*C[^P]*P"),
      Some("""WITH seqs AS (
        |  SELECT user_id,
        |    string_agg(CASE event_type WHEN 'view' THEN 'V'
        |      WHEN 'click' THEN 'C' WHEN 'purchase' THEN 'P'
        |      ELSE '_' END, '' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY 1)
        |SELECT user_id,
        |  CAST(len(regexp_extract_all(seq, 'V[^P]*C[^P]*P')) AS BIGINT)
        |    AS n_matches
        |FROM seqs""".stripMargin)),

    Q(
      "q61_mad_outliers",
      "Per-group ROBUST outliers via median absolute deviation " +
        "(Timeseries.madOutliers — q42's resistant sibling: μ/σ are " +
        "dragged by the outliers they hunt; median/MAD has a 50% " +
        "breakdown point). Flags |x−med| > 3·1.4826·MAD with the q28 " +
        "interpolated percentile on both engines; robust score is " +
        "one division rounded to 6. Two group aggregates + broadcast " +
        "stats + narrow filter — scanned twice, never shuffled.",
      (s, dir) =>
        graft.operators.Timeseries.madOutliers(
          t(s, dir, "events"), "event_type", "value", z = 3.0)
          .select(col("event_id"), col("event_type"),
            col("value"), col("robust_score")),
      Some("""WITH med AS (
        |  SELECT event_type,
        |    quantile_cont(CAST(value AS DOUBLE), 0.5) AS med
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type,
        |    quantile_cont(abs(CAST(value AS DOUBLE) - med), 0.5) AS mad
        |  FROM events e JOIN med USING (event_type)
        |  WHERE value IS NOT NULL GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  round((CAST(e.value AS DOUBLE) - med) / (1.4826 * mad), 6)
        |    AS robust_score
        |FROM events e JOIN med USING (event_type) JOIN dev USING (event_type)
        |WHERE mad > 0
        |  AND abs(CAST(e.value AS DOUBLE) - med) > 3.0 * 1.4826 * mad"""
        .stripMargin)),

    Q(
      "q62_skew_report",
      "Per-key SKEW report (Stats.skewReport — the diagnosis run " +
        "before a 100 TB join/agg commits to a key): the 5 heaviest " +
        "user_ids with their exact basis-point share of all events " +
        "and their multiple of the fair per-key share (skew_x — the " +
        "number AQE thresholds and salting factors are chosen from). " +
        "One map-side-combined hash agg + TakeOrdered top-5 (never a " +
        "global sort) + a one-row globals broadcast; output is 5 " +
        "rows of metadata at any table size.",
      (s, dir) =>
        graft.operators.Stats.skewReport(
          graft.core.Tables.load(s, dir, "events"), "user_id", topN = 5),
      Some("""WITH kc AS (
        |  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS key_rows
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(key_rows) AS BIGINT) AS total_rows FROM kc),
        |top AS (
        |  SELECT key, key_rows,
        |    row_number() OVER (ORDER BY key_rows DESC, key) AS rnk
        |  FROM kc)
        |SELECT CAST(rnk AS BIGINT) AS rnk, key, key_rows, total_rows,
        |  n_keys, key_rows * 10000 // total_rows AS share_bp,
        |  round(CAST(key_rows AS DOUBLE) * CAST(n_keys AS DOUBLE)
        |    / CAST(total_rows AS DOUBLE), 6) AS skew_x
        |FROM top, g WHERE rnk <= 5""".stripMargin)),

    Q(
      "q60_gini",
      "Per-group Gini coefficient (Stats.groupedGini — the inequality " +
        "measure the reference's development-indicator domain reports " +
        "everywhere): G = 2·Σi·x(i)/(n·Σx) − (n+1)/n with " +
        "DECIMAL(30,6)-exact rank-weighted and plain sums. Σi·x(i) is " +
        "tie-order-invariant (equal values swap equal contributions), " +
        "so both engines agree bit-for-bit without a rank tiebreak. " +
        "One group-keyed shuffle + per-group sort + map-side-" +
        "combinable agg; negative values fail loudly.",
      (s, dir) =>
        graft.operators.Stats.groupedGini(
          t(s, dir, "orders"), "o_orderpriority", "o_totalprice"),
      Some("""WITH ranked AS (
        |  SELECT o_orderpriority AS k, CAST(o_totalprice AS DOUBLE) AS x,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(o_totalprice AS DOUBLE)) AS i
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |st AS (
        |  SELECT k, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(CAST(i AS DOUBLE) * x AS DECIMAL(30,6)))
        |      AS DOUBLE) AS six
        |  FROM ranked GROUP BY 1)
        |SELECT k AS o_orderpriority, CAST(n AS BIGINT) AS n,
        |  CASE WHEN sx > 0 THEN
        |    round(2.0 * six / (n * sx) - (n + 1.0) / n, 6) END AS gini
        |FROM st""".stripMargin))
  )
}
