package graft.expr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-level building blocks of the engine, UDF-free so every one of
  * them stays inside Catalyst codegen. The row-level ones also avoid
  * lambda functions (`transform`, `filter`, `map_filter`, ...), which
  * have no generated code and are interpreted row by row.
  *
  * Each function is the Spark-native re-expression of a semantic the
  * reference implements row-at-a-time in pandas (cites point at
  * /root/reference, file:line).
  */
object Exprs {

  /** Event-time in epoch MICROSECONDS, tolerant of both TIMESTAMP and
    * TIMESTAMP_NTZ inputs (parquet written without a timezone —
    * `timestamp[us]` — reads as NTZ, which `unix_micros` rejects).
    * The NTZ→LTZ cast interprets the wall-clock in the session
    * timezone, which shifts every value by the SAME constant — so
    * every consumer here (ordering, lag differences, range frames,
    * as-of gap comparisons) is invariant to it, and under the
    * pinned-UTC harness the cast is an epoch identity matching
    * DuckDB's `epoch_us` on naive timestamps. */
  def tsMicros(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** P1 "reindex-rename projection" (`world_bank_wdi.py:78-87` et al.):
    * keep exactly the listed columns in order, creating missing ones as
    * typed nulls, then rename. The universal projection idiom of the
    * reference — here a single `select`, so Catalyst prunes the scan to
    * just the referenced columns.
    *
    * @param mapping (sourceColumn -> targetName) in output order
    * @param missingType type given to created-null columns
    */
  def selectRenamed(
      df: DataFrame,
      mapping: Seq[(String, String)],
      missingType: DataType = StringType): DataFrame = {
    val have = df.columns.toSet
    df.select(mapping.map { case (src, dst) =>
      (if (have(src)) col(src) else lit(null).cast(missingType)).as(dst)
    }: _*)
  }

  /** C2 `to_snake_case` (`utils.py:158-188`): trim, lower, collapse
    * whitespace runs to `_`, optional prefix/suffix. */
  def toSnakeCase(c: Column, prefix: String = "", suffix: String = ""): Column = {
    val core = regexp_replace(lower(trim(c)), "\\s+", "_")
    (prefix, suffix) match {
      case ("", "") => core
      case (p, "")  => concat(lit(p), core)
      case ("", s)  => concat(core, lit(s))
      case (p, s)   => concat(lit(p), core, lit(s))
    }
  }

  /** Driver-side variant for column renames (the reference mostly
    * snake-cases column *names*, e.g. `unstats_sdg_database.py:109-112`). */
  def snakeCaseName(name: String, prefix: String = "", suffix: String = ""): String =
    prefix + name.trim.toLowerCase.replaceAll("\\s+", "_") + suffix

  /** C4 indicator-name synthesis (`world_bank_wdi.py:88-90` and nine
    * other call sites): `"{name} [{code}]"` / `"{name}, {unit} [{code}]"`. */
  def indicatorName(name: Column, code: Column): Column =
    concat(name, lit(" ["), code, lit("]"))
  def indicatorName(name: Column, unit: Column, code: Column): Column =
    concat(name, lit(", "), unit, lit(" ["), code, lit("]"))

  /** C6 bound-marker strip + coercing numeric cast
    * (`unstats_sdg_database.py:121-124`, `unicef_sdmx_api.py:190-194`):
    * `<2.5` / `>95%` lose their marker; a failed cast yields null —
    * pandas `to_numeric(errors="coerce")`. Spark 4 runs ANSI mode, so
    * coerce-to-null must be `try_cast`, never `cast`. */
  def boundedNumeric(c: Column): Column =
    regexp_replace(c, "^[<>]+|%$", "").try_cast(DoubleType)

  /** F5 contains-with-null-passes (`ilo_sdmx_api.py:179-183`): pandas
    * `str.contains(pat, na=True)` keeps null rows — load-bearing. */
  def containsOrNull(c: Column, needle: String): Column =
    c.isNull || c.contains(needle)

  /** F10 empty-string→null (`world_bank_api.py:176`). */
  def emptyToNull(c: Column): Column = when(c === "", lit(null)).otherwise(c)

  /** One entry of [[foldDimensions]]: a key, its value, and whether the
    * entry counts at all. */
  final case class Dim(key: Column, value: Column, present: Column = lit(true))

  /** C3 `_resolve_dimensions` (`utils.py:191-218`) over a Python dict
    * built from `dims` in order: among the present entries a key keeps
    * its FIRST position and carries its LAST value (`d[k]=v1; d[k]=v2`
    * leaves k where it was, holding v2). Then entries with a null value
    * drop; `_`→space in names; a case-insensitive value "total" renders
    * as `"All {name}"`; the rest join with `"; "`, and nothing left
    * renders as `"Total"`.
    *
    * Unrolled at plan time into `CASE WHEN`, `coalesce` and `concat_ws`
    * only, so the fold runs inside whole-stage codegen (a `map` with
    * lambda functions over it is interpreted row by row). The first/last
    * tests compare every pair of keys, O(n²); keys that are literals
    * constant-fold, so with keys known at plan time the fold is O(n). */
  def foldDimensions(dims: Seq[Dim]): Column = {
    val parts = dims.zipWithIndex.map { case (d, i) =>
      def same(o: Dim) = o.present && o.key === d.key
      val first = dims.take(i).foldLeft(d.present)((c, o) => c && !same(o))
      val last = dims.drop(i + 1).foldLeft(d.value)((v, o) => when(same(o), o.value).otherwise(v))
      val name = regexp_replace(d.key, "_", " ")
      when(first && last.isNotNull,
        when(lower(last) === "total", concat(lit("All "), name)).otherwise(last))
    }
    if (parts.isEmpty) lit("Total")
    else when(coalesce(parts: _*).isNull, lit("Total")).otherwise(concat_ws("; ", parts: _*))
  }

  /** R5 `combine_dimensions` (`utils.py:221-248`, `validation.py:109-112`):
    * if the frame has no `dimension` column, build one from all
    * `dimension_*` columns via [[foldDimensions]]; with neither,
    * the literal `"Total"`. */
  def combineDimensions(df: DataFrame, prefix: String = "dimension_"): DataFrame = {
    if (df.columns.contains("dimension")) df
    else {
      val dimCols = df.columns.filter(_.startsWith(prefix)).toSeq
      if (dimCols.isEmpty) df.withColumn("dimension", lit("Total"))
      else df.withColumn("dimension", foldDimensions(dimCols.map(c =>
          Dim(lit(c.stripPrefix(prefix)), col(c).cast(StringType)))))
        .drop(dimCols: _*)
    }
  }

  /** Exact-sum of a double measure: cast each value to DECIMAL(30,6)
    * (exact for data with ≤6 decimal digits), sum exactly (decimal sums
    * are order-independent — safe under any shuffle/partial-agg order),
    * return double. This is how every money/measure aggregate in the
    * engine stays deterministic across partitionings — a plain double
    * `sum` is order-dependent and irreproducible at 1000 executors. */
  def exactSum(c: Column): Column =
    sum(c.cast(DecimalType(30, 6))).cast(DoubleType)

  /** Deterministic mean built from [[exactSum]] (single IEEE division
    * of two reproducible values). */
  def exactAvg(c: Column): Column =
    exactSum(c) / count(lit(1)).cast(DoubleType)

  /** [[exactSum]] for BOUNDED-magnitude groups — the ANN ladder's
    * per-pair ADC distance sums (nSub terms) and per-vector projection
    * sums (dim terms): identical per-term quantization (the same Cast
    * to DECIMAL(30,6)), but the fold adds the UNSCALED integer with
    * primitive long arithmetic instead of BigDecimal — whole-stage-
    * codegen longs, measured ~2× faster than the decimal fold on the
    * qs14 ADC aggregate (the retired AdcFoldProbe, SCALING.md "Retired
    * tools") and bit-equal over every scored pair there.
    *
    * Bit-equality argument: while |Σ|·10⁶ < 2⁵³, both
    * `cast(sum(decimal(30,6)) as double)` and
    * `cast(sum(long) as double) / 1e6` are the correctly-rounded
    * double of the SAME exact rational (the long converts exactly
    * below 2⁵³; 10⁶ is exact; IEEE division rounds once — and
    * BigDecimal.doubleValue rounds the same rational once). Outside
    * that window the fold RAISES instead of silently drifting in the
    * last ulp; per-term scaling overflow (|term| > ~9·10¹²) throws in
    * the ANSI cast. Order-invariance is inherited: integer addition is
    * exactly associative. Use ONLY where the group's magnitude is
    * structurally bounded (fixed fan-in of quantized terms), never for
    * corpus-sized groups — [[exactSum]] remains the general fold. */
  def exactSumBounded(c: Column): Column = {
    val s = sum((c.cast(DecimalType(30, 6)) * lit(1000000L)).cast(LongType))
    when(abs(s) > lit(1L << 53),
      raise_error(concat(
        lit("exactSumBounded left the 2^53 bit-equality window: "),
        s.cast(StringType))))
      .otherwise(s.cast(DoubleType) / lit(1e6))
  }

  /** DRIVER-side quantization `Cast(double AS DECIMAL(30,6))` for the
    * driver-model loops (Logit GD, PCA power iteration), degenerate
    * edges INCLUDED — pinned empirically against a real one-row Cast
    * plan by DecimalReplicaSpec (round-11 VERDICT item 8). Spark 4
    * semantics, measured: NaN/±Infinity → NULL under BOTH eval modes;
    * precision overflow → SparkArithmeticException under the engine's
    * ANSI default, NULL under non-ANSI. (Round-11's advice assumed
    * overflow also nulled — true only for the non-ANSI mode this
    * engine never runs.) */
  def quantize6(d: Double): org.apache.spark.sql.types.Decimal =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) null
    else {
      val v = org.apache.spark.sql.types.Decimal(d)
      if (v.changePrecision(30, 6)) v
      else {
        val ansi = org.apache.spark.sql.SparkSession.getActiveSession
          .map(_.conf.get("spark.sql.ansi.enabled", "true"))
          .getOrElse("true") == "true"
        if (ansi) throw new ArithmeticException(
          s"[NUMERIC_VALUE_OUT_OF_RANGE] $d cannot be represented as " +
            "Decimal(30, 6) (driver replay of the ANSI cast)")
        else null
      }
    }
}
