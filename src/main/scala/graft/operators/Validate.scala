package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schema

/** Result of the validation pass: the fixed frame plus the data-quality
  * counters the pipeline reports in `results.json`. */
case class ValidationResult(
    df: DataFrame,
    weightColumn: String,
    numMissingTs: Long,
    numInvalidTs: Long,
    numMissingVal: Long,
    droppedColumns: Seq[String]
)

/** Input validation + normalization (P1-P9).
  *
  * Semantics (reference: flows/data_pipeline.py:315-375):
  *  1. drop columns that are entirely null/whitespace (except
  *     timestamp/feature/value);
  *  2. `value` → double; `lat`/`lng` → double with unparseable → null
  *     (Spark's cast-to-double yields null on garbage, matching pandas
  *     `to_numeric(errors="coerce")`);
  *  3. remaining categorical columns: null → "None", cast string;
  *  4. null timestamps counted then filled with `fillTimestamp`;
  *  5. null values counted (kept as null — aggregation skips them);
  *  6. weight column coerced to double, null → 0; weighting disabled
  *     (name → "") when the column is absent;
  *  7. ±Infinity in `value` → null (infinities poison mean);
  *  8. `"//"` stripped from region names (object-store path safety);
  *  9. rows with timestamp ≥ int64.max/1e6 counted then dropped.
  *
  * Scale note: all the counters (P1's per-column counts and P4/P5/P9)
  * come from ONE aggregate pass over the input, a single job, not one pass
  * per column or per step; the fixes themselves are narrow projections
  * fused by codegen.
  */
object Validate {

  private val ExcludeCols = Set("timestamp", "feature", "value")
  private val LatLngCols = Set("lat", "lng")

  def apply(
      input: DataFrame,
      weightColumn: String = "",
      fillTimestamp: Long = 0L
  ): ValidationResult = {
    // P1's per-column counts of rows that are neither null nor whitespace
    val nonEmpty = input.columns.toSeq.map { c =>
      val filled = col(c).isNotNull &&
        (if (input.schema(c).dataType == StringType) trim(col(c)) =!= "" else lit(true))
      sum(when(filled, 1L).otherwise(0L)).as(c)
    }
    // P4/P5/P9 counters, taken BEFORE the infinity scrub: the reference
    // counts num_missing_val (data_pipeline.py:351) before replacing
    // infinities with NaN (:363) — an ±inf row is not "missing". They read
    // the try_cast forms that P2 and the P4 fill apply below, not the raw
    // columns: a string-typed timestamp column would make a raw >=
    // comparison an ANSI cast (throws on garbage), and an unparseable
    // timestamp IS missing — the fill replaces it with fillTimestamp, so it
    // must be counted. try_cast, not cast: Spark 4 defaults ANSI mode on,
    // where cast THROWS on unparseable strings — try_cast yields null,
    // matching the reference's pandas to_numeric(errors="coerce").
    def tryDouble(c: String) = expr(s"try_cast(`$c` AS DOUBLE)")
    val tsCast = expr("try_cast(`timestamp` AS BIGINT)")
    val counters = Seq(
      sum(when(tsCast.isNull, 1L).otherwise(0L)).as("missing_ts"),
      sum(when(tsCast >= Schema.MaxTimestampMs, 1L).otherwise(0L)).as("invalid_ts"),
      sum(when(tryDouble("value").isNull, 1L).otherwise(0L)).as("missing_val"))
    // both in ONE aggregate pass over the input
    val counts: Row = input.select(nonEmpty ++ counters: _*).head()
    // sum() over ZERO rows is null — unboxing would NPE; an empty frame's
    // columns are vacuously all-null, so they count as 0 non-empty rows
    def cnt(i: Int): Long = if (counts.isNullAt(i)) 0L else counts.getLong(i)
    val n = input.columns.length

    // P1: drop all-null columns
    val dropCols = input.columns.toSeq.zipWithIndex
      .collect { case (c, i) if cnt(i) == 0L && !ExcludeCols.contains(c) => c }
    var df = input.drop(dropCols: _*)

    // P2: numeric coercion (try_cast, as above)
    df = df.withColumn("value", tryDouble("value"))
    // each geo column independently: partial geo data (a lone lat or lng)
    // must still be coerced — it is also excluded from the categorical
    // fill below, so skipping it here would leave it entirely unvalidated
    for (c <- LatLngCols if df.columns.contains(c))
      df = df.withColumn(c, tryDouble(c))

    val hasWeight = weightColumn.nonEmpty && df.columns.contains(weightColumn)
    val effectiveWeight = if (hasWeight) weightColumn else ""

    // P3: categorical null fill + string cast
    val categoricalCols = df.columns.filterNot(c =>
      ExcludeCols.contains(c) || LatLngCols.contains(c) || c == effectiveWeight)
    for (c <- categoricalCols)
      df = df.withColumn(c, coalesce(col(c).cast(StringType), lit(Schema.NoneStr)))

    // P6: weight coercion (try_cast: same ANSI coerce-to-null rationale)
    if (hasWeight)
      df = df.withColumn(weightColumn, coalesce(tryDouble(weightColumn), lit(0.0)))

    // P7: infinity scrub
    df = df.withColumn("value", when(abs(col("value")) === Double.PositiveInfinity, lit(null)).otherwise(col("value")))

    // P8: object-store-unsafe chars out of region names
    for (c <- Schema.RegionLevels if df.columns.contains(c))
      df = df.withColumn(c, regexp_replace(col(c), "//", ""))

    // P4 fill, P9 drop
    df = df
      .withColumn("timestamp", coalesce(tsCast, lit(fillTimestamp)))
      .filter(col("timestamp") < Schema.MaxTimestampMs)

    ValidationResult(df, effectiveWeight, cnt(n), cnt(n + 1), cnt(n + 2), dropCols)
  }

  /** P11-adjacent helper: qualifier columns = everything outside the
    * required set and the weight column (reference: flows/data_pipeline.py:377-385). */
  def qualifierColumns(df: DataFrame, weightColumn: String): Seq[String] =
    df.columns.filterNot(c => Schema.RequiredCols.contains(c) || c == weightColumn).toSeq
}
