package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Single-pass column profiling — the automated "what is in this table"
  * report a data-integration tool runs on every import (the reference's
  * table-analysis surface, SQL_DATA_INTEGRATION_TOOL.py:222–260
  * analyze/describe, as one oracle-checkable relation; the engine's
  * `Catalog.analyzeTable` is the catalog-side sibling). One row per
  * column: (col_name, n_rows, n_nulls, n_distinct, min_num, max_num,
  * min_str, max_str) — numeric columns surface min/max as doubles
  * (SELECTED values, never arithmetic: a long < 2^53 casts exactly and a
  * double min/max is bit-identical cross-engine), strings as-is, and
  * timestamps as formatted strings (§5 timestamp protocol). Type
  * routing is schema-driven, so the operator profiles any table.
  *
  * Scale shape: ONE aggregation pass — the exact per-column distinct
  * counts ride a multi-count-DISTINCT expand ([[distinctCounts]]: k+1
  * aggregation groups through one map-side-combined shuffle — the
  * standard exact plan; swap in the q128 HLL registers per column when
  * 100 TB exactness isn't worth the expand multiplier, stated honestly),
  * and count/min/max ride its row-count copy. The per-column reshape
  * explodes a literal struct array over the ONE aggregated row —
  * answer-sized.
  */
object Profile {

  def profile(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.toSeq
    val aggd = distinctCounts(df, fields.map(_.name), ranges = true)

    def entry(f: StructField, j: Int): Column = {
      val mn = col(s"mn$j")
      val mx = col(s"mx$j")
      val (minNum, maxNum, minStr, maxStr) = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType
           | DoubleType | FloatType | _: DecimalType =>
          (mn.cast("double"), mx.cast("double"),
            lit(null).cast("string"), lit(null).cast("string"))
        case TimestampType | TimestampNTZType | DateType =>
          (lit(null).cast("double"), lit(null).cast("double"),
            date_format(mn, "yyyy-MM-dd HH:mm:ss"),
            date_format(mx, "yyyy-MM-dd HH:mm:ss"))
        case _ =>
          (lit(null).cast("double"), lit(null).cast("double"),
            mn.cast("string"), mx.cast("string"))
      }
      struct(lit(f.name).as("col_name"),
        col("n").as("n_rows"),
        (col("n") - col(s"c$j")).as("n_nulls"),
        col(s"d$j").as("n_distinct"),
        minNum.as("min_num"), maxNum.as("max_num"),
        minStr.as("min_str"), maxStr.as("max_str"))
    }
    aggd.select(explode(array(fields.zipWithIndex.map((entry _).tupled): _*)).as("e"))
      .select(col("e.*"))
  }

  /** Exact distinct counts of `cols` in one aggregate, as the
    * expand-and-group plan Spark's rewrite of several `count_distinct`s
    * builds, written out in a fixed column order: every row becomes copy
    * g=0 (all v null, counting the row) and copy g=j+1 carrying column j
    * alone as v_j; grouping by (g, v0..vk) leaves one row per distinct
    * (column, value) plus the one g=0 group, so count(v_j) is column j's
    * non-null distinct count and the g=0 group's size is the row count.
    * Spark's own rewrite orders its expand by the expression ids of the
    * freshly loaded relation, so each call generated different code and
    * compiled it again.
    *
    * Returns one row: `n`, the row count, and per column j `d$j`, its
    * distinct count. With `ranges` the g=0 copy also carries the row's
    * raw values as payload p_j — as Spark's rewrite carries its regular
    * aggregates' inputs — and the row adds `c$j` (non-null count),
    * `mn$j` and `mx$j` (min and max), aggregated in the g=0 group. */
  private[graft] def distinctCounts(df: DataFrame, cols: Seq[String],
      ranges: Boolean): DataFrame = {
    val types = df.select(cols.map(col): _*).schema.map(_.dataType)
    val js = cols.indices
    def only(keep: Boolean, j: Int): Column = if (keep) col(cols(j)) else lit(null).cast(types(j))
    val copies = (0 to cols.size).map { g =>
      val payload = if (ranges) js.map(j => only(g == 0, j).as(s"p$j")) else Nil
      struct(lit(g).as("g") +: js.map(j => only(g == j + 1, j).as(s"v$j")) ++: payload: _*)
    }
    val ps = if (ranges) js.flatMap(j => Seq(count(col(s"p$j")).as(s"c$j"),
      min(col(s"p$j")).as(s"mn$j"), max(col(s"p$j")).as(s"mx$j"))) else Nil
    val rs = if (ranges) js.flatMap(j => Seq(coalesce(sum(col(s"c$j")), lit(0L)).as(s"c$j"),
      min(col(s"mn$j")).as(s"mn$j"), max(col(s"mx$j")).as(s"mx$j"))) else Nil
    df.select(inline(array(copies: _*)))
      .groupBy(("g" +: js.map(j => s"v$j")).map(col): _*)
      .agg(count(lit(1)).as("count"), ps: _*)
      .agg(coalesce(sum(when(col("g") === 0, col("count"))), lit(0L)).as("n"),
        js.map(j => count(col(s"v$j")).as(s"d$j")) ++ rs: _*)
  }

  /** Schema/statistics drift between two snapshots of the "same" table
    * (q180's operator form) — the import-QC question an integration
    * tool asks after every load: did the new drop change shape? One
    * [[profile]] pass per side, FULL-OUTER-joined on column name, so a
    * column present on only one side surfaces as status
    * 'added'/'removed' instead of silently vanishing from the report.
    * Exact-integer drift surface: null rates as ppm (one truncating
    * div each — §5), distinct counts raw, and range_same = null-safe
    * equality of all four min/max slots (NULL, not false, on
    * added/removed rows — absence is not a range change). Cost: two
    * single-pass profiles + an answer-sized (one row per column) join. */
  def drift(a: DataFrame, b: DataFrame): DataFrame = {
    def side(df: DataFrame, s: String): DataFrame =
      profile(df).select(col("col_name"),
        col("n_rows").as(s"n_rows_$s"), col("n_nulls").as(s"n_nulls_$s"),
        col("n_distinct").as(s"n_distinct_$s"),
        col("min_num").as(s"min_num_$s"), col("max_num").as(s"max_num_$s"),
        col("min_str").as(s"min_str_$s"), col("max_str").as(s"max_str_$s"))
    val status = when(col("n_rows_b").isNull, lit("removed"))
      .when(col("n_rows_a").isNull, lit("added"))
      .otherwise(lit("ok"))
    side(a, "a").join(side(b, "b"), Seq("col_name"), "full_outer")
      .select(col("col_name"), status.as("status"),
        col("n_rows_a"), col("n_rows_b"),
        expr("n_nulls_a * 1000000L div n_rows_a").as("null_ppm_a"),
        expr("n_nulls_b * 1000000L div n_rows_b").as("null_ppm_b"),
        col("n_distinct_a"), col("n_distinct_b"),
        when(status === "ok",
          col("min_num_a") <=> col("min_num_b") &&
          col("max_num_a") <=> col("max_num_b") &&
          col("min_str_a") <=> col("min_str_b") &&
          col("max_str_a") <=> col("max_str_b")).as("range_same"))
  }

  /** Referential-integrity audit for one FK edge: ONE left equi-join +
    * conditional aggregation (parent keys must be unique — the join
    * never multiplies child rows; a separate anti-join pass + scalar
    * crossJoin would scan the child twice and plan a nested loop).
    * A NULL child key is NOT an orphan — NULL means "no reference",
    * which SQL's NOT IN / referential-integrity semantics never flag —
    * so nulls surface in their own n_null_keys column instead of
    * silently inflating (or, under NOT IN, deflating) the orphan count.
    * Returns one row:
    * (fk, n_child, n_null_keys, n_orphans, min_key, max_key). */
  def fkAudit(child: DataFrame, key: String, parent: DataFrame, pkey: String,
      label: String): DataFrame =
    child.join(parent.select(parent(pkey).as("__pk")),
        child(key) === col("__pk"), "left")
      .agg(count(lit(1)).as("n_child"),
        // sum over ZERO rows is NULL, not 0 — an empty child table must
        // still report 0 orphans
        coalesce(sum(when(child(key).isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_null_keys"),
        coalesce(sum(when(child(key).isNotNull && col("__pk").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_orphans"),
        min(when(col("__pk").isNull, child(key))).as("min_key"),
        max(when(col("__pk").isNull, child(key))).as("max_key"))
      .select(lit(label).as("fk"), col("n_child"), col("n_null_keys"),
        col("n_orphans"), col("min_key"), col("max_key"))
}
