package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's relational operator surface, re-expressed as pure
  * `DataFrame => DataFrame` combinators (SURVEY.md §2). Each operator is a
  * declarative transformation so Catalyst keeps pushdown / pruning /
  * whole-stage-codegen working; none of them materialize or collect.
  *
  * Reference citations point into /root/reference (read-only snapshot).
  */
object CoreOps {

  /** Parallelism floor for a SMALL scan feeding heavy per-row or
    * per-group compute — the optimization guide's "one huge unsplittable
    * file: repartition immediately after the read" case. The bench
    * tables are single-row-group parquet files, so every scan plans as
    * ONE partition no matter the core count, and whatever rides the scan
    * stage (PQ encode, ADC serve, per-column expand-aggregate) runs on
    * one core while the other 31 idle — measured r11: q_ivfpq_topk's
    * serve was a single 2.43 s task inside a 4.2 s wall at local[32].
    *
    * THREE gates, all conservative (worst case: decline to spread), so
    * it is scale-adaptive and never shuffles a large corpus:
    *
    *  1. NARROW-PLAN gate: only scan-rooted frames (project/filter/
    *     coalesce over a file scan or local relation) are eligible.
    *     Anything with a join/aggregate/window/shuffling repartition
    *     declines — both because the helper's purpose is floor-the-SCAN,
    *     and because probing `.rdd` under AQE on a plan with exchanges
    *     would eagerly execute those upstream stages in a separate
    *     QueryExecution just to read a partition count. Only the
    *     non-shuffling `Repartition` (coalesce) is whitelisted:
    *     `repartition(n)` and `RepartitionByExpression` plan an exchange.
    *  2. BYTE ceiling: the scan leaves' estimated bytes must fit
    *     p·maxPartitionBytes — partition count alone is a size proxy
    *     that a few-split-but-wide frame defeats (31 multi-GB gzip
    *     splits at p=32 would have taken the full repartition; now it
    *     declines — r11 advisor catch).
    *  3. Planned partition count below the session's default
    *     parallelism (any real multi-split table — a 100 TB scan has
    *     ~10⁶ splits — returns UNCHANGED with no exchange in the plan).
    *     The `.rdd` probe is safe here: gate 1 guarantees the plan has
    *     no exchanges, so nothing executes.
    *
    * When it fires, the one exchange moves only this small frame's
    * bytes — hash-routed on `keys` when given (no local sort; the
    * hashedSets precedent), round-robin otherwise.
    */
  private[graft] def spreadSmallScan(df: DataFrame,
                                     keys: Column*): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val p = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.analyzed
    val complex = plan.exists {
      case r: Repartition => r.shuffle
      case _: Project | _: Filter | _: SubqueryAlias | _: LocalRelation |
           _: LogicalRelation => false
      case _ => true
    }
    if (complex) return df // gate 1: not scan-rooted — decline
    // gate 2: estimated scan bytes (file relations report their file
    // sizes; a LocalRelation is driver-held and small by construction;
    // any other leaf is unknown → treat as unbounded and decline)
    val maxSplit = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val bytes = plan.collectLeaves().map {
      case l: LogicalRelation => l.relation.sizeInBytes
      case _: LocalRelation => 0L
      case _ => Long.MaxValue
    }.foldLeft(0L)((a, b) => if (a + b < a) Long.MaxValue else a + b)
    if (bytes > p.toLong * maxSplit) df
    else if (df.rdd.getNumPartitions >= p) df // gate 3
    else if (keys.nonEmpty) df.repartition(p, keys: _*)
    else df.repartition(p)
  }

  /** P1 — drop a row if ANY column is null.
    * Ref: spark-apps/clean_nyc_taxi_pipeline.py:10 (`df.dropna()`).
    * Compiles to `Filter(AND(IsNotNull(c)))` which Catalyst pushes into the
    * parquet scan — at 100 TB the nulls never leave the data source.
    */
  def dropNulls(df: DataFrame): DataFrame = df.na.drop("any")

  /** P1 variant — drop rows where any of the given key columns is null. */
  def dropNulls(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.drop("any", cols)

  /** D1 — full-row deduplication.
    * Ref: spark-apps/clean_nyc_taxi_pipeline.py:10 (`df.dropDuplicates()`).
    * Keys = all columns, so the result is set-equal to DISTINCT (safe for a
    * SQL oracle). Plans as partial+final HashAggregate around one shuffle on
    * all columns — the same shape the reference's 2-worker cluster showed as
    * its "high shuffle" stage (README.md:218).
    */
  def dedupFullRow(df: DataFrame): DataFrame = df.dropDuplicates()

  /** P2 — derived month column from a timestamp.
    * Ref: spark-apps/clean_nyc_taxi_pipeline.py:13
    * (`withColumn("pickup_month", month(col("tpep_pickup_datetime")))`).
    */
  def deriveMonth(df: DataFrame, tsCol: String,
                  out: String = "pickup_month"): DataFrame =
    df.withColumn(out, month(col(tsCol)))

  /** C1/P9 — the reference's 3-arm CASE WHEN rush-hour enrichment.
    * Ref: dags/nyc_taxi_pipeline_dag.py:253-261. Bounds are the EXECUTED
    * SQL's 7-9 / 17-19 inclusive (code wins over README 7-10/16-19, SURVEY
    * §2.2 note). The reference does this as ALTER TABLE + UPDATE in
    * Postgres; declaratively it is a single projection — no second pass
    * over the table.
    */
  def timeBucket(df: DataFrame, tsCol: String,
                 out: String = "time_bucket"): DataFrame =
    df.withColumn(out, timeBucketExpr(col(tsCol)))

  /** The CASE expression itself, reusable inside SQL-oracle-matched plans. */
  def timeBucketExpr(ts: Column): Column =
    when(hour(ts).between(7, 9), "Morning Rush")
      .when(hour(ts).between(17, 19), "Evening Rush")
      .otherwise("Other")

  /** P5 — column rename.
    * Ref: elt_dag.cpython-311.pyc (decompiled), orig line 15
    * (`rename({'Sponsoring Organization': 'Sponsoring_Organization'})`).
    */
  def renameColumn(df: DataFrame, from: String, to: String): DataFrame =
    df.withColumnRenamed(from, to)

  /** P3/P10 — equality filter on a string column.
    * Ref: elt_dag…pyc orig 16 (`df['Type'] == 'generic'`);
    * dags/nyc_taxi_pipeline_dag.py:145 (`WHERE time_bucket='Morning Rush'`).
    */
  def filterEq(df: DataFrame, column: String, value: String): DataFrame =
    df.filter(col(column) === value)

  /** P4 — constant-literal column append.
    * Ref: elt_dag…pyc orig 17 (`df['date'] = today.strftime('%Y-%m-%d')`).
    * The value is injected (not `current_date()`) so runs are reproducible
    * and oracle-comparable.
    */
  def constantColumn(df: DataFrame, name: String, value: String): DataFrame =
    df.withColumn(name, lit(value))

  /** P6 — drop columns if present (reference drops the staging surrogate
    * `id`). Ref: dags/nyc_taxi_pipeline_dag.py:87-88.
    */
  def dropColumns(df: DataFrame, cols: String*): DataFrame =
    df.drop(cols: _*)

  /** P7 — header/name normalization (`col.strip()` over all columns).
    * Ref: dags/nyc_taxi_pipeline_dag.py:84. Metadata-only — no data pass.
    */
  def trimHeaders(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.trim): _*)

  /** P8/A2 — count of rows violating a null-free contract on key columns.
    * Ref: dags/nyc_taxi_pipeline_dag.py:195-201
    * (`WHERE a IS NULL OR b IS NULL`, fail if count > 0).
    * Returns a 1-row DataFrame so it composes with the driver contract.
    */
  def nullViolationCount(df: DataFrame, cols: Seq[String]): DataFrame = {
    val anyNull = cols.map(c => col(c).isNull).reduce(_ || _)
    df.filter(anyNull).agg(count(lit(1)).as("null_violations"))
  }

  /** A1 — scalar row count as a 1-row DataFrame.
    * Ref: dags/nyc_taxi_pipeline_dag.py:188-192.
    */
  def rowCount(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"))

  /** A3 — per-column null-count matrix (single aggregation pass, one row).
    * Ref: dags/nyc_taxi_pipeline_dag.py:95-96
    * (`chunk.isnull().sum().sum()` per 100k chunk — here one distributed
    * partial+final aggregate instead of a driver-side loop).
    */
  def nullMatrix(df: DataFrame): DataFrame = {
    val exprs = df.columns.map { c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c")
    }
    df.agg(exprs.head, exprs.tail: _*)
  }

  /** Per-column data profile (the Deequ/Great-Expectations staple):
    * rows / nulls / EXACT distinct / min / max for every listed column,
    * one row per column. One aggregate pass (the multi-countDistinct
    * expands the scan k ways map-side — the price of exactness; swap in
    * approx_count_distinct at 100 TB if ±2% suffices) unpivoted via
    * stack, so the plan is scan → expand → partial→final aggregate →
    * k-row generate — no per-column rescans. min/max surface as strings
    * (one schema for heterogeneous columns); timestamps should be
    * pre-formatted by the caller (engine string forms differ).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty && cols.forall(df.columns.contains),
      s"profile: columns must exist, got ${cols.mkString(",")}")
    // NOT spreadSmallScan'd (r11 measurement): the multi-countDistinct
    // Expand+partial-aggregate runs 1.7 s single-task on the bench's
    // single-row-group scan, but splitting it multiplied TOTAL CPU ~4×
    // at 8 partitions / ~12× at 32 (each shard re-deduplicates the same
    // hot values the one-task partial collapsed once), regressing the
    // low-core wall (2.4 → 2.8 s at local[8]) for a 0.6 s local[32]
    // win. The one-task partial aggregate IS the cheap plan here.
    val aggs = cols.flatMap { c =>
      Seq(coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
            .as(s"__nn_$c"),
          countDistinct(col(c)).as(s"__nd_$c"),
          min(col(c)).cast("string").as(s"__mn_$c"),
          max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stackArgs = cols.map { c =>
      s"'$c', `__nn_$c`, `__nd_$c`, `__mn_$c`, `__mx_$c`"
    }.mkString(", ")
    one.select(col("__n").as("n_rows"),
               expr(s"stack(${cols.size}, $stackArgs) AS " +
                    "(col_name, n_nulls, n_distinct, min_value, max_value)"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
              col("n_distinct"), col("min_value"), col("max_value"))
  }

  /** Winsorization (quantile clipping — the robust-stats feature-prep
    * staple): clip `valueCol` into its per-group exact interpolated
    * [pLo, pHi] percentile bounds. Output = the input columns plus
    * `<v>_lo`, `<v>_hi` (the group's bounds) and `<v>_w` (the clipped
    * value), so callers can both train on the clipped feature and audit
    * what moved.
    *
    * Plan shape: ONE aggregate computes the n_groups-row bounds frame,
    * broadcast back (the perplexityBuckets cut discipline) — the data
    * rides zero extra shuffles and the clip is one projection. Exact
    * percentile buffers each group; the percentile_approx swap is the
    * documented extreme-group variant (adaptiveQualityGate). Prove-it
    * null semantics: a NULL value stays NULL, a group with no non-null
    * values gets null bounds and passes through unclipped, and a NULL
    * group key is a real group (null-safe join), not silently dropped.
    * Bound comparisons are ulp-robust: an interpolated threshold either
    * equals a data point exactly or falls strictly inside a gap with no
    * data, so engine-side interpolation drift cannot flip a clip.
    */
  def winsorize(df: DataFrame, valueCol: String, groupCol: String,
                pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"winsorize: need 0 <= pLo < pHi <= 1 (got $pLo, $pHi)")
    val v = col(valueCol)
    val cuts = df.groupBy(col(groupCol).as("__g"))
      .agg(percentile(v, lit(pLo)).as("__lo"),
           percentile(v, lit(pHi)).as("__hi"))
    df.join(broadcast(cuts), col(groupCol) <=> col("__g"), "left")
      .withColumn(s"${valueCol}_w",
        when(v < col("__lo"), col("__lo"))
          .when(v > col("__hi"), col("__hi"))
          .otherwise(v))
      .withColumn(s"${valueCol}_lo", col("__lo"))
      .withColumn(s"${valueCol}_hi", col("__hi"))
      .drop("__g", "__lo", "__hi")
  }

  /** Keyed diff between two snapshots of the same table — the day-2
    * regression check ("what did yesterday's refresh actually change?")
    * that pairs with `Sinks.versionedRead` time travel: diff v(N-1) vs
    * v(N) and eyeball the churn before promoting. One row per DIFFERING
    * key: `change` ∈ added/removed/changed plus `changed_cols`, the
    * comma-joined (schema-ordered) list of payload columns whose value
    * differs (null for added/removed — there is no counterpart to
    * compare against). Unchanged rows are dropped INSIDE the join
    * projection, so output is bounded by churn volume, never table
    * volume. Null semantics mirror `mergeByKey`: keys compare
    * null-SAFELY (a null-key row in both snapshots is one matched pair,
    * not an add+remove), and payload comparison is `<=>` (null → null
    * is unchanged, null → value is a change).
    *
    * Shape at scale: ONE full-outer sort-merge join on the key — both
    * sides shuffle once on the same key, so pre-bucketed snapshots
    * co-locate and the exchange disappears. Payload columns must ride
    * the join (they are what's being compared); select the columns you
    * care about first and the scan prunes to exactly those.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff: no key columns")
    val cols = oldDf.columns.toSeq
    require(newDf.columns.toSeq == cols,
      s"snapshotDiff: schemas differ (${cols.mkString(",")} vs " +
        s"${newDf.columns.mkString(",")})")
    require(keys.forall(cols.contains),
      s"snapshotDiff: keys not in schema: ${keys.filterNot(cols.contains)}")
    val payload = cols.filterNot(keys.contains)
    val o = oldDf.withColumn("__o", lit(true)).as("o")
    val n = newDf.withColumn("__n", lit(true)).as("n")
    val cond = keys.map(k => col(s"o.$k") <=> col(s"n.$k"))
      .reduce(_ && _)
    val differs = payload.map(c => !(col(s"o.$c") <=> col(s"n.$c")))
    val anyDiff =
      if (differs.isEmpty) lit(false) else differs.reduce(_ || _)
    o.join(n, cond, "full_outer")
      .filter(col("__o").isNull || col("__n").isNull || anyDiff)
      .select(
        keys.map(k => coalesce(col(s"o.$k"), col(s"n.$k")).as(k)) ++ Seq(
          when(col("__o").isNull, "added")
            .when(col("__n").isNull, "removed")
            .otherwise("changed").as("change"),
          when(col("__o").isNull || col("__n").isNull, lit(null))
            .otherwise(concat_ws(",", payload.map(c =>
              when(!(col(s"o.$c") <=> col(s"n.$c")), lit(c))): _*))
            .as("changed_cols")): _*)
  }
}
