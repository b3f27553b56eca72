package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational capability superset over the star schema (SURVEY.md §7
  * step 4): one named query per operator family, each with a DuckDB
  * oracle (graft.oracle.Oracles). Double-aggregate parity: money and
  * quantity columns (fixed decimal grids) sum as exact DECIMAL cast back
  * to double — order-independent at any group size; sums over
  * bounded-size groups of non-grid doubles (per-window event values) use
  * `round(_, 4)`, which absorbs summation-order ULP noise while groups
  * stay well under ~10⁴ rows.
  *
  * Scale notes are per-query; the common rules: broadcast HINTS only on
  * fixed-cardinality dims (region/nation — bounded at any SF);
  * SF-scaled tables (customer, never mind lineitem/orders) stay
  * hint-free so AQE broadcasts them while they fit and shuffle-joins
  * beyond; keep every filter/projection in the parquet scan via
  * pushdown.
  */
object Relational {

  /** TPC-H Q1 flavor: full-scan partial-agg on 6 grouping cells — at
    * 100 TB the shuffle moves only num_partitions × 6 pre-aggregated
    * rows; avg is expressed as exact-sum/count so both engines divide
    * identical doubles.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      // money/quantity columns live on fixed decimal grids (2dp; the
      // products on 4dp/6dp), so summing as DECIMAL is exact and
      // order-independent — a double sum over group sizes this large
      // accumulates ULP error past any rounding guard and varies with
      // shuffle order. Casting the per-row double product to its grid's
      // decimal type is unambiguous (product error ≪ grid spacing), and
      // the final double cast is exact (scaled integers fit in 53 bits).
      .agg(
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast("decimal(20,4)"))
          .cast("double")
          .as("sum_disc_price"),
        sum(
          ($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).cast("decimal(22,6)")
        ).cast("double").as("sum_charge"),
        (sum($"l_quantity".cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_qty"),
        (sum($"l_extendedprice".cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order")
      )
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Selective filter + narrow projection — exists to prove pushdown: the
    * parquet scan must show PushedFilters on l_shipdate/l_discount and a
    * 6-column ReadSchema (checked in PlanSpec).
    */
  def q2FilterPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .lineitem(spark, dir)
      .filter(
        $"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
          $"l_discount" >= 0.05 && $"l_quantity" < 10.0
      )
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** Dimension join with an ADAPTIVE build side: customer scales with
    * SF (1/10th of orders' rows — broadcastable for a long way, but at
    * the 100 TB point it is billions of rows), so no broadcast hint is
    * forced: AQE broadcasts it while it fits (the test-scale plan,
    * PlanSpec-pinned) and falls back to a shuffle join when it doesn't,
    * instead of OOMing on a hint. Fixed-cardinality dims
    * (region/nation) keep explicit hints; SF-scaled ones must not.
    */
  def q3SegmentRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy($"c_mktsegment")
  }

  /** TPC-H Q5 flavor: the two big tables (lineitem ⋈ orders) shuffle on
    * orderkey (sort-merge/shuffled-hash under AQE); customer joins
    * adaptively (AQE broadcasts while it fits — it scales with SF, so
    * no forced hint); nation/region broadcast by hint (fixed 25/5
    * rows at ANY scale). Region filter is applied before the broadcast
    * so the build side is 1/5 the size.
    */
  def q4RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val asiaNations = Tables
      .nation(spark, dir)
      .join(Tables.region(spark, dir).filter($"r_name" === "ASIA"), $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    Tables
      .lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(asiaNations), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast("decimal(20,4)")).cast("double").as("revenue"))
      .orderBy($"n_name")
  }

  /** Left-semi join (EXISTS): customers holding at least one open order. */
  def q5SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .customer(spark, dir)
      .join(
        Tables.orders(spark, dir).filter($"o_orderstatus" === "O"),
        $"c_custkey" === $"o_custkey",
        "left_semi"
      )
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** Left-anti join (NOT EXISTS): customers with no orders at all. */
  def q6AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .customer(spark, dir)
      .join(Tables.orders(spark, dir), $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** Exact distinct aggregation; countDistinct expands to a two-phase
    * shuffle — fine here because the group count is 3.
    */
  def q7DistinctCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("distinct_parts"),
        countDistinct($"l_suppkey").as("distinct_supps"),
        count(lit(1)).as("n_rows")
      )
      .orderBy($"l_returnflag")
  }

  /** Top-k: sort+limit plans as TakeOrderedAndProject — each partition
    * keeps only its local top 10, the driver merges k×partitions rows, so
    * no global sort at any scale. Tie-broken on o_orderkey for
    * determinism.
    */
  def q8TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .orders(spark, dir)
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(10)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
  }

  /** UNION ALL of two filtered scans feeding one aggregate. */
  def q9Union(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val urgent = o.filter($"o_orderpriority" === "1-URGENT").select($"o_orderkey", $"o_totalprice")
    val big = o.filter($"o_totalprice" > 400000.0).select($"o_orderkey", $"o_totalprice")
    urgent
      .union(big)
      .agg(count(lit(1)).as("n_rows"), sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("total"))
  }

  /** Window / rank: top-3 orders per customer. One shuffle on o_custkey;
    * the per-partition sort is local.
    */
  def q10WindowRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables
      .orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
      .orderBy($"o_custkey", $"rn")
  }

  /** Running (cumulative) aggregate per customer ordered by date. */
  def q11WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window
      .partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables
      .orders(spark, dir)
      .select(
        $"o_custkey",
        $"o_orderkey",
        round(sum($"o_totalprice").over(w), 4).as("running_spend")
      )
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** RANGE window frame — the VALUE-based rolling aggregate (q11 covers
    * ROWS frames): per customer, total spend over orders dated within
    * the trailing 7 days. The frame bound is epoch-day based, so
    * same-day peer rows aggregate identically regardless of row order —
    * deterministic under any shuffle. One shuffle on the partition key,
    * a local sort, bounded frame state per partition.
    */
  def q26RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"d").rangeBetween(-6, 0)
    Tables
      .orders(spark, dir)
      .withColumn("d", datediff($"o_orderdate", lit("1970-01-01").cast("date")).cast("long"))
      .select(
        $"o_custkey",
        $"o_orderkey",
        sum($"o_totalprice".cast("decimal(18,2)")).over(w).cast("double").as("spend_7d")
      )
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Scalar function library row: string/date/math functions chosen for
    * bit-identical cross-engine results (sqrt is IEEE-correctly-rounded;
    * no libm-dependent trig/log).
    */
  def q12ScalarFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .orders(spark, dir)
      .select(
        $"o_orderkey",
        year($"o_orderdate").cast("long").as("yr"),
        month($"o_orderdate").cast("long").as("mo"),
        upper(substring($"o_orderpriority", 1, 1)).as("pri1"),
        length($"o_orderpriority").cast("long").as("pri_len"),
        concat_ws("|", $"o_orderstatus", $"o_orderpriority").as("status_pri"),
        round(sqrt($"o_totalprice"), 6).as("sqrt_price"),
        round($"o_totalprice" * 0.07, 4).as("tax"),
        round(abs($"o_totalprice" - 250000.0), 4).as("dist_mid")
      )
      .orderBy($"o_orderkey")
  }

  /** ROLLUP grouping sets (nulls-first ordering pinned on both engines). */
  def q13Rollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .lineitem(spark, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_qty"), count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** CUBE grouping sets. */
  def q14Cube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .orders(spark, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"), sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** GROUPING SETS — the general grouping-set form rollup/cube are
    * shorthands for: two NON-hierarchical one-dimension sets in one
    * pass (by status, and by priority), which neither rollup nor cube
    * can express without also producing the cross or the total. Plans
    * as a single Expand + aggregate: one scan feeds both sets, with
    * map-side partial aggregation — same scale shape as q13/q14.
    */
  def q25GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .orders(spark, dir)
      .groupingSets(Seq(Seq($"o_orderstatus"), Seq($"o_orderpriority")), $"o_orderstatus", $"o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("total")
      )
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** Self-join via grouped max (greatest-per-group): priciest part(s) per
    * brand. The per-brand max side is tiny → broadcast.
    */
  def q15MaxPerGroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables.part(spark, dir)
    val mx = p.groupBy($"p_brand".as("b")).agg(max($"p_retailprice").as("max_price"))
    p.join(broadcast(mx), $"p_brand" === $"b" && $"p_retailprice" === $"max_price")
      .select($"p_brand", $"p_partkey", $"p_retailprice")
      .orderBy($"p_brand", $"p_partkey")
  }

  /** Pivot (conditional aggregation surface): events per user by type.
    * count() over the pivot cell is null-free 0 via coalesce on both
    * engines.
    */
  def q16Pivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val types = Seq("click", "view", "purchase", "signup", "error")
    val pivoted = Tables
      .events(spark, dir)
      .groupBy($"user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    types
      .foldLeft(pivoted)((df, t) =>
        df.withColumn(s"n_$t", coalesce(col(t), lit(0L))).drop(t)
      )
      .orderBy($"user_id")
  }

  /** Semi-structured extraction: pull `k` out of the JSON props column.
    * Regex-based so the same expression is portable to the oracle.
    */
  def q17JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .events(spark, dir)
      .select(regexp_extract($"props", "\"k\": ([0-9]+)", 1).cast("long").as("k"), $"value")
      .groupBy($"k")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
      .orderBy($"k")
  }

  /** Array aggregation: per-customer sorted order-key list (CSV-joined so
    * the oracle compare is a plain string — no float formatting).
    */
  def q18CollectList(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(
        array_join(sort_array(collect_list($"o_orderkey")), ",").as("order_keys"),
        count(lit(1)).as("n_orders")
      )
      .orderBy($"o_custkey")
  }

  /** Rank-based exact interpolated percentiles per group — the
    * scale-safe replacement for the exact `percentile` aggregate, which
    * materializes every group value in its aggregation buffer (executor
    * OOM at 100 TB; for a global percentile the whole table funnels into
    * one 1-row aggregate). Input columns: `g` (group), `v` (double).
    * Output: one row per `g` with one double column per requested
    * (name, p). Shape:
    *
    *   1. histogram: count per DISTINCT (g, v) — shuffle-parallel with
    *      map-side combine; cardinality is bounded by the VALUE GRID
    *      (prices live on a 2-decimal grid), not the row count;
    *   2. two-level cumulative rank: a per-(g, unit-bucket) running sum
    *      (parallel across buckets) plus one per-g running sum over
    *      BUCKET SUMMARIES only — no task ever sorts more than one
    *      bucket's distinct values, and the single-task summary pass is
    *      bounded by the bucket count, never by values or rows;
    *   3. the two values straddling each target index fall out of a
    *      conditional aggregation (shuffle-parallel), interpolated with
    *      exactly Spark's Percentile formula
    *      ((hi − pos)·v_lo + (pos − lo)·v_hi, pos = (n−1)·p), so results
    *      are bit-identical to the exact aggregate this replaces
    *      (pinned by PercentileParitySpec).
    */
  /** The persisted per-group distinct-value histogram (g, v, c, b) every
    * rank-percentile consumer shares: distinct VALUES only — bounded by
    * the value grid, tiny relative to the table — and the CacheManager
    * dedupes invocations by canonical plan, so every caller over the
    * same (g, v) frame ([[rankPercentiles]]' internal branches AND
    * [[statsHistogram]]'s bucket-stats aggregate) reads ONE cached
    * materialization — one table scan total. Entries live in a bounded
    * plan-keyed registry, NOT open-endedly in the session: the engine
    * invokes this over a FIXED set of inputs (q19/q20/histogram — three
    * frames), so repeated calls return the one registered DataFrame per
    * canonical plan instead of re-marking a persist, an ad-hoc caller
    * churning through many inputs evicts the eldest entry at the size
    * cap instead of accumulating executor memory without bound, and the
    * session-end hygiene pass ([[warehouseHygiene]], which Bench and
    * Verify already run) releases every entry — no cache outlives the
    * serving pass that needed it.
    */
  private val HistRegistryCap = 8
  // ACCESS-order (third ctor arg): a cache hit moves the entry to the
  // back, so cap eviction takes the least-recently-RETURNED histogram —
  // insertion order would evict the eldest unconditionally, including
  // one a concurrent caller just received and is still executing
  // against (results stay correct either way — Spark recomputes an
  // unpersisted frame — but the shared-scan optimization would be
  // silently defeated under concurrent use at the cap)
  private val histRegistry =
    new java.util.LinkedHashMap[
      (SparkSession, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
      DataFrame
    ](16, 0.75f, true)

  private[graft] def valueHistogram(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val hist = df
      .groupBy($"g", $"v")
      .agg(count(lit(1)).as("c"))
      .withColumn("b", floor($"v"))
    val key = (spark, hist.queryExecution.analyzed.canonicalized)
    histRegistry.synchronized {
      histRegistry.entrySet().removeIf(_.getKey._1.sparkContext.isStopped)
      val cached = histRegistry.get(key)
      if (cached != null) cached
      else {
        if (histRegistry.size >= HistRegistryCap) {
          val eldest = histRegistry.entrySet().iterator().next()
          eldest.getValue.unpersist()
          histRegistry.remove(eldest.getKey)
          // stderr so a churn pattern at the cap is visible in run logs
          System.err.println(
            s"[hist-registry] evicted least-recently-used entry at cap $HistRegistryCap"
          )
        }
        val built = hist.persist()
        histRegistry.put(key, built)
        built
      }
    }
  }

  /** Unpersists every registered rank-percentile histogram for
    * `spark` — the session-end half of the registry's lifetime story,
    * invoked from [[warehouseHygiene]]. Returns the number released.
    */
  private[graft] def releaseHistograms(spark: SparkSession): Int =
    histRegistry.synchronized {
      val it = histRegistry.entrySet().iterator()
      var n = 0
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 eq spark) {
          e.getValue.unpersist()
          it.remove()
          n += 1
        }
      }
      n
    }

  private[graft] def rankPercentiles(
      df: DataFrame,
      ps: Seq[(String, Double)],
      withMinMax: Boolean = false
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // every downstream branch (cumulative rank, bucket offsets, group
    // stats) consumes the shared histogram; persisting it runs the
    // table scan and the (g, v) shuffle ONCE instead of once per branch
    // (column pruning specializes each branch's aggregate schema, so
    // exchange reuse can't dedupe them unpersisted).
    val hist = valueHistogram(df)
    val wInBucket = Window
      .partitionBy($"g", $"b")
      .orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBuckets = Window
      .partitionBy($"g")
      .orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bucketOffsets = hist
      .groupBy($"g", $"b")
      .agg(sum($"c").as("bc"))
      .select($"g", $"b", (sum($"bc").over(wBuckets) - $"bc").as("b_off"))
    val cum = hist
      .withColumn("cum_in_b", sum($"c").over(wInBucket))
      .join(bucketOffsets, Seq("g", "b"))
      .withColumn("cum", $"b_off" + $"cum_in_b")
    // target indices: pos = (n-1)·p, straddled by rows lo = floor(pos),
    // hi = ceil(pos) of the sorted multiset (0-based)
    val posCols = ps.flatMap { case (nm, p) =>
      val pos = ($"n" - 1) * lit(p)
      Seq(pos.as(s"pos_$nm"), floor(pos).as(s"lo_$nm"), ceil(pos).as(s"hi_$nm"))
    }
    // n = Σc over the histogram — identical to count(raw), no re-scan;
    // min/max ride along when requested (they're histogram properties)
    val statCols = Seq(sum($"c").as("n")) ++
      (if (withMinMax) Seq(min($"v").as("mn"), max($"v").as("mx")) else Nil)
    val carry = if (withMinMax) Seq("mn", "mx") else Nil
    val targets = hist
      .groupBy($"g")
      .agg(statCols.head, statCols.tail: _*)
      .select(($"g" +: (posCols ++ carry.map(col))): _*)
    // exactly one histogram row satisfies cum − c ≤ i < cum per index i
    val pick = ps.flatMap { case (nm, _) =>
      Seq(
        max(when($"cum" - $"c" <= col(s"lo_$nm") && col(s"lo_$nm") < $"cum", $"v")).as(s"vlo_$nm"),
        max(when($"cum" - $"c" <= col(s"hi_$nm") && col(s"hi_$nm") < $"cum", $"v")).as(s"vhi_$nm"),
        max(col(s"pos_$nm")).as(s"p_$nm")
      )
    } ++ carry.map(n => max(col(n)).as(n))
    // one row per group: AQE broadcasts it when small; no explicit hint
    // so a high-cardinality group column can't OOM the driver
    val picked = cum.join(targets, "g").groupBy($"g").agg(pick.head, pick.tail: _*)
    val outCols = ps.map { case (nm, _) =>
      val pos = col(s"p_$nm")
      when(ceil(pos) === floor(pos), col(s"vlo_$nm"))
        .otherwise((ceil(pos) - pos) * col(s"vlo_$nm") + (pos - floor(pos)) * col(s"vhi_$nm"))
        .as(nm)
    } ++ carry.map(col)
    picked.select(($"g" +: outCols): _*)
  }

  /** Window navigation: lag/lead/ntile over each customer's order
    * history.
    */
  def q19LagLead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val orders = Tables.orders(spark, dir)
    // Value-based quartile from three exact percentile cutoffs instead of
    // a global ntile: an empty-partition window funnels the whole table
    // through one task, while the cutoffs are a 1-row aggregate broadcast
    // back over the data (partition-parallel at any scale; the cutoffs
    // themselves come from the rank-based plan above, never a full-table
    // buffer). Comparison parity with the oracle is exact: cutoffs at
    // duplicate-heavy positions are data values in both engines, and
    // interpolated cutoffs fall strictly between adjacent distinct
    // values, so an ULP of engine difference can never flip a row's
    // bucket.
    val cuts = rankPercentiles(
      orders.select(lit("all").as("g"), $"o_totalprice".as("v")),
      Seq("c1" -> 0.25, "c2" -> 0.50, "c3" -> 0.75)
    ).drop("g")
    orders
      .crossJoin(broadcast(cuts))
      .select(
        $"o_custkey",
        $"o_orderkey",
        round(lag($"o_totalprice", 1).over(w), 4).as("prev_price"),
        round(lead($"o_totalprice", 1).over(w), 4).as("next_price"),
        (lit(1L)
          + when($"o_totalprice" > $"c1", 1L).otherwise(0L)
          + when($"o_totalprice" > $"c2", 1L).otherwise(0L)
          + when($"o_totalprice" > $"c3", 1L).otherwise(0L)).as("price_quartile")
      )
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Exact interpolated percentiles per group ((n-1)·p convention on both
    * engines; results land on the half-cent grid so round-4 snaps
    * identically). Computed rank-based (see rankPercentiles) so no
    * aggregation buffer ever holds a group's full value set — PlanSpec
    * pins that no exact `percentile` aggregate remains in the plan.
    */
  def q20Percentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vals = Tables
      .lineitem(spark, dir)
      .select($"l_returnflag".as("g"), $"l_extendedprice".as("v"))
    val pct =
      rankPercentiles(vals, Seq("median_price" -> 0.5, "p90_price" -> 0.9), withMinMax = true)
    pct
      .select(
        $"g".as("l_returnflag"),
        round($"median_price", 4).as("median_price"),
        round($"p90_price", 4).as("p90_price"),
        round($"mn", 4).as("min_price"),
        round($"mx", 4).as("max_price")
      )
      .orderBy($"l_returnflag")
  }

  /** Approximate sketches: HLL distinct counts + approximate quantiles.
    * Engine sketch internals differ, so this query has NO DuckDB oracle
    * (driver records a rows-only check); ApproxSpec bounds the error
    * against exact answers instead.
    */
  def q21ApproxSketches(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_partkey", 0.02).as("approx_parts"),
        approx_count_distinct($"l_orderkey", 0.02).as("approx_orders"),
        percentile_approx($"l_extendedprice", lit(0.5), lit(10000)).as("approx_median")
      )
      .orderBy($"l_returnflag")
  }

  /** Companion hash-gate for q21 (VERDICT r7 task #4): the raw HLL/KLL
    * estimates are engine-internal and stay oracle-free in
    * q21_approx_sketches, but this query IS fully hash-checked — it
    * emits (a) the EXACT per-group distinct counts and (b) one boolean
    * per sketch asserting the estimate landed inside its documented
    * error bound (±5% of exact for the 2%-rsd HLLs; for the
    * accuracy-10000 median, its exact RANK POSITION must land in the
    * [0.40, 0.60] quantile corridor). The DuckDB oracle emits the exact
    * counts and literal TRUE for each bound, so any sketch drift — an
    * engine upgrade changing HLL internals, a bad merge — flips the
    * hash red instead of hiding behind a rows-only check.
    *
    * Scale: every pass is partial-aggregable — exact count-distinct
    * expands to the standard two-level aggregate, and the median check
    * counts rows below the (broadcast, 3-row) sketch value rather than
    * buffering values for an exact percentile (the full-group value
    * buffer q20 exists to avoid; the sf1 probe measured that buffer at
    * 36 s min / 208 s max before this formulation). Sketch accuracy
    * itself does not degrade with corpus size (HLL rsd is a function
    * of register count only).
    */
  def q21SketchGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    // Three scans ON PURPOSE (r20 measured rejection): folding the exact
    // countDistincts into the rank-check aggregate (one combined
    // join+multi-distinct pass, 3 scans → 2) measured CONSISTENTLY
    // SLOWER at sf0.1 (1.61–1.71 s vs 1.20–1.41 s steady) — the
    // rank-check branch partial-aggregates to 3 rows map-side as
    // written, but merged it rides the multi-distinct's 3-way Expand
    // into the exchange, so the combined shuffle carries ~1.8M expanded
    // rows where the separate formulation shuffles 1.2M (Expand ×2) + 3.
    // Fewer scans lost to more shuffled bytes; the scan is the cheap
    // part of this query.
    val exact = li
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("exact_parts"),
        countDistinct($"l_orderkey").as("exact_orders")
      )
    val approx = li
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_partkey", 0.02).as("approx_parts"),
        approx_count_distinct($"l_orderkey", 0.02).as("approx_orders"),
        percentile_approx($"l_extendedprice", lit(0.5), lit(10000)).as("approx_median")
      )
    val rankCheck = li
      .join(broadcast(approx.select($"l_returnflag", $"approx_median")), Seq("l_returnflag"))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        count(when($"l_extendedprice" < $"approx_median", 1)).as("below"),
        count(when($"l_extendedprice" === $"approx_median", 1)).as("ties")
      )
    exact
      .join(approx, Seq("l_returnflag"))
      .join(rankCheck, Seq("l_returnflag"))
      .select(
        $"l_returnflag",
        $"exact_parts",
        $"exact_orders",
        (abs($"approx_parts" - $"exact_parts") <= lit(0.05) * $"exact_parts")
          .as("parts_in_bound"),
        (abs($"approx_orders" - $"exact_orders") <= lit(0.05) * $"exact_orders")
          .as("orders_in_bound"),
        // tie-robust rank corridor: on tie-heavy columns many rows EQUAL
        // the true median, so strictly-below alone can sit under 0.40
        // even for an exact sketch — the corridor admits any value whose
        // tie span covers the midpoint
        ($"below".cast("double") / $"n" <= 0.60 &&
          ($"below" + $"ties").cast("double") / $"n" >= 0.40)
          .as("median_in_bound")
      )
      .orderBy($"l_returnflag")
  }

  /** Set operations (INTERSECT / EXCEPT): urgent-priority orders vs
    * high-value orders. Both plan as aggregated semi/anti joins —
    * shuffle on the full row as key — so they inherit the join family's
    * scale posture (AQE picks broadcast vs shuffle per side).
    */
  def q24SetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val urgent = o.filter($"o_orderpriority" === "1-URGENT").select($"o_orderkey")
    val big = o.filter($"o_totalprice" > 300000.0).select($"o_orderkey")
    val both = urgent.intersect(big).withColumn("bucket", lit("urgent_and_big"))
    val urgentOnly = urgent.except(big).withColumn("bucket", lit("urgent_only"))
    both
      .unionAll(urgentOnly)
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_orders"), min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"))
      .orderBy($"bucket")
  }

  val KmvK = 64

  /** KMV (k-minimum-values) distinct-count sketch — the deterministic
    * sibling of q21's engine-internal HLL: per group, keep the KmvK
    * smallest md5-derived 32-bit hashes of the key; the unbiased
    * estimator is (k-1) / kth-min-normalized (Bar-Yossef et al. 2002).
    * Because the hash and the k-selection are pure functions of the
    * data, the DuckDB oracle replays the sketch EXACTLY — approximate
    * in accuracy, exact in reproducibility (what a pipeline wants for
    * resumable/auditable stats). The estimate lands within a few % of
    * the true count at k=64.
    *
    * Scale: k-min selection is an AGGREGATION, not a ranking problem —
    * the typed KMinValues Aggregator keeps a bounded k-element buffer
    * per group, combines partials map-side, and ships at most k longs
    * per (group, partition). A window/row_number formulation would
    * funnel every distinct hash of a group through one task (3 tasks
    * for 3 return flags, at any corpus size); PlanSpec pins that no
    * Window remains in this plan. The buffer also dedups hashes, so no
    * separate distinct shuffle is needed either.
    */
  def q23KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val kmv = udaf(new KMinValues(KmvK))
    Tables
      .lineitem(spark, dir)
      .select(
        $"l_returnflag",
        conv(substring(md5($"l_partkey".cast("string")), 1, 8), 16, 10).cast("long").as("h")
      )
      .groupBy($"l_returnflag")
      .agg(kmv($"h").as("sk"))
      .select($"l_returnflag", $"sk.kth".as("kth"), $"sk.k_seen".as("k_seen"))
      // with fewer than k distinct values the sketch is exact (k_seen)
      .select(
        $"l_returnflag",
        when(
          $"k_seen" < KmvK,
          $"k_seen".cast("double")
        ).otherwise(lit((KmvK - 1).toDouble) * lit(4294967296.0) / greatest($"kth", lit(1L)))
          .as("est_parts_raw")
      )
      .select($"l_returnflag", floor($"est_parts_raw").cast("long").as("est_parts"))
      .orderBy($"l_returnflag")
  }

  /** Bucketed-table co-located join (SCALING.md's >1 PB playbook): both
    * fact tables are written ONCE per session bucketed by orderkey into
    * the same bucket count, so the orderkey join plans with ZERO shuffle
    * exchanges — each task reads matching bucket files from both sides
    * (PlanSpec pins this). The merge hint keeps the plan a sort-merge
    * join even at tiny test scale where broadcast would hide the
    * property; at real scale neither side is broadcastable and the
    * avoided exchange is the whole cost of the join. Bucket tables are
    * MANAGED — they live under the session's spark.sql.warehouse.dir,
    * never a world-shared /tmp path — and their names carry a content
    * fingerprint (source file lengths + mtimes), so regenerated source
    * data yields a different table name: stale reuse is impossible by
    * construction. The one-time write is amortized like any production
    * bucketed layout — bench's min-of-2 times the join, not the write.
    */
  /** Hex digest of the source files' (path, length, mtime) triples —
    * cheap (metadata-only) and changes whenever the data is regenerated.
    */
  private[graft] def sourceFingerprint(spark: SparkSession, paths: String*): String = {
    val fp = graft.Tables.listingFp(spark, paths, 6)
    sessionFps.add(fp)
    fp
  }

  /** Every fingerprint this JVM derived — the live set for the
    * session-end warehouse hygiene sweep ([[warehouseHygiene]]).
    */
  private val sessionFps =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Session-end warehouse hygiene: one ledger line (live artifact dirs,
    * bytes) plus a retirement sweep of `graft_*` dirs whose name carries
    * NO fingerprint this session derived — the dead artifacts a
    * multi-decade probe session (or a warehouse shared across rounds)
    * would otherwise accumulate without bound, since buildOnce's
    * per-prefix sweep only fires for prefixes the session rebuilds.
    * Child fingerprints (`<fp>e<epoch>`) contain the parent fp, so a
    * substring match keeps them with their parent. Call only at
    * session end (Bench/Verify), after the last query.
    *
    * Two guards keep the sweep from eating artifacts it must not:
    * `sweep=false` (a FILTERED Verify/Bench run — this session derived
    * fingerprints for only a subset of queries, so "no fp from this
    * session" proves nothing about the rest) prints the ledger without
    * retiring; and even when sweeping, dirs younger than `minAgeMs`
    * survive — a concurrently running Verify/test JVM's in-flight
    * builds are by construction fresh, so the age floor closes the
    * cross-JVM delete race for any caller whose warehouse is shared
    * (Bench and Verify each run in a per-process warehouse).
    */
  private[graft] def warehouseHygiene(
      spark: SparkSession,
      sweep: Boolean = true,
      minAgeMs: Long = 60L * 60 * 1000
  ): String = {
    // session-end cache hygiene rides with the warehouse ledger: the
    // registered rank-percentile histograms must not outlive the
    // serving pass (Bench/Verify call this exactly once, at the end)
    val released = releaseHistograms(spark)
    val warehouse = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(warehouse)) return s"[warehouse] empty; released $released cached histograms"
    val live = scala.collection.immutable.Set.from(
      scala.jdk.CollectionConverters.SetHasAsScala(sessionFps).asScala
    )
    val entries = fs.listStatus(warehouse).filter(_.getPath.getName.startsWith("graft_"))
    val cutoff = System.currentTimeMillis() - minAgeMs
    // the age floor is BUILD-TIME-DERIVED: an artifact's age is its
    // newest write anywhere under the dir, not the dir inode's mtime —
    // a concurrent JVM mid-way through a build LONGER than the floor
    // (sf30 index builds run to the hour) keeps writing files, so its
    // newest-write stays fresh even though the dir was created before
    // the cutoff. Recursion only ever runs over the dead candidates
    // (dirs no live fingerprint claims), never the whole warehouse.
    // a concurrent writer can rename/delete entries (e.g. _temporary
    // commit) between our listStatus and the child stat — an unreadable
    // entry is BY DEFINITION being written right now, so treat it as
    // maximally fresh rather than crash the sweep
    def newestWrite(p: org.apache.hadoop.fs.Path): Long =
      try {
        val st = fs.getFileStatus(p)
        if (!st.isDirectory) st.getModificationTime
        else {
          val children = fs.listStatus(p)
          if (children.isEmpty) st.getModificationTime
          else math.max(st.getModificationTime, children.map(c => newestWrite(c.getPath)).max)
        }
      } catch {
        case scala.util.control.NonFatal(_) => Long.MaxValue
      }
    val (liveKept, dead) =
      entries.partition(st => live.exists(fp => st.getPath.getName.contains(fp)))
    val staleCandidates =
      if (sweep) dead.filter(st => newestWrite(st.getPath) <= cutoff)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    // liveness is re-checked against the LIVE fp set immediately before
    // each delete: a concurrent first caller can claim (fingerprint) an
    // hour-old artifact AFTER the `live` snapshot above and be serving
    // from it by the time this sweep reaches it — the snapshot-then-
    // delete window spans the whole candidate walk, while fp
    // registration precedes the claimer's first read by planning time,
    // so the delete-time check closes the race the minAge floor cannot
    // (the floor only protects FRESH writes, not serves of old dirs)
    val stale = staleCandidates.filter { st =>
      val claimedMeanwhile = scala.jdk.CollectionConverters
        .SetHasAsScala(sessionFps)
        .asScala
        .exists(fp => st.getPath.getName.contains(fp))
      if (!claimedMeanwhile) fs.delete(st.getPath, true)
      !claimedMeanwhile
    }
    val kept = liveKept ++ dead.diff(stale)
    // the byte census is informational; a concurrent builder's
    // retire-then-rebuild (buildOnce deletes the current-fp dirs before
    // rewriting them) can remove a listed dir between our listStatus and
    // this walk — count what is readable rather than crash the sweep
    val bytes = kept.map { st =>
      try fs.getContentSummary(st.getPath).getLength
      catch { case scala.util.control.NonFatal(_) => 0L }
    }.sum
    val mode = if (sweep) "" else " (filtered run: sweep skipped)"
    s"[warehouse] ${kept.length} live artifact dirs, $bytes bytes; retired ${stale.length} stale$mode;" +
      s" released $released cached histograms"
  }

  // serializes bucket-table builds: two first callers racing on the same
  // fingerprint would otherwise interleave delete + saveAsTable
  private val bucketBuildLock = new Object

  /** Retires every warehouse artifact whose name starts with one of
    * `prefixes` — shared by q22 and q31 so deletion semantics can't
    * drift between call sites. Three steps, in q22's original order:
    * (1) registered sibling tables drop THROUGH the catalog (files +
    * registration, so nothing this session registered can dangle);
    * (2) on-disk leftovers no catalog knows (crashed mid-write builds,
    * dead JVMs) are swept — INCLUDING the current fingerprint's dirs,
    * which the caller is about to rebuild anyway; (3) the current
    * tables' own registrations drop if present. Call only from inside a
    * build-once block under [[bucketBuildLock]].
    */
  private def retireWarehouseArtifacts(
      spark: SparkSession,
      prefixes: Seq[String],
      currentTables: Seq[String]
  ): Unit = {
    spark.catalog
      .listTables()
      .collect()
      .map(_.name)
      .filter(n => prefixes.exists(n.startsWith) && !currentTables.contains(n))
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    val warehouse = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(warehouse)) {
      fs.listStatus(warehouse)
        .filter(st => prefixes.exists(st.getPath.getName.startsWith))
        .foreach(st => fs.delete(st.getPath, true))
    }
    currentTables.foreach { t =>
      if (spark.catalog.tableExists(t)) spark.sql(s"DROP TABLE $t")
    }
  }

  /** Build-once guard for fingerprinted warehouse artifacts: if any of
    * `tables` is missing, retire stale siblings under `prefixes` and run
    * `build` exactly once under [[bucketBuildLock]] (double-checked so
    * concurrent first callers don't interleave delete + saveAsTable).
    * Shared by q22 (bucketed layout), q31 (partitioned layout) and the
    * incremental-dedup signature index so the build/retire semantics
    * can't drift between call sites.
    */
  /** Completion sentinel for multi-table builds whose tables come into
    * existence DURING the build (stream-maintained indexes: the first
    * micro-batch creates the postings table) — the catalog edition of
    * the layout family's _SUCCESS-written-last discipline. Include the
    * sentinel in the buildOnce guard list and write it at the END of
    * the build: a crash mid-drain leaves the sentinel missing, so the
    * next call retires the partial tables and rebuilds from batch 0
    * instead of silently serving a half-drained index.
    */
  private[graft] def writeDoneSentinel(spark: SparkSession, doneTable: String): Unit =
    spark.range(1).write.mode("overwrite").format("parquet").saveAsTable(doneTable)

  private[graft] def buildOnce(
      spark: SparkSession,
      prefixes: Seq[String],
      tables: Seq[String]
  )(build: => Unit): Unit =
    if (!tables.forall(spark.catalog.tableExists)) bucketBuildLock.synchronized {
      if (!tables.forall(spark.catalog.tableExists)) {
        retireWarehouseArtifacts(spark, prefixes, tables)
        build
      }
    }

  def q22BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fp = sourceFingerprint(spark, s"$dir/orders.parquet", s"$dir/lineitem.parquet")
    val ordersT = s"graft_orders_bucketed_$fp"
    val lineitemT = s"graft_lineitem_bucketed_$fp"
    // guard on BOTH tables: a prior attempt that created orders but threw
    // before the lineitem save must not short-circuit the rebuild.
    // (a warehouse shared by CONCURRENT JVMs would need a lock around
    // the whole build; this engine's sessions use a per-process
    // warehouse dir)
    buildOnce(
      spark,
      Seq("graft_orders_bucketed_", "graft_lineitem_bucketed_"),
      Seq(ordersT, lineitemT)
    ) {
      Tables
        .orders(spark, dir)
        .write
        .mode("overwrite")
        .format("parquet")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable(ordersT)
      Tables
        .lineitem(spark, dir)
        .write
        .mode("overwrite")
        .format("parquet")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable(lineitemT)
    }
    spark
      .table(lineitemT)
      .join(spark.table(ordersT).hint("merge"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      // exact DECIMAL(18,2) summation: prices live on a 2dp grid, so the
      // decimal sum is order-independent and engine-exact — at this
      // group size (~10⁵ rows/group at sf0.1, unbounded at 100 TB) a
      // double sum's accumulated ULP error exceeds any fixed rounding
      // guard AND varies with shuffle order run-to-run. The final cast
      // back to double is exact (cents fit in 53 bits).
      .agg(
        count(lit(1)).as("n_items"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_price")
      )
      .orderBy($"o_orderpriority")
  }

  /** UNPIVOT (wide→long reshape, the inverse of q16's pivot): the four
    * lineitem measure columns melt to (measure, value) rows, then a
    * per-measure aggregate. Unpivot is a zero-shuffle Expand — each input
    * row emits 4 — and the aggregate partial-combines to 4 groups before
    * the only exchange, so the reshape adds no data movement at any
    * scale. All four measures live on a ≤4dp decimal grid → exact
    * DECIMAL sum.
    */
  def q28Unpivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .lineitem(spark, dir)
      .select($"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax")
      // no id columns: nothing downstream references one, and omitting it
      // keeps the scan at exactly the four measures by construction
      // (PlanSpec pins the 4-column ReadSchema) rather than relying on
      // the optimizer to prune an unused id through the Expand
      .unpivot(
        Array.empty[org.apache.spark.sql.Column],
        Array($"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax"),
        "measure",
        "value"
      )
      .groupBy($"measure")
      .agg(
        count(lit(1)).as("n"),
        sum($"value".cast("decimal(20,4)")).cast("double").as("sum_value")
      )
      .orderBy($"measure")
  }

  /** MERGE / upsert semantics — apply a change feed (updates, deletes,
    * inserts) to a snapshot in one pass: the CDC-apply operator every
    * warehouse needs. The change batch is derived DETERMINISTICALLY from
    * the snapshot itself (key mod classes, disjoint by construction;
    * inserts map k → -(k+1) — the PageRank id trick, since plain
    * negation would collide on key 0, which the fixture contains), so
    * the oracle replays it exactly. Plan shape: ONE key-partitioned left join
    * (changes are partial-aggregation-sized relative to the snapshot —
    * AQE broadcasts them while they fit) + a filter for deletes + a
    * union of inserts; at production scale both sides would be bucketed
    * on the key (the q22 path) making the merge exchange-free. The
    * price update multiplies exact DECIMALs.
    */
  def q30MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val snap = Tables
      .orders(spark, dir)
      .select($"o_orderkey".as("k"), $"o_custkey", $"o_totalprice", $"o_orderstatus")
    val updates = snap
      .filter($"k" % 5 === 0)
      .select(
        $"k",
        ($"o_totalprice".cast("decimal(18,2)") * lit(BigDecimal("1.10")))
          .cast("double")
          .as("new_price"),
        lit("U").as("op")
      )
    val deletes = snap
      .filter($"k" % 5 =!= 0 && $"k" % 7 === 0)
      .select($"k", lit(null).cast("double").as("new_price"), lit("D").as("op"))
    val changes = updates.unionByName(deletes)
    val merged = snap
      .join(changes, Seq("k"), "left")
      .filter($"op".isNull || $"op" === "U")
      .select(
        $"k",
        $"o_custkey",
        when($"op" === "U", $"new_price").otherwise($"o_totalprice").as("o_totalprice"),
        $"o_orderstatus"
      )
    val inserts = snap
      .filter($"k" % 11 === 0)
      .select(-($"k" + 1), $"o_custkey", $"o_totalprice", $"o_orderstatus")
    merged.unionByName(inserts.toDF(merged.columns: _*)).orderBy($"k")
  }

  /** Partitioned-layout write + partition pruning: orders land in a
    * managed table partitioned by order year, and a year-filtered query
    * must touch ONLY that year's directory — the scan's PartitionFilters
    * (plan-pinned) prove the pruning happens at file-listing time, not
    * per row. This is the layout lever for time-series corpora at 100 TB:
    * a day/year-partitioned table turns time filters into O(partitions-
    * read) I/O regardless of corpus size. Table name carries the q22
    * content fingerprint so regenerated source data can never reuse a
    * stale layout.
    */
  private[graft] def ordersByYearTable(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val fp = sourceFingerprint(spark, s"$dir/orders.parquet")
    val t = s"graft_orders_byyear_$fp"
    buildOnce(spark, Seq("graft_orders_byyear_"), Seq(t)) {
      Tables
        .orders(spark, dir)
        .withColumn("o_year", year($"o_orderdate"))
        .write
        .mode("overwrite")
        .format("parquet")
        .partitionBy("o_year")
        .saveAsTable(t)
    }
    t
  }

  def q31PartitionPruning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark
      .table(ordersByYearTable(spark, dir))
      .filter($"o_year" === 1997)
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("revenue")
      )
      .orderBy($"o_orderpriority")
  }

  /** Per-group k for the window top-k query — shared with the oracle. */
  val WindowTopK = 3

  /** Per-group top-k through a ranked window — the query shape Spark's
    * WindowGroupLimit optimization exists for. A naive engine buffers
    * and sorts EVERY group in full to evaluate row_number, then throws
    * away all but k rows; Catalyst instead pushes the rank limit INTO
    * the window (WindowGroupLimitExec below the shuffle, plan-pinned):
    * each map task keeps a bounded top-k per group before the exchange,
    * so the shuffle carries O(groups × k) rows instead of the corpus —
    * the same partial-vs-final shape that makes q8's TakeOrdered scale,
    * applied per group. Tie-break on orderkey makes the selection a
    * total order, so both engines pick identical rows.
    */
  def q34WindowTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables
      .orders(spark, dir)
      .select(
        $"o_custkey",
        $"o_orderkey",
        $"o_totalprice",
        row_number().over(w).cast("long").as("rn")
      )
      .filter($"rn" <= WindowTopK)
      .orderBy($"o_custkey", $"rn")
  }

  /** The epoch the q33 dim filter selects — shared with the oracle so
    * both engines filter the same label.
    */
  val DppEpoch = "late90s"

  /** Dynamic partition pruning — the RUNTIME half of the partition-
    * pruning story q31 pins statically. The fact side is the same
    * year-partitioned orders table; the filter, though, lives on a
    * separate calendar DIMENSION (`epoch_label`), so at compile time
    * Catalyst cannot know which years survive. DPP closes the gap: the
    * broadcast of the filtered dim is REUSED as a dynamic partition
    * filter on the fact scan (`dynamicpruningexpression` in the scan's
    * PartitionFilters — plan-pinned), so only the matching year
    * directories are ever listed or read. At 100 TB this is the
    * difference between scanning 3 years and scanning 30 for every
    * star-schema query whose time filter arrives through a dim table —
    * no query rewrite needed, the optimizer derives the partition list
    * at runtime from the join itself. The calendar dim is a build-once
    * fingerprinted artifact derived from the orders date domain.
    */
  /** The calendar DIMENSION the DPP queries filter through — a
    * build-once fingerprinted artifact derived from the orders date
    * domain (shared by q33 and the parsed-surface sql_q33_window).
    */
  private[graft] def calendarTable(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val fp = sourceFingerprint(spark, s"$dir/orders.parquet")
    val ct = s"graft_calendar_$fp"
    buildOnce(spark, Seq("graft_calendar_"), Seq(ct)) {
      Tables
        .orders(spark, dir)
        .select(year($"o_orderdate").as("cal_year"))
        .distinct()
        .withColumn(
          "epoch_label",
          when($"cal_year".between(1997, 1999), "late90s")
            .when($"cal_year" < 1997, "mid90s")
            .otherwise("2000s")
        )
        .coalesce(1)
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(ct)
    }
    ct
  }

  def q33DynamicPruning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pt = ordersByYearTable(spark, dir)
    val ct = calendarTable(spark, dir)
    spark
      .table(pt)
      .join(
        spark.table(ct).filter($"epoch_label" === DppEpoch),
        $"o_year" === $"cal_year"
      )
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("revenue")
      )
      .orderBy($"o_orderpriority")
  }

  /** The shared SQL BODY of `sql_q33_window` — one text, two engines:
    * the engine parses it over the `orders_by_year` (year-partitioned
    * fact) and `calendar` (epoch dim) views; the oracle prepends a
    * raw-table CTE preamble defining the same two names and runs the
    * identical body in DuckDB. Per epoch-year, the top-k order
    * priorities by exact-decimal revenue through a ranked window; the
    * rank tie-breaks on priority so the selection is a total order.
    */
  val SqlQ33WindowBody: String =
    s"""SELECT o_year, o_orderpriority, n_orders, revenue, rnk
       |FROM (
       |  SELECT f.o_year, f.o_orderpriority,
       |    count(*) AS n_orders,
       |    CAST(sum(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       |    rank() OVER (PARTITION BY f.o_year
       |      ORDER BY CAST(sum(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) DESC,
       |               f.o_orderpriority) AS rnk
       |  FROM orders_by_year f JOIN calendar c ON f.o_year = c.cal_year
       |  WHERE c.epoch_label = '$DppEpoch'
       |  GROUP BY f.o_year, f.o_orderpriority) t
       |WHERE rnk <= $WindowTopK
       |ORDER BY o_year, rnk""".stripMargin

  /** Registered query `sql_q33_window` — the parsed-surface stretch
    * composing BOTH runtime physical treatments in one SQL string: the
    * epoch filter arrives through the calendar DIMENSION, so only DPP
    * (the broadcast of the filtered dim reused as a
    * `dynamicpruningexpression` in the fact scan's PartitionFilters —
    * plan-pinned) keeps the scan to the matching year directories; the
    * rank predicate on top is pushed INTO the window as a
    * WindowGroupLimit (plan-pinned) exactly as the q34 builder twin.
    * Proves `spark.sql(text)` inherits the builder plans' physical
    * treatments — at 100 TB the analyst's ad-hoc SQL gets the same
    * 3-years-not-30 scan and bounded window state as the curated
    * DataFrame queries, with no rewrite.
    */
  def sqlQ33Window(spark: SparkSession, dir: String): DataFrame = {
    spark.table(ordersByYearTable(spark, dir)).createOrReplaceTempView("orders_by_year")
    spark.table(calendarTable(spark, dir)).createOrReplaceTempView("calendar")
    spark.sql(SqlQ33WindowBody)
  }

  /** Correlated scalar subquery — the optimizer surface the DataFrame
    * queries never reach: orders priced above 2× their own customer's
    * average. Catalyst DECORRELATES the subquery
    * (RewriteCorrelatedScalarSubquery) into a per-customer aggregate
    * joined back to orders — one partial-aggregated shuffle + one
    * co-keyed join, NOT a per-row subquery execution (PlanSpec pins the
    * absence of a scalar-subquery node in the physical plan). The
    * average is written as exact-decimal-sum / count so both engines
    * compare identical doubles at the threshold.
    */
  def q29ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_q29_orders")
    spark.sql(
      """SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
        |FROM graft_q29_orders o
        |WHERE o.o_totalprice > 2 * (
        |  SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |  FROM graft_q29_orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o.o_custkey, o.o_orderkey""".stripMargin
    )
  }

  /** Ranking-function suite: rank / dense_rank / percent_rank /
    * cume_dist / ntile(4) over per-segment customer spend — the window
    * family q19's lag/lead and q26's RANGE frame don't cover. Both
    * window specs share the c_mktsegment partitioning, so Catalyst
    * plans a single exchange (the orderings differ only in the ntile
    * tiebreak and are local sorts). Determinism: rank-family
    * functions are tie-stable (equal spend ⇒ equal rank), but ntile
    * depends on row order, so its spec breaks ties by custkey for a
    * total order. percent_rank/cume_dist are exact rational arithmetic
    * on identical operands in both engines; round6 (floor-based
    * half-up) guards the decimal boundary like every other fraction
    * column.
    */
  def q27WindowSuite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spend = Tables
      .orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("spend"))
    val seg = Tables.customer(spark, dir).select($"c_custkey", $"c_mktsegment")
    val bySpend = Window.partitionBy($"c_mktsegment").orderBy($"spend".desc)
    val total = Window.partitionBy($"c_mktsegment").orderBy($"spend".desc, $"o_custkey")
    spend
      .join(seg, $"o_custkey" === $"c_custkey")
      .select(
        $"c_mktsegment",
        $"o_custkey".as("custkey"),
        $"spend",
        rank().over(bySpend).cast("long").as("rnk"),
        dense_rank().over(bySpend).cast("long").as("drnk"),
        graft.text.TextAnalysis.round6(percent_rank().over(bySpend)).as("prnk"),
        graft.text.TextAnalysis.round6(cume_dist().over(bySpend)).as("cdist"),
        ntile(4).over(total).cast("long").as("quartile")
      )
      .orderBy($"c_mktsegment", $"custkey")
  }

  /** Columns profiled by [[statsProfile]] — shared with the oracle
    * generator so the two stay in lockstep by construction. Covers
    * every lineitem type class: long keys, int, double measures,
    * low-cardinality strings, and a timestamp.
    */
  val StatsProfileCols: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_returnflag", "l_shipdate"
  )

  /** ANALYZE-style per-column statistics — the stats-collection pass a
    * cost-based optimizer runs before planning 100 TB joins: row count,
    * null count, exact NDV, min/max, one row per column.
    *
    * Shape at scale: one single-row aggregate PER COLUMN, each over a
    * scan pruned to that column (ReadSchema carries exactly one field),
    * so total bytes read ≈ one full-table pass split across k
    * column-pruned scans — the columnar-format ideal. Production
    * ANALYZE replaces the exact `countDistinct` with the single-pass
    * HLL sketch (`approx_count_distinct`, Spark's own ANALYZE path);
    * both are computed here and `ndv_sketch_ok` pins |sketch − exact| /
    * exact ≤ 3·rsd — the q21_sketch_gate pattern: the sketch is the
    * scale path, the exact column is the QA gate that oracles it.
    * min/max are emitted as strings (one schema across type classes);
    * timestamps truncate to seconds so both engines print the same
    * canonical form.
    */
  def statsProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val perCol = StatsProfileCols.map { name =>
      def strOf(agg: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        li.schema(name).dataType match {
          case org.apache.spark.sql.types.TimestampNTZType =>
            date_format(agg.cast("timestamp"), "yyyy-MM-dd HH:mm:ss")
          case org.apache.spark.sql.types.TimestampType =>
            date_format(agg, "yyyy-MM-dd HH:mm:ss")
          case _ => agg.cast("string")
        }
      val sel = li.select(li.col(name))
      val c = sel.col(name)
      sel.agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(c)).as("n_null"),
        countDistinct(c).as("ndv"),
        (abs(approx_count_distinct(c) - countDistinct(c)) <=
          countDistinct(c) * lit(0.15)).as("ndv_sketch_ok"),
        strOf(min(c)).as("min_s"),
        strOf(max(c)).as("max_s")
      ).select(lit(name).as("col"), $"n_rows", $"n_null", $"ndv", $"min_s", $"max_s", $"ndv_sketch_ok")
    }
    perCol.reduce(_.union(_)).orderBy($"col")
  }

  /** Columns of the correlation matrix [[statsCorr]] profiles; all live
    * on a 2dp value grid, so ×100 scaling makes every moment sum an
    * EXACT decimal (shared with the oracle generator).
    */
  val CorrCols: Seq[String] = Seq("l_quantity", "l_discount", "l_tax", "l_extendedprice")

  /** Ordered column pairs of the correlation matrix. */
  val CorrPairs: Seq[(String, String)] =
    for { i <- CorrCols.indices; j <- (i + 1) until CorrCols.length }
      yield (CorrCols(i), CorrCols(j))

  /** Pearson correlation matrix over the lineitem numeric columns — the
    * other half of ANALYZE ([[statsProfile]] covers marginals; this
    * covers pairwise dependence, the input to join-cardinality and
    * predicate-correlation estimation). ONE corpus pass computes every
    * moment (n, Σx, Σx², Σxy for all pairs) as map-side-combinable
    * EXACT decimal sums — values sit on a 2dp grid, so ×100 scaling
    * makes each sum an integer-valued decimal, order-independent and
    * engine-exact where a double Σx² would drift with shuffle layout.
    * The closed-form corr is then pure driver-free arithmetic on the
    * 1-row aggregate: each component casts decimal→double ONCE and the
    * identical IEEE expression runs on both engines under round6.
    */
  def statsCorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def xi(c: String) =
      (col(c).cast("decimal(18,2)") * lit(100)).cast("decimal(18,0)")
    val base = Tables.lineitem(spark, dir).select(CorrCols.map(c => xi(c).as(c)): _*)
    val aggs: Seq[org.apache.spark.sql.Column] =
      count(lit(1)).cast("double").as("n") +:
        (CorrCols.map(c => sum(col(c)).cast("double").as(s"s_$c")) ++
          CorrCols.map(c =>
            sum((col(c) * col(c)).cast("decimal(38,0)")).cast("double").as(s"ss_$c")
          ) ++
          CorrPairs.map { case (a, b) =>
            sum((col(a) * col(b)).cast("decimal(38,0)")).cast("double").as(s"sp_${a}_$b")
          })
    val st = base.agg(aggs.head, aggs.tail: _*)
    // ONE aggregate pass; the 6 matrix rows explode out of the single
    // moment row (a union of per-pair aggregates would re-scan the
    // corpus per pair)
    val pairRows = CorrPairs.map { case (a, b) =>
      val num = $"n" * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")
      val den = sqrt($"n" * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")) *
        sqrt($"n" * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b"))
      struct(
        lit(a).as("col_x"),
        lit(b).as("col_y"),
        $"n".cast("long").as("n_rows"),
        graft.text.TextAnalysis.round6(num / den).as("corr")
      )
    }
    st.select(explode(array(pairRows: _*)).as("r"))
      .select($"r.*")
      .orderBy($"col_x", $"col_y")
  }

  /** Equi-height histogram shape: bucket count and profiled columns,
    * shared with the oracle generator so both engines build the same
    * fences.
    */
  val HistBuckets = 8
  val HistCols: Seq[String] = Seq("l_extendedprice", "l_quantity")

  /** Equi-height histograms — the third piece of ANALYZE
    * ([[statsProfile]] marginals, [[statsCorr]] pairwise): per column,
    * [[HistBuckets]] buckets fenced at the exact interpolated i/B
    * percentiles, with per-bucket row count, exact NDV, and data
    * min/max — what a cost-based optimizer consumes for selectivity on
    * skewed columns. Fences come from the same rank-based plan as q20
    * (never a full-column aggregation buffer; the per-column fence rows
    * broadcast back over the corpus), bucket assignment is a codegen'd
    * when-chain per row, and the per-bucket stats are ordinary
    * partial-aggregable aggregates. ALL columns share ONE corpus pass:
    * a zero-shuffle `stack` Expand fans each scanned row to one
    * (column, value) row per profiled column, the shared persisted
    * [[valueHistogram]] collapses that to distinct values (the only
    * table scan, cache-deduped with the rank-percentile plan's own
    * read), and BOTH the fences and the per-bucket stats derive from
    * the histogram — n_rows is Σc, NDV is the bucket's histogram row
    * count (exact, no countDistinct expand), min/max are value maxima.
    * Bucket assignment touches distinct values only, so the
    * fences-back join moves a value-grid-bounded frame however many
    * columns ANALYZE profiles. Tie semantics are value-based on
    * purpose: a value with more
    * mass than a bucket's nominal height spills its whole tie group
    * into one bucket (l_quantity, 50 distinct values under heavy ties,
    * pins this path; l_extendedprice pins the near-unique path), which
    * keeps the histogram deterministic where a row-number split would
    * depend on physical row order. Comparison parity with the oracle is
    * exact for the q19 reason: duplicate-position fences are data
    * values, interpolated fences fall strictly between adjacent
    * distinct values, so an ULP of engine difference can never flip a
    * row's bucket.
    */
  def statsHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val B = HistBuckets
    // one scan fans to (g, v) rows for every profiled column — Expand,
    // no shuffle — collapsed once to the shared persisted histogram;
    // everything downstream (fences AND bucket stats) reads that
    val stackExpr =
      s"stack(${HistCols.size}, " +
        HistCols.map(c => s"'$c', cast($c as double)").mkString(", ") +
        ") as (g, v)"
    def vals: DataFrame = li.selectExpr(stackExpr)
    val hist = valueHistogram(vals)
    val ps = (1 until B).map(i => s"f$i" -> i.toDouble / B)
    val fences = rankPercentiles(vals, ps)
    val bucket = (1 until B).foldLeft(lit(1)) { (acc, i) =>
      acc + when($"v" > col(s"f$i"), 1).otherwise(0)
    }
    val lo = (2 to B).foldLeft(lit(null).cast("double")) { (acc, i) =>
      when($"bucket" === i, round(col(s"f${i - 1}"), 4)).otherwise(acc)
    }
    val hi = (1 until B).foldLeft(lit(null).cast("double")) { (acc, i) =>
      when($"bucket" === i, round(col(s"f$i"), 4)).otherwise(acc)
    }
    hist
      .join(broadcast(fences), "g")
      .withColumn("bucket", bucket)
      .withColumn("lo", lo)
      .withColumn("hi", hi)
      .groupBy($"g", $"bucket", $"lo", $"hi")
      .agg(
        sum($"c").as("n_rows"),
        // NDV counts non-null distinct VALUES (histogram rows), exactly
        // the old countDistinct(v) semantics: a nullable profiled column
        // contributes one (g, NULL) histogram row, which must count in
        // n_rows (the bucket's mass) but never in ndv
        count(when($"v".isNotNull, 1)).as("ndv"),
        round(min($"v"), 4).as("bucket_min"),
        round(max($"v"), 4).as("bucket_max")
      )
      .select(
        $"g".as("col"),
        $"bucket".cast("long").as("bucket"),
        $"lo", $"hi", $"n_rows", $"ndv", $"bucket_min", $"bucket_max"
      )
      .orderBy($"col", $"bucket")
  }

  /** Replication factor for the salted join: the small-but-not-broadcast
    * side is replicated ×SaltFactor, so one hot key's probe rows spread
    * over SaltFactor reducers instead of one.
    */
  val SaltFactor = 8

  /** Skew-mitigated big×big join via key salting — the manual fallback
    * for the case AQE's skew-join split cannot fix (a single join key
    * whose probe rows exceed one executor's memory, e.g. the null-like
    * "unknown user" key of a clickstream). The probe side (lineitem)
    * gets a deterministic per-row salt in [0, SaltFactor); the build
    * side (orders) is exploded ×SaltFactor; the join key becomes
    * (orderkey, salt) so each formerly-hot reducer partition is split
    * SaltFactor ways. Join output — and therefore the aggregate — is
    * IDENTICAL to the unsalted join (the oracle runs the plain join),
    * which is the whole point: salting changes the shuffle histogram,
    * never the result. `hint("merge")` pins sort-merge so the demo
    * exercises the shuffle path salting exists for (broadcast would
    * bypass skew entirely — and is the right answer only while the dim
    * side fits in memory). Revenue is summed in DECIMAL(18,2) like
    * every money aggregate in this file.
    */
  def q32SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables
      .lineitem(spark, dir)
      .withColumn(
        "salt",
        pmod(xxhash64($"l_orderkey", $"l_linenumber"), lit(SaltFactor)).cast("int")
      )
    val ord = Tables
      .orders(spark, dir)
      .withColumn("salt", explode(array((0 until SaltFactor).map(lit(_)): _*)))
    li
      .join(
        ord.hint("merge"),
        li("l_orderkey") === ord("o_orderkey") && li("salt") === ord("salt")
      )
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("revenue")
      )
      .orderBy($"o_orderpriority")
  }

}
