package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators over an event stream (ts, key, value, ...).
  * The reference sits on TimescaleDB (reference README.md "PostgreSQL +
  * TimescaleDB"), whose bread-and-butter is exactly these: time-bucketed
  * aggregation, gap-aware sessionization, downsampling, as-of joins.
  * Re-expressed as declarative Spark plans:
  *
  *  - tumbling/downsample → `groupBy(date_trunc)` — partial-aggregated
  *    map-side, single shuffle keyed on (bucket, series).
  *  - sliding/lag/sessionize → one `Window.partitionBy(key)` shuffle;
  *    frames are ROWS-bounded so Spark streams them without buffering
  *    whole partitions.
  *  - as-of join → union + last(ignoreNulls) over the time-ordered
  *    window: ONE shuffle on the join key, no per-row probe. This is the
  *    scalable alternative to an index nested-loop as-of join — at 100 TB
  *    both sides co-partition and the merge is linear per key.
  *
  * Sums that feed correctness oracles go through DECIMAL(18,6) so they
  * are order-independent and exact (SURVEY §5).
  */
object TimeSeries {

  private def dec(c: Column): Column = c.cast("decimal(18,6)")

  /** Group-cardinality bound for the cutoff-selection quantile
    * operators ([[exactQuantiles]], [[madReportFromMedian]]): their selection
    * maps are driver-literal per group — output-sized state, which is
    * only the right trade for per-SERIES reports. 10⁴ groups ≈ a few
    * MB of literal plan (the measured practical edge); beyond it the
    * honest answers are approx_percentile or a distributed rank
    * construction, and the operators fail at the first (group-row-
    * sized) collect rather than building a driver-sized plan. */
  val MaxQuantileGroups = 10000

  /** Tumbling-window aggregate: per (series, day-bucket) count/sum/avg. */
  def tumblingDaily(df: DataFrame, series: String, ts: String, value: String): DataFrame =
    df.groupBy(col(series), date_format(col(ts), "yyyy-MM-dd").as("day"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col(value))).cast("double").as("sum_value"))
      .withColumn("avg_value", round(col("sum_value") / col("n"), 6))

  /** Sliding mean over the last `frame`+1 rows per key, time-ordered.
    * Decimal window sum keeps the result order-exact. */
  def slidingAvg(df: DataFrame, key: String, ts: String, tie: String,
                 value: String, frame: Int): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
      .rowsBetween(-frame, Window.currentRow)
    df.withColumn("mavg",
      round(sum(dec(col(value))).over(w).cast("double") /
        count(lit(1)).over(w), 6))
  }

  /** Per-key delta vs the previous observation: value delta + elapsed µs. */
  def lagDelta(df: DataFrame, key: String, ts: String, tie: String, value: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    df.withColumn("prev_value", lag(col(value), 1).over(w))
      .withColumn("delta", col(value) - col("prev_value"))
      .withColumn("elapsed_us",
        unix_micros(col(ts)) - lag(unix_micros(col(ts)), 1).over(w))
  }

  /** Gap-based sessionization: a new session starts when the key is idle
    * longer than `gap`. Two stacked windows over the SAME partitioning —
    * Catalyst reuses one shuffle+sort for both. */
  def sessionize(df: DataFrame, key: String, ts: String, tie: String,
                 value: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    val newSession = when(
      unix_micros(col(ts)) - lag(unix_micros(col(ts)), 1).over(w) >
        gapSeconds * 1000000L, 1).otherwise(0)
    df.withColumn("session_id",
        sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(key), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        unix_micros(min(col(ts))).as("start_us"),
        unix_micros(max(col(ts))).as("end_us"),
        sum(dec(col(value))).cast("double").as("total_value"))
  }

  /** Skew-safe sessionize: identical output to `sessionize`, but the
    * per-key window is split over (key, time-chunk) so a hot key's
    * timeline spreads across `span / chunkSeconds` tasks instead of
    * collapsing into one window partition (the measured 2.56× one-key
    * straggler in the r4 skew suite).
    *
    * Two passes:
    *  1. local sessions within each (key, chunk) — same lag/cumsum
    *    window, partitioned by chunk too;
    *  2. chunk stitching on the per-(key, chunk) SUMMARY (first/last ts,
    *    local-session count — one row per chunk, independent of row
    *    count): a session continues across the boundary when
    *    `first(c) − last(c−1) ≤ gap`, so chunk c's global offset is
    *    Σ nloc(previous chunks) − Σ merges so far. The summary window is
    *    bounded by the chunk count, never by the hot key's row count.
    *
    * Global id = offset + local id reproduces `sessionize`'s numbering
    * exactly (spec-checked equal on uniform and one-key data). Cost on
    * non-skewed data: one extra (small) join vs the single-window
    * form — use this variant when keys can be hot.
    *
    * PRECONDITION: `ts` must be non-null. A null timestamp has no time
    * chunk (`__chunk` is NULL), so such rows would sit in their own
    * never-merged chunk, whereas plain `sessionize` sorts them first
    * within the key and merges them into session 0. Both chunked
    * variants share this precondition; [[sessionizeSkewSafe]] inherits
    * it only for rows routed to a HOT key. */
  def sessionizeChunked(df: DataFrame, key: String, ts: String, tie: String,
                        value: String, gapSeconds: Long,
                        chunkSeconds: Long = 86400L): DataFrame = {
    val gapUs = gapSeconds * 1000000L
    val rows = df.select(col(key), col(ts), col(tie), col(value))
      .withColumn("__us", unix_micros(col(ts)))
      .withColumn("__chunk", floor(col("__us") / (chunkSeconds * 1000000L)))
    val wc = Window.partitionBy(col(key), col("__chunk"))
      .orderBy(col("__us"), col(tie))
    val local = rows
      .withColumn("__new", when(
        col("__us") - lag(col("__us"), 1).over(wc) > gapUs, 1).otherwise(0))
      .withColumn("__lsid",
        sum(col("__new")).over(wc.rowsBetween(Window.unboundedPreceding, 0)))
    // one row per (key, chunk): reuses the window's (key, chunk) shuffle
    val summary = local.groupBy(col(key), col("__chunk"))
      .agg(min(col("__us")).as("__first"), max(col("__us")).as("__last"),
        (max(col("__lsid")) + 1).as("__nloc"))
    val wk = Window.partitionBy(col(key)).orderBy(col("__chunk"))
    val offsets = summary
      .withColumn("__merge", when(
        col("__first") - lag(col("__last"), 1).over(wk) <= gapUs, 1).otherwise(0))
      .withColumn("__offset",
        coalesce(sum(col("__nloc"))
          .over(wk.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) -
          sum(col("__merge")).over(wk.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col(key), col("__chunk"), col("__offset"))
    // NULL-safe key equality: a plain equi-join would silently drop a
    // NULL key's rows here (NULL never equals NULL), and the NULL key
    // is exactly the hot key this variant exists for
    local.join(
        offsets.withColumnRenamed(key, "__ok").withColumnRenamed("__chunk", "__oc"),
        col(key) <=> col("__ok") && col("__chunk") === col("__oc"))
      .drop("__ok", "__oc")
      .withColumn("session_id", col("__offset") + col("__lsid"))
      .groupBy(col(key), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("__us")).as("start_us"),
        max(col("__us")).as("end_us"),
        sum(dec(col(value))).cast("double").as("total_value"))
  }

  /** Hot-key-adaptive sessionize: identical output to `sessionize`, with
    * the chunked (skew-safe) plan applied ONLY to keys that are actually
    * hot. A cheap partial-aggregated count per key finds keys with more
    * than `hotRowThreshold` rows; those route through
    * [[sessionizeChunked]] (timeline sharded over time-chunks), the rest
    * through the plain single-window form. On uniform data the hot set
    * is empty and the only overhead is the count aggregation + a
    * broadcast-joined flag; on skewed data the hot keys no longer
    * collapse into one window partition. This is the window-operator
    * analog of AQE's skew-join split, which does not apply to windows. */
  def sessionizeSkewSafe(df: DataFrame, key: String, ts: String, tie: String,
                         value: String, gapSeconds: Long,
                         chunkSeconds: Long = 86400L,
                         hotRowThreshold: Long = 1000000L,
                         maxIsolatedHotKeys: Int = 256): DataFrame = {
    // runtime stats, AQE-style: one partial-aggregated count job finds
    // the hot keys (bounded: at most totalRows/threshold of them). The
    // plan is then CHOSEN on the driver, so the common uniform case
    // carries zero plan overhead beyond this count.
    val hotKeys = df.groupBy(col(key))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > hotRowThreshold)
      .select(col(key))
      .limit(maxIsolatedHotKeys + 1)
      .collect().map(_.get(0))
    if (hotKeys.isEmpty)
      // no skew: the plain single-window plan, untouched
      sessionize(df, key, ts, tie, value, gapSeconds)
    else if (hotKeys.length <= maxIsolatedHotKeys) {
      // a few whales: isolate them with literal IN filters (both push
      // down to the scan — no flag join) and shard only their timelines.
      // Routing is NULL-safe: `isin` is three-valued (NULL for a NULL
      // key), so without the explicit isNull/isNotNull arms a NULL-key
      // row would match NEITHER branch and silently vanish — and a NULL
      // key is a classic hot key, so it may legitimately be in the hot
      // set itself (collected as null from the count job).
      val nullIsHot = hotKeys.contains(null)
      val nonNullHot = hotKeys.filterNot(_ == null)
      val inHot =
        if (nonNullHot.nonEmpty) col(key).isin(nonNullHot: _*) else lit(false)
      val hotPred =
        if (nullIsHot) col(key).isNull || inHot
        else col(key).isNotNull && inHot
      val coldPred =
        if (nullIsHot) col(key).isNotNull && !inHot
        else col(key).isNull || !inHot
      sessionize(df.filter(coldPred), key, ts, tie, value, gapSeconds)
        .unionByName(sessionizeChunked(
          df.filter(hotPred), key, ts, tie, value, gapSeconds, chunkSeconds))
    } else
      // skew is pervasive, not a key list — chunk everything
      sessionizeChunked(df, key, ts, tie, value, gapSeconds, chunkSeconds)
  }

  /** Daily OHLC downsample per series: open/close by time order (min_by /
    * max_by — partial-aggregable, no window sort), high/low by value. */
  def downsampleOhlc(df: DataFrame, series: String, ts: String, value: String): DataFrame =
    df.groupBy(col(series), date_format(col(ts), "yyyy-MM-dd").as("day"))
      .agg(
        min_by(col(value), col(ts)).as("open"),
        max(col(value)).as("high"),
        min(col(value)).as("low"),
        max_by(col(value), col(ts)).as("close"),
        count(lit(1)).as("n"))

  /** Top-k keys by exact decimal total, deterministic tie-break on key. */
  def topkByTotal(df: DataFrame, key: String, value: String, k: Int): DataFrame =
    df.groupBy(col(key))
      .agg(sum(dec(col(value))).cast("double").as("total_value"))
      .orderBy(col("total_value").desc, col(key).asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("total_value").desc, col(key).asc)))

  /** Dense daily series per key with zero-filled gaps: the full
    * [min_day, max_day] span is generated with `sequence` + `explode`
    * (distributed — no driver-side calendar materialization) and
    * left-joined against the aggregated days. */
  def gapFillDaily(df: DataFrame, series: String, ts: String, value: String): DataFrame = {
    val daily = df.groupBy(col(series), to_date(col(ts)).as("d"))
      .agg(count(lit(1)).as("n"), sum(dec(col(value))).cast("double").as("sum_value"))
    val days = df.agg(to_date(min(col(ts))).as("lo"), to_date(max(col(ts))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("d"))
    df.select(col(series)).distinct().crossJoin(days)
      .join(daily, Seq(series, "d"), "left")
      .select(col(series), date_format(col("d"), "yyyy-MM-dd").as("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
  }

  /** EXACT per-group quantiles — Spark `percentile` semantics (linear
    * interpolation at position p·(n−1) over the sorted non-null
    * values, the same arithmetic as ANSI PERCENTILE_CONT) — with
    * BOUNDED aggregation state at any row volume. Spark's exact
    * `percentile` aggregate buffers EVERY value of a group in one
    * OpenHashMap (billions of doubles per group at 100 TB — the same
    * unbounded-per-group-state class as collect_list, which
    * CollectMinK eliminated for top-k); this is the ts23/rankSuite
    * cutoff construction applied to quantile SELECTION instead:
    *
    *  1. one pass: per-group approx_percentile CUTOFFS (bounded GK
    *     sketch) — cutoffs only balance the buckets, exactness never
    *     depends on them;
    *  2. range-bucket each row by "cutoffs strictly below" (ties never
    *     straddle a boundary — literal per-group cut arrays, no join)
    *     and take per-(group, bucket) EXACT counts → offsets;
    *  3. each quantile's target positions (floor/ceil of p·(n−1))
    *     locate their bucket via the offsets; ONLY those buckets
    *     (≤ 2·|ps| per group) are ranked, under a window partitioned
    *     by (group, bucket) — a spilling sort of ~n/parts rows, never
    *     an in-memory buffer of n; `parts` scales with the corpus;
    *  4. interpolate exactly as Percentile.getPercentile does:
    *     (ceil(h)−h)·v_lo + (h−floor(h))·v_hi — same operand order,
    *     bit-identical IEEE result (spec-pinned against the built-in
    *     on skewed/tied/tiny corpora).
    *
    * THREE bounded driver actions / input scans total (the rankSuite
    * job-budget discipline — the first, branch-materializing cut of
    * this operator cost 6+ jobs through localCheckpoints and measured
    * 6.3s on ts30 at sf0.1): cutoffs, bucket counts, and the pick all
    * COLLECT, every one O(groups × parts) — the same asymptotic class
    * as the operator's own per-group report output, never O(rows).
    * Offsets/targets/interpolation are driver arithmetic on those
    * tables; the result is a LocalRelation. For group cardinalities
    * where output-sized driver state is itself wrong, keep the same
    * construction with the three tables distributed (two extra joins'
    * latency); every committed consumer (ts9/ts30/s5) is a per-series
    * report over ≤ dozens of groups. Rows with null `value` or null
    * `group` are excluded (percentile / equi-join semantics, matching
    * the aggregate form). Returns (group, __n, __q0..__q{k-1}) —
    * callers rename/round. */
  def exactQuantiles(df: DataFrame, group: String, value: String,
                     ps: Seq[Double], parts: Int = 32): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0))
    require(parts >= 2)
    val spark = df.sparkSession
    val gType = df.schema(group).dataType
    // PERSIST the (group, value) projection for the selection's three
    // actions: the action COUNT is a strict dependency chain (cuts →
    // counts → pick — see the r16 negative result in the scaladoc
    // below), but the scans need not re-read parquet each time; two
    // narrow columns in RAM turn actions 2-3 into in-memory passes.
    // Unpersisted before return — the result is a LocalRelation, so
    // nothing downstream depends on the lineage.
    val t = df.select(col(group).as("__g"), col(value).cast("double").as("__v"))
      .filter(col("__v").isNotNull && col("__g").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val cutsByGroup = quantileCuts(t, "exactQuantiles", group, parts)
    val rows = selectQuantiles(t, cutsByGroup, ps)
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField(group, gType) +:
        org.apache.spark.sql.types.StructField("__n",
          org.apache.spark.sql.types.LongType) +:
        ps.indices.map(i => org.apache.spark.sql.types.StructField(s"__q$i",
          org.apache.spark.sql.types.DoubleType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava, schema)
    } finally t.unpersist()
  }

  /** Action 1 of the bounded cutoff selection: per-group
    * approx_percentile CUTOFFS (bounded GK sketch state) over a
    * prepared non-null (__g, __v) projection. GUARDED group
    * cardinality: the selection maps are driver-literal per group
    * (O(groups × parts) plan state — same class as the operator's own
    * per-group report), which is only right for per-SERIES reports
    * (ts9/ts30/s5: ≤ dozens of groups). The guard runs AFTER a plain
    * parallel collect, deliberately: a limit-bounded take either runs
    * Spark's incremental executeTake (4 sequential jobs at 32
    * partitions, +0.6-0.9s per action at sf1) or — coalesced to dodge
    * that — serializes the final GK sketch merge into one task; both
    * lose. The collect itself is group-row-sized (~300B/group: a
    * 10⁵-group caller materializes ~30MB then fails the require), and
    * the driver-sized LITERAL PLAN — the actual scale hazard — is
    * never built. Shared by [[exactQuantiles]] and QuantileCache (the
    * suite-level memo that runs ONE selection per corpus for
    * ts9/ts30/s5). */
  private[graft] def quantileCuts(t: DataFrame, opLabel: String,
                                  groupLabel: String,
                                  parts: Int = 32): Seq[(Any, Seq[Double])] = {
    val probsArr = (1 until parts).map(_.toDouble / parts).mkString(",")
    val cutsRaw = t.groupBy(col("__g"))
      .agg(expr(s"approx_percentile(__v, array($probsArr), 1000)").as("__cuts"))
      .collect().toSeq
    require(cutsRaw.length <= MaxQuantileGroups,
      s"$opLabel: more than $MaxQuantileGroups groups in '$groupLabel' — " +
        "the cutoff-selection state is O(groups × parts) on the driver, " +
        "sized for per-series reports. For high-cardinality groups use " +
        "approx_percentile, or rankSuite's distributed construction.")
    cutsRaw.map(r => (r.get(0),
      Option(r.getSeq[Double](1)).getOrElse(Nil).distinct.sorted))
  }

  /** [[exactQuantiles]]' selection core over a PRE-BUCKETED cut list
    * (per group): exact counts + offsets (action), rank-and-pick the
    * target buckets (action), interpolate driver-side. `t` must be
    * (__g, __v double, non-null). Returns one Seq(group, n, q*) per
    * group. Factored out so the MAD report ([[madReportFromMedian]])
    * can reuse the VALUE ordering's cutoffs for the deviation pass
    * (|cut − median| is a valid, balanced cut list for |v − median|)
    * instead of paying a second approx_percentile scan. */
  /** The per-row range-bucket expression over a literal group→cuts
    * map: #cutoffs STRICTLY below __v — equal values always share a
    * bucket, buckets are contiguous under the value ordering. */
  private def bucketCol(cutsByGroup: Seq[(Any, Seq[Double])])
      : org.apache.spark.sql.Column = {
    val cutMap = map(cutsByGroup.flatMap { case (g, cs) =>
      Seq(lit(g), lit(cs.toArray)) }: _*)
    size(filter(element_at(cutMap, col("__g")), c => c < col("__v")))
  }

  private[graft] def selectQuantiles(t: DataFrame,
                                     cutsByGroup: Seq[(Any, Seq[Double])],
                                     ps: Seq[Double]): Seq[Seq[Any]] = {
    if (cutsByGroup.isEmpty) return Nil
    selectQuantilesBucketed(t.withColumn("__rb", bucketCol(cutsByGroup)),
      cutsByGroup, ps)
  }

  /** [[selectQuantiles]] over an input that ALREADY carries the
    * `__rb` range-bucket column (r18: madReportFromMedian persists
    * (__g, __v, __rb) once, so the counts pass, the pick pass and the
    * outlier recount never re-evaluate the bucket HOF or the
    * |v − median| map lookup per action). */
  private[graft] def selectQuantilesBucketed(tb: DataFrame,
                                             cutsByGroup: Seq[(Any, Seq[Double])],
                                             ps: Seq[Double]): Seq[Seq[Any]] = {
    if (cutsByGroup.isEmpty) return Nil
    val sep = "\u0001" // (group, bucket) key separator for the pick filter map
    // range bucket via [[bucketCol]]'s literal group→cuts map + array
    // HOF, deliberately: the "obvious" codegen-friendlier alternative
    // (per-group CASE WHEN chains of 31 fused comparisons) MEASURED
    // ~2x slower on the sf0.1 events scan (ts30 4.1s vs 1.9s, ts9
    // 1.4s vs 0.65s, 5-rep medians) — 155 when-branches per row beat
    // 31 interpreted lambda steps only on paper. Keep the measured
    // winner.
    // action 2: per-(group, bucket) EXACT counts (groups × parts rows)
    val cnt: Map[Any, Seq[(Int, Long)]] =
      tb.groupBy(col("__g"), col("__rb")).count()
        .collect().toSeq.map(r => (r.get(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (g, xs) => g -> xs.map(x => (x._2, x._3)).sortBy(_._1) }
    // driver arithmetic: cumulative offsets locate each target
    // position's (bucket, local index)
    val nByG = cnt.map { case (g, xs) => g -> xs.map(_._2).sum }
    val targetLoc = scala.collection.mutable.Map[(Any, Int, Int), (Int, Long)]()
    val needLn = scala.collection.mutable.Map[(Any, Int), Set[Long]]()
      .withDefaultValue(Set.empty)
    for ((g, xs) <- cnt) {
      val offs = xs.map(_._1).zip(xs.map(_._2).scanLeft(0L)(_ + _)) // (rb, offBefore)
      val n = nByG(g)
      for ((p, pi) <- ps.zipWithIndex) {
        val h = p * (n - 1).toDouble
        for ((r, w) <- Seq((math.floor(h).toLong, 0), (math.ceil(h).toLong, 1))) {
          val i = offs.lastIndexWhere(_._2 <= r)
          val (rb, off) = offs(i)
          targetLoc((g, pi, w)) = (rb, r - off)
          needLn((g, rb)) = needLn((g, rb)) + (r - off)
        }
      }
    }
    // action 3: rank ONLY the needed buckets, pick the target rows
    val bMap = map(needLn.keys.toSeq.groupBy(_._1).toSeq.flatMap {
      case (g, ks) => Seq(lit(g), lit(ks.map(_._2).toArray)) }: _*)
    val liMap = map(needLn.toSeq.flatMap { case ((g, rb), lns) =>
      Seq(lit(s"$g$sep$rb"), lit(lns.toArray)) }: _*)
    val picked: Map[(Any, Int, Long), Double] =
      tb.filter(array_contains(element_at(bMap, col("__g")), col("__rb")))
        .withColumn("__ln",
          row_number().over(Window.partitionBy(col("__g"), col("__rb"))
            .orderBy(col("__v"))).cast("long") - 1L)
        .filter(array_contains(
          element_at(liMap, concat_ws(sep, col("__g"), col("__rb"))),
          col("__ln")))
        .select(col("__g"), col("__rb"), col("__ln"), col("__v"))
        .collect().toSeq
        .map(r => ((r.get(0), r.getInt(1), r.getLong(2)), r.getDouble(3)))
        .toMap
    // Percentile.getPercentile arithmetic, operand order preserved
    cutsByGroup.flatMap { case (g, _) =>
      nByG.get(g).map { n =>
        val qs = ps.indices.map { pi =>
          val h = ps(pi) * (n - 1).toDouble
          val (rbL, liL) = targetLoc((g, pi, 0))
          val (rbH, liH) = targetLoc((g, pi, 1))
          val vlo = picked((g, rbL, liL))
          val vhi = picked((g, rbH, liH))
          if (math.floor(h) == math.ceil(h)) vlo
          else (math.ceil(h) - h) * vlo + (h - math.floor(h)) * vhi
        }
        (g +: (n: java.lang.Long) +: qs.map(q => q: java.lang.Double)): Seq[Any]
      }
    }
  }

  /** Spark round(_, 6) semantics (BigDecimal.valueOf + HALF_UP), so
    * rounded medians/MADs are the identical IEEE doubles both engines
    * reuse. */
  private[graft] def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
    .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private[graft] def madReportSchema(series: String,
      sType: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    StructType(Seq(StructField(series, sType), StructField("med", DoubleType),
      StructField("mad", DoubleType), StructField("n", LongType),
      StructField("n_outliers", LongType),
      StructField("out_rate", DoubleType)))
  }

  /** Robust per-series outlier report: median / MAD / outlier counts
    * under the classic |v − median| > k·MAD rule (Hampel filter — the
    * robust anomaly gate a telemetry or training-metrics pipeline runs
    * where mean/stddev (ts19's z-score) are themselves dragged by the
    * outliers they should catch).
    *
    * Engine-exactness: both medians are [[exactQuantiles]]' exact
    * PERCENTILE_CONT, ROUNDED TO 6 DP before re-use — deviations are
    * |v − med6| of identical IEEE doubles on both engines, and the
    * outlier threshold k·mad6 is one exact double product, so the
    * strict > compare agrees bit-for-bit. Shape: both medians run the
    * bounded cutoff-selection construction (never Spark's
    * all-values-in-one-buffer `percentile` aggregate), sequentially —
    * the MAD is a median OF the deviations, which need the first
    * median — but the deviation ordering's cut list derives from the
    * VALUE cuts for free (|cut − median| folds the value partition
    * around the median; still a valid bucketing, and exactness never
    * depended on balance), so the whole operator is SIX bounded
    * actions / input scans: value cuts; median counts + pick; dev
    * counts + pick; outlier recount (at the caller's action). Every
    * driver table is series- or (series × parts)-sized — the same
    * output-sized budget as [[exactQuantiles]].
    *
    * This is the post-median half (actions 4-6: deviation counts +
    * pick over the derived cut list, eager outlier recount): the
    * caller supplies the cutoffs and the 6-dp rounded median (actions
    * 1-3) — QuantileCache feeds it the suite-shared cutoffs/median (its
    * memoized ts9 selection). `t` is the (__g, __v) projection the
    * caller keeps persisted across these three actions. */
  private[graft] def madReportFromMedian(t: DataFrame, series: String,
      sType: org.apache.spark.sql.types.DataType,
      cutsByGroup: Seq[(Any, Seq[Double])],
      med: Map[Any, Double], n: Map[Any, Long], k: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = t.sparkSession
    val medMap = map(med.toSeq.flatMap { case (g, m) =>
      Seq(lit(g), lit(m)) }: _*)
    // the deviation cut list derives from the value cuts driver-side
    val devCuts = cutsByGroup.map { case (g, cs) =>
      g -> cs.map(c => math.abs(c - med(g))).distinct.sorted }
    // r18: persist the deviation AND its range bucket ONCE — the
    // counts pass, the pick pass and the outlier recount each
    // re-evaluated |v − median| (a per-row literal-map lookup) and
    // the first two each re-ran the 31-step bucket HOF. Three narrow
    // columns in RAM for exactly three chained actions, unpersisted
    // before returning (the report is a LocalRelation).
    val devB = t.select(col("__g"),
        abs(col("__v") - element_at(medMap, col("__g"))).as("__v"))
      .withColumn("__rb", bucketCol(devCuts))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // actions 4-5: exact MAD over the derived deviation cut list
    val mad: Map[Any, Double] = selectQuantilesBucketed(devB, devCuts, Seq(0.5))
      .map(r => r(0) -> r6(r(2).asInstanceOf[Double])).toMap
    val madMap = map(mad.toSeq.flatMap { case (g, m) =>
      Seq(lit(g), lit(m)) }: _*)
    // action 6: outlier recount — conditional sum, not
    // filter-then-count: a series with zero outliers must still report
    // (n_outliers = 0). Run EAGERLY (groups-sized collect, same
    // guarded budget) so the report is a LocalRelation and the
    // persisted projection can be dropped before returning.
    val outCnt: Map[Any, Long] = devB.groupBy(col("__g")).agg(
        sum(when(col("__v") > lit(k.toDouble) * element_at(madMap, col("__g")), 1L)
          .otherwise(0L)).as("n_outliers"))
      .collect().toSeq.map(r => r.get(0) -> r.getLong(1)).toMap
    spark.createDataFrame(
      med.keys.toSeq.map { g =>
        val o = outCnt(g)
        org.apache.spark.sql.Row(g, med(g), mad(g), n(g), o,
          r6(o.toDouble / n(g))) // same BigDecimal HALF_UP as round(_, 6)
      }.asJava,
      madReportSchema(series, sType))
    } finally devB.unpersist()
  }

  /** Exact distinct cardinality per series (the oracle-checkable variant;
    * the HLL `approx_count_distinct` twin is spec-covered). */
  def distinctKeys(df: DataFrame, series: String, key: String): DataFrame =
    df.groupBy(col(series)).agg(
      countDistinct(col(key)).as("n_keys"),
      count(lit(1)).as("n_events"))

  /** Top-k keys per series by exact decimal total — the per-group
    * variant of `topkByTotal`: one aggregation shuffle, then a window
    * over the (much smaller) aggregate. */
  def groupedTopk(df: DataFrame, series: String, key: String, value: String,
                  k: Int): DataFrame = {
    val w = Window.partitionBy(col(series))
      .orderBy(col("total_value").desc, col(key).asc)
    df.groupBy(col(series), col(key))
      .agg(sum(dec(col(value))).cast("double").as("total_value"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Retention cohorts: users grouped by first-seen day ("cohort"),
    * counted per whole-day offset they were active afterwards. Two
    * aggregations, both keyed on user then (cohort, offset) — the
    * first-seen computation is a partial-agg min, never a window over
    * the raw stream. */
  def retentionCohorts(df: DataFrame, key: String, ts: String): DataFrame = {
    val firstSeen = df.groupBy(col(key))
      .agg(to_date(min(col(ts))).as("cohort_day"))
    df.select(col(key), to_date(col(ts)).as("active_day")).distinct()
      .join(firstSeen, Seq(key))
      .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
        datediff(col("active_day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col(key)).as("n_users"))
  }

  /** Ordered funnel: per stage, how many keys reached it respecting
    * stage order (stage i's first occurrence must be at-or-after stage
    * i-1's). One conditional-min aggregation per stage over a single
    * grouping — no joins, no windows. */
  def funnel(df: DataFrame, key: String, ts: String, typeCol: String,
             stages: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // first reachable-in-order timestamp per stage, per key
    val mins = stages.map(s =>
      min(when(col(typeCol) === s, col(ts))).as(s"__t_$s"))
    val perKey = df.groupBy(col(key)).agg(mins.head, mins.tail: _*)
    // stage reached if its min-ts exists and is >= the previous
    // reached stage's ts (cumulative)
    val reached = stages.indices.map { i =>
      stages.take(i + 1).map(s => col(s"__t_$s"))
        .reduceLeft((prev, cur) => when(prev.isNotNull && cur >= prev, cur))
    }
    val flags = perKey.select(
      reached.zipWithIndex.map { case (c, i) =>
        c.isNotNull.cast("long").as(s"__r$i")
      }: _*)
    val counts = flags.agg(
      sum(col("__r0")).as("c0"),
      stages.indices.drop(1).map(i => sum(col(s"__r$i")).as(s"c$i")): _*)
    // unpivot the single counts row instead of unioning one SELECT per
    // stage: the union form re-planned the whole scan→aggregate chain
    // per stage (N scans, 2N exchanges — Catalyst does not share the
    // duplicated subtree), the explode keeps it at one
    counts.select(explode(array(stages.zipWithIndex.map { case (s, i) =>
        struct(lit(i + 1).as("stage_idx"), lit(s).as("stage"),
          col(s"c$i").as("n_keys"))
      }: _*)).as("__r"))
      .select(col("__r.stage_idx"), col("__r.stage"), col("__r.n_keys"))
      .orderBy("stage_idx")
  }

  /** Interval (range) join, bucketized: for each probe row, the number
    * of build rows with the same key in `[probeTs - windowUs, probeTs)`.
    *
    * A naive range join is O(n·m) per key; instead both sides bucket by
    * `windowUs`, the build side is replicated into its own and the next
    * bucket (a build row can only match probes in those two), and the
    * range condition finishes the equi-join. At 100 TB this is two
    * shuffles on (key, bucket) with a 2× replication of the smaller
    * side — the standard scalable band-join shape. */
  def intervalCount(probe: DataFrame, build: DataFrame, key: String,
                    ts: String, probeId: String, windowUs: Long): DataFrame = {
    val p = probe.select(col(probeId), col(key), unix_micros(col(ts)).as("__pus"))
      .withColumn("__b", floor(col("__pus") / windowUs))
    val b = build.select(col(key), unix_micros(col(ts)).as("__bus"))
      .withColumn("__b",
        explode(array(floor(col("__bus") / windowUs), floor(col("__bus") / windowUs) + 1)))
    val matches = p.join(b, Seq(key, "__b"))
      .filter(col("__bus") >= col("__pus") - windowUs && col("__bus") < col("__pus"))
      .groupBy(col(probeId)).agg(count(lit(1)).as("__n"))
    probe.select(col(probeId), col(key), unix_micros(col(ts)).as("ts_us"))
      .join(matches, Seq(probeId), "left_outer")
      .withColumn("n_matches", coalesce(col("__n"), lit(0L))).drop("__n")
  }

  /** Exponentially-weighted moving average over the last `lags`+1 rows
    * per key (weights alpha^j, normalized over the rows actually
    * present). A fixed-depth bank of `lag()` columns keeps the whole
    * computation in one ROWS window — no UDAF state, codegen'd. */
  def ewma(df: DataFrame, key: String, ts: String, tie: String,
           value: String, alpha: Double, lags: Int): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    val terms = (1 to lags).map { j =>
      val lj = lag(col(value), j).over(w)
      (when(lj.isNotNull, lj * math.pow(alpha, j)).otherwise(lit(0.0)),
       when(lj.isNotNull, lit(math.pow(alpha, j))).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).foldLeft(col(value).cast("double"))(_ + _)
    val den = terms.map(_._2).foldLeft(lit(1.0))(_ + _)
    df.select(col(key), col(tie), unix_micros(col(ts)).as("ts_us"), col(value),
      round(num / den, 6).as("ewma"))
  }

  /** Per-series z-score anomalies. Mean and E[x²] come from DECIMAL
    * sums (order-independent, exact) so the derived std and z-scores
    * are bit-identical across engines and partitionings; the tiny
    * per-series stats broadcast back onto the scan. Constant series
    * (std = 0) are excluded up front — z would be 0/0 = NaN there, and
    * NaN's compares-greater ordering would flag every row of a flat
    * series as anomalous. The oracle mirrors the guard. */
  def zscoreAnomalies(df: DataFrame, series: String, id: String,
                      value: String, threshold: Double): DataFrame = {
    val stats = df.groupBy(col(series))
      .agg(
        (sum(dec(col(value))).cast("double") / count(lit(1))).as("mean"),
        (sum((col(value) * col(value)).cast("decimal(28,6)")).cast("double") /
          count(lit(1))).as("ex2"))
      .select(col(series), col("mean"),
        sqrt(col("ex2") - col("mean") * col("mean")).as("std"))
      .filter(col("std") > 0)
    df.join(broadcast(stats), series)
      .withColumn("z", round((col(value) - col("mean")) / col("std"), 6))
      .filter(abs(col("z")) >= threshold)
      .select(col(id), col(series), col(value), col("z"))
  }

  /** Seasonal (hour-of-day) anomaly profile per series: the classic
    * seasonal-naive baseline — each (series, hour-of-day) slot gets its
    * own decimal-exact mean/std (the ts19 machinery applied per
    * seasonal slot), and the report counts how many observations sit
    * ≥ `threshold`σ from THEIR slot's baseline. Two corpus scans: one
    * slot-sized aggregate (≤ series×24 rows, map-side partial), one
    * broadcast-join recount — the slot table never grows with the
    * corpus, so the shape is two linear passes at any scale. Constant
    * slots (std = 0) report zero anomalies rather than NaN-flagging
    * every row (the ts19 guard, applied per slot). */
  def seasonalAnomalies(df: DataFrame, series: String, ts: String,
                        value: String, threshold: Double): DataFrame = {
    val slotted = df.select(col(series), hour(col(ts)).as("hod"),
      col(value).cast("double").as("__v"))
    val stats = slotted.groupBy(col(series), col("hod"))
      .agg(
        (sum(dec(col("__v"))).cast("double") / count(lit(1))).as("mean"),
        (sum((col("__v") * col("__v")).cast("decimal(28,6)")).cast("double") /
          count(lit(1))).as("ex2"))
      .select(col(series), col("hod"), col("mean"),
        sqrt(col("ex2") - col("mean") * col("mean")).as("std"))
    slotted.join(broadcast(stats), Seq(series, "hod"))
      .groupBy(col(series), col("hod"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("std") > 0 &&
            abs(round((col("__v") - col("mean")) / col("std"), 6)) >= threshold,
          lit(1L)).otherwise(lit(0L))).as("n_anom"),
        round(first(col("mean")), 6).as("mean_r"),
        round(first(col("std")), 6).as("std_r"))
      .withColumn("anom_rate",
        round(col("n_anom") / col("n_events").cast("double"), 6))
      .orderBy(col(series), col("hod"))
  }

  /** Seasonality-strength report per series — the variance-ratio
    * statistic next to [[seasonalAnomalies]]'s per-slot profile: how
    * much of a series' variance the hour-of-day seasonal baseline
    * explains, strength = 1 − SS_resid/SS_total (STL's seasonal
    * strength with the slot-mean baseline). Everything reduces to
    * per-(series, slot) moment sums (n, Σv, Σv²) — ONE slot-sized
    * aggregate off one scan, the ts31 shape — so SS_total comes from
    * the decimal-exact series totals and SS_resid from the per-slot
    * identity Σv² − (Σv)²/n. The ≤ 24 per-slot residual contributions
    * are floor-quantized to 1e-6 micro-units BEFORE the cross-slot sum
    * (a float sum over slots would be accumulation-order-dependent —
    * the ts32 quantize-then-sum pattern), so the report is identical at
    * any partitioning. Output is series-sized. */
  def seasonalStrength(df: DataFrame, series: String, ts: String,
                       value: String): DataFrame = {
    val slotted = df.select(col(series), hour(col(ts)).as("hod"),
      col(value).cast("double").as("__v"))
    val slots = slotted.groupBy(col(series), col("hod"))
      .agg(count(lit(1)).as("__n"),
        sum(dec(col("__v"))).as("__s"),
        sum((col("__v") * col("__v")).cast("decimal(28,6)")).as("__q"))
    val perSlot = slots.withColumn("__ssr_q6",
      floor((col("__q").cast("double") -
        col("__s").cast("double") * col("__s").cast("double") /
          col("__n")) * lit(1000000.0)).cast("long"))
    perSlot.groupBy(col(series))
      .agg(
        sum(col("__n")).as("n_events"),
        count(lit(1)).as("n_slots"),
        sum(col("__s")).as("__st"),
        sum(col("__q")).as("__qt"),
        sum(col("__ssr_q6")).as("__ssrq"))
      .withColumn("__sst",
        col("__qt").cast("double") -
          col("__st").cast("double") * col("__st").cast("double") /
            col("n_events"))
      .select(col(series), col("n_events"), col("n_slots"),
        round(col("__sst"), 6).as("ss_total_r"),
        round(col("__ssrq") / lit(1000000.0), 6).as("ss_resid_r"),
        when(col("__sst") > 0,
          round(lit(1.0) - (col("__ssrq") / lit(1000000.0)) / col("__sst"), 6))
          .as("seasonal_strength"))
      .orderBy(col(series))
  }

  /** Per-key CUSUM drift (maximum drawup of the centered cumulative
    * sum): rank keys by how far their series drifts from its own mean
    * — the change-detection statistic max_t (C_t − min_{s≤t} C_s) with
    * C_t = Σ (v − mean_key), reported for the top `k` keys. All
    * arithmetic after the decimal-exact per-key mean is INTEGER:
    * deviations are floor-quantized to 1e-6 micro-units BEFORE the
    * running sum (the x20/x23 quantize-then-sum pattern), so the
    * cumulative path, the prefix-min, and the drawup are exact int64
    * at every partitioning. Shape: one key-sized aggregate, one window
    * shuffle on the key (each key's rows sort within their own
    * partition — no global order), and a TakeOrdered top-k (no
    * total-order exchange). */
  def cusumDrift(df: DataFrame, key: String, ts: String, tie: String,
                 value: String, k: Int): DataFrame = {
    val means = df.groupBy(col(key))
      .agg((sum(dec(col(value))).cast("double") / count(lit(1))).as("__mean"))
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    val cum = df.join(broadcast(means), key)
      .withColumn("__dev_q6",
        floor((col(value) - col("__mean")) * lit(1000000.0)).cast("long"))
      .withColumn("__cum",
        sum(col("__dev_q6")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__runmin",
        min(col("__cum")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    cum.groupBy(col(key))
      .agg(count(lit(1)).as("n_events"),
        max(col("__cum") - col("__runmin")).as("__drift_q6"))
      .withColumn("drift", round(col("__drift_q6") / lit(1000000.0), 6))
      .drop("__drift_q6")
      .orderBy(col("drift").desc, col(key))
      .limit(k)
  }

  /** Heartbeat/SLA gap report per key — the uptime statistic a
    * monitoring pipeline publishes over an expected-cadence signal
    * (Prometheus's `up`/absent() family as a batch report): per key,
    * inter-sample gaps from one lag window; a gap is an OUTAGE when it
    * exceeds 2·expected (integer µs comparison), downtime is the µs
    * beyond the expected cadence (Σ max(gap − E, 0)), and uptime is
    * 1 − downtime/span. Everything stays exact int64 µs until the one
    * rounded ratio; one window shuffle on the key, key-sized output.
    * Keys with a single sample have no span and report NULL uptime. */
  def heartbeatGaps(df: DataFrame, key: String, ts: String, tie: String,
                    expectedUs: Long): DataFrame = {
    // order on the projected µs column (monotone in ts) so the window
    // runs after the timestamp is projected away
    val w = Window.partitionBy(col(key)).orderBy(col("__us"), col(tie))
    df.select(col(key), unix_micros(col(ts)).as("__us"), col(tie))
      .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(w))
      .groupBy(col(key))
      .agg(
        count(lit(1)).as("n_samples"),
        (max(col("__us")) - min(col("__us"))).as("span_us"),
        sum(when(col("__gap") > 2 * expectedUs, lit(1L)).otherwise(lit(0L)))
          .as("n_outages"),
        max(col("__gap")).as("longest_gap_us"),
        // CASE form, not greatest(): the first row's NULL gap must
        // contribute 0 identically on both engines
        sum(when(col("__gap") > expectedUs, col("__gap") - expectedUs)
          .otherwise(lit(0L))).as("downtime_us"))
      .withColumn("uptime_frac",
        when(col("span_us") > 0,
          round(lit(1.0) - col("downtime_us") / col("span_us").cast("double"), 6)))
      .orderBy(col(key))
  }

  /** Counter-rate with reset detection (the Prometheus/TimescaleDB
    * `rate()`/`increase()` semantics): per key, each step contributes
    * `v - prev` when the counter moved forward, or `v` after a reset
    * (counter dropped). One window shuffle on the key; the increase sum
    * is decimal-exact. Keys need ≥2 samples for a rate. */
  def counterRate(df: DataFrame, key: String, ts: String, tie: String,
                  value: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    val prev = lag(col(value), 1).over(w)
    val step = when(prev.isNull, lit(null))
      .when(col(value) >= prev, col(value) - prev)
      .otherwise(col(value)) // reset: the new value is the post-reset increase
    df.select(col(key), unix_micros(col(ts)).as("__us"), col(tie),
        col(value), step.as("__inc"))
      .groupBy(col(key))
      .agg(
        count(lit(1)).as("n_samples"),
        sum(dec(col("__inc"))).cast("double").as("total_increase"),
        (max(col("__us")) - min(col("__us"))).as("elapsed_us"))
      .filter(col("elapsed_us") > 0)
      .withColumn("rate_per_sec",
        round(col("total_increase") / (col("elapsed_us") / 1000000.0), 6))
  }

  /** Time-weighted average of a step series per key over [t1, t2):
    * each value holds until the next event (or t2), so the weight is
    * the µs until then. One window shuffle on the key; the weighted
    * sum goes through DECIMAL(28,6) for order-independence. */
  def timeWeightedAvg(df: DataFrame, key: String, ts: String, tie: String,
                      value: String, t1: Column, t2: Column): DataFrame = {
    val in = df.filter(col(ts) >= t1 && col(ts) < t2)
      .select(col(key), col(tie), unix_micros(col(ts)).as("__us"), col(value))
    val w = Window.partitionBy(col(key)).orderBy(col("__us"), col(tie))
    in.withColumn("__end", coalesce(lead(col("__us"), 1).over(w), unix_micros(t2)))
      .withColumn("__w", col("__end") - col("__us"))
      .groupBy(col(key))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum((col(value) * col("__w")).cast("decimal(28,6)")).cast("double") /
          sum(col("__w")), 6).as("twa"))
  }

  /** EXACT global row_number over `order` (whose FIRST key must be the
    * numeric `rangeCol`, `desc`-ordered accordingly) WITHOUT a
    * single-task total sort — the x14-documented cutoff pattern,
    * realized: approx_percentile cutoffs split the value range into
    * ~`parts` contiguous buckets map-side (ties NEVER straddle a
    * boundary: assignment counts cutoffs STRICTLY beyond the value, so
    * equal values share a bucket), per-bucket EXACT counts become
    * row-number offsets, and each bucket sorts only its own rows under
    * a partitioned window. Exactness does not depend on the cutoffs —
    * they only balance the buckets (skew in a single tied value still
    * concentrates that tie class in one bucket; at 100 TB the tie
    * class of a CONTINUOUS ranking key is small by construction).
    *
    * Driver-side state is bounded and constant-sized: one
    * approx_percentile row (parts−1 doubles) + ≤parts count rows —
    * the same bounded-probe budget as ts4's hot-key router, never
    * O(distinct keys). */
  /** Range-bucket id from a cutoff list: the count of cutoffs
    * STRICTLY beyond the value under the requested direction — equal
    * values always share a bucket, buckets are contiguous under the
    * ordering. */
  private def rbCol(cuts: Seq[Double], desc: Boolean, v: Column): Column =
    if (cuts.isEmpty) lit(0)
    else if (desc) size(filter(lit(cuts.toArray), c => c > v))
    else size(filter(lit(cuts.toArray), c => c < v))

  /** Row-number offset of each range bucket from the collected
    * per-bucket counts (cumulative counts of earlier buckets). */
  private def offsetCol(counts: Seq[(Int, Long)], rb: Column): Column =
    if (counts.isEmpty) lit(0L)
    else element_at(
      map(counts.map(_._1)
        .zip(counts.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*), rb)

  /** The ts23 ranking-function suite — rank/dense_rank/percent_rank/
    * cume_dist on a coarse tie key plus row_number/ntile on a total
    * order — WITHOUT any corpus-wide single-task window sort (the r12
    * verdict's one scale-killer: `Window.orderBy` with no partition
    * key puts the whole per-user totals table in ONE task at 10⁸+
    * users). Everything derives from ONE distributed global
    * row_number (range-cutoff buckets + exact offsets — [[rbCol]]/
    * [[offsetCol]]) plus aggregate-sized artifacts:
    *
    *  - `rn` — the distributed row_number itself (cutoff buckets +
    *    exact offsets).
    *  - `rnk`/`pct`/`cd` — because `bucket` is MONOTONE in the
    *    ordering value, each tie class occupies a contiguous rn range:
    *    rank = min(rn), cume_dist = max(rn)/N over the tie class —
    *    per-bucket min/max/count come from a map-side-combined groupBy
    *    (skew-safe: no tie-class window sort), joined back on bucket.
    *  - `drnk` — a SECOND distributed row_number over the
    *    histogram-sized distinct-bucket table (dense_rank of a tie
    *    class = its index among distinct keys).
    *  - `quartile` — pure arithmetic on (rn, N): ANSI ntile tiles are
    *    ⌈N/t⌉-sized for the first N mod t, ⌊N/t⌋ after.
    *
    * The exact-window twin (RankSuiteSpec.rankSuiteWindow, test tree)
    * is the DuckDB-oracle shape and is spec-pinned equal on a skewed
    * corpus — the same cross-derivation proof pattern as t15. */
  def rankSuite(totals: DataFrame, user: String, value: String,
                bucket: String, tiles: Int, parts: Int = 32): DataFrame = {
    // materialize the (small, aggregate-sized) totals once: the suite
    // runs several bounded driver actions (cutoffs, offsets, histogram
    // ranks), and without the checkpoint each re-executes the full
    // upstream aggregation — measured +1.1s on ts23's 0.12s events
    // rollup at sf0.1
    val t = totals.localCheckpoint()
    // driver-action budget beyond the checkpoint: TWO bounded
    // collects (each job cost ~0.2s of pure scheduling at local[32]
    // dominates this aggregate-sized input — the first cut ran one
    // percentile + one counts job PER ordering, 5 actions, +1.1s)
    val probsArr = (1 until parts).map(_.toDouble / parts).mkString(",")
    // 1: cutoff lists for BOTH orderings (value for rn, bucket for
    //    the histogram's dense ranks) in ONE pass
    val cutRow = t.agg(
        expr(s"approx_percentile(cast($value as double), array($probsArr))").as("cv"),
        expr(s"approx_percentile(cast($bucket as double), array($probsArr))").as("cb"))
      .head()
    def cutsOf(i: Int): Seq[Double] =
      if (cutRow.isNullAt(i)) Nil else cutRow.getSeq[Double](i).distinct
    val rbV = rbCol(cutsOf(0), desc = true, col(value).cast("double"))
    val rbB = rbCol(cutsOf(1), desc = true, col(bucket).cast("double"))
    // 2: per-range-bucket EXACT counts for both orderings in one
    //    action (rows under rbV; distinct tie buckets under rbB)
    val both = t.select(lit(0).as("__k"), rbV.as("__rb"))
      .unionByName(t.select(col(bucket)).distinct()
        .select(lit(1).as("__k"), rbB.as("__rb")))
      .groupBy(col("__k"), col("__rb")).count()
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    def countsOf(k: Int): Seq[(Int, Long)] =
      both.filter(_._1 == k).map(x => (x._2, x._3)).sortBy(_._1).toSeq
    val (countsV, countsB) = (countsOf(0), countsOf(1))
    val n = countsV.map(_._2).sum
    val withRn = t.withColumn("__rb", rbV)
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("__rb"))
          .orderBy(col(value).cast("double").desc, col(user).asc)).cast("long")
          + offsetCol(countsV, col("__rb")))
      .drop("__rb")
    val hist = withRn.groupBy(col(bucket)).agg(
      min(col("rn")).as("__rnk"),
      max(col("rn")).as("__maxrn"))
    val drnks = hist.select(col(bucket))
      .withColumn("__rb", rbB)
      .withColumn("__drnk",
        row_number().over(Window.partitionBy(col("__rb"))
          .orderBy(col(bucket).cast("double").desc)).cast("long")
          + offsetCol(countsB, col("__rb")))
      .drop("__rb")
    val big = n / tiles + (if (n % tiles == 0) 0L else 1L)
    val small = n / tiles
    val cut = (n % tiles) * big
    withRn
      .join(hist.select(col(bucket), col("__rnk"), col("__maxrn")), Seq(bucket))
      .join(drnks, Seq(bucket))
      .select(col(user), col(value), col(bucket),
        col("__rnk").cast("int").as("rnk"),
        col("__drnk").cast("int").as("drnk"),
        (if (n <= 1L) round(lit(0.0), 6)
         else round((col("__rnk") - 1L).cast("double") / (n - 1L).toDouble, 6))
          .as("pct"),
        round(col("__maxrn").cast("double") / math.max(n, 1L).toDouble, 6).as("cd"),
        col("rn").cast("int").as("rn"),
        (when(col("rn") <= cut, (col("rn") - 1L) / big)
          .otherwise(lit(n % tiles) +
            (col("rn") - 1L - cut) / math.max(small, 1L)) + 1L)
          .cast("int").as("quartile"))
      .orderBy(user)
  }

  /** Lag-{1..maxLag} autocorrelation per key — the regularity
    * diagnostic that completes the ts31–ts33 decomposition family
    * (seasonal slots say WHERE the cycle sits; the ACF says whether
    * successive samples predict each other at all): the standard
    * biased estimator r_k = Σ_t d_t·d_{t+k} / Σ_t d_t², with
    * d = x − x̄ per key.
    *
    * Cross-engine exactness follows the ts32 discipline: the mean is
    * the one decimal-exact sum/count division, deviations are
    * floor-quantized to int64 MILLI-units before any cross-row
    * product (milli, not micro, so a product of two deviations stays
    * ≤ ~1e12 and the decimal(38,0) sums are exact integers at any
    * partitioning — the q6 scale cancels out of the ratio), and the
    * only IEEE operation is the final ratio + round(6).
    *
    * Shape: one key-sized mean aggregate broadcast back, ONE window
    * shuffle on the key carrying maxLag `lead`s, one key-sized
    * aggregate. Keyed on a high-cardinality column (user), never the
    * handful-of-groups series column — every window partition is one
    * key's rows, the parallel-by-construction layout ([[rankSuite]]'s
    * adversary does not arise). Tail leads past the series end
    * contribute 0 via CASE, identically on both engines. */
  def acf(df: DataFrame, key: String, ts: String, tie: String,
          value: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 8, s"maxLag in [1,8], got $maxLag")
    val means = df.groupBy(col(key))
      .agg((sum(dec(col(value))).cast("double") / count(lit(1))).as("__mean"))
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    // narrow BEFORE the window: the shuffle carries exactly
    // (key, ts, tie, __d), not the full event width
    val dev = df.join(broadcast(means), key)
      .select(col(key), col(ts), col(tie),
        floor((col(value) - col("__mean")) * lit(1000.0)).cast("long")
          .as("__d"))
    val withLeads = (1 to maxLag).foldLeft(dev) { (acc, k) =>
      acc.withColumn(s"__l$k", lead(col("__d"), k).over(w))
    }
    // products in decimal(38,0), NOT long: long*long overflows once
    // |d| > ~3.0e9 milli-units; decimal(38,0) holds any long*long
    // product exactly (max 8.5e37 < 1e38) and matches the oracle's
    // HUGEINT widening instead of silently wrapping
    def dd(c: Column) = c.cast("decimal(38,0)")
    val aggs =
      count(lit(1)).as("n_events") +:
      sum(dd(col("__d")) * dd(col("__d"))).as("__den") +:
      (1 to maxLag).map(k =>
        sum(when(col(s"__l$k").isNotNull, dd(col("__d")) * dd(col(s"__l$k")))
          .otherwise(lit(0).cast("decimal(38,0)"))).as(s"__num$k"))
    val out = withLeads.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
    val acfCols = (1 to maxLag).map(k =>
      when(col("__den") > 0,
        round(col(s"__num$k").cast("double") / col("__den").cast("double"), 6))
        .as(s"acf$k"))
    out.select(col(key) +: col("n_events") +: acfCols: _*)
      .orderBy(col(key))
  }

}
