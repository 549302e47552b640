package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Distributed order-statistics primitives — exact global rank, running
  * (prefix) sums, and ntile — WITHOUT the single-partition WindowExec the
  * built-in unpartitioned window functions plan.
  *
  * All three ride one machinery: a global `orderBy` (a range-shuffled,
  * all-task parallel sort) pinned through ONE physical plan, then one
  * bounded per-partition-totals pass and one streaming output pass. The
  * single pinned RDD is load-bearing for determinism, not style: range
  * boundaries come from SAMPLING, and sampling reads shuffle output whose
  * row order is nondeterministic — so any design where separately-planned
  * jobs must agree on partition boundaries (a counts collect + a scoring
  * job, or two in-plan branches relying on best-effort exchange reuse)
  * was observed LIVE at sf0.1 assigning rows to different ranges per job
  * and corrupting rank offsets. `queryExecution.toRdd` pins ONE physical
  * plan: its RangePartitioner is constructed exactly once and every job
  * below (the totals pass, the output pass, chained downstream calls)
  * reuses that partitioner and its shuffle files.
  *
  * r15: both passes run on **InternalRow** (`queryExecution.toRdd` +
  * `UnsafeProjection`, materialized via [[org.apache.spark.sql.graftnative.InternalRows]])
  * instead of `Dataset.rdd` + `createDataFrame(RDD[Row])`. The old path
  * deserialized every sorted row into a boxed external Row and re-encoded
  * it through the RowEncoder — pure per-row overhead the optimization
  * guide (§1.4) calls out for `df.rdd`; at the 8 M-row stress grain that
  * was 8 M boxed rows per pass. Tungsten rows now flow end to end; the
  * appended rank/prefix fields ride a JoinedRow through one generated
  * projection, and each output row is `.copy()`'d (one byte-array copy)
  * because the downstream scan does not re-copy reused projection buffers.
  * toRdd's iterator REUSES row buffers, so pass 1 only reads primitives
  * and pass 2 retains nothing across rows except the (copied) group key.
  *
  * Scale: the only driver-side state is one (count, Σ…) tuple PER
  * PARTITION — bounded by the cluster's partition count, never the data
  * grain — and the sort itself is the same parallel range sort a global
  * `orderBy` costs anywhere else.
  *
  * Below [[graft.SmallPlanRule]]'s threshold the pinned plan has no
  * shuffle: the sort is one SortExec over a one-partition coalesce, with
  * no range sampling and no shuffle files to reuse. Each pass (totals,
  * output, a chained downstream call) then recomputes the whole upstream
  * plan — scan, kernels and sort — in its one task. Results are the same:
  * one partition reads its files in a fixed order. The inputs that take
  * this path fit in one task, so the repeat is bounded by that size.
  */
object ScalePrimitives {

  /** Retain a value read from a reused InternalRow buffer across rows:
    * UTF8Strings point into the buffer and must be copied; primitives and
    * immutable boxed values are safe as-is. (Group keys here are strings
    * or primitives by usage; other buffer-backed types would need their
    * own copy arm.) */
  private def retain(v: Any): Any = v match {
    case s: UTF8String => s.copy()
    case other => other
  }

  /** `df` extended with an exact 1-based global rank over `ord` (named
    * `rankOut`) and, for each `sumCols(i)` (must be LongType), the
    * inclusive running sum in `ord` order (named `sumOuts(i)`).
    * Deterministic when `ord` is a total order. */
  def distRunning(df: DataFrame, ord: Seq[Column], rankOut: String,
                  sumCols: Seq[String] = Nil, sumOuts: Seq[String] = Nil): DataFrame =
    distRunningWithCount(df, ord, rankOut, sumCols, sumOuts)._1

  /** [[distRunning]] plus the total row count — already known from the
    * per-partition totals pass, so callers needing n (the ntile formula,
    * a last-row filter) don't pay a separate count job that would
    * recompute the whole upstream plan. */
  def distRunningWithCount(df: DataFrame, ord: Seq[Column], rankOut: String,
                           sumCols: Seq[String] = Nil,
                           sumOuts: Seq[String] = Nil): (DataFrame, Long) = {
    require(sumCols.length == sumOuts.length, "one output name per running-sum column")
    (rankOut +: sumOuts).foreach { n =>
      require(!df.columns.contains(n),
        s"distRunning output column '$n' collides with an input column; rename one")
    }
    val idx = sumCols.map(df.schema.fieldIndex).toArray
    idx.foreach { i =>
      require(df.schema(i).dataType == LongType,
        s"distRunning sums LongType columns only; ${df.schema(i).name} is ${df.schema(i).dataType}")
    }
    val sorted = df.orderBy(ord: _*)
    // planned ONCE (see object doc; a small input's plan has no shuffle,
    // so each pass recomputes it) under a TRACKED execution id that
    // pass 1 runs inside — the Dataset.rdd parity that keeps
    // observe()/Observation working on plans upstream of the pin
    // (InternalRows.toRddTracked scaladoc)
    // pass 1: per-partition (row count, per-column totals); |partitions| rows
    val localIdx = idx // avoid closing over `df`
    val (rowRdd, totals) = org.apache.spark.sql.graftnative.InternalRows
        .toRddTracked(sorted, "distRunning")(_.mapPartitionsWithIndex { case (pid, it) =>
      var cnt = 0L
      val acc = new Array[Long](localIdx.length)
      it.foreach { r =>
        cnt += 1
        var j = 0
        while (j < localIdx.length) { acc(j) += r.getLong(localIdx(j)); j += 1 }
      }
      Iterator((pid, cnt, acc))
    }.collect())
    // exclusive prefix offsets, indexed by the dense pids 0..nParts-1
    // (mapPartitionsWithIndex emits one row per partition — an empty
    // partition still contributes its (pid, 0, zeros) row)
    val nParts = rowRdd.getNumPartitions
    val cntByPid = new Array[Long](nParts)
    val accByPid = Array.ofDim[Long](nParts, idx.length)
    totals.foreach { case (pid, cnt, acc) => cntByPid(pid) = cnt; accByPid(pid) = acc }
    val rankOff = new Array[Long](nParts)
    val sumOff = Array.ofDim[Long](nParts, idx.length)
    var rk = 0L
    val run = new Array[Long](idx.length)
    var p = 0
    while (p < nParts) {
      rankOff(p) = rk
      var j = 0
      while (j < idx.length) { sumOff(p)(j) = run(j); j += 1 }
      rk += cntByPid(p)
      j = 0
      while (j < idx.length) { run(j) += accByPid(p)(j); j += 1 }
      p += 1
    }
    val fields = df.schema.fields :+ StructField(rankOut, LongType, nullable = false)
    val sumFields = sumOuts.map(n => StructField(n, LongType, nullable = false))
    val outSchema = StructType(fields ++ sumFields)
    val outTypes: Array[DataType] = outSchema.fields.map(_.dataType)
    val nExtra = 1 + idx.length
    // pass 2: stream each partition once, carrying rank + running sums
    val outRdd = rowRdd.mapPartitionsWithIndex { case (pid, it) =>
      val proj = UnsafeProjection.create(outTypes)
      val extra = new GenericInternalRow(nExtra)
      val joined = new JoinedRow
      var rank = rankOff(pid)
      val acc = sumOff(pid).clone()
      it.map { r =>
        rank += 1
        var j = 0
        while (j < localIdx.length) { acc(j) += r.getLong(localIdx(j)); j += 1 }
        extra.update(0, rank)
        j = 0
        while (j < localIdx.length) { extra.update(j + 1, acc(j)); j += 1 }
        proj(joined(r, extra)).copy(): InternalRow
      }
    }
    (org.apache.spark.sql.graftnative.InternalRows.ofRows(
      df.sparkSession, outRdd, outSchema),
      totals.map(_._2).sum)
  }

  /** PER-GROUP running rank and running sums — the scale-safe form of
    * `… OVER (PARTITION BY grp ORDER BY ord…)` when `grp` has FEW distinct
    * values over a data-grain input (the hidden-data-grain window: a
    * 3-value status key over the full fact table routes the whole corpus
    * into 3 window tasks at any size).
    *
    * One [[distRunning]]-style pass in (grp, ord…) order. The carry-in a
    * partition needs for its FIRST group is recovered from per-partition
    * SUFFIX partials (only a partition's last group can straddle into the
    * next partition, because the sort makes groups contiguous), chained on
    * the driver in partition order — driver state is O(partitions), never
    * O(groups) and never the data grain, so `grp`'s cardinality is
    * unconstrained.
    *
    * Numerics: `rankOut` and the LongType running sums are EXACT.
    * DoubleType running sums accumulate sequentially within each
    * partition and re-associate only at partition boundaries — each
    * group's prefix starts from 0.0 at the group's own first row (no
    * global-offset subtraction), so early-group rows are bit-exact vs a
    * sequential reference and deep rows differ by O(#boundaries) ulps.
    * Sum columns must be non-null (same contract as [[distRunning]]).
    */
  def distRunningBy(df: DataFrame, grp: String, ord: Seq[Column], rankOut: String,
                    sumCols: Seq[String] = Nil, sumOuts: Seq[String] = Nil,
                    dblCols: Seq[String] = Nil, dblOuts: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(sumCols.length == sumOuts.length, "one output name per running-sum column")
    require(dblCols.length == dblOuts.length, "one output name per double running-sum column")
    (rankOut +: (sumOuts ++ dblOuts)).foreach { n =>
      require(!df.columns.contains(n),
        s"distRunningBy output column '$n' collides with an input column; rename one")
    }
    val gIdx = df.schema.fieldIndex(grp)
    val gType = df.schema(gIdx).dataType
    // r16 (ADVICE): fail LOUDLY on group-key types the two passes cannot
    // handle, instead of documenting the hazard in a comment. retain()
    // copies only UTF8String out of the reused toRdd row buffer, so a
    // buffer-backed key (array/struct/map) would outlive its row and
    // silently corrupt group-boundary detection; BinaryType reads back a
    // fresh byte[] per row, so Objects.equals degenerates to reference
    // equality and every row would start a "new" group. Atomic non-binary
    // types (numerics, string, bool, date/timestamp, decimal) are the
    // supported set — primitives/Decimal are materialized per read,
    // strings are retained.
    require({
      import org.apache.spark.sql.types._
      gType match {
        case BooleanType | ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | StringType | DateType | TimestampType |
             TimestampNTZType | _: DecimalType => true
        case _ => false
      }
    }, s"distRunningBy group column '$grp' has unsupported type $gType: " +
      "group keys must be an atomic non-binary type (numeric, string, " +
      "boolean, date/timestamp, decimal) — buffer-backed or " +
      "reference-equality keys would corrupt group-boundary detection")
    val lIdx = sumCols.map(df.schema.fieldIndex).toArray
    lIdx.foreach { i =>
      require(df.schema(i).dataType == LongType,
        s"distRunningBy exact sums LongType columns only; ${df.schema(i).name} is ${df.schema(i).dataType}")
    }
    val dIdx = dblCols.map(df.schema.fieldIndex).toArray
    dIdx.foreach { i =>
      require(df.schema(i).dataType == DoubleType,
        s"distRunningBy double sums DoubleType columns only; ${df.schema(i).name} is ${df.schema(i).dataType}")
    }
    val sorted = df.orderBy((col(grp) +: ord): _*)
    // planned ONCE (see object doc; a small input's plan has no shuffle,
    // so each pass recomputes it) under a TRACKED execution id that
    // pass 1 runs inside — see [[distRunningWithCount]] /
    // InternalRows.toRddTracked
    val (locG, locL, locD, locT) = (gIdx, lIdx, dIdx, gType)
    // pass 1: per partition — first/last group values plus the SUFFIX
    // partial (count + sums over the last group's rows only); the suffix
    // accumulators reset at every group change, so by iterator end they
    // hold exactly the trailing group's contribution. Group values are
    // RETAINED (copied) out of the reused row buffer before they outlive
    // the current row.
    val (rowRdd, infos) = org.apache.spark.sql.graftnative.InternalRows
        .toRddTracked(sorted, "distRunningBy")(_.mapPartitionsWithIndex { case (pid, it) =>
      var nonEmpty = false
      var first: Any = null
      var cur: Any = null
      var cnt = 0L
      val accL = new Array[Long](locL.length)
      val accD = new Array[Double](locD.length)
      it.foreach { r =>
        val g = if (r.isNullAt(locG)) null else r.get(locG, locT)
        if (!nonEmpty) { nonEmpty = true; first = retain(g); cur = first }
        else if (!java.util.Objects.equals(g, cur)) {
          cur = retain(g); cnt = 0L
          java.util.Arrays.fill(accL, 0L); java.util.Arrays.fill(accD, 0.0)
        }
        cnt += 1
        var j = 0
        while (j < locL.length) { accL(j) += r.getLong(locL(j)); j += 1 }
        j = 0
        while (j < locD.length) { accD(j) += r.getDouble(locD(j)); j += 1 }
      }
      Iterator((pid, nonEmpty, first, cur, cnt, accL, accD))
    }.collect())
    // driver chain in partition order: carry-in for partition p applies to
    // its first group IFF that group is the running group at p's entry
    val nParts = rowRdd.getNumPartitions
    val carryCnt = new Array[Long](nParts)
    val carryL = Array.fill(nParts)(new Array[Long](lIdx.length))
    val carryD = Array.fill(nParts)(new Array[Double](dIdx.length))
    val byPid = infos.sortBy(_._1)
    var hasCur = false
    var curGrp: Any = null
    var runCnt = 0L
    var runL = new Array[Long](lIdx.length)
    var runD = new Array[Double](dIdx.length)
    byPid.foreach { case (pid, nonEmpty, first, last, cnt, accL, accD) =>
      if (nonEmpty) {
        val continues = hasCur && java.util.Objects.equals(first, curGrp)
        if (continues) {
          carryCnt(pid) = runCnt
          carryL(pid) = runL.clone(); carryD(pid) = runD.clone()
        }
        if (continues && java.util.Objects.equals(last, curGrp)) {
          // whole partition stayed inside the running group (sorted
          // contiguity: first==last means every row between is that group)
          runCnt += cnt
          var j = 0
          while (j < lIdx.length) { runL(j) += accL(j); j += 1 }
          j = 0
          while (j < dIdx.length) { runD(j) += accD(j); j += 1 }
        } else {
          // the trailing group started inside this partition
          runCnt = cnt; runL = accL.clone(); runD = accD.clone()
        }
        curGrp = last; hasCur = true
      }
    }
    val fields = df.schema.fields :+ StructField(rankOut, LongType, nullable = false)
    val sumFields = sumOuts.map(n => StructField(n, LongType, nullable = false)) ++
      dblOuts.map(n => StructField(n, DoubleType, nullable = false))
    val outSchema = StructType(fields ++ sumFields)
    val outTypes: Array[DataType] = outSchema.fields.map(_.dataType)
    val nExtra = 1 + lIdx.length + dIdx.length
    // pass 2: stream each partition once, carrying rank + running sums,
    // resetting at every group boundary (carry-ins only seed the first
    // group; a fresh group starts from zero by construction)
    val outRdd = rowRdd.mapPartitionsWithIndex { case (pid, it) =>
      val proj = UnsafeProjection.create(outTypes)
      val extra = new GenericInternalRow(nExtra)
      val joined = new JoinedRow
      var started = false
      var cur: Any = null
      var rank = carryCnt(pid)
      val accL = carryL(pid).clone()
      val accD = carryD(pid).clone()
      it.map { r =>
        val g = if (r.isNullAt(locG)) null else r.get(locG, locT)
        if (!started) { started = true; cur = retain(g) }
        else if (!java.util.Objects.equals(g, cur)) {
          cur = retain(g); rank = 0L
          java.util.Arrays.fill(accL, 0L); java.util.Arrays.fill(accD, 0.0)
        }
        rank += 1
        var j = 0
        while (j < locL.length) { accL(j) += r.getLong(locL(j)); j += 1 }
        j = 0
        while (j < locD.length) { accD(j) += r.getDouble(locD(j)); j += 1 }
        extra.update(0, rank)
        j = 0
        while (j < locL.length) { extra.update(j + 1, accL(j)); j += 1 }
        j = 0
        while (j < locD.length) { extra.update(j + 1 + locL.length, accD(j)); j += 1 }
        proj(joined(r, extra)).copy(): InternalRow
      }
    }
    org.apache.spark.sql.graftnative.InternalRows.ofRows(
      df.sparkSession, outRdd, outSchema)
  }

  /** Exact per-group `quantile_cont` by VALUE-AT-RANK — the scale-safe
    * form of `percentile(value, p) OVER (PARTITION BY grp)` when `grp`
    * has FEW distinct values over a data-grain input (the win_median
    * case: a full-partition percentile window routes the whole fact
    * table into |groups| tasks and buffers it there).
    *
    * One [[distRunning]] parallel range sort in (grp, value) order; each
    * group's size and exclusive offset are a |groups|-row aggregate; each
    * quantile's two bracketing GLOBAL ranks become a 2·|groups|·|ps|-row
    * broadcast probe table equi-joined on the unique rank; the standard
    * linear interpolation lo + frac·(hi − lo) runs on those exact values.
    * Returns one row per (group, p): (`grp`, p, q). Groups must be
    * broadcast-bounded (the low-NDV case this primitive exists for —
    * per-group windows handle high-NDV keys fine on their own). */
  def distQuantilesBy(df: DataFrame, grp: String, value: String,
                      ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"quantiles must lie in [0,1]; got $ps")
    val ranked = distRunning(
      df.select(col(grp).as("__st"), col(value).as("__v")),
      Seq(col("__st"), col("__v")), "__rnk")
    val sizes = ranked.groupBy("__st")
      .agg(count(lit(1)).as("__n"), (max("__rnk") - count(lit(1))).as("__off"))
    // (group, p) → bracketing 1-based global ranks + interpolation frac
    val targets = sizes
      .select(col("__st"), col("__n"), col("__off"),
        explode(array(ps.map(lit): _*)).as("__p"))
      .withColumn("__pos", col("__off") + lit(1) + (col("__n") - 1) * col("__p"))
      .withColumn("__lo", floor(col("__pos")).cast("long"))
      .withColumn("__hi", ceil(col("__pos")).cast("long"))
      .withColumn("__frac", col("__pos") - col("__lo"))
    // rank-role rows: globally unique ranks make this a broadcast EQUI-join
    val probes = targets
      .select(col("__st").as("__pst"), col("__p"), col("__frac"),
        explode(array(struct(col("__lo").as("__r"), lit(true).as("__isLo")),
          struct(col("__hi").as("__r"), lit(false).as("__isLo")))).as("__e"))
      .select(col("__pst"), col("__p"), col("__frac"),
        col("__e").getField("__r").as("__r"), col("__e").getField("__isLo").as("__isLo"))
    ranked.join(org.apache.spark.sql.functions.broadcast(probes), col("__rnk") === col("__r"))
      .groupBy(col("__pst"), col("__p"), col("__frac"))
      .agg(min(when(col("__isLo"), col("__v"))).as("__lov"),
        min(when(!col("__isLo"), col("__v"))).as("__hiv"))
      .select(col("__pst").as(grp), col("__p").as("p"),
        (col("__lov") + col("__frac") * (col("__hiv") - col("__lov"))).as("q"))
  }

  /** Exact distributed `ntile(k) OVER (ORDER BY ord…)`: the global rank
    * from [[distRunning]], then the ntile bucket formula (first n%k
    * buckets take one extra row) in integer arithmetic — bit-identical
    * to the built-in, so DuckDB oracles keep plain ntile. */
  def distNtile(df: DataFrame, k: Int, out: String, ord: Column*): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val (ranked, n) = distRunningWithCount(df, ord, "__rnk")
    val base = n / k; val rem = n % k; val big = base + 1
    val tile =
      if (base == 0L) expr("CAST(__rnk AS INT)") // n < k: occupied buckets hold 1 row each
      else expr(s"CAST(IF(__rnk <= ${rem * big}, (__rnk + ${big - 1}) DIV $big, " +
        s"$rem + ((__rnk - ${rem * big} + ${base - 1}) DIV $base)) AS INT)")
    ranked.withColumn(out, tile).drop("__rnk")
  }

  /** Exact distributed `ntile(k) OVER (PARTITION BY grp ORDER BY ord…)`
    * — the PER-GROUP twin of [[distNtile]] for the hidden-data-grain
    * window case: a low-cardinality partition key over near-unique
    * ordering puts the whole corpus into |groups| window tasks at any
    * size. One [[distRunning]] pass in (grp, ord…) order instead; each
    * group's size and exclusive offset are recovered FROM the ranked
    * frame itself (off = max(rank) − count, a |groups|-row aggregate,
    * broadcast back — no window anywhere), and the ntile bucket formula
    * runs in per-row integer arithmetic with the group's own n —
    * bit-identical to the built-in, so DuckDB oracles keep plain ntile.
    * `ord` must total-order rows WITHIN each group (add a unique id as
    * the last key, same contract as distNtile). */
  def distNtileBy(df: DataFrame, grp: String, k: Int, out: String, ord: Column*): DataFrame = {
    import org.apache.spark.sql.functions._
    require(k >= 1, "ntile bucket count must be positive")
    val internal = Seq("__grnk", "__n", "__off", "__grp")
    internal.foreach { n =>
      require(!df.columns.contains(n),
        s"distNtileBy internal column '$n' collides with an input column; rename one")
    }
    val ranked = distRunning(df, col(grp) +: ord, "__grnk")
    val sizes = ranked.groupBy(col(grp).as("__grp"))
      .agg(count(lit(1)).as("__n"), (max("__grnk") - count(lit(1))).as("__off"))
    // null-SAFE group equality: the built-in window treats a NULL
    // partition key as its own partition (and groupBy gives it its own
    // sizes row), so a plain equi-join would silently DROP those rows
    ranked.join(broadcast(sizes), col(grp) <=> col("__grp"))
      .withColumn(out, expr(
        s"CAST(CASE WHEN __n DIV $k = 0 THEN __grnk - __off " +
          s"WHEN __grnk - __off <= (__n % $k) * (__n DIV $k + 1) " +
          s"THEN (__grnk - __off + __n DIV $k) DIV (__n DIV $k + 1) " +
          s"ELSE (__n % $k) + ((__grnk - __off - (__n % $k) * (__n DIV $k + 1) " +
          s"+ __n DIV $k - 1) DIV (__n DIV $k)) END AS INT)"))
      .drop("__grnk", "__n", "__off", "__grp")
  }
}
