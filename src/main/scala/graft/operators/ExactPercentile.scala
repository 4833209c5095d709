package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** EXACT interpolated percentiles with BOUNDED aggregation state — the
  * round-15 replacement for `percentile()` in the declared exact-percentile
  * queries (q_winsorize, q_mad_outlier, q_stats_agg).
  *
  * `percentile(col, p)` is a single `TypedImperativeAggregate` whose state
  * holds EVERY value of the group — O(n) executor memory and a
  * single-threaded final sort; the round-14 honest action measured the
  * collect at 7.4 s / 6 M rows at sf1, and it is the one operator family
  * that cannot run as declared at 100 TB. This computes the bit-identical
  * result with the classic two-pass bracketed selection:
  *
  *   1. ONE aggregation pass: per group, `count` + `min`/`max` + a single
  *      mergeable `approx_percentile` sketch evaluated at p ± margins
  *      (bounded state, partial-aggregated — the sketch the `_sketch`
  *      primaries already ship).
  *   2. ONE counting pass per bracket attempt: per group, the exact number
  *      of rows BELOW the bracket plus a (value → count) histogram of the
  *      rows INSIDE it.
  *   3. Driver-side exact selection + interpolation replicating
  *      `PercentileBase.getPercentile` BIT-FOR-BIT (verified against the
  *      disassembled Spark 4.1.2 bytecode, and pinned by
  *      ExactPercentileSpec + the unchanged DuckDB oracle hashes):
  *      position = p·(n−1); lower = ⌊position⌋; higher = ⌈position⌉;
  *      the values at 0-based ranks lower/higher in the sorted multiset;
  *      lowerV if higher == lower or lowerV == higherV, else
  *      (higher − position)·lowerV + (position − lower)·higherV.
  *
  * Round 16 — the driver pull is now CAPPED, not O(n/accuracy): the
  * round-15 version always collected the in-window histogram, whose size
  * is ≈ 8n/accuracy rows — linear in n, tens of GB at 100 TB (the r15
  * verdict's finding). Now a bracket whose PREDICTED window
  * (≤ 10n/accuracy rows from the sketch's rank-error guarantee, ≤ 34n/acc
  * for the widened retry, n for the [min,max] fallback) exceeds
  * `maxPullRows` first runs a cheap COUNTING pass (2 longs per group to
  * the driver), then — if the exact window is still too wide — a
  * NARROWING pass: a second `approx_percentile` sketch over only the
  * in-window rows at the target ranks re-expressed window-relative, which
  * shrinks the window by ~accuracy/10 per round (10¹² rows → ≤ cap in 3
  * rounds). The histogram is only ever collected once its row count is
  * proven ≤ `maxPullRows`. The final exact selection is unchanged, so
  * results are bit-identical whatever path found the bracket; at bench
  * scale (windows ≪ cap) the plan sequence is exactly the round-15 one —
  * no extra jobs.
  *
  * Round 16b — MULTI-VALUE-COLUMN FUSION ([[computeMulti]]): callers that
  * need exact percentiles of SEVERAL columns of the same frame (q_stats_agg:
  * median l_quantity + p90 l_extendedprice; q_rfm: three quartile triples)
  * used to pay one full pass-1 scan and one pass-2 scan PER COLUMN (or melt
  * the frame k× through an explode). `computeMulti` aggregates every
  * column's count/min/max/sketch in ONE pass-1 scan and tags the pass-2
  * bracket frame with a column index so one histogram/counting scan serves
  * all columns' pending items — the scan count no longer grows with the
  * column count. Per-(column, group, p) bracket selection, rank arithmetic
  * and the exact interpolation are UNCHANGED (single-column [[compute]] is
  * now a 1-column delegation, so the existing bit-identity spec pins the
  * shared engine).
  *
  * If a bracket misses its rank (the sketch's guarantee failed — not
  * observed, but the code must be total), the attempt retries with the
  * 4×-wider sketch values already computed in pass 1, then with the
  * group's [min, max]. Deterministic: the final selection depends only on
  * the data, never on which bracket found it.
  *
  * Restriction: the value column must cast to DOUBLE order-isomorphically
  * (doubles, or decimals that are exact in double — both table families
  * here qualify); NULLs are ignored exactly as `percentile` ignores them.
  * NULL GROUP KEYS are supported (round-16 advisor fix): the pass-2 joins
  * compare group columns null-safely (`<=>`), matching `percentile()`'s
  * behavior of keeping a NULL-keyed group.
  */
object ExactPercentile {

  /** Driver-pull budget PER (column, group, p) ITEM, not per collect: one
    * histogram collect serves a whole fused [[computeMulti]] batch, so m
    * items may pull m × this many rows. 2¹⁷ ≈ 131 k rows of (key, double,
    * long) is ~a few MB, the budget class of the k-means centroid pulls. */
  val DefaultMaxPullRows: Int = 1 << 17

  /** Exact percentiles of `valueCol` at `ps` per distinct `groupCols` key.
    * Returns group key (as a Seq in `groupCols` order) → values aligned
    * with `ps`. Empty `groupCols` → single key `Seq()` (global). Groups
    * with zero non-null rows are absent (as `percentile` returns NULL). */
  def compute(df0: DataFrame, groupCols: Seq[String], valueCol: String,
      ps: Seq[Double], accuracy: Int = 10000,
      maxPullRows: Int = DefaultMaxPullRows): Map[Seq[Any], Array[Double]] =
    computeMulti(df0, groupCols, Seq(valueCol -> ps), accuracy, maxPullRows)(0)

  /** [[compute]] for a global (ungrouped) percentile set. */
  def computeGlobal(df: DataFrame, valueCol: String, ps: Seq[Double],
      accuracy: Int = 10000,
      maxPullRows: Int = DefaultMaxPullRows): Array[Double] =
    compute(df, Nil, valueCol, ps, accuracy, maxPullRows)(Seq())

  /** The exact interpolated percentile `p` of `values(0 until n)`, held
    * whole by the caller: step 3's rank arithmetic and interpolation (see
    * the class doc) over a quickselect, O(n) expected, so the value is
    * bit-identical to [[compute]] (and to `percentile()`) on the same
    * multiset. −0.0 reads as 0.0, as it does through the histogram's
    * grouping. The caller drops NULLs; it reorders `values(0 until n)` in
    * place. Only for groups whose size the caller has bounded
    * (q_theil_sen's per-type slopes and residuals, see
    * [[EventOps.theilSen]]), never for event-count-sized ones. */
  def select(values: Array[Double], n: Int, p: Double): Double = {
    require(p >= 0.0 && p <= 1.0, s"percentage must be in [0,1]: $p")
    require(n >= 1 && n <= values.length,
      s"select needs 1 to ${values.length} values, got $n")
    var i = 0
    while (i < n) { values(i) += 0.0; i += 1 }
    val position = p * (n - 1)
    val lower = math.floor(position).toInt
    val higher = math.ceil(position).toInt
    interpolate(position, lower, higher, selectRank(values, n, lower), {
      // selectRank leaves values(lower + 1 until n) all >= the value at
      // rank lower, so the value at rank lower + 1 is their minimum
      var higherV = values(higher)
      i = higher + 1
      while (i < n) {
        if (java.lang.Double.compare(values(i), higherV) < 0) higherV = values(i)
        i += 1
      }
      higherV
    })
  }

  /** Step 3's interpolation (see the class doc) between `lowerV` and
    * `higherV`, the values at ranks `lower` = ⌊position⌋ and `higher` =
    * ⌈position⌉; `higherV` is read only when the ranks differ. */
  private def interpolate(position: Double, lower: Long, higher: Long,
      lowerV: Double, higherV: => Double): Double =
    if (higher == lower) lowerV
    else {
      val hv = higherV
      if (hv == lowerV) lowerV
      else (higher - position) * lowerV + (position - lower) * hv
    }

  /** The value at 0-based rank `k` of `a(0 until n)` in
    * `java.lang.Double.compare` order (Spark's order for doubles). It
    * partitions in place three ways around a median-of-three pivot, so
    * ties cost nothing; on return every value after position `k` is at
    * least the one returned. */
  private def selectRank(a: Array[Double], n: Int, k: Int): Double = {
    def swap(i: Int, j: Int): Unit = { val t = a(i); a(i) = a(j); a(j) = t }
    def cmp(x: Double, y: Double): Int = java.lang.Double.compare(x, y)
    var lo = 0
    var hi = n - 1
    while (lo < hi) {
      val (x, y, z) = (a(lo), a((lo + hi) >>> 1), a(hi))
      val pivot =
        if (cmp(x, y) < 0) { if (cmp(y, z) < 0) y else if (cmp(x, z) < 0) z else x }
        else { if (cmp(x, z) < 0) x else if (cmp(y, z) < 0) z else y }
      // a(lo until lt) < pivot, a(lt until i) == pivot, a(gt + 1 to hi) > pivot
      var lt = lo
      var gt = hi
      var i = lo
      while (i <= gt) {
        val c = cmp(a(i), pivot)
        if (c < 0) { swap(lt, i); lt += 1; i += 1 }
        else if (c > 0) { swap(i, gt); gt -= 1 }
        else i += 1
      }
      if (k < lt) hi = lt - 1
      else if (k > gt) lo = gt + 1
      else { lo = k; hi = k }
    }
    a(k)
  }

  /** Exact percentiles for SEVERAL value columns of the same frame in a
    * constant number of scans (see the class doc's round-16b note). One
    * `specs` entry per value column: (column name, percentages). Returns
    * one result map per spec, aligned with `specs` — each exactly what
    * [[compute]] would return for that column alone. A group whose column
    * is all-NULL is absent from that column's map only. */
  def computeMulti(df0: DataFrame, groupCols: Seq[String],
      specs: Seq[(String, Seq[Double])], accuracy: Int = 10000,
      maxPullRows: Int = DefaultMaxPullRows)
      : IndexedSeq[Map[Seq[Any], Array[Double]]] = {
    require(specs.nonEmpty, "computeMulti needs at least one value column")
    specs.foreach { case (c, ps) =>
      require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
        s"percentages must be in [0,1]: $c -> $ps")
    }
    val gs = groupCols.map(col)
    val nG = groupCols.size
    val vc = specs.indices.map(i => col(s"__v$i"))
    // keep a row iff ANY value column is non-null (for one column this is
    // exactly the old single-column prefilter, so the results and the scan
    // predicate of every single-column caller are unchanged)
    val df = df0
      .select((gs ++ specs.zipWithIndex.map { case ((c, _), i) =>
        col(c).cast("double").as(s"__v$i") }): _*)
      .filter(vc.map(_.isNotNull).reduce(_ || _))
    val spark = df0.sparkSession

    // pass 1 (ONE scan for all columns): per group and column, n, min,
    // max, and bracket candidates at two widths per p
    val margins = Seq(4.0 / accuracy, 16.0 / accuracy)
    val aggExprs: Seq[Column] = specs.zipWithIndex.flatMap {
      case ((_, ps), i) =>
        val pcts: Seq[Double] = ps.flatMap(p => margins.flatMap(m =>
          Seq(math.max(0.0, p - m), math.min(1.0, p + m))))
        val pctsSql = pcts.mkString("array(", ",", ")")
        Seq(count(vc(i)).as(s"__n$i"), min(vc(i)).as(s"__mn$i"),
          max(vc(i)).as(s"__mx$i"),
          expr(s"approx_percentile(__v$i, $pctsSql, $accuracy)")
            .as(s"__apx$i"))
    }
    val aggd = (if (gs.isEmpty) df.groupBy() else df.groupBy(gs: _*))
      .agg(aggExprs.head, aggExprs.tail: _*)
      .collect()
    // (column, group key) → n / per-attempt brackets per p; plus the
    // per-column key list in pass-1 row order (stable output ordering)
    val nOf = scala.collection.mutable.Map[(Int, Seq[Any]), Long]()
    val brOf =
      scala.collection.mutable.Map[(Int, Seq[Any]), Array[Array[(Double, Double)]]]()
    val keysOf: IndexedSeq[scala.collection.mutable.ArrayBuffer[Seq[Any]]] =
      specs.indices.map(_ => scala.collection.mutable.ArrayBuffer[Seq[Any]]())
    aggd.foreach { r =>
      val key = (0 until nG).map(r.get)
      specs.indices.foreach { ci =>
        val base = nG + 4 * ci
        val n = r.getLong(base)
        if (n > 0L) {
          val mn = r.getDouble(base + 1)
          val mx = r.getDouble(base + 2)
          val apx = r.getSeq[Double](base + 3)
          val ps = specs(ci)._2
          // attempts per p: [p±4/acc], [p±16/acc], [min, max]
          brOf((ci, key)) = ps.indices.map { j =>
            Array((apx(4 * j), apx(4 * j + 1)),
              (apx(4 * j + 2), apx(4 * j + 3)), (mn, mx))
          }.toArray
          nOf((ci, key)) = n
          keysOf(ci) += key
        }
      }
    }

    // ---- per-item bracket state machine (round 16) ----
    // Ladder(a): bracket = pass-1 attempt a (0: ±4/acc, 1: ±16/acc,
    //   2: [min,max]); window size only PREDICTED from n and the sketch
    //   rank-error bound. Uncounted: a narrowed bracket whose exact
    //   below/in-window counts are not known yet. Counted: exact counts
    //   known, ranks proven covered.
    sealed trait St
    case class Ladder(attempt: Int) extends St
    case class Uncounted(lo: Double, hi: Double) extends St
    case class Counted(lo: Double, hi: Double, below: Long, inWin: Long)
      extends St
    // Forced: narrowing made no progress (a window pinned by two massive
    // tie blocks cannot shrink below their two values) — collect the
    // histogram regardless of inWin: the pull is per DISTINCT value, and
    // a stuck window is by construction tie-dominated (few distinct values)
    case class Forced(lo: Double, hi: Double) extends St

    // item = (column index, group key, percentage index)
    type Item = (Int, Seq[Any], Int)
    val state = scala.collection.mutable.Map[Item, St]()
    val lastLadder = scala.collection.mutable.Map[Item, Int]()
    nOf.keys.foreach { case (ci, key) =>
      specs(ci)._2.indices.foreach { pi =>
        state((ci, key, pi)) = Ladder(0); lastLadder((ci, key, pi)) = 0
      }
    }
    val resolved = scala.collection.mutable.Map[Item, Double]()

    def bracketOf(it: Item, st: St): (Double, Double) = st match {
      case Ladder(a) => brOf((it._1, it._2))(it._3)(a)
      case Uncounted(lo, hi) => (lo, hi)
      case Counted(lo, hi, _, _) => (lo, hi)
      case Forced(lo, hi) => (lo, hi)
    }
    // conservative window-row bound for a ladder bracket: rank width of
    // the two query points + one sketch rank error (n/accuracy) per side
    def ladderBound(ci: Int, key: Seq[Any], a: Int): Long = {
      val n = nOf((ci, key))
      a match {
        case 0 => math.ceil(10.0 * n / accuracy).toLong + 2
        case 1 => math.ceil(34.0 * n / accuracy).toLong + 2
        case _ => n
      }
    }
    def ranksOf(it: Item): (Long, Long, Double) = {
      val n = nOf((it._1, it._2))
      val position = specs(it._1)._2(it._3) * (n - 1)
      (math.floor(position).toLong, math.ceil(position).toLong, position)
    }
    val failed = scala.collection.mutable.ArrayBuffer[Item]()
    def nextLadder(it: Item): Unit = {
      val a = lastLadder(it) + 1
      lastLadder(it) = a
      if (a <= margins.size) state(it) = Ladder(a)
      else { state.remove(it); failed += it }
    }

    // broadcast bracket frame for a batch of items; group cols renamed
    // __g0.. so the join can be NULL-SAFE (<=>) — percentile() keeps a
    // NULL-keyed group, and a plain equality join would never match it.
    // __ci selects which value column the item brackets.
    val bFields = groupCols.zipWithIndex.map { case (c, i) =>
      StructField(s"__g$i", df0.schema(c).dataType, nullable = true)
    } ++ Seq(StructField("__ci", IntegerType), StructField("__pi", IntegerType),
      StructField("__lo", DoubleType), StructField("__hi", DoubleType))
    // the value the item measures: its column, NULL rows dropped (exactly
    // the single-column prefilter, now applied per item after the join)
    val vSel: Column = specs.indices.tail.foldLeft(
      when(col("__ci") === 0, vc(0)))((acc, i) =>
      acc.when(col("__ci") === i, vc(i)))
    def joinBrackets(items: Seq[(Item, (Double, Double))]): DataFrame = {
      val bRows = items.map { case ((ci, key, pi), (lo, hi)) =>
        Row.fromSeq(key ++ Seq[Any](ci, pi, lo, hi))
      }
      val bdf = broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(bRows, 1), StructType(bFields)))
      val joined =
        if (nG == 0) df.crossJoin(bdf)
        else df.join(bdf, groupCols.zipWithIndex
          .map { case (c, i) => df(c) <=> bdf(s"__g$i") }.reduce(_ && _))
      joined.withColumn("__vs", vSel).filter(col("__vs").isNotNull)
    }
    val v = col("__vs")
    val gOut: Seq[Column] = (0 until nG).map(i => col(s"__g$i"))
    def keyOf(r: Row): Seq[Any] = (0 until nG).map(r.get)

    var iter = 0
    while (state.nonEmpty && iter < 64) {
      val items = state.toSeq
      // lo == hi: the window holds ONE distinct value however many rows —
      // its histogram is 1 row, so collect it whatever inWin says (also
      // the escape hatch for tie-dominated windows narrowing can't split)
      val histogram = items.filter {
        case (_, Counted(lo, hi, _, inWin)) =>
          inWin <= maxPullRows || lo == hi
        case ((ci, key, _), Ladder(a)) => ladderBound(ci, key, a) <= maxPullRows
        case (_, Forced(_, _)) => true
        case _ => false
      }
      val counting = items.filter {
        case (_, Uncounted(_, _)) => true
        case ((ci, key, _), Ladder(a)) => ladderBound(ci, key, a) > maxPullRows
        case _ => false
      }
      val narrowing = items.collect {
        case (it, c @ Counted(lo, hi, _, inWin))
          if inWin > maxPullRows && lo != hi => (it, c)
      }

      if (histogram.nonEmpty) {
        // histogram pass: tag = below/inside/above bracket; collect the
        // exact (value → count) histogram of in-window rows (proven or
        // predicted ≤ maxPullRows) plus the exact below-count
        val joined = joinBrackets(histogram.map { case (it, st) =>
          (it, bracketOf(it, st)) })
        val tagged = joined
          .select((gOut :+ col("__ci") :+ col("__pi")
            :+ when(v < col("__lo"), lit(-1))
              .when(v > col("__hi"), lit(1)).otherwise(lit(0)).as("__tag")
            :+ when(v.between(col("__lo"), col("__hi")), v).as("__wv")): _*)
          .groupBy((gOut :+ col("__ci") :+ col("__pi") :+ col("__tag")
            :+ col("__wv")): _*)
          .agg(count(lit(1)).as("__c"))
          .collect()
        val byKey = tagged.groupBy(r =>
          (r.getInt(nG), keyOf(r), r.getInt(nG + 1)))
        histogram.foreach { case (it, _) =>
          val rows = byKey.getOrElse(it, Array.empty[Row])
          val below = rows.filter(_.getInt(nG + 2) == -1)
            .map(_.getLong(nG + 4)).sum
          val hist = rows.filter(_.getInt(nG + 2) == 0)
            .map(r => (r.getDouble(nG + 3), r.getLong(nG + 4)))
            .sortBy(_._1)
          val inWin = hist.map(_._2).sum
          val (lower, higher, position) = ranksOf(it)
          if (lower >= below && higher < below + inWin) {
            def valueAtRank(rank: Long): Double = {
              var cum = below
              var res = Double.NaN
              var i = 0
              while (i < hist.length && cum <= rank) {
                if (rank < cum + hist(i)._2) { res = hist(i)._1; cum = rank + 1 }
                cum += hist(i)._2
                i += 1
              }
              res
            }
            resolved(it) = interpolate(position, lower, higher,
              valueAtRank(lower), valueAtRank(higher))
            state.remove(it)
          } else nextLadder(it)
        }
      }

      if (counting.nonEmpty) {
        // counting pass: 2 longs per item to the driver — exact below and
        // in-window counts, no values
        val joined = joinBrackets(counting.map { case (it, st) =>
          (it, bracketOf(it, st)) })
        val counted = joined
          .groupBy((gOut :+ col("__ci") :+ col("__pi")): _*)
          .agg(sum(when(v < col("__lo"), 1L).otherwise(0L)).as("__below"),
            sum(when(v.between(col("__lo"), col("__hi")), 1L).otherwise(0L))
              .as("__inwin"))
          .collect()
          .map(r => ((r.getInt(nG), keyOf(r), r.getInt(nG + 1)),
            (r.getLong(nG + 2), r.getLong(nG + 3)))).toMap
        counting.foreach { case (it, st) =>
          val (below, inWin) = counted.getOrElse(it, (0L, 0L))
          val (lower, higher, _) = ranksOf(it)
          if (lower >= below && higher < below + inWin) {
            val (lo, hi) = bracketOf(it, st)
            state(it) = Counted(lo, hi, below, inWin)
          } else nextLadder(it)
        }
      }

      narrowing.foreach { case (it @ (ci, key, pi), Counted(lo, hi, below, m)) =>
        // narrowing pass (rare; only at window > maxPullRows, i.e. only at
        // scale): re-sketch the in-window rows at the target ranks
        // re-expressed window-relative; shrinks the window ~accuracy/10×
        val (lower, higher, _) = ranksOf(it)
        val kLo = lower - below
        val kHi = higher - below
        // the narrowing sketch is NOT pass-1 state — it may use its own
        // accuracy. Floor it at 1000 so the window provably shrinks ~100×
        // per round even when the caller dialed `accuracy` low (shrink
        // factor is ~10/accuracy; accuracy ≤ 10 would never converge)
        val narrowAcc = math.max(accuracy, 1000)
        val margin = 4.0 * m / narrowAcc
        val plo = math.max(0.0, (kLo - margin) / math.max(1.0, (m - 1).toDouble))
        val phi = math.min(1.0, (kHi + margin) / math.max(1.0, (m - 1).toDouble))
        val groupEq =
          if (nG == 0) lit(true)
          else groupCols.zip(key).map { case (c, kv) =>
            if (kv == null) col(c).isNull else col(c) === lit(kv)
          }.reduce(_ && _)
        val apx = df.filter(groupEq && vc(ci).between(lit(lo), lit(hi)))
          .agg(expr(s"approx_percentile(__v$ci, array($plo,$phi), $narrowAcc)"))
          .collect()(0).getSeq[Double](0)
        state(it) =
          if (apx(0) == lo && apx(1) == hi) Forced(lo, hi)
          else Uncounted(apx(0), apx(1))
      }
      iter += 1
    }
    require(state.isEmpty && failed.isEmpty,
      "exact-percentile bracket never covered ranks for: " +
        s"${state.keys.toSeq ++ failed}")
    specs.indices.map { ci =>
      keysOf(ci).toSeq.map { key =>
        key -> specs(ci)._2.indices.map(pi => resolved((ci, key, pi))).toArray
      }.toMap
    }
  }
}
