package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, TimestampAddInterval}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, DayTimeIntervalType, TimestampNTZType, TimestampType}

import graft.functions.Param

/** Generic relational operator families re-expressing the reference's query
  * semantics (SURVEY.md §2) as composable `DataFrame => DataFrame`
  * transforms. Each operator is declarative — Catalyst handles predicate
  * pushdown, column pruning, broadcast-join selection and partial
  * aggregation; nothing here materializes on the driver.
  */
object Folds {

  /** THE cross-engine-exact double summation device, shared by every
    * operator that aggregates doubles (LM scoring, PageRank, attribution):
    * collect, SORT, then fold in order — the sum no longer depends on
    * partitioning or row arrival order, and any engine running
    * `list_sum(list_sort(list(x)))` over the same values reproduces it
    * bit-for-bit. Nulls are skipped by `collect_list`; an empty group
    * folds to exactly 0.0. An aggregate expression — use inside `agg`.
    */
  def sortedSum(c: Column): Column =
    // native sort+fold (r18, guide §4): the `aggregate(array_sort(...))`
    // HOF pair ran interpreted per group; the kernel performs the
    // identical ordering and left-fold (parity pinned in
    // RelationalHelpersSpec), so sums are bit-equal
    graft.functions.HashFunctions.sortedSumD(collect_list(c))
}

object Filters {

  /** Composite natural-key equality filter — the reference's BBL point
    * lookup (reference: webserver/server.py:135-144, key uniqueness
    * schema.sql:17). Conjunction of per-column equalities; pushed to the
    * scan. The key values are bound as [[graft.functions.Param]]s, so a new
    * key reuses the compiled plan of the last.
    */
  def naturalKey(df: DataFrame, key: Map[String, Any]): DataFrame =
    df.filter(keyMatch(df, key))

  /** [[naturalKey]]'s predicate. */
  def keyMatch(df: DataFrame, key: Map[String, Any]): Column =
    key.map { case (c, v) => Param.equalTo(df, c, v) }.reduce(_ && _)

  /** Optional-bound date range — the reference builds the SQL fragment only
    * when a bound is present (reference: webserver/server.py:156-167); absent
    * bound = all-time (bookmarks path, server.py:572-576). `Option.fold`
    * composition keeps the plan free of always-true predicates.
    *
    * Rows with `to_timestamp(start) <= dateCol < to_timestamp(end) + 1 day`.
    * Each bound is computed on the driver under the session's parse, zone
    * and ANSI rules and bound as a [[graft.functions.Param]] of the
    * column's own type (a date column gets date bounds), so no cast lands
    * on either side for the optimizer to fold into an inlined literal.
    */
  def dateWindow(df: DataFrame, dateCol: String,
                 start: Option[String], end: Option[String]): DataFrame = {
    val lower = start.fold(lit(true))(s => col(dateCol) >= windowBound(df, dateCol, s, 0))
    val upper = end.fold(lit(true))(e => col(dateCol) < windowBound(df, dateCol, e, 1))
    df.filter(lower && upper)
  }

  /** `to_timestamp(s) + days` as a bound on `dateCol`: in the column's
    * type when it is a date or timestamp, else in the session's timestamp
    * type (the column is then coerced as before). A date `d` is inside a
    * timestamp bound `t` exactly when `d >= ceil(t)` to a date, which is
    * the bound a date column gets. */
  private def windowBound(df: DataFrame, dateCol: String, s: String,
                          days: Int): Column = {
    val conf = Param.confOf(df)
    val tz = Some(conf.sessionLocalTimeZone)
    val tsType = conf.timestampType
    val parsed = Literal(Cast(Literal(s), tsType, tz, conf.ansiEnabled).eval(), tsType)
    val t = if (days == 0) parsed else Literal(TimestampAddInterval(parsed,
      Literal(days * MicrosPerDay, DayTimeIntervalType(DayTimeIntervalType.DAY)),
      tz).eval(), tsType)
    def as(to: DataType): Any = Cast(t, to, tz).eval()
    Param.typeOf(df, dateCol) match {
      case Some(ts @ (TimestampType | TimestampNTZType)) => Param.column(as(ts), ts)
      case Some(DateType) =>
        val ceil = Option(as(DateType)).map { case d: Int =>
          if (Cast(Literal(d, DateType), tsType, tz).eval() == t.value) d else d + 1
        }
        Param.column(ceil.getOrElse(null), DateType)
      case _ => Param.column(t.value, tsType)
    }
  }

  private val MicrosPerDay = 86400L * 1000 * 1000

  /** IN-list membership ("active" status set, reference:
    * webserver/server.py:172).
    */
  def statusIn(statusCol: String, statuses: Seq[String]): Column =
    col(statusCol).isin(statuses: _*)

  /** Check-constraint validation split (reference: schema.sql:31-35,43-44,
    * 70-73): tag every row valid/invalid instead of failing the load, so
    * at 100 TB the quarantine is a single extra boolean column, not a second
    * scan.
    */
  def validate(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    val allOk = checks.map(_._2).reduce(_ && _)
    val firstFail = checks.foldRight(lit(null).cast("string")) {
      case ((name, c), acc) => when(!c, lit(name)).otherwise(acc)
    }
    // a row can be invalid with NO check definitively false (all-null
    // inputs, e.g. a malformed PERMISSIVE row): attribute it explicitly
    // instead of leaving violation null
    df.withColumn("is_valid", coalesce(allOk, lit(false)))
      .withColumn("violation",
        when(coalesce(allOk, lit(false)), lit(null).cast("string"))
          .otherwise(coalesce(firstFail, lit("null_check"))))
  }
}

object Aggregates {

  /** Exact continuous median (PERCENTILE_CONT 0.5 semantics, reference:
    * webserver/server.py:222-231) made cross-engine bit-deterministic:
    * interpolating between two doubles (`a + (b-a)*0.5` vs `(a+b)/2`) can
    * differ by 1 ulp between engines, so we take the median over integer
    * cents — midpoints of integers are exact in IEEE double — then divide
    * by 100 (identical division on identical inputs).
    */
  def exactMedianMoney(c: Column): Column =
    percentile(round(c * 100), lit(0.5)) / 100.0

  /** Global total + conditional "active" count in one pass — the signature
    * idiom of the reference: `COUNT(*)` plus
    * `SUM(CASE WHEN status IN (...) THEN 1 ELSE 0 END)` (reference:
    * webserver/server.py:170-180). Partial aggregation (map-side combine)
    * is automatic, so this is one shuffle of one row per partition.
    */
  def totals(df: DataFrame, statusCol: String, active: Seq[String]): DataFrame =
    df.agg(
      count(lit(1)).as("total_count"),
      coalesce(sum(when(Filters.statusIn(statusCol, active), 1L).otherwise(0L)),
        lit(0L)).as("active_count"))

  /** Per-group counts + conditional counts, count-desc with a name tiebreak
    * for determinism (reference: webserver/server.py:183-200; tiebreak added
    * per SURVEY.md §2.5 O1).
    */
  def groupCounts(df: DataFrame, groupCol: String, statusCol: String,
                  active: Seq[String]): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("total_count"),
        sum(when(Filters.statusIn(statusCol, active), 1L).otherwise(0L))
          .as("active_count"))
      .orderBy(col("total_count").desc, col(groupCol))

  /** Exact median / min / max price stats with the reference's empty-group
    * zero fallback (reference: webserver/server.py:221-240 — an empty sale
    * set reports 0, not NULL). Exact `percentile` matches PERCENTILE_CONT
    * interpolation; at 100 TB swap in [[approxPriceStats]].
    */
  def priceStats(df: DataFrame, priceCol: String): DataFrame = {
    val cols = priceStatCols(priceCol)
    df.agg(cols.head, cols.tail: _*)
  }

  /** [[priceStats]]' four aggregate columns, for a caller that computes
    * them in one aggregate alongside its own. */
  def priceStatCols(priceCol: String): Seq[Column] = Seq(
    coalesce(exactMedianMoney(col(priceCol)), lit(0.0)).as("median_price"),
    coalesce(round(min(col(priceCol)), 2), lit(0.0)).as("min_price"),
    coalesce(round(max(col(priceCol)), 2), lit(0.0)).as("max_price"),
    count(lit(1)).as("num_sales"))

  /** Sketch-based distinct count (HLL++, constant memory) — the opt-in
    * scale variant of `countDistinct` for 100 TB cardinality estimation
    * (SURVEY.md §2.4 "absent" list / §7.4 sketch variants).
    */
  def approxDistinct(df: DataFrame, groupCols: Seq[String], target: String,
                     rsd: Double = 0.05): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(approx_count_distinct(col(target), rsd).as(s"approx_distinct_$target"))

  /** Scale escape hatch: t-digest-style approximate percentile (constant
    * memory per group) for the 100 TB path where exact percentile's
    * per-group buffer is the bottleneck (SURVEY.md §7.5).
    */
  def approxPriceStats(df: DataFrame, priceCol: String): DataFrame =
    df.agg(
      coalesce(round(percentile_approx(col(priceCol), lit(0.5), lit(10000)), 2),
        lit(0.0)).as("median_price"),
      coalesce(round(min(col(priceCol)), 2), lit(0.0)).as("min_price"),
      coalesce(round(max(col(priceCol)), 2), lit(0.0)).as("max_price"),
      count(lit(1)).as("num_sales"))
}

/** Join shapes from the reference (SURVEY.md §2.3). J1/J2 are plain
  * equi-joins written inline at call sites; these helpers carry the
  * broadcast intent and the two non-obvious shapes.
  */
object Joins {

  /** Fact ⋈ small dimension with an explicit broadcast hint (J1/J2 —
    * reference joins tiny lookup dims, webserver/server.py:186-187,205-206).
    */
  def factDim(fact: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    fact.join(broadcast(dim), keys)

  /** J5: referential-action cleanup as anti-joins — rows in `child` whose
    * FK no longer resolves (the batch analogue of ON DELETE CASCADE,
    * schema.sql:60-64). Returns (orphans to delete, survivors).
    */
  def referentialSplit(child: DataFrame, parent: DataFrame,
                       childKey: String, parentKey: String): (DataFrame, DataFrame) = {
    val p = parent.select(col(parentKey).as(childKey))
    (child.join(p, Seq(childKey), "left_anti"),
     child.join(p, Seq(childKey), "left_semi"))
  }

  /** Range join as an EQUI-join (another operator class Spark has no
    * native strategy for): match each point `p` to every range with
    * `lo <= p < hi`, without the BroadcastNestedLoopJoin a raw range
    * predicate plans (O(points × ranges) — the classic range-join trap).
    *
    * Binning: the number line is cut into `binWidth` cells; each RANGE
    * explodes to the cells it overlaps, each POINT maps to exactly ONE
    * cell, and the join becomes an equality on the cell id with the
    * precise bound check as a post-filter. A point meets a range only in
    * the point's own cell, so no pair dedup is needed. Cost:
    * O(points + ranges × cellsPerRange) shuffled by cell — pick
    * `binWidth` near the typical range length so cellsPerRange stays
    * small; very long ranges fan out proportionally (the standard trade;
    * split the dim by range length and use two widths if it bites).
    */
  /** THE bin-cell formula, shared by [[rangeJoinBinned]] and
    * [[intervalOverlapJoin]] so the two binned joins cannot diverge. */
  private def binCell(binWidth: Double)(c: Column): Column =
    floor(c / binWidth).cast("long")

  def rangeJoinBinned(points: DataFrame, pointCol: String,
                      ranges: DataFrame, loCol: String, hiCol: String,
                      binWidth: Double): DataFrame = {
    require(binWidth > 0)
    // same guards as intervalOverlapJoin/fuzzyJoin for the identical
    // hazards: a reserved-name collision silently overwrote (then
    // dropped) a caller's __cell column, and shared column names made
    // every downstream reference ambiguous
    require(!(points.columns ++ ranges.columns).contains("__cell"),
      "column __cell is reserved by rangeJoinBinned")
    val clash = points.columns.intersect(ranges.columns)
    require(clash.isEmpty,
      s"rangeJoinBinned output would be ambiguous: ${clash.mkString(",")}")
    val cell = binCell(binWidth) _
    val r = ranges.withColumn("__cell",
      explode(sequence(cell(col(loCol)), cell(col(hiCol)))))
    val p = points.withColumn("__cell", cell(col(pointCol)))
    p.join(r, Seq("__cell"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__cell")
  }

  /** Interval-overlap join (temporal join — completes the asof/range-join
    * family): every (left, right) pair of the same key whose half-open
    * intervals `[lo, hi)` strictly overlap (`l.lo < r.hi AND r.lo < l.hi`),
    * without the nested-loop join a raw overlap predicate plans.
    *
    * Binning with pair dedup: both sides explode their intervals onto
    * `binWidth` cells and the join is an equality on (keys…, cell); a pair
    * sharing several cells would surface once per shared cell, so it is
    * KEPT only in the cell holding the overlap's start, `greatest(l.lo,
    * r.lo)` — a cell both intervals provably cover (it precedes both
    * `hi`s), making the dedup exact with no distinct step. Cost:
    * O(Σ interval length / binWidth) exploded rows, pairs bounded per
    * (key, cell) — pick `binWidth` near the typical interval length; very
    * long intervals fan out proportionally (same trade as
    * [[rangeJoinBinned]]).
    *
    * Bound columns are numeric (epoch micros for time — build with
    * `unix_micros`); keys must share names across sides, all other
    * columns must be disjoint.
    */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
                          keys: Seq[String],
                          leftLo: String, leftHi: String,
                          rightLo: String, rightHi: String,
                          binWidth: Double): DataFrame = {
    require(binWidth > 0, "intervalOverlapJoin requires a positive binWidth")
    require(!(left.columns ++ right.columns).contains("__cell"),
      "column __cell is reserved by intervalOverlapJoin")
    val clash = left.columns.intersect(right.columns).filterNot(keys.contains)
    require(clash.isEmpty,
      s"intervalOverlapJoin output would be ambiguous: ${clash.mkString(",")}")
    val cell = binCell(binWidth) _
    val l = left.withColumn("__cell",
      explode(sequence(cell(col(leftLo)), cell(col(leftHi)))))
    val r = right.withColumn("__cell",
      explode(sequence(cell(col(rightLo)), cell(col(rightHi)))))
    l.join(r, keys :+ "__cell")
      .filter(col(leftLo) < col(rightHi) && col(rightLo) < col(leftHi))
      .filter(col("__cell") === cell(greatest(col(leftLo), col(rightLo))))
      .drop("__cell")
  }

  /** Bloom-prefiltered join: before shuffling the (huge) fact side for an
    * equi-join, drop every fact row whose key cannot be in the dim side —
    * a bloom filter built over the dim keys in one aggregate, applied as a
    * scan-side filter. This is the single biggest shuffle reducer for a
    * selective fact⋈dim join at 100 TB: only rows that might match are
    * ever exchanged, and false positives (tunable via `expectedDimKeys`,
    * default FPP ~3%) are eliminated by the exact join that follows, so
    * the result is EXACTLY the plain inner join's.
    *
    * Spark's own runtime bloom filter (`InjectRuntimeFilter`) does this
    * opportunistically for shuffle joins under conf thresholds; this
    * operator is the explicit, always-on form using the same machinery
    * (`BloomFilterAggregate` build over `xxhash64(key)`, `might_contain`
    * probe). Like that rule's scalar subquery, the built filter lands on
    * the driver as one binary value (~1.2 MB per million keys) and ships
    * to executors as a literal — the same footprint as a broadcast var.
    * The dim aggregate runs ONCE, eagerly, when the plan is built — and
    * the dim lineage is evaluated a second time by the join itself, so
    * `persist()` an expensive dim before calling (a plain dim scan, the
    * normal case, re-reads a few files and does not care).
    */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame,
                      factKey: String, dimKey: String,
                      expectedDimKeys: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.GraftInternal
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val buildAgg = GraftInternal.column(
      new BloomFilterAggregate(GraftInternal.expression(xxhash64(col(dimKey))),
        expectedDimKeys).toAggregateExpression())
    val bf = dim.agg(buildAgg.as("__bf")).head().getAs[Array[Byte]](0)
    val pruned =
      if (bf == null) fact.filter(lit(false)) // empty dim: no key can match
      else fact.filter(GraftInternal.column(BloomFilterMightContain(
        Literal.create(bf, BinaryType),
        GraftInternal.expression(xxhash64(col(factKey))))))
    // side-qualified join keys: with factKey == dimKey (the common
    // natural-key case) unqualified col(...) would be ambiguous
    val joined = pruned.alias("__bloom_fact").join(dim.alias("__bloom_dim"),
      col(s"__bloom_fact.$factKey") === col(s"__bloom_dim.$dimKey"))
    // factKey == dimKey (the common natural-key case) would emit TWO
    // identically-named key columns — every downstream reference then
    // throws AMBIGUOUS_REFERENCE. Drop the dim side's copy so the
    // output matches the plain join's single-key shape.
    if (factKey == dimKey) joined.drop(col(s"__bloom_dim.$dimKey"))
    else joined
  }

  /** As-of join (temporal enrichment — an operator class the reference
    * lacks entirely): each left row gets the `payload` columns of the most
    * recent right row of its key with `rightTs` <= `leftTs` (inclusive);
    * no matching right row → null payload (left semantics).
    *
    * Formulation: union both sides, one keyed window ordered by
    * (timestamp, side), and a running `last(_, ignoreNulls)` per payload
    * column — ONE shuffle on the key and a linear per-partition pass.
    * The naive alternative (range join `l.ts >= r.ts` + per-left max)
    * materializes every (left, earlier-right) pair — quadratic per key at
    * 100 TB. The window is always PARTITIONED by the key: this operator
    * requires keys (an unkeyed as-of would be the global-window
    * anti-pattern; add a constant key column if you truly mean that).
    *
    * `rightTs` must be unique per key (a snapshot/rollup series); equal
    * right timestamps within a key would make the picked payload
    * nondeterministic. NULL join keys follow SQL equality: a null-key left
    * row matches nothing (null payload), a null-key right row matches
    * nobody.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               payload: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "asofJoin requires join keys")
    val leftOther = left.columns.filterNot(keys.contains).toSeq
    val reserved = Seq("__ts", "__side", "__snap")
    require(payload.forall(p => !leftOther.contains(p) && !keys.contains(p)),
      s"payload columns ${payload.mkString(",")} must not collide with left columns")
    require((left.columns ++ right.columns).forall(c => !reserved.contains(c)),
      s"columns ${reserved.mkString(",")} are reserved by asofJoin")
    // the payload travels as ONE struct, null on left rows and non-null on
    // every right row (even when its fields are null): the running
    // last(ignoreNulls) then picks the latest right SNAPSHOT atomically —
    // per-column filling would resurrect an older value wherever the
    // latest snapshot holds a null, and could mix columns of different
    // snapshots into a row that never existed
    val l2 = left.select(
      keys.map(col) ++
        Seq(col(leftTs).as("__ts"), lit(1).as("__side")) ++
        leftOther.map(col) :+
        lit(null).cast(org.apache.spark.sql.types.StructType(
          payload.map(p => right.schema(p).copy(name = p)))).as("__snap"): _*)
    val r2 = right
      // SQL equality: a null-key right row can never match
      .filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .select(
        keys.map(col) ++
          Seq(col(rightTs).as("__ts"), lit(0).as("__side")) ++
          leftOther.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
          struct(payload.map(col): _*).as("__snap"): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = l2.unionByName(r2)
      .withColumn("__snap", last(col("__snap"), ignoreNulls = true).over(w))
    payload.foldLeft(filled.filter(col("__side") === 1)) { (d, p) =>
      d.withColumn(p, col("__snap").getField(p))
    }.drop("__ts", "__side", "__snap")
  }

  /** Fuzzy (edit-distance) join — record linkage without the all-pairs
    * cartesian: every (left, right) pair with
    * `levenshtein(left, right) <= maxDist`.
    *
    * Blocking is LOSSLESS, so the result equals the naive cross-join
    * filter: two strings within edit distance d differ in length by at
    * most d, so with length buckets of width d+1 every qualifying right
    * row lands in one of the ≤3 buckets the left row fans out to
    * (`sequence` over the bucket range of [len−d, len+d]). The join is
    * then an equi-join on the bucket id with the exact distance as a
    * post-filter — never a BroadcastNestedLoopJoin. Spark's 3-arg
    * `levenshtein` early-exits past the threshold (returns -1), so the
    * per-pair cost is O(len·d), not O(len²).
    *
    * Cost: pairs within a length bucket. Natural-language name/title
    * lengths concentrate in a narrow band, so at 100 TB compose with a
    * second blocking key (phonetic code, token prefix) by pre-grouping
    * both sides if one bucket dominates — the length block alone bounds
    * fan-out, not bucket size.
    */
  def fuzzyJoin(left: DataFrame, right: DataFrame,
                leftCol: String, rightCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, "fuzzyJoin requires a non-negative distance")
    require(!(left.columns ++ right.columns).exists(Seq("__bkt", "dist").contains),
      "columns __bkt and dist are reserved by fuzzyJoin")
    require(left.columns.intersect(right.columns).isEmpty,
      s"fuzzyJoin output would be ambiguous: both sides have " +
        s"${left.columns.intersect(right.columns).mkString(",")}")
    val w = maxDist + 1
    val lLen = length(col(leftCol))
    val lo = floor((lLen - maxDist).cast("double") / w).cast("long")
    val hi = floor((lLen + maxDist).cast("double") / w).cast("long")
    val l = left.withColumn("__bkt", explode(sequence(lo, hi)))
    val r = right.withColumn("__bkt",
      floor(length(col(rightCol)).cast("double") / w).cast("long"))
    val dist = levenshtein(col(leftCol), col(rightCol), maxDist)
    l.join(r, Seq("__bkt")).withColumn("dist", dist)
      .filter(col("dist") >= 0).drop("__bkt")
  }
}

/** Frequent-pair mining (market-basket affinity): which items co-occur in
  * the same basket. The A-priori property makes this tractable at scale —
  * a pair can only reach support `s` if BOTH items do, so items are
  * support-pruned BEFORE the pair-generating self-join.
  */
object Affinity {

  /** Item pairs co-occurring in at least `minPairSupport` baskets, top
    * `k` by basket count. Shape: distinct (basket, item) → item-support
    * semi-join prune (A-priori) → self-join keyed ON THE BASKET (never a
    * cartesian; fan-out is per-basket size², bounded by basket width, not
    * corpus size) with `i1 < i2` canonical ordering → hash-agg count →
    * TakeOrderedAndProject. `minItemSupport` is the knob that keeps the
    * self-join linear-ish when item frequencies are skewed: at 100 TB
    * raise it until the pruned item set's hottest basket² term is
    * acceptable, or pre-split mega-baskets upstream.
    */
  def cooccurrence(df: DataFrame, basketCol: String, itemCol: String,
                   minItemSupport: Long, minPairSupport: Long,
                   k: Int): DataFrame = {
    require(k >= 1, "cooccurrence requires k >= 1")
    cooccurrencePairs(df, basketCol, itemCol, minItemSupport, minPairSupport)
      .orderBy(col("n_baskets").desc, col("i1"), col("i2"))
      .limit(k)
  }

  /** The untruncated pair set behind [[cooccurrence]] — (i1, i2,
    * n_baskets) with i1 < i2, every pair above the support thresholds.
    * This is also the repo's canonical item-affinity GRAPH: symmetrize it
    * and the pairs are edges (see [[Graph.pageRank]]'s contract query).
    */
  def cooccurrencePairs(df: DataFrame, basketCol: String, itemCol: String,
                        minItemSupport: Long, minPairSupport: Long): DataFrame = {
    require(minItemSupport >= 1 && minPairSupport >= 1,
      "cooccurrence requires positive support thresholds")
    val items = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    val frequent = items.groupBy(col("__i"))
      .agg(count(lit(1)).as("__supp"))
      .filter(col("__supp") >= minItemSupport)
      .select(col("__i"))
    val pruned = items.join(frequent, Seq("__i"), "left_semi")
    val a = pruned.select(col("__b"), col("__i").as("i1"))
    val b = pruned.select(col("__b"), col("__i").as("i2"))
    a.join(b, Seq("__b")).filter(col("i1") < col("i2"))
      .groupBy(col("i1"), col("i2")).agg(count(lit(1)).as("n_baskets"))
      .filter(col("n_baskets") >= minPairSupport)
  }
}

/** Skew mitigation: salted joins. When a handful of hot keys dominate a
  * fact⋈dim join (classic 100 TB failure mode), append a deterministic
  * salt 0..n-1 to the fact side and replicate the dim side n× so each hot
  * key spreads over n reducers. AQE's skew-join handles sort-merge skew
  * automatically; explicit salting is for when you need it deterministic
  * or on non-AQE paths.
  */
object Skew {

  /** The salt routing a fact row to one of `n` replicas of its dim row:
    * a hash of the whole row MIXED with the row's partition ordinal
    * (`monotonically_increasing_id` = partition id + in-partition offset),
    * so even byte-identical duplicate rows of a hot key (a common skew
    * cause — repeated events, retried loads) spread across reducers
    * instead of all hashing to one salt. Deterministic under task retry: a
    * retry re-scans the same partition in the same order, so every row
    * reproduces its salt (no rand(), which breaks retry idempotence); the
    * ordinal does depend on the upstream partition layout, which only
    * re-routes rows — never changes the join result.
    */
  def saltExpr(fact: DataFrame, n: Int): Column =
    pmod(xxhash64(struct(fact.columns.toIndexedSeq.map(col): _*),
      monotonically_increasing_id()), lit(n.toLong)).cast("int")

  /** Inner equi-join `fact ⋈ dim on key`, salted `n` ways. `dim(key)` must
    * be unique per key (a dimension). Result rows equal the unsalted join.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, n: Int): DataFrame = {
    // the guarded-join discipline (intervalOverlapJoin et al.): a
    // caller's own __salt column would be silently clobbered then
    // dropped, and shared non-key names make the output ambiguous —
    // both silently break the "rows equal the unsalted join" contract
    require(!(fact.columns ++ dim.columns).contains("__salt"),
      "column __salt is reserved by saltedJoin")
    val clash = fact.columns.intersect(dim.columns).filterNot(_ == key)
    require(clash.isEmpty,
      s"saltedJoin output would be ambiguous: ${clash.mkString(",")}")
    val saltedFact = fact.withColumn("__salt", saltExpr(fact, n))
    val explodedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(n - 1))))
    saltedFact.join(explodedDim, Seq(key, "__salt")).drop("__salt")
  }
}

/** Presentation-edge scalar helpers (SURVEY.md §2.6 C10/C11) — formatting
  * the reference does in Jinja templates.
  */
object Presentation {

  /** Thousands-grouped number formatting, `'{:,}'`/`'{:,.0f}'`
    * (reference: templates/analytics.html:183-204).
    */
  def thousands(c: Column, decimals: Int = 0): Column = format_number(c, decimals)

  /** Street-name prefill for the compare form: drop the leading house
    * number, strip anything after a comma
    * (reference: templates/analytics.html:162-165).
    */
  def addressPrefill(address: Column): Column =
    trim(regexp_replace(regexp_replace(address, ",.*$", ""), "^\\s*\\S+\\s+", ""))
}

object TopK {

  /** Top-N groups + residual "Other" bucket (reference:
    * webserver/server.py:411-419 does this in Python after transferring all
    * groups; here it is one extra tiny aggregate over the already-reduced
    * group counts, so the fact table is scanned once).
    *
    * Input: output of [[Aggregates.groupCounts]] (groupCol, total_count,
    * active_count). Output keeps the grand total invariant:
    * sum(total_count) is preserved (SURVEY.md §5 property 3).
    *
    * "Other" is a RESERVED bucket label (as in the reference's chart,
    * webserver/server.py:411-419): a real group literally named "Other"
    * that ranks in the top n merges with the residual bucket.
    */
  def topNPlusOther(grouped: DataFrame, groupCol: String, n: Int): DataFrame = {
    // Top-N membership via orderBy+limit (TakeOrderedAndProject — a
    // distributed per-partition top-N, no global Window): an unpartitioned
    // `Window.orderBy` would move every group to ONE partition, which is a
    // single-node sort when the group column is high-cardinality. The tiny
    // n-row winner set broadcast-joins back to tag buckets; Catalyst's
    // ReuseExchange shares the upstream aggregation between both branches.
    val topn = grouped
      .orderBy(col("total_count").desc, col(groupCol))
      .limit(n)
      .select(col(groupCol).as("__top_key"), lit(1).as("__hit"))
    grouped
      // null-safe equality + an explicit hit marker: a NULL group key that
      // ranks in the top n keeps its own (null) bucket, exactly as the
      // row_number formulation this replaced behaved
      .join(broadcast(topn), col(groupCol) <=> col("__top_key"), "left")
      .withColumn("bucket",
        when(col("__hit").isNotNull, col(groupCol)).otherwise(lit("Other")))
      .groupBy(col("bucket"))
      .agg(sum(col("total_count")).as("total_count"))
      // winners in rank order (count desc, name — the ranking's own key),
      // the residual bucket last
      .orderBy(when(col("bucket") === "Other", 1).otherwise(0),
        col("total_count").desc, col("bucket"))
      .select(col("bucket"), col("total_count"))
  }

  /** Top-k rows per group ("top 3 parts per brand"): a rank window
    * PARTITIONED by the group — never the global-window trap; each group
    * ranks independently in its own partition. `orderCols` must totally
    * order rows within a group (add the natural key as a tiebreak) or the
    * selection is nondeterministic. Adds `rank_in_group` (1-based).
    */
  def perGroup(df: DataFrame, groupCols: Seq[String], orderCols: Seq[Column],
               k: Int): DataFrame = {
    require(groupCols.nonEmpty, "perGroup requires group columns")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("rank_in_group", row_number().over(w))
      .filter(col("rank_in_group") <= k)
  }
}

object TimeSeries {

  /** Calendar-month rollup (reference: webserver/server.py:281-302 —
    * `GROUP BY DATE_TRUNC('month', …)`). Emits the month as a `yyyy-MM`
    * string (the reference's edge format, server.py:312).
    */
  def monthly(df: DataFrame, dateCol: String, aggs: Seq[Column]): DataFrame =
    df.groupBy(date_format(date_trunc("month", col(dateCol)), "yyyy-MM")
        .as("month"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("month"))

  /** Month spine: one row per calendar month in [start, end] — replaces the
    * reference's driver-side month-increment loop
    * (webserver/server.py:319-329) with `sequence` + `explode`: a single
    * constant-foldable expression the optimizer broadcasts. Like the
    * loop, a start month after the end month yields no months.
    */
  def monthSpine(spark: org.apache.spark.sql.SparkSession,
                 start: String, end: String): DataFrame = {
    import spark.implicits._
    val s = date_trunc("month", to_timestamp(col("s")))
    val e = date_trunc("month", to_timestamp(col("e")))
    Seq((start, end)).toDF("s", "e")
      .select(explode(when(s <= e, sequence(s, e, expr("interval 1 month"))))
        .as("month_ts"))
      .select(date_format(col("month_ts"), "yyyy-MM").as("month"))
  }

  /** Gap-based sessionization via `session_window` (absent from the
    * reference — SURVEY.md §2.7; the classic analytics operator the
    * extension surface adds): events of one key whose gaps never exceed
    * `gap` merge into one session (inclusive — an event exactly `gap`
    * after the previous one still merges; window end = last event + gap).
    * Works identically on a streaming frame with a watermark, where Spark
    * evicts session state once the watermark passes the session end.
    */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String, gap: String,
                 aggs: Seq[Column]): DataFrame =
    df.groupBy(col(keyCol), session_window(col(tsCol), gap).as("session"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("session.start"))
      .withColumn("session_end", col("session.end"))
      .drop("session")

  /** Hopping (sliding) time-window rollup: fixed `width` windows starting
    * every `slide`, epoch-aligned (Spark's `window()` default) — each
    * event lands in width/slide windows. The streaming-native shape of
    * "last 24 h refreshed every 6 h"; on a streaming frame add a
    * watermark and it runs unchanged. Same hash-aggregate cost model as a
    * tumbling rollup × the overlap factor.
    */
  def sliding(df: DataFrame, tsCol: String, width: String, slide: String,
              keyCols: Seq[String], aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(tsCol), width, slide).as("w") +:
        keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("w.start"))
      .withColumn("window_end", col("w.end"))
      .drop("w")

  /** Month-over-month delta for a monthly aggregate (the trends-page
    * "change vs last month" analytic): each month joins its predecessor's
    * value; first month (or a gap) yields null delta/pct, a zero previous
    * value yields null pct (not ±Inf).
    *
    * Formulated as a broadcast SELF-JOIN on month−1, not a `lag()` window:
    * an unkeyed monthly trend would need an UNPARTITIONED window (all rows
    * to one task — the global-sort anti-pattern this repo's plan guard
    * forbids), while the monthly aggregate is tiny by construction and
    * broadcasting it is free.
    */
  def withMonthDelta(monthlyAgg: DataFrame, valueCol: String): DataFrame = {
    val prev = monthlyAgg.select(
      date_format(add_months(to_date(concat(col("month"), lit("-01"))), 1),
        "yyyy-MM").as("month"),
      col(valueCol).as(s"prev_$valueCol"))
    monthlyAgg.join(broadcast(prev), Seq("month"), "left")
      .withColumn(s"delta_$valueCol", col(valueCol) - col(s"prev_$valueCol"))
      // qualified like delta_<col> (r12): an unqualified pct_change
      // meant chaining the operator for a second value column silently
      // overwrote the first one's percentage
      .withColumn(s"pct_change_$valueCol",
        when(col(s"prev_$valueCol") =!= 0,
          round((col(valueCol) - col(s"prev_$valueCol")).cast("double")
            / col(s"prev_$valueCol"), 6)))
  }

  /** Event funnel (conversion analysis): for every `firstType` event, the
    * EARLIEST `secondType` event of the same key strictly after it and
    * within `withinSecs` — "purchase within an hour of the click". The
    * join is an EQUI-join on the key with the interval as a post-filter
    * (same discipline as the binned range join: never a time-predicate
    * nested loop); the earliest-match pick is a struct-min aggregate, so
    * the whole operator is join + hash agg, both shuffled only by key.
    * Per-key cost is firstN×secondN within the window — bounded in any
    * real funnel where one user's events fit a partition.
    *
    * The same shape runs as a watermarked stream-stream join (both sides
    * watermarked, interval bounds in the join condition) — spec-pinned in
    * StreamingMultimodalSpec.
    */
  def funnelPairs(events: DataFrame, keyCol: String, idCol: String,
                  tsCol: String, typeCol: String,
                  firstType: String, secondType: String,
                  withinSecs: Long): DataFrame = {
    val a = events.filter(col(typeCol) === firstType).select(
      col(keyCol), col(idCol).as("first_id"), col(tsCol).as("first_ts"))
    val b = events.filter(col(typeCol) === secondType).select(
      col(keyCol), col(idCol).as("second_id"), col(tsCol).as("second_ts"))
    a.join(b, Seq(keyCol))
      .filter(col("second_ts") > col("first_ts") &&
        col("second_ts") <= col("first_ts") + expr(s"interval $withinSecs seconds"))
      .groupBy(col(keyCol), col("first_id"), col("first_ts"))
      .agg(min(struct(col("second_ts"), col("second_id"))).as("__m"))
      .select(col(keyCol), col("first_id"), col("first_ts"),
        col("__m.second_id").as("second_id"),
        col("__m.second_ts").as("second_ts"))
  }

  /** Keyed rolling mean over the last `window` rows (ordered by
    * `orderCols`, which must totally order each key's rows). The frame sum
    * is DECIMAL-exact — a float running sum would make the mean depend on
    * nothing but still differ across engines by accumulated ulps — and the
    * division to double happens once, at a fixed point. Window PARTITIONED
    * by the key, never global.
    */
  def rollingMean(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                  valueCol: String, window: Int): DataFrame = {
    require(keys.nonEmpty, "rollingMean requires partition keys")
    require(window >= 1, "rollingMean requires a frame of at least one row")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-(window - 1).toLong, Window.currentRow)
    df.withColumn("roll_avg",
      sum(col(valueCol).cast("decimal(25,6)")).over(w).cast("double")
        / count(col(valueCol)).over(w)) // null values leave the mean alone
  }

  /** First-touch attribution (the acquisition-marketing primitive): every
    * key's FIRST event (by ts, tiebreak — the lexicographic struct-min,
    * same ordering device as [[journeys]]) is its acquisition touch, and
    * all of the key's `convType` conversions are credited to that touch's
    * type. Returns per touch type: keys acquired, conversions, and
    * conversion value. Two hash aggregates and one key-equi join — no
    * windows, no global sort.
    *
    * Value sums are doubles folded in SORTED order ([[Folds.sortedSum]])
    * at both levels (per key, then per touch type), so revenue is
    * partition-order-independent and cross-engine exact; non-converting
    * keys fold an empty list to an exact 0.0.
    * `tsCol`/`tieCol` must be non-null and (together) unique per key.
    *
    * ONE scan of the fact: the acquisition touch and the conversion
    * stats come out of the same per-key aggregate via conditional
    * aggregation (`when(type = conv)` — `collect_list` skips the nulls
    * the non-matching rows produce), then one tiny per-touch-type
    * aggregate. No join, no second scan.
    */
  def firstTouchAttribution(df: DataFrame, keyCol: String, tsCol: String,
                            tieCol: String, typeCol: String,
                            valueCol: String, convType: String): DataFrame = {
    val isConv = col(typeCol) === convType
    df.groupBy(col(keyCol))
      .agg(
        min(struct(col(tsCol), col(tieCol), col(typeCol).as("__t")))
          .as("__f"),
        count(when(isConv, lit(1))).as("__nc"),
        Folds.sortedSum(when(isConv, col(valueCol).cast("double")))
          .as("__rev"))
      .groupBy(col("__f.__t").as("first_touch"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("__nc")).as("n_conversions"),
        Folds.sortedSum(col("__rev")).as("revenue"))
  }

  /** Rolling anomaly detection — [[rollingMean]]'s alerting sibling and
    * the keyed-window form of [[Profiling.outliers]]: each row's z-score
    * against its own trailing `window`-row frame (inclusive), keeping
    * only |z| > `sigmas`. The frame's Σx and Σx² are DECIMAL-exact (same
    * casts as the outliers moments, so segment-tree vs linear window
    * evaluation cannot diverge); mean, sample variance, `sqrt` and the
    * divide are then single IEEE steps — `sqrt` is correctly rounded by
    * IEEE 754, so unlike `ln`/`exp` it is safe in a cross-engine-exact
    * pipeline. Frames with <2 rows or zero variance emit nothing. Window
    * PARTITIONED by the key, never global; `orderCols` must totally order
    * each key's rows.
    *
    * Evaluated as PREFIX SUMS, not sliding frames: a `w`-row ROWS frame
    * makes Spark's WindowExec re-aggregate the frame per row — O(n·w)
    * decimal additions per partition (~36 M boxed ops over sf0.1
    * lineitem at w=20, the suite's most allocation-heavy query before
    * this rewrite). Instead each moment is a single cumulative
    * (unbounded-preceding) sum, and the trailing frame is recovered as
    * `cum − lag(cum, w)` — O(1) work per row, one sort, two window
    * passes over the SAME partitioning/ordering (no extra shuffle).
    * Exactness is unchanged: each term is cast to decimal BEFORE
    * summing exactly as before, and decimal addition/subtraction is
    * exact, so `cum − lag` yields bit-identical frame sums to the
    * direct frame evaluation (verified: q76's oracle hash is unchanged
    * across the rewrite).
    */
  def rollingZscore(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                    valueCol: String, window: Int, sigmas: Double): DataFrame = {
    require(keys.nonEmpty, "rollingZscore requires partition keys")
    require(window >= 2, "rollingZscore needs frames of at least two rows")
    val v = col(valueCol).cast("double")
    val wcum = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wlag = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val withCum = df
      .withColumn("__cn", count(v).over(wcum))
      .withColumn("__c1", sum(v.cast("decimal(25,6)")).over(wcum))
      .withColumn("__c2", sum((v * v).cast("decimal(30,6)")).over(wcum))
    // lag defaults (0 / decimal zero) cover the first w rows of each
    // partition, where the trailing frame is truncated at the partition
    // start and the frame sum IS the cumulative sum.
    val withStats = withCum
      .withColumn("__fn",
        col("__cn") - coalesce(lag(col("__cn"), window).over(wlag), lit(0L)))
      .withColumn("__s1",
        (col("__c1") - coalesce(lag(col("__c1"), window).over(wlag),
          lit(BigDecimal(0)).cast("decimal(25,6)"))).cast("double"))
      .withColumn("__s2",
        (col("__c2") - coalesce(lag(col("__c2"), window).over(wlag),
          lit(BigDecimal(0)).cast("decimal(30,6)"))).cast("double"))
      .withColumn("__var",
        (col("__s2") - col("__s1") * col("__s1") / col("__fn"))
          / (col("__fn") - 1))
    withStats.filter(col("__fn") >= 2 && col("__var") > 0)
      .withColumn("z", (v - col("__s1") / col("__fn")) / sqrt(col("__var")))
      .filter(abs(col("z")) > sigmas)
      .drop("__cn", "__c1", "__c2", "__fn", "__s1", "__s2", "__var")
  }

  /** Cohort retention: bucket every key (user/customer) by its FIRST
    * activity month, then count distinct active keys per (cohort month,
    * month offset) — the classic retention triangle. The month offset is
    * pure INTEGER calendar arithmetic (`year×12 + month` difference), not
    * an interval subtraction, so every engine buckets identically.
    *
    * Shape: distinct (key, month) — one hash aggregate that also shrinks
    * the input to at most keys×months rows — then a min-per-key aggregate,
    * a key-equi-join (cohorts table is keys-sized; at 100 TB both
    * aggregates and the join shuffle on the SAME key so AQE plans one
    * exchange chain), and a final small hash aggregate. No windows.
    */
  def cohortRetention(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val monthNum = (c: Column) => year(c) * 12 + month(c)
    val acts = df.select(col(keyCol).as("__k"),
        date_trunc("month", col(tsCol)).as("__m"))
      .distinct()
    val cohorts = acts.groupBy(col("__k")).agg(min(col("__m")).as("__c"))
    acts.join(cohorts, Seq("__k"))
      .groupBy(date_format(col("__c"), "yyyy-MM").as("cohort_month"),
        (monthNum(col("__m")) - monthNum(col("__c"))).as("month_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Per-key event journey (path analysis — the funnel's exploratory
    * sibling): each key's first `maxSteps` event types in (ts, tiebreak)
    * order, joined into one `a>b>c` path string, plus the key's total
    * event count. One hash aggregate: `collect_list(struct)` then
    * `array_sort` per key — structs order lexicographically by field, so
    * (ts, tie, type) sorts exactly like the SQL `ORDER BY ts, tie`.
    * Per-key state is the key's OWN events (bounded in any real
    * clickstream; cap upstream if a key can be a firehose) — never a
    * global sort.
    */
  def journeys(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
               typeCol: String, maxSteps: Int): DataFrame = {
    require(maxSteps >= 1, "journeys requires at least one step")
    // null-ts/null-type events are INERT (excluded before the aggregate,
    // like the moments operators): a null type would silently consume a
    // step slot yet vanish from the concat_ws string, and a null ts sorts
    // first in Spark struct order but NULLS LAST in most SQL engines —
    // exclusion is the only semantics both engines state identically
    val sorted = array_sort(collect_list(
      struct(col(tsCol), col(tieCol), col(typeCol).as("__t"))))
    df.filter(col(tsCol).isNotNull && col(typeCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        concat_ws(">",
          transform(slice(sorted, 1, maxSteps), s => s.getField("__t")))
          .as("journey"))
  }

  /** Per-group OLS trend line (the "is this segment growing" analytics
    * primitive): least-squares slope and intercept of `yCol` over `xCol`
    * within each group, from ONE hash aggregate of five sufficient
    * statistics (n, Σx, Σy, Σxy, Σx²) — never a per-group sort or window.
    *
    * Determinism: `xCol` must be integral (a month/bucket index) and
    * `yCol` decimal — then every sum is exact whatever the partitioning,
    * and the only floating-point steps are the final casts and divides
    * (one each), identical on any engine. Groups with a single x value
    * (zero variance) return null slope/intercept rather than dividing by
    * zero. slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) — textbook normal
    * equations, denominator exact in decimal so the zero test is exact
    * too.
    */
  def trendSlope(df: DataFrame, groupCols: Seq[String], xCol: String,
                 yCol: String): DataFrame = {
    val agg = df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("__n"),
      sum(col(xCol)).as("__sx"),
      sum(col(yCol)).as("__sy"),
      sum(col(xCol) * col(yCol)).as("__sxy"),
      sum(col(xCol) * col(xCol)).as("__sxx"))
    val den = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val num = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    val slope = when(den =!= 0,
      num.cast("double") / den.cast("double"))
    val intercept = when(den =!= 0,
      (col("__sy").cast("double") - col("slope") * col("__sx").cast("double"))
        / col("__n").cast("double"))
    agg.withColumn("n_points", col("__n"))
      .withColumn("slope", slope)
      .withColumn("intercept", intercept)
      .select(groupCols.map(col) :+ col("n_points") :+ col("slope")
        :+ col("intercept"): _*)
  }

  /** Gap fill: spine LEFT JOIN aggregate with the reference's asymmetric
    * null semantics — counts become 0 for missing months, medians stay NULL
    * (reference: webserver/server.py:331-341). `zeroFill` names the count
    * columns; everything else keeps the join's nulls.
    */
  def gapFill(spine: DataFrame, agg: DataFrame, zeroFill: Seq[String]): DataFrame = {
    val joined = spine.join(broadcast(agg), Seq("month"), "left")
    val filled = zeroFill.foldLeft(joined) { (d, c) =>
      d.withColumn(c, coalesce(col(c), lit(0L)))
    }
    filled.orderBy(col("month"))
  }
}

/** Changelog compaction — the lakehouse CDC/merge primitive: collapse an
  * append-only changelog (upserts + deletes, versioned per key) into the
  * current snapshot. A snapshot-maintenance pipeline at 100 TB runs this
  * per ingest cycle; the merge form is just
  * `compact(base.unionByName(changes), ...)` with base rows carrying their
  * snapshot version.
  */
object Changelog {

  /** Latest-wins compaction: for each key keep ONLY the highest-version
    * row; if that winner satisfies `isDelete`, the key leaves the snapshot
    * entirely (a delete marker beats every earlier upsert, and an upsert
    * after a delete resurrects the key — strict version order decides).
    * One shuffle: a row_number window PARTITIONED by the key (never
    * global), linear per key. `versionCols` must totally order each key's
    * rows (add a sequence/offset tiebreak if timestamps can collide —
    * nondeterministic winners otherwise).
    */
  def compact(changes: DataFrame, keys: Seq[String], versionCols: Seq[String],
              isDelete: Column): DataFrame = {
    require(keys.nonEmpty, "compact requires key columns")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(versionCols.map(col(_).desc): _*)
    changes.withColumn("__rn", row_number().over(w))
      // coalesce: a winning row where isDelete evaluates NULL (e.g. a
      // base-snapshot row with a null op column in the documented
      // base-union-changes merge) is NOT a delete — `!null` is null and
      // a bare filter would silently drop the key from the snapshot
      .filter(col("__rn") === 1 && coalesce(!isDelete, lit(true)))
      .drop("__rn")
  }

  /** Snapshot diff — the dataset-versioning primitive: what changed between
    * two snapshots of a keyed table (two compaction cuts, two export
    * versions, two days of a dimension). Emits ONLY differing keys, tagged
    * `added` (key only in `newSnap`), `removed` (only in `oldSnap`) or
    * `changed` (present in both, any `compareCols` value differs under
    * null-safe equality); unchanged keys — the overwhelming bulk at 100 TB —
    * are filtered before the result ever materializes. Output carries both
    * sides of every compared column as `old_<c>` / `new_<c>` (null on the
    * absent side for added/removed).
    *
    * Shape: one full-outer shuffle join on the key — the minimal plan for a
    * symmetric diff; at 100 TB both sides would be bucketed on the key
    * ([[graft.sources.Bucketing]]) making this exchange-free. Keys must be
    * unique per snapshot (compaction output); null keys follow SQL join
    * semantics and would never pair, so require them non-null upstream.
    */
  def diffSnapshots(oldSnap: DataFrame, newSnap: DataFrame, keys: Seq[String],
                    compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "diffSnapshots requires key columns")
    val o = oldSnap.select(keys.map(col) ++
      compareCols.map(c => col(c).as(s"old_$c")): _*)
    val n = newSnap.select(keys.map(col) ++
      compareCols.map(c => col(c).as(s"new_$c")): _*)
    // membership markers, not key-null checks: a key column CAN be null in
    // payload terms only upstream; lit(1) marks which side matched
    val j = o.withColumn("__in_old", lit(1))
      .join(n.withColumn("__in_new", lit(1)), keys, "full_outer")
    val differs = compareCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    j.withColumn("change_type",
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(differs, lit("changed")))
      .filter(col("change_type").isNotNull)
      .drop("__in_old", "__in_new")
  }
}

/** Incremental aggregate maintenance — the materialized-view primitive: a
  * maintained rollup absorbs a new ingest batch by merging the BATCH's
  * aggregate, never rescanning history. At 100 TB this turns "recompute the
  * monthly rollup" (a full-corpus scan per cycle) into a join that is
  * base-aggregate-sized on one side and delta-sized on the other.
  */
object Incremental {

  /** Merge a delta batch's aggregate into the maintained one: full-outer on
    * the grouping keys, each `sumCols` value adds with absent-side-as-zero.
    * EXACT (merge ≡ full recompute, bit-for-bit) when the summed columns
    * are integer or decimal — which is why the repo's aggregates keep
    * decimal sums until the final cast; a float sum would make the merged
    * total depend on batch boundaries. Only ADDITIVE aggregates merge this
    * way (counts, sums; min/max merge under insert-only via a max variant);
    * medians/percentiles don't decompose — maintain those with sketches or
    * recompute their partitions.
    *
    * Both inputs are aggregates (small relative to facts); keys must be
    * unique per side. At 100 TB the maintained side lives bucketed on the
    * keys so the merge is exchange-free on its side.
    */
  def mergeAdditive(base: DataFrame, delta: DataFrame, keys: Seq[String],
                    sumCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "mergeAdditive requires grouping keys")
    // NULL-SAFE key equality (<=>): groupBy emits a null group when the
    // grouped column has nulls, and a plain equi-join would leave the two
    // sides' null groups unmatched — two partial rows where the full
    // recompute has one merged row, silently breaking the ≡-recompute
    // contract
    val b = base.select(keys.map(k => col(k).as(s"__bk_$k")) ++
      sumCols.map(c => col(c).as(s"__b_$c")): _*)
    val d = delta.select(keys.map(k => col(k).as(s"__dk_$k")) ++
      sumCols.map(c => col(c).as(s"__d_$c")): _*)
    val cond = keys.map(k => col(s"__bk_$k") <=> col(s"__dk_$k")).reduce(_ && _)
    val zero = (c: String) => lit(0).cast(base.schema(c).dataType)
    val joined = keys.foldLeft(b.join(d, cond, "full_outer")) { (df, k) =>
      df.withColumn(k, coalesce(col(s"__bk_$k"), col(s"__dk_$k")))
    }
    sumCols.foldLeft(joined) { (df, c) =>
      df.withColumn(c,
        coalesce(col(s"__b_$c"), zero(c)) + coalesce(col(s"__d_$c"), zero(c)))
    }.select(keys.map(col) ++ sumCols.map(col): _*)
  }
}

object Compare {

  /** Two-key (or N-key) side-by-side comparison in ONE pass (reference:
    * webserver/server.py:456-473 runs the full query stack twice; J4 in
    * SURVEY.md). Filter to the key set, group by the key, aggregate — the
    * fact table is scanned once regardless of how many keys are compared.
    */
  def sideBySide(df: DataFrame, keyCol: String, keys: Seq[Any],
                 aggs: Seq[Column]): DataFrame =
    df.filter(col(keyCol).isin(keys.map(Param.against(df, keyCol, _)): _*))
      .groupBy(col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col(keyCol))
}
