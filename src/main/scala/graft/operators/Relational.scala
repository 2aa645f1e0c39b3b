package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational operators, re-expressed Spark-first from the
  * reference's hand-fused pipeline (SURVEY.md §2).
  *
  * Every operator here is a pure DataFrame transform so Catalyst can
  * push filters/prune columns through it; nothing collects to the
  * driver. At 100 TB these run as shuffle-partitioned hash aggregates /
  * sort-merge joins with AQE skew splitting.
  */
object Relational {

  /** Hash-stable integer cents for a double money column — double
    * aggregation order differs between engines, so correctness oracles
    * compare `round(sum*100)` as int64 instead of raw doubles.
    */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** GLOBAL EXCLUSIVE PREFIX SUM — a running total over a TOTAL
    * order, without the unpartitioned window that serializes it onto
    * one task: the textbook two-level distributed scan. Rows are
    * range-partitioned by `orderCol` (partitions = disjoint,
    * ordered key ranges), each partition's running sum is a
    * partition-local window, and the cross-partition carry is a
    * per-partition-total census (#partitions rows) whose own tiny
    * window produces each partition's base offset, broadcast back.
    * The OUTPUT is partitioning-independent — the prefix sum depends
    * only on the order, not on where the range boundaries fall — so
    * the result is exact and deterministic for any partition count.
    *
    * `orderCol` must be globally unique (ties would make "preceding"
    * ambiguous). The ranged input is persisted under [[CacheRegistry]]
    * (it feeds both the census and the main side).
    *
    * Returns `df` plus `offsetName` = sum of `valueCol` over all rows
    * strictly before this one in `orderCol` order.
    */
  def globalPrefixSum(df: DataFrame, orderCol: String, valueCol: String,
                      offsetName: String = "offset"): DataFrame = {
    val ranged = CacheRegistry.persist(
      df.repartitionByRange(col(orderCol))
        .withColumn("__pid", spark_partition_id()))
    val wq = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = ranged.groupBy("__pid")
      .agg(sum(col(valueCol)).as("__pt"))
      .withColumn("__base", coalesce(sum(col("__pt")).over(wq), lit(0L)))
      .select(col("__pid"), col("__base"))
    val wp = Window.partitionBy(col("__pid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged.join(broadcast(bases), Seq("__pid"))
      .withColumn(offsetName,
        col("__base") + coalesce(sum(col(valueCol)).over(wp), lit(0L)))
      .drop("__pid", "__base")
  }

  /** F3 (reference `src/history_filter.cpp:30-245`): latest version per
    * key. The reference streams sorted rows and keeps row i iff the next
    * row changes id, carrying block-boundary state; in Spark this is a
    * single window — whole partitions are visible, no carry-over state.
    *
    * For 100 TB prefer the `max_by`-style groupBy (partial-aggregates
    * map-side) over `row_number` (full sort per partition) when only the
    * latest row is needed; both are provided.
    */
  def latestVersion(df: DataFrame, keys: Seq[String], version: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(version.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Same semantics via groupBy + max_by(struct): partial-aggregatable,
    * so the shuffle carries one row per (key) per map task, not all rows.
    * `version` must totally order rows within a key.
    */
  def latestVersionAgg(df: DataFrame, keys: Seq[String], version: Seq[Column]): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    val ord = struct(version: _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ord).as("__row"))
      .select(df.columns.toIndexedSeq.map(c => col(s"__row.$c")): _*)
  }

  /** J1–J3 (reference `src/copy_elements.cpp:166-235`): 1:N child rows
    * collected into an ordered array per parent key. The reference does a
    * streaming sort-merge with a cursor; Spark expresses it as
    * groupBy + sort_array(collect_list(struct(ord, payload...))) — the
    * sort key leads the struct so array_sort order == child order.
    * Returns parent keys + `colName` array of the payload struct.
    */
  def collectOrdered(child: DataFrame, keys: Seq[String], ord: Seq[String],
                     payload: Seq[String], colName: String): DataFrame = {
    val st = struct((ord ++ payload).map(col): _*)
    child.groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(st)).as(colName))
  }

  /** AS-OF join: attach to each left row the latest right row whose
    * `ts` is at-or-before the left row's, per key — the time-series
    * lookup (tick data, attribution, config-as-of). Spark has no
    * native ASOF; the naive range join explodes to |L|·|R| per key
    * before picking the max. This is the scale-correct composition:
    * union the two sides tagged, ONE window pass per key in time
    * order carrying the last-seen right payload forward
    * (`last(_, ignoreNulls = true)` over rows unbounded-preceding),
    * then keep the left rows. One shuffle on the key, zero row
    * multiplication, whatever the key's row count.
    *
    * Right rows sort before left rows at the same timestamp (tag
    * order), so a same-instant right row IS visible to the left row —
    * matching the `>=` (inclusive) ASOF convention. Returns every left
    * column plus `rightPayload` columns prefixed `asof_` (null when no
    * right row precedes).
    *
    * The payload travels as ONE struct carried by a single
    * `last(_, ignoreNulls = true)` — the struct is non-null for every
    * right row even when its fields are null, so all `asof_*` values
    * (including nulls) come from the same matched right row; per-column
    * carries would skip a null field and leak an older row's value.
    *
    * Skew bound: the window partitions by `key` only, so one key's full
    * event stream flows through one reducer — inherent to per-key ASOF
    * ordering (same bound as sessionization). Pre-filter or time-slice
    * a mega-key (one user with 10⁹ events) before calling.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               rightPayload: Seq[String]): DataFrame = {
    require(!rightPayload.exists(left.columns.contains),
      s"rightPayload collides with left columns: " +
        rightPayload.filter(left.columns.contains).mkString(", "))
    require(!rightPayload.exists(c => left.columns.contains(s"asof_$c")),
      s"left already has columns shadowing the output: " +
        rightPayload.filter(c => left.columns.contains(s"asof_$c"))
          .map(c => s"asof_$c").mkString(", "))
    val payStruct = struct(rightPayload.map(col): _*)
    val payType = right.select(payStruct).schema.head.dataType
    val lTagged = left.select(
      (col(key) +: col(ts) +: lit(1).as("__isLeft") +:
        left.columns.toIndexedSeq.filter(c => c != key && c != ts).map(col) :+
        lit(null).cast(payType).as("__rpay")): _*)
    val rTagged = right.select(
      (col(key) +: col(ts) +: lit(0).as("__isLeft") +:
        left.columns.toIndexedSeq.filter(c => c != key && c != ts)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        payStruct.as("__rpay")): _*)
    val w = Window.partitionBy(key)
      .orderBy(col(ts), col("__isLeft")) // right (0) before left (1) on ties
      .rowsBetween(Window.unboundedPreceding, 0)
    lTagged.unionByName(rTagged)
      .withColumn("__rpay", last(col("__rpay"), ignoreNulls = true).over(w))
      .filter(col("__isLeft") === 1)
      .select((left.columns.toIndexedSeq.map(col) ++
        rightPayload.map(c => col("__rpay")(c).as(s"asof_$c"))): _*)
  }

  /** Range (interval) join: match each point row to every interval
    * `[start, end)` containing it — without a shared key, so a plain
    * join would be a theta/nested-loop cartesian. Grid-bucketed
    * instead: points land in ONE time bucket, intervals explode to
    * the buckets they cover, the bucket equi-join carries only
    * plausible pairs, and the exact containment filter runs on those.
    * A point meets an interval in exactly one bucket (its own), so no
    * dedup is needed. Interval explode cost is
    * ceil(length / bucketMicros) rows — pick `bucketMicros` around the
    * median interval length (default 1 hour). Empty/negative intervals
    * are dropped.
    *
    * `maxSpanBuckets` hard-fails any interval covering more buckets
    * (default 10⁴) — a degenerate open-ended interval (year 9999 end
    * sentinel) would otherwise silently explode to millions of rows.
    * Raise the cap, widen `bucketMicros`, or clamp the sentinel ends
    * before joining.
    */
  def rangeJoin(points: DataFrame, ptTs: String, intervals: DataFrame,
                startTs: String, endTs: String,
                bucketMicros: Long = 3600L * 1000000L,
                maxSpanBuckets: Long = 10000L): DataFrame = {
    require(bucketMicros >= 1, s"bucketMicros must be positive")
    require(maxSpanBuckets >= 1, s"maxSpanBuckets must be positive")
    require(points.columns.intersect(intervals.columns).isEmpty,
      "points and intervals must not share column names: " +
        points.columns.intersect(intervals.columns).mkString(", "))
    val p = points.withColumn("__b", floor(unix_micros(col(ptTs)) / bucketMicros))
    val bStart = floor(unix_micros(col(startTs)) / bucketMicros)
    val bEnd = floor((unix_micros(col(endTs)) - 1) / bucketMicros)
    val iv = intervals.filter(col(endTs) > col(startTs))
      .withColumn("__b", explode(sequence(bStart,
        when(bEnd - bStart < maxSpanBuckets, bEnd).otherwise(
          raise_error(concat(lit(s"rangeJoin: interval spans >= $maxSpanBuckets" +
            s" buckets of $bucketMicros us (start="), col(startTs).cast("string"),
            lit(", end="), col(endTs).cast("string"),
            lit(s"); widen bucketMicros or clamp sentinel end timestamps"))
            .cast("string")).cast("long")))))
    p.join(iv, Seq("__b"))
      .filter(col(ptTs) >= col(startTs) && col(ptTs) < col(endTs))
      .drop("__b")
  }

  /** INTERVAL-OVERLAP join: every (a, b) pair whose half-open µs
    * intervals `[start, end)` intersect — no shared key, so the naive
    * form is a quadratic theta-join. Same grid trick as [[rangeJoin]],
    * extended to interval×interval: BOTH sides explode to the coarse
    * buckets they cover, plausible pairs meet in the bucket equi-join,
    * the exact predicate (a.start < b.end ∧ b.start < a.end) filters,
    * and a distinct collapses pairs that met in several buckets (an
    * overlapping pair meets in every bucket their spans share — the
    * dedup key is the id pair, and `overlap_us` is functionally
    * determined by it, so the distinct is exact). Returns
    * (a_id, b_id, overlap_us) with overlap_us = min(ends) − max(starts).
    *
    * Scale shape: explode cost is ceil(len/bucket)+1 rows per
    * interval — pick `bucketMicros` near the typical interval length
    * (amplification ≈ 2, the classic interval-tree-vs-grid trade);
    * the bucket join shuffles 8-byte keys and AQE splits hot buckets
    * (rush-hour pileups). Same `maxSpanBuckets` guard as rangeJoin:
    * an open-ended sentinel interval must fail loudly, not explode.
    * Ids must be non-null and unique per side (they key the dedup).
    */
  def intervalOverlapJoin(a: DataFrame, aId: String, aStart: String, aEnd: String,
                          b: DataFrame, bId: String, bStart: String, bEnd: String,
                          bucketMicros: Long = 3600L * 1000000L,
                          maxSpanBuckets: Long = 10000L): DataFrame = {
    require(bucketMicros >= 1, "bucketMicros must be positive")
    require(maxSpanBuckets >= 1, "maxSpanBuckets must be positive")
    def bucketed(df: DataFrame, id: String, s: String, e: String,
                 outId: String, outS: String, outE: String): DataFrame = {
      val bS = floor(col(s) / bucketMicros)
      val bE = floor((col(e) - 1) / bucketMicros)
      df.filter(col(e) > col(s))
        .select(col(id).as(outId), col(s).as(outS), col(e).as(outE),
          explode(sequence(bS,
            when(bE - bS < maxSpanBuckets, bE).otherwise(
              raise_error(concat(
                lit(s"intervalOverlapJoin: interval spans >= $maxSpanBuckets " +
                  s"buckets of $bucketMicros us (start="), col(s).cast("string"),
                lit(", end="), col(e).cast("string"),
                lit("); widen bucketMicros or clamp sentinel ends"))
                .cast("string")).cast("long")))).as("__b"))
    }
    val av = bucketed(a, aId, aStart, aEnd, "a_id", "__as", "__ae")
    val bv = bucketed(b, bId, bStart, bEnd, "b_id", "__bs", "__be")
    av.join(bv, Seq("__b"))
      .filter(col("__as") < col("__be") && col("__bs") < col("__ae"))
      .select(col("a_id"), col("b_id"),
        (least(col("__ae"), col("__be")) -
          greatest(col("__as"), col("__bs"))).as("overlap_us"))
      .distinct()
  }

  /** Skew-resistant two-phase ordered collect: identical result to
    * [[collectOrdered]], but a hot key's rows first combine under
    * (keys, salt) — spreading one giant group (a mega-relation's 100k
    * members, a viral user's events) across `salts` reducers — and the
    * per-salt arrays then flatten + sort in a second, tiny aggregation.
    * The phase-2 array sort is in-memory per group; the win is that no
    * single reducer receives the hot key's full row stream.
    */
  /** Apply a CDC batch to a base snapshot (Delta-style MERGE: upsert +
    * delete): `changes` carries the base's columns plus `opCol` with
    * 'U' (insert-or-replace) or 'D' (delete tombstone), ONE row per
    * key — reduce a raw CDC stream with [[latestVersion]] first (the
    * streaming twin of this operator is
    * `streaming.EventStreams.currentView`). Result = base rows whose
    * key has no change, plus the 'U' payloads.
    *
    * Scale shape: ONE anti-join of base against the change keys (base
    * shuffles once on the key — or not at all when AQE measures the
    * change batch broadcast-small, the common nightly-CDC case) and a
    * shuffle-free union with the filtered changes. No full-outer join,
    * no coalesce-per-column: the per-column merge is unnecessary when
    * 'U' rows carry whole replacement rows, which is what log-compacted
    * CDC feeds deliver. Unknown ops fail the job (an in-plan
    * raise_error guard, not a driver-side pre-scan) rather than
    * silently dropping rows.
    */
  def applyCdc(base: DataFrame, changes: DataFrame, keys: Seq[String],
               opCol: String = "op"): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    val checkedOp = when(col(opCol).isin("U", "D"), col(opCol))
      .otherwise(raise_error(concat(lit("applyCdc: unknown op "), col(opCol))))
    val untouched = base.join(
      changes.select(keys.map(col): _*), keys, "left_anti")
    untouched.unionByName(
      changes.filter(checkedOp === "U").drop(opCol))
  }

  /** Generate the CDC batch BETWEEN two snapshots — the producer side
    * of [[applyCdc]] (which consumes one): emits 'U' rows for keys
    * inserted or whose payload changed (carrying the NEW payload) and
    * 'D' tombstones for keys that vanished (carrying the OLD payload,
    * so downstreams can audit what was deleted). Unchanged keys emit
    * NOTHING — the point of shipping a diff instead of the snapshot.
    * Algebraic contract (spec-enforced):
    * `applyCdc(old, snapshotDiff(old, new), keys) == new`.
    *
    * This is how a 100 TB incremental pipeline avoids re-shipping the
    * corpus: diff yesterday's curated snapshot against today's, ship
    * the (typically tiny) batch, apply downstream. Scale shape: ONE
    * full-outer join on the key (each snapshot shuffles once — or
    * pre-bucket both sides on the key via [[Layout.writeBucketed]]
    * and it plans with no exchange at all), a null-safe struct
    * compare, no windows. Both snapshots must share the key + payload
    * schema.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keys: Seq[String], opCol: String = "op"): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(oldSnap.columns.toSeq == newSnap.columns.toSeq,
      s"snapshots must share a schema: ${oldSnap.columns.toSeq} vs " +
        s"${newSnap.columns.toSeq}")
    val payload = oldSnap.columns.toIndexedSeq.filterNot(keys.contains)
    require(payload.nonEmpty,
      "snapshots need at least one non-key column (use a semi/anti join " +
        "for pure key-set diffs)")
    val o = oldSnap.select(keys.map(col) :+
      struct(payload.map(col): _*).as("__old"): _*)
    val n = newSnap.select(keys.map(col) :+
      struct(payload.map(col): _*).as("__new"): _*)
    o.join(n, keys, "full_outer")
      .filter(!(col("__old") <=> col("__new")))
      .select(keys.map(col) ++
        // pick the side by WHOLE-STRUCT presence, never per column — a
        // changed row may legitimately null a column, and coalesce
        // would resurrect the old value
        payload.map(c => when(col("__new").isNotNull, col(s"__new.$c"))
          .otherwise(col(s"__old.$c")).as(c)) :+
        when(col("__new").isNotNull, lit("U")).otherwise(lit("D")).as(opCol): _*)
  }

  /** Build an SCD-2 (slowly-changing-dimension, type 2) version history
    * from an append-only change log: one row per VERSION of each key's
    * state, with `valid_from` / `valid_to` bounds, a 1-based `version`
    * number and an `is_current` flag — the time-travel twin of
    * [[applyCdc]] (which keeps only the latest state). Consecutive log
    * rows that repeat the same state are collapsed into the open
    * version; a state only opens a new version when it DIFFERS
    * (null-safely) from the key's previous state.
    *
    * `ordCol` must be a numeric/orderable column (e.g. epoch-µs) — it
    * becomes the validity bound; `tieCols` break equal-`ordCol` ties
    * deterministically (same-instant changes produce zero-width
    * versions in tie order, never nondeterminism). `valid_to` is the
    * next version's `valid_from` (half-open intervals, NULL while
    * current).
    *
    * Scale shape: both windows partition by the SAME keys, and the
    * change-collapse filter between them preserves distribution, so
    * the whole history builds on ONE exchange of the log (the second
    * window re-sorts within partitions, it does not re-shuffle). No
    * self-join: lag-compare finds the change rows, lead closes the
    * intervals.
    */
  def scd2Historize(log: DataFrame, keys: Seq[String], ordCol: String,
                    stateCols: Seq[String],
                    tieCols: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(stateCols.nonEmpty, "stateCols must be non-empty")
    val ord = (ordCol +: tieCols).map(col)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val state = struct(stateCols.map(col): _*)
    val changes = log
      .withColumn("__open", !(state <=> lag(state, 1).over(w)))
      .filter(col("__open")).drop("__open")
    changes
      .withColumn("valid_from", col(ordCol))
      .withColumn("valid_to", lead(col(ordCol), 1).over(w))
      .withColumn("version", row_number().over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((keys ++ stateCols).map(col) ++
        Seq(col("valid_from"), col("valid_to"), col("version"),
          col("is_current")): _*)
  }

  def collectOrderedSalted(child: DataFrame, keys: Seq[String], ord: String,
                           payload: Seq[String], colName: String,
                           salts: Int = 32): DataFrame = {
    val st = struct((ord +: payload).map(col): _*)
    child
      .groupBy((keys.map(col) :+ pmod(col(ord), lit(salts)).as("__salt")): _*)
      .agg(collect_list(st).as("__part"))
      .groupBy(keys.map(col): _*)
      .agg(array_sort(flatten(collect_list(col("__part")))).as(colName))
  }
}
