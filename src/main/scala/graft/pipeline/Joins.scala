package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Scale-join utilities: key-salting for skewed equi-joins, as-of joins,
  * and bucketed range (interval) joins.
  *
  * AQE's skew-join handles most runtime skew, but it only splits partitions
  * of the SHUFFLE — a single pathological key (one customer id carrying 10%
  * of a 100 TB fact table) still lands every row of that key in one task's
  * sort buffer. Salting splits the key itself: the fact side gets a
  * deterministic salt in [0, salt), the dimension side is replicated once
  * per salt value, and the join key becomes (key, salt). Result is
  * row-for-row identical to the plain equi-join (verified by a property
  * test); cost is `salt`× replication of the SMALL side only.
  */
object Joins {

  /** MERGE/upsert (SCD-type-1): rows of `updates` replace same-key rows of
    * `base`; base rows with no update survive unchanged — the incremental
    * corpus-refresh primitive (re-crawled documents supersede stale ones).
    * Schemas must match by name. ONE anti-join shuffle on the key plus a
    * union; when `updates` is the small delta (the normal case) the
    * anti-join broadcasts and the base table never shuffles at all — the
    * shape that matters when base is the 100 TB corpus. `updates` must be
    * key-unique (enforce upstream with dropDuplicates — silently keeping
    * both would duplicate the key downstream); duplicate keys in `base`
    * are preserved when unmatched but collapse to the single update row
    * when matched. */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(base.columns.toSet == updates.columns.toSet,
      s"schemas must match by name: base ${base.columns.mkString(",")} vs " +
        s"updates ${updates.columns.mkString(",")}")
    base.join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates)
  }

  /** Snapshot diff (change-data-capture between two table versions): one
    * FULL OUTER join on the key, null-safe comparing every shared non-key
    * column. Emits key columns + `row_status` ∈ added | removed | changed |
    * unchanged. One shuffle keyed by `keys`; the comparison is a codegen'd
    * predicate, no row materialization beyond the join. Schemas must match
    * by name (diff of drifted schemas is a different question — error). */
  def diffSnapshots(oldDf: DataFrame, newDf: DataFrame,
                    keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(oldDf.columns.toSet == newDf.columns.toSet,
      s"schemas must match by name: ${oldDf.columns.mkString(",")} vs " +
        newDf.columns.mkString(","))
    val dataCols = oldDf.columns.filterNot(keys.contains).toSeq
    val o = oldDf.select(keys.map(col) :+ lit(true).as("__in_old") :+
      struct(dataCols.map(col): _*).as("__old"): _*)
    val n = newDf.select(keys.map(col) :+ lit(true).as("__in_new") :+
      struct(dataCols.map(col): _*).as("__new"): _*)
    o.join(n, keys, "full_outer")
      .withColumn("row_status",
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(col("__old") <=> col("__new"), lit("unchanged"))
          .otherwise(lit("changed")))
      .select(keys.map(col) :+ col("row_status"): _*)
  }

  /** Inner equi-join of `big` (skewed side) with `small` (replicated side)
    * on `keys`, with the big side split `salt` ways per key. The salt is a
    * deterministic hash of the big side's full row, so re-runs and retries
    * assign identically. Output columns = big.* ++ (small.* minus keys),
    * like a plain `big.join(small, keys)`. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 salt: Int = 8): DataFrame = {
    require(salt > 0, "salt must be positive")
    require(keys.nonEmpty, "keys must be non-empty")
    val b = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col): _*), lit(salt)).cast("int"))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    b.join(s, keys :+ "__salt").drop("__salt")
  }

  /** Backward as-of join: for every `left` row, attach the `right` row with
    * the LARGEST `rightTs <= leftTs` within the same `keys` group
    * (left-outer: unmatched left rows keep null right columns). The classic
    * trades↔quotes / event↔latest-state join that plain Spark SQL lacks.
    *
    * Spark-first execution — NO range explosion and NO per-key loop: both
    * sides are tagged and unioned, ONE shuffle on `keys` sorts each group by
    * (ts, side) — right rows before left rows at equal ts, so equality
    * matches — and a running `last(…, ignoreNulls)` over the union carries
    * the most recent right payload forward into each left row. Cost is one
    * shuffle + one window sort of |L|+|R|, the same shape as a groupBy —
    * that is the 100 TB plan (the naive inequality join is |L|·|R| per key).
    *
    * Timestamps are NUMERIC (e.g. epoch micros): engine-neutral and exact.
    * Among multiple right rows at the identical (keys, ts) the greatest
    * (ts, rightCols…) tuple wins — deterministic on any partitioning.
    *
    * @param rightCols right payload columns to attach, each emitted as
    *                  `prefix + name`; the matched right timestamp is
    *                  emitted as `prefix + rightTs`.
    * @param tolerance max allowed lag leftTs − rightTs (forward: lead
    *                  rightTs − leftTs; same unit as the timestamps);
    *                  matches farther away are nulled out.
    * @param direction "backward" (largest rightTs <= leftTs, the default)
    *                  or "forward" (smallest rightTs >= leftTs — the
    *                  event↔next-state join). Forward rides the identical
    *                  one-shuffle plan on sign-flipped sort keys.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, rightCols: Seq[String],
               prefix: String = "asof_",
               tolerance: Option[Long] = None,
               direction: String = "backward"): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward: $direction")
    val sign = if (direction == "backward") 1L else -1L
    // same no-collision contract as rangeJoin/fuzzyJoin: withColumn would
    // silently REPLACE a left column of the same name, not fail
    val outNames = (rightTs +: rightCols).map(c => s"$prefix$c")
    val clashes = outNames.filter(left.columns.contains)
    require(clashes.isEmpty,
      s"asofJoin output columns ${clashes.mkString(", ")} already exist on the " +
        "left side; pass a different `prefix` or rename/drop them first")
    val payload = struct(
      (col(rightTs).cast(LongType).as("__ts") +: rightCols.map(col)): _*)
    val r = right.select(
      (keys.map(col) :+ (col(rightTs).cast(LongType) * sign).as("__t")
        :+ lit(0).as("__side") :+ payload.as("__rv")): _*)
    val rvType = r.schema("__rv").dataType
    val l = left
      .withColumn("__t", col(leftTs).cast(LongType) * sign)
      .withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(rvType))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__side"), col("__rv"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = l.unionByName(r, allowMissingColumns = true)
      .withColumn("__m", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val inReach = tolerance match {
      case Some(tol) => col("__m").isNotNull &&
        col("__t") - col("__m").getField("__ts") * sign <= lit(tol)
      case None => col("__m").isNotNull
    }
    val attached = (("__ts" -> s"$prefix$rightTs") +:
        rightCols.map(c => c -> s"$prefix$c"))
      .foldLeft(filled) { case (df, (field, out)) =>
        df.withColumn(out,
          when(inReach, col("__m").getField(field)).otherwise(lit(null)))
      }
    attached.drop("__t", "__side", "__rv", "__m")
  }

  /** Bucketed range (interval) join: pair every `points` row with every
    * `intervals` row of the same `keys` whose `[startCol, endCol]` contains
    * `pointCol` (inner join; all values numeric, e.g. epoch micros).
    *
    * Spark has no native interval join — a raw `BETWEEN` join on only the
    * keys degenerates to a per-key cartesian. Here each interval is exploded
    * into the fixed-width buckets it covers and each point lives in exactly
    * ONE bucket, so the join is a plain equi-join on (keys, bucket) +
    * residual BETWEEN filter — no duplicate pairs (a point meets an interval
    * only in the point's own bucket), shuffle keyed by (keys, bucket) so
    * long intervals fan out across tasks instead of piling onto one key.
    * Pick `bucketWidth` near the typical interval length: replication is
    * ceil(len/width)+1 per interval.
    *
    * Output columns = points.* ++ intervals.* minus keys (names must not
    * otherwise collide). Domain must be non-negative (`DIV` truncation). */
  def rangeJoin(points: DataFrame, intervals: DataFrame, keys: Seq[String],
                pointCol: String, startCol: String, endCol: String,
                bucketWidth: Long): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(bucketWidth > 0, "bucketWidth must be positive")
    val p = points.withColumn("__bucket",
      expr(s"CAST(`$pointCol` AS BIGINT) DIV $bucketWidth"))
    val i = intervals
      .filter(col(endCol) >= col(startCol))
      .withColumn("__bucket", explode(sequence(
        expr(s"CAST(`$startCol` AS BIGINT) DIV $bucketWidth"),
        expr(s"CAST(`$endCol` AS BIGINT) DIV $bucketWidth"))))
    p.join(i, keys :+ "__bucket")
      .filter(col(pointCol).between(col(startCol), col(endCol)))
      .drop("__bucket")
  }

  /** Interval-OVERLAP join: pair every `a` interval with every `b` interval
    * of the same `keys` that overlaps it (aStart <= bEnd AND bStart <= aEnd,
    * inclusive; inner join, numeric domains). The sibling of [[rangeJoin]]
    * for interval×interval workloads (sessions×outages, spans×spans).
    *
    * Same bucketing idea, plus the standard dedup trick: both sides explode
    * to the fixed-width buckets they cover, candidates meet on
    * (keys, bucket), and a pair is KEPT only in the bucket containing
    * max(aStart, bStart) — the first bucket the two intervals share — so
    * each overlapping pair survives exactly once without a distinct. The
    * shuffle is keyed by (keys, bucket): long intervals fan out across
    * tasks instead of piling onto one key.
    *
    * Output = a.* ++ b.* minus keys (names must not otherwise collide).
    * Domains must be non-negative (`DIV` truncation). */
  def intervalJoin(a: DataFrame, b: DataFrame, keys: Seq[String],
                   aStart: String, aEnd: String, bStart: String, bEnd: String,
                   bucketWidth: Long): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(bucketWidth > 0, "bucketWidth must be positive")
    def buckets(s: String, e: String): Column = sequence(
      expr(s"CAST(`$s` AS BIGINT) DIV $bucketWidth"),
      expr(s"CAST(`$e` AS BIGINT) DIV $bucketWidth"))
    val ae = a.filter(col(aEnd) >= col(aStart))
      .withColumn("__bucket", explode(buckets(aStart, aEnd)))
    val be = b.filter(col(bEnd) >= col(bStart))
      .withColumn("__bucket", explode(buckets(bStart, bEnd)))
    ae.join(be, keys :+ "__bucket")
      .filter(col(aStart) <= col(bEnd) && col(bStart) <= col(aEnd))
      .filter(col("__bucket") ===
        expr(s"CAST(greatest(`$aStart`, `$bStart`) AS BIGINT) DIV $bucketWidth"))
      .drop("__bucket")
  }

  /** Blocked fuzzy (edit-distance) join — record linkage over dirty string
    * keys. The all-pairs levenshtein join is |L|·|R| and impossible at
    * scale; standard blocking makes it an equi-join: candidates must share
    * a blocking key (here the lowercased `prefixLen`-char prefix), then a
    * length-band filter (|len(a)−len(b)| ≤ maxDist is a levenshtein lower
    * bound, so it loses nothing within the block) prunes before the O(n·m)
    * distance runs, and the distance itself is Spark's THRESHOLDED
    * levenshtein, which abandons a pair as soon as the running minimum
    * exceeds `maxDist` (banded DP, O(maxDist·n) not O(n·m)).
    *
    * Pairs whose strings differ inside the first `prefixLen` characters are
    * not candidates — the standard, documented blocking trade (union several
    * `fuzzyJoin`s with different blockers for higher recall). The shuffle is
    * keyed by the block prefix; a skewed block (one hot prefix) is exactly
    * the shape `saltedJoin` handles — compose if needed.
    *
    * Output = left.* ++ right.* (names must not collide; alias first) ++
    * `edit_dist`. Matching is case-insensitive (both sides lowercased). */
  def fuzzyJoin(left: DataFrame, right: DataFrame,
                leftCol: String, rightCol: String,
                maxDist: Int = 2, prefixLen: Int = 4): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    require(prefixLen > 0, "prefixLen must be positive")
    val l = left.withColumn("__blk", substring(lower(col(leftCol)), 1, prefixLen))
    val r = right.withColumn("__blk", substring(lower(col(rightCol)), 1, prefixLen))
    l.join(r, Seq("__blk"))
      .filter(abs(length(col(leftCol)) - length(col(rightCol))) <= maxDist)
      .withColumn("edit_dist",
        levenshtein(lower(col(leftCol)), lower(col(rightCol)), maxDist))
      .filter(col("edit_dist") >= 0)   // thresholded levenshtein: -1 = above
      .drop("__blk")
  }
}
