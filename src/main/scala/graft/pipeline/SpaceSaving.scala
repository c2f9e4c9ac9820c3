package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Space-Saving heavy-hitters sketch (Metwally et al. 2005) with the
  * mergeable-summaries merge — the streaming/one-pass counterpart to
  * [[Text.heavyHitters]]' exact two-pass: capacity m counters, any item
  * with true frequency > N/m is guaranteed tracked, and every estimate
  * obeys trueCount <= estimate <= trueCount + err (per-item err is
  * tracked explicitly, so callers can report guaranteed lower bounds).
  *
  * Scale shape: one pass — a per-partition sketch (O(m) state) built in
  * mapPartitions, then a treeReduce merge; nothing vocab-scale ever
  * shuffles or reaches the driver beyond the final O(m) summary. The
  * merge is the sound Agarwal et al. form: an item untracked on one side
  * is charged that side's minimum counter (its maximum possible true
  * count there), keeping the overcount invariant through arbitrary merge
  * trees — which is what makes the same sketch correct per-batch in a
  * stream ([[streamHeavyHitters]]) and under any partitioning (the
  * repartition-invariance property is spec-tested, bounds-wise: exact
  * counter CONTENTS legitimately depend on merge order, the documented
  * sketch contract; with capacity >= distinct items the sketch is exact
  * and merge-order-invariant, which is the hash-oracled mode).
  */
final class SpaceSavingSketch(val capacity: Int) extends Serializable {
  require(capacity > 0, s"capacity must be positive: $capacity")
  // word -> (estimate, err); estimate - err is a guaranteed lower bound
  private[pipeline] val counters =
    scala.collection.mutable.HashMap.empty[String, (Long, Long)]
  // estimate -> sorted words at that estimate: the Stream-Summary-style
  // index that makes eviction O(log m) (find min estimate, pop its
  // lexicographically-smallest word — the same (estimate, word) order the
  // old O(m) minBy scan used, so eviction stays deterministic). Without
  // it, construction at capacity is O(N·m) per partition (r13 ADVICE).
  private val byEstimate =
    new java.util.TreeMap[Long, java.util.TreeSet[String]]()
  private var _total = 0L
  def total: Long = _total
  def size: Int = counters.size

  private def indexAdd(w: String, e: Long): Unit = {
    var s = byEstimate.get(e)
    if (s == null) { s = new java.util.TreeSet[String](); byEstimate.put(e, s) }
    s.add(w); ()
  }
  private def indexRemove(w: String, e: Long): Unit = {
    val s = byEstimate.get(e)
    s.remove(w)
    if (s.isEmpty) { byEstimate.remove(e); () }
  }

  private def minEstimate: Long =
    if (counters.isEmpty) 0L else byEstimate.firstKey

  def offer(w: String, c: Long = 1L): this.type = {
    require(c > 0, s"count must be positive: $c")
    _total += c
    counters.get(w) match {
      case Some((est, err)) =>
        indexRemove(w, est); counters.update(w, (est + c, err)); indexAdd(w, est + c)
      case None if counters.size < capacity =>
        counters.update(w, (c, 0L)); indexAdd(w, c)
      case None =>
        // evict the minimum counter: the newcomer inherits its estimate
        // as error (it may have occurred up to min times while untracked)
        val mEst = byEstimate.firstKey
        val mw = byEstimate.firstEntry.getValue.first
        counters.remove(mw); indexRemove(mw, mEst)
        counters.update(w, (mEst + c, mEst)); indexAdd(w, mEst + c)
    }
    this
  }

  /** Sound merge: shared items sum estimates and errors; an item tracked
    * on one side only is charged the OTHER side's minimum counter (at
    * capacity) as both estimate and error mass — its true count there
    * cannot exceed that minimum. The union then truncates back to
    * `capacity` by (estimate desc, word asc). */
  def merge(o: SpaceSavingSketch): SpaceSavingSketch = {
    require(o.capacity == capacity,
      s"cannot merge sketches of different capacity: $capacity vs ${o.capacity}")
    val out = new SpaceSavingSketch(capacity)
    out._total = _total + o._total
    val minA = if (counters.size < capacity) 0L else minEstimate
    val minB = if (o.counters.size < o.capacity) 0L else o.minEstimate
    val keys = counters.keySet ++ o.counters.keySet
    val merged = keys.iterator.map { w =>
      val (estA, errA) = counters.getOrElse(w, (minA, minA))
      val (estB, errB) = o.counters.getOrElse(w, (minB, minB))
      w -> (estA + estB, errA + errB)
    }.toSeq
    merged.sortBy { case (w, (e, _)) => (-e, w) }.take(capacity).foreach {
      case (w, (e, r)) => out.counters.update(w, (e, r)); out.indexAdd(w, e)
    }
    out
  }

  /** (word, estimate, err, guaranteed = estimate − err), estimate desc. */
  def snapshot: Seq[(String, Long, Long, Long)] =
    counters.toSeq.sortBy { case (w, (e, _)) => (-e, w) }
      .map { case (w, (e, r)) => (w, e, r, e - r) }

  /** Lossless value form for checkpointed state
    * ([[SpaceSaving.durableStreamHeavyHitters]]): words sorted asc with
    * parallel estimate/err arrays — encodes through a plain product
    * Encoder into the RocksDB state store. */
  def toPortable: SpaceSaving.PortableSketch = {
    val ws = counters.keys.toArray.sorted
    SpaceSaving.PortableSketch(_total, ws,
      ws.map(w => counters(w)._1), ws.map(w => counters(w)._2))
  }

  private[pipeline] def restore(w: String, est: Long, err: Long): Unit = {
    counters.update(w, (est, err)); indexAdd(w, est)
  }
  private[pipeline] def setTotal(t: Long): Unit = _total = t
}

object SpaceSaving {

  /** One-pass approximate heavy hitters over the whitespace tokens of
    * `textCol`: per-partition sketches merged by treeReduce. Returns
    * (word, estimate, err, guaranteed) rows, estimate desc / word asc. */
  def approxHeavyHitters(df: DataFrame, textCol: String,
                         capacity: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = df
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "").as[String]
    val sketch = sketchOf(words, capacity)
    sketch.snapshot.toDF("word", "estimate", "err", "guaranteed")
  }

  /** Build the sketch itself (shared by batch and the per-micro-batch
    * streaming path). treeAggregate with an EMPTY-SKETCH zero (an empty
    * sketch merges as identity: the untracked-side charge is 0 below
    * capacity), so the empty-input case needs no separate isEmpty probe —
    * one Spark job, not two (r13 VERDICT). */
  def sketchOf(words: org.apache.spark.sql.Dataset[String],
               capacity: Int): SpaceSavingSketch =
    words.rdd.treeAggregate(new SpaceSavingSketch(capacity))(
      (sk, w) => sk.offer(w), (a, b) => a.merge(b))

  /** GUARANTEED-above-threshold report from ONE Space-Saving pass (r13
    * VERDICT #5) — the oracled batch face of the sketch BEYOND the exact
    * regime: report exactly the items whose sketch LOWER bound clears the
    * φ = phiNum/phiDen frequency threshold, i.e. (estimate − err) ·
    * phiDen >= total · phiNum, in exact int64 arithmetic (no float
    * boundary; caller keeps counts · phiDen within int64, which any real
    * φ like 1/100 does until ~9·10^16 tokens).
    *
    * Contract: every reported item PROVABLY has true count >= φN
    * (estimate − err is a true lower bound — never a false positive, on
    * any data, at any capacity, under any partitioning). Completeness and
    * hence partitioning-INVARIANCE of the reported set hold in the
    * guaranteed regime: per-item err is bounded by ~N/capacity (the
    * mergeable-summaries property), so when no item's true frequency
    * falls in the ambiguous band [φN, φN + maxErr) — a frequency-gap
    * condition on the data — an item is reported iff it is truly >= φN,
    * and the verdict cannot flip under repartition even though the
    * counter CONTENTS legitimately differ (spec-asserted: soundness
    * always, set-invariance in the gap regime). Outside the regime the
    * report stays sound but band items may drop — the documented sketch
    * trade.
    *
    * Scale shape: identical to [[sketchOf]] — one pass, O(capacity) driver
    * state, report rows bounded by capacity. Returns (word, n_total),
    * word asc; n_total = exact corpus token count (total mass is exact in
    * any Space-Saving merge). */
  def guaranteedHeavyHitters(words: org.apache.spark.sql.Dataset[String],
                             capacity: Int, phiNum: Long,
                             phiDen: Long): DataFrame = {
    require(phiNum > 0 && phiDen >= phiNum,
      s"need 0 < phiNum <= phiDen: $phiNum/$phiDen")
    val spark = words.sparkSession
    import spark.implicits._
    val sk = sketchOf(words, capacity)
    val n = sk.total
    sk.snapshot
      .filter { case (_, _, _, guaranteed) =>
        guaranteed * phiDen >= n * phiNum }
      .map { case (w, _, _, _) => (w, n) }
      .sortBy(_._1)
      .toDF("word", "n_total")
  }

  /** Streaming heavy hitters: each micro-batch is sketched DISTRIBUTED
    * (the same per-partition + merge path) and merged into O(capacity)
    * driver state; `onBatch` receives the cumulative snapshot as a
    * DataFrame after every batch. All guarantees survive the per-batch
    * merge tree (the mergeable-summaries property).
    *
    * Failure semantics (r13 ADVICE): foreachBatch is at-least-once, so a
    * retried/replayed micro-batch is detected by its batchId and NOT
    * re-merged (merging twice would break trueCount <= estimate <=
    * trueCount + err); the replay still delivers the current cumulative
    * snapshot (idempotent).
    *
    * DEMO/TEST ONLY: the cumulative sketch here is DRIVER state and dies
    * with the query — a restart from checkpoint silently starts the
    * count from zero. Production (and the CLI `stream heavy-hitters`
    * verb) uses [[durableStreamHeavyHitters]], which holds the SAME
    * sketch in the checkpointed state store and resumes exactly. */
  def streamHeavyHitters(events: DataFrame, textCol: String, capacity: Int)
                        (onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val state = new java.util.concurrent.atomic.AtomicReference(
      new SpaceSavingSketch(capacity))
    val lastApplied = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    events.writeStream.outputMode("append")
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val spark = b.sparkSession
        import spark.implicits._
        if (batchId > lastApplied.get) {
          val words = b
            .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
            .filter(col("word") =!= "").as[String]
          // compute the batch sketch (a Spark action) OUTSIDE updateAndGet:
          // a CAS retry must never re-run the job (foreachBatch is
          // sequential, but the contract shouldn't depend on it)
          val batchSketch = sketchOf(words, capacity)
          state.updateAndGet(s => s.merge(batchSketch))
          lastApplied.set(batchId)
        }
        onBatch(state.get.snapshot.toDF("word", "estimate", "err", "guaranteed"))
      }
      .start()
  }

  /** Encoder-friendly sketch value (see [[SpaceSavingSketch.toPortable]]). */
  final case class PortableSketch(total: Long, words: Array[String],
                                  ests: Array[Long], errs: Array[Long])

  private[pipeline] def fromPortable(capacity: Int,
                                     p: PortableSketch): SpaceSavingSketch = {
    val sk = new SpaceSavingSketch(capacity)
    var i = 0
    while (i < p.words.length) { sk.restore(p.words(i), p.ests(i), p.errs(i)); i += 1 }
    sk.setTotal(p.total)
    sk
  }

  /** One cumulative-snapshot row per tracked word per micro-batch. */
  final case class HeavyHitterRow(word: String, estimate: Long, err: Long,
                                  guaranteed: Long)

  /** The checkpointed cumulative merge behind
    * [[durableStreamHeavyHitters]]: a single-key `transformWithState`
    * processor whose ValueState IS the cumulative sketch (O(capacity) in
    * the RocksDB store). Input rows are per-partition BATCH sketches, so
    * the single keyed task sees O(#partitions · capacity) summaries per
    * batch — never vocab-scale data. transformWithState state commits
    * atomically with the batch offset, so a replayed micro-batch resumes
    * from the pre-batch sketch (no batchId dedup needed) and a restarted
    * query CONTINUES the count from checkpoint — the durability the
    * driver-state form documents away. */
  final class HeavyHittersProcessor(capacity: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Int, PortableSketch, HeavyHitterRow] {
    import org.apache.spark.sql.streaming.ValueState
    @transient private var st: ValueState[PortableSketch] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[PortableSketch]("sketch",
        org.apache.spark.sql.Encoders.product[PortableSketch],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Int, rows: Iterator[PortableSketch],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[HeavyHitterRow] = {
      var cum = Option(st.get()).map(fromPortable(capacity, _))
        .getOrElse(new SpaceSavingSketch(capacity))
      rows.foreach { p => cum = cum.merge(fromPortable(capacity, p)) }
      st.update(cum.toPortable)
      cum.snapshot.iterator.map { case (w, e, r, g) => HeavyHitterRow(w, e, r, g) }
    }
  }

  /** RESTART-DURABLE streaming heavy hitters (VERDICT r14 #2): the same
    * distributed per-partition sketch pass as [[streamHeavyHitters]], but
    * the cumulative sketch lives in checkpointed `transformWithState`
    * state instead of a driver AtomicReference — kill the query, restart
    * from the same checkpoint, and counting CONTINUES (parity-tested
    * against the one-shot batch sketch across a restart). Emits the full
    * cumulative snapshot (<= capacity rows) each micro-batch in Update
    * mode; attach `.writeStream.option("checkpointLocation", ...)`.
    * Requires the RocksDB state store (the production backend). Per-batch
    * merge order over partition summaries is arbitrary, like the batch
    * treeAggregate — the documented sketch contract (bounds hold under
    * any order; contents are order-exact only in the exact regime). */
  def durableStreamHeavyHitters(events: DataFrame, textCol: String,
                                capacity: Int)
      : org.apache.spark.sql.Dataset[HeavyHitterRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "").as[String]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val sk = new SpaceSavingSketch(capacity)
          it.foreach(w => sk.offer(w))
          Iterator.single(sk.toPortable)
        }
      }
      .groupByKey(_ => 0)
      .transformWithState(new HeavyHittersProcessor(capacity),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }
}
