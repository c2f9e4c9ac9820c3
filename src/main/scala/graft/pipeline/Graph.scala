package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.LocalPath

/** Iterative graph analytics over an edge DataFrame — the Pregel-shaped
  * workloads a corpus pipeline meets once documents/domains/entities are
  * linked (site authority for quality weighting, influence propagation over
  * a near-dup graph). Dedup's connected components live in
  * [[graft.pipeline.Dedup]]; this module holds the rank-propagation side.
  *
  * Everything is expressed as joins + aggregations on (src, dst, weight)
  * DataFrames: each superstep is one shuffle join (messages = rank/out-degree
  * down each edge) plus one aggregation (sum of incoming messages) — the
  * exact plan a dedicated graph engine lowers to, with Catalyst/AQE owning
  * partitioning and skew. Edges are hash-partitioned by src once and reused
  * across supersteps via persist.
  */
object Graph {

  /** Edge bound of the driver-local paths of k-core, LPA and PageRank. */
  private val LocalMaxEdges = 1000000L

  /** Node bound of PageRank's driver-local path. */
  private val PageRankLocalMaxNodes = 10000

  /** Bounded k-core peeling: repeatedly remove nodes whose degree in the
    * surviving (undirected, deduped) graph is below `k`, for at most
    * `maxRounds` rounds or until a fixpoint — whichever comes first. At
    * the fixpoint this IS the exact k-core (the maximal subgraph with
    * min degree ≥ k — the standard density filter for entity/citation/
    * link graphs before expensive downstream analytics); the explicit
    * round bound keeps the iteration count deterministic so a SQL oracle
    * can replay it as a fixed CTE chain (converged rounds are no-ops).
    *
    * Scale shape: each round is ONE degree aggregation (map-side
    * combined, keyed by node) + two semi-joins filtering the edge list,
    * with `localCheckpoint` cutting the iterative lineage (the
    * components/PageRank discipline); nothing ever reaches the driver
    * but the per-round edge count. Peeling converges in at most the
    * graph's degeneracy-ordering depth — typically a handful of rounds;
    * raise `maxRounds` for adversarial chains. Returns the surviving
    * (node, degree) with degree measured INSIDE the core. */
  def kCoreBounded(edges: DataFrame, srcCol: String, dstCol: String,
                   k: Int, maxRounds: Int = 12): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    val spark = edges.sparkSession
    val base = edges
      .select(col(srcCol).cast("string").as("a"), col(dstCol).cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    var e = base.union(base.select(col("b").as("a"), col("a").as("b")))
      .dropDuplicates("a", "b")
      .localCheckpoint()
    // Bounded LOCAL fast path: each distributed peeling round costs a
    // degree aggregation, two semi-joins, a checkpoint job and a count —
    // pure job-scheduling floor on the small graphs dedup pipelines
    // produce. The gate's rows feed a driver-side peel running the
    // identical recurrence.
    LocalPath.gate("kCoreBounded", e, LocalMaxEdges).foreach { probe =>
      return localKCore(spark, probe, k, maxRounds)
    }
    var round = 0
    var stable = false
    var nEdges = e.count()
    while (round < maxRounds && !stable) {
      val keep = e.groupBy("a").agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select("a")
      val next = e.join(keep, Seq("a"), "left_semi")
        .join(keep.select(col("a").as("b")), Seq("b"), "left_semi")
        .localCheckpoint()
      val n2 = next.count()
      stable = n2 == nEdges
      nEdges = n2
      e = next
      round += 1
    }
    e.groupBy(col("a").as("node")).agg(count(lit(1)).as("degree"))
  }

  /** Driver-side peel over a collected direction-doubled distinct edge
    * list — the identical recurrence the distributed rounds run: drop
    * nodes with degree < k, keep edges with both endpoints surviving,
    * stop at a fixpoint or `maxRounds`. Returns (node, degree-in-core)
    * for nodes with surviving edges, like the distributed aggregate. */
  private def localKCore(spark: SparkSession, edges0: Array[Row],
                         k: Int, maxRounds: Int): DataFrame = {
    var es: Array[(String, String)] =
      edges0.map(r => (r.getString(0), r.getString(1)))
    var round = 0
    var stable = false
    var nEdges = es.length
    while (round < maxRounds && !stable) {
      val deg = scala.collection.mutable.HashMap.empty[String, Long]
      es.foreach { case (a, _) => deg.update(a, deg.getOrElse(a, 0L) + 1L) }
      val keep = deg.collect { case (n, d) if d >= k => n }.toSet
      val next = es.filter { case (a, b) => keep(a) && keep(b) }
      stable = next.length == nEdges
      nEdges = next.length
      es = next
      round += 1
    }
    val deg = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    es.foreach { case (a, _) => deg.update(a, deg.getOrElse(a, 0L) + 1L) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("degree",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        deg.iterator.map { case (n, d) => Row(n, d) }.toSeq, 1), schema)
  }

  /** Driver-side synchronous LPA over a collected direction-doubled
    * distinct edge list — the identical deterministic recurrence:
    * label_{r+1}(v) = most frequent label among v's neighbors at round r,
    * ties to the MINIMUM label under the SQL sort's UTF-8 binary string
    * order (UTF8String comparison, not java String UTF-16 order). */
  private def localLpa(spark: SparkSession, edges0: Array[Row],
                       rounds: Int): DataFrame = {
    import org.apache.spark.unsafe.types.UTF8String
    def sqlLt(a: String, b: String): Boolean =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    val nbrs = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[String]]
    edges0.foreach { r =>
      nbrs.getOrElseUpdate(r.getString(0),
        scala.collection.mutable.ArrayBuffer.empty[String]) += r.getString(1)
    }
    var label: Map[String, String] = nbrs.keysIterator.map(n => n -> n).toMap
    (1 to rounds).foreach { _ =>
      label = nbrs.iterator.map { case (v, ns) =>
        val cnt = scala.collection.mutable.HashMap.empty[String, Long]
        ns.foreach { b => val l = label(b); cnt.update(l, cnt.getOrElse(l, 0L) + 1L) }
        var bestL: String = null; var bestC = -1L
        cnt.foreach { case (l, c) =>
          if (c > bestC || (c == bestC && sqlLt(l, bestL))) { bestL = l; bestC = c }
        }
        v -> bestL
      }.toMap
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        label.iterator.map { case (n, l) => Row(n, l) }.toSeq, 1), schema)
  }

  /** Synchronous label-propagation communities (LPA) with a FIXED round
    * count and a fully deterministic update: label_{r+1}(v) = the most
    * frequent label among v's neighbors at round r, ties to the MINIMUM
    * label (string order) — no randomized visit order, so any engine
    * replays the rounds exactly (the reason `rounds` is bounded: each
    * round is one fixed CTE block in the SQL oracle, and synchronous LPA
    * on bipartite structures can oscillate rather than converge — callers
    * read the round-`rounds` snapshot, the standard fix). Community
    * detection is the grouping pass between near-dup components (exact
    * chains) and topic balance: domains/entities that cluster via many
    * weak links rather than duplicate content.
    *
    * Scale shape: per round, one shuffle join (labels onto the
    * direction-doubled edge list, keyed by neighbor), one
    * map-side-combined (node, label) count, and the argmax as a TWO-LEVEL
    * aggregation (max count, then min label among maximizers — the
    * keepBest discipline, no per-node window); localCheckpoint cuts the
    * per-round lineage. Labels stay a 2-column frame. Returns
    * (node, label) at round `rounds`; initial label = own node id. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val spark = edges.sparkSession
    val base = edges
      .select(col(srcCol).cast("string").as("a"), col(dstCol).cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    val e = base.union(base.select(col("b").as("a"), col("a").as("b")))
      .dropDuplicates("a", "b")
      .localCheckpoint()
    // Bounded LOCAL fast path: each synchronous round is a join + two
    // aggregations + an eager checkpoint — a job-floor tax the small
    // graphs this op meets rarely earn back (profiled 27 jobs for 3
    // rounds). The gate's rows feed a driver replay of the identical
    // deterministic recurrence (most-frequent neighbor label, ties to the
    // minimum label in the SQL sort's UTF-8 binary string order).
    LocalPath.gate("labelPropagation", e, LocalMaxEdges).foreach { probe =>
      return localLpa(spark, probe, rounds)
    }
    var labels = e.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    (1 to rounds).foreach { _ =>
      val nbr = e.join(labels.select(col("node").as("b"), col("label").as("__l")), Seq("b"))
        .groupBy(col("a"), col("__l")).agg(count(lit(1)).as("__c"))
      val best = nbr.groupBy("a").agg(max(col("__c")).as("__cm"))
      labels = nbr.join(best, Seq("a"))
        .filter(col("__c") === col("__cm"))
        .groupBy(col("a").as("node")).agg(min(col("__l")).as("label"))
        .localCheckpoint()
    }
    labels
  }

  /** Weighted PageRank with damping and a FIXED number of supersteps.
    * By default a node with no out-edges leaks its mass (acceptable for
    * relative ranking); `danglingMass = true` re-spreads dangling rank
    * uniformly each superstep — the textbook conservation variant, total
    * rank exactly 1 — at the cost of one extra one-row aggregate per step.
    * Both variants are exactly SQL-replayable.
    *
    * rank_0(v) = 1/N;
    * rank_{k+1}(v) = (1-d)/N + d * (Σ_{(u,v) ∈ E} rank_k(u) · w(u,v)/outw(u)
    *                               [+ danglingMass_k / N]).
    *
    * Scale shape: `edges` is persisted after the out-weight normalization
    * window (partitioned by src — parallelism = src cardinality) and reused
    * every superstep; each superstep is one shuffle keyed by dst. Ranks stay
    * a 2-column (node, rank) frame — broadcastable when |V| is small, plain
    * shuffle join otherwise (left to AQE). `iterations` is bounded and small
    * (3-10 in practice): the lineage chain stays shallow, so no checkpoint
    * is needed; callers iterating to convergence should localCheckpoint
    * every ~10 steps.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, iterations: Int = 3,
               damping: Double = 0.85,
               danglingMass: Boolean = false): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    // cache the materialized edge list FIRST: nodes, out-weight sums, and
    // every superstep all derive from it, and the caller's edge frame may
    // carry an expensive lineage (a multi-way join) that must not re-run
    // per consumer
    val e0 = edges.select(col(srcCol), col(dstCol), col(weightCol)).persist()
    val src = col(srcCol).as("node")
    val nodes = e0.select(src).unionByName(e0.select(col(dstCol).as("node")))
      .distinct().persist()
    val outW = Window.partitionBy(col(srcCol))
    val norm = e0
      .withColumn("__w", col(weightCol) / sum(col(weightCol)).over(outW))
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"), col("__w"))
      .persist()
    // Bounded LOCAL fast path: the superstep machinery costs seconds of
    // pure stage scheduling that a small graph never earns back — a
    // 25-node nation graph spends 2-5s on ~12 trivial stages. The gate's
    // unsorted limit keeps tasks heap-free (a sorted probe would build
    // per-task heaps on a billion-edge graph just to decide), and in the
    // over-bound fallthrough its partial work warmed the `norm` cache the
    // distributed path reuses.
    val spark = edges.sparkSession
    val nodeType = nodes.schema.head.dataType
    // local-path eligibility: JVM Map/Set equality must agree with SQL
    // equality for the node ids — true for strings and primitive numerics,
    // NOT for e.g. binary ids (Array[Byte] compares by reference).
    val localEligible = nodeType match {
      case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType => true
      case _ => false
    }
    // endpoints CAST to the coerced node type so mixed-width src/dst
    // columns (int vs bigint) key one node, like the SQL path
    if (localEligible) LocalPath.gate("pageRank", norm
        .select(col("__src").cast(nodeType), col("__dst").cast(nodeType), col("__w")),
        LocalMaxEdges).foreach { probe =>
      localPageRank(spark, probe, nodes.schema.head, iterations, damping, danglingMass)
        .foreach { out =>
          norm.unpersist(blocking = false)
          nodes.unpersist(blocking = false)
          e0.unpersist(blocking = false)
          return out
        }
    }
    val n = nodes.count() // one scalar; materializes e0 + nodes
    val base = lit((1.0 - damping) / n)
    // dangling = nodes with no out-edges; with danglingMass their rank is
    // re-spread uniformly each superstep (total rank stays exactly 1)
    // instead of leaking. The per-step mass is a ONE-ROW aggregate frame
    // cross-joined in (broadcast nested loop) — no driver-side collect.
    val dangling =
      if (danglingMass) nodes.join(norm.select(col("__src").as("node")).distinct(),
        Seq("node"), "left_anti").persist()
      else null
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    // dangling mode reads each iteration's ranks TWICE (mass aggregate +
    // contribution join): persist the per-step frame so the superstep
    // lineage materializes once instead of once per consumer (measured 2x
    // on the bench without it). O(|V|) rows cached per live step.
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (_ <- 1 to iterations) {
      if (danglingMass) { ranks = ranks.persist(); cached += ranks }
      val contrib = norm.join(ranks, norm("__src") === ranks("node"))
        .groupBy(col("__dst").as("node"))
        .agg(sum(col("__w") * col("rank")).as("__in"))
      val joined = nodes.join(contrib, Seq("node"), "left")
      ranks =
        if (danglingMass) {
          val dm = ranks.join(dangling, Seq("node"), "left_semi")
            .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
          joined.crossJoin(dm).select(col("node"),
            (base + lit(damping) * (coalesce(col("__in"), lit(0.0)) +
              col("__dm") / n)).as("rank"))
        } else joined.select(col("node"),
          (base + lit(damping) * coalesce(col("__in"), lit(0.0))).as("rank"))
    }
    // materialize (truncating the superstep lineage) so the cached edge /
    // node frames can be released before returning — the function is
    // already eager via the N count, and callers get a self-contained frame
    val out = ranks.localCheckpoint(true)
    cached.foreach(_.unpersist(blocking = false))
    if (dangling != null) dangling.unpersist(blocking = false)
    norm.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    e0.unpersist(blocking = false)
    out
  }

  /** Driver-side PageRank over the collected normalized edge list
    * (src, dst, __w) — the identical recurrence the supersteps run, with
    * the node set derived locally (every node appears in some edge by
    * construction). None, so the distributed path runs instead, for a
    * NULL endpoint (the SQL supersteps never join it while the JVM Map
    * would key it and propagate its mass) or more than
    * [[PageRankLocalMaxNodes]] nodes. A NULL weight normalizes to NULL
    * __w; the distributed superstep's sum() skips it — locally that is a
    * 0.0 contribution, with the edge KEPT so its endpoints still define
    * nodes and out-degree. */
  private def localPageRank(spark: SparkSession, probe: Array[Row],
                            nodeField: org.apache.spark.sql.types.StructField,
                            iterations: Int, damping: Double,
                            danglingMass: Boolean): Option[DataFrame] = {
    if (probe.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
      LocalPath.declined("pageRank", "null endpoint")
      return None
    }
    val es0 = probe.map(r =>
      (r.get(0), r.get(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
    // deterministic accumulation order: edges sorted by (dst, src) ON
    // THE DRIVER, with strings compared as UTF-8 bytes (UTF8String) —
    // exactly the binary order the old SQL orderBy produced — and a
    // STABLE sort, so duplicate (src, dst) edges accumulate in a fixed
    // order where the SQL sort left ties partition-dependent
    val ord: Ordering[Any] = (a: Any, b: Any) => (a, b) match {
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
      case (x: java.lang.Number, y: java.lang.Number) =>
        java.lang.Double.compare(x.doubleValue, y.doubleValue)
      case (x, y) => String.valueOf(x).compareTo(String.valueOf(y))
    }
    val es = es0.sortBy(e => (e._2, e._1))(Ordering.Tuple2(ord, ord))
    val vs: Array[Any] =
      (es.iterator.map(_._1) ++ es.iterator.map(_._2)).toArray.distinct.sorted(ord)
    if (vs.length > PageRankLocalMaxNodes) {
      LocalPath.declined("pageRank", s"${vs.length} nodes over $PageRankLocalMaxNodes")
      return None
    }
    val n = vs.length
    val idx: Map[Any, Int] = vs.zipWithIndex.toMap
    val hasOut: Set[Any] = es.iterator.map(_._1).toSet
    val baseV = (1.0 - damping) / n
    var rank = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iterations) {
      val in = new Array[Double](n)
      es.foreach { case (s0, d0, w0) => in(idx(d0)) += w0 * rank(idx(s0)) }
      val dm =
        if (danglingMass)
          vs.iterator.filterNot(hasOut).map(v => rank(idx(v))).sum / n
        else 0.0
      rank = Array.tabulate(n)(i => baseV + damping * (in(i) + dm))
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      nodeField.copy(name = "node"),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val rows = vs.zip(rank).map { case (v, r) => Row(v, r) }.toSeq
    Some(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), outSchema))
  }
}
