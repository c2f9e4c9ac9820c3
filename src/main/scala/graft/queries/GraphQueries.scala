package graft
package queries

import org.apache.spark.sql.functions._

import graft.pipeline.Graph
import Tables._

/** Graph algorithms. */
private[graft] object GraphQueries {

  val all: Seq[Q] = Seq(
    Q("graph_kcore", (s, dir) => {
      // density filter on the bipartite part-supplier graph: bounded
      // peeling to the 3-core (converged == exact; 12-round cap keeps
      // the oracle a fixed CTE chain)
      val li = t(s, dir, "lineitem").filter(col("l_partkey") < 800)
      val edges = li.select(concat(lit("p"), col("l_partkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst")).distinct()
      Graph.kCoreBounded(edges, "src", "dst", k = 3)
        .orderBy("node")
    },
      () => kCoreGraphOracleSql(k = 3, rounds = 12), dualPath = true),

    Q("graph_lpa", (s, dir) => {
      // synchronous deterministic LPA over the same bipartite
      // part-supplier slice as graph_kcore: 3 rounds, ties to min label,
      // one join + two-level argmax agg per round (no per-node window)
      val li = t(s, dir, "lineitem").filter(col("l_partkey") < 800)
      val edges = li.select(concat(lit("p"), col("l_partkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst")).distinct()
      Graph.labelPropagation(edges, "src", "dst", rounds = 3)
        .orderBy("node")
    },
      () => lpaOracleSql(rounds = 3), dualPath = true),

    Q("graph_triangles", (s, dir) => {
      // triangle counts per nation in the (undirected, thresholded) trade
      // graph: the canonical a<b<c two-hop self-join — each edge list is
      // tiny after aggregation, the pattern is the corpus-scale shape
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
      val na = t(s, dir, "nation")
      val raw = li
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .join(broadcast(na.select(col("n_nationkey").as("__ck"), col("n_name").as("cn"))),
          c("c_nationkey") === col("__ck"))
        .join(broadcast(na.select(col("n_nationkey").as("__sk"), col("n_name").as("sn"))),
          su("s_nationkey") === col("__sk"))
        .groupBy("cn", "sn")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("w"))
        .filter(col("cn") =!= col("sn"))
      // keep only above-average-weight trade lanes (self-normalizing across
      // scale factors), then the undirected deduped edge list oriented a<b
      val e = raw.crossJoin(broadcast(raw.agg(avg(col("w")).as("__wbar"))))
        .filter(col("w") > col("__wbar"))
        .select(least(col("cn"), col("sn")).as("a"),
          greatest(col("cn"), col("sn")).as("b"))
        .distinct()
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.b") === col("e2.a"))
        .join(e.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_triangles"))
        .orderBy("node")
    },
      () => """WITH eall AS (SELECT cn.n_name AS a0, sn.n_name AS b0,
             sum(l_extendedprice * (1.0 - l_discount)) AS w
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation cn ON c_nationkey = cn.n_nationkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           WHERE cn.n_name <> sn.n_name
           GROUP BY 1, 2),
         e AS (SELECT DISTINCT least(a0, b0) AS a, greatest(a0, b0) AS b
               FROM eall WHERE w > (SELECT avg(w) FROM eall)),
         tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                 FROM e e1 JOIN e e2 ON e1.b = e2.a
                 JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         n AS (SELECT unnest([x, y, z]) AS node FROM tri)
         SELECT node, count(*) AS n_triangles FROM n GROUP BY 1 ORDER BY 1"""),

    Q("graph_pagerank", (s, dir) => {
      // nation trade graph (cust-nation → supp-nation, weight = revenue):
      // 3 damped PageRank supersteps, each ONE shuffle join keyed by dst
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
      val na = t(s, dir, "nation")
      val edges = li
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .join(broadcast(na.select(col("n_nationkey").as("__ck"), col("n_name").as("src"))),
          c("c_nationkey") === col("__ck"))
        .join(broadcast(na.select(col("n_nationkey").as("__sk"), col("n_name").as("dst"))),
          su("s_nationkey") === col("__sk"))
        .groupBy("src", "dst")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("w"))
      Graph.pageRank(edges, "src", "dst", "w", iterations = 3, damping = 0.85)
        .select(col("node"), round(col("rank"), 7).as("rank"))
        .orderBy("node")
    },
      () => """WITH e AS (SELECT cn.n_name AS src, sn.n_name AS dst,
             sum(l_extendedprice * (1.0 - l_discount)) AS w
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation cn ON c_nationkey = cn.n_nationkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT node FROM
           (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         nn AS (SELECT count(*) AS n FROM nodes),
         en AS (SELECT src, dst,
                  w / sum(w) OVER (PARTITION BY src) AS wn FROM e),
         r0 AS (SELECT node, 1.0 / n AS rank FROM nodes, nn),
         r1 AS (SELECT nodes.node,
                  0.15 / n + 0.85 * coalesce(sum(en.wn * r0.rank), 0) AS rank
                FROM nodes CROSS JOIN nn
                LEFT JOIN en ON en.dst = nodes.node
                LEFT JOIN r0 ON r0.node = en.src
                GROUP BY nodes.node, n),
         r2 AS (SELECT nodes.node,
                  0.15 / n + 0.85 * coalesce(sum(en.wn * r1.rank), 0) AS rank
                FROM nodes CROSS JOIN nn
                LEFT JOIN en ON en.dst = nodes.node
                LEFT JOIN r1 ON r1.node = en.src
                GROUP BY nodes.node, n),
         r3 AS (SELECT nodes.node,
                  0.15 / n + 0.85 * coalesce(sum(en.wn * r2.rank), 0) AS rank
                FROM nodes CROSS JOIN nn
                LEFT JOIN en ON en.dst = nodes.node
                LEFT JOIN r2 ON r2.node = en.src
                GROUP BY nodes.node, n)
         SELECT node, round(rank, 7) AS rank FROM r3 ORDER BY node""", dualPath = true),

    Q("graph_pagerank_dangling", (s, dir) => {
      // mass-conserving variant: only src<dst edges survive, so the
      // alphabetically-last nations have no out-edges and their rank is
      // re-spread uniformly each superstep (total rank stays exactly 1);
      // the per-step dangling mass is a one-row aggregate, never a collect
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
      val na = t(s, dir, "nation")
      val edges = li
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, li("l_suppkey") === su("s_suppkey"))
        .join(broadcast(na.select(col("n_nationkey").as("__ck"), col("n_name").as("src"))),
          c("c_nationkey") === col("__ck"))
        .join(broadcast(na.select(col("n_nationkey").as("__sk"), col("n_name").as("dst"))),
          su("s_nationkey") === col("__sk"))
        .filter(col("src") < col("dst"))
        .groupBy("src", "dst")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("w"))
      Graph.pageRank(edges, "src", "dst", "w", iterations = 3, damping = 0.85,
          danglingMass = true)
        .select(col("node"), round(col("rank"), 7).as("rank"))
        .orderBy("node")
    },
      () => """WITH e AS (SELECT cn.n_name AS src, sn.n_name AS dst,
             sum(l_extendedprice * (1.0 - l_discount)) AS w
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation cn ON c_nationkey = cn.n_nationkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           WHERE cn.n_name < sn.n_name
           GROUP BY 1, 2),
         nodes AS (SELECT DISTINCT node FROM
           (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         nn AS (SELECT count(*) AS n FROM nodes),
         en AS (SELECT src, dst,
                  w / sum(w) OVER (PARTITION BY src) AS wn FROM e),
         dang AS (SELECT node FROM nodes
                  WHERE node NOT IN (SELECT DISTINCT src FROM e)),
         r0 AS (SELECT node, 1.0 / n AS rank FROM nodes, nn),
         d0 AS (SELECT coalesce(sum(rank), 0) AS dm FROM r0 JOIN dang USING (node)),
         r1 AS (SELECT nodes.node,
                  0.15 / n + 0.85 * (coalesce(sum(en.wn * r0.rank), 0) + dm / n) AS rank
                FROM nodes CROSS JOIN nn CROSS JOIN d0
                LEFT JOIN en ON en.dst = nodes.node
                LEFT JOIN r0 ON r0.node = en.src
                GROUP BY nodes.node, n, dm),
         d1 AS (SELECT coalesce(sum(rank), 0) AS dm FROM r1 JOIN dang USING (node)),
         r2 AS (SELECT nodes.node,
                  0.15 / n + 0.85 * (coalesce(sum(en.wn * r1.rank), 0) + dm / n) AS rank
                FROM nodes CROSS JOIN nn CROSS JOIN d1
                LEFT JOIN en ON en.dst = nodes.node
                LEFT JOIN r1 ON r1.node = en.src
                GROUP BY nodes.node, n, dm),
         d2 AS (SELECT coalesce(sum(rank), 0) AS dm FROM r2 JOIN dang USING (node)),
         r3 AS (SELECT nodes.node,
                  0.15 / n + 0.85 * (coalesce(sum(en.wn * r2.rank), 0) + dm / n) AS rank
                FROM nodes CROSS JOIN nn CROSS JOIN d2
                LEFT JOIN en ON en.dst = nodes.node
                LEFT JOIN r2 ON r2.node = en.src
                GROUP BY nodes.node, n, dm)
         SELECT node, round(rank, 7) AS rank FROM r3 ORDER BY node""", dualPath = true))

  /** `graph_lpa` oracle: one CTE block per synchronous round — neighbor
    * label counts, then the deterministic argmax (max count via window,
    * min label among maximizers). MATERIALIZED: every round references
    * the previous one twice, and DuckDB would inline the recursion into
    * 2^rounds base scans otherwise (the kcore lesson). */
  private def lpaOracleSql(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val p = r - 1
      s"""c$r AS (SELECT e.a, l.label, count(*) AS c
         |  FROM e JOIN l$p l ON l.node = e.b GROUP BY 1, 2),
         |l$r AS MATERIALIZED (SELECT a AS node, min(label) AS label FROM (
         |    SELECT a, label, c, max(c) OVER (PARTITION BY a) AS cm FROM c$r)
         |  WHERE c = cm GROUP BY a)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (SELECT DISTINCT concat('p', l_partkey) AS a, concat('s', l_suppkey) AS b
       |  FROM lineitem WHERE l_partkey < 800),
       |e AS MATERIALIZED (SELECT DISTINCT a, b FROM
       |  (SELECT a, b FROM base UNION ALL SELECT b, a FROM base)),
       |l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM e),
       |$steps
       |SELECT node, label FROM l$rounds ORDER BY node""".stripMargin
  }

  /** Fixed-CTE replay of Graph.kCoreBounded on the part-supplier graph:
    * `rounds` peel blocks (degree ≥ k semi-filter on both endpoints);
    * converged rounds are no-ops, so the final CTE equals the engine's
    * fixpoint whenever peeling converges within the bound — which is the
    * engine's own contract (it caps at the same maxRounds). */
  private def kCoreGraphOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    // AS MATERIALIZED: each e_j is referenced three times by round j+1 —
    // DuckDB would otherwise inline the chain and expand the base scan
    // 2^rounds times ("too many open files" before it even plans)
    sb ++= s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT a, b FROM (
           SELECT 'p' || l_partkey AS a, 's' || l_suppkey AS b
             FROM lineitem WHERE l_partkey < 800
           UNION ALL
           SELECT 's' || l_suppkey, 'p' || l_partkey
             FROM lineitem WHERE l_partkey < 800))"""
    for (j <- 1 to rounds) {
      sb ++= s""",
         k$j AS MATERIALIZED (SELECT a FROM e${j - 1} GROUP BY a HAVING count(*) >= $k),
         e$j AS MATERIALIZED (SELECT e.a, e.b FROM e${j - 1} e
           JOIN k$j ka ON e.a = ka.a JOIN k$j kb ON e.b = kb.a)"""
    }
    sb ++= s"""
         SELECT a AS node, CAST(count(*) AS BIGINT) AS degree
         FROM e$rounds GROUP BY 1 ORDER BY 1"""
    sb.toString
  }
}
