package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

import Shared._

/** Graph analytics over the token-bigram graph. */
object Graph {

  val defs: Seq[QueryDef] = Seq(

    // #125: PageRank centrality over the token-bigram graph (the link-
    // centrality quality signal crawl corpora weight docs by) — three
    // decimal-exact iterations, each one src-keyed join + dst-keyed agg
    QueryDef("q_pagerank", (s, dir) => {
      val tk = tp(s, dir, "documents")
        .select(TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .filter(size(col("tk")) >= 2)
      val edges = tk.select(explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("src"), b.as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .filter(col("src") =!= col("dst"))
      operators.PageRank.ranks(edges, 3)
    },
      raw"""WITH t AS (SELECT ${tokensSql("lower(text)")} AS tk
        |  FROM documents),
        |bgp AS (SELECT DISTINCT unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS p
        |  FROM t WHERE len(tk) >= 2),
        |bg AS (SELECT string_split(p, ' ')[1] AS src, string_split(p, ' ')[2] AS dst
        |  FROM bgp WHERE string_split(p, ' ')[1] <> string_split(p, ' ')[2]),
        |od AS (SELECT src, count(*) AS od FROM bg GROUP BY src),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM bg UNION ALL SELECT dst FROM bg)),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT node, CAST(round(1.0 / n, 9) AS DECIMAL(28,9)) AS rank
        |  FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT bg.dst, CAST(sum(CAST(round(CAST(r.rank AS DOUBLE) / od.od, 9)
        |      AS DECIMAL(28,9))) AS DECIMAL(27,9)) AS s
        |  FROM bg JOIN od USING (src) JOIN r0 r ON r.node = bg.src GROUP BY bg.dst),
        |r1 AS (SELECT nodes.node,
        |    CAST(round(0.15 / n, 9) AS DECIMAL(28,9)) + CAST(0.85 AS DECIMAL(3,2)) *
        |      COALESCE(c1.s, CAST(0 AS DECIMAL(27,9))) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.dst = nodes.node),
        |c2 AS (SELECT bg.dst, CAST(sum(CAST(round(CAST(r.rank AS DOUBLE) / od.od, 9)
        |      AS DECIMAL(28,9))) AS DECIMAL(27,9)) AS s
        |  FROM bg JOIN od USING (src) JOIN r1 r ON r.node = bg.src GROUP BY bg.dst),
        |r2 AS (SELECT nodes.node,
        |    CAST(round(0.15 / n, 9) AS DECIMAL(28,9)) + CAST(0.85 AS DECIMAL(3,2)) *
        |      COALESCE(c2.s, CAST(0 AS DECIMAL(27,9))) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.dst = nodes.node),
        |c3 AS (SELECT bg.dst, CAST(sum(CAST(round(CAST(r.rank AS DOUBLE) / od.od, 9)
        |      AS DECIMAL(28,9))) AS DECIMAL(27,9)) AS s
        |  FROM bg JOIN od USING (src) JOIN r2 r ON r.node = bg.src GROUP BY bg.dst),
        |r3 AS (SELECT nodes.node,
        |    CAST(round(0.15 / n, 9) AS DECIMAL(28,9)) + CAST(0.85 AS DECIMAL(3,2)) *
        |      COALESCE(c3.s, CAST(0 AS DECIMAL(27,9))) AS rank
        |  FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.dst = nodes.node)
        |SELECT node, round(CAST(rank AS DOUBLE), 9) AS rank FROM r3""".stripMargin),

    // #183: hop-bounded BFS from a seed term over the token-bigram
    // graph — frontier expansion (join + anti-join per hop, node-sized
    // tables only), the reachability / link-distance primitive next to
    // PageRank; oracle replays it as a depth-bounded recursive CTE
    QueryDef("q_bfs", (s, dir) => {
      val tk = tp(s, dir, "documents")
        .select(TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .filter(size(col("tk")) >= 2)
      val edges = tk.select(explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("src"), b.as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .filter(col("src") =!= col("dst"))
      val seeds = s.range(1).select(lit("spark").as("node"))
      operators.Graph.bfs(edges, seeds, 3)
    },
      raw"""WITH RECURSIVE t AS (SELECT ${tokensSql("lower(text)")} AS tk
        |  FROM documents),
        |bgp AS (SELECT DISTINCT unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS p
        |  FROM t WHERE len(tk) >= 2),
        |bg AS (SELECT string_split(p, ' ')[1] AS src, string_split(p, ' ')[2] AS dst
        |  FROM bgp WHERE string_split(p, ' ')[1] <> string_split(p, ' ')[2]),
        |walk(node, dist) AS (
        |  SELECT 'spark' AS node, 0 AS dist
        |  UNION
        |  SELECT bg.dst, walk.dist + 1 FROM walk JOIN bg ON bg.src = walk.node
        |  WHERE walk.dist < 3)
        |SELECT node, MIN(dist) AS dist FROM walk GROUP BY node""".stripMargin),

    // #128: out-degree histogram of the token-bigram graph (the graph-
    // shape diagnostic next to PageRank: how link-y is the corpus) —
    // distinct edges, per-src count, then a histogram on the vocab-
    // sized degree table; the corpus is scanned once
    QueryDef("q_graph_degree", (s, dir) => {
      val tk = tp(s, dir, "documents")
        .select(TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .filter(size(col("tk")) >= 2)
      tk.select(explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("src"), b.as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .filter(col("src") =!= col("dst")).distinct()
        .groupBy(col("src")).agg(count(lit(1)).as("od"))
        .groupBy(col("od").as("degree"))
        .agg(count(lit(1)).as("n_nodes"))
    },
      raw"""WITH t AS (SELECT ${tokensSql("lower(text)")} AS tk
        |  FROM documents),
        |bgp AS (SELECT DISTINCT unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS p
        |  FROM t WHERE len(tk) >= 2),
        |bg AS (SELECT string_split(p, ' ')[1] AS src, string_split(p, ' ')[2] AS dst
        |  FROM bgp WHERE string_split(p, ' ')[1] <> string_split(p, ' ')[2]),
        |od AS (SELECT src, count(*) AS od FROM bg GROUP BY src)
        |SELECT od AS degree, count(*) AS n_nodes FROM od GROUP BY degree""".stripMargin),

    // #207: k-core extraction by bounded-round peeling (community /
    // spam-core mining; Matula–Beck peel, truncated at 4 rounds —
    // a documented truncation both engines unroll identically; the
    // full decomposition iterates to fixpoint). The peel itself is
    // Graph.kcore: two node-keyed equi-joins + one hash-agg per round,
    // localCheckpoint-truncated per round so the self-referential
    // lineage never re-derives the corpus scan (inline it compounds to
    // 3^rounds copies of the bigram subtree — measured 335 s vs
    // seconds at sf0.01). Output: the surviving subgraph's degrees.
    QueryDef("q_kcore", (s, dir) => {
      val tk = tp(s, dir, "documents")
        .select(TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .filter(size(col("tk")) >= 2)
      val und = tk.select(explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("src"), b.as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      graft.operators.Graph.kcore(und, k = 28, rounds = 4)
    },
      raw"""WITH t AS (SELECT ${tokensSql("lower(text)")} AS tk
        |  FROM documents),
        |bgp AS (SELECT unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i+1])) AS p
        |  FROM t WHERE len(tk) >= 2),
        |bg AS (SELECT string_split(p, ' ')[1] AS src, string_split(p, ' ')[2] AS dst
        |  FROM bgp WHERE string_split(p, ' ')[1] <> string_split(p, ' ')[2]),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM bg),
        |d1 AS (SELECT node, count(*) AS d FROM
        |  (SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY node),
        |s1 AS (SELECT node FROM d1 WHERE d >= 28),
        |e1 AS (SELECT a, b FROM und JOIN s1 x ON x.node = und.a
        |  JOIN s1 y ON y.node = und.b),
        |d2 AS (SELECT node, count(*) AS d FROM
        |  (SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) GROUP BY node),
        |s2 AS (SELECT node FROM d2 WHERE d >= 28),
        |e2 AS (SELECT a, b FROM e1 JOIN s2 x ON x.node = e1.a
        |  JOIN s2 y ON y.node = e1.b),
        |d3 AS (SELECT node, count(*) AS d FROM
        |  (SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2) GROUP BY node),
        |s3 AS (SELECT node FROM d3 WHERE d >= 28),
        |e3 AS (SELECT a, b FROM e2 JOIN s3 x ON x.node = e2.a
        |  JOIN s3 y ON y.node = e2.b),
        |d4 AS (SELECT node, count(*) AS d FROM
        |  (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3) GROUP BY node),
        |s4 AS (SELECT node FROM d4 WHERE d >= 28),
        |e4 AS (SELECT a, b FROM e3 JOIN s4 x ON x.node = e3.a
        |  JOIN s4 y ON y.node = e3.b)
        |SELECT node, count(*) AS deg FROM
        |  (SELECT a AS node FROM e4 UNION ALL SELECT b FROM e4)
        |GROUP BY node""".stripMargin),

    // #146: triangle counting on the token co-occurrence graph (the
    // clustering-coefficient numerator, the classic graph-analytics
    // benchmark beside PageRank). Edges canonicalized u < v, so each
    // triangle a<b<c is found exactly once by the two-hop join
    // (a,b)⋈(b,c) closed by (a,c) — no post-dedup shuffle. At scale the
    // standard degree-ordering refinement bounds the join fan-out
    // (orient each edge from lower- to higher-degree endpoint).
    QueryDef("q_triangles", (s, dir) => {
      val tk = tp(s, dir, "documents").filter(col("doc_id") < 50)
        .select(TextAnalysis.tokens(lower(col("text"))).as("tk"))
        .filter(size(col("tk")) >= 2)
      val e = tk.select(explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(least(a, b).as("u"), greatest(a, b).as("v")))).as("p"))
        .select(col("p.u"), col("p.v")).filter(col("u") =!= col("v"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u"))
        .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
        .join(e.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"))
        .agg(count(lit(1)).as("n_triangles"))
    },
      raw"""WITH tk AS (SELECT list_filter(${wsSplitSql("lower(text)")},
        |      x -> x <> '') AS tk
        |  FROM documents WHERE doc_id < 50),
        |p AS (SELECT unnest(list_transform(range(1, len(tk)),
        |    i -> struct_pack(u := tk[i], v := tk[i+1]))) AS x
        |  FROM tk WHERE len(tk) >= 2),
        |e AS (SELECT DISTINCT least(x.u, x.v) AS u, greatest(x.u, x.v) AS v
        |  FROM p WHERE x.u <> x.v)
        |SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin),
  )
}
