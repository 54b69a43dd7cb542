"""Graph queries (``graph_*``) over the near-dup keeper graph: centrality,
walks, communities, assortativity, components.

The keeper edge list is localCheckpoint'ed once and reused by degree,
two-hop and anti-join steps; frontier joins are bounded by near-dup density,
not corpus size. ``graph_degree_assortativity`` is the exact-integer twin of
``graph_assortativity``: the symmetric-marginal identity removes the sqrt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jigsaw_spark.operators.text import tokens_sql
from jigsaw_spark.plans.dedup import (
    _KEEPER_EDGES_CTE,
    _SHINGLES_CTE,
    _SIMHASH_KEEPER_CTE,
    _TOKS_CTE,
    _keeper_cluster_sql,
)
from jigsaw_spark.plans.mm import _PHASH_BYTES_CTE, mm_phash_near_dup
from jigsaw_spark.plans.registry import _t, register


@register(
    "graph_triangles_total",
    f"""
    WITH {_TOKS_CTE}, {_SHINGLES_CTE},
    mh AS (
      SELECT doc_id, seed,
             min(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      GROUP BY doc_id, seed),
    bands AS (
      SELECT doc_id, seed // 4 AS band,
             string_agg(mh, ',' ORDER BY seed) AS sig
      FROM mh GROUP BY doc_id, band),
    e AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig
                  AND a.doc_id < b.doc_id)
    SELECT (SELECT count(*) FROM e) AS n_edges,
           (SELECT count(*)
            FROM e e1 JOIN e e2 ON e2.u = e1.v
                      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
           ) AS n_triangles
    """,
    "GLOBAL triangle count over the near-dup candidate graph (cluster-"
    "density signal; the per-node counts are graph_triangles in the r10 "
    "batch — this name was shadowed by it from r5 until the r6 "
    "duplicate-registration guard surfaced the collision): oriented "
    "edges (u<v) so each triangle joins exactly once "
    "— the standard degree-bounded triple join; at 100 TB the edge list "
    "is the LSH output, orders smaller than the corpus",
)
def graph_triangles_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    e = (
        minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .localCheckpoint()
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .count()
    )
    return spark.createDataFrame(
        [(e.count(), tri)], "n_edges long, n_triangles long"
    )


# DEREGISTERED (r6, verdict #6): float twin of the driver-green
# `graph_pagerank_exact` (17/20-damping integer fixpoint with an exact
# DuckDB oracle); numpy bit-parity stays in tests/test_r4_ops.py.
# Kept as a library entry point.
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import minhash_lsh_pairs
    from jigsaw_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    edges = minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    return pagerank(edges, n_iters=10).orderBy(F.desc("rank"), "node").limit(50)


_PR_SCALE = 10**15

_PR_ITERS = 10


def _pagerank_exact_sql() -> str:
    """Unroll the integer PageRank fixpoint to _PR_ITERS CTE stages over
    the minhash-LSH candidate graph — an ITERATIVE algorithm with an
    exact SQL oracle, possible only because every iteration step is
    integer floor arithmetic (see operators.graph.pagerank_exact)."""
    from jigsaw_spark.operators.text import tokens_sql

    head = f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    mh AS (
      SELECT doc_id, seed,
             min(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      GROUP BY doc_id, seed),
    bands AS MATERIALIZED (
      SELECT doc_id, seed // 4 AS band,
             string_agg(mh, ',' ORDER BY seed) AS sig
      FROM mh GROUP BY doc_id, band),
    pairs AS (
      SELECT DISTINCT x_a.doc_id AS a, x_b.doc_id AS b
      FROM bands x_a
      JOIN bands x_b ON x_a.band = x_b.band AND x_a.sig = x_b.sig
                    AND x_a.doc_id < x_b.doc_id),
    pr_edges AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pairs
      UNION
      SELECT b AS src, a AS dst FROM pairs),
    pr_nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM pr_edges),
    pr_deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM pr_edges GROUP BY src),
    pr_consts AS MATERIALIZED (
      SELECT count(*) AS n,
             {_PR_SCALE} // count(*) AS r_init,
             (3 * {_PR_SCALE}) // (20 * count(*)) AS base
      FROM pr_nodes),
    r0 AS (
      SELECT node, r_init AS r FROM pr_nodes CROSS JOIN pr_consts)"""
    iters = []
    for i in range(1, _PR_ITERS + 1):
        iters.append(f"""
    c{i} AS MATERIALIZED (
      SELECT e.dst AS node, sum((17 * p.r) // (20 * d.deg)) AS c
      FROM r{i - 1} p
      JOIN pr_deg d ON p.node = d.src
      JOIN pr_edges e ON p.node = e.src
      GROUP BY e.dst),
    r{i} AS MATERIALIZED (
      SELECT n.node, cc.base + coalesce(c{i}.c, 0) AS r
      FROM pr_nodes n
      CROSS JOIN pr_consts cc
      LEFT JOIN c{i} ON n.node = c{i}.node)""")
    tail = f"""
    SELECT CAST(row_number() OVER (ORDER BY r DESC, node) AS INT) AS pos,
           node, CAST(r AS BIGINT) AS rank_micro
    FROM r{_PR_ITERS}
    ORDER BY r DESC, node LIMIT 50"""
    return head + "," + ",".join(iters) + tail


@register(
    "graph_pagerank_exact",
    _pagerank_exact_sql(),
    "PageRank over the near-dup candidate graph with the fixpoint "
    "DEFINED in integer micro-units (17/20 damping, floor division, "
    "scale 1e15): the iteration trajectory is bit-identical across "
    "engines/partitionings/retries, which upgrades the iterative "
    "message-passing class from rows-only to EXACT-oracle (the float "
    "variant stays as the classic form). Per round ONE src-keyed join "
    "(exchange reused) + ONE dst-keyed agg; lineage checkpointed",
)
def graph_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from jigsaw_spark.operators.dedup import minhash_lsh_pairs
    from jigsaw_spark.operators.graph import pagerank_exact

    docs = _t(spark, sf_dir, "documents")
    edges = minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    pr = pagerank_exact(edges, n_iters=_PR_ITERS, scale=_PR_SCALE)
    top = pr.orderBy(F.desc("rank_micro"), "node").limit(50)
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("rank_micro"), "node"))
        .cast("int")
        .alias("pos"),
        "node",
        "rank_micro",
    )


# ---------------------------------------------------------------------------
# graph_two_hop — shared LSH candidate graph (same CTE text the pagerank
# oracle uses, kept in sync with operators/dedup.minhash_lsh_pairs)
# ---------------------------------------------------------------------------


def _lsh_edges_cte() -> str:
    from jigsaw_spark.operators.text import tokens_sql

    return f"""
    toks AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM toks WHERE len(t) >= 3),
    mh AS (
      SELECT doc_id, seed,
             min(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
      GROUP BY doc_id, seed),
    bands AS MATERIALIZED (
      SELECT doc_id, seed // 4 AS band,
             string_agg(mh, ',' ORDER BY seed) AS sig
      FROM mh GROUP BY doc_id, band),
    pairs AS (
      SELECT DISTINCT x_a.doc_id AS a, x_b.doc_id AS b
      FROM bands x_a
      JOIN bands x_b ON x_a.band = x_b.band AND x_a.sig = x_b.sig
                    AND x_a.doc_id < x_b.doc_id),
    edges AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pairs
      UNION
      SELECT b AS src, a AS dst FROM pairs)"""


_TWO_HOP_SQL = f"""
    WITH {_lsh_edges_cte()},
    two AS (
      SELECT DISTINCT e1.src AS node, e2.dst AS hop2
      FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
      WHERE e2.dst <> e1.src),
    fof AS (
      SELECT t.node, t.hop2 FROM two t
      LEFT JOIN edges d ON t.node = d.src AND t.hop2 = d.dst
      WHERE d.src IS NULL)
    SELECT node, CAST(count(*) AS BIGINT) AS n_two_hop
    FROM fof GROUP BY node
"""


@register(
    "graph_two_hop",
    _TWO_HOP_SQL,
    "friends-of-friends: distinct 2-hop neighborhood size per node "
    "(self and direct neighbors excluded) over the MinHash-LSH "
    "candidate graph — the transitive-exposure metric for dedup "
    "cluster growth. ONE edge self-join keyed on the shared node + "
    "anti-join against direct edges; both shuffles on node keys, "
    "candidate edges bounded by the capped LSH banding",
)
def graph_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).distinct()
    e2 = edges.select(
        F.col("src").alias("mid"), F.col("dst").alias("hop2")
    )
    two = (
        edges.join(e2, edges["dst"] == e2["mid"])
        .filter(F.col("hop2") != F.col("src"))
        .select("src", "hop2")
        .distinct()
    )
    fof = two.join(
        edges.select(F.col("src").alias("d_src"), F.col("dst").alias("d_dst")),
        (two["src"] == F.col("d_src")) & (two["hop2"] == F.col("d_dst")),
        "left_anti",
    )
    return fof.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_two_hop")
    )


# ---------------------------------------------------------------------------
# graph_bfs_layers
# ---------------------------------------------------------------------------

_BFS_DEPTH = 4


def _bfs_sql() -> str:
    head = f"""
    WITH {_lsh_edges_cte()},
    d0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, 0 AS dist FROM edges
      WHERE src % 97 = 0)"""
    stages = []
    for t in range(1, _BFS_DEPTH + 1):
        stages.append(f"""
    d{t} AS MATERIALIZED (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d{t - 1}
        UNION ALL
        SELECT e.dst AS node, p.dist + 1 AS dist
        FROM d{t - 1} p JOIN edges e ON p.node = e.src) u
      GROUP BY node)""")
    return (
        head
        + ","
        + ",".join(stages)
        + f"""
    SELECT node, CAST(dist AS INT) AS dist
    FROM d{_BFS_DEPTH}"""
    )


@register(
    "graph_bfs_layers",
    _bfs_sql(),
    "bounded-depth BFS distance labels from a seed set (doc_id%97=0) "
    "over the LSH candidate graph — the reachability primitive under "
    "contamination-spread and cluster-growth audits. Per layer ONE "
    "src-keyed edge join + ONE min-agg (frontier never collected); "
    f"{_BFS_DEPTH} layers unrolled to materialized CTE stages in the "
    "oracle. Min is order-independent, so labels are exact integers "
    "under any partitioning",
)
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    dist = (
        edges.filter(F.col("src") % 97 == 0)
        .select(F.col("src").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
    )
    for _ in range(_BFS_DEPTH):
        hop = (
            dist.join(edges, dist["node"] == edges["src"])
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(hop)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)  # truncate iterative lineage
        )
    return dist.select("node", F.col("dist").cast("int").alias("dist"))


# ---------------------------------------------------------------------------
# graph_triangles
# ---------------------------------------------------------------------------

_TRI_SQL = f"""
    WITH {_lsh_edges_cte()},
    tri AS (
      SELECT p1.a AS a, p1.b AS b, p2.b AS c
      FROM pairs p1
      JOIN pairs p2 ON p2.a = p1.b
      JOIN pairs p3 ON p3.a = p1.a AND p3.b = p2.b),
    verts AS (SELECT unnest([a, b, c]) AS node FROM tri)
    SELECT node, CAST(count(*) AS BIGINT) AS n_tri
    FROM verts GROUP BY node
"""


@register(
    "graph_triangles",
    _TRI_SQL,
    "per-node triangle counts over the MinHash-LSH candidate graph — "
    "the clustering-coefficient numerator that tells a dedup cluster "
    "apart from a chain of borderline collisions. Enumeration uses the "
    "CANONICAL orientation (a<b<c on the deduped pair list), so each "
    "triangle is built exactly once from two pair-joins keyed on the "
    "shared vertex; per-node counts come from one explode of the 3 "
    "corners + hash agg. At scale the orientation bounds the join "
    "fan-out by per-node candidate degree (LSH band caps), the "
    "standard compact-forward scheme; all integer",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    p = minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    ab_bc = (
        p.alias("p1")
        .join(p.alias("p2"), F.col("p1.b") == F.col("p2.a"))
        .select(
            F.col("p1.a").alias("a"),
            F.col("p1.b").alias("b"),
            F.col("p2.b").alias("c"),
        )
    )
    p3 = p.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = ab_bc.join(
        p3,
        (ab_bc["a"] == p3["ta"]) & (ab_bc["c"] == p3["tc"]),
        "left_semi",
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )


# ---------------------------------------------------------------------------
# graph_neighbor_jaccard
# ---------------------------------------------------------------------------

_NJ_SQL = f"""
    WITH {_lsh_edges_cte()},
    deg AS MATERIALIZED (
      SELECT src, count(*) AS d FROM edges GROUP BY src),
    com AS MATERIALIZED (
      SELECT p.a, p.b, count(*) AS c
      FROM pairs p
      JOIN edges ea ON ea.src = p.a
      JOIN edges eb ON eb.src = p.b AND eb.dst = ea.dst
      GROUP BY p.a, p.b)
    SELECT p.a AS doc_a, p.b AS doc_b,
           CAST(coalesce(c.c, 0) AS BIGINT) AS n_common,
           CAST(da.d AS BIGINT) AS deg_a,
           CAST(db.d AS BIGINT) AS deg_b,
           CAST((1000000 * coalesce(c.c, 0))
                // (da.d + db.d - coalesce(c.c, 0)) AS BIGINT)
             AS jaccard_micro
    FROM pairs p
    JOIN deg da ON da.src = p.a
    JOIN deg db ON db.src = p.b
    LEFT JOIN com c ON c.a = p.a AND c.b = p.b
"""


@register(
    "graph_neighbor_jaccard",
    _NJ_SQL,
    "neighbor-set Jaccard for every LSH candidate pair — the link-"
    "prediction score that confirms dedup edges: true duplicate "
    "clusters share neighborhoods, accidental collisions don't. "
    "Common-neighbor counting is ANCHORED on the candidate pair list "
    "(never an all-pairs neighborhood cross), expanded through two "
    "node-keyed edge joins bounded by candidate degree; degrees are "
    "one hash agg broadcast back. Jaccard is the exact integer "
    "floor-division micro-unit 1e6*|common| div (da+db-|common|) — "
    "denominator >= 1 because every pair is itself an edge",
)
def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ea = edges.select(F.col("src").alias("a"), F.col("dst").alias("na"))
    eb = edges.select(F.col("src").alias("bb"), F.col("dst").alias("nb"))
    com = (
        pairs.join(ea, "a")
        .join(
            eb,
            (F.col("b") == F.col("bb")) & (F.col("na") == F.col("nb")),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    out = (
        pairs.join(
            deg.select(F.col("src").alias("a"), F.col("d").alias("deg_a")), "a"
        )
        .join(
            deg.select(F.col("src").alias("b"), F.col("d").alias("deg_b")), "b"
        )
        .join(com, ["a", "b"], "left_outer")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.coalesce("c", F.lit(0)).cast("bigint").alias("n_common"),
            F.col("deg_a").cast("bigint").alias("deg_a"),
            F.col("deg_b").cast("bigint").alias("deg_b"),
            F.expr(
                "CAST((1000000 * coalesce(c, 0))"
                " div (deg_a + deg_b - coalesce(c, 0)) AS BIGINT)"
            ).alias("jaccard_micro"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# graph_kcore
# ---------------------------------------------------------------------------


def _kcore_round_sql(i: int, k: int) -> str:
    p = i - 1
    return f"""
    d{i} AS (SELECT src, count(*) AS d FROM e{p} GROUP BY src),
    k{i} AS MATERIALIZED (SELECT src FROM d{i} WHERE d >= {k}),
    e{i} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{p} e
      JOIN k{i} a ON e.src = a.src
      JOIN k{i} b ON e.dst = b.src)"""


_KCORE_SQL = f"""
    WITH {_lsh_edges_cte()},
    e0 AS MATERIALIZED (SELECT src, dst FROM edges),
    {_kcore_round_sql(1, 2)},
    {_kcore_round_sql(2, 2)},
    {_kcore_round_sql(3, 2)}
    SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
    FROM e3 GROUP BY src
"""


@register(
    "graph_kcore",
    _KCORE_SQL,
    "bounded-round 2-core peeling (3 rounds) of the MinHash-LSH "
    "candidate graph: nodes of degree < 2 are stripped and edges "
    "restricted to survivors, repeated — the degeneracy pruning that "
    "removes whisker/chain artifacts from dedup clusters before "
    "component clustering. Each round is ONE degree hash-agg + two "
    "node-keyed semi-join edge restrictions (the unrolled certifiable "
    "form of the peel-to-fixpoint loop, like graph_bfs_layers); at "
    "production scale rounds run until no node drops, with the same "
    "per-round plan. All integer",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
    )
    # Each peel round references the previous edge set THREE times (degree
    # agg + two semi-joins); without a lineage cut the LSH signature
    # pipeline would re-evaluate 3^rounds times (the Spark twin of the
    # DuckDB multi-referenced-CTE trap — AS MATERIALIZED there, persist
    # here). The cached sets are dim-sized (candidate edges), never corpus
    # rows, so executor memory is KB even at production scale.
    e = edges.persist()
    for _ in range(3):
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= 2)
            .select("src")
        )
        e = (
            e.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .persist()
        )
    return e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )


# ---------------------------------------------------------------------------
# graph_assortativity
# ---------------------------------------------------------------------------

_ASSORT_SQL = f"""
    WITH {_lsh_edges_cte()},
    deg AS MATERIALIZED (
      SELECT src, count(*) AS d FROM edges GROUP BY src),
    ed AS (
      SELECT da.d AS x, db.d AS y
      FROM edges e
      JOIN deg da ON e.src = da.src
      JOIN deg db ON e.dst = db.src),
    anchors AS (
      SELECT count(*) AS ne,
             CAST(sum(x) AS BIGINT) // count(*) AS mx,
             CAST(sum(y) AS BIGINT) // count(*) AS my
      FROM ed),
    m AS (
      SELECT a.ne, a.mx, a.my,
             CAST(sum((x - mx) * (y - my)) AS BIGINT) AS sxy,
             CAST(sum((x - mx) * (x - mx)) AS BIGINT) AS sxx,
             CAST(sum((y - my) * (y - my)) AS BIGINT) AS syy
      FROM ed CROSS JOIN anchors a
      GROUP BY a.ne, a.mx, a.my)
    SELECT CAST(ne AS BIGINT) AS n_edges,
           CAST(sxy AS BIGINT) AS sxy, CAST(sxx AS BIGINT) AS sxx,
           CAST(syy AS BIGINT) AS syy,
           CASE WHEN sxx > 0 AND syy > 0
                THEN round(round(
                       CAST(sxy AS DOUBLE)
                       / (sqrt(CAST(sxx AS DOUBLE))
                          * sqrt(CAST(syy AS DOUBLE))), 9), 6)
                ELSE CAST(0.0 AS DOUBLE) END AS assortativity
    FROM m
"""


@register(
    "graph_assortativity",
    _ASSORT_SQL,
    "degree assortativity of the LSH candidate graph: Pearson "
    "correlation of endpoint degrees over the (symmetric) edge list — "
    "positive = hubs attach to hubs (clique-like dup clusters), "
    "negative = hub-and-spoke collisions. Anchor means snap to "
    "integers by floor division so every moment is an exact integer "
    "sum; the coefficient is ONE shared expression (IEEE sqrt is "
    "correctly rounded in both engines — the Welch-t precedent), "
    "round-snapped 9-then-6. Shape: one degree agg joined twice into "
    "the edge list, one moment agg — all candidate-edge sized",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ed = (
        edges.join(deg.select(F.col("src"), F.col("d").alias("x")), "src")
        .join(
            deg.select(
                F.col("src").alias("dst"), F.col("d").alias("y")
            ),
            "dst",
        )
        .select("x", "y")
    )
    anchors = ed.agg(
        F.count(F.lit(1)).alias("ne"),
        F.expr("CAST(sum(x) AS BIGINT) div count(*)").alias("mx"),
        F.expr("CAST(sum(y) AS BIGINT) div count(*)").alias("my"),
    )
    m = (
        ed.crossJoin(F.broadcast(anchors))
        .groupBy("ne", "mx", "my")
        .agg(
            F.sum((F.col("x") - F.col("mx")) * (F.col("y") - F.col("my")))
            .cast("bigint")
            .alias("sxy"),
            F.sum((F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx")))
            .cast("bigint")
            .alias("sxx"),
            F.sum((F.col("y") - F.col("my")) * (F.col("y") - F.col("my")))
            .cast("bigint")
            .alias("syy"),
        )
    )
    return m.select(
        F.col("ne").cast("bigint").alias("n_edges"),
        F.col("sxy").cast("bigint").alias("sxy"),
        F.col("sxx").cast("bigint").alias("sxx"),
        F.col("syy").cast("bigint").alias("syy"),
        F.when(
            (F.col("sxx") > 0) & (F.col("syy") > 0),
            F.round(
                F.round(
                    F.col("sxy").cast("double")
                    / (
                        F.sqrt(F.col("sxx").cast("double"))
                        * F.sqrt(F.col("syy").cast("double"))
                    ),
                    9,
                ),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# graph_modularity
# ---------------------------------------------------------------------------


def _modularity_sql() -> str:
    return f"""
    WITH RECURSIVE {_SIMHASH_KEEPER_CTE},
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
    edges AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u),
    comp AS MATERIALIZED (
      SELECT u AS doc_id, least(u, min(v)) AS component
      FROM reach GROUP BY u),
    mm AS (SELECT count(*) AS m FROM pairs),
    intra AS (
      SELECT ca.component, count(*) AS ec
      FROM pairs p
      JOIN comp ca ON p.doc_a = ca.doc_id
      JOIN comp cb ON p.doc_b = cb.doc_id
      WHERE ca.component = cb.component
      GROUP BY ca.component),
    degs AS (
      SELECT c.component, sum(d.deg) AS dc
      FROM (SELECT u, count(*) AS deg FROM edges GROUP BY u) d
      JOIN comp c ON d.u = c.doc_id
      GROUP BY c.component),
    q AS (
      SELECT CAST(sum(4 * mm.m * coalesce(i.ec, 0) - d.dc * d.dc)
                  AS BIGINT) AS q_num,
             CAST(4 * any_value(mm.m) * any_value(mm.m) AS BIGINT) AS q_den
      FROM degs d
      LEFT JOIN intra i ON d.component = i.component
      CROSS JOIN mm)
    SELECT q_num, q_den,
           CASE WHEN q_den > 0
                THEN round(round(CAST(q_num AS DOUBLE) / q_den, 9), 6)
                ELSE CAST(0.0 AS DOUBLE) END AS modularity
    FROM q
"""


@register(
    "graph_modularity",
    _modularity_sql(),
    "Newman modularity of the SimHash duplicate clustering: Q = "
    "sum_c [e_c/m - (d_c/2m)^2], emitted as the EXACT integer "
    "rational (sum 4*m*e_c - d_c^2) / 4m^2 plus the snapped quotient "
    "— the 'is this dedup clustering better than chance' quality "
    "score. Composes the connected-components operator (Spark: "
    "min-label propagation; oracle: recursive CTE) with two "
    "component-keyed aggs over the pair/edge dims; everything after "
    "the SimHash pass is candidate-edge sized. The graph is built "
    "over EXACT-DEDUP KEEPERS (r6 scale fix, both sides): byte-"
    "identical copies carry no clustering-quality signal but turn "
    "every dup group into a x|copies|² edge clique (the 11x probe); "
    "collapsing them first keeps the pair graph duplication-proof",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        simhash_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    keepers = (
        exact_dedup(docs, "doc_id")
        .filter(~F.col("is_dup"))
        .select("doc_id", "text")
    )
    # the pair relation feeds comp, both edge directions, mm and intra —
    # uncheckpointed, the exact-dedup + simhash kernel lineage evaluated
    # 6x (the _before plan shows 14 Python kernel nodes); materialize the
    # candidate pairs once, and comp once (it feeds intra AND degs)
    pairs = (
        simhash_pairs(keepers, "doc_id", max_hamming=2)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    comp = connected_components(pairs).select(
        F.col("doc_id"), F.col("component")
    ).localCheckpoint()
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).union(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    mm = pairs.agg(F.count(F.lit(1)).alias("m"))
    intra = (
        pairs.join(
            comp.select(
                F.col("doc_id").alias("doc_a"),
                F.col("component").alias("comp_a"),
            ),
            "doc_a",
        )
        .join(
            comp.select(
                F.col("doc_id").alias("doc_b"),
                F.col("component").alias("comp_b"),
            ),
            "doc_b",
        )
        .filter(F.col("comp_a") == F.col("comp_b"))
        .groupBy(F.col("comp_a").alias("component"))
        .agg(F.count(F.lit(1)).alias("ec"))
    )
    degs = (
        edges.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .join(comp.select(F.col("doc_id").alias("u"), "component"), "u")
        .groupBy("component")
        .agg(F.sum("deg").alias("dc"))
    )
    q = (
        degs.join(F.broadcast(intra), "component", "left_outer")
        .crossJoin(F.broadcast(mm))
        .agg(
            F.sum(
                4 * F.col("m") * F.coalesce("ec", F.lit(0))
                - F.col("dc") * F.col("dc")
            )
            .cast("bigint")
            .alias("q_num"),
            (4 * F.first("m") * F.first("m")).cast("bigint").alias("q_den"),
        )
    )
    return q.select(
        "q_num",
        "q_den",
        F.when(
            F.col("q_den") > 0,
            F.round(
                F.round(F.col("q_num").cast("double") / F.col("q_den"), 9), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("modularity"),
    )


@register(
    "graph_component_size_hist",
    _keeper_cluster_sql()
    + """
    SELECT CAST(length(bin(cluster_size)) - 1 AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM clusters GROUP BY 1
    """,
    "log2 histogram of near-dup cluster sizes (bucket = "
    "length(bin(size))-1, exact — no libm): the dedup-health report. "
    "Mass migrating into high buckets means boilerplate/template farms "
    "(act before pair enumeration bloats); bucket 0 = unique docs. "
    "Cardinality is <= 64 buckets at ANY corpus size, and everything "
    "upstream is the same duplication-proof keeper mapping as "
    "curation_soft_dedup_weights",
)
def graph_component_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import near_dup_keepers

    docs = _t(spark, sf_dir, "documents")
    clusters = (
        near_dup_keepers(docs, "doc_id")
        .groupBy("keeper")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return (
        clusters.select(
            (F.length(F.bin("cluster_size")) - 1).cast("int").alias("bucket"),
            "cluster_size",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# graph_clustering_coeff
# ---------------------------------------------------------------------------


def _coeff_sql() -> str:
    return f"""
    WITH {_lsh_edges_cte()},
    tri AS (
      SELECT p1.a AS a, p1.b AS b, p2.b AS c
      FROM pairs p1
      JOIN pairs p2 ON p2.a = p1.b
      JOIN pairs p3 ON p3.a = p1.a AND p3.b = p2.b),
    tcnt AS (
      SELECT node, count(*) AS n_tri
      FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY node),
    deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src)
    SELECT deg.node,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
           CAST(2 * coalesce(t.n_tri, 0) * 1000000
                // (deg.d * (deg.d - 1)) AS BIGINT) AS coeff_micro
    FROM deg LEFT JOIN tcnt t ON deg.node = t.node
    WHERE deg.d >= 2
"""


@register(
    "graph_clustering_coeff",
    _coeff_sql(),
    "local clustering coefficient 2T/(d(d-1)) per node (integer micro) "
    "over the MinHash-LSH candidate graph — near 1e6 the node sits in "
    "a duplicate CLIQUE (safe to collapse wholesale), near 0 it chains "
    "borderline collisions (keep pairwise verification). Triangles use "
    "the canonical a<b<c compact-forward enumeration (fan-out bounded "
    "by LSH-capped candidate degree); ONE pair list localCheckpoint "
    "feeds both the triangle joins and the degree agg",
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    p = (
        minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .localCheckpoint()
    )
    ab_bc = (
        p.alias("p1")
        .join(p.alias("p2"), F.col("p1.b") == F.col("p2.a"))
        .select(
            F.col("p1.a").alias("a"),
            F.col("p1.b").alias("b"),
            F.col("p2.b").alias("c"),
        )
    )
    p3 = p.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = ab_bc.join(
        p3,
        (ab_bc["a"] == p3["ta"]) & (ab_bc["c"] == p3["tc"]),
        "left_semi",
    )
    tcnt = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    edges = p.select(F.col("a").alias("node")).unionAll(
        p.select(F.col("b").alias("node"))
    )
    deg = edges.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    return (
        deg.filter(F.col("d") >= 2)
        .join(tcnt, "node", "left_outer")
        .select(
            "node",
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_tri"),
            F.expr(
                "CAST(2 * coalesce(n_tri, 0) * 1000000 "
                "div (d * (d - 1)) AS BIGINT)"
            ).alias("coeff_micro"),
        )
    )


# ---------------------------------------------------------------------------
# graph_bipartite_project
# ---------------------------------------------------------------------------

_BIPROJ_SQL = """
    WITH ctx AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day, user_id
      FROM events GROUP BY 1, 2, 3),
    sized AS (
      SELECT event_type, day, user_id,
             count(*) OVER (PARTITION BY event_type, day) AS sz
      FROM ctx),
    pairs AS (
      SELECT a.user_id AS u, b.user_id AS v, count(*) AS w
      FROM sized a JOIN sized b
        ON a.event_type = b.event_type AND a.day = b.day
       AND a.user_id < b.user_id
      WHERE a.sz BETWEEN 2 AND 50
      GROUP BY 1, 2)
    SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
           CAST(w AS BIGINT) AS shared_contexts
    FROM pairs
    ORDER BY w DESC, u, v
    LIMIT 20
"""


@register(
    "graph_bipartite_project",
    _BIPROJ_SQL,
    "user-user co-engagement: project the user x (event_type, day) "
    "bipartite graph onto users, edge weight = number of shared "
    "DISCRIMINATIVE contexts (2..50 users; a context half the corpus "
    "touched carries no affinity signal and is exactly the quadratic "
    "bucket — the same exact-when-not-binding cap semantics as LSH "
    "buckets and posting lists), top-20 edges by (weight, u, v). The "
    "candidate-generation primitive behind co-visitation recommenders. "
    "Shape: one distinct hash-agg -> per-context sorted-id array -> "
    "bucket-local pair explode (the minhash bucket idiom — one "
    "exchange, never an all-pairs join) -> pair hash-agg -> "
    "TakeOrdered top-20 (no global sort)",
)
def graph_bipartite_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ctx = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            "user_id",
        )
        .groupBy("event_type", "day", "user_id")
        .agg(F.lit(1).alias("_"))
    )
    buckets = ctx.groupBy("event_type", "day").agg(
        F.sort_array(F.collect_list("user_id")).alias("us")
    )
    kept = buckets.filter(
        (F.size("us") >= 2) & (F.size("us") <= 50)
    )
    pairs = kept.select(
        F.explode(
            F.expr(
                "flatten(transform(us, (x, i) ->"
                " transform(slice(us, i + 2, size(us)),"
                " y -> struct(x AS u, y AS v))))"
            )
        ).alias("p")
    ).select("p.u", "p.v")
    agg = pairs.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("shared_contexts")
    )
    return (
        agg.orderBy(F.desc("shared_contexts"), "u", "v")
        .limit(20)
        .select(
            F.col("u").cast("bigint").alias("u"),
            F.col("v").cast("bigint").alias("v"),
            "shared_contexts",
        )
    )


# ---------------------------------------------------------------------------
# graph_random_walk
# ---------------------------------------------------------------------------


def _walk_with_clause() -> str:
    """The full WITH RECURSIVE clause producing the ``walk`` relation —
    shared verbatim with graph_walk_skipgrams, which
    post-processes the same walks."""

    return f"""
    WITH RECURSIVE {_SIMHASH_KEEPER_CTE},
    prs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM prs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM prs),
    adj AS MATERIALIZED (
      SELECT u, list(v ORDER BY v) AS nbrs FROM edges GROUP BY u),
    walk(s, start, node, path) AS (
      SELECT 0, u, u, CAST(u AS VARCHAR) FROM adj
      UNION ALL
      SELECT s + 1, start,
             adj.nbrs[CAST(1 + CAST(CAST(('0x' || substr(
               md5(concat_ws('|', 'walk', CAST(start AS VARCHAR),
                             CAST(s AS VARCHAR),
                             CAST(node AS VARCHAR))), 1, 12))
               AS UBIGINT) AS BIGINT) % len(adj.nbrs) AS INT)],
             path || '->' || CAST(adj.nbrs[CAST(1 + CAST(CAST(('0x' ||
               substr(md5(concat_ws('|', 'walk', CAST(start AS VARCHAR),
                             CAST(s AS VARCHAR),
                             CAST(node AS VARCHAR))), 1, 12))
               AS UBIGINT) AS BIGINT) % len(adj.nbrs) AS INT)] AS VARCHAR)
      FROM walk JOIN adj ON adj.u = walk.node
      WHERE s < 4)
"""


def _walk_sql() -> str:
    return (
        _walk_with_clause()
        + """
    SELECT CAST(start AS BIGINT) AS start,
           CAST(node AS BIGINT) AS final_node,
           path
    FROM walk WHERE s = 4
"""
    )


@register(
    "graph_random_walk",
    _walk_sql(),
    "deterministic 4-step random walks from EVERY node of the "
    "near-dup keeper graph (SimHash hamming <= 2 over exact-dedup "
    "keepers — the graph_modularity edge set): step t at node v moves "
    "to sorted_neighbors[md5('walk'|start|t|v) % degree] — the "
    "walk-corpus generator behind DeepWalk/node2vec-style graph "
    "embeddings, reproducible across engines, partitionings, and "
    "retries because the randomness is the keyed md5 stream (the "
    "engine's universal sampler discipline; a rand() walk could never "
    "be oracle-checked or resumed). Walks can revisit nodes — that is "
    "the walk distribution, not a bug. Shape: the keeper pair graph "
    "is bounded by near-dup density (not corpus size); adjacency is "
    "one hash-agg; each of the 4 steps is one frontier-sized join on "
    "the node key. The oracle replays the walks with a recursive CTE "
    "over identical adjacency lists",
)
def graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import exact_dedup, simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    keepers = (
        exact_dedup(docs, "doc_id")
        .filter(~F.col("is_dup"))
        .select("doc_id", "text")
    )
    pairs = simhash_pairs(keepers, "doc_id", max_hamming=2).select(
        "doc_a", "doc_b"
    )
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    # localCheckpoint: the 4 step-joins below would otherwise re-derive
    # the whole exact-dedup -> simhash-pairs -> groupBy lineage once per
    # step (10 scans / 35 shuffles in the plan audit for what is
    # logically 2 scans + 5 shuffles) — the graph_kcore r5 lesson.
    adj = edges.groupBy("u").agg(
        F.sort_array(F.collect_set("v")).alias("nbrs")
    ).localCheckpoint()
    walk = adj.select(
        F.col("u").alias("start"),
        F.col("u").alias("node"),
        F.col("u").cast("string").alias("path"),
    )
    for s in range(4):
        # fresh aliases each round: aliasing mints new attribute ids, so
        # the walk-frame (which descends from adj) never self-join-
        # collides with the adjacency side (the classic ambiguity trap)
        adj_s = adj.select(
            F.col("u").alias(f"_u{s}"), F.col("nbrs").alias(f"_nbrs{s}")
        )
        step = F.expr(
            f"element_at(_nbrs{s}, CAST(1 + pmod(CAST(conv(substring("
            f"md5(concat_ws('|', 'walk', CAST(start AS STRING), '{s}',"
            f" CAST(node AS STRING))), 1, 12), 16, 10) AS BIGINT),"
            f" size(_nbrs{s})) AS INT))"
        )
        walk = walk.join(
            adj_s, walk["node"] == adj_s[f"_u{s}"]
        ).select(
            "start",
            step.alias("node"),
            F.concat(
                F.col("path"), F.lit("->"), step.cast("string")
            ).alias("path"),
        )
    return walk.select(
        F.col("start").cast("bigint").alias("start"),
        F.col("node").cast("bigint").alias("final_node"),
        "path",
    )


# ---------------------------------------------------------------------------
# graph_adamic_adar
# ---------------------------------------------------------------------------


def _adamic_adar_sql() -> str:
    return f"""
    WITH {_SIMHASH_KEEPER_CTE},
    prs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
    edges AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM prs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM prs),
    wt AS MATERIALIZED (
      -- deg-1 nodes can never be a common neighbor of a distinct pair
      -- (being one implies degree >= 2); filter BEFORE dividing so
      -- ln(1) = 0 never reaches the division on either engine
      SELECT u,
             CAST(round(1000000000.0
               / ln(CAST(count(*) AS DOUBLE)), 0) AS BIGINT) AS w_nano
      FROM edges GROUP BY u HAVING count(*) >= 2),
    twohop AS (
      SELECT e1.u AS a, e2.v AS b, e1.v AS mid
      FROM edges e1 JOIN edges e2 ON e1.v = e2.u AND e1.u < e2.v),
    cand AS (
      SELECT t.a, t.b, t.mid
      FROM twohop t LEFT JOIN edges e ON e.u = t.a AND e.v = t.b
      WHERE e.u IS NULL)
    SELECT cand.a AS doc_a, cand.b AS doc_b,
           CAST(count(*) AS BIGINT) AS n_common,
           CAST(sum(wt.w_nano) AS BIGINT) AS aa_nano
    FROM cand JOIN wt ON wt.u = cand.mid
    GROUP BY 1, 2
"""


@register(
    "graph_adamic_adar",
    _adamic_adar_sql(),
    "Adamic-Adar link prediction over the near-dup keeper graph "
    "(SimHash hamming <= 2 over exact-dedup keepers — the "
    "graph_modularity edge set): every NON-adjacent two-hop pair "
    "scored by sum over common neighbors v of 1/ln(deg v) — rare "
    "shared neighbors say more than hubs, the classic 'docs that "
    "should be linked' / related-items signal feeding candidate "
    "generation. Any common neighbor of a distinct pair has degree "
    ">= 2 by construction, so ln is never zero. EXACT: per-neighbor "
    "weights pre-rounded to integer nano-units (identical integer ln "
    "args on both engines), summed as integers. Shape: the edge list "
    "is derived once and localCheckpoint'ed (degree, both two-hop "
    "sides, and the adjacency anti-join all reuse it — the "
    "graph_random_walk lesson); the two-hop join is frontier-sized on "
    "the keeper graph, bounded by near-dup density, never corpus "
    "all-pairs",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import exact_dedup, simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    keepers = (
        exact_dedup(docs, "doc_id")
        .filter(~F.col("is_dup"))
        .select("doc_id", "text")
    )
    pairs = simhash_pairs(keepers, "doc_id", max_hamming=2).select(
        "doc_a", "doc_b"
    )
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(
            pairs.select(
                F.col("doc_b").alias("u"), F.col("doc_a").alias("v")
            )
        )
        .localCheckpoint()
    )
    # deg-1 nodes can never be a common neighbor of a distinct pair;
    # filter BEFORE the division so ln(1) = 0 never reaches it (ANSI
    # mode evaluates eagerly even for rows a later join would drop)
    wt = (
        edges.groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .filter(F.col("deg") >= 2)
        .select(
            "u",
            F.round(
                F.lit(1000000000.0) / F.log(F.col("deg").cast("double")), 0
            )
            .cast("bigint")
            .alias("w_nano"),
        )
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("mid"))
    e2 = edges.select(F.col("u").alias("mid2"), F.col("v").alias("b"))
    twohop = e1.join(e2, F.col("mid") == F.col("mid2")).filter(
        F.col("a") < F.col("b")
    )
    adj = edges.select(F.col("u").alias("ea"), F.col("v").alias("eb"))
    cand = twohop.join(
        adj,
        (F.col("a") == F.col("ea")) & (F.col("b") == F.col("eb")),
        "left_anti",
    )
    return (
        cand.join(wt, cand["mid"] == wt["u"])
        .groupBy(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("w_nano").cast("bigint").alias("aa_nano"),
        )
    )


# ---------------------------------------------------------------------------
# graph_node2vec_walk
# ---------------------------------------------------------------------------


def _node2vec_sql() -> str:
    return f"""
    WITH RECURSIVE {_SIMHASH_KEEPER_CTE},
    prs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
    eset AS (
      SELECT doc_a AS u, doc_b AS v FROM prs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM prs),
    adj AS MATERIALIZED (
      SELECT u, list(v ORDER BY v) AS nbrs FROM eset GROUP BY u),
    walk(s, start, prev, node, path) AS (
      SELECT 0, u, CAST(NULL AS BIGINT), u, CAST(u AS VARCHAR) FROM adj
      UNION ALL
      SELECT s + 1, start, node, nxt,
             path || '->' || CAST(nxt AS VARCHAR)
      FROM (
        SELECT s, start, node, path,
               cn[CAST(list_min(list_filter(
                 generate_series(1, len(cn)),
                 i -> list_sum(ws[1:i]) > r)) AS INT)] AS nxt
        FROM (
          SELECT q1.*,
                 CAST(h % CAST(list_sum(ws) AS BIGINT) AS BIGINT) AS r
          FROM (
            SELECT w.s, w.start, w.node, w.path, c.nbrs AS cn,
                   list_transform(c.nbrs, x ->
                     CASE WHEN w.prev IS NULL THEN 1
                          WHEN x = w.prev THEN 1
                          WHEN list_contains(p.nbrs, x) THEN 2
                          ELSE 4 END) AS ws,
                   CAST(CAST(('0x' || substr(md5(
                     'n2v|' || CAST(w.start AS VARCHAR)
                     || '|' || CAST(w.s AS VARCHAR)
                     || '|' || CAST(coalesce(w.prev, -1) AS VARCHAR)
                     || '|' || CAST(w.node AS VARCHAR)), 1, 12))
                     AS UBIGINT) AS BIGINT) AS h
            FROM walk w
            JOIN adj c ON c.u = w.node
            LEFT JOIN adj p ON p.u = w.prev
            WHERE w.s < 3) q1) q2) stepped)
    SELECT CAST(start AS BIGINT) AS start,
           CAST(node AS BIGINT) AS final_node,
           path
    FROM walk WHERE s = 3
"""


@register(
    "graph_node2vec_walk",
    _node2vec_sql(),
    "3-step BIASED random walks (node2vec, Grover & Leskovec 2016) "
    "from every node of the near-dup keeper graph, p=2 / q=1/2 as "
    "x2-scaled integer weights: 1 to return to the previous node, 2 to "
    "stay in its neighborhood, 4 to explore outward — the second-order "
    "walk that interpolates BFS/DFS and feeds node2vec embeddings; "
    "graph_random_walk is the uniform special case (and step 0, with "
    "no previous node, uses unit weights — the identical rule). Each "
    "step draws from the keyed md5 stream via cumulative weights over "
    "the SORTED neighbor list, so the distribution is the node2vec "
    "alpha up to scaling and every step replays exactly on both "
    "engines. Shape: adjacency is one hash-agg localCheckpoint'ed "
    "once; per step ONE adjacency join for candidates + ONE left join "
    "for the previous node's neighborhood (the second-order state); "
    "weight/selection arithmetic is per-row list math inside codegen "
    "— no explode, no window, frontier-sized shuffles only",
)
def graph_node2vec_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import exact_dedup, simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    keepers = (
        exact_dedup(docs, "doc_id")
        .filter(~F.col("is_dup"))
        .select("doc_id", "text")
    )
    pairs = simhash_pairs(keepers, "doc_id", max_hamming=2).select(
        "doc_a", "doc_b"
    )
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).union(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    adj = (
        edges.groupBy("u")
        .agg(F.sort_array(F.collect_set("v")).alias("nbrs"))
        .localCheckpoint()
    )
    walk = adj.select(
        F.col("u").alias("start"),
        F.lit(None).cast("long").alias("prev"),
        F.col("u").alias("node"),
        F.col("u").cast("string").alias("path"),
    )
    for s in range(3):
        # fresh aliases each round (the graph_random_walk ambiguity rule)
        c = adj.select(
            F.col("u").alias(f"_cu{s}"), F.col("nbrs").alias(f"_cn{s}")
        )
        p = adj.select(
            F.col("u").alias(f"_pu{s}"), F.col("nbrs").alias(f"_pn{s}")
        )
        stepped = walk.join(c, walk["node"] == c[f"_cu{s}"]).join(
            p, walk["prev"] == p[f"_pu{s}"], "left"
        )
        # materialize the weight list and the drawn residue as columns
        # BEFORE the selection expression: inlining `ws` twice inside
        # the filter lambda made codegen re-derive the transform per
        # candidate index (an O(deg^2) expression tree per step)
        ws = (
            f"transform(_cn{s}, x -> CASE WHEN prev IS NULL THEN 1L"
            f" WHEN x = prev THEN 1L"
            f" WHEN array_contains(_pn{s}, x) THEN 2L ELSE 4L END)"
        )
        h = (
            "CAST(conv(substring(md5(concat_ws('|', 'n2v',"
            f" CAST(start AS STRING), '{s}',"
            " CAST(coalesce(prev, -1) AS STRING),"
            " CAST(node AS STRING))), 1, 12), 16, 10) AS BIGINT)"
        )
        staged = stepped.withColumn("_ws", F.expr(ws)).withColumn(
            "_r",
            F.expr(f"pmod({h}, aggregate(_ws, 0L, (a, x) -> a + x))"),
        )
        nxt = (
            f"element_at(_cn{s}, CAST(array_min(filter("
            f"sequence(1, size(_cn{s})),"
            " i -> aggregate(slice(_ws, 1, i), 0L, (a, x) -> a + x)"
            " > _r)) AS INT))"
        )
        walk = staged.select(
            "start",
            F.expr(nxt).alias("_nxt"),
            F.col("node").alias("_newprev"),
            F.concat(
                F.col("path"), F.lit("->"), F.expr(nxt).cast("string")
            ).alias("path"),
        ).select(
            "start",
            F.col("_newprev").alias("prev"),
            F.col("_nxt").alias("node"),
            "path",
        )
    return walk.select(
        F.col("start").cast("bigint").alias("start"),
        F.col("node").cast("bigint").alias("final_node"),
        "path",
    )


# ---------------------------------------------------------------------------
# graph_walk_skipgrams
# ---------------------------------------------------------------------------


def _skipgrams_sql() -> str:
    return (
        _walk_with_clause()
        + """
    , wtoks AS (
      SELECT start, string_split(path, '->') AS tl
      FROM walk WHERE s = 4),
    pos AS (
      SELECT start, i, CAST(tl[CAST(i AS INT)] AS BIGINT) AS tok
      FROM wtoks, LATERAL (SELECT unnest(generate_series(1, len(tl))) AS i) _)
    SELECT a.tok AS center, b.tok AS context,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pos a JOIN pos b
      ON a.start = b.start AND a.i <> b.i AND abs(a.i - b.i) <= 2
    GROUP BY 1, 2
"""
    )


@register(
    "graph_walk_skipgrams",
    _skipgrams_sql(),
    "(center, context) skip-gram pairs with window 2 extracted from "
    "the graph_random_walk corpus — the final hop of DeepWalk-style "
    "graph-embedding data prep: the walk table is only useful as the "
    "pair table a word2vec-style trainer consumes, and this is that "
    "table (pair frequencies included; both directions emitted, the "
    "standard symmetric context). Revisits in a walk legitimately "
    "yield self-cooccurrence and repeated pairs — that IS the walk "
    "distribution. Shape: one posexplode of the 5 walk positions, one "
    "self-join on the walk key (start — one walk per node), one pair "
    "hash-agg; output bounded by walks x 8 window pairs",
)
def graph_walk_skipgrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    walks = graph_random_walk(spark, sf_dir)
    pos = walks.select(
        "start",
        F.posexplode(F.split("path", "->")).alias("i", "tok"),
    ).select("start", "i", F.col("tok").cast("bigint").alias("tok"))
    a = pos.select(
        F.col("start").alias("sa"), F.col("i").alias("ia"),
        F.col("tok").alias("center"),
    )
    b = pos.select(
        F.col("start").alias("sb"), F.col("i").alias("ib"),
        F.col("tok").alias("context"),
    )
    return (
        a.join(
            b,
            (F.col("sa") == F.col("sb"))
            & (F.col("ia") != F.col("ib"))
            & (F.abs(F.col("ia") - F.col("ib")) <= 2),
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# graph_degree_assortativity
# ---------------------------------------------------------------------------


def _assortativity_sql() -> str:
    return f"""
    WITH {_KEEPER_EDGES_CTE},
    deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u),
    joined AS (
      SELECT du.d AS x, dv.d AS y
      FROM edges e JOIN deg du ON e.u = du.u JOIN deg dv ON e.v = dv.u),
    sums AS (
      SELECT CAST(count(*) AS HUGEINT) AS m,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             (SELECT count(*) FROM deg) AS n_nodes
      FROM joined)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(m AS BIGINT) AS m_directed,
           CAST(sx AS BIGINT) AS sum_deg,
           CAST(sxy AS BIGINT) AS sum_xy,
           CAST(sxx AS BIGINT) AS sum_xx,
           CAST(m * sxy - sx * sx AS BIGINT) AS num,
           CAST(m * sxx - sx * sx AS BIGINT) AS den,
           CAST(CASE WHEN m * sxx - sx * sx = 0 THEN 0
                ELSE (m * sxy - sx * sx) * 1000
                     // (m * sxx - sx * sx) END AS BIGINT) AS r_milli
    FROM sums
"""


@register(
    "graph_degree_assortativity",
    _assortativity_sql(),
    "degree assortativity coefficient of the near-dup keeper graph "
    "(SimHash hamming <= 2 over exact-dedup keepers — the "
    "graph_modularity edge set): Pearson correlation of endpoint "
    "degrees over the both-orientations edge list — do high-degree "
    "template documents attach to other templates (assortative, r>0) "
    "or to one-off documents (disassortative, r<0)? The one-number "
    "mixing summary that says whether near-dup mass sits in cliques "
    "or in hub-and-spoke stars — which decides whether cluster-level "
    "dedup (keep one per clique) or hub removal is the right "
    "treatment. EXACT: over the symmetric edge list the two endpoint "
    "marginals coincide, so r = (m*Sxy - Sx^2)/(m*Sxx - Sx^2) is a "
    "ratio of integers and NO sqrt ever appears (degenerate regular "
    "graph: den = 0 reports 0). Both engines truncate the signed "
    "division toward zero. Shape: the keeper edge list is derived "
    "once and localCheckpoint'ed (degree agg, both endpoint joins, "
    "and the global sum all reuse it); the degree join is keyed on "
    "node id; output is one row",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import keeper_edges

    docs = _t(spark, sf_dir, "documents")
    edges = keeper_edges(docs, "doc_id")
    deg = edges.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    n_nodes = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    du = deg.select(F.col("u").alias("ju"), F.col("d").alias("x"))
    dv = deg.select(F.col("u").alias("jv"), F.col("d").alias("y"))
    joined = (
        edges.join(du, edges["u"] == du["ju"])
        .join(dv, edges["v"] == dv["jv"])
        .select("x", "y")
    )
    dec = "decimal(19,0)"
    sums = joined.agg(
        F.count(F.lit(1)).cast(dec).alias("m"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
    ).crossJoin(F.broadcast(n_nodes))
    return sums.select(
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
        F.col("m").cast("bigint").alias("m_directed"),
        F.col("sx").cast("bigint").alias("sum_deg"),
        F.col("sxy").cast("bigint").alias("sum_xy"),
        F.col("sxx").cast("bigint").alias("sum_xx"),
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("num"),
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("den"),
        F.expr(
            "CAST(CASE WHEN m * sxx - sx * sx = 0 THEN 0"
            " ELSE (m * sxy - sx * sx) * 1000"
            " div (m * sxx - sx * sx) END AS BIGINT)"
        ).alias("r_milli"),
    )


# ---------------------------------------------------------------------------
# graph_rich_club
# ---------------------------------------------------------------------------


def _rich_club_sql() -> str:
    return f"""
    WITH {_KEEPER_EDGES_CTE},
    deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u),
    ks AS (SELECT unnest([1, 2, 3]) AS k),
    nk AS (
      -- count(deg.u), not count(*): an empty rich club must be 0, and
      -- the left join's null row would count as 1
      SELECT k.k, CAST(count(deg.u) AS BIGINT) AS n_k
      FROM ks k LEFT JOIN deg ON deg.d > k.k GROUP BY 1),
    ek AS (
      SELECT k.k, CAST(count(*) AS BIGINT) AS e_k
      FROM edges e
      JOIN deg du ON e.u = du.u
      JOIN deg dv ON e.v = dv.u
      CROSS JOIN ks k
      WHERE du.d > k.k AND dv.d > k.k
      GROUP BY 1)
    SELECT CAST(nk.k AS INT) AS k,
           CAST(nk.n_k AS BIGINT) AS n_nodes,
           CAST(coalesce(ek.e_k, 0) AS BIGINT) AS n_edges_directed,
           CAST(CASE WHEN nk.n_k <= 1 THEN 0
                ELSE coalesce(ek.e_k, 0) * 1000
                     // (nk.n_k * (nk.n_k - 1)) END AS BIGINT)
             AS phi_milli
    FROM nk LEFT JOIN ek ON nk.k = ek.k
"""


@register(
    "graph_rich_club",
    _rich_club_sql(),
    "rich-club coefficient phi(k) of the near-dup keeper graph at "
    "k = 1, 2, 3: among the N_k nodes of degree > k, the share of "
    "their N_k*(N_k-1) ordered pairs actually connected — a dense "
    "core of heavy near-dup nodes (high phi: template families "
    "referencing each other, cluster-level dedup wins) vs hubs as "
    "centers of disjoint stars (low phi: hub removal wins); the "
    "structural refinement of graph_degree_assortativity's one-number "
    "mixing summary. EXACT: over the symmetric edge list phi = "
    "E_directed(k) / (N_k*(N_k-1)) is a ratio of integers (k levels "
    "with N_k <= 1 report 0; an empty rich club still emits its row "
    "via the k-dim left join). Shape: the keeper edge list is derived "
    "once and localCheckpoint'ed, one degree agg, one two-sided "
    "degree join, then a broadcast x3 k-dim explode and a 3-row "
    "rollup",
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import keeper_edges

    docs = _t(spark, sf_dir, "documents")
    edges = keeper_edges(docs, "doc_id")
    deg = edges.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    ks = F.broadcast(
        spark.createDataFrame([(1,), (2,), (3,)], "k int")
    )
    nk = (
        ks.join(deg, deg["d"] > ks["k"], "left")
        .groupBy("k")
        .agg(F.count("u").cast("bigint").alias("n_k"))
    )
    du = deg.select(F.col("u").alias("ju"), F.col("d").alias("dx"))
    dv = deg.select(F.col("u").alias("jv"), F.col("d").alias("dy"))
    ek = (
        edges.join(du, edges["u"] == du["ju"])
        .join(dv, edges["v"] == dv["jv"])
        .crossJoin(ks)
        .filter((F.col("dx") > F.col("k")) & (F.col("dy") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_k"))
    )
    return (
        nk.join(ek, "k", "left")
        .select(
            F.col("k").cast("int").alias("k"),
            F.col("n_k").cast("bigint").alias("n_nodes"),
            F.coalesce(F.col("e_k"), F.lit(0))
            .cast("bigint")
            .alias("n_edges_directed"),
            F.expr(
                "CAST(CASE WHEN n_k <= 1 THEN 0"
                " ELSE coalesce(e_k, 0) * 1000"
                " div (n_k * (n_k - 1)) END AS BIGINT)"
            ).alias("phi_milli"),
        )
    )


# ---------------------------------------------------------------------------
# graph_harmonic_centrality
# ---------------------------------------------------------------------------


def _harmonic_sql() -> str:
    return f"""
    WITH {_KEEPER_EDGES_CTE},
    d1 AS (SELECT u, v FROM edges),
    d2 AS (
      SELECT DISTINCT e1.u, e2.v
      FROM edges e1 JOIN edges e2 ON e1.v = e2.u
      WHERE e1.u <> e2.v
        AND NOT EXISTS (SELECT 1 FROM d1
                        WHERE d1.u = e1.u AND d1.v = e2.v)),
    d3 AS (
      SELECT DISTINCT p.u, e3.v
      FROM d2 p JOIN edges e3 ON p.v = e3.u
      WHERE p.u <> e3.v
        AND NOT EXISTS (SELECT 1 FROM d1
                        WHERE d1.u = p.u AND d1.v = e3.v)
        AND NOT EXISTS (SELECT 1 FROM d2
                        WHERE d2.u = p.u AND d2.v = e3.v)),
    counts AS (
      SELECT u,
             CAST(coalesce(n1, 0) AS BIGINT) AS n1,
             CAST(coalesce(n2, 0) AS BIGINT) AS n2,
             CAST(coalesce(n3, 0) AS BIGINT) AS n3
      FROM (SELECT u, count(*) AS n1 FROM d1 GROUP BY u) a
      LEFT JOIN (SELECT u AS u2, count(*) AS n2 FROM d2 GROUP BY u) b
        ON a.u = b.u2
      LEFT JOIN (SELECT u AS u3, count(*) AS n3 FROM d3 GROUP BY u) c
        ON a.u = c.u3),
    hscored AS (
      SELECT u, n1, n2, n3,
             6 * n1 + 3 * n2 + 2 * n3 AS h6,
             row_number() OVER (
               ORDER BY 6 * n1 + 3 * n2 + 2 * n3 DESC, u) AS rn,
             (SELECT count(*) FROM counts) AS n_nodes
      FROM counts)
    SELECT CAST(rn AS INT) AS rn, u AS doc_id,
           n1, n2, n3,
           CAST(h6 AS BIGINT) AS h6,
           CAST(CASE WHEN n_nodes <= 1 THEN 0
                ELSE h6 * 1000 // (6 * (n_nodes - 1)) END AS BIGINT)
             AS harmonic_milli
    FROM hscored WHERE rn <= 10
"""


@register(
    "graph_harmonic_centrality",
    _harmonic_sql(),
    "top-10 keeper-graph nodes by harmonic centrality truncated at 3 "
    "hops: sum over nodes within distance 3 of 1/d, normalized by the "
    "n-1 maximum — the centrality that stays well-defined on "
    "DISCONNECTED graphs (closeness degenerates; near-dup graphs are "
    "always a forest of clusters), surfacing each template family's "
    "center of mass — the right canonical representative for "
    "cluster-level dedup, where graph_pagerank_exact surfaces "
    "endorsement weight instead. EXACT: distances in {1,2,3} put 1/d "
    "over the common denominator 6, so h6 = 6*n1 + 3*n2 + 2*n3 is an "
    "integer (ties: doc_id). Shape: the keeper edge list is "
    "localCheckpoint'ed once; hop counts come from the size-adaptive "
    "hop_counts operator (single-task BFS kernel below the components "
    "edge threshold, anti-join frontier chain above it — bounded by "
    "near-dup density, never corpus all-pairs); the top-10 window "
    "runs over the node dim",
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import hop_counts, keeper_edges

    docs = _t(spark, sf_dir, "documents")
    edges = keeper_edges(docs, "doc_id")
    # n_k = nodes at hop distance exactly k; the edge list is distinct
    # (simhash_pairs dedups), so the old per-u edge-row counts equal the
    # operator's distinct-neighbor counts. Size-adaptive: single-task BFS
    # below the components threshold, frontier-join chain above it.
    counts = hop_counts(edges, max_hops=3)
    nn = counts.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    scored = counts.crossJoin(F.broadcast(nn)).withColumn(
        "h6",
        (6 * F.col("n1") + 3 * F.col("n2") + 2 * F.col("n3")).cast(
            "bigint"
        ),
    )
    # TakeOrdered shape: LIMIT the sorted node dim first, then rank the
    # surviving <= 10 rows — the global row_number window never sees
    # more than 10 rows, so there is no single-task funnel at scale
    top = scored.orderBy(F.desc("h6"), F.col("u")).limit(10)
    w = Window.orderBy(F.desc("h6"), F.col("u"))
    return (
        top.withColumn("rn", F.row_number().over(w))
        .select(
            F.col("rn").cast("int").alias("rn"),
            F.col("u").alias("doc_id"),
            "n1",
            "n2",
            "n3",
            "h6",
            F.expr(
                "CAST(CASE WHEN n_nodes <= 1 THEN 0"
                " ELSE h6 * 1000 div (6 * (n_nodes - 1)) END AS BIGINT)"
            ).alias("harmonic_milli"),
        )
    )


# ---------------------------------------------------------------------------
# graph_hub_removal_impact
# ---------------------------------------------------------------------------


def _hub_removal_sql() -> str:
    return f"""
    WITH RECURSIVE {_SIMHASH_KEEPER_CTE},
    prs AS MATERIALIZED (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
    edges AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM prs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM prs),
    deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u),
    hubs AS MATERIALIZED (
      SELECT u FROM (
        SELECT u, row_number() OVER (ORDER BY d DESC, u) AS rn
        FROM deg) t
      WHERE rn <= 5),
    reach_b(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach_b r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u),
    comp_b AS MATERIALIZED (
      SELECT u AS node, least(u, min(v)) AS comp
      FROM reach_b GROUP BY u),
    sizes_b AS (
      SELECT comp, CAST(count(*) AS BIGINT) AS sz
      FROM comp_b GROUP BY comp),
    kept AS MATERIALIZED (
      SELECT e.u, e.v FROM edges e
      WHERE NOT EXISTS (SELECT 1 FROM hubs h WHERE h.u = e.u)
        AND NOT EXISTS (SELECT 1 FROM hubs h WHERE h.u = e.v)),
    reach_a(u, v) AS (
      SELECT u, v FROM kept
      UNION
      SELECT r.u, k.v FROM reach_a r JOIN kept k ON r.v = k.u
      WHERE k.v <> r.u),
    comp_a AS MATERIALIZED (
      SELECT u AS node, least(u, min(v)) AS comp
      FROM reach_a GROUP BY u),
    sizes_a AS (
      SELECT comp, CAST(count(*) AS BIGINT) AS sz
      FROM comp_a GROUP BY comp),
    summary AS (
      SELECT
        (SELECT count(*) FROM deg) AS n_nodes,
        (SELECT count(*) FROM edges) AS m_directed,
        (SELECT count(*) FROM hubs) AS n_hubs,
        (SELECT count(*) FROM sizes_b) AS comp_before,
        (SELECT coalesce(max(sz), 0) FROM sizes_b) AS largest_before,
        (SELECT count(*) FROM sizes_a) AS comp_after,
        (SELECT coalesce(max(sz), 0) FROM sizes_a) AS largest_after)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(m_directed AS BIGINT) AS m_directed,
           CAST(n_hubs AS BIGINT) AS n_hubs,
           CAST(comp_before AS BIGINT) AS comp_before,
           CAST(largest_before AS BIGINT) AS largest_before,
           CAST(comp_after AS BIGINT) AS comp_after,
           CAST(largest_after AS BIGINT) AS largest_after,
           CAST(CASE WHEN largest_before = 0 THEN 0
                ELSE (largest_before - largest_after) * 1000
                     // largest_before END AS BIGINT)
             AS largest_drop_milli
    FROM summary
"""


@register(
    "graph_hub_removal_impact",
    _hub_removal_sql(),
    "hub-removal what-if on the near-dup keeper graph: remove the "
    "top-5 highest-degree nodes (degree desc, id — deterministic) and "
    "report component count and largest component BEFORE vs AFTER, "
    "plus how much of the largest component's mass dissolves — "
    "graph_rich_club says whether hubs form a core, this runs the "
    "actual intervention and prices it (largest cluster shatters => "
    "the 'cluster' was one boilerplate hub, remove hubs; barely "
    "shrinks => genuine template family, dedup at cluster level). "
    "Components are over nodes incident to the respective edge set "
    "(min-reachable-id labeling, both engines). All outputs exact "
    "integers. Shape: the keeper edge list is derived once; "
    "components run twice through connected_components (the one-task "
    "union-find path at production edge counts — near-dup edges are "
    "tiny relative to the corpus); the hub set is a broadcast 5-row "
    "dim anti-joined twice",
)
def graph_hub_removal_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import (
        connected_components,
        keeper_pairs,
        symmetric_edges,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = keeper_pairs(docs, "doc_id").localCheckpoint()
    edges = symmetric_edges(pairs)
    deg = edges.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    wh = Window.orderBy(F.desc("d"), F.col("u"))
    hubs = (
        deg.withColumn("rn", F.row_number().over(wh))
        .filter(F.col("rn") <= 5)
        .select("u")
        .localCheckpoint()
    )
    comp_b = connected_components(pairs, "doc_a", "doc_b")
    sizes_b = comp_b.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    kept = (
        pairs.join(hubs, pairs["doc_a"] == hubs["u"], "left_anti")
        .join(hubs, pairs["doc_b"] == hubs["u"], "left_anti")
    )
    comp_a = connected_components(kept, "doc_a", "doc_b")
    sizes_a = comp_a.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    m = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m_directed"))
    nh = hubs.agg(F.count(F.lit(1)).cast("bigint").alias("n_hubs"))
    before = sizes_b.agg(
        F.count(F.lit(1)).cast("bigint").alias("comp_before"),
        F.coalesce(F.max("sz"), F.lit(0))
        .cast("bigint")
        .alias("largest_before"),
    )
    after = sizes_a.agg(
        F.count(F.lit(1)).cast("bigint").alias("comp_after"),
        F.coalesce(F.max("sz"), F.lit(0))
        .cast("bigint")
        .alias("largest_after"),
    )
    return (
        n_nodes.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(nh))
        .crossJoin(F.broadcast(before))
        .crossJoin(F.broadcast(after))
        .select(
            "n_nodes",
            "m_directed",
            "n_hubs",
            "comp_before",
            "largest_before",
            "comp_after",
            "largest_after",
            F.expr(
                "CAST(CASE WHEN largest_before = 0 THEN 0"
                " ELSE (largest_before - largest_after) * 1000"
                " div largest_before END AS BIGINT)"
            ).alias("largest_drop_milli"),
        )
    )


# ---------------------------------------------------------------------------
# graph_label_propagation
# ---------------------------------------------------------------------------


def lpa_cte() -> str:
    """Shared 2-round LPA CTE chain (keeper edges -> l2 labels) used by
    ``graph_label_propagation`` and ``graph_community_conductance`` —
    one definition so the vote convention cannot drift."""

    return f"""{_KEEPER_EDGES_CTE},
    nodes AS (SELECT DISTINCT u FROM edges),
    v1 AS (
      SELECT e.u, e.v AS lbl FROM edges e
      UNION ALL
      SELECT u, u AS lbl FROM nodes),
    c1 AS (
      SELECT u, lbl, count(*) AS cnt FROM v1 GROUP BY 1, 2),
    l1 AS (
      SELECT u, lbl FROM (
        SELECT u, lbl,
               row_number() OVER (PARTITION BY u
                 ORDER BY cnt DESC, lbl) AS rn
        FROM c1) t
      WHERE rn = 1),
    v2 AS (
      SELECT e.u, l.lbl FROM edges e JOIN l1 l ON e.v = l.u
      UNION ALL
      SELECT u, lbl FROM l1),
    c2 AS (
      SELECT u, lbl, count(*) AS cnt FROM v2 GROUP BY 1, 2),
    l2 AS (
      SELECT u, lbl FROM (
        SELECT u, lbl,
               row_number() OVER (PARTITION BY u
                 ORDER BY cnt DESC, lbl) AS rn
        FROM c2) t
      WHERE rn = 1)"""


def lpa_two_rounds(edges: DataFrame) -> DataFrame:
    """Spark twin of :func:`lpa_cte`: (u, lbl) after 2 synchronous LPA
    rounds (votes = neighbor labels + own, ties to the smallest)."""
    nodes = edges.select("u").distinct()

    def lpa_round(labels: DataFrame) -> DataFrame:
        votes = edges.join(
            labels.select(F.col("u").alias("v"), "lbl"), "v"
        ).select("u", "lbl").unionAll(labels.select("u", "lbl"))
        c = votes.groupBy("u", "lbl").agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.partitionBy("u").orderBy(F.desc("cnt"), F.col("lbl"))
        return (
            c.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("u", "lbl")
        )

    return lpa_round(lpa_round(nodes.select("u", F.col("u").alias("lbl"))))


def _lpa_sql() -> str:
    return f"""
    WITH {lpa_cte()},
    comm AS (
      SELECT lbl, CAST(count(*) AS BIGINT) AS size
      FROM l2 GROUP BY 1)
    SELECT CAST(size AS BIGINT) AS size,
           CAST(count(*) AS BIGINT) AS n_communities,
           CAST(size * count(*) AS BIGINT) AS n_nodes
    FROM comm GROUP BY size
"""


@register(
    "graph_label_propagation",
    _lpa_sql(),
    "2-round synchronous label propagation over the near-dup keeper "
    "graph: every node starts as its own label, each round votes = "
    "neighbor labels + own label, winner = most frequent with ties to "
    "the smallest label (fully deterministic — the async/random-order "
    "variants of LPA are deliberately not used); output = the "
    "community-size histogram after round 2. The CHEAP community "
    "detector next to dedup_components' exact transitive closure: "
    "LPA needs only local votes, so it is the first pass at "
    "production scale, and this histogram read against "
    "graph_component_size_hist says how much cluster structure two "
    "local rounds already recover. Shape: two rounds of (edge join "
    "label) hash-aggs; the top-1 vote window is per node over its "
    "(node, label) vote rows — edge-count-bounded; the keeper edge "
    "list is the shared localCheckpoint'ed one",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import keeper_edges

    docs = _t(spark, sf_dir, "documents")
    edges = keeper_edges(docs, "doc_id")
    l2 = lpa_two_rounds(edges)
    comm = l2.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    return comm.groupBy("size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        (F.col("size") * F.count(F.lit(1))).cast("bigint").alias("n_nodes"),
    )


# graph_community_conductance ----------------------------------------------


def _conductance_sql() -> str:
    return f"""
    WITH {lpa_cte()},
    deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
    comm AS (
      SELECT lbl, CAST(count(*) AS BIGINT) AS size
      FROM l2 GROUP BY 1),
    top5 AS MATERIALIZED (
      SELECT lbl, size,
             CAST(row_number() OVER (ORDER BY size DESC, lbl) AS INT)
               AS rnk
      FROM comm QUALIFY rnk <= 5),
    vol_all AS MATERIALIZED (
      SELECT CAST(sum(d) AS BIGINT) AS v FROM deg),
    ec AS (
      SELECT t.lbl,
             CAST(sum(CASE WHEN lu.lbl = lv.lbl THEN 1 ELSE 0 END)
               AS BIGINT) AS internal_ends,
             CAST(sum(CASE WHEN lu.lbl <> lv.lbl THEN 1 ELSE 0 END)
               AS BIGINT) AS cut_ends
      FROM edges e
      JOIN l2 lu ON e.u = lu.u
      JOIN l2 lv ON e.v = lv.u
      JOIN top5 t ON lu.lbl = t.lbl
      GROUP BY 1),
    vol AS (
      SELECT l.lbl, CAST(sum(d.d) AS BIGINT) AS vol
      FROM l2 l JOIN deg d ON l.u = d.u
      JOIN top5 t ON l.lbl = t.lbl
      GROUP BY 1)
    SELECT t.rnk, t.lbl AS community, t.size,
           v.vol,
           CAST(coalesce(e.cut_ends, 0) AS BIGINT) AS cut_edges,
           CAST(CASE WHEN least(v.vol, (SELECT v FROM vol_all) - v.vol)
                       = 0 THEN 0
             ELSE coalesce(e.cut_ends, 0) * 1000
                  // least(v.vol, (SELECT v FROM vol_all) - v.vol) END
             AS BIGINT) AS conductance_milli
    FROM top5 t
    JOIN vol v ON t.lbl = v.lbl
    LEFT JOIN ec e ON t.lbl = e.lbl
"""


@register(
    "graph_community_conductance",
    _conductance_sql(),
    "cut conductance of the 5 largest LPA communities (the SHARED "
    "2-round lpa_cte labels, so detector and grader certify the same "
    "partition): per community — size, volume (sum of member "
    "degrees), cut edge-endpoints (directed edges leaving the "
    "community; the symmetric edge list counts each undirected cut "
    "edge once per side), and conductance = cut div min(vol, "
    "total_vol - vol) in milli — THE community-quality number "
    "(graph_label_propagation finds the partition, modularity grades "
    "it globally; conductance grades each cluster separately, and a "
    "high-conductance 'community' is a hub artifact, not a template "
    "family — exactly what decides cluster-level vs doc-level "
    "dedup). EXACT: integer degree/cut counts, one floor division; "
    "communities with zero min-volume report 0. Shape: the keeper "
    "edge list joined twice against the label map (both "
    "keeper-graph-sized), one degree agg, a 5-row top-k dim",
)
def graph_community_conductance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import keeper_edges

    docs = _t(spark, sf_dir, "documents")
    edges = keeper_edges(docs, "doc_id")
    l2 = lpa_two_rounds(edges).localCheckpoint()
    deg = edges.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    comm = l2.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    wt = Window.orderBy(F.desc("size"), F.col("lbl"))
    top5 = (
        comm.withColumn("rnk", F.row_number().over(wt).cast("int"))
        .filter(F.col("rnk") <= 5)
        .localCheckpoint()
    )
    vol_all = deg.agg(F.sum("d").cast("bigint").alias("v"))
    lu = l2.select(F.col("u").alias("eu"), F.col("lbl").alias("lu"))
    lv = l2.select(F.col("u").alias("ev"), F.col("lbl").alias("lv"))
    ec = (
        edges.join(lu, edges["u"] == lu["eu"])
        .join(lv, edges["v"] == lv["ev"])
        .join(
            F.broadcast(top5.select(F.col("lbl").alias("tl"))),
            F.col("lu") == F.col("tl"),
        )
        .groupBy(F.col("lu").alias("lbl"))
        .agg(
            F.sum(F.when(F.col("lu") != F.col("lv"), 1).otherwise(0))
            .cast("bigint")
            .alias("cut_ends")
        )
    )
    vol = (
        l2.join(deg, l2["u"] == deg["u"])
        .join(
            F.broadcast(top5.select(F.col("lbl").alias("tl"))),
            F.col("lbl") == F.col("tl"),
        )
        .groupBy("lbl")
        .agg(F.sum("d").cast("bigint").alias("vol"))
    )
    return (
        top5.join(vol, "lbl")
        .join(ec, "lbl", "left")
        .crossJoin(F.broadcast(vol_all))
        .select(
            "rnk",
            F.col("lbl").alias("community"),
            "size",
            "vol",
            F.coalesce("cut_ends", F.lit(0))
            .cast("bigint")
            .alias("cut_edges"),
            F.expr(
                "CAST(CASE WHEN least(vol, v - vol) = 0 THEN 0"
                " ELSE coalesce(cut_ends, 0) * 1000"
                " div least(vol, v - vol) END AS BIGINT)"
            ).alias("conductance_milli"),
        )
    )


# ---------------------------------------------------------------------------
# graph_transitivity
# ---------------------------------------------------------------------------


def _transitivity_sql() -> str:
    return f"""
    WITH {_KEEPER_EDGES_CTE},
    deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u),
    wed AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges
      FROM deg),
    tri AS MATERIALIZED (
      SELECT CAST(count(*) // 3 AS BIGINT) AS triangles
      FROM prs p
      JOIN edges e1 ON e1.u = p.doc_a
      JOIN edges e2 ON e2.u = p.doc_b AND e2.v = e1.v)
    SELECT (SELECT n_nodes FROM wed) AS n_nodes,
           CAST((SELECT count(*) FROM prs) AS BIGINT) AS n_edges,
           (SELECT wedges FROM wed) AS wedges,
           (SELECT triangles FROM tri) AS triangles,
           CAST(CASE WHEN (SELECT wedges FROM wed) = 0 THEN 0
             ELSE 3 * (SELECT triangles FROM tri) * 1000
                  // (SELECT wedges FROM wed) END AS BIGINT)
             AS transitivity_milli
"""


@register(
    "graph_transitivity",
    _transitivity_sql(),
    "global clustering coefficient (transitivity) of the keeper "
    "graph: 3*triangles div wedges, wedges = sum d(d-1)/2 — "
    "graph_clustering_coeff averages LOCAL coefficients (each node an "
    "equal vote); transitivity weights by wedge count, so one sparse "
    "hub drags it to 0 while barely moving the local average, and the "
    "two numbers together separate 'many small cliques' (both high) "
    "from 'one boilerplate hub' (local high, global low) — the "
    "cluster-shape diagnostic behind the hub-removal intervention. "
    "EXACT: integer triangle/wedge counts (each triangle closes 3 "
    "adjacent pairs, hence div 3), one floor division. Shape: the "
    "shared localCheckpoint'ed keeper edge list; one degree hash-agg, "
    "one pair-closure join (keeper-graph-sized), 1-row output",
)
def graph_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import keeper_pairs, symmetric_edges

    docs = _t(spark, sf_dir, "documents")
    pairs = keeper_pairs(docs, "doc_id").localCheckpoint()
    edges = symmetric_edges(pairs)
    deg = edges.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    wed = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("wedges"),
    )
    e1 = edges.select(F.col("u").alias("a1"), F.col("v").alias("c1"))
    e2 = edges.select(F.col("u").alias("b2"), F.col("v").alias("c2"))
    tri = (
        pairs.join(e1, pairs["doc_a"] == e1["a1"])
        .join(
            e2,
            (pairs["doc_b"] == e2["b2"]) & (e1["c1"] == e2["c2"]),
        )
        .agg(F.expr("CAST(count(1) div 3 AS BIGINT)").alias("triangles"))
    )
    ne = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        wed.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(ne))
        .select(
            "n_nodes",
            "n_edges",
            "wedges",
            "triangles",
            F.expr(
                "CAST(CASE WHEN wedges = 0 THEN 0"
                " ELSE 3 * triangles * 1000 div wedges END AS BIGINT)"
            ).alias("transitivity_milli"),
        )
    )


# ---------------------------------------------------------------------------
# graph_degree_gini
# ---------------------------------------------------------------------------


def _degree_gini_sql() -> str:
    return f"""
    WITH {_KEEPER_EDGES_CTE},
    deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u),
    hist AS (
      SELECT d, CAST(count(*) AS BIGINT) AS c FROM deg GROUP BY d),
    ranked AS (
      SELECT d, c,
             CAST(coalesce(sum(c) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cprev
      FROM hist),
    m AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(d * c) AS BIGINT) AS s,
             CAST(sum(d * (c * cprev + c * (c + 1) // 2)) AS BIGINT)
               AS w
      FROM ranked)
    SELECT n AS n_nodes, s AS sum_degree,
           CAST(2 * w - (n + 1) * s AS BIGINT) AS gini_num,
           CAST(n * s AS BIGINT) AS gini_den,
           CAST(CASE WHEN n * s = 0 THEN 0
             ELSE (2 * w - (n + 1) * s) * 1000 // (n * s)
             END AS BIGINT) AS gini_milli
    FROM m
"""


@register(
    "graph_degree_gini",
    _degree_gini_sql(),
    "Gini coefficient of keeper-graph degrees, exact integers from the "
    "degree-value HISTOGRAM: sum-of-ranks is reconstructed per "
    "distinct degree (rank mass = c*C_prev + c(c+1)/2, ties share a "
    "value so any within-tie order gives the same sum), so the prefix "
    "window runs over the distinct-degree dim (value-domain bounded, "
    "the ml_auc_exact class) — NEVER a global per-node rank (the "
    "agg_gini formula, the graph twin of its revenue concentration). "
    "High Gini + high rich-club = one hub family dominates the dup "
    "graph; low Gini + high transitivity = many comparable cliques. "
    "Nodes = endpoints with degree >= 1 (the graph family convention). "
    "Shape: keeper edges -> degree hash-agg -> distinct-degree "
    "histogram -> bounded-dim prefix window -> 1-row report",
)
def graph_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import keeper_edges

    docs = _t(spark, sf_dir, "documents")
    edges = keeper_edges(docs, "doc_id").localCheckpoint()
    deg = edges.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    hist = deg.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    ranked = hist.select(
        "d",
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0))
        .cast("bigint")
        .alias("cprev"),
    )
    m = ranked.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("d") * F.col("c")).cast("bigint").alias("s"),
        F.sum(
            F.col("d")
            * (
                F.col("c") * F.col("cprev")
                + F.expr("c * (c + 1) div 2")
            )
        )
        .cast("bigint")
        .alias("w"),
    )
    return m.select(
        F.col("n").alias("n_nodes"),
        F.col("s").alias("sum_degree"),
        F.expr("CAST(2 * w - (n + 1) * s AS BIGINT)").alias("gini_num"),
        F.expr("CAST(n * s AS BIGINT)").alias("gini_den"),
        F.expr(
            "CAST(CASE WHEN n * s = 0 THEN 0"
            " ELSE (2 * w - (n + 1) * s) * 1000 div (n * s)"
            " END AS BIGINT)"
        ).alias("gini_milli"),
    )


# ---------------------------------------------------------------------------
# graph_lang_assortativity
# ---------------------------------------------------------------------------


def _lang_assort_sql() -> str:
    return f"""
    WITH {_KEEPER_EDGES_CTE},
    lab AS (SELECT doc_id, lang FROM documents),
    el AS MATERIALIZED (
      SELECT la.lang AS lang_u, lb.lang AS lang_v
      FROM edges e
      JOIN lab la ON la.doc_id = e.u
      JOIN lab lb ON lb.doc_id = e.v),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS m2,
             CAST(sum(CASE WHEN lang_u = lang_v THEN 1 ELSE 0 END)
               AS BIGINT) AS same
      FROM el),
    marg AS (
      SELECT CAST(sum(a * a) AS BIGINT) AS sa2 FROM (
        SELECT lang_u, CAST(count(*) AS BIGINT) AS a
        FROM el GROUP BY 1) t)
    SELECT t.m2 AS n_edges_directed, t.same AS n_same_lang,
           g.sa2 AS sum_marg_sq,
           CAST(CASE WHEN t.m2 = 0 THEN 0
             ELSE t.same * 1000 // t.m2 END AS BIGINT)
             AS same_share_milli,
           CAST(CASE WHEN t.m2 = 0 THEN 0
             ELSE g.sa2 * 1000 // (t.m2 * t.m2) END AS BIGINT)
             AS expected_share_milli,
           CAST(CASE WHEN t.m2 * t.m2 = g.sa2 THEN 0
             ELSE (t.m2 * t.same - g.sa2) * 1000
                  // (t.m2 * t.m2 - g.sa2) END AS BIGINT)
             AS assortativity_milli
    FROM tot t CROSS JOIN marg g
"""


@register(
    "graph_lang_assortativity",
    _lang_assort_sql(),
    "Newman CATEGORICAL assortativity of the keeper graph over lang: "
    "graph_assortativity / graph_degree_assortativity correlate "
    "endpoint DEGREES; this asks whether near-dup edges stay inside a "
    "language — r -> 1000 milli means dedup shards cleanly by lang "
    "(no cross-shard pair work), r ~ 0 means lang labels are noisy or "
    "templates cross languages (the mislabel smoke alarm). EXACT: on "
    "directed-edge counts, r = (2m*same - sum(a_l^2)) / ((2m)^2 - "
    "sum(a_l^2)) — integer numerator/denominator, one trunc division; "
    "same/expected shares reported alongside. Shape: keeper edge list "
    "joined twice to the doc->lang projection, a |langs|-row marginal "
    "rollup, two scalar dims crossed",
)
def graph_lang_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import keeper_edges

    docs = _t(spark, sf_dir, "documents")
    lab = docs.select("doc_id", "lang")
    edges = keeper_edges(docs, "doc_id").localCheckpoint()
    el = (
        edges.join(
            lab.select(
                F.col("doc_id").alias("u"), F.col("lang").alias("lang_u")
            ),
            "u",
        )
        .join(
            lab.select(
                F.col("doc_id").alias("v"), F.col("lang").alias("lang_v")
            ),
            "v",
        )
        .select("lang_u", "lang_v")
        .localCheckpoint()
    )
    tot = el.agg(
        F.count(F.lit(1)).cast("bigint").alias("m2"),
        F.sum(F.when(F.col("lang_u") == F.col("lang_v"), 1).otherwise(0))
        .cast("bigint")
        .alias("same"),
    )
    marg = (
        el.groupBy("lang_u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
        .agg(F.sum(F.col("a") * F.col("a")).cast("bigint").alias("sa2"))
    )
    return tot.crossJoin(F.broadcast(marg)).select(
        F.col("m2").alias("n_edges_directed"),
        F.col("same").alias("n_same_lang"),
        F.col("sa2").alias("sum_marg_sq"),
        F.expr(
            "CAST(CASE WHEN m2 = 0 THEN 0"
            " ELSE same * 1000 div m2 END AS BIGINT)"
        ).alias("same_share_milli"),
        F.expr(
            "CAST(CASE WHEN m2 = 0 THEN 0"
            " ELSE sa2 * 1000 div (m2 * m2) END AS BIGINT)"
        ).alias("expected_share_milli"),
        F.expr(
            "CAST(CASE WHEN m2 * m2 = sa2 THEN 0"
            " ELSE (m2 * same - sa2) * 1000 div (m2 * m2 - sa2)"
            " END AS BIGINT)"
        ).alias("assortativity_milli"),
    )


# ---------------------------------------------------------------------------
# graph_local_bridges
# ---------------------------------------------------------------------------


def _local_bridges_sql() -> str:
    return f"""
    WITH {_KEEPER_EDGES_CTE},
    closed AS MATERIALIZED (
      SELECT DISTINCT p.doc_a, p.doc_b
      FROM prs p
      JOIN edges e1 ON e1.u = p.doc_a
      JOIN edges e2 ON e2.u = p.doc_b AND e2.v = e1.v),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_edges FROM prs),
    ct AS (
      SELECT CAST(count(*) AS BIGINT) AS n_closed FROM closed)
    SELECT t.n_edges,
           CAST(t.n_edges - c.n_closed AS BIGINT) AS n_bridges,
           c.n_closed AS n_triangle_edges,
           CAST(CASE WHEN t.n_edges = 0 THEN 0
             ELSE (t.n_edges - c.n_closed) * 1000 // t.n_edges
             END AS BIGINT) AS bridge_milli
    FROM tot t CROSS JOIN ct c
"""


@register(
    "graph_local_bridges",
    _local_bridges_sql(),
    "local-bridge share of the keeper graph: an edge is a local "
    "bridge when its endpoints share NO common neighbor (closes no "
    "triangle — removing it lengthens every path between its sides). "
    "graph_transitivity reports the closed WEDGE fraction; this "
    "reports the UNCORROBORATED edge fraction: a dup graph that is "
    "mostly bridges is chains of weak pairwise evidence, a bridge-"
    "free graph is clique-like corroborated clusters — the confidence "
    "split that decides whether connected components can be trusted "
    "as dedup clusters. EXACT integer counts, one floor division. "
    "Shape: the shared keeper pair list; triangle evidence from ONE "
    "adjacency-pair join (the transitivity shape) consumed as a "
    "distinct + two 1-row rollups",
)
def graph_local_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import keeper_pairs, symmetric_edges

    docs = _t(spark, sf_dir, "documents")
    pairs = keeper_pairs(docs, "doc_id").localCheckpoint()
    edges = symmetric_edges(pairs)
    e1 = edges.select(F.col("u").alias("a1"), F.col("v").alias("c1"))
    e2 = edges.select(F.col("u").alias("b2"), F.col("v").alias("c2"))
    closed = (
        pairs.join(e1, pairs["doc_a"] == e1["a1"])
        .join(
            e2,
            (pairs["doc_b"] == e2["b2"]) & (e1["c1"] == e2["c2"]),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    tot = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    ct = closed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_closed")
    )
    return tot.crossJoin(F.broadcast(ct)).select(
        "n_edges",
        (F.col("n_edges") - F.col("n_closed"))
        .cast("bigint")
        .alias("n_bridges"),
        F.col("n_closed").alias("n_triangle_edges"),
        F.expr(
            "CAST(CASE WHEN n_edges = 0 THEN 0"
            " ELSE (n_edges - n_closed) * 1000 div n_edges"
            " END AS BIGINT)"
        ).alias("bridge_milli"),
    )


# ---------------------------------------------------------------------------
# graph_bridge_fragmentation
# ---------------------------------------------------------------------------


def _bridge_frag_sql() -> str:
    return f"""
    WITH RECURSIVE {_KEEPER_EDGES_CTE},
    closed AS MATERIALIZED (
      SELECT DISTINCT p.doc_a, p.doc_b
      FROM prs p
      JOIN edges e1 ON e1.u = p.doc_a
      JOIN edges e2 ON e2.u = p.doc_b AND e2.v = e1.v),
    cedges AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM closed
      UNION
      SELECT doc_b AS u, doc_a AS v FROM closed),
    reach_full(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach_full r JOIN edges e ON r.v = e.u
      WHERE e.v <> r.u),
    comp_full AS (
      SELECT u AS doc_id, least(u, min(v)) AS component
      FROM reach_full GROUP BY u),
    reach_corr(u, v) AS (
      SELECT u, v FROM cedges
      UNION
      SELECT r.u, e.v FROM reach_corr r JOIN cedges e ON r.v = e.u
      WHERE e.v <> r.u),
    comp_corr0 AS (
      SELECT u AS doc_id, least(u, min(v)) AS component
      FROM reach_corr GROUP BY u),
    universe AS (SELECT DISTINCT u AS doc_id FROM edges),
    comp_corr AS (
      SELECT un.doc_id, coalesce(c.component, un.doc_id) AS component
      FROM universe un LEFT JOIN comp_corr0 c ON un.doc_id = c.doc_id),
    sizes AS (
      SELECT 'full' AS arm, component, CAST(count(*) AS BIGINT) AS sz
      FROM comp_full GROUP BY component
      UNION ALL
      SELECT 'corroborated' AS arm, component,
             CAST(count(*) AS BIGINT) AS sz
      FROM comp_corr GROUP BY component)
    SELECT arm,
           CAST(sum(sz) AS BIGINT) AS n_nodes,
           CAST(count(*) AS BIGINT) AS n_components,
           CAST(max(sz) AS BIGINT) AS max_size,
           CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_singletons
    FROM sizes GROUP BY arm
"""


@register(
    "graph_bridge_fragmentation",
    _bridge_frag_sql(),
    "corroboration fragmentation — the action twin of "
    "graph_local_bridges: components of the keeper graph over ALL "
    "edges vs over TRIANGLE-CLOSING edges only (local bridges "
    "removed), same node universe. A doc with only bridge evidence "
    "becomes a singleton (n_singletons prices how much of the dup "
    "graph a corroboration requirement discards); max_size shows "
    "whether giant clusters were held together by single threads. "
    "Shape: the shared keeper pairs, ONE adjacency-pair join for "
    "triangle evidence (the transitivity shape), the size-adaptive "
    "connected-components operator run on both edge sets, two "
    "size-histogram rollups",
)
def graph_bridge_fragmentation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import (
        connected_components,
        keeper_pairs,
        symmetric_edges,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = keeper_pairs(docs, "doc_id").localCheckpoint()
    edges = symmetric_edges(pairs)
    e1 = edges.select(F.col("u").alias("a1"), F.col("v").alias("c1"))
    e2 = edges.select(F.col("u").alias("b2"), F.col("v").alias("c2"))
    closed = (
        pairs.join(e1, pairs["doc_a"] == e1["a1"])
        .join(
            e2,
            (pairs["doc_b"] == e2["b2"]) & (e1["c1"] == e2["c2"]),
        )
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint()
    )
    comp_full = connected_components(pairs)
    comp_corr0 = connected_components(closed)
    universe = edges.select(F.col("u").alias("doc_id")).distinct()
    comp_corr = universe.join(
        comp_corr0.select(
            "doc_id", F.col("component").alias("c0")
        ),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce("c0", F.col("doc_id")).alias("component"),
    )

    def _sizes(comp: DataFrame, arm: str) -> DataFrame:
        return comp.groupBy("component").agg(
            F.count(F.lit(1)).cast("bigint").alias("sz")
        ).select(F.lit(arm).alias("arm"), "sz")

    sizes = _sizes(comp_full, "full").unionByName(
        _sizes(comp_corr, "corroborated")
    )
    return sizes.groupBy("arm").agg(
        F.sum("sz").cast("bigint").alias("n_nodes"),
        F.count(F.lit(1)).cast("bigint").alias("n_components"),
        F.max("sz").cast("bigint").alias("max_size"),
        F.sum(F.when(F.col("sz") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_singletons"),
    )


# ---------------------------------------------------------------------------
# graph_edge_support
# ---------------------------------------------------------------------------


def _edge_support_sql() -> str:
    return f"""
    WITH {_KEEPER_EDGES_CTE},
    sup AS (
      SELECT p.doc_a, p.doc_b,
             CAST(count(DISTINCT e1.v) AS BIGINT) AS support
      FROM prs p
      JOIN edges e1 ON e1.u = p.doc_a
      JOIN edges e2 ON e2.u = p.doc_b AND e2.v = e1.v
      GROUP BY 1, 2),
    allsup AS (
      SELECT p.doc_a, p.doc_b, coalesce(s.support, 0) AS support
      FROM prs p
      LEFT JOIN sup s ON p.doc_a = s.doc_a AND p.doc_b = s.doc_b),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM prs)
    SELECT CAST(a.support AS BIGINT) AS support,
           CAST(count(*) AS BIGINT) AS n_edges,
           CAST(count(*) * 1000 // t.n_edges AS BIGINT) AS share_milli
    FROM allsup a CROSS JOIN tot t
    GROUP BY a.support, t.n_edges
"""


@register(
    "graph_edge_support",
    _edge_support_sql(),
    "corroboration-depth histogram of the keeper graph: per edge, the "
    "number of triangles it closes (= common neighbors of its "
    "endpoints), rolled up to (support, n_edges, share). Support 0 is "
    "exactly graph_local_bridges' bridge set; support >= k-2 is the "
    "k-truss retention condition, so this one relation prices EVERY "
    "corroboration threshold at once where the bridge query prices "
    "only threshold 1 — the input to choosing how much corroboration "
    "dedup clusters must carry. Shape: the one adjacency-pair join of "
    "the transitivity family aggregated per edge (hash-agg, no "
    "windows), zero-filled by a left join back to the pair list, "
    "histogram over the bounded support domain",
)
def graph_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jigsaw_spark.operators.dedup import keeper_pairs, symmetric_edges

    docs = _t(spark, sf_dir, "documents")
    pairs = keeper_pairs(docs, "doc_id").localCheckpoint()
    edges = symmetric_edges(pairs)
    e1 = edges.select(F.col("u").alias("a1"), F.col("v").alias("c1"))
    e2 = edges.select(F.col("u").alias("b2"), F.col("v").alias("c2"))
    sup = (
        pairs.join(e1, pairs["doc_a"] == e1["a1"])
        .join(
            e2,
            (pairs["doc_b"] == e2["b2"]) & (e1["c1"] == e2["c2"]),
        )
        .groupBy("doc_a", "doc_b")
        # edges are distinct (pairs are distinct and a < b, so the two
        # orientations cannot collide), hence each common neighbor
        # produces exactly one (doc_a, doc_b, c1) row — a plain count
        # equals the distinct count without the Expand machinery (r14)
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
    )
    allsup = pairs.join(sup, ["doc_a", "doc_b"], "left").select(
        F.coalesce("support", F.lit(0)).alias("support")
    )
    tot = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges")
    )
    return (
        allsup.groupBy("support")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
        .crossJoin(F.broadcast(tot).withColumnRenamed("n_edges", "te"))
        .select(
            F.col("support").cast("bigint").alias("support"),
            "n_edges",
            F.expr("CAST(n_edges * 1000 div te AS BIGINT)").alias(
                "share_milli"
            ),
        )
    )


_DEPTH_CAP = 8


# ---------------------------------------------------------------------------
# graph_component_depth
# ---------------------------------------------------------------------------


def _component_depth_sql() -> str:
    arms = []
    for arm, etab in (
        ("text", "tedges"),
        ("image", "iedges"),
        ("pooled", "uedges"),
    ):
        stages = [f"""
    reach_{arm}(u, v) AS (
      SELECT u, v FROM {etab}
      UNION
      SELECT r.u, e.v FROM reach_{arm} r
      JOIN {etab} e ON r.v = e.u WHERE e.v <> r.u),
    mins_{arm} AS (
      SELECT u AS node, least(u, min(v)) AS component
      FROM reach_{arm} GROUP BY u),
    d0_{arm} AS (
      SELECT DISTINCT component AS node, 0 AS dist FROM mins_{arm})"""]
        for t in range(1, _DEPTH_CAP + 1):
            stages.append(f"""
    d{t}_{arm} AS MATERIALIZED (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d{t - 1}_{arm}
        UNION ALL
        SELECT e.v AS node, p.dist + 1 AS dist
        FROM d{t - 1}_{arm} p JOIN {etab} e ON p.node = e.u) s
      GROUP BY node)""")
        stages.append(f"""
    lab_{arm} AS (
      SELECT '{arm}' AS arm,
             coalesce(d.dist, {_DEPTH_CAP + 1}) AS depth
      FROM mins_{arm} m
      LEFT JOIN d{_DEPTH_CAP}_{arm} d ON m.node = d.node)""")
        arms.append(",".join(stages))
    return f"""
    WITH RECURSIVE {_KEEPER_EDGES_CTE},
    {_PHASH_BYTES_CTE.strip()},
    mcand AS (
      SELECT DISTINCT x.i AS ia, y.i AS ib
      FROM ph_bytes x
      JOIN ph_bytes y ON x.byte_idx = y.byte_idx
                     AND x.byte_val = y.byte_val AND x.i < y.i),
    mpairs AS MATERIALIZED (
      SELECT ia AS doc_a, ib AS doc_b FROM (
        SELECT c.ia, c.ib,
               CAST(sum(bit_count(xor(x.byte_val, y.byte_val)))
                 AS BIGINT) AS hamming
        FROM mcand c
        JOIN ph_bytes x ON x.i = c.ia
        JOIN ph_bytes y ON y.i = c.ib AND y.byte_idx = x.byte_idx
        GROUP BY 1, 2) h
      WHERE h.hamming <= 6),
    tedges AS (SELECT u, v FROM edges),
    iedges AS MATERIALIZED (
      SELECT doc_a AS u, doc_b AS v FROM mpairs
      UNION SELECT doc_b AS u, doc_a AS v FROM mpairs),
    uedges AS MATERIALIZED (
      SELECT u, v FROM tedges UNION SELECT u, v FROM iedges),
    {','.join(arms)},
    allarms AS (
      SELECT * FROM lab_text
      UNION ALL SELECT * FROM lab_image
      UNION ALL SELECT * FROM lab_pooled)
    SELECT arm, CAST(depth AS INT) AS depth,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM allarms GROUP BY 1, 2
"""


@register(
    "graph_component_depth",
    _component_depth_sql(),
    "convergence profile of the components machinery — per arm "
    "(text keeper edges / banded dHash image edges / their union, "
    "the dedup_pooled_components arms), the distribution of each "
    "graph node's hop distance to its component min: multi-source "
    f"BFS from the mins, {_DEPTH_CAP} relaxations, "
    f"{_DEPTH_CAP + 1} = beyond-cap bucket. Max depth bounds the "
    "pointer-jumping / label-propagation supersteps a distributed "
    "components job pays (each superstep is one full edge shuffle "
    "at 100 TB), and a growing pooled-arm depth means pooling "
    "builds CHAINS, not stars — exactly when transitive near-dup "
    "collapse starts over-merging. Shape: the two certified banded "
    "pair lists, per-arm src-keyed edge joins + min-aggs per "
    "relaxation (frontier never collected), a (arm, depth) "
    "hash-agg; bounded output",
)
def graph_component_depth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from jigsaw_spark.operators.dedup import component_depths, keeper_pairs

    docs = _t(spark, sf_dir, "documents")
    tpairs = keeper_pairs(docs, "doc_id").localCheckpoint()
    ipairs = (
        mm_phash_near_dup(spark, sf_dir)
        .select(
            F.col("img_a").cast("bigint").alias("doc_a"),
            F.col("img_b").cast("bigint").alias("doc_b"),
        )
        .localCheckpoint()
    )
    upairs = (
        tpairs.select("doc_a", "doc_b")
        .unionByName(ipairs)
        .distinct()
    )
    out = []
    for arm, pairs in (
        ("text", tpairs.select("doc_a", "doc_b")),
        ("image", ipairs),
        ("pooled", upairs),
    ):
        lab = component_depths(pairs, cap=_DEPTH_CAP)
        out.append(
            lab.groupBy("depth").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_nodes")
            ).select(
                F.lit(arm).alias("arm"),
                F.col("depth").cast("int").alias("depth"),
                "n_nodes",
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res
