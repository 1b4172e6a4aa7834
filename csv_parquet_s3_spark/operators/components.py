"""Connected components over near-duplicate pairs: the cluster step of dedup.

Pair generation (MinHash LSH, embedding cosine, n-gram Jaccard — see
:mod:`dedup`, :mod:`neardup`) yields *edges*; choosing one survivor per
duplicate *group* needs the transitive closure: connected components. The
reference has nothing comparable (SURVEY.md §2.2 — no join, let alone an
iterative algorithm); this is a driver-mandated training-pipeline extension.

Algorithm: distributed min-label propagation (the dataframe form of
large-star/small-star — Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14). Each vertex repeatedly adopts the minimum label in
its neighborhood; fixpoint in O(diameter) rounds (near-dup clusters are
shallow — boilerplate families, not long chains).

Scale notes: each round is one join + one groupBy on vertex ids (shuffle
bounded by |edges|); ``localCheckpoint`` truncates the lineage so round k
doesn't replay rounds 1..k-1; the driver only sees the one-row convergence
count per round, never data.

The fixpoint IS SQL-expressible as a recursive-CTE transitive closure
(labels are exact integers — no FP drift), so the driver hash-checks this
against DuckDB replaying the same pair pipeline + closure; the test suite
additionally verifies against a Python union-find model. The closure oracle
is O(|component|²) rows per component — fine for an oracle at test SF, which
is exactly why the ENGINE side uses min-label propagation instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_parquet_s3_spark.operators.dedup import (
    _ORACLE_BANDS,
    _ORACLE_PAIR_CTES,
    _ORACLE_SHINGLES,
    dedup_minhash_lsh_pairs,
)
from csv_parquet_s3_spark.operators.registry import register
from csv_parquet_s3_spark.plans.materialize import materialize

MAX_ROUNDS = 20


def connected_components(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """(vertex, component) from an undirected edge list; component = min
    vertex id reachable. Fixpoint min-label propagation."""
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .transform(materialize)
    )
    labels = (
        edges.select(F.col("u").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
    )
    for _ in range(MAX_ROUNDS):
        # neighborhood minimum: min over own label and all neighbors' labels
        neighbor_min = (
            edges.join(labels, edges.v == labels.vertex)
            .groupBy("u")
            .agg(F.min("component").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.vertex == neighbor_min.u, "left")
            .select(
                "vertex",
                F.least(
                    "component", F.coalesce("nmin", "component")
                ).alias("component"),
            )
            .transform(materialize)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "vertex")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE {_ORACLE_SHINGLES},
    {_ORACLE_BANDS},
    {_ORACLE_PAIR_CTES},
    edges AS (
        SELECT doc_id_a AS u, doc_id_b AS v FROM lsh_pairs
        UNION
        SELECT doc_id_b AS u, doc_id_a AS v FROM lsh_pairs
    ),
    reach AS (
        SELECT u AS doc_id, u AS label FROM edges
        UNION
        SELECT e.u AS doc_id, r.label
        FROM edges e JOIN reach r ON r.doc_id = e.v
    ),
    comp AS (SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id),
    csizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
    SELECT c.doc_id, c.cluster_id, s.cluster_size
    FROM comp c JOIN csizes s ON c.cluster_id = s.cluster_id
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters from MinHash-LSH pairs: (doc_id, cluster_id,
    cluster_size), cluster_id = min doc_id in the component. Downstream
    "keep one per cluster" is then a filter ``doc_id == cluster_id``."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    comp = connected_components(pairs, "doc_id_a", "doc_id_b")
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("vertex").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
        )
    )


@register(
    "dedup_canonical_docs",
    oracle=f"""
    WITH RECURSIVE {_ORACLE_SHINGLES},
    {_ORACLE_BANDS},
    {_ORACLE_PAIR_CTES},
    edges AS (
        SELECT doc_id_a AS u, doc_id_b AS v FROM lsh_pairs
        UNION
        SELECT doc_id_b AS u, doc_id_a AS v FROM lsh_pairs
    ),
    reach AS (
        SELECT u AS doc_id, u AS label FROM edges
        UNION
        SELECT e.u AS doc_id, r.label
        FROM edges e JOIN reach r ON r.doc_id = e.v
    ),
    comp AS (SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id),
    all_docs AS (
        SELECT d.doc_id, d.n_chars,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    canon AS (
        SELECT cluster_id, doc_id AS canonical_id FROM (
            SELECT cluster_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                       ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM all_docs
        ) z WHERE rn = 1
    )
    SELECT a.doc_id, a.cluster_id, c.canonical_id,
           a.doc_id = c.canonical_id AS is_canonical
    FROM all_docs a JOIN canon c ON c.cluster_id = a.cluster_id
    """,
)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship: the keep-list a dedup pipeline actually ships. Every
    document maps to a canonical representative — within a near-dup cluster
    the LONGEST document wins (tie: lowest doc_id); singletons are their own
    canonical. Downstream keeps ``is_canonical`` rows and rewrites references
    through ``canonical_id``.

    Scale shape: clusters from min-label propagation (bounded by |edges|);
    survivor pick AND assignment happen in ONE cluster-partitioned window
    pass (guide §2.4) — the former ``max_by`` aggregate + join-back
    consumed the corpus-sized ``all_docs`` frame twice, re-deriving its
    lineage (two ``documents`` scans, two doc_id-keyed joins against the
    checkpointed closure) and shuffling the corpus by cluster_id twice.
    ``first(doc_id)`` over (n_chars DESC, doc_id ASC) is exactly
    ``max_by(doc_id, struct(n_chars, -doc_id))`` — relying on
    ``documents.n_chars`` being NON-NULL (it is ``length(text)`` at ingest;
    with NULLs, Spark's DESC NULLS LAST default and the max_by struct order
    would still agree with each other and with DuckDB's default null order,
    but the equivalence claim assumes the non-null column) — and the window
    partitions
    are near-dup clusters (bounded small; singletons are their own
    partition key), so no skewed window task exists. No collect."""
    from pyspark.sql import Window

    from csv_parquet_s3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    comp = dedup_cluster_components(spark, sf_dir).select("doc_id", "cluster_id")
    all_docs = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )
    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return all_docs.select(
        "doc_id",
        "cluster_id",
        F.first("doc_id").over(w).alias("canonical_id"),
    ).select(
        "doc_id",
        "cluster_id",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Weighted PageRank over the nation-level trade graph: the canonical
# "iterative algorithm as a DataFrame loop" shape. Edges come from ONE pass
# over the fact tables (supplier-nation -> customer-nation revenue); the
# iterations then run on the aggregated graph, which is dimension-sized —
# at 100 TB the fact scan dominates and the loop is noise. Rank mass from
# dangling nodes (no out-edges) redistributes uniformly, the standard
# PageRank completion (Page et al. 1999).
#
# Determinism: edge weights aggregate in DECIMAL (exact); the single
# weight/out-weight division to DOUBLE is IEEE-identical on both engines;
# iteration sums are ~25-term double adds whose associativity error is
# O(1e-16), far inside the final ROUND(.., 6).
# ---------------------------------------------------------------------------
PR_DAMPING = 0.85
PR_ITERS = 5

_PR_EDGES_ORACLE = """
    edges_raw AS (
        SELECT ns.n_name AS src, nc.n_name AS dst,
               SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                   * CAST(1 - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        WHERE ns.n_name <> nc.n_name
        GROUP BY ns.n_name, nc.n_name
    ),
    nodes AS (SELECT n_name AS node FROM nation),
    edges AS (
        SELECT src, dst,
               CAST(w AS DOUBLE) / CAST(SUM(w) OVER (PARTITION BY src) AS DOUBLE) AS share
        FROM edges_raw
    ),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT COUNT(*) FROM nodes) AS rank
           FROM nodes)
"""


def _pagerank_oracle() -> str:
    """Unrolled-iteration oracle (same style as the Lloyd unrolls in
    similarity_index): r0..r{PR_ITERS} as chained CTEs, each one damped
    step with dangling-mass redistribution."""
    n_nodes = "(SELECT COUNT(*) FROM nodes)"
    its = []
    for t in range(1, PR_ITERS + 1):
        p = f"r{t - 1}"
        its.append(f"""
    r{t} AS (
        SELECT n.node,
               (1.0 - {PR_DAMPING}) / {n_nodes}
               + {PR_DAMPING} * (COALESCE(m.mass, 0.0)
                   + (SELECT COALESCE(SUM(r.rank), 0.0) FROM {p} r
                      WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = r.node))
                     / {n_nodes}) AS rank
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node, SUM(r.rank * e.share) AS mass
            FROM edges e JOIN {p} r ON r.node = e.src
            GROUP BY e.dst
        ) m ON m.node = n.node
    )""")
    return (
        "WITH " + _PR_EDGES_ORACLE + "," + ",".join(its) + f"""
    SELECT node AS nation, CAST(ROUND(rank, 6) AS DOUBLE) AS pagerank
    FROM r{PR_ITERS}
    """
    )


@register("graph_pagerank_nation_trade", oracle=_pagerank_oracle())
def graph_pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{PR_ITERS}-iteration weighted PageRank of nations in the trade graph
    (supplier nation -> customer nation, edge weight = discounted revenue).

    Reference scope: SURVEY.md §2.2 — the reference has no iterative
    operators at all; this demonstrates the Spark-first shape for them:
    aggregate the fact tables down to a graph ONCE (the only scan that sees
    data volume), then loop tiny dimension-sized frames with explicit
    ``localCheckpoint`` lineage truncation so round k never replays rounds
    1..k-1 (same discipline as ``connected_components`` above).
    """
    from csv_parquet_s3_spark.sources.tables import broadcast_if_small, load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    ns = nation.select(F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("src"))
    nc = nation.select(F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("dst"))
    w = F.expr(
        "CAST(l_extendedprice AS DECIMAL(12,2))"
        " * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))"
    )
    edges_raw = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(broadcast_if_small(supp, sf_dir, "supplier"), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum(w).alias("w"))
    )
    from pyspark.sql import Window

    out_w = Window.partitionBy("src")
    edges = edges_raw.select(
        "src",
        "dst",
        (F.col("w").cast("double") / F.sum("w").over(out_w).cast("double")).alias("share"),
    ).transform(materialize)

    nodes = nation.select(F.col("n_name").alias("node")).transform(materialize)
    return pagerank(nodes, edges).select(
        F.col("node").alias("nation"),
        F.round("rank", 6).cast("double").alias("pagerank"),
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    n_iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
) -> DataFrame:
    """(node, rank) after ``n_iters`` damped power iterations.

    ``nodes``: (node); ``edges``: (src, dst, share) with shares summing to 1
    per src. Dangling-node mass redistributes uniformly each step. Frames
    are expected graph-sized (post-aggregation); each iteration
    localCheckpoints so iteration k never replays 1..k-1.
    """
    n_nodes = nodes.count()  # graph-sized scalar (bounded), not data volume
    ranks = nodes.select("node", (F.lit(1.0) / n_nodes).alias("rank"))
    srcs = edges.select("src").distinct()
    for _ in range(n_iters):
        dangling = (
            ranks.join(srcs, ranks.node == srcs.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
        )
        incoming = (
            edges.join(ranks, edges.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("share")).alias("mass"))
        )
        ranks = (
            nodes.join(incoming, nodes.node == incoming.dst, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + damping
                    * (F.coalesce(F.col("mass"), F.lit(0.0)) + F.col("dmass") / n_nodes)
                ).alias("rank"),
            )
            .transform(materialize)
        )
    return ranks


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH RECURSIVE {_ORACLE_SHINGLES},
    {_ORACLE_BANDS},
    {_ORACLE_PAIR_CTES},
    tri AS (
        SELECT e1.doc_id_a AS a, e1.doc_id_b AS b, e2.doc_id_b AS c
        FROM lsh_pairs e1
        JOIN lsh_pairs e2 ON e2.doc_id_a = e1.doc_id_b
        JOIN lsh_pairs e3 ON e3.doc_id_a = e1.doc_id_a
                         AND e3.doc_id_b = e2.doc_id_b
    ),
    members AS (
        SELECT a AS doc_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT doc_id, COUNT(*) AS n_triangles
    FROM members GROUP BY doc_id
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle participation in the near-duplicate graph —
    the local-density signal that separates tight boilerplate cliques
    (every pair similar → many triangles) from chain-shaped false-positive
    paths (a~b~c but not a~c → none). Classic oriented triangle counting:
    with edges stored a<b, each triangle a<b<c is found exactly once by
    two key-partitioned joins — never an n² expansion; at 100 TB this is
    the standard two-shuffle triangle enumeration whose cost tracks
    Σ deg², controlled here by the LSH bucket bound on pair generation.
    """
    from csv_parquet_s3_spark.operators.dedup import dedup_minhash_lsh_pairs

    # materialize once: the edge list feeds THREE self-join branches, and
    # without a checkpoint each branch replays the whole shingle→signature→
    # band pipeline (observed: 19-exchange plan; with it: the 2 triangle
    # joins only).
    pairs = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .select("doc_id_a", "doc_id_b")
        .transform(materialize)
    )
    e1 = pairs.select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
    e2 = pairs.select(F.col("doc_id_a").alias("b2"), F.col("doc_id_b").alias("c2"))
    e3 = pairs.select(F.col("doc_id_a").alias("a3"), F.col("doc_id_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c2") == F.col("c3")))
        .select("a", "b", F.col("c2").alias("c"))
    )
    # All three members emit from ONE pass over tri (map-side explode) —
    # a three-leg union references tri three times and replays the two
    # triangle joins per leg (6 sort-merge joins in a plan audit).
    members = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("doc_id")
    )
    return members.groupBy("doc_id").agg(F.count("*").alias("n_triangles"))


# ---------------------------------------------------------------------------
# k-core decomposition of the near-dup graph: iterative peeling.
# ---------------------------------------------------------------------------
KCORE_K = 2  # minimum within-core degree
KCORE_ITERS = 5  # peeling rounds; converged when a round removes nothing


def _kcore_oracle() -> str:
    """Unrolled-iteration oracle (house style, cf. ``_pagerank_oracle``):
    a0 = all nodes of the symmetrized LSH pair graph, a{t} = nodes whose
    degree within a{t-1} is >= K."""
    its = []
    for t in range(1, KCORE_ITERS + 1):
        p = f"a{t - 1}"
        its.append(f"""
    a{t} AS (
        SELECT e.src AS node, COUNT(*) AS deg
        FROM edges e
        JOIN {p} s ON s.node = e.src
        JOIN {p} d ON d.node = e.dst
        GROUP BY e.src
        HAVING COUNT(*) >= {KCORE_K}
    )""")
    return (
        f"""
    WITH RECURSIVE {_ORACLE_SHINGLES},
    {_ORACLE_BANDS},
    {_ORACLE_PAIR_CTES},
    edges AS MATERIALIZED (
        SELECT doc_id_a AS src, doc_id_b AS dst FROM lsh_pairs
        UNION ALL
        SELECT doc_id_b AS src, doc_id_a AS dst FROM lsh_pairs
    ),
    a0 AS (SELECT DISTINCT src AS node FROM edges),"""
        + ",".join(its)
        + f"""
    SELECT node AS doc_id, CAST(deg AS INT) AS core_degree
    FROM a{KCORE_ITERS}
    """
    )


@register("graph_kcore_docs", oracle=_kcore_oracle())
def graph_kcore_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core of the MinHash-LSH near-dup graph by iterative
    peeling: repeatedly drop documents with fewer than K near-dup neighbors
    among the survivors. What remains after peeling converges is the densely
    templated heart of the corpus — boilerplate farms and mirror clusters
    that pairwise dedup under-counts (a chain of pairs is not a dense core;
    triangle counting finds 3-cliques, the k-core finds arbitrarily shaped
    dense regions).

    Scale shape: the graph is pair-set-sized (post-LSH, never n²); each
    peel round is one self-semi-join + keyed count on the SHRINKING alive
    set, localCheckpointed so round k never replays rounds 1..k-1 — same
    iterative discipline as ``pagerank`` and ``connected_components``.
    """
    pairs = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .select("doc_id_a", "doc_id_b")
        .transform(materialize)
    )
    edges = pairs.unionAll(
        pairs.select(
            F.col("doc_id_b").alias("doc_id_a"), F.col("doc_id_a").alias("doc_id_b")
        )
    ).select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
    alive = edges.select(F.col("src").alias("node")).distinct()
    deg = None
    for _ in range(KCORE_ITERS):
        deg = (
            edges.join(alive, edges.src == alive.node, "left_semi")
            .join(
                alive.select(F.col("node").alias("dnode")),
                edges.dst == F.col("dnode"),
                "left_semi",
            )
            .groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .transform(materialize)
        )
        alive = deg.select(F.col("src").alias("node"))
    return deg.select(
        F.col("src").alias("doc_id"), F.col("deg").cast("int").alias("core_degree")
    )


# ---------------------------------------------------------------------------
# Common-neighbor link prediction on the near-dup graph: score NON-adjacent
# document pairs by how many near-dup neighbors they share. High scorers are
# duplicates the pairwise LSH pass missed (banding is probabilistic) — the
# cheap recall-repair step before transitive clustering commits clusters.
# ---------------------------------------------------------------------------
def _common_neighbors_oracle() -> str:
    return f"""
    WITH RECURSIVE {_ORACLE_SHINGLES},
    {_ORACLE_BANDS},
    {_ORACLE_PAIR_CTES},
    edges AS MATERIALIZED (
        SELECT doc_id_a AS src, doc_id_b AS dst FROM lsh_pairs
        UNION ALL
        SELECT doc_id_b AS src, doc_id_a AS dst FROM lsh_pairs
    ),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    cn AS (
        SELECT e1.src AS a, e2.src AS b, COUNT(*) AS common
        FROM edges e1 JOIN edges e2
          ON e1.dst = e2.dst AND e1.src < e2.src
        GROUP BY e1.src, e2.src
    ),
    flagged AS (
        SELECT cn.a, cn.b, cn.common,
               EXISTS (SELECT 1 FROM lsh_pairs p
                       WHERE p.doc_id_a = cn.a AND p.doc_id_b = cn.b)
                   AS is_adjacent
        FROM cn
    )
    SELECT t.a AS doc_id_a, t.b AS doc_id_b,
           CAST(t.common AS INT) AS common_neighbors,
           CAST(ROUND(CAST(t.common AS DOUBLE)
                      / (da.deg + db.deg - t.common), 6) AS DOUBLE)
               AS neighbor_jaccard,
           t.is_adjacent
    FROM flagged t
    JOIN deg da ON da.node = t.a
    JOIN deg db ON db.node = t.b
    """


@register("graph_common_neighbors", oracle=_common_neighbors_oracle())
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the MinHash-LSH near-dup graph: for every
    pair with at least one shared neighbor, the shared-neighbor count,
    neighbor-set Jaccard (|Γa∩Γb| / |Γa∪Γb|), and whether the pair is
    already an edge. The non-adjacent rows (is_adjacent = false) are the
    prediction targets; adjacent rows double as edge-strength scores
    (embeddedness) for cluster-splitting QA. The LSH
    band join has false-negative probability (1-s^r)^b per pair; pairs
    both similar to a third document are exactly where those misses
    concentrate, so this is the recall-repair candidate list a dedup
    pipeline re-verifies with exact Jaccard before clustering.

    Scale shape: one self-join of the symmetrized edge list keyed by the
    shared endpoint (cost Σ deg² — bounded by the LSH bucket cap, same
    envelope as triangle counting), one left join back against the edge
    list for the adjacency flag, two degree lookups. No n²
    expansion at any stage; edges materialize once via localCheckpoint so
    the three consumers don't each replay the shingle→signature pipeline.
    """
    from csv_parquet_s3_spark.operators.dedup import dedup_minhash_lsh_pairs

    pairs = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .select("doc_id_a", "doc_id_b")
        .transform(materialize)
    )
    edges = pairs.select(
        F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    e1 = edges.select(F.col("src").alias("a"), "dst")
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("dst2"))
    cn = (
        e1.join(e2, (F.col("dst") == F.col("dst2")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    adj = pairs.select(
        F.col("doc_id_a").alias("a"),
        F.col("doc_id_b").alias("b"),
        F.lit(True).alias("is_adjacent"),
    )
    flagged = cn.join(adj, ["a", "b"], "left").withColumn(
        "is_adjacent", F.coalesce("is_adjacent", F.lit(False))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    return (
        flagged.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("doc_id_a"),
            F.col("b").alias("doc_id_b"),
            F.col("common").cast("int").alias("common_neighbors"),
            F.round(
                F.col("common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")),
                6,
            )
            .cast("double")
            .alias("neighbor_jaccard"),
            "is_adjacent",
        )
    )


LPA_ROUNDS = 3


def _label_propagation_oracle(rounds: int = LPA_ROUNDS) -> str:
    """Unrolled synchronous LPA replay: labels are exact integers and the
    per-round argmax is (count DESC, label ASC) — no FP anywhere, so the
    replay is bit-exact."""
    parts = [
        f"""
    WITH RECURSIVE {_ORACLE_SHINGLES},
    {_ORACLE_BANDS},
    {_ORACLE_PAIR_CTES},
    edges AS MATERIALIZED (
        SELECT doc_id_a AS src, doc_id_b AS dst FROM lsh_pairs
        UNION ALL
        SELECT doc_id_b AS src, doc_id_a AS dst FROM lsh_pairs
    ),
    lab0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""
    lab{r} AS (
        SELECT node, lbl FROM (
            SELECT e.src AS node, l.lbl,
                   ROW_NUMBER() OVER (PARTITION BY e.src
                                      ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
            FROM edges e JOIN lab{r - 1} l ON l.node = e.dst
            GROUP BY e.src, l.lbl
        ) t WHERE rn = 1
    )""")
    return (
        ",".join(parts)
        + f""",
    comm_sizes AS (SELECT lbl, COUNT(*) AS n FROM lab{rounds} GROUP BY lbl)
    SELECT f.node AS doc_id, f.lbl AS community,
           CAST(s.n AS INT) AS community_size
    FROM lab{rounds} f JOIN comm_sizes s ON s.lbl = f.lbl
    """
    )


@register("graph_label_propagation", oracle=_label_propagation_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the MinHash-LSH near-dup graph by synchronous
    label propagation (Raghavan et al. 2007, the deterministic variant):
    every vertex starts as its own label; each round it adopts the most
    frequent label among its NEIGHBORS, ties broken by smallest label; a
    fixed {LPA_ROUNDS} rounds keeps the output deterministic and
    oracle-replayable (async LPA's update order is not). Communities are
    denser than connected components (`dedup_cluster_components` merges
    anything transitively linked; LPA keeps weakly-bridged boilerplate
    families apart) — the grouping a template-dedup pass actually wants.

    Scale shape: each round is one |edges|-shuffle join of the label table
    against the symmetrized edge list + a (node,label) count + a per-node
    argmax — expressed as two partial-aggregated groupBys (max over a
    (count, -label) struct), NO per-node window, so every stage map-side
    combines. Labels materialize per round (`materialize`) to truncate the
    iterative lineage, same discipline as PageRank/k-core. The final
    community-size join shuffles a communities-sized table.
    """
    from csv_parquet_s3_spark.operators.dedup import dedup_minhash_lsh_pairs

    pairs = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .select("doc_id_a", "doc_id_b")
        .transform(materialize)
    )
    edges = (
        pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
        .unionAll(
            pairs.select(
                F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst")
            )
        )
        .transform(materialize)
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    for _ in range(LPA_ROUNDS):
        counts = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src"), F.col("lbl"))
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            counts.groupBy("src")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("lbl")).alias("neg"))).alias("m"))
            .select(F.col("src").alias("node"), (-F.col("m.neg")).alias("lbl"))
            .transform(materialize)
        )
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("n"))
    return labels.join(sizes, "lbl").select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("community"),
        F.col("n").cast("int").alias("community_size"),
    )
