"""Iterative graph analytics as driver-loop DataFrame compositions.

PageRank here is the template for EVERY iterative algorithm on this
engine (label propagation, connected components, k-means): a driver
loop over a joined-and-aggregated DataFrame. Rounds whose plan grows
LINEARLY (ranks referenced once per round) chain lazily and run as one
job, with a periodic plan-truncating cut bounding optimizer depth;
rounds that reference the previous frame more than once (label
propagation) keep a per-round materialize_round cut, since their plan
would double per iteration (r14 adjudication). Each iteration is
one shuffle (contributions grouped by destination); the edge list
with out-degrees is built once and reused.

The arithmetic is INTEGER micro-probability mass: ranks start at
1_000_000, each round v gets base 150_000 plus
(pr(u) * 85) div (deg(u) * 100) from every in-neighbor. Integer
division makes every iteration deterministic on any partitioning and
replayable in plain SQL (the oracle unrolls the same rounds as chained
CTEs) — no float summation order anywhere. The div-truncation "loses"
a little mass each round, identically in both engines; convergence
behavior is the standard damped fixed point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from advanced_real_time_data_pipeline_and_analytical_processing_spark.plans.materialize import (
    durable_mode,
    materialize_round,
    persist_on_key,
    release,
)

# PageRank in micro-probability mass, shared by the driver loop and its
# SQL mirror: ITERS rounds from INIT, each v gets BASE plus
# (pr(u) * DAMP_NUM) div (deg(u) * DAMP_DEN) from every in-neighbor
ITERS = 5
BASE = 150_000
DAMP_NUM = 85
DAMP_DEN = 100
INIT = 1_000_000
# BFS rounds, shared by bfs_min_dist and bfs_oracle_sql
MAX_DEPTH = 3


def cooccurrence_edges(cells: DataFrame) -> DataFrame:
    """Undirected co-occurrence edge list (u, v with u < v) from
    (user_id, _cell) membership rows: one edge per user pair sharing a
    cell.

    The naive self-join is |cell|² per cell — at 100 TB one viral cell
    with 10⁵ members is 10¹⁰ pairs from a single key. A cap bounds
    that: each cell keeps only its 64 smallest ids (deterministic
    row_number, so any oracle can mirror the exact construction),
    giving a worst-case fan-out of 64·63/2 = 2016 pairs per cell,
    independent of how hot the cell is. The row_number ranking is one
    window sort partitioned by cell (same shuffle key the join needs
    anyway).
    """
    cells = cells.select("user_id", "_cell").distinct()
    w = Window.partitionBy("_cell").orderBy(F.col("user_id").asc())
    cells = (
        cells.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 64)
        .drop("_rn")
    )
    a, b = cells.alias("a"), cells.alias("b")
    return (
        a.join(
            b,
            (F.col("a._cell") == F.col("b._cell"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )


def pagerank_micro(edges: DataFrame) -> DataFrame:
    """(node, pr_micro) after ITERS rounds over an UNDIRECTED edge
    list (u, v) — each edge contributes in both directions. Nodes are
    those incident to an edge (an isolated node never exchanges mass).
    """
    dir_edges = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = dir_edges.groupBy("u").agg(F.count(F.lit(1)).alias("_d"))
    # (src, dst, src_degree) built once, reused every round — persisted
    # HASH-PARTITIONED ON THE JOIN KEY rather than localCheckpoint'ed:
    # localCheckpoint scans report UNKNOWN partitioning, so every round
    # would re-Exchange the |E|-row edge frame; InMemoryRelation
    # preserves outputPartitioning, so the per-round join only shuffles
    # the |V|-row rank side. Locally AQE broadcasts the small rank
    # table either way (A/B at sf1.0: identical checksums, equal time);
    # at cluster scale where ranks exceed the broadcast threshold this
    # removes ITERS× full-edge shuffles. persist keeps lineage, so a
    # lost executor recomputes the shallow join instead of failing.
    ed = persist_on_key(dir_edges.join(deg, "u"), "u")
    ranks = deg.select("u", F.lit(INIT).cast("bigint").alias("pr"))
    prev = None  # previous round's materialized frame, released per round
    for i in range(ITERS):
        contrib = (
            ed.join(ranks, "u")
            .select(
                F.col("v").alias("u"),
                F.expr(f"(pr * {DAMP_NUM}) div (_d * {DAMP_DEN})").alias("_c"),
            )
            .groupBy("u")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = contrib.select(
            "u", (F.lit(BASE).cast("bigint") + F.col("_in")).alias("pr")
        )
        # r14 OPTIMIZATION: unlike the label-propagation loop (previous
        # round on BOTH sides of its join -> plan doubles per round),
        # ranks appears exactly ONCE per round, so the un-materialized
        # plan is a LINEAR chain of depth ITERS — no blow-up to cut. In
        # non-durable mode let the whole chain run as ONE job (all
        # rounds pipeline through AQE; no per-round barrier job, no
        # per-round RDD scan with unknown stats); a barrier every 8
        # rounds still bounds optimizer/codegen depth for more rounds.
        # Durable mode keeps the per-round reliable checkpoint —
        # executor churn there must not replay the whole chain.
        # Measured (sf0.1 solo medians of 5): user_pagerank 4.27 ->
        # 3.46 s, identical result hash.
        if durable_mode() or (i + 1) % 8 == 0:
            ranks = ranks.transform(materialize_round)
            release(prev)
            prev = ranks
    # durable mode: final ranks came out of a reliable checkpoint, so
    # the loop-invariant edge frame can be dropped (release is a no-op
    # non-durably, where ranks is a lazy chain that still reads ed —
    # the caller/bench clearCache()s when done, see materialize.release)
    release(ed)
    return ranks.select(F.col("u").alias("node"), F.col("pr").alias("pr_micro"))


def pagerank_oracle_sql(edges_sql: str) -> str:
    """The identical computation as ITERS chained CTE rounds (no
    recursive CTE needed — unrolled, like the engine's driver loop).
    ``edges_sql`` must yield columns (u, v), one row per undirected
    edge."""
    parts = [
        f"WITH edges AS ({edges_sql})",
        "dir_e AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges)",
        "deg AS (SELECT u, count(*) AS d FROM dir_e GROUP BY u)",
        f"pr0 AS (SELECT u, CAST({INIT} AS BIGINT) AS pr FROM deg)",
    ]
    for i in range(ITERS):
        parts.append(
            f"""pr{i + 1} AS (
                SELECT e.v AS u,
                       {BASE} + sum((p.pr * {DAMP_NUM}) // (d.d * {DAMP_DEN})) AS pr
                FROM pr{i} p
                JOIN dir_e e ON p.u = e.u
                JOIN deg d ON p.u = d.u
                GROUP BY e.v
            )"""
        )
    return (
        ", ".join(parts)
        + f" SELECT u AS node, pr AS pr_micro FROM pr{ITERS}"
    )


def bfs_min_dist(edges: DataFrame) -> DataFrame:
    """(node, dist) — minimum hop distance from the seed node (the
    globally smallest node id, which always appears in column u of the
    u<v edge list) over the UNDIRECTED edges, up to MAX_DEPTH hops.

    Same driver-loop shape as :func:`pagerank_micro`: each round is one
    frontier-expand join + an anti-join against the visited set (both
    shuffles on node id), with localCheckpoint cutting lineage so round
    N's plan doesn't replay rounds 1..N-1. Distances are exact integers
    by construction — BFS level order IS the minimum distance, no
    floats anywhere. At 100 TB the frontier/visited sets shuffle on an
    unbounded key; rounds are O(diameter-bounded)."""
    dir_e = persist_on_key(
        edges.select("u", "v").union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ),
        "u",
    )
    visited = dir_e.agg(F.min("u").alias("node")).select(
        "node", F.lit(0).cast("bigint").alias("dist")
    )
    frontier = visited.select("node")
    prev_visited = None  # released once the round's successors are durable
    prev_nxt = None
    for d in range(1, MAX_DEPTH + 1):
        nxt = (
            frontier.join(dir_e, frontier.node == dir_e.u)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(d).cast("bigint").alias("dist"))
            .transform(materialize_round)
        )
        # r15 RE-ADJUDICATION (reverts the r14 lazy-visited variant):
        # r14 replaced the per-round materialize_round barriers with
        # materialize(nxt) + a lazy visited union, claiming 6.43 ->
        # 4.28 s — but its "before" arm was measured inside a hostile
        # host window. Against the calm r13 floor (1.92 s) the lazy
        # variant is a ~1.5x REGRESSION: interleaved A/B on a calm box
        # (3 rounds x 3 in-JVM reps, pre-r14 tree db73fb1 vs r14 tree)
        # measured old medians 2.74/2.85/3.69 s vs new 4.34/4.62/4.66 s,
        # identical results. Unlike pagerank (ranks referenced ONCE per
        # round -> linear lazy chain, r14 win confirmed on calm A/B and
        # kept), nxt here embeds the previous visited on its anti-join
        # side, so the lazy plan GROWS superlinearly and per-round AQE
        # replanning of the ever-deeper persisted chain costs more than
        # the two eager localCheckpoint barriers it saved. Per-round
        # materialize_round (localCheckpoint non-durable, reliable
        # checkpoint durable) restored — round N's plan never replays
        # rounds 1..N-1.
        new_visited = visited.union(nxt).transform(materialize_round)
        release(prev_visited)
        release(prev_nxt)
        prev_visited, prev_nxt = new_visited, nxt
        visited = new_visited
        frontier = nxt.select("node")
    release(dir_e)  # final visited is checkpointed; edges no longer needed
    return visited


def bfs_oracle_sql(edges_sql: str) -> str:
    """The identical BFS as unrolled CTE rounds (mirrors the driver
    loop exactly — one frontier CTE and one visited CTE per depth).
    ``edges_sql`` must yield (u, v) undirected edges with u < v."""
    parts = [
        f"WITH edges AS ({edges_sql})",
        "dir_e AS (SELECT u, v FROM edges "
        "UNION ALL SELECT v AS u, u AS v FROM edges)",
        "f0 AS (SELECT min(u) AS node FROM dir_e)",
        "v0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM f0)",
    ]
    for d in range(1, MAX_DEPTH + 1):
        parts.append(
            f"""f{d} AS (
                SELECT DISTINCT e.v AS node
                FROM f{d - 1} f JOIN dir_e e ON e.u = f.node
                WHERE e.v NOT IN (SELECT node FROM v{d - 1})
            )"""
        )
        parts.append(
            f"v{d} AS (SELECT node, dist FROM v{d - 1} "
            f"UNION ALL SELECT node, CAST({d} AS BIGINT) AS dist FROM f{d})"
        )
    return ", ".join(parts) + f" SELECT node, dist FROM v{MAX_DEPTH}"
