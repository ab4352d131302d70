"""Distributed graph analytics over relation-encoded edge lists.

Companions to the iterative graph ops elsewhere in the engine
(connected-components min-label propagation in operators/dedup.py,
plan-side pagerank in operators/aggregations.py). No reference analog;
declared-new per SURVEY §2.8b.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def canonical_edges(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Undirected edge canonicalization: drop self-loops, order each
    endpoint pair as (lo, hi), dedup. One shuffle (the distinct)."""
    s, d = F.col(src_col), F.col(dst_col)
    # Materialized (per-invocation localCheckpoint): every consumer —
    # degree tables, wedge joins, orientation, anti-joins, per-round
    # frontiers — references the canonical edge set several times, and
    # un-materialized each reference re-expands the caller's full
    # upstream edge-derivation pipeline (round-11 measured: the events
    # scan + distinct re-ran 3-6x per graph query). The canonical edge
    # set IS the graph — materializing it once is the GraphX-style
    # substrate discipline at any scale; nothing is reused across
    # invocations.
    return (
        edges.filter(s != d)
        .select(
            F.least(s, d).alias("lo"),
            F.greatest(s, d).alias("hi"),
        )
        .distinct()
        .localCheckpoint()
    )


def triangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle participation counts via degree-ordered edge
    orientation — the classic communication-optimal formulation: orient
    every undirected edge from the endpoint with smaller (degree, id)
    to the larger, so each wedge and each triangle is generated exactly
    once and the wedge self-join fans out by the oriented OUT-degree,
    which degree ordering bounds by O(√m) even on power-law graphs
    (the hub that would explode a naive neighbor join has huge
    in-degree but tiny out-degree).

    Plan shape: canonicalize (1 shuffle) → degree groupBy (1 shuffle)
    → two equi-joins (wedge build on the low endpoint, wedge close on
    the (v,w) pair). Returns (node, n_triangles) for every node in at
    least one triangle; union-aggregate over the three corners of each
    closed wedge.
    """
    und = canonical_edges(edges, src_col, dst_col)
    # degree over the undirected canonical edges
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionAll(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    dl = deg.select(
        F.col("node").alias("lo"), F.col("deg").alias("_dlo")
    )
    dh = deg.select(
        F.col("node").alias("hi"), F.col("deg").alias("_dhi")
    )
    with_deg = und.join(dl, "lo").join(dh, "hi")
    # orient by (degree, id): u -> v iff (deg(u), u) < (deg(v), v)
    u_first = (F.col("_dlo") < F.col("_dhi")) | (
        (F.col("_dlo") == F.col("_dhi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = with_deg.select(
        F.when(u_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
        F.when(u_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
    ).localCheckpoint()  # feeds both wedge sides AND the closing join
    e1 = oriented.select(F.col("u"), F.col("v"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("w"))
    # each wedge (v, w) out of u is generated once with v != w; the
    # closing edge is oriented too, so one more equi-join finds it
    wedges = e1.join(e2, "u").filter(F.col("v") != F.col("w"))
    close = oriented.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    )
    tri = wedges.join(close, ["v", "w"])
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def random_walks(
    edges: DataFrame,
    n_steps: int = 4,
    max_degree: int | None = None,
) -> DataFrame:
    """Deterministic uniform random-walk corpus generation — the
    node2vec/DeepWalk data-prep step: one walk of ``n_steps`` hops from
    every node, each hop choosing a neighbor by the engine's portable
    md5 hash of (walk start, step), so the corpus is bit-reproducible
    (and oracle-replayable) with no RNG state to ship.

    Plan shape: adjacency materializes ONCE as sorted neighbor arrays
    (one groupBy); each hop is then one equi-join of the walk frontier
    against that adjacency — n_steps bounded joins total, never an
    explode of the neighborhood. On power-law graphs a hub's array is
    its degree; pass ``max_degree`` to clip adjacency lists (keeping
    the id-lowest neighbors — still deterministic) so no single row
    exceeds memory — the standard degree-cap every production walker
    applies.

    Emits (start, path, end) with path as '->'-joined node ids; walks
    from isolated nodes don't exist (no neighbors to hop to)."""
    und = canonical_edges(edges)
    both = und.select(
        F.col("lo").alias("node"), F.col("hi").alias("nbr")
    ).unionAll(und.select(F.col("hi").alias("node"), F.col("lo").alias("nbr")))
    adj = both.groupBy("node").agg(
        F.array_sort(F.collect_list("nbr")).alias("nbrs")
    )
    if max_degree is not None:
        adj = adj.select(
            "node", F.slice(F.col("nbrs"), 1, max_degree).alias("nbrs")
        )
    # one reference per hop: materialize the adjacency once instead of
    # re-running the groupBy n_steps times (round-11 opt)
    adj = adj.localCheckpoint()
    walks = adj.select(
        F.col("node").alias("start"),
        F.col("node").alias("cur"),
        F.col("node").cast("string").alias("path"),
    )
    for s in range(1, n_steps + 1):
        step = walks.join(adj, walks["cur"] == adj["node"])
        idx = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col("start").cast("string"), F.lit(str(s))
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("int")
            % F.size(F.col("nbrs"))
        )
        nxt = F.get(F.col("nbrs"), idx)
        walks = step.select(
            "start",
            nxt.alias("cur"),
            F.concat(F.col("path"), F.lit("->"), nxt.cast("string")).alias(
                "path"
            ),
        )
    return walks.select("start", "path", F.col("cur").alias("end"))


def common_neighbor_link_scores(
    edges: DataFrame,
    top_k: int = 10,
    max_hub_degree: int | None = None,
) -> DataFrame:
    """Jaccard common-neighbor link prediction over an undirected
    graph: for every NON-adjacent pair (u, v) sharing at least one
    neighbor, score = |Γ(u) ∩ Γ(v)| / |Γ(u) ∪ Γ(v)|, emit the top_k
    by (score, common-count, pair id) with a deterministic total
    order.

    Plan: canonicalize edges (1 shuffle) → symmetric adjacency →
    wedge self-join on the shared middle node w (fan-out deg(w)² —
    the honest scale bound; on power-law graphs pass
    ``max_hub_degree`` to drop super-hub middles, the standard
    candidate-capping trade of recall for a bounded join, mirroring
    minhash_lsh's ``max_shingle_df``) → anti-join against the edge
    set → degree lookups. Every join is an equi-join on node ids;
    the score is an exact ratio of integers, so cross-engine ordering
    is bit-stable."""
    und = canonical_edges(edges)
    adj = und.select(
        F.col("lo").alias("a"), F.col("hi").alias("b")
    ).unionAll(und.select(F.col("hi").alias("a"), F.col("lo").alias("b")))
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    mid = adj.select(F.col("b").alias("w"), F.col("a").alias("u"))
    if max_hub_degree is not None:
        keep = deg.filter(F.col("deg") <= max_hub_degree).select(
            F.col("node").alias("w")
        )
        mid = mid.join(F.broadcast(keep), "w")
    left = mid.select("w", F.col("u").alias("u"))
    right = mid.select("w", F.col("u").alias("v"))
    wedges = left.join(right, "w").filter(F.col("u") < F.col("v"))
    cn = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    non_adj = cn.join(
        und,
        (cn["u"] == und["lo"]) & (cn["v"] == und["hi"]),
        "left_anti",
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    scored = (
        non_adj.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "n_common",
            "deg_u",
            "deg_v",
            F.try_divide(
                F.col("n_common").cast("double"),
                (F.col("deg_u") + F.col("deg_v") - F.col("n_common")).cast(
                    "double"
                ),
            ).alias("_j"),
        )
    )
    from pyspark.sql import Window as W

    w = W.orderBy(
        F.col("_j").desc(),
        F.col("n_common").desc(),
        F.col("u"),
        F.col("v"),
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("rank").cast("long").alias("rank"),
            F.col("u").cast("long").alias("u"),
            F.col("v").cast("long").alias("v"),
            F.col("n_common").cast("long").alias("n_common"),
            F.col("deg_u").cast("long").alias("deg_u"),
            F.col("deg_v").cast("long").alias("deg_v"),
            F.round(F.col("_j"), 6).alias("jaccard"),
        )
    )


def kcore_peel_stats(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 3,
) -> DataFrame:
    """Fixed-round k-core peeling audit: repeatedly drop nodes with
    degree < k and the edges touching them, reporting (round, n_nodes,
    n_edges) for the initial graph and after each peel — the
    community-density readout (and the fixed-iteration twin of the
    pagerank/connected-components discipline: bounded rounds, one
    degree groupBy + one semi-join pair per round, lineage kept
    shallow by construction rather than by checkpointing).

    After ``rounds`` peels the counts upper-bound the true k-core; on
    graphs whose peeling converges faster (most real ones for small
    k), round ``rounds`` IS the k-core. All outputs are integer
    counts — engine-exact."""
    e = edges.select(
        F.col("lo").alias("lo"), F.col("hi").alias("hi")
    )
    out_rows = []
    cur = e
    for r in range(rounds + 1):
        nodes = cur.select(F.col("lo").alias("node")).unionAll(
            cur.select(F.col("hi").alias("node"))
        )
        deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
        summary = cur.groupBy().agg(
            F.count(F.lit(1)).alias("n_edges")
        ).crossJoin(
            deg.groupBy().agg(F.count(F.lit(1)).alias("n_nodes"))
        ).select(F.lit(r).cast("long").alias("round"), "n_nodes", "n_edges")
        out_rows.append(summary)
        if r < rounds:
            keep = deg.filter(F.col("deg") >= k).select("node")
            cur = (
                cur.join(
                    keep.withColumnRenamed("node", "lo"), "lo", "left_semi"
                ).join(
                    keep.withColumnRenamed("node", "hi"), "hi", "left_semi"
                )
            )
            # cut lineage every round: the per-round stats rows each
            # re-evaluate their own depth of the peel otherwise
            # (measured at sf0.1: 16.98s plain / 6.63s cache-the-edges
            # / 2.21s cache-rounds / 0.52s THIS). One partition suits
            # the audit's hashed/sampled graphs; the lineage cut is the
            # part that matters at every scale.
            cur = cur.coalesce(1).localCheckpoint()
    res = out_rows[0]
    for s in out_rows[1:]:
        res = res.unionByName(s)
    return res


def adamic_adar_link_scores(
    edges: DataFrame,
    top_k: int = 10,
    max_hub_degree: int | None = None,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected graph: for every
    non-adjacent pair sharing >= 1 neighbor, score = sum over common
    neighbors w of 1/ln(deg(w)) — down-weighting hub-mediated
    wedges, the standard upgrade over raw common-neighbor counts.

    Same bucketed wedge shape as common_neighbor_link_scores (equi-
    joins only; ``max_hub_degree`` caps the deg(w)^2 fan-out on
    power-law graphs). Engine determinism: each middle node's weight
    is floor-quantized ONCE to integer micro-units (deg >= 2 inside a
    wedge, so ln > 0), and pair scores are exact BIGINT sums of those
    — ordering can never disagree across engines."""
    und = canonical_edges(edges)
    adj = und.select(
        F.col("lo").alias("a"), F.col("hi").alias("b")
    ).unionAll(und.select(F.col("hi").alias("a"), F.col("lo").alias("b")))
    deg = adj.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # deg-1 middles can't form a wedge; filtering them first also
    # keeps the 1/ln(deg) weight away from ln(1)=0 (ANSI divide-by-0)
    wgt = deg.filter(F.col("deg") >= 2).selectExpr(
        "node AS w",
        "deg",
        "CAST(floor(1000000.0 / ln(CAST(deg AS DOUBLE))) AS BIGINT)"
        " AS q",
    )
    if max_hub_degree is not None:
        wgt = wgt.filter(F.col("deg") <= max_hub_degree)
    mid = adj.select(F.col("b").alias("w"), F.col("a").alias("u")).join(
        F.broadcast(wgt.select("w", "q")), "w"
    )
    left = mid.select("w", "q", F.col("u").alias("u"))
    right = mid.select("w", F.col("u").alias("v"))
    wedges = left.join(right, "w").filter(F.col("u") < F.col("v"))
    cn = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("q").cast("long").alias("aa_micro"),
    )
    non_adj = cn.join(
        und,
        (cn["u"] == und["lo"]) & (cn["v"] == und["hi"]),
        "left_anti",
    )
    from pyspark.sql import Window as W

    w = W.orderBy(
        F.col("aa_micro").desc(), F.col("u"), F.col("v")
    )
    return (
        non_adj.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .selectExpr(
            "CAST(rank AS BIGINT) AS rank",
            "CAST(u AS BIGINT) AS u",
            "CAST(v AS BIGINT) AS v",
            "n_common",
            "aa_micro",
            "round(CAST(aa_micro AS DOUBLE) / 1000000.0, 6) AS aa_score",
        )
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Synchronous label propagation (fixed ``rounds`` sweeps): every
    node starts labeled with its own id; each sweep it adopts the most
    frequent label among its neighbors, ties broken by the SMALLEST
    label — fully deterministic, so both engines converge identically
    (asynchronous LPA's order-dependence is exactly what this avoids).

    Returns (node, label) after the final sweep. One equi-join + one
    group-by + one per-node rank per sweep; lineage depth is
    ``rounds`` (bounded; for rounds > ~6 interleave localCheckpoint
    per the pagerank/kcore lesson)."""
    und = canonical_edges(edges)
    adj = und.select(
        F.col("lo").alias("a"), F.col("hi").alias("b")
    ).unionAll(und.select(F.col("hi").alias("a"), F.col("lo").alias("b")))
    # adj is referenced every sweep — materialize once (round-11 opt)
    adj = adj.localCheckpoint()
    lab = adj.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    from pyspark.sql import Window as W

    for _ in range(rounds):
        nb = adj.join(
            lab.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "lab")
        cnt = nb.groupBy("node", "lab").agg(F.count(F.lit(1)).alias("c"))
        rk = F.row_number().over(
            W.partitionBy("node").orderBy(F.col("c").desc(), "lab")
        )
        lab = cnt.withColumn("rk", rk).filter(F.col("rk") == 1).select(
            "node", "lab"
        )
    return lab
