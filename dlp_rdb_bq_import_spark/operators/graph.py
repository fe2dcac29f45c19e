"""Distributed graph operators over an edge DataFrame: PageRank
(global and personalized), HITS, triangle counting, k-core, label
propagation, BFS/SSSP and connected components — the domain/source
quality signals a web-scale crawl-curation pipeline ranks and prunes
with (public algorithms: Page et al. 1999, Suri & Vassilvitskii 2011,
Batagelj & Zaveršnik 2003; no reference counterpart — the reference
has no graph surface).

Six of them are dual-path: pagerank, personalized_pagerank, hits,
kcore, label_propagation and connected_components count their
materialized edge table, and ``_driver_edges`` hands the endpoint
count to the package's one driver-or-distributed rule
(``operators.driver_payload``). A graph within the bound runs as one
collect plus a numpy loop on the driver — the distributed loop pays a
fixed scheduler round-trip per round whatever the size — and a larger
one runs the Spark loop described below. Both branches compute the
same recurrence.

Spark-first shape: each power iteration is one shuffle — contributions
grouped by destination — plus a broadcast-able join against the
out-degree table computed once up front. Dangling mass (nodes with no
out-edges) is redistributed uniformly each iteration via a single-row
aggregate, so ranks sum to 1 exactly like the textbook formulation.
``localCheckpoint`` after every iteration cuts the lineage chain (the
same discipline as the star-contraction rounds of
``connected_components``) — without it, iteration k replans k stacked
shuffles and the job dies long before convergence at any scale.

At 100 TB the iteration cost is dominated by the contributions shuffle
(|E| rows hashed by dst); skewed in-degree (every web graph) is AQE
skew-split territory, and the rank/degree tables stay |V|-sized.

Edge tables are staged ONCE per iterative operator with
``_stage_edges``: repartitioned on the per-round join key and pinned
(MEMORY_AND_DISK — the cached plan's hash partitioning survives AQE,
unlike localCheckpoint, whose adaptive root reports unknown
partitioning). Every round's rank↔edge join then reuses the edge
partitioning and shuffles only the |V|-sized score table — without
this, k iterations re-shuffle |E| k times, which at 100 TB of edges ×
20 rounds is 20 full-corpus shuffles for nothing.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import driver_payload, local_rows_df


# Above this many nodes the per-round score table stops being a safe
# broadcast build (hundreds of MB at ~30-50 B/row) and the staged edge
# partitioning carries the join instead. A measured-cardinality switch,
# not a guess: every caller counts |V| anyway.
_BROADCAST_NODE_BOUND = 5_000_000

# Edge tables above this stage as a sorted co-partitioned cache; at or
# below it a plain eager checkpoint wins. Coherence with the node
# bound: an unstaged graph has |V| ≤ 2·|E| ≤ _BROADCAST_NODE_BOUND, so
# whenever the edge table skips staging the score side is GUARANTEED
# to ride the broadcast path — no regime exists where both the edge
# partitioning is unknown and the score table must shuffle.
_EDGE_STAGE_BOUND = _BROADCAST_NODE_BOUND // 2


def _stage_edges(e: DataFrame, key: str, precounted: int | None = None) -> DataFrame:
    """Materialize an edge table for iterative reuse; above
    ``_EDGE_STAGE_BOUND`` rows, ALSO partition+sort it on the
    per-round join key and pin it.

    Two regimes, switched on a measured count (the materialization
    pays it anyway):

    - SMALL (≤ bound): eager localCheckpoint. |V| ≤ 2·|E| then sits
      under ``_BROADCAST_NODE_BOUND``, so ``_score_side`` broadcasts
      the score table and every round is a BHJ over the checkpoint —
      zero exchanges of ANY kind per round. Paying a repartition +
      sort + cache write here is measured pure overhead (~2s fixed at
      sf0.1 local[32] for nothing the broadcast path doesn't already
      give).
    - LARGE (> bound): MEMORY_AND_DISK cached
      ``repartition(key).sortWithinPartitions(key)`` — NOT a
      localCheckpoint: with AQE enabled a checkpointed plan's root is
      adaptive, so its outputPartitioning degrades to unknown and
      every round's join re-exchanges |E|; a cached repartition keeps
      HashPartitioning(key, P) AND the sort order visible to
      downstream planners (canChangeCachedPlanOutputPartitioning=
      false, the default). A sort-merge round join then skips both
      the edge exchange and the edge sort — steady-state per-round
      cost is exchange+sort of the |V|-sized score table plus the
      merge, instead of 20 rounds × a full |E| shuffle at 100 TB.

    Either way the caller gets a materialized table it can join every
    round; ``unpersist()`` on the small regime's checkpoint is a
    harmless no-op. ``precounted`` lets a caller that already holds a
    materialized (checkpointed) edge table with a measured row count
    skip the redundant checkpoint+count pair."""
    spark = e.sparkSession
    if precounted is None:
        e = e.localCheckpoint(eager=True)
        precounted = e.count()
    if precounted <= _EDGE_STAGE_BOUND:
        return e
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    from pyspark import StorageLevel

    staged = (
        e.repartition(parts, key)
        .sortWithinPartitions(key)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    staged.count()
    return staged


def _score_side(df: DataFrame, n_nodes: int) -> DataFrame:
    """The |V|-sized side of a per-round join: broadcast while it
    provably fits (n_nodes from an already-run count), plain otherwise
    so the join rides the staged edge partitioning."""
    return F.broadcast(df) if n_nodes <= _BROADCAST_NODE_BOUND else df


def _driver_edges(op: str, e: DataFrame, ordered: bool = False):
    """The measured-size prelude of the dual-path graph operators:
    count the materialized edge table ``e`` and hand its endpoint count
    to the one driver-or-distributed rule (``operators.driver_payload``).
    Returns ``(rows, m)``: the collected edge rows when the driver branch
    runs (None for the distributed loop) and the count ``m``.

    Rows holding a NULL (endpoint or weight) go distributed — null
    semantics stay with the Spark loop — and so do ``ordered``
    operators, whose recurrences compare node ids by value, when the
    ids are not ``_driver_orderable``. The driver twins run the same
    recurrence: the exact-integer ones (kcore, label propagation,
    union-find CC) emit identical rows, the float power methods
    (pagerank, personalized pagerank, hits) differ only in float64
    summation order (numpy scatter-add vs Spark partial aggregation,
    pinned to 1e-12 in tests/test_dual_path_parity.py)."""
    m = e.count()

    def collect():
        if ordered and not _driver_orderable(e.schema[0].dataType):
            return None
        rows = e.collect()
        return None if any(v is None for r in rows for v in r) else rows

    return driver_payload(op, 2 * m, collect), m


def _node_rows_df(e: DataFrame, rows, **cols) -> DataFrame:
    """A driver branch's result: ``node`` (typed like ``e``'s first
    column) plus ``cols`` (name → Spark type), built driver-locally."""
    fields = [T.StructField("node", e.schema[0].dataType)]
    fields += [T.StructField(c, t) for c, t in cols.items()]
    return local_rows_df(e.sparkSession, rows, T.StructType(fields))


def _node_index(rows):
    """Distinct src∪dst in first-seen order + int index arrays."""
    idx: dict = {}
    for r in rows:
        if r[0] not in idx:
            idx[r[0]] = len(idx)
    for r in rows:
        if r[1] not in idx:
            idx[r[1]] = len(idx)
    ui = np.fromiter((idx[r[0]] for r in rows), dtype=np.int64, count=len(rows))
    vi = np.fromiter((idx[r[1]] for r in rows), dtype=np.int64, count=len(rows))
    return list(idx), idx, ui, vi


def _rank_index(rows):
    """Distinct endpoint values in SORTED order + int rank arrays, for
    the exact-integer driver fixpoints (kcore / label_propagation)
    whose recurrences compare node ids by VALUE
    (min / least / tie-breaks): rank order == value order, so every
    comparison on ranks reproduces the Spark comparison on values.
    Only used for dtypes where Python ordering provably equals Spark
    ordering (integers; strings — UTF-8 byte order preserves code-point
    order), guarded by ``_driver_orderable``."""
    import numpy as np

    vals = sorted({r[0] for r in rows} | {r[1] for r in rows})
    rank = {v: i for i, v in enumerate(vals)}
    ui = np.fromiter((rank[r[0]] for r in rows), dtype=np.int64, count=len(rows))
    vi = np.fromiter((rank[r[1]] for r in rows), dtype=np.int64, count=len(rows))
    return vals, rank, ui, vi


def _driver_orderable(dtype) -> bool:
    """True when Python's total order on the collected values is the
    same as Spark's (int family and strings). Floats are excluded (NaN
    ordering differs), as is anything exotic — those stay distributed."""
    return isinstance(
        dtype,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType),
    )


def _union_find_labels(pairs) -> dict:
    """Union-find with path halving over ``(a, b)`` pairs: node → the
    minimum node of its component (the min-id labelling of
    ``connected_components``). Node values must be ``_driver_orderable``."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle participation over an undirected graph.

    Returns ``(node, degree, triangles)`` — one row per node of the
    canonicalized graph, integer-exact (hash-matchable against a plain
    three-way self-join oracle). Direction, parallel edges, and
    self-loops are canonicalized away first (each undirected edge
    becomes one ``u < v`` row), so the input can be any raw edge list.

    Scale shape — degree-ordered orientation (the standard MapReduce
    formulation, Suri & Vassilvitskii 2011): every canonical edge is
    oriented from its lower ``(degree, id)`` endpoint to the higher
    one, so each triangle has exactly ONE wedge centred at its
    lowest-ordered vertex. The wedge self-join therefore squares only
    low-degree adjacency lists — O(|E|^{3/2}) candidate wedges total
    instead of Σ deg² — which is the difference between feasible and
    not on a power-law graph at 100 TB. Three shuffles end to end:
    degree agg, wedge self-join, closing-edge semi-join.
    """
    reserved = {"node", "degree", "triangles", "_u", "_v", "_du", "_dv", "_w1", "_w2"}
    clash = reserved & {src_col, dst_col}
    if clash:
        raise ValueError(f"edge columns collide with reserved names: {sorted(clash)}")

    # canon and deg are each consumed by several downstream joins; a lazy
    # localCheckpoint materializes them once at first action instead of
    # replaying the distinct/agg per consumer (plan-size and recompute
    # discipline, same as pagerank's per-iteration cuts).
    canon = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("_u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("_v"),
        )
        .where(F.col("_u") < F.col("_v"))  # drops self-loops and null endpoints
        .distinct()
        .localCheckpoint(eager=False)
    )

    deg = (
        canon.select(F.explode(F.array("_u", "_v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
        .localCheckpoint(eager=False)
    )

    # Orient each edge low→high by (degree, id); ties break on node id so
    # the orientation is total and deterministic.
    with_deg = (
        canon.join(deg.withColumnsRenamed({"node": "_u", "degree": "_du"}), "_u")
        .join(deg.withColumnsRenamed({"node": "_v", "degree": "_dv"}), "_v")
    )
    u_first = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("_u") < F.col("_v"))
    )
    oriented = with_deg.select(
        F.when(u_first, F.col("_u")).otherwise(F.col("_v")).alias("src"),
        F.when(u_first, F.col("_v")).otherwise(F.col("_u")).alias("dst"),
    ).localCheckpoint(eager=False)

    # Wedges centred at the lowest-ordered vertex; each candidate closes
    # iff its (min,max) pair is a canonical edge.
    a = oriented.withColumnsRenamed({"dst": "_w1"})
    b = oriented.withColumnsRenamed({"dst": "_w2"})
    wedges = a.join(b, "src").where(F.col("_w1") < F.col("_w2"))
    # _w1 < _w2 already holds, so the canonical closing key is exactly
    # (_w1, _w2): a plain column equi-join (hash/SMJ, broadcast-able).
    closed = wedges.join(
        canon,
        (F.col("_w1") == F.col("_u")) & (F.col("_w2") == F.col("_v")),
        "leftsemi",
    )

    per_node = (
        closed.select(F.explode(F.array("src", "_w1", "_w2")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
    )


def kcore(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 100,
) -> DataFrame:
    """Nodes of the k-core — the maximal subgraph where every node has
    degree ≥ k within the subgraph — via distributed peeling: drop
    nodes under degree k, recount on the induced subgraph, repeat to
    fixpoint. The standard community/cohesion primitive (spam rings and
    boilerplate clusters in web graphs are high-core; tendrils are not).

    Returns ``(node, degree)`` with the IN-CORE degree. The k-core is
    unique, so the result is deterministic regardless of peel order.

    Scale shape: each round is one explode+groupBy degree count and two
    semi-joins (endpoint filters) over the shrinking edge set, with a
    ``localCheckpoint`` lineage cut per round (the pagerank/label-prop
    discipline); rounds ≤ peeling depth, typically tens on power-law
    graphs. Input is canonicalized exactly like triangle_count
    (direction, duplicates, self-loops removed).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    reserved = {"node", "degree", "_u", "_v"}
    clash = reserved & {src_col, dst_col}
    if clash:
        raise ValueError(f"edge columns collide with reserved names: {sorted(clash)}")

    canon = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("_u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("_v"),
        )
        .where(F.col("_u") < F.col("_v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # peeling is an EXACT integer recurrence (degree counts, >= k
    # threshold), so the driver twin is bit-identical to the
    # distributed loop — same simultaneous-peel rounds, same
    # max_iterations contract.
    rows, m = _driver_edges("kcore", canon, ordered=True)
    if rows is not None:
        vals, _rank, ui, vi = _rank_index(rows)
        n = len(vals)
        for _ in range(max_iterations):
            deg_arr = np.bincount(ui, minlength=n) + np.bincount(vi, minlength=n)
            keep = deg_arr >= k
            n_keep = int(keep.sum())
            if n_keep == int((deg_arr > 0).sum()):
                return _node_rows_df(
                    canon,
                    [(vals[i], int(deg_arr[i])) for i in np.nonzero(keep)[0]],
                    degree=T.LongType(),
                )
            mask = keep[ui] & keep[vi]
            ui, vi = ui[mask], vi[mask]
            if n_keep == 0:
                return _node_rows_df(canon, [], degree=T.LongType())
        raise RuntimeError(
            f"kcore did not converge in {max_iterations} iterations "
            "(raise max_iterations for very deep peeling chains)"
        )

    # staged on _u each round: the first (larger-side) semi-join then
    # reuses the edge partitioning and shuffles only the |V|-sized keep
    # set; the surviving-edge _v semi-join is the round's one edge
    # exchange. The previous round's cache unpins once its successor
    # materializes.
    live = _stage_edges(canon, "_u", precounted=m)

    deg = None
    for _ in range(max_iterations):
        deg = (
            live.select(F.explode(F.array("_u", "_v")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").cast("long").alias("degree"))
            .localCheckpoint(eager=True)
        )
        keep = deg.where(F.col("degree") >= k).select("node")
        n_keep = keep.count()
        if n_keep == deg.count():
            live.unpersist()
            return deg.where(F.col("degree") >= k)
        ks = _score_side(keep, n_keep)
        pruned = _stage_edges(
            live.join(ks.withColumnRenamed("node", "_u"), "_u", "leftsemi")
            .join(ks.withColumnRenamed("node", "_v"), "_v", "leftsemi")
            .select("_u", "_v"),
            "_u",
        )
        live.unpersist()
        live = pruned
        if n_keep == 0:
            live.unpersist()
            return deg.where(F.lit(False))
    raise RuntimeError(
        f"kcore did not converge in {max_iterations} iterations "
        "(raise max_iterations for very deep peeling chains)"
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), made deterministic: every node starts as its own
    label; each round it adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label; stop when no label
    changes or after ``max_iterations`` (synchronous updates can
    two-cycle on bipartite structures, so the cap is part of the
    algorithm, not a timeout). Deterministic: same edges → same
    communities, independent of partitioning.

    Returns ``(node, community)`` where community is the adopted label
    (a node id). Input is canonicalized like triangle_count.

    Scale shape per round: one edge↔label join shuffled on node, one
    (node, label) count aggregation, one per-node argmax window — all
    linear in |E| — with a lineage cut per round.
    """
    reserved = {"node", "community", "_u", "_v", "_lbl", "_cnt", "_nbr"}
    clash = reserved & {src_col, dst_col}
    if clash:
        raise ValueError(f"edge columns collide with reserved names: {sorted(clash)}")
    from pyspark.sql import Window

    canon = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("_u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("_v"),
        )
        .where(F.col("_u") < F.col("_v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # synchronous label propagation is an EXACT integer recurrence
    # (vote counts, count-desc/label-asc argmax), so the driver twin is
    # bit-identical — same rounds, same own-label vote, same stop rule.
    rows, _ = _driver_edges("label_propagation", canon, ordered=True)
    if rows is not None:
        vals, _rank, ui, vi = _rank_index(rows)
        n = len(vals)
        A = np.concatenate([ui, vi])  # voting node
        B = np.concatenate([vi, ui])  # its neighbor
        own = np.arange(n, dtype=np.int64)
        lbl = own.copy()
        for _ in range(max_iterations):
            votes_node = np.concatenate([A, own])
            votes_lbl = np.concatenate([lbl[B], lbl])
            code = votes_node * n + votes_lbl
            uniq, cnt = np.unique(code, return_counts=True)
            nodes_c = uniq // n
            labels_c = uniq % n
            order = np.lexsort((labels_c, -cnt, nodes_c))
            nodes_o = nodes_c[order]
            first = np.ones(len(nodes_o), dtype=bool)
            first[1:] = nodes_o[1:] != nodes_o[:-1]
            new_lbl = lbl.copy()
            new_lbl[nodes_o[first]] = labels_c[order][first]
            changed = int((new_lbl != lbl).sum())
            lbl = new_lbl
            if changed == 0:
                break
        return _node_rows_df(
            canon,
            [(vals[i], vals[lbl[i]]) for i in range(n)],
            community=canon.schema[0].dataType,
        )

    # adjacency in both directions: (node, _nbr) — staged on _nbr, the
    # per-round label-join key, so each round shuffles only the
    # |V|-sized label table (module docstring)
    adj = _stage_edges(
        canon.select(F.col("_u").alias("node"), F.col("_v").alias("_nbr"))
        .unionByName(
            canon.select(F.col("_v").alias("node"), F.col("_u").alias("_nbr"))
        ),
        "_nbr",
    )
    labels = (
        adj.select("node").distinct().withColumn("community", F.col("node"))
        .localCheckpoint(eager=True)
    )
    n = labels.count()
    w = Window.partitionBy("node").orderBy(
        F.col("_cnt").desc(), F.col("community").asc()
    )
    for _ in range(max_iterations):
        nbr_labels = adj.join(
            _score_side(labels.withColumnsRenamed({"node": "_nbr"}), n), "_nbr"
        ).select("node", "community")
        # the node's own label votes too (standard oscillation breaker:
        # a bare edge would otherwise swap labels forever under
        # synchronous updates)
        votes = nbr_labels.unionByName(labels.select("node", "community"))
        new_labels = (
            votes.groupBy("node", "community")
            .agg(F.count("*").alias("_cnt"))
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .select("node", "community")
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(
                labels.withColumnsRenamed({"community": "_lbl"}), "node"
            )
            .where(F.col("community") != F.col("_lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iterations: int = 20,
    weight_col: str | None = None,
) -> DataFrame:
    """Rank every node appearing as src or dst. Returns (node, rank)
    with ranks summing to 1. Parallel edges count as repeated votes
    (pre-aggregate to weights upstream if that is not wanted);
    self-loops are legal. Deterministic: same edges → same ranks.
    With ``weight_col``, each edge carries that weight and a node's
    rank mass splits proportionally (w / Σ out-weights) instead of
    uniformly — the weighted power method. NULL weights raise (silent
    mass leak otherwise); zero/negative-weight edges are dropped up
    front — a w=0 edge is mathematically no edge, and filtering it
    keeps the out-weight sums strictly positive (no 0/0 NaN poisoning
    every reachable rank)."""
    return _power_method(
        "pagerank", edges, src_col, dst_col, damping, iterations, weight_col
    )


def _check_seeds(n_seeds: int, missing: int) -> None:
    """personalized_pagerank's seed contract, the same on both branches."""
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: empty seed set")
    if missing:
        raise ValueError(
            f"personalized_pagerank: {missing} seed(s) not present as an "
            "edge endpoint — add self-loop edges to include isolated seeds"
        )


def _power_method(
    op: str,
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    damping: float,
    iterations: int,
    weight_col: str | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """The power method of :func:`pagerank` and, given ``seeds`` (one
    distinct ``node`` column), of :func:`personalized_pagerank`, on both
    branches. The two differ only in where teleport mass goes: the
    (1−d) reset and the dangling mass spread uniformly (``1/n``), or
    over the seed vector ``_e`` (1/|S| on seeds, 0 elsewhere). An
    unweighted edge carries ``w = 1.0``, so ``rank * w / deg`` and the
    out-weight sums are bit-identical to the unweighted recurrence."""
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0,1), got {damping}")
    w_expr = (
        F.col(weight_col).cast("double") if weight_col is not None else F.lit(1.0)
    )
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w_expr.alias("w")
    )
    if weight_col is not None:
        # NULL guard folded into the eager checkpoint below — ONE pass
        # over the edges instead of a separate probe job: coalesce
        # evaluates raise_error only when a weight is NULL, so the
        # materialization itself throws on bad input
        checked = F.coalesce(
            F.col("w"),
            F.raise_error(
                F.lit(f"pagerank: NULL weights in {weight_col!r}")
            ).cast("double"),
        )
        e = e.select("src", "dst", checked.alias("w")).where(F.col("w") > 0)
    try:
        e0 = e.localCheckpoint(eager=True)
    except Exception as ex:  # surface the in-plan guard as the API's ValueError
        if "NULL weights" in str(ex):
            raise ValueError(f"pagerank: NULL weights in {weight_col!r}") from None
        raise
    rows, _ = _driver_edges(op, e0)
    if rows is not None:
        node_list, idx, ui, vi = _node_index(rows)
        n = len(node_list)
        if n == 0:
            return _node_rows_df(e0, [], rank=T.DoubleType())
        if seeds is None:
            ev = None
            ranks = np.full(n, 1.0 / n)
        else:
            seed_vals = {r[0] for r in seeds.collect()}
            _check_seeds(len(seed_vals), sum(1 for v in seed_vals if v not in idx))
            ev = np.zeros(n)
            for v in seed_vals:
                ev[idx[v]] = 1.0 / len(seed_vals)
            ranks = ev.copy()
        w = np.fromiter((float(r[2]) for r in rows), dtype=np.float64,
                        count=len(rows))
        deg = np.zeros(n)
        np.add.at(deg, ui, w)
        has_out = deg > 0
        d = damping
        for _ in range(iterations):
            dm = ranks[~has_out].sum()
            contrib = np.zeros(n)
            np.add.at(contrib, vi, ranks[ui] * w / deg[ui])
            if ev is None:
                ranks = (1.0 - d) / n + d * (contrib + dm / n)
            else:
                ranks = (1.0 - d) * ev + d * (contrib + dm * ev)
        return _node_rows_df(
            e0, [(node_list[i], float(ranks[i])) for i in range(n)],
            rank=T.DoubleType(),
        )
    # staged on src — the per-round rank join key — so iterations
    # shuffle only the |V|-sized rank table (module docstring)
    e = _stage_edges(e0, "src")

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    contrib = F.coalesce(F.col("contrib"), F.lit(0.0))
    if seeds is None:
        base, start = nodes, F.lit(1.0 / n)
        new_rank = F.lit((1.0 - damping) / n) + F.lit(damping) * (
            contrib + F.col("dm") / n
        )
    else:
        n_seeds = seeds.count()
        _check_seeds(n_seeds, seeds.join(nodes, "node", "left_anti").count())
        # teleport distribution _e attached once to the dense node table
        # (the seed set is dimension-sized)
        base = nodes.join(
            F.broadcast(seeds.withColumn("_e", F.lit(1.0 / n_seeds))), "node", "left"
        ).select("node", F.coalesce("_e", F.lit(0.0)).alias("_e")).localCheckpoint(
            eager=True
        )
        start = F.col("_e")
        new_rank = F.lit(1.0 - damping) * F.col("_e") + F.lit(damping) * (
            contrib + F.col("dm") * F.col("_e")
        )
    outdeg = (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.sum("w").alias("deg"))
        .localCheckpoint(eager=True)
    )

    ranks = base.select("node", start.alias("rank")).localCheckpoint(eager=True)
    for _ in range(iterations):
        with_deg = ranks.join(outdeg, "node", "left")
        # mass from dangling nodes (no out-edges) goes where teleport goes
        dangling = (
            with_deg.where(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        contribs = (
            e.join(
                _score_side(with_deg.where(F.col("deg").isNotNull()), n),
                e.src == F.col("node"),
            )
            .select("dst", (F.col("rank") * F.col("w") / F.col("deg")).alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            base.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select("node", new_rank.alias("rank"))
            .localCheckpoint(eager=True)
        )
    return ranks


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 20,
    norm_every: int = 4,
) -> DataFrame:
    """Kleinberg's HITS (hubs & authorities, Kleinberg 1999 JACM):
    iterate ``auth = Eᵀ·hub``, ``hub = E·auth``, L1-normalizing every
    ``norm_every``-th round (and always on the last) so scores are
    scale-free and deterministic. Normalization is mathematically a
    no-op on the final answer (the update is linear, so scale divides
    out); doing it lazily just skips the scalar-aggregate broadcast
    on most rounds — one full un-normalized iteration grows mass by at
    most max_outdeg·max_indeg, so even 1e15-fold growth per round
    stays far inside double range across 4 deferred rounds.
    Returns one row per node appearing as src or dst:
    ``(node, hub, authority)``, each column summing to 1 (on a graph
    with at least one edge). Parallel edges count as repeated
    endorsements — pre-aggregate upstream if that is not wanted.

    The complement of :func:`pagerank` for web-corpus curation: a page
    can matter as a DIRECTORY (hub: links to many good pages) without
    being an endpoint anyone cites — link-spam farms score high hub /
    near-zero authority, which is exactly the signal crawl schedulers
    and quality filters split on.

    Spark shape mirrors :func:`pagerank`: each half-iteration is one
    shuffle (scores grouped by the receiving endpoint) joined against
    the |V|-sized score table, with a single-row L1 aggregate
    broadcast for normalization; ``localCheckpoint`` per round cuts
    the replanned-lineage blowup. Nodes on only one side of the edge
    relation simply hold score 0 on the other axis — no dangling-mass
    machinery is needed because HITS normalizes explicitly."""
    if iterations < 1:
        raise ValueError(f"hits: iterations must be >= 1, got {iterations}")
    if norm_every < 1:
        raise ValueError(f"hits: norm_every must be >= 1, got {norm_every}")
    e0 = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=True)
    rows, _ = _driver_edges("hits", e0)
    if rows is not None:
        node_list, _idx, ui, vi = _node_index(rows)
        n = len(node_list)
        hub = np.zeros(n)
        hub[np.unique(ui)] = 1.0
        auth = np.zeros(n)
        for it in range(iterations):
            normalize = (it + 1) % norm_every == 0 or it == iterations - 1
            auth = np.zeros(n)
            np.add.at(auth, vi, hub[ui])
            if normalize:
                auth /= auth.sum()
            hub = np.zeros(n)
            np.add.at(hub, ui, auth[vi])
            if normalize:
                hub /= hub.sum()
        return _node_rows_df(
            e0,
            [(node_list[i], float(hub[i]), float(auth[i])) for i in range(n)],
            hub=T.DoubleType(),
            authority=T.DoubleType(),
        )
    # two staged copies — each half-iteration joins scores on a
    # DIFFERENT edge endpoint, so one copy per key keeps both joins
    # edge-shuffle-free across all rounds (2·|E| cached once vs
    # 2·iterations·|E| shuffled)
    e = _stage_edges(e0, "src")
    e_dst = _stage_edges(e, "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    # Iterate SPARSELY: scores rows exist only for nodes with nonzero
    # mass (absent = 0, which contributes nothing to either sum), so
    # the per-round plan is two edge joins + two groupBys + two scalar
    # L1 aggregates and ONE outer join — no |V| densification until
    # the end. One localCheckpoint per round keeps the replanned
    # lineage flat; the scalar totals ride the same job as broadcast
    # subplans.
    scores = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(1.0).alias("hub"))
        .localCheckpoint(eager=True)
    )
    for it in range(iterations):
        normalize = (it + 1) % norm_every == 0 or it == iterations - 1
        # auth(v) = Σ_{(u,v)∈E} hub(u)
        a = (
            e.join(
                _score_side(
                    scores.select(F.col("node").alias("src"), "hub"), n
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("araw"))
        )
        if normalize:
            a_tot = a.agg(F.sum("araw").alias("atot"))
            auth = a.crossJoin(F.broadcast(a_tot)).select(
                "node", (F.col("araw") / F.col("atot")).alias("authority")
            )
        else:
            auth = a.select("node", F.col("araw").alias("authority"))
        # hub(u) = Σ_{(u,v)∈E} auth(v)
        h = (
            e_dst.join(
                _score_side(
                    auth.select(F.col("node").alias("dst"), "authority"), n
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").alias("hraw"))
        )
        if normalize:
            h_tot = h.agg(F.sum("hraw").alias("htot"))
            hub = h.crossJoin(F.broadcast(h_tot)).select(
                "node", (F.col("hraw") / F.col("htot")).alias("hub")
            )
        else:
            hub = h.select("node", F.col("hraw").alias("hub"))
        scores = (
            hub.join(auth, "node", "full_outer")
            .select(
                "node",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("authority", F.lit(0.0)).alias("authority"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        nodes.join(scores, "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    max_hops: int = 10,
) -> DataFrame:
    """Multi-source BFS hop distance over a directed edge set: returns
    ``(node, dist)`` for every node reachable from any seed within
    ``max_hops``, with ``dist`` = fewest edges from the NEAREST seed
    (seeds themselves at 0). Unreachable nodes are absent — distance
    is undefined, and emitting a sentinel would force every consumer
    to special-case it.

    The crawl-scheduling primitive behind "seed distance" corpus
    weighting (pages few hops from trusted seeds are higher-quality
    with high probability — the TrustRank/seed-expansion family,
    Gyöngyi et al. 2004) and blast-radius queries over dependency
    graphs.

    Spark shape: classic frontier expansion — each hop is one join of
    the CURRENT frontier (nodes first reached last round, shrinking)
    against the edge table, anti-joined against the visited set so a
    node is assigned the round it is FIRST reached (that minimality is
    what makes per-round distance correct). Frontier and visited sets
    are |V|-bounded and checkpointed per round; the join is
    frontier×out-edges, so cost tracks the expanding wave, not
    |V|·|E|. Early-exits when the frontier empties."""
    if max_hops < 0:
        raise ValueError(f"bfs_distances: max_hops must be >= 0, got {max_hops}")
    # staged on src: each hop's frontier join reuses the edge
    # partitioning and shuffles only the frontier (module docstring)
    e = _stage_edges(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        "src",
    )
    visited = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("int").alias("dist"))
        .localCheckpoint(eager=True)
    )
    frontier, n_frontier = visited, visited.count()
    for hop in range(1, max_hops + 1):
        nxt = (
            _score_side(frontier, n_frontier)
            .join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).cast("int").alias("dist"))
            .localCheckpoint(eager=True)
        )
        n_frontier = nxt.count()
        if n_frontier == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


def cocitation_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_out_degree: int | None = None,
    min_count: int = 1,
) -> DataFrame:
    """Co-citation pair counts (Small 1973): for every unordered pair
    of targets, how many distinct sources link to BOTH. Returns
    ``(node_a, node_b, n_cosources)`` with ``node_a < node_b``.
    Parallel edges dedup first — a source endorsing a target five
    times is still one co-citing source.

    The classic related-item signal over a link graph (co-cited hosts
    are topically related even when neither links the other) — the
    backbone of "related pages" and of link-graph spam clustering.

    Spark shape: distinct (src,dst), then a self-join on src — the
    output is Σ_src C(outdeg(src), 2), so a handful of mega-hubs
    (a sitemap page linking 10⁵ targets) dominates cost quadratically.
    ``max_out_degree`` drops those super-spreader sources up front
    (standard practice: a source citing everything carries no pairwise
    signal), turning the worst case into a bounded
    per-source fan-out; ``min_count`` prunes the long noise tail at
    the final aggregate."""
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
    )
    if max_out_degree is not None:
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        e = e.join(
            deg.where(F.col("outdeg") <= max_out_degree).select("src"), "src"
        )
    left = e
    right = e.select(F.col("src"), F.col("dst").alias("dst_b"))
    return (
        left.join(right, "src")
        .where(F.col("dst") < F.col("dst_b"))
        .groupBy(F.col("dst").alias("node_a"), F.col("dst_b").alias("node_b"))
        .agg(F.count(F.lit(1)).alias("n_cosources"))
        .where(F.col("n_cosources") >= min_count)
    )


def sssp_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    cost_col: str = "cost",
    seed_col: str = "node",
    max_hops: int = 10,
) -> DataFrame:
    """Bounded-hop single-source(-set) shortest paths — distributed
    Bellman-Ford (the Pregel-style relaxation every graph engine
    ships): per round, the improved frontier joins the edge table,
    candidate costs fold by min, and only nodes whose best-known cost
    IMPROVED re-enter the frontier; after ``max_hops`` rounds every
    node carries the cheapest path of ≤ max_hops edges from the
    nearest seed. Returns ``(node, cost)`` (seeds at 0.0; unreachable
    nodes absent). The weighted generalization of
    :func:`bfs_distances` — same frontier discipline, costs instead
    of hop counts.

    Determinism & restatability: each path's cost accumulates
    left-to-right along the path (the iteration order), exactly how a
    depth-bounded recursive-CTE walk accumulates it — so the min over
    the identical finite walk set is the identical double, and the
    result hash-matches a SQL oracle. min() over doubles needs no
    rounding discipline (no summation across paths, only along them).
    Negative costs are rejected (Bellman-Ford tolerates them only
    with convergence detection; a bounded-hop min over walks does
    not).

    Shape: per round one frontier×edges equi-join + one groupBy(min)
    + one improvement anti-filter against the |V|-bounded dist table,
    checkpointed; early-exits when nothing improves. Cost tracks the
    expanding improved wave — the Pregel bound — not |V|·|E|."""
    if max_hops < 0:
        raise ValueError(f"sssp_distances: max_hops must be >= 0, got {max_hops}")
    # staged on src: each relaxation round's frontier join reuses the
    # edge partitioning and shuffles only the frontier
    e = _stage_edges(
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(cost_col).cast("double").alias("w"),
        ),
        "src",
    )
    if not e.where(F.col("w") < 0).isEmpty():
        raise ValueError("sssp_distances: negative edge costs are not supported")
    dist = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0.0).alias("cost"))
        .localCheckpoint(eager=True)
    )
    frontier, n_frontier = dist, dist.count()
    for _ in range(max_hops):
        cand = (
            _score_side(frontier, n_frontier)
            .join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"), (F.col("cost") + F.col("w")).alias("cost"))
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
        prev = dist.select(F.col("node"), F.col("cost").alias("_old"))
        improved = (
            cand.join(prev, "node", "left")
            .where(F.col("_old").isNull() | (F.col("cost") < F.col("_old")))
            .select("node", "cost")
            .localCheckpoint(eager=True)
        )
        n_frontier = improved.count()
        if n_frontier == 0:
            break
        dist = (
            dist.unionByName(improved)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=True)
        )
        frontier = improved
    return dist.select("node", F.round("cost", 9).alias("cost"))


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    damping: float = 0.85,
    iterations: int = 20,
) -> DataFrame:
    """Personalized PageRank (Page et al. 1999 §6 'personalized'
    teleport; the TrustRank recipe of Gyöngyi et al. VLDB 2004):
    identical power method to :func:`pagerank` except ALL teleport
    mass — the (1−d) reset AND dangling-node mass — returns to the
    SEED set uniformly instead of to every node. Scores then measure
    proximity-weighted reachability FROM the seeds: the crawl-
    scheduling / spam-demotion signal (pages trusted seeds link near
    rank high; link farms unreachable from seeds get exactly zero —
    pinned in tests), and the weighted upgrade of
    :func:`bfs_distances`' hop counts.

    Returns ``(node, rank)`` over all edge-endpoint nodes, ranks
    summing to 1 (seeds not in the edge set still receive teleport
    mass but are absent from the output node universe — pass them as
    self-loop edges to include them). Unknown seeds raise. Same scale
    shape as pagerank: staged edge table (zero per-round edge
    shuffles), node-sized score exchanges, one broadcast scalar
    aggregate per round, localCheckpoint lineage cuts."""
    if iterations < 1:
        raise ValueError(
            f"personalized_pagerank: iterations must be >= 1, got {iterations}"
        )
    seeds = seeds.select(F.col(seed_col).alias("node")).distinct()
    return _power_method(
        "personalized_pagerank", edges, src_col, dst_col, damping, iterations,
        seeds=seeds,
    ).select("node", F.round("rank", 9).alias("rank"))


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components, labelled by the MINIMUM node id of each
    component: ``(node, component)``, deterministic and
    partitioning-independent (the labelling the recursive-CTE oracle
    produces). Nodes with no edges never reach an edge-driven operator;
    union singleton rows downstream if the node universe matters. A
    node whose ONLY incident edges are self-loops IS emitted, as its own
    singleton ``(node, node)`` component — a self-loop carries no
    connectivity but does assert the node exists, so dropping it would
    silently shrink the node universe of the edge list. NULL endpoints
    are dropped.

    Measured-size branch (``operators.driver_payload``): up to the
    bound the edge list is collected and solved by union-find on the
    driver — no rounds, one collect. Past it (or for ids whose Python
    order is not Spark's, see ``_driver_orderable``) the components come
    from alternating large-star/small-star contraction (Kiveris,
    Lattanzi, Mirrokni, Rastogi & Vassilvitskii, SoCC 2014 — "Connected
    Components in MapReduce and Beyond"): each round hangs every node
    off the minimum id in its neighborhood, so component trees flatten
    in O(log n) ROUNDS regardless of graph diameter, where per-hop
    propagation needs O(diameter) rounds and dies on long chains. The
    min-id labelling is unique, so both branches emit the same rows.

    Per round: large-star (symmetrize → per-center min → re-hang
    larger neighbors) then small-star (orient to the larger endpoint →
    per-center min → re-hang all) — each ONE groupBy plus ONE keyed
    join over the current edge set, deduplicated, with a
    ``localCheckpoint`` lineage cut. Convergence = the small-star
    output IS its input (set equality via count + subtract — exact,
    not a checksum); at the fixpoint every edge is (component-min,
    node) by construction. ``max_iterations`` bounds the rounds; a
    contraction still moving after it raises."""
    if max_iterations < 1:
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    reserved = {"node", "component", "_u", "_v", "_m"}
    clash = reserved & {src_col, dst_col}
    if clash:
        raise ValueError(f"edge columns collide with reserved names: {sorted(clash)}")
    # Lazy checkpoint: the count materializes it, and the driver
    # branch's collect reads it back — the input pipeline (often minhash
    # → LSH → verify) runs once, with no shuffle before the branch.
    raw = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("_u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("_v"),
        )
        .where(F.col("_u").isNotNull() & F.col("_v").isNotNull())
        .localCheckpoint(eager=False)
    )
    rows, _ = _driver_edges("connected_components", raw, ordered=True)
    if rows is not None:
        return _node_rows_df(
            raw,
            sorted(_union_find_labels(rows).items()),
            component=raw.schema[0].dataType,
        )
    e = raw.where(F.col("_u") < F.col("_v")).distinct().localCheckpoint(eager=True)
    m = e.count()
    # self-loop-only nodes: the _u < _v canonicalization discards
    # self-loops (they carry no connectivity), but a node whose only
    # incident edge is a self-loop must still appear — as its own
    # singleton component. Anti-join against the real-edge node
    # universe (which the contraction preserves: every node of `e` is
    # a root or a hanging node at the fixpoint). Eagerly checkpointed
    # so its lineage survives the loop's unpersists.
    loop_nodes = (
        raw.where(F.col("_u") == F.col("_v"))
        .select(F.col("_u").alias("node"))
        .distinct()
    )
    edge_nodes = (
        e.select(F.col("_u").alias("node"))
        .unionByName(e.select(F.col("_v").alias("node")))
        .distinct()
    )
    singletons = (
        loop_nodes.join(edge_nodes, "node", "left_anti")
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iterations):
        # large-star: center u sees the FULL neighborhood (both
        # orientations); strictly-larger neighbors re-hang on the min
        sym = e.unionByName(
            e.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
        )
        mins = sym.groupBy("_u").agg(F.min("_v").alias("_m"))
        large = (
            sym.join(mins, "_u")
            .select(
                "_u",
                "_v",
                F.least(F.col("_m"), F.col("_u")).alias("_m"),
            )
            .where(F.col("_v") > F.col("_u"))
            .select(F.col("_m").alias("_u"), F.col("_v").alias("_v"))
            .where(F.col("_u") < F.col("_v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star: center = larger endpoint, neighbors all smaller;
        # everything (center included) re-hangs on the neighborhood min
        cen = large.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
        mins2 = cen.groupBy("_u").agg(F.min("_v").alias("_m"))
        hang_center = mins2.select(
            F.col("_m").alias("_u"), F.col("_u").alias("_v")
        )
        hang_neighbors = (
            cen.join(mins2, "_u")
            .where(F.col("_v") != F.col("_m"))
            .select(F.col("_m").alias("_u"), F.col("_v").alias("_v"))
        )
        new_e = (
            hang_center.unionByName(hang_neighbors)
            .where(F.col("_u") < F.col("_v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        large.unpersist()
        # m tracks |e| from the previous round's count (or the initial
        # checkpoint count) — set equality needs one count + one
        # subtract, not a recount of the old side
        n_new = new_e.count()
        same = n_new == m and new_e.subtract(e).count() == 0
        m = n_new
        e.unpersist()
        e = new_e
        if same:
            roots = e.select(F.col("_u").alias("node")).distinct().select(
                "node", F.col("node").alias("component")
            )
            return (
                e.select(
                    F.col("_v").alias("node"), F.col("_u").alias("component")
                )
                .unionByName(roots)
                .unionByName(singletons)
                .distinct()
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds "
        "(the star contraction needs O(log n) — this indicates a bug or "
        "an adversarial id space, not normal data)"
    )


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman, PRL 2002): the Pearson
    correlation of endpoint degrees over all edges of the undirected
    graph — positive = hubs link to hubs (social/citation shape),
    negative = hubs link to leaves (web/biology shape). The one-number
    structure fingerprint that separates a crawl graph from a spam
    farm (link farms are strongly disassortative). One row out:
    ``(n_nodes, n_edges (long), assortativity (double; NULL when < 2
    edges or degree-constant))``.

    Exactness: degrees are exact integer counts over the canonical
    deduped undirected edge set (self-loops dropped — they offset
    both marginals equally and the published coefficient excludes
    them); the correlation runs over BOTH orientations of each edge
    (the standard symmetrized form), with all five moments in
    DECIMAL(38,0)/HUGEINT and one engine-identical IEEE chain,
    rounded to 9.

    Scale shape: one distinct, one node-grain degree groupBy, two
    equi-joins of the edge list to the (node, degree) table (AQE
    broadcasts it while it fits), one 1-row fold — no windows, no
    iteration."""
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("_u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("_v"),
        )
        .where(F.col("_u").isNotNull() & (F.col("_u") < F.col("_v")))
        .distinct()
        # lazy lineage cuts (triangle_count discipline): `e` feeds both
        # orientations of `sym`, which feeds the degree groupBy AND the
        # pair stream; `deg` joins back twice. Without the cuts the
        # canonicalize/distinct chain replays once per consumer and per
        # broadcast subplan.
        .localCheckpoint(eager=False)
    )
    sym = e.unionByName(
        e.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
    )
    deg = (
        sym.groupBy("_u")
        .agg(F.count(F.lit(1)).cast("long").alias("_d"))
        .localCheckpoint(eager=False)
    )
    pairs = (
        sym.join(deg.withColumnRenamed("_d", "_da"), "_u")
        .join(
            deg.select(F.col("_u").alias("_v"), F.col("_d").alias("_db")),
            "_v",
        )
        .select("_da", "_db")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sums = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("_m2"),
        F.coalesce(F.sum(dec("_da")), F.lit(0).cast("decimal(38,0)")).alias("_sa"),
        F.coalesce(F.sum(dec("_db")), F.lit(0).cast("decimal(38,0)")).alias("_sb"),
        F.coalesce(
            F.sum(dec("_da") * dec("_db")), F.lit(0).cast("decimal(38,0)")
        ).alias("_sab"),
        F.coalesce(
            F.sum(dec("_da") * dec("_da")), F.lit(0).cast("decimal(38,0)")
        ).alias("_saa"),
        F.coalesce(
            F.sum(dec("_db") * dec("_db")), F.lit(0).cast("decimal(38,0)")
        ).alias("_sbb"),
    )
    nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    m = F.col("_m2").cast("decimal(38,0)")
    num = (m * F.col("_sab") - F.col("_sa") * F.col("_sb")).cast("double")
    da = (m * F.col("_saa") - F.col("_sa") * F.col("_sa")).cast("double")
    db = (m * F.col("_sbb") - F.col("_sb") * F.col("_sb")).cast("double")
    return nodes.crossJoin(F.broadcast(sums)).select(
        "n_nodes",
        (F.col("_m2") / F.lit(2)).cast("long").alias("n_edges"),
        F.when(
            (F.col("_m2") > 2) & (da > 0) & (db > 0),
            F.round(num / (F.sqrt(da) * F.sqrt(db)), 9),
        ).alias("assortativity"),
    )


def common_neighbors_linkpred(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 1,
) -> DataFrame:
    """Common-neighbors link prediction (Liben-Nowell & Kleinberg,
    CIKM 2003): for every NON-adjacent node pair sharing ≥
    ``min_common`` neighbors, the three classic closure scores —
    ``common`` (raw count), ``jaccard`` = |N(a)∩N(b)| / |N(a)∪N(b)|,
    and ``adamic_adar`` = Σ_z 1/ln(deg z) over shared neighbors z
    (low-degree witnesses weigh more). The "which entities should
    link/merge next" primitive behind record-linkage candidate
    promotion and crawl-frontier prioritization. Output one row per
    candidate pair: ``(node_a, node_b, common (long), jaccard,
    adamic_adar (double))`` with node_a < node_b.

    Exactness: counts/degrees are exact integers; each witness's
    1/ln(deg) micro-quantizes to int64 BEFORE the per-pair sum (the
    mutual_information discipline) so the fold is order-proof;
    jaccard is one integer division. Degree-1 witnesses (ln 1 = 0)
    cannot exist — a shared neighbor has degree ≥ 2 by construction.

    Scale shape: the wedge join (symmetrized edges self-joined on the
    shared neighbor) is the one superlinear stage — work ∝ Σ_z
    deg(z)², the triangle-counting bound; at 100 TB cap hub degrees
    upstream (the dedup doc-frequency discipline) or pre-filter to a
    candidate population. Everything after is (pair)-grain groupBy +
    one anti-join against the edge set."""
    if min_common < 1:
        raise ValueError(
            f"common_neighbors_linkpred: min_common must be >= 1, got {min_common}"
        )
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("_u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("_v"),
        )
        .where(F.col("_u").isNotNull() & (F.col("_u") < F.col("_v")))
        .distinct()
        # lazy lineage cuts (triangle_count discipline): `e` feeds sym
        # twice + the adjacency anti-join; `sym` feeds the degree
        # groupBy and BOTH wedge sides; `deg` joins back three times.
        .localCheckpoint(eager=False)
    )
    sym = e.unionByName(
        e.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
    )
    deg = (
        sym.groupBy("_u")
        .agg(F.count(F.lit(1)).cast("long").alias("_d"))
        .localCheckpoint(eager=False)
    )
    # wedges: z is the shared neighbor; (a, b) ordered to dedup
    wedges = (
        sym.select(F.col("_u").alias("_z"), F.col("_v").alias("_a"))
        .join(
            sym.select(F.col("_u").alias("_z"), F.col("_v").alias("_b")),
            "_z",
        )
        .where(F.col("_a") < F.col("_b"))
        .join(deg.select(F.col("_u").alias("_z"), "_d"), "_z")
    )
    aa_micro = F.round(
        F.lit(1e6) / F.log(F.col("_d").cast("double"))
    ).cast("long")
    pairs = (
        wedges.select("_a", "_b", aa_micro.alias("_aam"))
        .groupBy("_a", "_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            F.sum("_aam").cast("long").alias("_aas"),
        )
        .where(F.col("common") >= min_common)
    )
    # drop already-adjacent pairs: link PREDICTION scores absent edges
    cand = pairs.join(
        e.select(F.col("_u").alias("_a"), F.col("_v").alias("_b")),
        ["_a", "_b"],
        "left_anti",
    )
    return (
        cand.join(deg.select(F.col("_u").alias("_a"), F.col("_d").alias("_da")), "_a")
        .join(deg.select(F.col("_u").alias("_b"), F.col("_d").alias("_db")), "_b")
        .select(
            F.col("_a").alias("node_a"),
            F.col("_b").alias("node_b"),
            "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("_da") + F.col("_db") - F.col("common")).cast(
                    "double"
                ),
                9,
            ).alias("jaccard"),
            F.round(F.col("_aas").cast("double") / F.lit(1e6), 9).alias(
                "adamic_adar"
            ),
        )
    )


def local_clustering(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node local clustering coefficient (Watts & Strogatz, Nature
    1998): ``c_i = 2·T_i / (deg_i·(deg_i − 1))`` — the fraction of a
    node's neighbor pairs that are themselves connected; the classic
    "how clique-ish is this entity's neighborhood" readout behind
    community cohesion checks and link-spam screens (spam hubs have
    many neighbors that never interconnect, c → 0). Built directly on
    :func:`triangle_count`, so the superlinear work keeps its
    degree-ordered O(|E|^{3/2}) wedge bound. One row per node:
    ``(node, degree, triangles (long), clustering (double; NULL for
    degree < 2, where the coefficient is undefined))``.

    Exactness: triangles/degrees are exact integers; the coefficient
    is ONE IEEE division of exact integers, rounded to 9."""
    tri = triangle_count(edges, src_col, dst_col)
    d = F.col("degree").cast("double")
    return tri.select(
        "node",
        "degree",
        "triangles",
        F.when(
            F.col("degree") >= 2,
            F.round(
                F.lit(2.0) * F.col("triangles").cast("double")
                / (d * (d - F.lit(1.0))),
                9,
            ),
        ).alias("clustering"),
    )
