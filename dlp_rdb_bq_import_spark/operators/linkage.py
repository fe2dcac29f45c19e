"""Record-linkage scoring (entity resolution).

The step after candidate generation in any dedup/master-data pipeline:
given CANDIDATE record pairs (from blocking — exact keys, FastSS
deletion neighborhoods, LSH), score each pair by weighted field
agreement and classify match / possible / non-match. The classic
probabilistic-linkage formulation is Fellegi & Sunter (JASA 1969 —
public algorithm): each field contributes a log-odds weight, agreement
adds ``log2(m/u)``, disagreement adds ``log2((1-m)/(1-u))``, and the
total compares against upper/lower thresholds.

Spark-first shape: scoring is a pure projection over the candidate
pair table (no shuffle of its own — the joins that attach field values
are the only exchanges, and the attribute tables are dimension-sized
next to a 100 TB candidate stream, broadcast/AQE territory). All
arithmetic is fixed-order double expressions over exactly-representable
inputs, so scores hash-match a SQL oracle.

The reference's unit of work is an RDB row batch with no cross-record
operators (common/TableToDbRowFn.java); this extends the engine the
direction a deduplicating import pipeline needs.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def assign_entity_ids(
    records: DataFrame,
    match_pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Entity resolution's consolidation step: collapse pairwise MATCH
    verdicts into entity ids so downstream survivorship/golden-record
    aggregation has a grouping key. ``match_pairs`` is the (id_a, id_b)
    edge list (typically :func:`score_candidate_pairs` filtered to
    ``verdict = 'match'``); transitive closure assigns every matched
    record the MINIMUM record id of its connected component
    (``dedup.duplicate_clusters`` — driver union-find up to the graph
    edge bound, star contraction above it), and unmatched records
    become singleton entities labeled by their own id. Returns
    ``records`` plus a long ``entity_id`` column.

    Scale shape: the match-edge set is the true-duplicate graph —
    orders of magnitude smaller than the corpus — so closure cost
    tracks duplicate density, never corpus size; the final attach is
    one left join of the corpus against the (small) cluster map,
    broadcast/AQE territory. The reference imports RDB rows with no
    cross-record consolidation at all (common/TableToDbRowFn.java
    emits row batches as-is); this is the step a deduplicating master-
    data import runs after linkage scoring."""
    from .dedup import duplicate_clusters

    clusters = duplicate_clusters(match_pairs, id_a, id_b).withColumnRenamed(
        "doc_id", id_col
    )
    return (
        records.join(clusters, id_col, "left")
        .withColumn(
            "entity_id",
            F.coalesce(F.col("cluster_id"), F.col(id_col)).cast("long"),
        )
        .drop("cluster_id")
    )


def merge_entity_assignments(
    assignment: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Entity-assignment MAINTENANCE: fold a new batch's match edges
    into an existing ``(doc_id, entity_id)`` assignment without
    re-reading the corpus or its historical match pairs. Union-find
    invariant makes this exact: connecting every record to its
    component representative preserves components, so clustering the
    assignment's (doc_id → entity_id) links together with the new
    edges yields the SAME min-id entities as a rebuild over the union
    of all match edges ever seen — including the fusion case where a
    new edge bridges two existing entities (both collapse to the
    smaller label). ``merge(assign(A), B) ≡ assign(A ∪ B)`` is the
    pytest-pinned contract, the same maintenance shape as the MinHash
    /bench-gram/LM-count/IVF/variant-index families. Ids seen only in
    ``new_pairs`` enter the assignment; untouched singletons pass
    through. Cost tracks the (small) assignment + new-edge graph,
    never corpus text."""
    from .dedup import duplicate_clusters

    needed = {"doc_id", "entity_id"}
    if not needed <= set(assignment.columns):
        raise ValueError(
            f"merge_entity_assignments: assignment needs columns "
            f"{sorted(needed)}; got {assignment.columns}"
        )
    links = assignment.where(F.col("doc_id") != F.col("entity_id")).select(
        F.col("doc_id").alias("id_a"), F.col("entity_id").alias("id_b")
    )
    edges = links.unionByName(
        new_pairs.select(
            F.col(id_a).cast("long").alias("id_a"),
            F.col(id_b).cast("long").alias("id_b"),
        )
    )
    clusters = duplicate_clusters(edges)
    ids = (
        assignment.select(F.col("doc_id").cast("long").alias("doc_id"))
        .unionByName(new_pairs.select(F.col(id_a).cast("long").alias("doc_id")))
        .unionByName(new_pairs.select(F.col(id_b).cast("long").alias("doc_id")))
        .distinct()
    )
    return ids.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id"))
        .cast("long")
        .alias("entity_id"),
    )


class FieldRule:
    """One field's linkage rule: an agreement predicate over the pair
    row plus the Fellegi-Sunter (m, u) probabilities — m = P(agree |
    same entity), u = P(agree | different entities). Weights are
    precomputed driver-side as exact double literals so both engines
    evaluate the identical constants."""

    def __init__(self, name: str, agree: Column, m: float, u: float):
        if not (0.0 < u < m < 1.0):
            raise ValueError(
                f"field {name!r} needs 0 < u < m < 1 (agreement must be "
                f"more likely for true matches); got m={m}, u={u}"
            )
        self.name = name
        self.agree = agree
        self.agree_w = math.log2(m / u)
        self.disagree_w = math.log2((1.0 - m) / (1.0 - u))


def score_candidate_pairs(
    pairs: DataFrame,
    rules: list[FieldRule],
    upper: float,
    lower: float,
    verdicts: tuple[str, ...] | None = None,
) -> DataFrame:
    """Score candidate pairs by summed field log-odds and classify.

    ``pairs`` carries whatever columns the rules' agreement predicates
    reference (both sides' field values, already attached by the
    blocking stage). Adds per-field agreement flags (``agree_<name>``,
    long 0/1), the fixed-order ``score`` (round 9), and ``verdict`` —
    'match' (score ≥ upper), 'non_match' (score ≤ lower), else
    'possible' (the clerical-review band).

    ``verdicts`` BOUNDS THE OUTPUT: when set (e.g. ``('match',
    'possible')`` — the clerical-review feed), only pairs classified
    into those bands are emitted. This is the steady-state shape at
    scale: the candidate set from density-proportional blocking is
    dominated by pairs that agree only on weak fields and classify
    non_match — output quadratic in near-dup density if materialized
    (26.9M rows on the 10× fixture). The verdict filter is one more
    predicate in the SAME codegen projection (Catalyst fuses it; zero
    extra exchanges), so the non_match bulk is discarded before
    anything materializes and the emitted set tracks the TRUE
    match/review density instead. The unfiltered form stays available
    (``verdicts=None``) as the audit/oracle twin.

    Pure projection: one pass, no exchange, whole-stage codegen.
    """
    if not rules:
        raise ValueError("rules must be non-empty")
    if not upper > lower:
        raise ValueError(f"need upper > lower, got upper={upper}, lower={lower}")
    allowed = ("match", "possible", "non_match")
    if verdicts is not None:
        bad = [v for v in verdicts if v not in allowed]
        if bad or not verdicts:
            raise ValueError(
                f"verdicts must be a non-empty subset of {allowed}; got {verdicts}"
            )
    score = F.lit(0.0)
    out = pairs
    for r in rules:
        flag = F.when(r.agree, F.lit(1)).otherwise(F.lit(0))
        out = out.withColumn(f"agree_{r.name}", flag.cast("long"))
        score = score + F.when(
            F.col(f"agree_{r.name}") == 1, F.lit(r.agree_w)
        ).otherwise(F.lit(r.disagree_w))
    out = out.withColumn("score", F.round(score, 9)).withColumn(
        "verdict",
        F.when(F.col("score") >= F.lit(upper), F.lit("match"))
        .when(F.col("score") <= F.lit(lower), F.lit("non_match"))
        .otherwise(F.lit("possible")),
    )
    if verdicts is not None:
        out = out.where(F.col("verdict").isin(*verdicts))
    return out


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995 —
    the merge/purge classic): sort records by a blocking key and emit
    every pair within ``window`` positions — candidate generation for
    record linkage that catches near-misses a hard equality block
    splits apart, with output linear in n·window instead of the
    quadratic per-block blow-up of equality blocking on skewed keys.
    The FastSS/SymSpell deletion-variant path (edit_distance_pairs)
    generates TYPO candidates; sorted-neighborhood generates
    PREFIX/SORT-ORDER candidates — production linkage runs several
    blocking passes and unions them.

    Output: ``(id_a, id_b, rank_dist)`` — ids of the pair (sort-order
    ids: a precedes b), and how many positions apart they sit (1 ..
    window-1). Downstream verify (edit distance, Fellegi-Sunter
    scoring) decides; blocking only proposes.

    Shape: the global sort order comes from layout.global_row_ids
    (range exchange + per-partition offsets — NOT the single-partition
    row_number window), then ``window−1`` equi-joins on ``rn + d``
    union away: every stage is a keyed exchange; nothing quadratic,
    nothing single-partition. The sort key is (key, id) — total, so
    the pairing is deterministic under ties."""
    if window < 2:
        raise ValueError(
            f"sorted_neighborhood_pairs: window must be >= 2, got {window}"
        )
    from .layout import global_row_ids

    base = global_row_ids(
        df.select(F.col(id_col), F.col(key_col)),
        [key_col, id_col],
        id_col="_rn",
    ).select(F.col(id_col), F.col("_rn")).localCheckpoint(eager=True)
    offsets = base.select(
        F.col(id_col).alias("id_a"),
        F.explode(
            F.array(*[F.lit(d) for d in range(1, window)])
        ).alias("rank_dist"),
        F.col("_rn"),
    ).select(
        "id_a",
        "rank_dist",
        (F.col("_rn") + F.col("rank_dist")).alias("_rn_b"),
    )
    right = base.select(F.col(id_col).alias("id_b"), F.col("_rn").alias("_rn_b"))
    return offsets.join(right, "_rn_b").select(
        "id_a", "id_b", F.col("rank_dist").cast("long").alias("rank_dist")
    )


def jaro_winkler(s1: str | None, s2: str | None) -> float | None:
    """Jaro-Winkler similarity of two strings (Jaro 1989, Winkler 1990
    — the U.S. Census Bureau's name-comparison metric, THE standard
    agreement scorer for person/organization fields in probabilistic
    linkage; public algorithm).

    Classic parameters: match window ⌊max(|a|,|b|)/2⌋−1, transposition
    half-counting, Winkler prefix boost p=0.1 over at most 4 common
    leading characters, applied only when the Jaro score ≥ 0.7. NULLs
    propagate (no verdict without both values); any empty string
    scores 0.0 — including both-empty, the DuckDB/rapidfuzz
    convention, so the SQL oracle restates exactly (pinned on a full
    pair grid in tests)."""
    if s1 is None or s2 is None:
        return None
    la, lb = len(s1), len(s2)
    if la == 0 or lb == 0:
        return 0.0
    if s1 == s2:
        return 1.0
    window = max(la, lb) // 2 - 1
    match_b = [False] * lb
    matches = 0
    a_matched = []
    for i, ch in enumerate(s1):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not match_b[j] and s2[j] == ch:
                match_b[j] = True
                matches += 1
                a_matched.append(i)
                break
    if matches == 0:
        return 0.0
    b_matched = [j for j in range(lb) if match_b[j]]
    half_transpositions = sum(
        1 for i, j in zip(a_matched, b_matched) if s1[i] != s2[j]
    )
    t = half_transpositions // 2
    m = float(matches)
    jaro = (m / la + m / lb + (m - t) / m) / 3.0
    if jaro < 0.7:
        return jaro
    prefix = 0
    for ca, cb in zip(s1[:4], s2[:4]):
        if ca != cb:
            break
        prefix += 1
    return jaro + prefix * 0.1 * (1.0 - jaro)


# Strings longer than this score via the scalar jaro_winkler instead of
# the batch char-matrix (whose memory is batch_rows x max_len).
_JW_VECTOR_MAX_LEN = 256


def _jaro_winkler_block(a_vals: list, b_vals: list) -> list:
    """Vectorized Jaro-Winkler over a batch of value pairs (numpy),
    replaying ``jaro_winkler``'s float64 arithmetic in the SAME
    operation order so every score is bit-identical to the scalar
    reference (pinned in tests on a fuzzed grid incl. the uint8/UCS4
    boundary). None in either position yields None.

    Vectorization shape (guide §4 — per-pair Python was ~15 µs/pair,
    this is ~3 µs): pairs are char-matrixed (UCS4 view; narrowed to
    uint8 when every code point < 256 — 4× less compare traffic) and
    sorted by |a| DESCENDING so matching step i only touches the rows
    with |a| > i (working set shrinks as i grows); the greedy
    first-in-window match, half-transposition count, and Winkler
    prefix boost are whole-batch numpy ops."""
    n = len(a_vals)
    out: list = [None] * n
    a_list: list[str] = []
    b_list: list[str] = []
    pos: list[int] = []
    for i, (x, y) in enumerate(zip(a_vals, b_vals)):
        if x is None or y is None:
            continue
        xs = x if isinstance(x, str) else str(x)
        ys = y if isinstance(y, str) else str(y)
        if len(xs) > _JW_VECTOR_MAX_LEN or len(ys) > _JW_VECTOR_MAX_LEN:
            # One pathological long string would pad the whole batch's
            # char matrix to its length (O(batch × maxlen) memory — r14
            # ADVICE); such rows take the scalar path, which is linear
            # per pair and bit-identical by construction.
            out[i] = round(jaro_winkler(xs, ys), 9)
            continue
        pos.append(i)
        a_list.append(xs)
        b_list.append(ys)
    k_all = len(pos)
    if k_all == 0:
        return out
    scores = np.zeros(k_all, dtype=np.float64)
    la_all = np.fromiter((len(s) for s in a_list), dtype=np.int64, count=k_all)
    lb_all = np.fromiter((len(s) for s in b_list), dtype=np.int64, count=k_all)
    empty = (la_all == 0) | (lb_all == 0)
    eq = np.fromiter(
        (x == y for x, y in zip(a_list, b_list)), dtype=bool, count=k_all
    )
    scores[eq & ~empty] = 1.0
    active = ~(eq | empty)
    if active.any():
        idx = np.nonzero(active)[0]
        la = la_all[idx]
        order = np.argsort(-la, kind="stable")
        idx = idx[order]
        la = la[order]
        lb = lb_all[idx]
        k = len(idx)
        maxla = int(la[0])
        maxlb = int(lb.max())
        A = (
            np.array([a_list[i] for i in idx], dtype=f"U{maxla}")
            .view(np.uint32)
            .reshape(k, maxla)
        )
        B = (
            np.array([b_list[i] for i in idx], dtype=f"U{maxlb}")
            .view(np.uint32)
            .reshape(k, maxlb)
        )
        if A.max() < 256 and B.max() < 256:
            A = A.astype(np.uint8)
            B = B.astype(np.uint8)
        w = np.maximum(la, lb) // 2 - 1
        jidx = np.arange(maxlb, dtype=np.int64)[None, :]
        matched_a = np.zeros((k, maxla), dtype=bool)
        matched_b = np.zeros((k, maxlb), dtype=bool)
        lbm1 = lb - 1
        neg_la = -la
        for i in range(maxla):
            ki = int(np.searchsorted(neg_la, -(i + 1), side="right"))
            if ki == 0:
                break
            lo = (i - w[:ki])[:, None]
            hi = np.minimum(i + w[:ki], lbm1[:ki])[:, None]
            cand = (
                (jidx >= lo)
                & (jidx <= hi)
                & ~matched_b[:ki]
                & (B[:ki] == A[:ki, i][:, None])
            )
            has = cand.any(axis=1)
            if has.any():
                rows = np.nonzero(has)[0]
                first = cand.argmax(axis=1)
                matched_b[rows, first[rows]] = True
                matched_a[rows, i] = True
        m = matched_a.sum(axis=1)
        ra, ca = np.nonzero(matched_a)
        rb, cb = np.nonzero(matched_b)
        ht = np.bincount(
            ra, weights=(A[ra, ca] != B[rb, cb]), minlength=k
        ).astype(np.int64)
        t = ht // 2
        res = np.zeros(k, dtype=np.float64)
        posm = m > 0
        if posm.any():
            mf = m[posm].astype(np.float64)
            jaro = (mf / la[posm] + mf / lb[posm] + (mf - t[posm]) / mf) / 3.0
            upto = min(4, maxla, maxlb)
            kp = int(posm.sum())
            pl = np.zeros(kp, dtype=np.int64)
            still = np.ones(kp, dtype=bool)
            Ap = A[posm]
            Bp = B[posm]
            lap = la[posm]
            lbp = lb[posm]
            for i in range(upto):
                same = still & (i < lap) & (i < lbp) & (Ap[:, i] == Bp[:, i])
                pl += same
                still = same
            res[posm] = np.where(
                jaro < 0.7, jaro, jaro + pl * 0.1 * (1.0 - jaro)
            )
        scores[idx] = res
    for j, s in zip(pos, scores.tolist()):
        out[j] = round(s, 9)
    return out


def jaro_winkler_pairs(
    pairs: DataFrame,
    left_col: str,
    right_col: str,
    out: str = "jw",
) -> DataFrame:
    """Attach a Jaro-Winkler similarity column to a CANDIDATE-PAIR
    table (the verify stage after blocking — FastSS/SymSpell handles
    bounded edit distance, sorted-neighborhood proposes rank
    neighbors; JW is the length-normalized scorer Fellegi-Sunter field
    rules consume for names). Arrow-batched pandas UDF (string-pair
    dynamic programming has no JVM expression form); cost is strictly
    per candidate pair — blocking upstream decides the join size, so
    the UDF never touches the quadratic space — and each Arrow batch
    is scored by the vectorized ``_jaro_winkler_block`` (bit-identical
    to the scalar ``jaro_winkler``, ~4× less Python time per pair).

    Scores round to 9 and match DuckDB's ``jaro_winkler_similarity``
    (same classic parameters), so composed queries stay hash-matched.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _jw(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            _jaro_winkler_block(a.tolist(), b.tolist()), dtype="float64"
        )

    return pairs.withColumn(out, _jw(F.col(left_col), F.col(right_col)))


def soundex_blocking_pairs(
    df: DataFrame,
    name_col: str,
    id_col: str,
    max_block: int = 200,
) -> DataFrame:
    """Phonetic blocking for record linkage (Russell & Odell's Soundex,
    US patents 1918/1922 — public domain and the textbook phonetic
    key): records whose names SOUND alike land in the same block even
    when they share no prefix and sit many edits apart (``Smith`` /
    ``Smyth``, ``Robert`` / ``Rupert``) — the third blocking axis next
    to the FastSS typo variants (edit_distance_pairs) and
    sorted-neighborhood prefix windows; production linkage unions all
    three and lets verify decide.

    Output: ``(id_a, id_b, code)`` — all within-block pairs (id_a <
    id_b) with their shared Soundex code, generated by one equi-join
    on the code (never a cartesian across blocks). Blocks larger than
    ``max_block`` are DROPPED with their size cap honest in the plan
    (the standard guard: a mega-block means the key is degenerate for
    those records — "SMITH" at national scale — and belongs to a
    different blocking pass, not a quadratic one here).

    Spark's built-in ``soundex`` (JVM expression, codegen) computes
    the key; correctness is pinned against an independent pure-Python
    implementation of the published algorithm in pytest (the gate
    runs rows-only: no SQL oracle — DuckDB has no soundex and the
    h/w-separator rule defeats a regexp restatement).

    Scale shape: one code-grain count (map-side combine), a broadcast
    size screen, then the self-equi-join on the code — output bounded
    by Σ C(block, 2) ≤ n·max_block/2."""
    if max_block < 2:
        raise ValueError(
            f"soundex_blocking_pairs: max_block must be >= 2, got {max_block}"
        )
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.soundex(F.upper(F.col(name_col))).alias("code"),
    ).where(F.col("code").isNotNull() & (F.col("code") != ""))
    sizes = keyed.groupBy("code").agg(F.count(F.lit(1)).alias("_n"))
    ok = sizes.where(F.col("_n") <= max_block).select("code")
    screened = keyed.join(F.broadcast(ok), "code")
    a = screened.select("code", F.col("_id").alias("id_a"))
    b = screened.select("code", F.col("_id").alias("id_b"))
    return (
        a.join(b, "code")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "code")
    )
