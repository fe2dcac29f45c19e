"""Round-14 optimization regression tests. The branch parity of the
measured-size driver fast paths on registered queries lives in
tests/test_dual_path_parity.py; the k-center toy cases stay here."""

from __future__ import annotations

import pytest


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def emb(spark):
    import random

    rng = random.Random(41)
    data = [
        (i, [round(rng.uniform(-1, 1), 6) for _ in range(8)]) for i in range(60)
    ]
    return spark.createDataFrame(data, "vec_id long, embedding array<double>")


def test_kcenter_driver_path_equals_distributed(spark, emb, driver_bound):
    from dlp_rdb_bq_import_spark.operators import similarity

    fast = _rows(similarity.kcenter_sample(emb, k=9), "vec_id", "pick_order")
    # force the distributed loop by zeroing the bound
    driver_bound(0)
    slow = _rows(similarity.kcenter_sample(emb, k=9), "vec_id", "pick_order")
    assert fast == slow
    assert len(fast) == 9


def test_kcenter_driver_path_cell_bound_falls_back(spark, emb, driver_bound):
    from dlp_rdb_bq_import_spark import operators
    from dlp_rdb_bq_import_spark.operators import similarity

    # a bound of 1 value can never fit 60 rows x 8 dims — must fall back, not fail
    driver_bound(1)
    key = ("kcenter_sample", "distributed")
    before = operators.FIXPOINT_BRANCHES.get(key, 0)
    out = _rows(similarity.kcenter_sample(emb, k=3), "vec_id", "pick_order")
    assert len(out) == 3
    assert operators.FIXPOINT_BRANCHES.get(key, 0) > before


def test_bpe_learn_driver_path_empty_and_single_char(spark):
    from dlp_rdb_bq_import_spark.operators import text

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert text.bpe_learn(empty, num_merges=4).count() == 0
    singles = spark.createDataFrame(
        [(1, "a b c"), (2, "a b")], "doc_id long, text string"
    )
    # no adjacent pair ever repeats inside a word — zero merges
    assert text.bpe_learn(singles, num_merges=4).count() == 0


def test_graph_loop_rank_parity(spark):
    """pagerank / hits must match a small reference computed the
    straightforward way (guards any future change to the loop's
    checkpoint discipline — the r14 lazy-round experiment measurably
    REGRESSED and was reverted; see OPTIMIZATION_r14.md)."""
    import numpy as np

    from dlp_rdb_bq_import_spark.operators.graph import hits, pagerank

    edges = [(i, (i * 3 + 1) % 7) for i in range(7)] + [(0, 3), (5, 2), (6, 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(e, iterations=12).collect()}

    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {u: [] for u in nodes}
    for u, v in edges:
        out[u].append(v)
    r = np.full(n, 1.0 / n)
    d = 0.85
    for _ in range(12):
        nxt = np.zeros(n)
        dm = sum(r[idx[u]] for u in nodes if not out[u])
        for u in nodes:
            for v in out[u]:
                nxt[idx[v]] += r[idx[u]] / len(out[u])
        r = (1 - d) / n + d * (nxt + dm / n)
    for u in nodes:
        assert got[u] == pytest.approx(r[idx[u]], rel=1e-9, abs=1e-12)

    hs = hits(e, iterations=8).collect()
    assert len(hs) == n
    assert sum(x["hub"] for x in hs) == pytest.approx(1.0)
    assert sum(x["authority"] for x in hs) == pytest.approx(1.0)


def test_attach_media_with_meta_false_same_payloads(spark):
    """with_meta=False must change ONLY the metadata columns (zeroed):
    payload bytes, media_type and sniffed format stay byte-identical,
    so every consumer that re-derives its stats from the payload is
    unaffected (the r14 decode-for-metadata cut)."""
    from dlp_rdb_bq_import_spark.operators.multimodal import attach_media

    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    for media, container in (
        ("image", None), ("image", "png"), ("audio", None), ("video", None)
    ):
        full = {
            r["doc_id"]: r
            for r in attach_media(ids, media=media, container=container).collect()
        }
        lean = {
            r["doc_id"]: r
            for r in attach_media(
                ids, media=media, container=container, with_meta=False
            ).collect()
        }
        assert set(full) == set(lean) == set(range(12))
        for i in range(12):
            assert bytes(lean[i]["payload"]) == bytes(full[i]["payload"])
            assert lean[i]["media_type"] == full[i]["media_type"]
            assert lean[i]["format"] == full[i]["format"]
            assert (lean[i]["width"], lean[i]["height"], lean[i]["duration_ms"]) == (
                0, 0, 0,
            )


def test_extract_features_ignores_with_meta(spark):
    """extract_features re-decodes the payload, so its output is
    identical whether attach_media paid the metadata decode or not."""
    from dlp_rdb_bq_import_spark.operators.multimodal import (
        attach_media,
        extract_features,
    )

    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    cols = ["doc_id", "byte_len", "width", "height", "mean_px"]
    a = sorted(
        tuple(r) for r in extract_features(attach_media(ids)).select(*cols).collect()
    )
    b = sorted(
        tuple(r)
        for r in extract_features(attach_media(ids, with_meta=False))
        .select(*cols)
        .collect()
    )
    assert a == b


def test_fan_out_preserves_rows_and_widens(spark):
    """The conditional fan_out (kept at the URL-canon seam) is a pure
    repartition: the row multiset must be identical and a narrow input
    must come out widened to the session's parallelism, while an
    already-wide input passes through untouched."""
    from dlp_rdb_bq_import_spark.operators import fan_out

    df = spark.createDataFrame(
        [(i, f"name{i:03d}") for i in range(50)], "id long, name string"
    ).coalesce(1)
    out = fan_out(df)
    assert (
        out.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    )
    assert sorted(tuple(r) for r in out.collect()) == sorted(
        tuple(r) for r in df.collect()
    )
    wide = df.repartition(spark.sparkContext.defaultParallelism + 5)
    assert fan_out(wide) is wide


def test_k1_variant_stream_row_contract(spark):
    """The FastSS variant stream (fan_out deliberately removed — see
    the in-process A/B documented at the site) still yields exactly
    len+1 variants per string with pos 0 the undeleted original."""
    from dlp_rdb_bq_import_spark.operators.dedup import _k1_variant_stream

    df = spark.createDataFrame(
        [(i, f"name{i:03d}") for i in range(50)], "id long, name string"
    ).coalesce(1)
    rows = sorted(tuple(r) for r in _k1_variant_stream(df, "name", "id", []).collect())
    assert len(rows) == 50 * (len("name000") + 1)
    ref = sorted(
        tuple(r) for r in _k1_variant_stream(df.repartition(4), "name", "id", []).collect()
    )
    assert rows == ref


def test_jaro_winkler_block_bit_identical_to_scalar():
    """The vectorized Arrow-batch JW scorer must reproduce the scalar
    reference bit-for-bit (pre-round float equality via the rounded
    value both sides compute identically): fuzzed lengths 0..28 over
    alphabets that cross the uint8 narrowing boundary (ASCII, latin-1
    edge U+00FF/U+0100, astral), shared-prefix pairs that exercise the
    Winkler boost, equal/empty/None/non-str values."""
    import random

    from dlp_rdb_bq_import_spark.operators.linkage import (
        _jaro_winkler_block,
        jaro_winkler,
    )

    rng = random.Random(42)
    cases: list[tuple] = [
        ("MARTHA", "MARHTA"),
        ("DIXON", "DICKSONX"),
        ("", ""),
        ("", "x"),
        ("AB", "AB"),
        (None, "x"),
        ("x", None),
        (None, None),
        (123, 124),  # non-str goes through str()
    ]
    for alphabet, maxlen in [
        ("ABCDEF", 12),
        ("ABCDEFGHIJKLMNOPQRSTUVWXYZ .'-", 28),
        ("abÿĀ", 8),
        ("abé中\U0001f600", 10),
    ]:
        for _ in range(1500):
            la = rng.randint(0, maxlen)
            lb = rng.randint(0, maxlen)
            s1 = "".join(rng.choice(alphabet) for _ in range(la))
            if la and lb and rng.random() < 0.5:
                cut = rng.randint(0, min(la, 6))
                s2 = s1[:cut] + "".join(
                    rng.choice(alphabet) for _ in range(max(0, lb - cut))
                )
            else:
                s2 = "".join(rng.choice(alphabet) for _ in range(lb))
            if rng.random() < 0.05:
                s2 = s1
            cases.append((s1, s2))
    a_vals = [c[0] for c in cases]
    b_vals = [c[1] for c in cases]
    got = _jaro_winkler_block(a_vals, b_vals)
    for (x, y), g in zip(cases, got):
        if x is None or y is None:
            assert g is None
        else:
            ref = round(jaro_winkler(str(x), str(y)), 9)
            assert g == ref, (x, y, g, ref)
