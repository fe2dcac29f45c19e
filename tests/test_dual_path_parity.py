"""Both branches of every dual-path operator give the same answer.

Each case runs once at the default driver bound and once with the bound
forced to 0, checks from ``FIXPOINT_BRANCHES`` that the operator really
took its driver branch and then its distributed branch, and compares
the rows. The exact-integer operators (k-core, label propagation,
connected components, k-center, BPE) must give identical sorted rows.
PageRank, personalized PageRank and HITS must give the same nodes with
scores within 1e-12: their branches differ only in float summation
order. One registered query per operator runs at the sf0.001 smoke
fixture, or at sf0.01 for the domestic co-supply graph, which has no
edges among sf0.001's ten suppliers. The toy inputs cover what the
registry does not: weights, string ids, a self-loop-only node and BPE
segmentations."""

from __future__ import annotations

import logging
import os

import pytest

from dlp_rdb_bq_import_spark import harness, operators
from dlp_rdb_bq_import_spark.operators import graph, text

_TOY = [(i, (i * 3 + 1) % 9) for i in range(9)] + [
    (0, 4), (7, 2), (8, 1), (3, 3), (5, 1)
]
# two components + a chain + a self-loop-only node (8) + parallel directions
_COMPONENTS = [
    (1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 7), (2, 1),
    (8, 8), (9, 10), (10, 11), (12, 13),
]


def _registered(name, fixture=None):
    """Registered query ``name`` at the smoke fixture, or at its sibling
    ``fixture`` scale where the smoke graph is empty."""

    def build(spark, sf_dir):
        if fixture is not None:
            sf_dir = os.path.join(os.path.dirname(sf_dir), fixture)
            if not os.path.isdir(sf_dir):
                pytest.skip(f"{fixture} fixtures not present")
        return harness.queries()[name](spark, sf_dir)

    return build


def _weighted_toy(spark, _sf):
    we = spark.createDataFrame(
        [(u, v, float(1 + (u + v) % 3)) for u, v in _TOY],
        "src long, dst long, w double",
    )
    return graph.pagerank(we, weight_col="w", iterations=4)


def _string_components(spark):
    return spark.createDataFrame(
        [(f"h{u}", f"h{v}") for u, v in _COMPONENTS], "src string, dst string"
    )


def _bpe_segments(spark, _sf):
    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low low"),
            (2, "new newer newest new knew"),
            (3, "low new low new widest wide wide"),
        ],
        "doc_id long, text string",
    )
    return text.bpe_learn(docs, num_merges=10, return_segments=True)


# (case id, operator whose branch is checked, build(spark, sf_dir), exact)
CASES = [
    ("kcore_supplier", "kcore", _registered("kcore_supplier", "sf0.01"), True),
    ("communities_supplier", "label_propagation",
     _registered("communities_supplier", "sf0.01"), True),
    ("connected_components_star", "connected_components",
     _registered("connected_components_star", "sf0.01"), True),
    ("kcenter_diversity_sample", "kcenter_sample",
     _registered("kcenter_diversity_sample"), True),
    ("bpe_merges", "bpe_learn_merges", _registered("bpe_merges"), True),
    ("pagerank_supplier_part", "pagerank",
     _registered("pagerank_supplier_part"), False),
    ("personalized_pagerank_seeds", "personalized_pagerank",
     _registered("personalized_pagerank_seeds"), False),
    ("host_hits_scores", "hits", _registered("host_hits_scores"), False),
    ("toy_weighted_pagerank", "pagerank", _weighted_toy, False),
    ("toy_components_string_ids", "connected_components",
     lambda spark, _sf: graph.connected_components(_string_components(spark)), True),
    ("toy_communities_string_ids", "label_propagation",
     lambda spark, _sf: graph.label_propagation(_string_components(spark)), True),
    ("toy_bpe_segments", "bpe_learn_merges", _bpe_segments, True),
]


def _run(build, spark, sf_dir, op, branch):
    key = (op, branch)
    before = operators.FIXPOINT_BRANCHES.get(key, 0)
    rows = sorted(tuple(r) for r in build(spark, sf_dir).collect())
    assert operators.FIXPOINT_BRANCHES.get(key, 0) > before, f"{op} skipped its {branch} branch"
    return rows


@pytest.mark.parametrize(
    "op,build,exact", [c[1:] for c in CASES], ids=[c[0] for c in CASES]
)
def test_dual_path_branch_parity(spark, sf_dir, driver_bound, op, build, exact):
    fast = _run(build, spark, sf_dir, op, "driver")
    driver_bound(0)
    slow = _run(build, spark, sf_dir, op, "distributed")
    assert fast, "an empty result compares nothing"
    if exact:
        assert fast == slow
        return
    # float power methods: same nodes, each score within 1e-12
    assert [r[0] for r in fast] == [r[0] for r in slow]
    for a, b in zip(fast, slow):
        assert a[1:] == pytest.approx(b[1:], abs=1e-12), a[0]


@pytest.mark.parametrize("bound", [operators.DRIVER_VALUE_BOUND, -1])
def test_dual_path_error_contracts(spark, driver_bound, bound):
    """The seed, weight and round-cap errors are the same on both
    branches. connected_components' union-find branch has no rounds, so
    only its distributed loop can run out of them."""
    driver_bound(bound)
    e = spark.createDataFrame(_TOY, "src long, dst long")
    with pytest.raises(ValueError, match="empty seed set"):
        graph.personalized_pagerank(e, spark.createDataFrame([], "node long"))
    with pytest.raises(ValueError, match="1 seed.s. not present"):
        graph.personalized_pagerank(e, spark.createDataFrame([(12345,)], "node long"))
    with pytest.raises(ValueError, match="NULL weights"):
        graph.pagerank(
            spark.createDataFrame([(1, 2, None)], "src long, dst long, w double"),
            weight_col="w",
        )
    chain = spark.createDataFrame([(i, i + 1) for i in range(12)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.kcore(chain, k=2, max_iterations=1)
    with pytest.raises(ValueError, match="max_iterations"):
        graph.connected_components(chain, max_iterations=0)
    if bound < 0:
        with pytest.raises(RuntimeError, match="did not converge"):
            graph.connected_components(chain, max_iterations=1)
    else:
        assert len(graph.connected_components(chain, max_iterations=1).collect()) == 13
    # empty edge lists give empty results on both branches
    empty = spark.createDataFrame([], "src long, dst long")
    assert graph.pagerank(empty).count() == 0
    assert graph.hits(empty).count() == 0
    assert graph.label_propagation(empty).count() == 0


def test_branch_decision_is_logged(caplog, monkeypatch):
    """The one driver-or-distributed rule records and logs each decision
    through the package logger, and collects only within the bound."""
    monkeypatch.setattr(operators, "FIXPOINT_BRANCHES", {})
    with caplog.at_level(logging.INFO, logger="dlp_rdb_bq_import_spark"):
        assert operators.driver_payload("parity_probe", 3, lambda: [1, 2, 3]) == [1, 2, 3]
        assert operators.driver_payload(
            "parity_probe", operators.DRIVER_VALUE_BOUND + 1, lambda: 1 / 0
        ) is None
        assert operators.driver_payload("parity_probe", 0, lambda: None) is None
    assert operators.FIXPOINT_BRANCHES == {
        ("parity_probe", "driver"): 1, ("parity_probe", "distributed"): 2
    }
    assert [r.getMessage() for r in caplog.records] == [
        "fixpoint-branch parity_probe=driver",
        "fixpoint-branch parity_probe=distributed",
        "fixpoint-branch parity_probe=distributed",
    ]
