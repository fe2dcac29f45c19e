"""Property tests for the round-11 wave-5 operators: JS divergence vs
a direct numpy formula and its boundary pins, trimmed/winsorized means
vs numpy, Soundex vs an independent implementation of the published
algorithm (including the h/w-separator edge cases), the blocking-pair
contract, and the streaming skyline's exactness vs the batch
operator."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# JS divergence
# ---------------------------------------------------------------------------


def _jsd_ref(ca: dict, cb: dict) -> float:
    ta, tb = sum(ca.values()), sum(cb.values())
    keys = set(ca) | set(cb)
    s = 0.0
    for k in keys:
        p = ca.get(k, 0) / ta
        q = cb.get(k, 0) / tb
        m = (p + q) / 2
        if p > 0:
            s += 0.5 * p * math.log(p / m)
        if q > 0:
            s += 0.5 * q * math.log(q / m)
    return s


def test_js_divergence_matches_reference_and_bounds(spark):
    from dlp_rdb_bq_import_spark.operators.profiling import js_divergence

    rng = np.random.RandomState(3)
    cats = [f"w{i}" for i in range(30)]
    xa = rng.choice(cats, 500, p=np.ones(30) / 30)
    xb = rng.choice(cats[5:], 400)  # shifted support
    a = spark.createDataFrame([(str(v),) for v in xa], "k string")
    b = spark.createDataFrame([(str(v),) for v in xb], "k string")
    r = js_divergence(a, b, "k").collect()[0]
    ca = {c: int((xa == c).sum()) for c in set(xa)}
    cb = {c: int((xb == c).sum()) for c in set(xb)}
    # micro-log quantization bounds the error at ~1e-6 per nat
    assert r.jsd_nats == pytest.approx(_jsd_ref(ca, cb), abs=5e-6)
    assert 0 <= r.jsd_nats <= math.log(2) + 1e-9
    # identical -> exactly 0 (every log argument is exactly 1)
    same = js_divergence(a, a, "k").collect()[0]
    assert same.jsd_nats == 0.0
    # disjoint -> exactly ln 2 (every log argument is exactly 2)
    c = spark.createDataFrame([("zzz1",), ("zzz2,",)], "k string")
    dis = js_divergence(a, c, "k").collect()[0]
    assert dis.jsd_nats == pytest.approx(math.log(2), abs=2e-6)
    # empty side -> NULL
    e = spark.createDataFrame([], "k string")
    assert js_divergence(a, e, "k").collect()[0].jsd_nats is None


# ---------------------------------------------------------------------------
# trimmed / winsorized mean
# ---------------------------------------------------------------------------


def test_trimmed_mean_matches_numpy(spark):
    from dlp_rdb_bq_import_spark.operators.profiling import trimmed_mean

    rng = np.random.RandomState(5)
    x = np.round(np.concatenate([rng.normal(100, 10, 500), [10000.0, -5000.0]]), 2)
    df = spark.createDataFrame([(float(v),) for v in x], "x double")
    r = trimmed_mean(df, "x", lo=0.05, hi=0.95).collect()[0]
    lo, hi = np.percentile(x, [5, 95])  # numpy default == R-7
    assert r.p_lo == pytest.approx(lo, abs=1e-9)
    assert r.p_hi == pytest.approx(hi, abs=1e-9)
    kept = x[(x >= lo) & (x <= hi)]
    assert r.n == len(x) and r.n_kept == len(kept)
    assert r.trimmed_mean == pytest.approx(kept.mean(), abs=1e-6)
    assert r.winsorized_mean == pytest.approx(np.clip(x, lo, hi).mean(), abs=1e-6)
    # outliers poisoned the plain mean; the robust readouts sit near 100
    assert abs(x.mean() - 100) > 5 and abs(r.trimmed_mean - 100) < 2
    with pytest.raises(ValueError, match="lo < hi"):
        trimmed_mean(df, "x", lo=0.9, hi=0.1)
    e = spark.createDataFrame([], "x double")
    assert trimmed_mean(e, "x").collect()[0].trimmed_mean is None


# ---------------------------------------------------------------------------
# Soundex
# ---------------------------------------------------------------------------

_SOUNDEX_CODE = {
    **dict.fromkeys("BFPV", "1"),
    **dict.fromkeys("CGJKQSXZ", "2"),
    **dict.fromkeys("DT", "3"),
    "L": "4",
    **dict.fromkeys("MN", "5"),
    "R": "6",
}


def _soundex_ref(name: str) -> str | None:
    """Independent implementation of the published algorithm (Russell
    & Odell; the 'American Soundex' rules): adjacent same-code letters
    collapse; H/W are transparent separators (same-code letters across
    them still collapse); vowels break runs; pad/truncate to 4."""
    letters = [c for c in name.upper() if c.isalpha()]
    if not letters:
        return None
    first = letters[0]
    out = [first]
    last_code = _SOUNDEX_CODE.get(first, "")
    for ch in letters[1:]:
        code = _SOUNDEX_CODE.get(ch, "")
        if code:
            if code != last_code:
                out.append(code)
            last_code = code
        elif ch not in "HW":
            last_code = ""  # vowels reset the run; H/W do not
    return (out[0] + "".join(out[1:]) + "000")[:4]


def test_spark_soundex_matches_published_algorithm(spark):
    names = [
        "Robert", "Rupert", "Ashcraft", "Ashcroft", "Tymczak", "Pfister",
        "Smith", "Smyth", "Johnson", "Jonson", "Miller", "Mueller",
        "Garcia", "Gracia", "Honeyman", "Washington", "Lee", "Gutierrez",
        "Jackson", "VanDeusen", "Deusen", "O'Brien", "McDonald",
    ]
    # classic published pins first
    assert _soundex_ref("Robert") == "R163" and _soundex_ref("Rupert") == "R163"
    assert _soundex_ref("Ashcraft") == "A261"  # the h-separator rule
    assert _soundex_ref("Tymczak") == "T522"
    assert _soundex_ref("Pfister") == "P236"
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        r.name: r.code
        for r in df.select("name", F.soundex(F.upper("name")).alias("code")).collect()
    }
    for n in names:
        assert got[n] == _soundex_ref(n), n


def test_soundex_blocking_pairs_contract(spark):
    from dlp_rdb_bq_import_spark.operators.linkage import soundex_blocking_pairs

    rows = [
        (1, "Smith"), (2, "Smyth"), (3, "Robert"), (4, "Rupert"),
        (5, "Garcia"), (6, "Zzyzx"),
    ] + [(100 + i, "Common") for i in range(10)]
    df = spark.createDataFrame(rows, "id long, name string")
    pairs = soundex_blocking_pairs(df, "name", "id", max_block=5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got and (3, 4) in got  # phonetic twins co-block
    assert not any(5 in p or 6 in p for p in got)  # singletons pair with nobody
    assert not any(a >= 100 for a, _ in got)  # the mega-block was screened
    with pytest.raises(ValueError, match="max_block"):
        soundex_blocking_pairs(df, "name", "id", max_block=1)


# ---------------------------------------------------------------------------
# streaming skyline ≡ batch skyline
# ---------------------------------------------------------------------------


def test_streaming_skyline_equals_batch(spark, micro_batches):
    from dlp_rdb_bq_import_spark.operators.sampling import skyline
    from dlp_rdb_bq_import_spark.streaming.jobs import streaming_skyline

    rng = np.random.RandomState(9)
    pts = np.round(rng.uniform(0, 100, (200, 2)), 1)
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(pts)],
        "id long, price double, qual double",
    )
    batch = {
        r.id for r in skyline(df, minimize=["price"], maximize=["qual"]).collect()
    }
    streamed = {
        r.id
        for r in streaming_skyline(
            spark,
            df.repartitionByRange(4, "id"),
            minimize=["price"],
            maximize=["qual"],
        ).collect()
    }
    assert streamed == batch and len(batch) > 0
    assert micro_batches.count() >= 2  # the merge branch ran
