"""Text-analysis operators over document tables.

All the hot-path scoring is built-in-function arithmetic (JVM-side,
codegen'd, oracle-exact); Python appears only in the winnowing
fingerprint UDF. Formulas deliberately use engine-portable primitives
(split/length/replace) so the DuckDB oracle can state the identical
expression — regex dialect differences are avoided by construction.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import driver_payload, local_rows_df
# Tiny deterministic marker-word lists per language for the n-gram/
# stopword language-ID heuristic. The point is a deterministic,
# SQL-expressible scorer, not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "ist", "nicht"),
    "es": ("el", "la", "que", "de", "es"),
    "fr": ("le", "la", "et", "est", "les"),
}

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def _occurrences(text: Column, needle: str) -> Column:
    """Count non-overlapping occurrences via length arithmetic —
    identical semantics in Spark and ANSI SQL (no regex dialects)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def token_count(text: Column) -> Column:
    """Whitespace token count (split on single spaces; fixture text is
    single-spaced word soup)."""
    return F.size(F.split(text, " ")).cast("long")


def word_occurrences(text: Column, word: str) -> Column:
    """Occurrences of a word with space padding (cheap stopword counter)."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    return _occurrences(padded, f" {word} ")


# BPE-ish pre-tokenization: letter runs, single digits, single
# non-alphanumeric marks — the classic subword pre-split shape. Pure
# character-class alternation, so Java regex (Spark) and RE2 (DuckDB)
# agree byte-for-byte.
SUBWORD_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def subword_token_count(text: Column) -> Column:
    """Count of BPE-style pre-tokens (a proxy for LLM token cost that,
    unlike whitespace counts, bills digits and punctuation)."""
    return F.size(F.regexp_extract_all(text, F.lit(SUBWORD_PATTERN), 0)).cast("long")


def quality_score(text: Column) -> Column:
    """Deterministic quality heuristic in [0, ~1]: length band +
    stopword presence + punctuation sparsity. Pure double arithmetic —
    per-row deterministic, oracle-exact."""
    n_chars = F.length(text).cast("double")
    n_tokens = token_count(text).cast("double")
    stop_hits = sum((word_occurrences(text, w) for w in STOPWORDS), F.lit(0)).cast("double")
    punct = _occurrences(text, ".") + _occurrences(text, ",") + _occurrences(text, "!")
    len_score = F.least(n_chars / F.lit(400.0), F.lit(1.0))
    stop_ratio = F.least(stop_hits / F.greatest(n_tokens, F.lit(1.0)) * F.lit(4.0), F.lit(1.0))
    punct_penalty = F.least(punct.cast("double") / F.greatest(n_tokens, F.lit(1.0)), F.lit(1.0))
    return F.round(len_score * F.lit(0.4) + stop_ratio * F.lit(0.4) + (F.lit(1.0) - punct_penalty) * F.lit(0.2), 9)


def lang_hits(text: Column, lang: str) -> Column:
    """Total marker-word occurrences for one language."""
    return sum((word_occurrences(text, w) for w in LANG_MARKERS[lang]), F.lit(0)).cast("long")


def lang_id(text: Column) -> Column:
    """Marker-word language scorer: first language (in declaration
    order) whose hit count equals the max and is > 0, else 'und'.

    Deliberately a CASE-cascade (not greatest-over-structs) so the
    DuckDB oracle can state the byte-identical expression.
    """
    langs = list(LANG_MARKERS)
    hits = {lang: lang_hits(text, lang) for lang in langs}
    expr = F.lit("und")
    for lang in reversed(langs):
        cond = hits[lang] > 0
        for other in langs:
            if other != lang and langs.index(other) < langs.index(lang):
                cond = cond & (hits[lang] > hits[other])
            elif other != lang:
                cond = cond & (hits[lang] >= hits[other])
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def analyze_documents(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The combined text-analysis projection: token/char counts, quality
    score, predicted language, exact fingerprint."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.length(t).alias("n_chars_obs"),
        token_count(t).alias("n_tokens"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
        F.md5(t).alias("fingerprint"),
    )


_WINNOW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("winnow_fingerprints", T.ArrayType(T.LongType())),
    ]
)


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    public algorithm): k-gram polynomial hashes (base 257, modulus
    2^64 — numpy uint64 wraparound IS the modulus, which is what makes
    the kernel vectorizable), keep the minimum in each sliding window,
    dedup consecutive picks.

    Arrow-batched numpy, no per-character Python: gram hashes come from
    the O(n) prefix-sum factorization (see ``_gram_hashes``) and the
    window minimum from w-1 pairwise minima — flat passes only, no
    (n × k) or (n × w) intermediates. Rows-only correctness check in
    the gate; the numeric semantics are pinned against an independent
    non-rolling reference in tests/test_llm_ops.py."""

    B = 257
    # B is odd, hence invertible mod 2^64: the k-gram hash
    # h[i] = Σ s[i+j]·B^(k-1-j) factors as B^(i+k-1) · Σ s[m]·B^(-m)
    # over m∈[i,i+k), so ONE cumsum of s[m]·Binv^m plus two elementwise
    # multiplies computes every hash in O(n) — replacing the O(n·k)
    # windowed matrix product. uint64 wraparound IS mod 2^64, and every
    # step (cumprod powers, cumsum, difference, product) is exact under
    # it, so the values are bit-identical to the direct form.
    B_INV = pow(B, -1, 1 << 64)

    def _dedup(mins: "np.ndarray") -> "np.ndarray":
        keep = np.ones(len(mins), dtype=bool)
        keep[1:] = mins[1:] != mins[:-1]
        # ndarray cells pass straight through Arrow as list<int64> —
        # no per-doc Python list materialization
        return mins[keep].view(np.int64)

    def _gram_hashes(joined: "np.ndarray") -> "np.ndarray":
        """All k-gram hashes of a byte slice in O(n) flat passes."""
        n = len(joined)
        powb = np.full(n, B, dtype=np.uint64)
        powb[0] = 1
        np.multiply.accumulate(powb, out=powb)  # powb[m] = B^m mod 2^64
        pinv = np.full(n, B_INV, dtype=np.uint64)
        pinv[0] = 1
        np.multiply.accumulate(pinv, out=pinv)  # pinv[m] = B^-m mod 2^64
        pinv *= joined  # t[m] = s[m]·B^-m
        np.add.accumulate(pinv, out=pinv)  # C[m] = Σ t[0..m]
        s = pinv[k - 1 :].copy()  # S_i = C[i+k-1] - C[i-1]
        s[1:] -= pinv[: n - k]
        s *= powb[k - 1 :]  # h[i] = B^(i+k-1) · S_i
        return s

    def _window_mins(hashes: "np.ndarray", w: int) -> "np.ndarray":
        """Sliding-window minimum via w-1 pairwise minima on shifted
        views — no (n × w) matrix materialization."""
        m = hashes[: len(hashes) - w + 1].copy()
        for shift in range(1, w):
            np.minimum(m, hashes[shift : shift + len(m)], out=m)
        return m

    # Cap on concatenated text bytes per vectorized slice: the kernel
    # holds ~6 uint64 arrays of intermediates (~48 bytes per text
    # byte), so a cap bounds peak memory at ~1.5 GB regardless of
    # Arrow batch byte size (maxRecordsPerBatch caps rows, not bytes —
    # a batch of huge documents must not OOM the Python worker).
    slice_bytes = 32 << 20

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Whole-SLICE vectorization: concatenate a bounded run of docs,
        # hash all k-grams and take all window-mins in ONE numpy pass
        # each, then slice per-doc views. Windows that straddle a doc
        # boundary exist in the global arrays but are never read (each
        # doc slices only its interior), so the output is bit-identical
        # to the per-doc kernel while the per-doc Python cost drops to
        # two slices (~3x fewer ms/doc at 50k-doc scale).
        for pdf in batches:
            ids, fps = [], []
            blobs = [(t or "").encode("utf-8") for t in pdf[text_col]]
            doc_ids = list(pdf[id_col])
            i = 0
            while i < len(blobs):
                j, total = i, 0
                while j < len(blobs) and (j == i or total + len(blobs[j]) <= slice_bytes):
                    total += len(blobs[j])
                    j += 1
                joined = np.frombuffer(
                    b"".join(blobs[i:j]), dtype=np.uint8
                ).astype(np.uint64)
                all_hashes = all_mins = None
                if len(joined) >= k:
                    with np.errstate(over="ignore"):
                        all_hashes = _gram_hashes(joined)
                        if len(all_hashes) > window:
                            all_mins = _window_mins(all_hashes, window)
                off = 0
                for doc_id, s in zip(doc_ids[i:j], blobs[i:j]):
                    ids.append(doc_id)
                    n_h = len(s) - k + 1  # k-gram hash count for this doc
                    if n_h < 1:
                        fps.append([])
                    else:
                        hashes = all_hashes[off : off + n_h]
                        if n_h <= window:
                            mins = hashes.min(keepdims=True)
                        else:
                            mins = all_mins[off : off + n_h - window + 1]
                        fps.append(_dedup(mins))
                    off += len(s)
                i = j
            yield pd.DataFrame({"doc_id": ids, "winnow_fingerprints": fps})

    # CPU-bound Arrow kernel: widen a narrow scan to the session's
    # parallelism first (no-op when the corpus already has more splits
    # than cores — see operators.fan_out)
    from . import fan_out

    return fan_out(
        df.select(F.col(id_col).cast("long").alias(id_col), text_col)
    ).mapInPandas(compute, schema=_WINNOW_SCHEMA)


def winnowing_fingerprint_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints as scalar-sortable exploded rows
    (doc_id, pos, fingerprint) — the harness/sink-facing shape (array
    columns defeat canonical row sorting downstream). Docs shorter than
    k keep one row with null pos/fingerprint so every input id appears.
    """
    arr = winnowing_fingerprints(df, text_col, id_col, k, window)
    return arr.select(
        F.col("doc_id"),
        F.posexplode_outer("winnow_fingerprints").alias("pos", "fingerprint"),
    ).select(F.col("doc_id"), F.col("pos").cast("long").alias("pos"), F.col("fingerprint"))


# ---------------------------------------------------------------------------
# Training-data quality rules (Gopher/C4-style) and repetition stats
# ---------------------------------------------------------------------------


def word_repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals: word count, distinct-word ratio
    and top-word ratio (most frequent word's share). The distinct ratio
    is a pure array expression; the top-word share aggregates the
    exploded words — one shuffle keyed by (doc, word), partial counts
    map-side."""
    words = F.split(F.col(text_col), " ")
    base = df.select(
        F.col(id_col),
        F.size(words).cast("long").alias("n_words"),
        F.round(
            F.size(F.array_distinct(words)).cast("double")
            / F.greatest(F.size(words), F.lit(1)).cast("double"),
            9,
        ).alias("distinct_ratio"),
    )
    top = (
        df.select(F.col(id_col), F.explode(words).alias("_w"))
        .groupBy(id_col, "_w")
        .agg(F.count("*").alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").alias("_top"))
    )
    return base.join(top, id_col).select(
        id_col,
        "n_words",
        "distinct_ratio",
        F.round(F.col("_top").cast("double") / F.col("n_words").cast("double"), 9).alias(
            "top_word_ratio"
        ),
    )


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_top_word_ratio: float = 0.2,
    min_distinct_ratio: float = 0.3,
) -> DataFrame:
    """Gopher-style quality gate: per-doc stats plus a single ``keep``
    verdict. Mean word length uses the single-spaced identity
    (chars - (words-1)) / words, so every stat except the top-word
    share is scan-local arithmetic; stopword presence reuses the
    quality_score machinery."""
    stats = word_repetition_stats(df, text_col, id_col)
    t = F.col(text_col)
    scan = df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("n_chars"),
        sum((word_occurrences(t, w) for w in STOPWORDS), F.lit(0))
        .cast("long")
        .alias("stop_hits"),
    )
    joined = stats.join(scan, id_col)
    mean_wl = (
        (F.col("n_chars") - (F.col("n_words") - 1)).cast("double")
        / F.greatest(F.col("n_words"), F.lit(1)).cast("double")
    )
    keep = (
        F.col("n_words").between(min_words, max_words)
        & mean_wl.between(min_mean_word_len, max_mean_word_len)
        & (F.col("stop_hits") > 0)
        & (F.col("top_word_ratio") <= max_top_word_ratio)
        & (F.col("distinct_ratio") >= min_distinct_ratio)
    )
    return joined.select(
        id_col,
        "n_words",
        F.round(mean_wl, 9).alias("mean_word_len"),
        "distinct_ratio",
        "top_word_ratio",
        "stop_hits",
        keep.alias("keep"),
    )


def redact_text(
    df: DataFrame,
    text_col: str = "text",
    info_types: tuple[str, ...] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Corpus-scale PII redaction: replace every InfoType detector match
    with ``[INFO_TYPE]``. Reuses the detector registry the tokenization
    surface uses (functions/tokenize.INFO_TYPE_DETECTORS — the
    deterministic stand-ins for DLP's detectors, README.md:195-279),
    but runs entirely JVM-side as a regexp_replace chain: no Python in
    the path, codegen keeps it inside the scan stage.

    Detector order is registry order; earlier redactions mask their
    span from later detectors (DLP resolves overlaps by likelihood —
    a fixed precedence is a deterministic engine's equivalent).
    """
    from ..functions.tokenize import INFO_TYPE_DETECTORS

    names = info_types if info_types is not None else tuple(INFO_TYPE_DETECTORS)
    col = F.col(text_col)
    for name in names:
        col = F.regexp_replace(col, INFO_TYPE_DETECTORS[name], f"[{name}]")
    return df.withColumn(out_col or text_col, col)


def pii_profile(
    df: DataFrame,
    cols: tuple[str, ...],
    info_types: tuple[str, ...] | None = None,
) -> DataFrame:
    """Table-level InfoType scan report — the profiling face of the
    reference's inspect surface (README.md:283-339 configures per-table
    inspection; this reports it): for every (column, info_type), rows
    scanned, rows with at least one match, and total matches.

    One aggregation job over the table: every (column, detector) pair
    is a JVM `regexp_count` expression aggregated in the same pass
    (no per-detector rescans), then the wide row is melted to long form
    with `stack` — same shape as `operators/profiling.table_profile`.
    """
    from ..functions.tokenize import INFO_TYPE_DETECTORS

    names = info_types if info_types is not None else tuple(INFO_TYPE_DETECTORS)
    aggs = [F.count("*").alias("_rows")]
    for c in cols:
        for t_name in names:
            hits = F.regexp_count(F.col(c).cast("string"), F.lit(INFO_TYPE_DETECTORS[t_name]))
            aggs.append(F.sum(hits).alias(f"_m_{c}_{t_name}"))
            aggs.append(
                F.sum(F.when(hits > 0, 1).otherwise(0)).alias(f"_r_{c}_{t_name}")
            )
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', '{t_name}', _m_{c}_{t_name}, _r_{c}_{t_name}"
        for c in cols
        for t_name in names
    )
    n_pairs = len(cols) * len(names)
    return wide.selectExpr(
        f"stack({n_pairs}, {stack_args}) AS (column, info_type, n_matches, n_rows_matched)",
        "_rows AS n_rows",
    ).select(
        "column",
        "info_type",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.coalesce(F.col("n_rows_matched"), F.lit(0)).cast("long").alias("n_rows_matched"),
        F.coalesce(F.col("n_matches"), F.lit(0)).cast("long").alias("n_matches"),
    )


def _bm25_term_score(tf_col, df_col, dl_col, k1: float, b: float):
    """The ONE bit-exact BM25 term-score expression both retrieval
    operators share: rational idf x tf saturation / length-normalized
    denominator, every float step written with explicit association so
    a SQL oracle can state the byte-identical expression (IEEE
    div/mul/add are correctly rounded, so same order ⇒ same bits).
    Derived literals like k1+1 are computed IN the expression, not in
    Python, so both engines round the same intermediate. Expects
    ``n_docs`` and ``total_dl`` columns in scope (the broadcast 1-row
    corpus aggregate)."""
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs").cast("double")
    idf = (F.col("n_docs").cast("double") + F.lit(1.0)) / (
        df_col.cast("double") + F.lit(1.0)
    )
    tfd = tf_col.cast("double")
    denom = tfd + (
        F.lit(k1)
        * ((F.lit(1.0) - F.lit(b)) + ((F.lit(b) * dl_col.cast("double")) / avgdl))
    )
    return ((idf * tfd) * (F.lit(k1) + F.lit(1.0))) / denom


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """BM25-shaped ranked keyword retrieval: top-k documents for a bag
    of query terms. Output ``(doc_id, score, rk)`` for documents
    matching >= 1 term, ranked by score desc (id asc tiebreak).

    Scoring is the BM25 shape — per-term tf saturation
    ``tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))`` times an idf weight —
    with the engine's rational idf ``(N+1)/(df+1)`` instead of the
    classic ``ln((N-df+0.5)/(df+0.5))``: both are monotone in df, but
    IEEE div/mul are correctly rounded while ``ln`` is not, and this
    engine's contract is bit-identical scores across engines (see
    tfidf_top_terms). Per-document totals sum the per-term scores in
    the FIXED written order of ``query_terms`` (conditional-max per
    term, then column-wise addition), not a float aggregation whose
    order the shuffle would choose — float addition is not
    associative, and a nondeterministic sum order would break both
    run-to-run determinism and the oracle hash.

    Scale shape: ONE pass over the word stream — a single groupBy(doc)
    computes the document length and every query term's tf as
    conditional sums (the term list is a literal, so the aggregate is
    fixed-width), a 1-row global aggregate over that per-doc table
    yields N, total length, and per-term doc frequencies, and the
    scalar row broadcasts back. No joins besides the 1-row scalar
    attach; top-k via orderBy+limit (TakeOrderedAndProject: per-
    partition heaps + driver merge, never a global single-partition
    window)."""
    if not query_terms or len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be non-empty and distinct")
    from pyspark.sql import Window

    from . import fan_out

    words = fan_out(df).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).where(F.col("word") != "")
    perdoc = words.groupBy(id_col).agg(
        F.count("*").alias("dl"),
        *[
            F.sum((F.col("word") == t).cast("long")).alias(f"_tf{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = perdoc.groupBy().agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(query_terms))
        ],
    )
    # the scoring expression lives in _bm25_term_score (shared with the
    # batch operator — the association order is load-bearing for the
    # bit-identical-to-oracle contract, so it exists exactly once)
    def term_score(i: int):
        return F.when(
            F.col(f"_tf{i}") > 0,
            _bm25_term_score(F.col(f"_tf{i}"), F.col(f"_df{i}"), F.col("dl"), k1, b),
        ).otherwise(F.lit(0.0))

    total = F.lit(0.0)
    for i in range(len(query_terms)):
        total = total + term_score(i)
    match = None
    for i in range(len(query_terms)):
        cond = F.col(f"_tf{i}") > 0
        match = cond if match is None else (match | cond)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        perdoc.where(match)
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.round(total, 9).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rk", F.row_number().over(w).cast("long"))
    )


def bm25_topk_from_tf(
    tf_table: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    term_col: str = "token",
    tf_col: str = "tf",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """:func:`bm25_topk` over a PRE-AGGREGATED term-frequency table
    ``(id, term, tf)`` instead of raw text — the form that ranks
    targets by their INBOUND ANCHOR TEXT (``urls.anchor_text_index``
    emits exactly this shape, keyed by canonical URL: the classic
    anchor-text retrieval signal — what other pages call a target
    ranks it better than its own body) or any other persisted index
    whose text is long gone. Document length is the table's own
    Σtf per id; scoring/idf/top-k are byte-identical to bm25_topk
    (the shared ``_bm25_term_score`` expression — the association
    order is load-bearing for the oracle-hash contract).

    Scale shape: one groupBy(id) pivots the literal term list to
    fixed-width conditional sums, a 1-row corpus aggregate broadcasts
    back, top-k via TakeOrderedAndProject — the same plan as
    bm25_topk minus the word-explode (already paid when the tf table
    was built)."""
    if not query_terms or len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be non-empty and distinct")
    if k < 1:
        raise ValueError(f"bm25_topk_from_tf: k must be >= 1, got {k}")
    from pyspark.sql import Window

    perdoc = tf_table.groupBy(id_col).agg(
        F.sum(F.col(tf_col)).cast("long").alias("dl"),
        *[
            F.coalesce(
                F.sum(F.when(F.col(term_col) == t, F.col(tf_col))), F.lit(0)
            )
            .cast("long")
            .alias(f"_tf{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = perdoc.groupBy().agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(query_terms))
        ],
    )

    def term_score(i: int):
        return F.when(
            F.col(f"_tf{i}") > 0,
            _bm25_term_score(F.col(f"_tf{i}"), F.col(f"_df{i}"), F.col("dl"), k1, b),
        ).otherwise(F.lit(0.0))

    total = F.lit(0.0)
    for i in range(len(query_terms)):
        total = total + term_score(i)
    match = None
    for i in range(len(query_terms)):
        cond = F.col(f"_tf{i}") > 0
        match = cond if match is None else (match | cond)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        perdoc.where(match)
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.round(total, 9).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rk", F.row_number().over(w).cast("long"))
    )


def bm25_batch_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    term_col: str = "word",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    quant: int = 1_000_000,
) -> DataFrame:
    """BM25 retrieval for a TABLE of queries — the batch-search shape:
    ``queries`` is (query_id, word) rows; output is the per-query
    top-k ``(query_id, doc_id, score, rk)``.

    Where :func:`bm25_topk` inlines a literal term list (one
    interactive query), this is the M×N production path: the document
    posting stream equi-joins the query-term table on the term, so
    work scales with matched postings, never |queries|x|docs|. With
    per-query term sets unknown at plan time, the per-document total
    can't sum in a fixed written order — instead each per-term score
    QUANTIZES to int64 (x ``quant``) and the total is an exact integer
    sum, immune to shuffle order (the tfidf_cosine_pairs discipline),
    then one final division. Per-query top-k is a window PARTITIONED
    by query (bounded state per query), not a global sort.

    Doc stats (length, N, avgdl, per-term df) come from the document
    corpus alone — query terms share the corpus idf, so scores are
    comparable across queries."""
    from pyspark.sql import Window

    from . import fan_out

    words = fan_out(docs).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).where(F.col("word") != "")
    # doclen and tf are each MULTIPLY consumed (doclen: corpus stats +
    # the score join; tf: df counts + the score stream) — without a
    # lineage cut every consumer (including each broadcast subplan)
    # re-runs the corpus explode (r14: 19 jobs for one query). Both are
    # index-stat-sized — per-doc lengths and query-matched postings,
    # the tables a real search index PRECOMPUTES — so materializing
    # them is the production shape, not a fixture trick.
    doclen = (
        words.groupBy(id_col)
        .agg(F.count("*").alias("dl"))
        .localCheckpoint(eager=False)
    )
    corpus = doclen.groupBy().agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    qterms = queries.select(
        F.col(query_id_col), F.col(term_col).alias("word")
    ).distinct()
    # postings filter BEFORE the tf aggregation: only terms any query
    # mentions survive (broadcast semi-join — the index access path)
    tf = (
        words.join(F.broadcast(qterms.select("word").distinct()), "word", "leftsemi")
        .groupBy(id_col, "word")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("word").agg(F.count("*").alias("doc_freq"))
    term_score = _bm25_term_score(F.col("tf"), F.col("doc_freq"), F.col("dl"), k1, b)
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(corpus))
        .join(F.broadcast(qterms), "word")
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(term_score * F.lit(float(quant))).cast("long").alias("_q"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.groupBy(query_id_col, id_col)
        .agg(F.sum("_q").alias("_qs"))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(F.col("_qs").cast("double") / F.lit(float(quant)), 9).alias("score"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
    )


def bpe_learn(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 20,
    return_segments: bool = False,
) -> DataFrame:
    """Byte-pair-encoding vocabulary induction (Sennrich et al. 2016,
    public algorithm) — the tokenizer-training step of a training-data
    pipeline, distributed the way BPE actually scales: the CORPUS is
    touched exactly once (one groupBy to the word-frequency table);
    every merge round then works on the VOCAB — (word, freq, symbols)
    rows, millions at web scale, not the corpus' trillions — with one
    weighted adjacent-pair count + one driver argmax (a single row)
    per round.

    Returns the learned merge table ``(rank, left, right, merged)``
    (1-based rank), or with ``return_segments=True`` the final word
    segmentations ``(word, freq, symbols array<string>)`` — which IS
    the corpus tokenization, since word-level BPE determines each
    word's split independent of context (encode = broadcast-join words
    to segments).

    Determinism: the best pair each round breaks ties by (freq desc,
    left asc, right asc); the merge applies LEFT-TO-RIGHT and
    non-overlapping, the reference semantics ("aaa" under (a,a) →
    ["aa","a"]), via a JVM fold over each word's symbol array (HOF
    fold — interpreted, but over the vocab table, where rows are
    short). Lineage cuts every 4 rounds bound the plan; rounds stop
    early when no pair repeats (max pair weight == no adjacency or
    every pair unique with weight < 2).
    """
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    from . import fan_out

    vocab = (
        fan_out(df)
        .select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .withColumn(
            "symbols",
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.substring(F.col("word"), i, 1),
            ),
        )
        .localCheckpoint(eager=True)
    )
    spark = df.sparkSession
    # Measured-cardinality fast path: every merge round is a SEQUENTIAL
    # driver argmax (the recurrence is inherently iterative), so the
    # distributed loop costs num_merges round-trip jobs even when the
    # word-frequency table is kilobytes — which it always is for the
    # bounded-sample trainer real pipelines run. When the vocab's
    # characters (measured in one agg before anything is collected)
    # fit the package's one driver bound (``operators.driver_payload``;
    # 16 merge rounds over 1M chars is a few seconds of pure Python,
    # comparable to the distributed loop's per-round job overhead at
    # the SAME size), run the SAME recurrence locally: integer pair
    # weights, the same (w desc, l asc, r asc) tie-break (Python
    # code-point order == Spark's UTF8String byte order — UTF-8
    # preserves code-point order), the same left-to-right
    # non-overlapping fold, the same early stop. Output is
    # bit-identical; the distributed loop stays the path for
    # vocabularies past the bound.
    chars = vocab.agg(F.sum(F.length("word"))).first()[0] or 0
    local = driver_payload(
        "bpe_learn_merges",
        chars,
        lambda: [
            (r["word"], int(r["freq"]), list(r["word"]))
            for r in vocab.select("word", "freq").collect()
        ],
    )
    if local is not None:
        merges_l: list[tuple[int, str, str, str]] = []
        for rank in range(1, num_merges + 1):
            pair_w: dict[tuple[str, str], int] = {}
            for _w, freq, syms in local:
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    pair_w[p] = pair_w.get(p, 0) + freq
            if not pair_w:
                break
            (left, right), w = min(
                pair_w.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            if w < 2:
                break  # nothing repeats — further merges are noise
            merged = left + right
            merges_l.append((rank, left, right, merged))
            for j, (word, freq, syms) in enumerate(local):
                out: list[str] = []
                for s in syms:
                    if out and out[-1] == left and s == right:
                        out[-1] = merged
                    else:
                        out.append(s)
                local[j] = (word, freq, out)
        if return_segments:
            return spark.createDataFrame(
                [(w, f, s) for w, f, s in local],
                "word string, freq long, symbols array<string>",
            )
        return local_rows_df(
            spark, merges_l, "rank long, left string, right string, merged string"
        )
    merges: list[tuple[int, str, str, str]] = []
    for rank in range(1, num_merges + 1):
        pairs = (
            vocab.where(F.size("symbols") >= 2)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("symbols") - 1),
                        lambda i: F.struct(
                            F.element_at("symbols", i).alias("l"),
                            F.element_at("symbols", i + F.lit(1)).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("w"))
        )
        best = (
            pairs.orderBy(F.col("w").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .first()
        )
        if best is None or best.w < 2:
            break  # nothing repeats — further merges are noise
        left, right, merged = best.l, best.r, best.l + best.r
        merges.append((rank, left, right, merged))
        # left-to-right non-overlapping merge of (left,right) in every
        # word, as a plain array fold. Non-overlap needs no "just
        # merged" flag: a merge appends merged = left + right, and
        # since right is never empty, merged != left — so the freshly
        # merged tail can never match as the LEFT of the same pair
        # again ("aaaa" under (a,a) still folds to [aa, aa]).
        step = F.aggregate(
            F.col("symbols"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                # try_element_at: NULL (not an ANSI error) on the empty
                # array, and NULL == left is falsy — no short-circuit
                # needed
                (F.try_element_at(acc, F.lit(-1)) == F.lit(left))
                & (s == F.lit(right)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        vocab = vocab.withColumn("symbols", step)
        if rank % 4 == 0:
            vocab = vocab.localCheckpoint(eager=True)
    if return_segments:
        return vocab.select("word", "freq", "symbols")
    return local_rows_df(
        spark, merges, "rank long, left string, right string, merged string"
    )


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "auto",
) -> DataFrame:
    """Tokenize a corpus with a LEARNED BPE merge table — the operator
    a training pipeline runs daily, where :func:`bpe_learn` runs once.

    Encode semantics (Sennrich et al. 2016): apply the merges to each
    word in RANK order, each as a left-to-right non-overlapping pass —
    for word-level BPE this equals the lowest-rank-first priority
    loop real tokenizers use, because a merge of rank j can never
    create a pair of rank i < j (rank-i's right symbol already existed
    before rank i, while rank-j's merged symbol first exists at j).
    Both execution paths below implement that one semantics and are
    pytest-pinned equal to each other and to the independent
    pure-Python tokenizer.

    Scale shape: merge folds run over the DISTINCT-WORD table (work ∝
    vocabulary, not corpus — a word's split is context-free), and the
    word→segments map joins back to the exploded corpus on the word
    key; the map is vocabulary-sized, squarely AQE-broadcast
    territory. Two fold paths:

    - ``method="fold"``: one JVM array-fold plan node per merge
      (identical fold to the trainer's, whole-stage friendly) —
      right for small merge tables, but plan depth grows with
      ``len(merges)``, so it is capped at 128 merges.
    - ``method="pandas"``: one Arrow-batched Pandas UDF holding the
      whole pair→rank dict (broadcast once), applying the classic
      priority-loop encode per distinct word — the path for
      production tokenizers (30k-100k merges), where a 50k-node plan
      is impossible but a 50k-entry dict is trivial.
    - ``method="auto"`` picks fold ≤64 merges, pandas above.

    Output: one row per emitted subword token,
    ``(id_col, word_pos, tok_pos, token)`` — word_pos the word's
    0-based position in the document, tok_pos the token's 0-based
    position within the word. All-scalar columns by design (array
    outputs break driver canonicalization).
    """
    ranked = [
        (r["left"], r["right"])
        for r in merges.select("rank", "left", "right").orderBy("rank").collect()
    ]
    if method == "auto":
        method = "fold" if len(ranked) <= 64 else "pandas"
    if method not in ("fold", "pandas"):
        raise ValueError(f"unknown bpe_encode method: {method!r}")
    if method == "fold" and len(ranked) > 128:
        raise ValueError(
            f"method='fold' builds one plan node per merge and is capped at "
            f"128 merges (got {len(ranked)}); use method='pandas'"
        )

    words = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), " ")).alias("word_pos", "word"),
        )
        .where(F.col("word") != "")
    )
    vocab = words.select("word").distinct()

    if method == "fold":
        seg = vocab.withColumn(
            "symbols",
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.substring(F.col("word"), i, 1),
            ),
        )
        for left, right in ranked:
            merged = left + right
            # identical fold to bpe_learn's training step — see there
            # for the non-overlap argument
            seg = seg.withColumn(
                "symbols",
                F.aggregate(
                    F.col("symbols"),
                    F.array().cast("array<string>"),
                    lambda acc, s: F.when(
                        (F.try_element_at(acc, F.lit(-1)) == F.lit(left))
                        & (s == F.lit(right)),
                        F.concat(
                            F.slice(acc, 1, F.size(acc) - 1),
                            F.array(F.lit(merged)),
                        ),
                    ).otherwise(F.concat(acc, F.array(s))),
                ),
            )
    else:
        # broadcast pairs AND the pair→rank dict together: the dict is
        # built once driver-side and unpickled once per executor, not
        # rebuilt per Arrow batch
        bc = df.sparkSession.sparkContext.broadcast(
            (ranked, {pair: i for i, pair in enumerate(ranked)})
        )

        @F.pandas_udf("array<string>")
        def _encode(col: pd.Series) -> pd.Series:
            pairs, ranks = bc.value

            def enc(w: str) -> list[str]:
                syms = list(w)
                while len(syms) > 1:
                    best_rank = None
                    for i in range(len(syms) - 1):
                        r = ranks.get((syms[i], syms[i + 1]))
                        if r is not None and (best_rank is None or r < best_rank):
                            best_rank = r
                    if best_rank is None:
                        break
                    # one left-to-right non-overlapping pass of the
                    # lowest-rank applicable pair (== one trainer round)
                    left, right = pairs[best_rank]
                    out, i = [], 0
                    while i < len(syms):
                        if (
                            i + 1 < len(syms)
                            and syms[i] == left
                            and syms[i + 1] == right
                        ):
                            out.append(left + right)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    syms = out
                return syms

            return col.map(enc)

        seg = vocab.withColumn("symbols", _encode(F.col("word")))

    return (
        words.join(seg, "word")
        .select(
            F.col(id_col),
            "word_pos",
            F.posexplode("symbols").alias("tok_pos", "token"),
        )
    )


def _word_bigrams(df: DataFrame, text_col: str, id_col: str | None) -> DataFrame:
    """Explode per-document adjacent word pairs ``(w1, w2)`` (empty
    tokens from repeated spaces dropped before pairing, so bigrams
    never straddle a hole)."""
    ws = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    pairs = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.struct(
                F.element_at(ws, i).alias("w1"),
                F.element_at(ws, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    cols = [F.col(id_col)] if id_col else []
    return df.select(*cols, F.explode(pairs).alias("_bg")).select(
        *([id_col] if id_col else []), "_bg.w1", "_bg.w2"
    )


def ngram_lm_counts(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Train a word-bigram language model over a corpus: the PERSISTABLE
    count artifact ``(w1, w2, c)`` — one groupBy over the exploded
    bigram stream, the whole model. Context totals ``C(w1·)`` and the
    vocabulary size are DERIVED from this one table at scoring time,
    so the artifact round-trips through the warehouse sink like the
    MinHash and bench-gram indexes (train once, score every batch).

    ``min_count`` prunes rare bigrams (> standard LM pruning; pruned
    pairs fall back to the smoothed unseen path at scoring time).
    """
    out = (
        _word_bigrams(df, text_col, None)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
    )
    if min_count > 1:
        out = out.where(F.col("c") >= min_count)
    return out


def merge_lm_counts(lm: DataFrame, new_counts: DataFrame) -> DataFrame:
    """Fold a new batch's bigram counts into a persisted LM artifact —
    the model-maintenance step of steady-state ingest (the LM twin of
    ``dedup.merge_signature_index``): union + one groupBy sum, so
    ``merge(train(A), train(B)) ≡ train(A ∪ B)`` exactly
    (pytest-pinned). Merge UNPRUNED counts and apply ``min_count``
    only to the merged result — pruning before merging loses mass
    that a later batch could have pushed over the threshold."""
    for side, d in (("lm", lm), ("new_counts", new_counts)):
        if not {"w1", "w2", "c"} <= set(d.columns):
            raise ValueError(
                f"{side} must be an ngram_lm_counts result with (w1, w2, c); "
                f"got {d.columns}"
            )
    return (
        lm.select("w1", "w2", "c")
        .unionByName(new_counts.select("w1", "w2", "c"))
        .groupBy("w1", "w2")
        .agg(F.sum("c").alias("c"))
    )


def ngram_lm_scores(
    df: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
) -> DataFrame:
    """Score documents under a trained bigram LM — the CCNet-style
    quality/fluency filter of a training-data pipeline: documents
    whose word transitions are improbable under an in-domain LM
    (boilerplate, lorem-ipsum, mangled extractions) score low and get
    dropped or routed to review.

    Model: add-k smoothing, ``P(w2|w1) = (C(w1,w2)+k) / (C(w1·)+k·V)``
    with ``C(w1·)`` the first-position context total and ``V`` the
    model vocabulary (distinct words in the count table) — unseen
    words/transitions get the uniform floor ``k/(k·V)``, so scoring a
    NEW batch (words never seen in training) is well-defined, the
    incremental-ingest contract.

    Bit-exactness: each bigram's log-probability is quantized to
    integer MICRO-LOGS (``round(ln(P)·1e6)`` as int64) before the
    per-document sum — integer addition is order-independent, so the
    result hash-matches a SQL oracle regardless of aggregation order;
    P itself is built from exactly-representable halves with one
    correctly-rounded division, so both engines feed ``ln`` the same
    double. ``avg_logprob`` divides the two exact integers once.

    Output: ``(id_col, n_bigrams, logprob_micro, avg_logprob)``.

    Scale shape: the corpus-side stream is exploded bigrams; both
    joins are against MODEL-sized tables (counts and the derived
    context totals — AQE-broadcast territory after ``min_count``
    pruning); V attaches as a broadcast 1-row scalar. One groupBy per
    document ends the plan. The model is never re-derived per batch
    beyond two cheap aggregates of the count table itself."""
    if not {"w1", "w2", "c"} <= set(lm.columns):
        raise ValueError(
            f"lm must be an ngram_lm_counts result with (w1, w2, c); got {lm.columns}"
        )
    ctx = lm.groupBy("w1").agg(F.sum("c").alias("c1"))
    vocab = (
        lm.select(F.explode(F.array("w1", "w2")).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    bg = _word_bigrams(df, text_col, id_col)
    p = (F.coalesce(F.col("c12"), F.lit(0)).cast("double") + F.lit(add_k)) / (
        F.coalesce(F.col("c1"), F.lit(0)).cast("double")
        + F.lit(add_k) * F.col("v").cast("double")
    )
    scored = (
        bg.join(lm.withColumnRenamed("c", "c12"), ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.round(F.log(p) * F.lit(1e6)).cast("long").alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.sum("_lp").alias("logprob_micro"),
        (
            F.sum("_lp").cast("double")
            / (F.count("*").cast("double") * F.lit(1e6))
        ).alias("avg_logprob"),
    )


def _doc_freq_cap(
    dfreq: DataFrame, n_docs: DataFrame, max_df: int | float
) -> tuple[DataFrame, DataFrame]:
    """Split a (word, doc_freq) table at the stop-word cap shared by
    the TF-IDF operators: returns ``(kept, hot)`` where ``hot`` is the
    over-cap word set (broadcast into a map-side anti-join by callers).
    A float ``max_df`` in (0, 1) caps by CORPUS FRACTION — max_df x N
    attached in-plan from the 1-row ``n_docs`` aggregate, no eager
    action — which is the scale-robust form: an absolute cap tuned at
    one corpus size silently degenerates to all-words or no-words at
    another. Power-of-two fractions (0.5, 0.25) keep the product
    IEEE-exact, so the threshold compare is bit-identical across
    engines."""
    if isinstance(max_df, float) and not max_df.is_integer():
        if not 0.0 < max_df < 1.0:
            raise ValueError(f"fractional max_df must be in (0, 1), got {max_df}")
        dfreq = dfreq.crossJoin(F.broadcast(n_docs))
        cap = F.col("n_docs").cast("double") * F.lit(max_df)
    else:
        cap = F.lit(float(max_df))
    kept = dfreq.where(F.col("doc_freq") <= cap).select("word", "doc_freq")
    hot = dfreq.where(F.col("doc_freq") > cap).select("word")
    return kept, hot


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_df: int | float | None = None,
) -> DataFrame:
    """Per-document top-k characteristic terms by TF-IDF.

    Classic inverted-index shape, all built-ins: explode words, count
    term frequency per (doc, word), count document frequency per word,
    score, rank inside each document. The idf is the *rational* damping
    ``(N + 1) / (df + 1)`` rather than its logarithm: IEEE division and
    multiplication are correctly rounded (bit-identical across engines),
    while ``ln`` implementations are not — the rational form keeps the
    score DuckDB-oracle-exact without changing the ranking's character.

    Input must be one row per document. Scale posture: two partial-agg
    shuffles (by (doc, word), then by word), a shuffle join on word
    whose build side is one row per distinct word, a broadcast 1-row
    corpus count, and a per-document window — no per-word data ever
    concentrates beyond a word's posting count, and nothing is
    quadratic. Ties rank alphabetically so top-k is deterministic.

    ``max_df`` drops terms appearing in more than that many documents
    (stop-word discipline — the same doc-freq cap as
    :func:`tfidf_cosine_pairs`): such terms score near the idf floor
    and can't be "characteristic", yet their postings dominate the
    word-keyed join shuffle. The dropped-word set (vocabulary above the
    cap — a handful of stop words) broadcasts into a map-side anti-join
    that prunes the tf stream BEFORE the join exchange, so the hot
    postings never shuffle at all. A FLOAT ``max_df`` in (0, 1) is a
    corpus FRACTION (cap = max_df x N, attached in-plan as a broadcast
    scalar, no eager action) — the scale-robust form: an absolute cap
    tuned at one corpus size silently degenerates to all-words or
    no-words at another. Prefer power-of-two fractions (0.5, 0.25):
    the product is then IEEE-exact, so the threshold compare is
    bit-identical across engines.
    """
    from pyspark.sql import Window

    from . import fan_out

    # the word explode + map-side tf partials are the linear cost —
    # widen a narrow scan before them (no-op on an already-wide scan)
    words = fan_out(df).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).where(F.col("word") != "")
    tf = words.groupBy(id_col, "word").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("doc_freq"))
    n_docs = df.groupBy().agg(F.count("*").alias("n_docs"))
    if max_df is not None:
        dfreq, hot = _doc_freq_cap(dfreq, n_docs, max_df)
        tf = tf.join(F.broadcast(hot), "word", "left_anti")
    score = F.col("tf").cast("double") * (
        (F.col("n_docs").cast("double") + F.lit(1.0))
        / (F.col("doc_freq").cast("double") + F.lit(1.0))
    )
    scored = tf.join(dfreq, "word").crossJoin(F.broadcast(n_docs))
    w = Window.partitionBy(id_col).orderBy(score.desc(), F.col("word").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select(
            F.col(id_col),
            "word",
            F.col("tf").cast("long").alias("tf"),
            F.col("doc_freq").cast("long").alias("doc_freq"),
            F.round(score, 9).alias("tfidf"),
            "rk",
        )
    )


# --- encoding repair (mojibake) --------------------------------------------
# The CP1252-specific glyphs (what bytes 0x80-0x9F display as when
# mis-decoded through Windows-1252) and their byte-value codepoints —
# ftfy's "sloppy windows-1252" table (public knowledge; the undefined
# bytes 81 8D 8F 90 9D have no glyph and are omitted).
CP1252_GLYPHS = "€‚ƒ„…†‡ˆ‰Š‹ŒŽ‘’“”•–—˜™š›œžŸ"
CP1252_AS_C1 = "".join(
    chr(b)
    for b in (
        0x80, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x8B,
        0x8C, 0x8E, 0x91, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99,
        0x9A, 0x9B, 0x9C, 0x9E, 0x9F,
    )
)
# Valid UTF-8, stated over CHARS-AS-BYTES (every char ≤ U+00FF stands
# for the byte equal to its codepoint): the RFC 3629 byte-pattern as a
# regex — RE2-compatible (no lookaround/backrefs), so Java and DuckDB
# agree. A string containing any char > U+00FF matches no alternative
# and therefore never repairs.
MOJIBAKE_VALID_RE = (
    "^(?:[\\x00-\\x7f]"
    "|[\\xc2-\\xdf][\\x80-\\xbf]"
    "|\\xe0[\\xa0-\\xbf][\\x80-\\xbf]"
    "|[\\xe1-\\xec][\\x80-\\xbf]{2}"
    "|\\xed[\\x80-\\x9f][\\x80-\\xbf]"
    "|[\\xee-\\xef][\\x80-\\xbf]{2}"
    "|\\xf0[\\x90-\\xbf][\\x80-\\xbf]{2}"
    "|[\\xf1-\\xf3][\\x80-\\xbf]{3}"
    "|\\xf4[\\x80-\\x8f][\\x80-\\xbf]{3})*$"
)
_NONASCII_RE = "[\\x80-\\xff]"


def repair_mojibake(text: Column, passes: int = 2) -> Column:
    """Fix UTF-8-mis-decoded-as-CP1252/Latin-1 text (mojibake) — the
    ftfy-style repair (ftfy is R. Speer's public library; the
    algorithm is public knowledge): 'cafÃ©' → 'café', 'â€”' → '—',
    and with the default two passes the double-encoded 'ÃƒÂ©' → 'é'.
    The standard pre-dedup normalization stage — unrepaired mojibake
    splits identical documents into distinct fingerprints and poisons
    n-gram statistics.

    Per pass, all JVM-side codegen:
    1. ``translate`` CP1252-specific glyphs to their byte-value C1
       codepoints (sloppy-windows-1252), so every char of a mojibake
       string equals its original byte;
    2. ACCEPT only if the chars-as-bytes string matches the full
       RFC 3629 valid-UTF-8 pattern AND has ≥1 non-ASCII char —
       legitimate accented text ('déjà vu'), curly quotes, CJK, and
       plain ASCII all fail this test and pass through untouched;
    3. re-decode: ``encode(·, 'ISO-8859-1')`` (lossless here — every
       char ≤ U+00FF by step 2) then ``decode(·, 'UTF-8')`` (valid by
       step 2, so no replacement chars can appear).

    Whole-string acceptance is the documented simplification vs ftfy's
    segment-level badness scoring: a string mixing mojibake with
    legitimate >U+00FF chars is left alone rather than half-fixed —
    the conservative choice for a dedup-key normalizer, where a missed
    repair merely keeps today's fingerprint while a wrong "repair"
    corrupts clean text.
    """
    if passes < 1:
        raise ValueError(f"passes must be >= 1, got {passes}")
    for _ in range(passes):
        tr = F.translate(text, CP1252_GLYPHS, CP1252_AS_C1)
        fixable = tr.rlike(MOJIBAKE_VALID_RE) & tr.rlike(_NONASCII_RE)
        text = F.when(fixable, F.decode(F.encode(tr, "ISO-8859-1"), "UTF-8")).otherwise(
            text
        )
    return text


def normalize_text(text: Column) -> Column:
    """Canonical text form for dedup keys and fuzzy matching: lowercase,
    strip everything but word characters and spaces, collapse whitespace
    runs, trim. Pure built-ins (JVM-side, codegen) and expressible
    verbatim in ANSI SQL — the normalizer must be byte-identical across
    engines or cross-engine dedup fingerprints diverge."""
    cleaned = F.regexp_replace(F.lower(text), r"[^a-z0-9 ]", " ")
    return F.trim(F.regexp_replace(cleaned, r" +", " "))


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 512,
    stride: int = 480,
) -> DataFrame:
    """Split documents into fixed-size overlapping chunks — the
    context-window preparation stage of a training pipeline (stride <
    chunk_size gives ``chunk_size - stride`` characters of overlap so
    no boundary context is lost).

    Pure built-ins: ``sequence`` generates the chunk start offsets,
    ``explode`` fans them out, ``substring`` slices — all JVM-side,
    fan-out bounded by ceil(len/stride) per document. Empty documents
    produce no chunks. Output: (id, chunk_id, start, chunk), 0-indexed
    starts, deterministic.
    """
    if chunk_size < 1 or stride < 1:
        raise ValueError("chunk_size and stride must be >= 1")
    n = F.length(F.col(text_col))
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    return (
        df.where(n > 0)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.explode(starts).alias("start"),
        )
        .select(
            F.col(id_col),
            (F.col("start") / stride).cast("long").alias("chunk_id"),
            F.col("start").cast("long").alias("start"),
            F.col(text_col)
            .substr(F.col("start") + 1, F.lit(chunk_size))
            .alias("chunk"),
        )
    )


def drop_repeated_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Within-document repetition removal (the Gopher-style complement
    to cross-document dedup): split the text on ``sep``, keep only the
    FIRST occurrence of each distinct segment, and reassemble in
    original order. With the default blank-line separator this drops
    duplicated paragraphs (boilerplate headers, repeated navigation
    blocks); any separator works — the gate exercises it at word
    granularity, where an oracle is exactly expressible.

    Two shuffles, all JVM: posexplode → min(pos) per (doc, segment) →
    ordered reassembly via sort_array over (pos, segment) structs +
    array_join. Returns (id_col, text_col); at 100 TB each shuffle
    carries segments once, never the doc body times its segment count.
    NULL text is treated as empty (the doc is KEPT with text "" — a
    bare posexplode would silently drop it from the corpus).
    """
    import re as _re

    parts = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep))
        ).alias("_pos", "_para"),
    )
    firsts = parts.groupBy(id_col, "_para").agg(F.min("_pos").alias("_pos"))
    return firsts.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_para"))),
                lambda x: x["_para"],
            ),
            sep,
        ).alias(text_col)
    )


def ngram_novelty(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    hash_grams: bool = False,
) -> DataFrame:
    """Cross-document n-gram novelty profile — the corpus-level
    boilerplate/template signal (CCNet/Gopher family): for each document,
    how many of its distinct n-grams appear in NO other document.

    Output per input row: ``id_col, n_ngrams (long, with duplicates),
    n_distinct_ngrams (long), n_unique_ngrams (long, corpus df == 1),
    unique_fraction (double — exact single division; NULL when the doc
    has fewer than n tokens)``. Low unique_fraction ⇒ the document is
    largely assembled from shared boilerplate.

    Scale shape: explode → distinct(doc, gram) → groupBy(gram) document
    frequency → equi-join back → groupBy(doc). Every stage is a keyed
    shuffle with partial aggregation; nothing is all-pairs and no state
    grows beyond (distinct grams × docs containing them). With
    ``hash_grams=True`` the join/groupBy key is ``xxhash64(gram)``
    (8 bytes instead of the string — the right setting at 100 TB;
    collisions at ~2^-64 per pair slightly undercount novelty, so the
    gate query keeps string grams for bit-exactness).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    reserved = {"_tk", "_g", "_df", "n_ngrams", "n_distinct_ngrams",
                "n_unique_ngrams", "unique_fraction"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(f"input columns collide with reserved names: {sorted(clash)}")

    toks = df.select(id_col, F.split(F.col(text_col), " ").alias("_tk"))
    grams = (
        toks.where(F.size("_tk") >= n)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_tk") - (n - 1)),
                    lambda i: F.array_join(F.slice("_tk", i, n), " "),
                )
            ).alias("_g"),
        )
    )
    if hash_grams:
        grams = grams.select(id_col, F.xxhash64("_g").alias("_g"))
    totals = grams.groupBy(id_col).agg(F.count("*").alias("n_ngrams"))
    doc_gram = grams.distinct()
    docfreq = doc_gram.groupBy("_g").agg(F.count("*").alias("_df"))
    per_doc = (
        doc_gram.join(docfreq, on="_g")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_distinct_ngrams"),
            F.sum((F.col("_df") == 1).cast("long")).alias("n_unique_ngrams"),
        )
    )
    base = df.select(id_col)
    out = (
        base.join(totals, on=id_col, how="left")
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce("n_distinct_ngrams", F.lit(0)).cast("long").alias("n_distinct_ngrams"),
            F.coalesce("n_unique_ngrams", F.lit(0)).cast("long").alias("n_unique_ngrams"),
            F.when(
                F.coalesce("n_distinct_ngrams", F.lit(0)) > 0,
                F.col("n_unique_ngrams").cast("double")
                / F.col("n_distinct_ngrams").cast("double"),
            ).alias("unique_fraction"),
        )
    )
    return out


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_cosine: float = 0.5,
    max_df: int | float | None = None,
    quant: int = 1000,
) -> DataFrame:
    """Document-pair cosine similarity over sparse TF-IDF vectors — the
    classic IR near-duplicate/related-document join, via an inverted
    index (never a cross join).

    Output: ``id_a, id_b, cosine (double)`` for pairs with cosine ≥
    ``min_cosine`` and at least one shared term, ``id_a < id_b``.

    Bit-exactness: weights use the rational idf ``(N+1)/(df+1)`` (see
    tfidf_top_terms) and are then QUANTIZED to int64 at ``quant``
    resolution — dot products and norms become exact integer sums,
    immune to float summation order, and the final cosine is the fixed
    expression ``dot / (sqrt(na)·sqrt(nb))`` — so the whole operator
    hash-matches a SQL oracle. Overflow bound: per-doc Σq² and per-pair
    Σ qa·qb must fit int64 — with quant=1000, safe while
    tf·(N+1)·quant < ~3e9·√(1/terms) per doc; at corpus scale lower
    ``quant`` or raise ``max_df``.

    Scale shape: postings self-join on the term (equi-join); fan-out is
    Σ df² over kept terms, so ``max_df`` (drop terms in more than
    max_df docs — stop words carry no similarity signal anyway) is the
    skew/volume cap, the same discipline as ngram_jaccard's doc-freq
    cap. One groupBy per (pair) with partial aggregation; norms are a
    |docs|-sized broadcastable side.
    """
    reserved = {"id_a", "id_b", "cosine", "word", "tf", "doc_freq", "n_docs",
                "_q", "_nrm", "_na", "_nb", "_dot"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(f"input columns collide with reserved names: {sorted(clash)}")

    from . import fan_out

    words = fan_out(df).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).where(F.col("word") != "")
    tf = words.groupBy(id_col, "word").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("doc_freq"))
    n_docs = df.groupBy().agg(F.count("*").alias("n_docs"))
    if max_df is not None:
        dfreq, _hot = _doc_freq_cap(dfreq, n_docs, max_df)
    w = F.col("tf").cast("double") * (
        (F.col("n_docs").cast("double") + F.lit(1.0))
        / (F.col("doc_freq").cast("double") + F.lit(1.0))
    )
    postings = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "word",
            F.round(w * F.lit(float(quant))).cast("long").alias("_q"),
        )
        # feeds norms AND both join sides; A/B-measured at sf0.1
        # (r7): 1.53s with the checkpoint vs 1.64s without (warm,
        # best-of-2) — the r6 bench regression vs r5 was cold-run
        # ordering noise, not this materialization, and at three
        # consumers the cut is strictly right at scale
        .localCheckpoint(eager=False)
    )
    norms = postings.groupBy(id_col).agg(F.sum(F.col("_q") * F.col("_q")).alias("_nrm"))
    left = postings.select(F.col(id_col).alias("id_a"), "word", F.col("_q").alias("_qa"))
    right = postings.select(F.col(id_col).alias("id_b"), "word", F.col("_q").alias("_qb"))
    dots = (
        left.join(right, "word")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("_qa") * F.col("_qb")).alias("_dot"))
    )
    cosine = F.col("_dot").cast("double") / (
        F.sqrt(F.col("_na").cast("double")) * F.sqrt(F.col("_nb").cast("double"))
    )
    return (
        dots.join(norms.withColumnsRenamed({id_col: "id_a", "_nrm": "_na"}), "id_a")
        .join(norms.withColumnsRenamed({id_col: "id_b", "_nrm": "_nb"}), "id_b")
        .select("id_a", "id_b", cosine.alias("cosine"))
        .where(F.col("cosine") >= F.lit(min_cosine))
    )


def compression_ratio_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap
    redundancy signal (used by public web-corpus quality filters,
    e.g. the RefinedWeb/MassiveText-style "compression ratio" rule):
    highly repetitive or templated text compresses far below prose, so
    a LOW ratio flags keyboard-mash/boilerplate and an unusually HIGH
    ratio flags incompressible noise (base64 blobs, minified data).

    Output: ``(id_col, n_bytes, n_compressed, ratio)`` with ratio =
    compressed/raw rounded to 9 (empty docs: ratio 1.0 by convention).

    This is deliberately a PYTHON-path operator: DEFLATE is not
    expressible in either engine's SQL surface, so it runs as an
    Arrow-batched ``pandas_udf`` over stdlib ``zlib`` — the honest
    slow path, vectorized per batch, no per-row Python round-trips
    (the same discipline as the media codecs). No SQL oracle exists by
    design; correctness pins against direct ``zlib`` calls in pytest,
    and determinism holds because zlib output length at a fixed level
    is a pure function of the bytes.
    """
    if not 1 <= level <= 9:
        raise ValueError(f"level must be in 1..9, got {level}")
    import pandas as pd  # noqa: F401  (Arrow batch type)

    @F.pandas_udf("long")
    def _clen(s: pd.Series) -> pd.Series:
        import zlib

        return s.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), level))
            if t is not None
            else None
        )

    raw_len = F.length(F.encode(F.col(text_col), "UTF-8")).cast("long")
    out = df.select(
        F.col(id_col),
        raw_len.alias("n_bytes"),
        _clen(F.col(text_col)).alias("n_compressed"),
    )
    ratio = F.when(F.col("n_bytes") == 0, F.lit(1.0)).otherwise(
        F.round(
            F.col("n_compressed").cast("double") / F.col("n_bytes").cast("double"),
            9,
        )
    )
    return out.withColumn("ratio", ratio)


def rake_keywords(
    df: DataFrame,
    stopwords: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010 — public algorithm):
    candidate phrases are the maximal token runs BETWEEN stopword
    delimiters; each word scores degree/frequency where frequency
    counts the word's appearances across all candidate-phrase
    occurrences and degree sums the lengths of the phrases it appears
    in (co-occurrence weight); a phrase scores the sum of its words'
    scores (per occurrence of the word in the phrase), and each
    document keeps its top-``k`` DISTINCT phrases. Output:
    ``(id_col, phrase, n_words, score, rk)``, score rounded to 9.

    Determinism: word scores quantize to int64 nano-units
    (round(deg/freq · 1e9)) so phrase sums are order-independent
    exact integer adds — the same micro-quantization discipline as
    the LM scorer; ties in the final rank break on the phrase string.

    Shape: a regex split on the stopword alternation (pure
    expressions — no in-band delimiter substitution, so documents
    containing any literal character are safe), then
    two groupBy exchanges keyed by (doc, word) / (doc, phrase) and a
    per-doc top-k window — everything partitions by document-local
    keys; no corpus-wide state. Stopword-token matching is exact and
    case-sensitive (normalize upstream via text_normalize)."""
    if not stopwords:
        raise ValueError("rake_keywords: stopwords must be non-empty")
    if k < 1:
        raise ValueError(f"rake_keywords: k must be >= 1, got {k}")
    for s in stopwords:
        if not s or not s.replace("_", "").isalnum():
            raise ValueError(
                f"rake_keywords: stopwords must be plain tokens, got {s!r}"
            )
    from pyspark.sql.window import Window

    # split DIRECTLY on the stopword regex — never via an in-band
    # sentinel character, which a document containing that literal
    # character would silently corrupt with phantom phrase breaks
    sw_re = r"\b(?:" + "|".join(stopwords) + r")\b"
    ident = F.col(id_col)
    raw = F.split(F.col(text_col), sw_re)
    phrase = F.trim(F.regexp_replace(F.col("_p"), r"\s+", " "))
    occurrences = (
        df.select(ident.alias("_id"), F.explode(raw).alias("_p"))
        .select("_id", phrase.alias("phrase"))
        .where(F.col("phrase") != "")
        .withColumn("_words", F.split(F.col("phrase"), " "))
        .withColumn("_len", F.size("_words").cast("long"))
    )
    occ_words = occurrences.select(
        "_id", "_len", F.explode("_words").alias("_w")
    )
    stats = occ_words.groupBy("_id", "_w").agg(
        F.round(
            (F.sum("_len").cast("double") / F.count(F.lit(1)).cast("double"))
            * F.lit(1e9),
            0,
        )
        .cast("long")
        .alias("_q")
    )
    distinct_words = (
        occurrences.select("_id", "phrase", "_words", "_len")
        .dropDuplicates(["_id", "phrase"])
        .select("_id", "phrase", "_len", F.explode("_words").alias("_w"))
    )
    scored = (
        distinct_words.join(stats, ["_id", "_w"])
        .groupBy("_id", "phrase")
        .agg(
            F.min("_len").alias("n_words"),
            F.round(F.sum("_q").cast("double") / F.lit(1e9), 9).alias("score"),
        )
    )
    w = Window.partitionBy("_id").orderBy(
        F.col("score").desc(), F.col("phrase").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select(F.col("_id").alias(id_col), "phrase", "n_words", "score", "rk")
    )


def char_entropy_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document character Shannon entropy in bits/char — the
    other half of the cheap redundancy family next to
    :func:`compression_ratio_scores`: near-zero entropy flags
    single-character mash / padding, unusually HIGH entropy flags
    base64/hex blobs and minified data (a standard public web-corpus
    quality signal). Output ``(id_col, n_chars, n_distinct_chars,
    entropy)`` with entropy rounded to 9 and empty docs at 0.0.

    Shape: pure expression chain, zero shuffles/joins/UDFs — the
    distinct character set of the doc (sorted, so the fold order is
    engine-identical) maps to occurrence counts via
    ``length(text) - length(replace(text, c))`` and folds
    ``-Σ p·log2(p)`` left-to-right; per-doc work is
    O(distinct_chars · len) inside codegen, which beats shuffling an
    exploded char stream through a groupBy at any scale. The ``+ 0.0``
    normalizes IEEE ``-0.0`` (single-character docs) so the value
    hash-matches the SQL restatement."""
    text = F.col(text_col)
    length = F.length(text)
    dc = F.filter(
        F.array_sort(F.array_distinct(F.split(text, ""))),
        lambda c: c != F.lit(""),
    )
    p = lambda c: (  # noqa: E731 — local expression shorthand
        (length - F.length(F.replace(text, c))).cast("double")
        / length.cast("double")
    )
    folded = F.aggregate(
        dc, F.lit(0.0), lambda acc, c: acc + p(c) * F.log2(p(c))
    )
    entropy = F.when(length == 0, F.lit(0.0)).otherwise(
        F.round(-folded, 9) + F.lit(0.0)
    )
    return df.select(
        F.col(id_col),
        length.cast("long").alias("n_chars"),
        F.size(dc).cast("long").alias("n_distinct_chars"),
        entropy.alias("entropy"),
    )


def blocklist_hits(
    df: DataFrame,
    terms: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Blocklist screening — the UT1/RefinedWeb-family curation stage
    (banned-term density gating, public recipe): count each document's
    token-level hits against a term list. TOKEN EQUI-JOIN, not a
    regex scan: the document side explodes once into its (lowercased)
    token stream and joins the broadcast term table — work ∝ corpus
    tokens with an O(1) probe each, where an N-term alternation regex
    would pay O(N)-state scanning per character and rebuild the
    pattern on every list update. The term list is a TABLE, not a
    pattern: updating the blocklist is a data change, no plan change.

    Matching is exact whole-token, case-insensitive (terms are
    lowercased on the way in). Every doc appears in the output
    (zero-hit docs carry 0/0.0) so the gate can keep them without a
    second scan. Output: ``(id_col, n_tokens, n_hits, n_distinct_hits,
    hit_fraction)`` — hit_fraction one exact int division."""
    if "term" not in terms.columns:
        raise ValueError(f"terms must carry a 'term' column; got {terms.columns}")
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
        ).alias("_tok"),
    )
    tl = terms.select(F.lower(F.col("term")).alias("_tok")).distinct()
    hits = (
        toks.join(F.broadcast(tl), "_tok")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_hits"),
            F.count_distinct("_tok").cast("long").alias("n_distinct_hits"),
        )
    )
    ntok = toks.groupBy(id_col).agg(F.count("*").cast("long").alias("n_tokens"))
    return ntok.join(hits, id_col, "left").select(
        F.col(id_col),
        "n_tokens",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.coalesce(F.col("n_distinct_hits"), F.lit(0))
        .cast("long")
        .alias("n_distinct_hits"),
        F.round(
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double"),
            9,
        ).alias("hit_fraction"),
    )


def blocklist_filter(
    df: DataFrame,
    terms: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_fraction: float = 0.0,
) -> DataFrame:
    """The gate itself: keep documents whose banned-token fraction is
    ≤ ``max_fraction`` (default 0.0 — any hit drops). Composes
    :func:`blocklist_hits`; docs with zero tokens carry no evidence
    and are kept (the shared tokenizer contract)."""
    flagged = blocklist_hits(df, terms, text_col, id_col).where(
        F.col("hit_fraction") > max_fraction
    )
    return df.join(flagged.select(id_col), id_col, "left_anti")


def query_likelihood_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    mu: float = 2000.0,
    k: int = 10,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty,
    SIGIR 2001 — the standard language-model ranking, BM25's main
    rival): rank documents by Πₜ p(t|d) with
    ``p(t|d) = (tf + μ·p(t|C)) / (dl + μ)``. Output
    ``(doc_id, score, rk)`` for documents matching >= 1 query term,
    score desc / id asc, top-k.

    Scored in the odds form that keeps every op a correctly-rounded
    IEEE mul/div (the engine's bit-identical-across-engines contract —
    no ln, no pow):
    ``score = Πₜ (1 + tf·|C| / (μ·ctfₜ)) · (μ/(dl+μ))^|q|``
    with the doc-norm power expanded as |q| explicit multiplications
    and the per-term factors multiplied in the FIXED written order of
    ``query_terms``. Query terms absent from the whole collection
    (ctf=0) contribute factor 1 per the smoothing limit — their mass
    is pure background and cancels in ranking.

    Scale shape mirrors bm25_topk: one groupBy(doc) over the word
    stream computes dl + fixed-width per-term tfs, a 1-row global
    aggregate yields collection length and per-term collection
    frequencies, broadcast back; top-k via orderBy+limit
    (TakeOrderedAndProject). No joins besides the 1-row scalar
    attach."""
    if not query_terms or len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be non-empty and distinct")
    if mu <= 0:
        raise ValueError(f"query_likelihood_topk: mu must be > 0, got {mu}")
    from pyspark.sql import Window

    from . import fan_out

    words = (
        fan_out(df)
        .select(
            F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
        )
        .where(F.col("word") != "")
    )
    perdoc = words.groupBy(id_col).agg(
        F.count("*").alias("dl"),
        *[
            F.sum((F.col("word") == t).cast("long")).alias(f"_tf{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = perdoc.groupBy().agg(
        F.sum("dl").alias("c_len"),
        *[F.sum(f"_tf{i}").alias(f"_ctf{i}") for i in range(len(query_terms))],
    )
    score = None
    for i in range(len(query_terms)):
        factor = F.when(
            F.col(f"_ctf{i}") > 0,
            F.lit(1.0)
            + (F.col(f"_tf{i}").cast("double") * F.col("c_len").cast("double"))
            / (F.lit(float(mu)) * F.col(f"_ctf{i}").cast("double")),
        ).otherwise(F.lit(1.0))
        score = factor if score is None else score * factor
    doc_norm = F.lit(float(mu)) / (F.col("dl").cast("double") + F.lit(float(mu)))
    for _ in range(len(query_terms)):
        score = score * doc_norm
    match = None
    for i in range(len(query_terms)):
        cond = F.col(f"_tf{i}") > 0
        match = cond if match is None else (match | cond)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        perdoc.where(match)
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.round(score, 9).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rk", F.row_number().over(w).cast("long"))
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 100,
) -> DataFrame:
    """Corpus collocation mining by pointwise mutual information
    (Church & Hanks 1990): adjacent word pairs whose co-occurrence
    beats the independence baseline. Output
    ``(w1, w2, n_pair, lift)`` — ``lift`` is the PMI ratio
    ``p(w1,w2) / (p(w1)·p(w2))`` stated with one division so every op
    is correctly rounded:
    ``(n_pair · N_uni · N_uni) / (N_bi · c1 · c2)`` (counts cast to
    double, multiplied in that written order), rounded to 9; PMI
    itself is ``log lift`` — monotone, so ranking by lift IS ranking
    by PMI without the non-correctly-rounded ln. Top ``top_n`` by
    lift desc / (w1,w2) asc; pairs below ``min_count`` drop first
    (rare-pair PMI explodes — the classic failure mode the count
    floor exists for).

    Shape: bigrams come from an index transform over each document's
    split array (JVM lambda, zero shuffle, pairs stay inside the
    scan), then two word-keyed groupBys (unigrams, bigrams) and a
    1-row totals aggregate broadcast back onto the pair table. At
    corpus scale both aggregates are vocabulary-sized; the heavy
    stream is the one explode pass."""
    from . import fan_out

    ws = fan_out(df).select(F.split(F.col(text_col), " ").alias("ws"))
    uni = (
        ws.select(F.explode("ws").alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    pairs = (
        ws.select(
            F.explode(
                F.expr(
                    "transform(slice(ws, 1, greatest(size(ws) - 1, 0)), "
                    "(x, i) -> struct(x AS w1, ws[i + 1] AS w2))"
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    bi = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    totals = uni.groupBy().agg(F.sum("c").alias("n_uni")).crossJoin(
        bi.groupBy().agg(F.sum("n_pair").alias("n_bi"))
    )
    lift = (
        F.col("n_pair").cast("double")
        * F.col("n_uni").cast("double")
        * F.col("n_uni").cast("double")
    ) / (
        F.col("n_bi").cast("double")
        * F.col("c1").cast("double")
        * F.col("c2").cast("double")
    )
    return (
        bi.where(F.col("n_pair") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "n_pair", F.round(lift, 9).alias("lift"))
        .orderBy(F.col("lift").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(top_n)
    )


def textrank_keywords(
    df: DataFrame,
    stopwords: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 2,
    top_n: int = 50,
    iterations: int = 20,
) -> DataFrame:
    """Corpus-level TextRank keywords (Mihalcea & Tarau, EMNLP 2004):
    build the word co-occurrence graph — an undirected edge between
    content words appearing within ``window`` positions of each other
    in any document, weighted by co-occurrence count — and rank words
    by weighted PageRank over it. Output ``(word, rank)``, top
    ``top_n`` by rank desc / word asc, rank rounded to 9.

    RAKE (rake_keywords) scores phrases per document from local
    degree/frequency; TextRank is its global-graph complement — a
    word matters because it co-occurs with words that matter,
    recursively. Stopwords and empty tokens are excluded as graph
    nodes (standard candidate filter; matching is exact and
    case-sensitive like RAKE's — normalize upstream).

    Shape: positions explode once; co-occurrence pairs come from a
    bounded self-range join per document (pos difference 1..window —
    an equi-join on doc_id with a banded predicate, cost ∝
    window·corpus length, never all-pairs); the graph aggregates to
    vocabulary-sized edges; pagerank's power method does the rest
    (one shuffle per iteration, lineage cut per round). Edges are
    symmetrized (both directions) so the directed pagerank walks the
    undirected TextRank graph."""
    if window < 1:
        raise ValueError(f"textrank_keywords: window must be >= 1, got {window}")
    from . import fan_out
    from .graph import pagerank

    stop = set(stopwords)
    pos = (
        fan_out(df)
        .select(
            F.col(id_col).alias("d"),
            F.posexplode(F.split(F.col(text_col), " ")).alias("i", "w"),
        )
        .where((F.col("w") != "") & (~F.col("w").isin(*stop) if stop else F.lit(True)))
    )
    right = pos.select(
        F.col("d").alias("d2"), F.col("i").alias("j"), F.col("w").alias("w2")
    )
    cooc = (
        pos.join(
            right,
            (F.col("d") == F.col("d2"))
            & (F.col("j") > F.col("i"))
            & (F.col("j") <= F.col("i") + window),
        )
        .where(F.col("w") != F.col("w2"))
        .groupBy("w", "w2")
        .agg(F.count("*").alias("n"))
    )
    edges = cooc.select(
        F.col("w").alias("src"), F.col("w2").alias("dst"), F.col("n")
    ).unionByName(
        cooc.select(
            F.col("w2").alias("src"), F.col("w").alias("dst"), F.col("n")
        )
    )
    return (
        pagerank(edges, weight_col="n", iterations=iterations)
        .select(F.col("node").alias("word"), F.round("rank", 9).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("word").asc())
        .limit(top_n)
    )


def corpus_line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """Cross-corpus line deduplication — the CCNet recipe (Wenzek et
    al. 2020): hash every line, count how many DISTINCT documents each
    line appears in, and drop EVERY copy of lines seen in
    ``min_docs``-or-more documents (cookie banners, nav footers,
    "subscribe" chrome — the page furniture that survives per-document
    cleaning precisely because it repeats across pages, which is also
    why this is the signal that finds it). The within-document
    complement is :func:`drop_repeated_paragraphs`.

    Output per input row: ``(id_col, text_col, n_lines, n_dropped)``
    — the reassembled text (original order, original separator),
    total and dropped line counts. Documents whose every line is
    boilerplate are KEPT with text '' (an empty doc is a quality
    signal downstream gates act on; silently deleting rows is not
    this operator's decision). Duplicate lines WITHIN one document
    count once toward the document frequency (distinct-docs
    semantics) and are all dropped together when the line crosses the
    threshold.

    Scale shape: posexplode once; document frequency is a
    groupBy(line) over the (doc, line)-distinct projection
    (line-vocabulary-sized — boilerplate by definition repeats, so
    this table is far smaller than the corpus); the verdict joins
    back onto the line stream by line key and the doc reassembles
    with the same sort_array/array_join groupBy as
    drop_repeated_paragraphs. Three keyed shuffles, all JVM, nothing
    ever holds a whole document in one row except the final
    concat."""
    import re as _re

    if min_docs < 1:
        raise ValueError(f"corpus_line_dedup: min_docs must be >= 1, got {min_docs}")
    parts = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep))
        ).alias("_pos", "_line"),
    )
    docfreq = (
        parts.select(id_col, "_line")
        .distinct()
        .groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    flagged = parts.join(docfreq, "_line").select(
        id_col, "_pos", "_line", (F.col("_df") >= min_docs).alias("_drop")
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("_drop"), F.struct("_pos", "_line")
                        )
                    )
                ),
                lambda x: x["_line"],
            ),
            sep,
        ).alias(text_col),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("_drop").cast("long")).cast("long").alias("n_dropped"),
    )


def phrase_match(
    df: DataFrame,
    phrase_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional phrase search — the inverted-index adjacency join
    every IR engine runs for quoted queries (Manning/Raghavan/Schütze
    ch.2's positional-index algorithm): a document matches where
    term_i appears at position p+i for ALL i. Output
    ``(id_col, n_matches)`` for documents with >= 1 occurrence —
    overlapping occurrences each count (the index semantics; a regex
    engine would disagree on overlaps, which is why the contract is
    stated here).

    Shape: the position table filters to the PHRASE'S terms before
    anything joins — the stream entering the joins is term-selective,
    ∝ the phrase terms' corpus frequency, not corpus size — then
    ``len(phrase)−1`` equi-joins on (doc, adjacent position), each a
    keyed hash join, and one count per doc. Works identically over a
    PERSISTED positional index (id, pos, term) via the same joins —
    the raw text is only needed to build positions, exactly like
    anchor-term retrieval needs no crawl text."""
    if len(phrase_terms) < 2:
        raise ValueError(
            f"phrase_match: need >= 2 phrase terms, got {phrase_terms}"
        )
    from . import fan_out

    pos = (
        fan_out(df)
        .select(
            F.col(id_col).alias("_d"),
            F.posexplode(F.split(F.col(text_col), " ")).alias("_p", "_w"),
        )
        .where(F.col("_w").isin(*set(phrase_terms)))
        .localCheckpoint(eager=True)
    )
    matched = pos.where(F.col("_w") == phrase_terms[0]).select("_d", "_p")
    for i, term in enumerate(phrase_terms[1:], start=1):
        nxt = pos.where(F.col("_w") == term).select(
            F.col("_d").alias("_d2"), (F.col("_p") - i).alias("_p2")
        )
        matched = matched.join(
            nxt,
            (matched._d == nxt._d2) & (matched._p == nxt._p2),
        ).select("_d", "_p")
    return matched.groupBy(F.col("_d").alias(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches")
    )


def _viterbi_segment(word: str, logp: dict[str, float], max_len: int) -> list[str]:
    """Best segmentation of ``word`` under piece log-probs: classic
    Viterbi over cut positions (ties prefer the FEWER-piece path, then
    the lexicographically-earlier backpointer — total and deterministic).
    The trainer guarantees char coverage of its OWN corpus, but
    ``unigram_encode`` accepts any caller vocab/corpus, so a character
    absent from ``logp`` (the normal cross-corpus case) is emitted as a
    single-char piece at a floor log-prob instead of crashing — the
    standard <unk>-as-byte fallback SentencePiece uses."""
    n = len(word)
    NEG = float("-inf")
    # Floor score for unknown single characters: worse than every real
    # piece so a known segmentation always wins, but finite so every
    # word stays reachable.
    unk_floor = (min(logp.values()) if logp else 0.0) - 100.0
    best = [NEG] * (n + 1)
    nseg = [0] * (n + 1)
    back: list[tuple[int, str] | None] = [None] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None and i - j == 1:
                lp = unk_floor
            if lp is None or best[j] == NEG:
                continue
            cand = best[j] + lp
            better = cand > best[i] or (
                cand == best[i]
                and back[i] is not None
                and (
                    nseg[j] + 1 < nseg[i]
                    or (nseg[j] + 1 == nseg[i] and piece < back[i][1])
                )
            )
            if back[i] is None or better:
                best[i] = cand
                nseg[i] = nseg[j] + 1
                back[i] = (j, piece)
    out: list[str] = []
    i = n
    while i > 0:
        j, piece = back[i]
        out.append(piece)
        i = j
    out.reverse()
    return out


def unigram_lm_learn(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 200,
    max_piece_len: int = 6,
    min_freq: int = 2,
    iterations: int = 3,
    prune_frac: float = 0.2,
) -> DataFrame:
    """Unigram-language-model tokenizer induction (Kudo, ACL 2018 —
    the SentencePiece 'unigram' algorithm, BPE's principled rival:
    pieces carry probabilities and segmentation MAXIMIZES likelihood
    instead of replaying greedy merges). Distributed the same way
    :func:`bpe_learn` is: the corpus is touched ONCE (one groupBy to
    the word-frequency table); everything after works on the vocab
    table, and the model itself (piece → log-prob) is model-sized and
    rides the driver/closure exactly like the IVF centroids and the
    pruned bigram-LM.

    Algorithm (documented public simplifications of the paper's
    full recipe, each standard practice: hard-EM instead of
    forward-backward expected counts, count-mass pruning instead of
    likelihood-loss pruning):

    1. SEED: every substring of length ≤ ``max_piece_len`` of every
       word, weighted by word frequency; substrings under ``min_freq``
       drop; ALL single characters are kept unconditionally (coverage:
       every word stays segmentable forever).
    2. EM rounds: E — Viterbi-segment each DISTINCT word under the
       current log-probs (Arrow-batched over the vocab table, model in
       the closure); piece counts accumulate word-frequency-weighted.
       M — re-normalize counts to probabilities.
    3. PRUNE ``prune_frac`` of the lowest-count multi-character pieces
       per round until ≤ ``vocab_size`` pieces remain, then one final
       EM round re-scores the survivors.

    Returns ``(piece, logprob, rank)`` — rank 1 = most probable;
    log-probs rounded to 9. Deterministic end-to-end: seeding,
    segmentation ties, pruning ties (count asc, piece asc) and
    normalization are all total orders or fixed-order arithmetic."""
    if vocab_size < 2:
        raise ValueError(f"unigram_lm_learn: vocab_size must be >= 2, got {vocab_size}")
    if max_piece_len < 1 or iterations < 1 or not 0.0 < prune_frac < 1.0:
        raise ValueError(
            "unigram_lm_learn: need max_piece_len >= 1, iterations >= 1, "
            f"0 < prune_frac < 1; got {max_piece_len}, {iterations}, {prune_frac}"
        )
    import math

    from . import fan_out

    words = (
        fan_out(df)
        .select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .localCheckpoint(eager=True)
    )

    # 1. seed counts: substring explode over the VOCAB table
    subs = (
        words.select(
            "freq",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(word)), i -> "
                    f"transform(sequence(1, least({max_piece_len}, "
                    "length(word) - i + 1)), l -> substring(word, i, l))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("c"))
    )
    seed_rows = subs.where(
        (F.length("piece") == 1) | (F.col("c") >= min_freq)
    ).collect()
    counts: dict[str, float] = {r.piece: float(r.c) for r in seed_rows}
    chars = {p for p in counts if len(p) == 1}

    def normalize(c: dict[str, float]) -> dict[str, float]:
        total = sum(c.values())
        return {p: math.log(v / total) for p, v in c.items() if v > 0} | {
            # zero-count single chars stay at a tiny floor probability:
            # coverage demands their presence, honesty demands a low score
            p: math.log(0.5 / total)
            for p in chars
            if c.get(p, 0) <= 0
        }

    logp = normalize(counts)

    def em_counts(model: dict[str, float]) -> dict[str, float]:
        import pandas as pd

        frozen = dict(model)

        def run(batches):
            for pdf in batches:
                pieces: list[str] = []
                ws: list[float] = []
                for w, f in zip(pdf["word"], pdf["freq"]):
                    for piece in _viterbi_segment(str(w), frozen, max_piece_len):
                        pieces.append(piece)
                        ws.append(float(f))
                yield pd.DataFrame({"piece": pieces, "w": ws})

        out = (
            words.mapInPandas(run, "piece string, w double")
            .groupBy("piece")
            .agg(F.sum("w").alias("c"))
            .collect()
        )
        return {r.piece: float(r.c) for r in out}

    for _ in range(iterations):
        counts = em_counts(logp)
        # prune lowest-count multi-char pieces toward the target size
        multi = sorted(
            ((c, p) for p, c in counts.items() if len(p) > 1),
        )
        n_now = len(chars) + len(multi)
        if n_now > vocab_size:
            excess = n_now - vocab_size
            n_drop = min(max(int(len(multi) * prune_frac), 1), excess)
            for c, p in multi[:n_drop]:
                del counts[p]
        logp = normalize(counts)

    # final pruning straight to the target if EM rounds didn't get there
    multi = sorted(((c, p) for p, c in counts.items() if len(p) > 1))
    excess = (len(chars) + len(multi)) - vocab_size
    if excess > 0:
        for c, p in multi[:excess]:
            del counts[p]
        logp = normalize(em_counts(normalize(counts)))

    rows = sorted(logp.items(), key=lambda kv: (-kv[1], kv[0]))
    spark = df.sparkSession
    return local_rows_df(
        spark,
        [(p, round(lp, 9), i + 1) for i, (p, lp) in enumerate(rows)],
        "piece string, logprob double, rank long",
    )


def unigram_encode(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 6,
) -> DataFrame:
    """Tokenize a corpus with a learned unigram-LM vocabulary
    (:func:`unigram_lm_learn`): Viterbi-best segmentation per word —
    maximum-likelihood, not greedy-merge — emitting one row per token
    in document order: ``(id_col, token_ord, piece, logprob)``.

    Shape: the model collects driver-side (model-sized, the same
    discipline as bpe_encode's merge list and the IVF centroids) and
    rides the Arrow closure; encoding is one mapInPandas over the
    corpus. Words are whitespace tokens, same contract as the BPE
    path; concatenating a word's pieces reproduces the word exactly
    (pytest-pinned)."""
    model = {r.piece: float(r.logprob) for r in vocab.collect()}
    if not model:
        raise ValueError("unigram_encode: empty vocabulary")
    # Characters absent from the vocab (cross-corpus encode) come back
    # from the Viterbi as single-char pieces at this floor log-prob —
    # must match _viterbi_segment's fallback exactly.
    unk_floor = min(model.values()) - 100.0
    import pandas as pd

    key_dt = dict(df.dtypes)[id_col]
    out_schema = (
        f"`{id_col}` {key_dt}, token_ord long, piece string, logprob double"
    )

    def run(batches):
        for pdf in batches:
            ids, ords, ps, lps = [], [], [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                k = 0
                for w in str(text or "").split(" "):
                    if not w:
                        continue
                    for piece in _viterbi_segment(w, model, max_piece_len):
                        k += 1
                        ids.append(rid)
                        ords.append(k)
                        ps.append(piece)
                        lps.append(model.get(piece, unk_floor))
            yield pd.DataFrame(
                {id_col: ids, "token_ord": ords, "piece": ps, "logprob": lps}
            )

    from . import fan_out

    return fan_out(df.select(id_col, text_col)).mapInPandas(run, out_schema)


def kneser_ney_lm_scores(
    df: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Score documents under interpolated Kneser-Ney smoothing (Kneser
    & Ney, ICASSP 1995; Chen & Goodman 1999's standard formulation) —
    the quality upgrade of :func:`ngram_lm_scores`'s add-k model: KN
    discounts every seen bigram by a fixed ``d`` and backs off to the
    CONTINUATION probability (how many contexts a word follows, not
    how often it occurs), fixing add-k's classic failure where a
    frequent-but-context-bound word ("Francisco") outscores a
    versatile one.

    Model, derived entirely from the same persistable
    :func:`ngram_lm_counts` artifact (train once, score every batch):
    ``P(w₂|w₁) = max(c₁₂−d, 0)/c₁ + λ(w₁)·Pc(w₂)`` with
    ``λ(w₁) = d·N1p(w₁·)/c₁`` and an add-one continuation floor
    ``Pc(w₂) = (N1p(·w₂)+1)/(T+V)`` so scoring NEW batches (unknown
    words/contexts) stays defined — an unknown context backs off to
    ``Pc`` alone. ``d`` defaults to the textbook 0.75 (exactly
    representable).

    Bit-exactness: every count is an exact integer; P is two
    correctly-rounded divisions and one sum of doubles — the same
    expression both engines — then each bigram's log micro-quantizes
    to int64 before the per-document integer sum (the module-wide
    discipline). Output: ``(id_col, n_bigrams, logprob_micro,
    avg_logprob)`` — the ngram_lm_scores contract, drop-in for the
    gate/composition stages.

    Scale shape: identical to ngram_lm_scores — model-sized joins
    (counts, context totals, forward/backward continuation counts),
    two broadcast scalars (T, V), one per-document groupBy."""
    if not {"w1", "w2", "c"} <= set(lm.columns):
        raise ValueError(
            f"lm must be an ngram_lm_counts result with (w1, w2, c); got {lm.columns}"
        )
    if not 0.0 < discount < 1.0:
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    d = F.lit(discount)
    ctx = lm.groupBy("w1").agg(
        F.sum("c").alias("c1"), F.count(F.lit(1)).alias("n1p_fwd")
    )
    cont = lm.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_bwd"))
    scalars = lm.agg(F.count(F.lit(1)).cast("long").alias("t")).crossJoin(
        F.broadcast(
            lm.select(F.explode(F.array("w1", "w2")).alias("w")).agg(
                F.count_distinct("w").alias("v")
            )
        )
    )
    bg = _word_bigrams(df, text_col, id_col)
    pc = (F.coalesce(F.col("n1p_bwd"), F.lit(0)).cast("double") + F.lit(1.0)) / (
        F.col("t").cast("double") + F.col("v").cast("double")
    )
    seen = F.col("c1").isNotNull() & (F.col("c1") > 0)
    p_seen = (
        F.greatest(
            F.coalesce(F.col("c12"), F.lit(0)).cast("double") - d, F.lit(0.0)
        )
        / F.col("c1").cast("double")
        + d
        * F.col("n1p_fwd").cast("double")
        / F.col("c1").cast("double")
        * pc
    )
    p = F.when(seen, p_seen).otherwise(pc)
    scored = (
        bg.join(lm.withColumnRenamed("c", "c12"), ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(scalars))
        .select(
            F.col(id_col),
            F.round(F.log(p) * F.lit(1e6)).cast("long").alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.sum("_lp").alias("logprob_micro"),
        (
            F.sum("_lp").cast("double")
            / (F.count("*").cast("double") * F.lit(1e6))
        ).alias("avg_logprob"),
    )


def unseen_mass_estimate(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Good-Turing unseen-probability mass (Good, Biometrika 1953):
    ``P₀ = N₁/N`` — the fraction of word tokens occurring exactly once
    estimates the probability the NEXT token is a never-seen word.
    The one-row corpus-coverage readout behind "is this corpus big
    enough for its domain": high unseen mass ⟹ the vocabulary is
    still growing and rare-word estimates are unreliable (the same
    quantity Kneser-Ney's discount reserves for the backoff path).

    One row: ``(n_tokens, vocab, singletons (long), p_unseen (double —
    exact integer ratio, one division))``. Tokens are the fixture
    single-space convention. Scale shape: one word-grain groupBy, one
    3-scalar fold."""
    words = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"))
        .where(F.col("w") != "")
    )
    per = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    return per.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("singletons"),
    ).select(
        "n_tokens",
        "vocab",
        F.coalesce("singletons", F.lit(0)).alias("singletons"),
        F.when(
            F.col("n_tokens") > 0,
            F.col("singletons").cast("double")
            / F.col("n_tokens").cast("double"),
        ).alias("p_unseen"),
    )


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Zipf's-law fit of the corpus frequency spectrum (Zipf 1949):
    the least-squares slope of ``ln(freq)`` against ``ln(rank)`` over
    the full vocabulary — natural language sits near −1; heavily
    boilerplated or templated corpora flatten (repeated spans inflate
    mid-ranks) and synthetic/spam text steepens. A one-row corpus
    fingerprint next to :func:`unseen_mass_estimate`.

    Exactness: ranks are total-ordered (freq desc, word asc — ties
    broken deterministically); both regression coordinates micro-
    quantize to int64 (``round(ln(·)·1e6)``), the closed-form slope's
    sums accumulate in DECIMAL(38,0)/HUGEINT, and the 1e6 scales
    cancel in the ratio — ONE division, rounded to 9. One row:
    ``(n_words (long), slope, intercept (double; NULL when the
    vocabulary has < 2 words))`` with intercept in nats at rank 1.

    Scale shape: word-grain groupBy, then rank assignment via the
    range-exchange + per-partition-offset path of
    ``layout.global_row_ids`` — NOT an unpartitioned ``row_number``
    window: vocabulary is not a bounded domain (Heaps' law — a web
    corpus has 10⁸–10⁹ distinct tokens), so the naive window would
    serialize the whole vocabulary through one task; the row-id path
    distributes the ordering exactly like ``vocab_encode_words`` and
    ``deterministic_shuffle``. A 1-row closed-form fold finishes."""
    from .layout import global_row_ids

    words = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"))
        .where(F.col("w") != "")
    )
    per = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    ranked = global_row_ids(
        per.select("w", "c", (-F.col("c")).alias("_negc")),
        ["_negc", "w"],
        id_col="_rid",
    ).select((F.col("_rid") + 1).alias("r"), "c")
    x = F.round(F.log(F.col("r").cast("double")) * F.lit(1e6)).cast("long")
    y = F.round(F.log(F.col("c").cast("double")) * F.lit(1e6)).cast("long")
    dec = "decimal(38,0)"
    sums = ranked.select(x.alias("_x"), y.alias("_y")).agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.col("_x").cast(dec)).alias("_sx"),
        F.sum(F.col("_y").cast(dec)).alias("_sy"),
        F.sum(F.col("_x").cast(dec) * F.col("_y").cast(dec)).alias("_sxy"),
        F.sum(F.col("_x").cast(dec) * F.col("_x").cast(dec)).alias("_sxx"),
    )
    n = F.col("n_words").cast("decimal(38,0)")
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    slope = num.cast("double") / den.cast("double")
    return sums.select(
        "n_words",
        F.when((F.col("n_words") > 1) & (den.cast("double") != 0), F.round(slope, 9)).alias(
            "slope"
        ),
        F.when(
            (F.col("n_words") > 1) & (den.cast("double") != 0),
            F.round(
                (
                    F.col("_sy").cast("double")
                    - slope * F.col("_sx").cast("double")
                )
                / (F.col("n_words").cast("double") * F.lit(1e6)),
                9,
            ),
        ).alias("intercept"),
    )


def chao1_richness(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Chao1 species-richness estimator of the vocabulary (Chao,
    Scand. J. Stat. 1984, bias-corrected form): ``V + F₁(F₁−1) /
    (2(F₂+1))`` from the singleton (F₁) and doubleton (F₂) counts —
    the lower-bound estimate of how many distinct words the corpus
    WOULD contain at infinite size. The companion readout to
    :func:`unseen_mass_estimate`: Good-Turing says how much
    probability mass is unseen, Chao1 says how many TYPES are unseen
    (``chao1 − vocab`` = estimated undiscovered vocabulary; coverage
    = vocab/chao1 is the "have we crawled enough of this domain"
    gate). One row: ``(n_tokens, vocab, f1, f2 (long), chao1
    (double — exact integer ratio, one division; equals vocab when
    F₁ = 0), coverage (double))``.

    Scale shape: one word-grain groupBy, one 4-scalar fold — the
    unseen_mass shape exactly."""
    words = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"))
        .where(F.col("w") != "")
    )
    per = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    agg = per.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.coalesce(F.sum((F.col("c") == 1).cast("long")), F.lit(0))
        .cast("long")
        .alias("f1"),
        F.coalesce(F.sum((F.col("c") == 2).cast("long")), F.lit(0))
        .cast("long")
        .alias("f2"),
    )
    chao = F.col("vocab").cast("double") + (
        F.col("f1").cast("double") * (F.col("f1").cast("double") - F.lit(1.0))
    ) / (F.lit(2.0) * (F.col("f2").cast("double") + F.lit(1.0)))
    return agg.select(
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        F.when(F.col("vocab") > 0, F.round(chao, 9)).alias("chao1"),
        F.when(
            F.col("vocab") > 0,
            F.round(F.col("vocab").cast("double") / chao, 9),
        ).alias("coverage"),
    )


def bigram_repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document bigram repetition signals — the n-gram tier of the
    Gopher repetition rules (Rae et al. 2021 §A1.1 measure "fraction
    in duplicate/top n-grams"), one level above
    :func:`word_repetition_stats`'s unigram ratios: templated and
    boilerplate text repeats PHRASES long before it repeats enough
    single words to trip the unigram gate. OCCURRENCE-fraction
    convention (each bigram occurrence counts 1, not its characters —
    stated because Gopher's original weights by characters; the
    occurrence form restates exactly in SQL and ranks documents
    near-identically): ``dup_bigram_ratio`` = fraction of bigram
    occurrences whose bigram occurs ≥ 2× in the document,
    ``top_bigram_ratio`` = the most frequent bigram's share. Docs
    with < 2 words emit zero ratios (no bigrams exist).

    Output: ``(id_col, n_bigrams (long), dup_bigram_ratio,
    top_bigram_ratio (double))``.

    Scale shape: one posexplode + self-equi-join on (doc, pos+1) —
    both sides the same projection, partitioned by doc; one
    (doc, bigram)-grain groupBy with map-side combine; one doc-grain
    fold. Work ∝ corpus tokens, state ∝ distinct bigrams per doc."""
    words = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias(
            "_p", "_w"
        ),
    ).where(F.col("_w") != "")
    nxt = words.select(
        F.col(id_col),
        (F.col("_p") - 1).alias("_p"),
        F.col("_w").alias("_w2"),
    )
    grams = words.join(nxt, [id_col, "_p"]).select(
        F.col(id_col), F.concat_ws(" ", "_w", "_w2").alias("_g")
    )
    per = grams.groupBy(id_col, "_g").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    out = per.groupBy(id_col).agg(
        F.sum("_c").cast("long").alias("n_bigrams"),
        F.sum(F.when(F.col("_c") >= 2, F.col("_c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("_dup"),
        F.max("_c").cast("long").alias("_top"),
    )
    docs = df.select(F.col(id_col)).distinct()
    return (
        docs.join(out, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.round(
                F.coalesce("_dup", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("n_bigrams", F.lit(0)), F.lit(1)).cast(
                    "double"
                ),
                9,
            ).alias("dup_bigram_ratio"),
            F.round(
                F.coalesce("_top", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("n_bigrams", F.lit(0)), F.lit(1)).cast(
                    "double"
                ),
                9,
            ).alias("top_bigram_ratio"),
        )
    )


def flesch_reading_ease(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch Reading Ease per document (Flesch, J. Appl. Psych. 1948:
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``) —
    the classic readability quality signal (90+ ≈ grade school, < 30 ≈
    academic); a standard curation feature next to the Gopher gates
    (boilerplate and OCR junk score pathologically at both ends).

    Deterministic public heuristics, identical cross-engine: words =
    the corpus single-space convention; sentences = count of
    ``[.!?]+`` terminator GROUPS, floored at 1; syllables per word =
    count of ``[aeiouy]+`` vowel groups (lowercased), floored at 1 —
    all via split-length arithmetic (``len(split(s, re)) − 1`` counts
    the separator groups), so every input to the formula is an exact
    integer and the score is ONE shared IEEE chain, rounded to 9.

    Output: ``(id_col, n_words, n_sentences, n_syllables (long),
    flesch (double; NULL for empty/NULL text))``.

    Scale shape: one scan-local projection for words/sentences + one
    exploded word-grain aggregation for syllables — the text_analysis
    shape, zero UDFs."""
    t = F.col(text_col)
    words_arr = F.split(F.lower(t), " ")
    scan = df.select(
        F.col(id_col),
        F.when(
            t.isNotNull() & (F.length(t) > 0),
            F.size(F.filter(words_arr, lambda w: w != "")),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_words"),
        F.when(
            t.isNotNull(),
            F.greatest(F.size(F.split(t, "[.!?]+")) - 1, F.lit(1)),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_sentences"),
    )
    syl = (
        df.where(t.isNotNull())
        .select(
            F.col(id_col),
            F.explode(F.split(F.lower(t), " ")).alias("_w"),
        )
        .where(F.col("_w") != "")
        .select(
            id_col,
            F.greatest(
                F.size(F.split(F.col("_w"), "[aeiouy]+")) - 1, F.lit(1)
            ).alias("_s"),
        )
        .groupBy(id_col)
        .agg(F.sum("_s").cast("long").alias("n_syllables"))
    )
    w = F.col("n_words").cast("double")
    return scan.join(syl, id_col, "left").select(
        id_col,
        "n_words",
        "n_sentences",
        F.coalesce("n_syllables", F.lit(0)).alias("n_syllables"),
        F.when(
            F.col("n_words") > 0,
            F.round(
                F.lit(206.835)
                - F.lit(1.015) * (w / F.col("n_sentences").cast("double"))
                - F.lit(84.6)
                * (F.col("n_syllables").cast("double") / w),
                9,
            ),
        ).alias("flesch"),
    )


def lexical_richness(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Frequency-spectrum lexical-richness statistics of the corpus
    vocabulary: Yule's K (Yule, *The Statistical Study of Literary
    Vocabulary* 1944: ``K = 10⁴·(Σ m²·V(m) − N)/N²`` over the spectrum
    V(m) = #types with frequency m — repetitiveness that is nearly
    text-length invariant, unlike raw type/token ratio), Herdan's C
    (Herdan 1960: ``ln V / ln N``, the log-log TTR), and the hapax
    ratio F₁/V. The boilerplate/spam screen companion to
    :func:`chao1_richness`: Chao1 asks how much vocabulary is UNSEEN,
    K asks how mechanically the seen vocabulary repeats (template spam
    → few types dominate → K explodes). One row: ``(n_tokens, vocab,
    hapax (long), yules_k, herdan_c, hapax_ratio (double; NULL on an
    empty/1-token corpus where the forms are undefined))``.

    Exactness: the whole spectrum fold is exact integers — Σ m²·V(m)
    = Σ c² over word counts in DECIMAL(38,0)/HUGEINT — and each
    readout is ONE engine-identical IEEE chain (ln for Herdan),
    rounded to 9. Scale shape: one word-grain groupBy, one 3-scalar
    fold (the chao1/unseen_mass shape); the spectrum itself is never
    materialized."""
    words = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"))
        .where(F.col("w") != "")
    )
    per = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = per.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.coalesce(
            F.sum((dec("c") * dec("c")).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_m2"),
        F.coalesce(F.sum((F.col("c") == 1).cast("long")), F.lit(0))
        .cast("long")
        .alias("hapax"),
    )
    n = F.col("n_tokens").cast("double")
    v = F.col("vocab").cast("double")
    k = F.lit(1e4) * (F.col("_m2").cast("double") - n) / (n * n)
    return agg.select(
        "n_tokens",
        "vocab",
        "hapax",
        F.when(F.col("n_tokens") >= 2, F.round(k, 9)).alias("yules_k"),
        F.when(
            (F.col("n_tokens") >= 2) & (F.col("vocab") >= 1),
            F.round(F.log(v) / F.log(n), 9),
        ).alias("herdan_c"),
        F.when(
            F.col("vocab") > 0,
            F.round(F.col("hapax").cast("double") / v, 9),
        ).alias("hapax_ratio"),
    )


def readability_panel(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-based readability panel per document: Coleman–Liau
    index (Coleman & Liau, J. Appl. Psych. 1975: ``0.0588·L −
    0.296·S − 15.8`` with L = letters and S = sentences per 100
    words) and the Automated Readability Index (Senter & Smith 1967:
    ``4.71·(letters/words) + 0.5·(words/sentences) − 21.43``) — the
    two grade-level scores that need NO syllable heuristic, which
    makes them the robust cross-check on :func:`flesch_reading_ease`
    (vowel-group syllable counts misfire on URLs/code; letter counts
    do not). Both report U.S. grade level — agreement across the
    three flags a trustworthy estimate, divergence flags non-prose.

    Counting conventions shared with flesch: words = corpus
    single-space convention; sentences = ``[.!?]+`` terminator
    groups floored at 1; letters = ``[a-z0-9]`` after lowercasing
    (alphanumerics — the published CLI convention). Every formula
    input is an exact integer; each score is ONE shared IEEE chain,
    rounded to 9. Output: ``(id_col, n_letters, n_words, n_sentences
    (long), coleman_liau, ari (double; NULL for empty/wordless
    text))``. Scale shape: one scan-local projection, zero UDFs, no
    shuffle at all."""
    t = F.col(text_col)
    lower = F.lower(t)
    words_arr = F.split(lower, " ")
    n_words = F.when(
        t.isNotNull() & (F.length(t) > 0),
        F.size(F.filter(words_arr, lambda w: w != "")),
    ).otherwise(F.lit(0)).cast("long")
    n_sent = F.when(
        t.isNotNull(),
        F.greatest(F.size(F.split(t, "[.!?]+")) - 1, F.lit(1)),
    ).otherwise(F.lit(0)).cast("long")
    n_let = F.when(
        t.isNotNull(),
        F.length(F.regexp_replace(lower, "[^a-z0-9]", "")),
    ).otherwise(F.lit(0)).cast("long")
    scan = df.select(
        F.col(id_col),
        n_let.alias("n_letters"),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
    )
    w = F.col("n_words").cast("double")
    letters = F.col("n_letters").cast("double")
    sent = F.col("n_sentences").cast("double")
    cli = (
        F.lit(0.0588) * (letters / w * F.lit(100.0))
        - F.lit(0.296) * (sent / w * F.lit(100.0))
        - F.lit(15.8)
    )
    ari = (
        F.lit(4.71) * (letters / w)
        + F.lit(0.5) * (w / sent)
        - F.lit(21.43)
    )
    ok = F.col("n_words") > 0
    return scan.select(
        id_col,
        "n_letters",
        "n_words",
        "n_sentences",
        F.when(ok, F.round(cli, 9)).alias("coleman_liau"),
        F.when(ok, F.round(ari, 9)).alias("ari"),
    )


def honore_sichel(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Honoré's R and Sichel's S over the corpus frequency spectrum
    (Honoré, ALLC Bull. 1979: ``R = 100·ln N / (1 − V₁/V)``; Sichel,
    JRSS-A 1975: ``S = V₂/V``) — the two spectrum statistics
    :func:`lexical_richness` omits: R diverges as hapaxes approach
    the whole vocabulary (productive, open vocabularies — or OCR
    noise minting junk types), S is nearly text-length stable and
    drops when templated text recycles its types. Same tokenization
    as lexical_richness (lowercase, corpus single-space convention).
    One row: ``(n_tokens, vocab, hapax, dis (long), honore_r
    (double; NULL when V₁ = V — the form diverges — or the corpus is
    empty), sichel_s (double; NULL on an empty vocabulary))``.

    Exactness: all four spectrum counts are exact integers from one
    word-grain groupBy + one fold; each readout is ONE shared IEEE
    chain (ln for R), rounded to 9. Scale shape: the
    lexical_richness/chao1 shape — word-grain groupBy, one 4-scalar
    fold, spectrum never materialized."""
    words = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"))
        .where(F.col("w") != "")
    )
    per = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    agg = per.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.coalesce(F.sum((F.col("c") == 1).cast("long")), F.lit(0))
        .cast("long")
        .alias("hapax"),
        F.coalesce(F.sum((F.col("c") == 2).cast("long")), F.lit(0))
        .cast("long")
        .alias("dis"),
    )
    n = F.col("n_tokens").cast("double")
    v = F.col("vocab").cast("double")
    v1 = F.col("hapax").cast("double")
    r = F.lit(100.0) * F.log(n) / (F.lit(1.0) - v1 / v)
    return agg.select(
        "n_tokens",
        "vocab",
        "hapax",
        "dis",
        F.when(
            (F.col("n_tokens") > 0) & (F.col("hapax") < F.col("vocab")),
            F.round(r, 9),
        ).alias("honore_r"),
        F.when(
            F.col("vocab") > 0,
            F.round(F.col("dis").cast("double") / v, 9),
        ).alias("sichel_s"),
    )
