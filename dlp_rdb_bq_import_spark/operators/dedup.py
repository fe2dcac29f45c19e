"""Deduplication operators for large-scale training-data pipelines.

Families (BASELINE.json north star; designed for 100 TB):
- exact dedup: hash-groupBy — one shuffle on the dedup key, map-side
  partial aggregation; at scale the key is a fixed-width digest, not the
  document body, so shuffle bytes stay small.
- n-gram Jaccard: exact pairwise similarity via shingle inverted index —
  the *verifier* for near-dup candidates; quadratic blowup is bounded by
  a document-frequency cap on hot shingles (stopword shingles are where
  inverted-index joins explode at scale).
- MinHash + LSH: per-document signatures via an affine hash family over
  one base 64-bit hash (k aggregate expressions — no k× row blowup),
  banded into buckets; only same-bucket pairs are candidates. This is
  the 100 TB path: cost ≈ docs × shingles + candidates, never docs².
- SimHash: 64-bit weighted-bit fingerprint via JVM-side token hashing
  and bit-vote aggregates; near-dup = small Hamming distance; banding
  on 16-bit chunks makes the pair search an equi-join (a Hamming-≤3
  pair must agree on ≥1 chunk).

Everything is DataFrame-native (explode/groupBy/join) so Catalyst
handles pushdown and AQE handles skew; no Python appears in any path.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Skew guard: shingles appearing in more than this many documents are
# dropped from inverted-index joins by default. A stopword-like shingle
# shared by k docs contributes k² join rows — at 100 TB one hot shingle
# is the whole job. Uncapped mode (None) is reserved for oracle /
# verification runs at small scale.
DEFAULT_MAX_DOC_FREQ = 1000


def exact_dedup(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per distinct key set (hash-groupBy dedup)."""
    return df.groupBy(*keys).agg(F.min(id_col).alias(id_col)).select(id_col, *keys)


def content_fingerprint(df: DataFrame, cols: list[str], out: str = "fingerprint") -> DataFrame:
    """Stable content hash over selected columns (md5 of a canonical
    concatenation) — the fixed-width dedup key that keeps 100 TB shuffles
    small."""
    return df.withColumn(out, F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])))


def incremental_dedup(
    new: DataFrame,
    corpus: DataFrame,
    cols: list[str],
    id_col: str,
    broadcast_corpus: bool = False,
) -> DataFrame:
    """Daily-crawl dedup: rows of the NEW batch whose content already
    exists in the standing corpus are dropped, and the batch is also
    deduped against itself (lowest id wins). The corpus side reduces to
    its distinct fingerprint set before the anti-join, so the 100 TB
    corpus ships as fixed-width hashes — broadcastable when the
    fingerprint set fits (``broadcast_corpus``), a fingerprint-keyed
    shuffle otherwise. Output keeps the new batch's full rows.
    """
    seen = content_fingerprint(corpus, cols).select("fingerprint").distinct()
    if broadcast_corpus:
        seen = F.broadcast(seen)
    fresh = content_fingerprint(new, cols)
    keep = fresh.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return (
        fresh.join(keep, ["fingerprint", id_col], "left_semi")
        .join(seen, "fingerprint", "left_anti")
        .drop("fingerprint")
    )


def shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distinct character n-gram shingles per document: (id, shingle).

    Pure built-ins: sequence → explode → substring; stays in
    whole-stage codegen, no Python. ``num_partitions`` repartitions the
    *input* by id before the explode — a single-row-group parquet file
    otherwise turns the whole shingle stage into one task regardless of
    cluster size.
    """
    base = df.select(F.col(id_col), F.col(text_col))
    if num_partitions:
        base = base.repartition(num_partitions, id_col)
    else:
        from . import fan_out

        base = fan_out(base)
    return (
        base.select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1)))).alias("_pos"),
            F.col(text_col),
        )
        .select(F.col(id_col), F.substring(F.col(text_col), F.col("_pos"), n).alias("shingle"))
        .where(F.length("shingle") == n)
        .distinct()
    )


def hashed_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    num_partitions: int | None = None,
    unit: str = "char",
    distinct: bool = True,
) -> DataFrame:
    """Distinct (id, shingle-hash) pairs: ``xxhash64`` of each n-gram
    replaces the string shingle, so every downstream shuffle/join key is
    a fixed 8 bytes instead of an n-byte string — the 100 TB shuffle
    posture. Collision odds at 64 bits are negligible and deterministic.

    ``unit='char'`` → character n-grams (matches the exact-Jaccard
    oracle); ``unit='word'`` → word n-grams (Broder w-shingling — the
    production MinHash unit: word n-grams are far more selective than
    character n-grams over natural/templated text, so background
    similarity between unrelated documents stays near 0 and LSH banding
    actually separates near-dups from noise).

    ``distinct=False`` skips the per-doc dedup shuffle and emits raw
    (id, hash) rows — for callers that dedup *after* a selective
    broadcast join has already discarded most of the stream (see
    ``decontam.contamination_pairs``)."""
    base = df.select(F.col(id_col), F.col(text_col))
    if num_partitions:
        base = base.repartition(num_partitions, id_col)
    else:
        # the shingle explode is the linear cost downstream of a scan
        # sized for raw bytes — widen narrow scans to the session's
        # parallelism (no-op when the corpus is already wider)
        from . import fan_out

        base = fan_out(base)
    if unit == "word":
        toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        out = (
            base.where(F.size(toks) >= n)
            .select(F.col(id_col), F.explode(grams).alias("_sh"))
            .select(F.col(id_col), F.xxhash64("_sh").alias("_h"))
        )
    else:
        out = (
            base.select(
                F.col(id_col),
                F.explode(F.sequence(F.lit(1), F.greatest(F.length(text_col) - (n - 1), F.lit(1)))).alias("_pos"),
                F.col(text_col),
            )
            .select(F.col(id_col), F.substring(F.col(text_col), F.col("_pos"), n).alias("_sh"))
            .where(F.length("_sh") == n)
            .select(F.col(id_col), F.xxhash64("_sh").alias("_h"))
        )
    return out.distinct() if distinct else out


def _materialize_and_release(result: DataFrame, *caches: DataFrame) -> DataFrame:
    """Run the (small) pairs job now and release the (large) shingle
    caches. The pairs output is candidate-bounded — thousands of times
    smaller than the cached shingle sets feeding it — so eagerly
    materializing it (localCheckpoint: also cuts lineage for the
    iterative clustering consumers) lets us unpersist immediately
    instead of leaking executor memory across composed dedup calls in a
    long-lived session (round-2 review)."""
    out = result.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    threshold: float = 0.5,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    num_partitions: int | None = None,
    eager: bool = True,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard ≥ threshold via shingle inverted index.

    ``max_doc_freq`` drops shingles occurring in more than that many
    documents before the self-join — the skew guard that keeps the
    inverted index from exploding on stopword shingles at scale. The
    production default is a finite cap (DEFAULT_MAX_DOC_FREQ); pass
    ``None`` only for exact verification runs at small scale, where the
    quadratic blowup is affordable.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 6
    decimals (integer-ratio division in double — deterministic and
    oracle-comparable).
    """
    sh = shingles(df, text_col, id_col, n, num_partitions)
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        sh = sh.join(freq.where(F.col("_df") <= max_doc_freq).select("shingle"), "shingle")
    sh = sh.select(F.col(id_col).alias("_id"), "shingle").cache()
    sizes = sh.groupBy("_id").agg(F.count("*").alias("_n"))

    a = sh.select(F.col("_id").alias("id_a"), "shingle")
    b = sh.select(F.col("_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    sz_a = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    sz_b = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    result = (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter")
                / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _materialize_and_release(result, sh) if eager else result


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    threshold: float = 0.8,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    num_partitions: int | None = None,
    eager: bool = True,
) -> DataFrame:
    """Asymmetric n-gram containment — the near-dup signal Jaccard
    misses: a short document fully quoted inside a long one has
    containment ≈ 1 from the short side while Jaccard ≈ |short|/|long|
    stays far below any threshold. The standard second axis of
    shingle-based dedup (Broder 1997 defines both).

    Output: ``(id_sub, id_super, containment)`` where containment =
    |grams(sub) ∩ grams(super)| / |grams(sub)| ≥ threshold, both
    directions of each pair tested independently (a row per direction
    that clears the threshold). Rounded to 6 decimals like the Jaccard
    twin — an integer-ratio division, oracle-comparable.

    Same scale shape as :func:`ngram_jaccard_pairs`: shingle inverted
    index, doc-frequency skew cap, candidates only from shared
    shingles — no cross join.
    """
    sh = shingles(df, text_col, id_col, n, num_partitions)
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        sh = sh.join(freq.where(F.col("_df") <= max_doc_freq).select("shingle"), "shingle")
    sh = sh.select(F.col(id_col).alias("_id"), "shingle").cache()
    sizes = sh.groupBy("_id").agg(F.count("*").alias("_n"))

    a = sh.select(F.col("_id").alias("id_sub"), "shingle")
    b = sh.select(F.col("_id").alias("id_super"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_sub") != F.col("id_super"))
        .groupBy("id_sub", "id_super")
        .agg(F.count("*").alias("_inter"))
    )
    sz = sizes.select(F.col("_id").alias("id_sub"), F.col("_n").alias("_nsub"))
    result = (
        inter.join(sz, "id_sub")
        .withColumn(
            "containment",
            F.round(F.col("_inter") / F.col("_nsub").cast("double"), 6),
        )
        .where(F.col("containment") >= threshold)
        .select("id_sub", "id_super", "containment")
    )
    return _materialize_and_release(result, sh) if eager else result


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_n: int = 5,
    shingle_df: DataFrame | None = None,
    num_partitions: int | None = None,
    shingle_unit: str = "char",
) -> DataFrame:
    """Per-document MinHash signature as ``num_hashes`` columns.

    One xxhash64 per shingle, then component i re-hashes it with the
    component index as the second hash input — k independent 64-bit
    min-wise hash functions as k aggregate expressions, no k-fold row
    multiplication, one shuffle. Deterministic (no RNG state), fully
    JVM-side.

    Why re-hash rather than an affine family: under ANSI int64
    arithmetic an affine ``(a_i*h + b_i) mod p`` can't let the product
    wrap the modulus without overflowing (a_i·h must stay < 2^63), and
    a non-wrapping affine map is ORDER-PRESERVING in h — every
    component then picks the same argmin shingle, the k components are
    perfectly correlated, and the agreement estimator collapses to
    all-or-nothing (the round-6 estimator-quality property test caught
    exactly this). A keyed hash has no such monotonicity.

    ``shingle_df`` lets callers pass a precomputed (and cached)
    ``hashed_shingles`` result so the shingle explode runs once per
    pipeline, not once per consumer.
    """
    sh = shingle_df if shingle_df is not None else hashed_shingles(
        df, text_col, id_col, shingle_n, num_partitions, shingle_unit
    )
    aggs = [
        F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(F.col(id_col)).agg(*aggs)


def partial_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 50,
    stride_words: int = 25,
    threshold: float = 0.3,
    num_hashes: int = 64,
    bands: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """PARTIAL-document near-dup: document pairs sharing at least one
    near-duplicate CHUNK — the syndicated-paragraph / boilerplate-
    section case that whole-document MinHash misses, because one
    shared passage inside two otherwise-different documents keeps
    doc-level Jaccard far below any sane threshold. (For VERBATIM
    shared runs :func:`duplicated_substring_spans` is exact; this
    catches the lightly-edited copy too.)

    Chunks are WORD-aligned overlapping windows (``chunk_words`` words
    at ``stride_words`` stride): word alignment means a passage shared
    by two documents yields identical word subsequences regardless of
    its character offset in each (character-offset chunks slice words
    at different phases and destroy shingle equality), and the
    stride <= chunk/2 overlap guarantees some window pair shares at
    least chunk_words - stride_words passage words. The DEFAULT
    threshold (0.3) sits just under that guarantee's worst-phase
    verified-Jaccard floor (25 shared words of a 40+-word passage →
    ~23 shared 3-shingles over ~73 distinct → J ≈ 0.31), so a passage
    of >= chunk_words words is caught at EVERY alignment phase, not
    just lucky ones; raise it only with chunk/stride retuned. Default
    bands=32 (r=2): small chunks carry only ~chunk_words shingles, so
    candidate recall needs the gentler banding curve — at J=0.3 recall
    is ~0.95 and at J=0.4 ~0.996, where r=4's is ~0.12/~0.34. Chunk pairs are exact-Jaccard-verified (the
    minhash_dedup_pairs pipeline), then roll up to document pairs.
    Output ``(id_a, id_b, n_chunk_matches, best_jaccard)`` with
    id_a < id_b; same-document chunk pairs excluded.

    Scale shape: the chunk table is ~words/stride rows per document
    with the same banding/equi-join posture as document-level LSH —
    nothing quadratic; the rollup is one groupBy over the (small)
    matched-pair set. Chunk ids pack as doc_id * 2^20 + chunk_no
    (loud guard at 2^20 chunks/doc), so the pair table stays
    fixed-width int64 (doc ids must be in [0, 2^43) — guarded, since
    the packed product must stay inside int64).
    """
    if stride_words < 1 or chunk_words < stride_words:
        raise ValueError("need chunk_words >= stride_words >= 1")
    cap = 1 << 20
    max_doc = 1 << 43
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n_chunks = F.greatest(
        F.ceil((F.size(toks) - F.lit(chunk_words)) / F.lit(stride_words)) + 1,
        F.lit(1),
    )
    chunks = (
        df.where(F.size(toks) >= shingle_n)
        .select(
            F.col(id_col),
            toks.alias("_toks"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_no"),
        )
        .select(
            F.col(id_col),
            "chunk_no",
            F.concat_ws(
                " ",
                F.slice(
                    "_toks", F.col("chunk_no") * stride_words + 1, chunk_words
                ),
            ).alias("chunk"),
        )
        .withColumn(
            "_cid",
            F.when(
                (F.col("chunk_no") < cap)
                & (F.col(id_col) >= 0)
                & (F.col(id_col) < max_doc),
                F.col(id_col).cast("long") * F.lit(cap) + F.col("chunk_no"),
            ).otherwise(
                # loud guards, not silent corruption: a negative id
                # truncates differently under integer div and would
                # misattribute pairs; an id >= 2^43 overflows the pack
                F.raise_error(
                    F.concat(
                        F.lit("partial_overlap_pairs: document "),
                        F.col(id_col).cast("string"),
                        F.lit(" exceeds 2^20 chunks or id outside [0, 2^43)"),
                    )
                )
            ),
        )
    )
    pairs = minhash_dedup_pairs(
        chunks.select("_cid", "chunk"),
        "chunk",
        "_cid",
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        shingle_unit="word",
    )
    # integer `div`, not float `/`: packed ids reach 2^20 x doc_id and
    # a double's 53-bit mantissa would corrupt large doc ids
    da = F.expr(f"id_a div {cap}")
    db = F.expr(f"id_b div {cap}")
    return (
        pairs.select(
            F.least(da, db).alias("id_a"),
            F.greatest(da, db).alias("id_b"),
            "jaccard",
        )
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").cast("long").alias("n_chunk_matches"),
            F.max("jaccard").alias("best_jaccard"),
        )
    )


def merge_signature_index(
    index: DataFrame, new_sigs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Standing-index maintenance — the step that closes the
    batch-ingest loop: after a batch's survivors are admitted to the
    corpus, their signatures join the persisted MinHash index so the
    NEXT batch near-dups against them too. On id collision the new
    row wins (a re-ingested document refreshes its signature): one
    anti-join on the id plus a union, no shuffle of the signature
    payload beyond the id-keyed anti-join. Both sides must carry the
    same mh_* family (same k; enforced)."""
    k_old = len([c for c in index.columns if c.startswith("mh_")])
    k_new = len([c for c in new_sigs.columns if c.startswith("mh_")])
    if k_old == 0 or k_old != k_new:
        raise ValueError(
            f"index and new_sigs must carry the same mh_* family; "
            f"got k={k_old} vs k={k_new}"
        )
    cols = [id_col] + [f"mh_{i}" for i in range(k_old)]
    new_part = new_sigs.select(*cols)
    return (
        index.select(*cols)
        .join(new_part.select(id_col), id_col, "left_anti")
        .unionByName(new_part)
    )


def row_minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_n: int = 5,
    shingle_unit: str = "char",
) -> DataFrame:
    """Per-document MinHash signature as STATELESS scalar expressions —
    bit-identical values to :func:`minhash_signatures` (pytest-pinned),
    but computed row-wise (shingle array → per-component
    ``array_min(transform(...))``) with no explode, no groupBy, and no
    shuffle at all.

    The use case is contexts that cannot aggregate — e.g. a streaming
    plan that must stay stateless, or signing inside an existing
    per-row stage. PERFORMANCE CAVEAT: nested higher-order functions
    (``transform``/``array_min``) evaluate INTERPRETED in Spark, not
    whole-stage codegen'd, so for bulk signing the explode+groupBy
    aggregate form is substantially faster despite its shuffle
    (measured ~8x at 10x fixture scale) — which is why the streaming
    near-dup job runs the batch operator via ``foreachBatch`` instead
    of this. min-over-multiset equals min-over-set, so the per-doc
    distinct the aggregate path inherits from ``hashed_shingles`` is
    unnecessary here.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    if shingle_unit == "word":
        toks = F.split(text, " ")
        grams = F.when(
            F.size(toks) >= shingle_n,
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(toks) - (shingle_n - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(toks, i, shingle_n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    else:
        grams = F.when(
            F.length(text) >= shingle_n,
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.length(text) - (shingle_n - 1), F.lit(1))
                ),
                lambda i: F.substring(text, i, shingle_n),
            ),
        ).otherwise(F.array().cast("array<string>"))
    hashes = F.transform(grams, lambda g: F.xxhash64(g))
    sig_cols = [
        F.array_min(
            F.transform(hashes, lambda h: F.xxhash64(h, F.lit(i)))
        ).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    # docs below the shingle width have no shingles and therefore no
    # signature — same contract as the aggregate form (groupBy over
    # zero shingle rows emits nothing)
    return df.select(F.col(id_col), *sig_cols).where(F.col("mh_0").isNotNull())


def banded_signatures(
    signatures: DataFrame,
    id_col: str,
    bands: int = 16,
) -> DataFrame:
    """Explode a ``minhash_signatures`` table into its LSH band keys:
    one row per (doc, band) with ``sig`` = xxhash64 of the band's
    signature components. This IS the persistable standing index for
    incremental dedup — fixed-width (id, int, long) rows, derivable
    from stored signatures by pure expressions, joinable by equi-join."""
    k = len([c for c in signatures.columns if c.startswith("mh_")])
    rows_per_band = k // bands
    band_cols = []
    for bidx in range(bands):
        cols = [f"mh_{i}" for i in range(bidx * rows_per_band, (bidx + 1) * rows_per_band)]
        band_cols.append(
            F.struct(F.lit(bidx).alias("band"), F.xxhash64(*cols).alias("sig")).alias(f"_b{bidx}")
        )
    return (
        signatures.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bb"))
        .select(F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.sig").alias("sig"))
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str,
    bands: int = 16,
) -> DataFrame:
    """Band the signature into ``bands`` buckets; same-bucket pairs are
    candidates. Join key is (band_index, band_hash) — an equi-join AQE
    can handle, never a cross join."""
    banded = banded_signatures(signatures, id_col, bands)
    left = banded.select(F.col(id_col).alias("id_a"), "band", "sig")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "sig")
    return (
        left.join(right, ["band", "sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def incremental_minhash_pairs(
    new: DataFrame,
    corpus_signatures: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.5,
    bands: int = 16,
    shingle_n: int = 5,
    num_partitions: int | None = None,
    shingle_unit: str = "word",
) -> DataFrame:
    """New-batch-vs-standing-corpus near-duplicate pairs — the batch
    ingest path of a training pipeline: the standing corpus exists only
    as its persisted MinHash signature index (``minhash_signatures``
    output, e.g. written/read via ``sinks.warehouse.Warehouse``), so
    each arriving batch is matched WITHOUT re-reading or re-shingling
    corpus text.

    Returns ``(new_id, corpus_id, est_jaccard)`` where ``est_jaccard``
    is the standard MinHash estimate — the fraction of agreeing
    signature components — for banded-LSH candidates at or above
    ``threshold``. (Exact Jaccard verification is impossible by design:
    the index stores 8·k bytes per corpus doc, not its shingles; at
    k=64 the component estimator's std-error is ~0.06 at J=0.5.)

    Signatures depend only on the document itself, so the candidate set
    equals ``minhash_lsh_candidates`` over the full corpus restricted
    to new×corpus pairs (pinned in tests). Scale shape: the new batch
    shingles/aggregates once (linear); both sides explode to ``bands``
    fixed-width rows; one (band, sig) equi-join whose matches are
    candidate-bounded; the estimator is a JVM ``zip_with`` fold over
    two k-long arrays — no Python, no cross join, corpus text untouched.
    ``num_hashes`` is inferred from the index's ``mh_*`` columns; the
    new side MUST be signed with the same k/shingle parameters the
    index was built with (coefficients are deterministic, so equal
    parameters give equal hash families).
    """
    k = len([c for c in corpus_signatures.columns if c.startswith("mh_")])
    if k == 0 or k % bands != 0:
        raise ValueError(
            f"corpus_signatures must carry mh_0..mh_{{k-1}} columns with k a "
            f"multiple of bands; got k={k}, bands={bands}"
        )
    new_sigs = minhash_signatures(
        new, text_col, id_col, num_hashes=k, shingle_n=shingle_n,
        num_partitions=num_partitions, shingle_unit=shingle_unit,
    )
    nb = banded_signatures(new_sigs, id_col, bands).withColumnsRenamed(
        {id_col: "new_id"}
    )
    cb = banded_signatures(corpus_signatures, id_col, bands).withColumnsRenamed(
        {id_col: "corpus_id"}
    )
    cand = nb.join(cb, ["band", "sig"]).select("new_id", "corpus_id").distinct()
    arr = F.array(*[F.col(f"mh_{i}") for i in range(k)])
    na = new_sigs.select(F.col(id_col).alias("new_id"), arr.alias("_sa"))
    ca = corpus_signatures.select(F.col(id_col).alias("corpus_id"), arr.alias("_sb"))
    agree = F.aggregate(
        F.zip_with("_sa", "_sb", lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(na, "new_id")
        .join(ca, "corpus_id")
        .withColumn("_est", agree / F.lit(float(k)))
        .where(F.col("_est") >= threshold)
        .select(
            "new_id", "corpus_id", F.round("_est", 6).alias("est_jaccard")
        )
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    num_partitions: int | None = None,
    shingle_unit: str = "word",
    eager: bool = True,
) -> DataFrame:
    """Full near-dup pipeline: MinHash → LSH candidates → exact Jaccard
    verification of candidates only (the scale path: candidate count,
    not docs², bounds the exact work).

    Scale posture: the input is repartitioned by id before shingling
    (a single-row-group file would otherwise make the explode stage one
    serial task), and the hashed-shingle set is computed ONCE and cached
    — reused by the signature aggregation and both sides of the
    verification join. Shuffle/join keys are 8-byte hashes throughout.

    Default shingle unit is WORD n-grams (Broder w-shingling). Character
    n-grams over natural/templated text give unrelated documents a
    background Jaccard only slightly below any useful threshold, so LSH
    banding passes a near-quadratic candidate set; word n-grams keep
    background similarity near 0 and candidates ≈ true near-dups. Use
    ``shingle_unit='char'`` only for verification against the
    char-n-gram oracle at small scale.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    sh = hashed_shingles(df, text_col, id_col, shingle_n, num_partitions, shingle_unit).cache()
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, shingle_df=sh)
    cand = minhash_lsh_candidates(sigs, id_col, bands)
    sizes = sh.groupBy(F.col(id_col).alias("_id")).agg(F.count("*").alias("_n"))
    a = sh.select(F.col(id_col).alias("id_a"), "_h")
    b = sh.select(F.col(id_col).alias("id_b"), "_h")
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "_h"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    result = (
        inter.join(sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter")
                / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _materialize_and_release(result, sh) if eager else result


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document (token-hash bit voting), entirely
    JVM-side: split → explode → xxhash64(token) → 64 bit-vote aggregates
    → sign reassembly. No Python in the path, whole-stage codegen
    end-to-end. Output: (id, simhash int64); empty/null text → 0.

    Duplicate tokens vote once per occurrence (weighted SimHash with
    unit weights), matching the classic Charikar construction.
    """
    from . import fan_out

    ids = df.select(F.col(id_col).cast("long").alias(id_col))
    toks = (
        fan_out(df)
        .select(
            F.col(id_col).cast("long").alias(id_col),
            F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")), " ")).alias("_tok"),
        )
        .where(F.length("_tok") > 0)
        .select(F.col(id_col), F.xxhash64("_tok").alias("_th"))
    )
    votes = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col("_th"), i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"_v{i}")
        for i in range(64)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    # Reassemble: bit i set iff vote >= 0. Bits are disjoint, so the sum
    # is a bitwise OR; bit 63's term is Long.MIN_VALUE, and the running
    # sum never leaves the int64 range (bits 0..62 sum to < 2^63).
    sig = F.lit(0).cast("long")
    for i in range(64):
        sig = sig + F.when(
            F.col(f"_v{i}") >= 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    sig_df = agg.select(F.col(id_col), sig.alias("simhash"))
    # Docs with no tokens produce no vote rows; restore them with sig 0.
    return (
        ids.join(sig_df, id_col, "left")
        .select(F.col(id_col), F.coalesce(F.col("simhash"), F.lit(0).cast("long")).alias("simhash"))
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id)
    where cluster_id is the minimum doc id in the component. Pair lists
    alone don't dedup a corpus — transitive closure does (a~b, b~c must
    collapse to ONE keeper even when a~c was never emitted).

    The ids are cast to long and solved by ``graph.connected_components``:
    driver union-find up to its measured edge bound, star contraction
    (O(log n) rounds, at most ``max_iterations``) past it.

    Only ids that appear in some pair are emitted; singletons are their
    own implicit cluster (callers: see ``dedup_keep_representative``).
    """
    from .graph import connected_components

    edges = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    return connected_components(edges, max_iterations=max_iterations).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def dedup_keep_representative(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Corpus-level near-dup removal: keep one representative (minimum
    id) per duplicate cluster, pass singletons through untouched. This
    is the operator a curation pipeline actually calls — pairs and
    clusters are its internals."""
    clusters = duplicate_clusters(pairs, id_a, id_b).withColumnRenamed("doc_id", id_col)
    return (
        df.join(clusters, id_col, "left")
        .where(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col(id_col)))
        .drop("cluster_id")
    )


def hamming_neardup_pairs(
    sigs: DataFrame, id_col: str, sig_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs among 64-bit signatures by Hamming distance ≤ k —
    the shared candidate engine behind SimHash text near-dup and
    perceptual-hash image near-dup.

    Pigeonhole banding: split the 64-bit signature into ``max_hamming+1``
    chunks; any pair within distance k agrees on ≥1 chunk → equi-join on
    (chunk_index, chunk_value), then exact Hamming filter via
    bit_count(xor). No cross join at any scale — which is exactly why
    ``max_hamming`` is capped: at 64-bit signatures, chunks wider than
    ~4 bits stop discriminating (max_hamming >= 15 → width <= 4), and
    max_hamming >= 63 would make every chunk value 0, degenerating the
    equi-join into a full cross join. Distances that loose are not
    "near"-duplicates for a 64-bit sketch anyway.
    """
    if not 0 <= max_hamming <= 15:
        raise ValueError(
            f"max_hamming must be in [0, 15] for 64-bit signatures "
            f"(banding needs >= 4 discriminating bits per chunk), got {max_hamming}"
        )
    chunks = max_hamming + 1
    width = 64 // chunks
    # width=64 (max_hamming=0): the all-bits mask is -1 in two's
    # complement — (1<<64)-1 would overflow the int64 literal
    mask = (1 << width) - 1 if width < 64 else -1
    pieces = [
        F.struct(
            F.lit(i).alias("chunk"),
            F.shiftrightunsigned(F.col(sig_col), i * width)
            .bitwiseAND(F.lit(mask))
            .alias("val"),
        ).alias(f"_c{i}")
        for i in range(chunks)
    ]
    banded = sigs.select(
        F.col(id_col), F.col(sig_col), F.explode(F.array(*pieces)).alias("c")
    ).select(F.col(id_col), sig_col, F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))
    left = banded.select(F.col(id_col).alias("id_a"), F.col(sig_col).alias("sig_a"), "chunk", "val")
    right = banded.select(F.col(id_col).alias("id_b"), F.col(sig_col).alias("sig_b"), "chunk", "val")
    return (
        left.join(right, ["chunk", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_neardup_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k (see
    :func:`hamming_neardup_pairs` for the banding shape)."""
    return hamming_neardup_pairs(
        simhash(df, text_col, id_col), id_col, "simhash", max_hamming
    )


# ---------------------------------------------------------------------------
# Exact substring-level dedup (cross-document duplicated character runs)
# ---------------------------------------------------------------------------
#
# The remaining member of the dedup family after doc-level exact /
# n-gram / MinHash / SimHash / semantic: find the exact CHARACTER RUNS
# that are shared verbatim across documents (the operator suffix-array
# pipelines compute for training-data curation; no reference
# counterpart — the reference has no dedup at all).


def duplicated_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 40,
    num_partitions: int | None = None,
    eager: bool = True,
) -> DataFrame:
    """Maximal cross-document duplicated substring spans, exactly.

    A position i in a document is *duplicated* iff the ``min_len``-gram
    starting at i appears in at least one OTHER document. Consecutive
    duplicated positions merge (gaps-and-islands) into maximal spans
    ``(doc_id, dup_start, dup_end)``, 1-based inclusive character
    offsets — every returned span is a substring of length >= min_len
    shared verbatim with another document.

    Plan shape (skew-safe, no cross join, suffix-array granularity
    without the suffix array):
      1. explode stride-1 gram starts; project (id, pos, digest)
         BEFORE any shuffle so rows carry 16+16 bytes — the gram
         travels as a fixed-width 128-bit digest (two differently
         seeded xxhash64 values: one 64-bit key alone would collide at
         corpus scale and falsely merge distinct grams; two give a
         ~2^-128 birthday bound at a fraction of md5's per-gram cost),
         never as the raw 40+-char string;
      2. ``groupBy(digest).agg(min(id), max(id))`` finds cross-doc
         grams. The map-side partial aggregation collapses each task's
         repeats of a hot gram to ONE row before the exchange, so a
         boilerplate gram present in millions of docs (license
         headers, navigation chrome) ships one partial per task
         instead of pinning every occurrence on a single reducer —
         the failure mode of the previous whole-partition-window mark;
      3. equi-join the multi-doc digest set (one 16-byte row per
         shared gram) back onto the gram stream. Unlike a window,
         this join is AQE-skew-splittable: a hot gram's probe rows
         can be split across tasks with the single build row
         replicated. The gram stream is ``persist(MEMORY_AND_DISK)``-ed
         across its two consumers (the groupBy build and the probe),
         so the stride-1 explode — the dominant linear cost — runs
         ONCE; the persisted rows are fixed-width (8+4+8+8 bytes),
         i.e. the same O(text) footprint a distributed suffix array
         would materialize anyway, and spill to disk past memory;
      4. one hash-partition on doc id turns positions into islands
         (pos - row_number) and aggregates the spans.

    At 100 TB the stride-1 explode is the honest cost of EXACT
    substring semantics (it is what a distributed suffix array
    materializes too); for candidate-level dedup at a fraction of the
    rows, use :func:`cdc_chunk_duplicate_spans`.
    """
    from pyspark.sql import Window

    for reserved in ("_g", "_d1", "_d2", "_pos", "_grp"):
        if reserved in df.columns:
            raise ValueError(f"input column collides with reserved name {reserved!r}")
    gram = F.substring(F.col(text_col), F.col("_pos"), F.lit(min_len))
    # The stride-1 explode multiplies rows ~|text|-fold, so input
    # splits sized for the RAW table starve it of parallelism (one
    # 1 MB parquet split explodes into GBs on one core). An explicit
    # num_partitions repartitions unconditionally (the same contract as
    # shingles/hashed_shingles); the default fans a narrow scan out to
    # the session's parallelism and never inserts a shuffle on an
    # already-wide 100 TB scan.
    from . import fan_out

    src = df.where(F.length(text_col) >= min_len)
    src = src.repartition(num_partitions) if num_partitions else fan_out(src)
    grams = (
        src
        .select(
            F.col(id_col).cast("long").alias(id_col),
            F.explode(
                F.sequence(F.lit(1), F.length(text_col) - F.lit(min_len - 1))
            ).alias("_pos"),
            F.col(text_col),
        )
        .select(
            id_col,
            F.col("_pos").cast("int").alias("_pos"),
            F.xxhash64(gram).alias("_d1"),
            F.xxhash64(gram, F.lit(1)).alias("_d2"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    multi = (
        grams.groupBy("_d1", "_d2")
        .agg(F.min(id_col).alias("_mn"), F.max(id_col).alias("_mx"))
        .where(F.col("_mn") != F.col("_mx"))
        .select("_d1", "_d2")
    )
    hits = grams.join(multi, ["_d1", "_d2"]).select(id_col, "_pos")
    w_doc = Window.partitionBy(id_col).orderBy("_pos")
    spans = (
        hits.withColumn("_grp", F.col("_pos") - F.row_number().over(w_doc))
        .groupBy(id_col, "_grp")
        .agg(
            F.min("_pos").cast("long").alias("dup_start"),
            (F.max("_pos") + F.lit(min_len - 1)).cast("long").alias("dup_end"),
        )
        .select(id_col, "dup_start", "dup_end")
    )
    # spans are thousands of times smaller than the persisted gram
    # stream feeding them — materialize now and release the cache
    # (the round-2 discipline; a leaked O(text) persist outlives the
    # call in a long-lived session). ``eager=False`` keeps the full
    # lazy plan (and the persist) for callers that inspect or compose
    # it — the same contract as the other pair operators here.
    return _materialize_and_release(spans, grams) if eager else spans


def strip_duplicated_substrings(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove duplicated spans (from :func:`duplicated_substring_spans`
    or :func:`cdc_chunk_duplicate_spans`) from each document's text.

    JVM-side fold: spans collect per doc into a sorted array, then one
    ``F.aggregate`` walks the text with a cursor, concatenating the
    kept stretches (overlapping spans clamp — the cursor never moves
    backwards). Docs with no spans pass through untouched.
    """
    if "_spans" in df.columns:
        raise ValueError(
            "strip_duplicated_substrings: input column '_spans' collides with "
            "a reserved internal name; rename it before calling"
        )
    spans_arr = spans.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("dup_start", "dup_end"))).alias("_spans")
    )
    text = F.col(text_col)

    def step(acc, s):
        start = F.greatest(s.dup_start, acc.cur)
        return F.struct(
            F.greatest(s.dup_end + 1, acc.cur).cast("int").alias("cur"),
            F.concat(
                acc.acc,
                F.substring(text, acc.cur, F.greatest(start - acc.cur, F.lit(0))),
            ).alias("acc"),
        )

    cleaned = F.aggregate(
        F.col("_spans"),
        F.struct(F.lit(1).cast("int").alias("cur"), F.lit("").alias("acc")),
        step,
        lambda acc: F.concat(
            acc.acc, F.substring(text, acc.cur, F.length(text) - acc.cur + 1)
        ),
    )
    return (
        df.join(spans_arr, id_col, "left")
        .withColumn(
            text_col, F.when(F.col("_spans").isNull(), text).otherwise(cleaned)
        )
        .drop("_spans")
    )


_CDC_SCHEMA = (
    "doc_id long, chunk_start long, chunk_end long, chunk_hash string"
)


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    avg_bits: int = 6,
    window: int = 16,
    min_chunk: int = 16,
) -> DataFrame:
    """Content-defined chunking (rolling-hash breakpoints).

    Splits each document at positions where a window-``window``
    polynomial rolling hash (base 257 mod 2^64 — the same vectorized
    numpy kernel as winnowing) lands in the 2^-``avg_bits`` bucket, so
    expected chunk length ~= 2^avg_bits + min_chunk. Breakpoints are
    CONTENT-determined: identical long regions chunk identically in
    every document regardless of byte offset — which is what makes
    chunk hashes joinable across differently-aligned copies (fixed
    chunking would misalign them).

    Returns (doc_id, chunk_start, chunk_end, chunk_hash) with 1-based
    inclusive CHARACTER offsets (the kernel walks UTF-32 code units,
    one per char, so offsets compose with F.substring /
    strip_duplicated_substrings on non-ASCII text) and md5 chunk
    hashes. One Arrow-batched numpy pass per doc; no shuffle.
    """
    import hashlib
    from typing import Iterator as _It

    import numpy as np
    import pandas as pd

    B = 257
    powers = np.array(
        [pow(B, window - 1 - j, 1 << 64) for j in range(window)], dtype=np.uint64
    )
    mask = (1 << avg_bits) - 1

    def _breaks(a: "np.ndarray") -> list[int]:
        # candidate breakpoints: end-of-window positions whose hash
        # lands in the low bucket; then enforce min_chunk greedily
        # (standard CDC normalization).
        win = np.lib.stride_tricks.sliding_window_view(a, window)
        with np.errstate(over="ignore"):
            h = (win * powers).sum(axis=1)
        cand = np.nonzero((h & np.uint64(mask)) == 0)[0] + window  # cut AFTER this char (0-based exclusive end)
        out, prev = [], 0
        for c in cand.tolist():
            if c - prev >= min_chunk:
                out.append(c)
                prev = c
        return out

    def compute(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        for pdf in batches:
            ids, starts, ends, hashes = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                # one uint32 per CHARACTER (utf-32-le), so every index
                # below is a char offset, not a byte offset
                s = np.frombuffer(
                    (text or "").encode("utf-32-le"), dtype=np.uint32
                ).astype(np.uint64)
                n = len(s)
                cuts = _breaks(s) if n >= window else []
                bounds = [0] + cuts + ([n] if (not cuts or cuts[-1] != n) else [])
                for a, b in zip(bounds, bounds[1:]):
                    if b <= a:
                        continue
                    ids.append(doc_id)
                    starts.append(a + 1)
                    ends.append(b)
                    hashes.append(hashlib.md5(text[a:b].encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "chunk_start": starts, "chunk_end": ends, "chunk_hash": hashes}
            )

    return df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(text_col)
    ).mapInPandas(compute, schema=_CDC_SCHEMA)


def cdc_chunk_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    avg_bits: int = 6,
    window: int = 16,
    min_chunk: int = 16,
) -> DataFrame:
    """Cross-document duplicated spans at CDC-chunk granularity — the
    100 TB candidate path for substring dedup.

    Chunks whose content hash appears in >1 document are duplicated;
    adjacent duplicated chunks within a doc merge into maximal spans.
    Cost: ~len/2^avg_bits rows per document (vs len rows for the exact
    stride-1 path), one shuffle on the 16-byte chunk hash, one on doc
    id. Detection is at chunk granularity: a shared region is found iff
    it spans at least one full content-defined chunk (regions shorter
    than ~2 chunks can be missed at the edges) — downstream exact
    verification, where needed, is a per-span substring equality check,
    not a corpus scan.
    """
    from pyspark.sql import Window

    chunks = cdc_chunks(df, text_col, id_col, avg_bits, window, min_chunk)
    w_hash = Window.partitionBy("chunk_hash")
    hits = (
        chunks.withColumn(
            "_multi", F.min("doc_id").over(w_hash) != F.max("doc_id").over(w_hash)
        )
        .where(F.col("_multi"))
        .drop("_multi", "chunk_hash")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("chunk_start")
    # islands: a chunk continues the previous span iff it starts right
    # after the previous duplicated chunk ends.
    flagged = hits.withColumn(
        "_new",
        F.when(
            F.lag("chunk_end").over(w_doc).isNull()
            | (F.lag("chunk_end").over(w_doc) + 1 != F.col("chunk_start")),
            1,
        ).otherwise(0),
    ).withColumn("_grp", F.sum("_new").over(w_doc))
    return (
        flagged.groupBy("doc_id", "_grp")
        .agg(
            F.min("chunk_start").alias("dup_start"),
            F.max("chunk_end").alias("dup_end"),
        )
        .select(F.col("doc_id").alias(id_col), "dup_start", "dup_end")
    )


def _k1_variant_stream(
    df: DataFrame, text_col: str, id_col: str, blocks: list[str]
) -> DataFrame:
    """The k=1 FastSS deletion-variant stream: one row per (string,
    deletion position) with columns ``(id, <blocks...>, pos, vh)``
    where ``pos`` is the 1-based deleted position (0 = the undeleted
    original) and ``vh`` the xxhash64 of the variant text. Shared by
    the self-join candidate path and the persisted-index incremental
    path — the stream IS the index.

    No fan_out here, by measurement: unlike the URL-canon chain
    (~20 regex/array ops per row), the variant explode is a handful of
    substring slices + one hash per output row — an in-process A/B
    over every consuming query read the widened form a wash-to-loss
    (entity_incremental 5.98 vs 5.33 s min-of-3, linkage_incremental
    2.38 vs 2.16, record_linkage_review even), while each call also
    paid a physical-planning round-trip for the partition probe and
    put an exchange under the self-join. The downstream shuffle-hash
    joins re-spread the work regardless."""
    name, ident = F.col(text_col), F.col(id_col)

    def delete_at(s, p):
        return F.concat(
            F.substring(s, 1, (p - 1).cast("int")),
            F.substring(s, (p + 1).cast("int"), F.length(s).cast("int")),
        )

    del1 = F.when(
        F.length(name) >= 1,
        F.transform(F.sequence(F.lit(1), F.length(name)), lambda i: delete_at(name, i)),
    ).otherwise(F.array().cast("array<string>"))
    all_vars = F.concat(F.array(name), del1)
    return df.select(
        ident.alias("id"),
        *[F.col(c) for c in blocks],
        F.posexplode(all_vars).alias("pos", "_var"),
    ).select("id", *blocks, "pos", F.xxhash64("_var").alias("vh"))


def fastss_variant_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Build the PERSISTABLE k=1 FastSS index for a standing corpus:
    the deletion-variant stream ``(id, <blocks...>, pos, vh)`` of
    :func:`_k1_variant_stream`, exposed as an artifact a warehouse can
    keep between ingest batches. An incremental pipeline writes this
    once at corpus freeze, then each new batch probes it with
    :func:`probe_variant_index` — the corpus text is never re-read and
    never re-variant-expanded at steady state, the same
    persisted-artifact contract as the MinHash signature index,
    bench-gram index, LM count table and IVF index families.
    ~(len+1) slim rows (8-byte hash + 2 ints) per corpus string;
    append new batches with :func:`variant_index_insert`."""
    return _k1_variant_stream(df, text_col, id_col, list(block_cols or []))


def variant_index_insert(index: DataFrame, additions: DataFrame) -> DataFrame:
    """Index maintenance: append a new batch's variant stream (built
    by :func:`fastss_variant_index` over the batch) to the standing
    index. Pure unionByName — variant rows are keyed by (id, pos), so
    disjoint-id batches union without dedup and
    ``insert(index_of(A), variants_of(B)) ≡ rebuild over A ∪ B``
    (the contract tests/test_llm_ops.py pins). Column sets must
    match."""
    if set(index.columns) != set(additions.columns):
        raise ValueError(
            f"variant_index_insert: column mismatch — index has "
            f"{sorted(index.columns)}, additions have {sorted(additions.columns)}"
        )
    return index.unionByName(additions)


def probe_variant_index(
    batch: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Incremental FastSS k=1 candidates: ``(id_a, id_b)`` pairs where
    ``id_a`` is a NEW-batch record and ``id_b`` a standing-corpus
    record whose strings share a position-compatible ≤1-deletion
    variant — a superset of the true cross edit-distance-≤1 pairs
    (verify with :func:`verify_edit_distance` over the id-disjoint
    union of both record sets). The same three edit-shape equi-joins
    as the self-join path (same deleted position = substitution/equal;
    original-vs-deletion in EITHER direction = insert/delete), but
    probing the persisted index instead of self-joining, so per-batch
    cost is ``O(batch·len)`` variant rows shuffled against the index
    partitioning — corpus-sized work never recurs. Within-batch pairs
    are deliberately NOT emitted (run the cheap self-join path on the
    batch for those). Only k=1 is supported: the position filter is a
    k=1 construction; the k=2 path uses the plain variant scheme."""
    blocks = list(block_cols or [])
    needed = {"id", "pos", "vh", *blocks}
    missing = needed - set(index.columns)
    if missing:
        raise ValueError(
            f"probe_variant_index: index is missing columns {sorted(missing)} "
            f"(build it with fastss_variant_index)"
        )
    bv = _k1_variant_stream(batch, text_col, id_col, blocks).localCheckpoint(
        eager=False
    )
    a = bv.select(
        F.col("id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in blocks],
        F.col("pos").alias("_pa"),
        F.col("vh").alias("_vha"),
    )
    b = index.select(
        F.col("id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in blocks],
        F.col("pos").alias("_pb"),
        F.col("vh").alias("_vhb"),
    )

    def keys(*extra):
        cond = F.col("_vha") == F.col("_vhb")
        for le, re_ in extra:
            cond = cond & (F.col(le) == F.col(re_))
        for c in blocks:
            cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
        return cond

    # the hash table builds from the BATCH side (a) — batch variants
    # are the small relation next to a corpus-sized index
    subst = a.hint("shuffle_hash").join(b, keys(("_pa", "_pb")))
    indel_ab = a.where(F.col("_pa") == 0).hint("shuffle_hash").join(
        b.where(F.col("_pb") > 0), keys()
    )
    indel_ba = a.where(F.col("_pa") > 0).hint("shuffle_hash").join(
        b.where(F.col("_pb") == 0), keys()
    )
    out = subst.unionByName(indel_ab).unionByName(indel_ba)
    return (
        out.where(F.col("id_a") != F.col("id_b")).select("id_a", "id_b").distinct()
    )


def deletion_neighborhood_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str] | None = None,
    max_dist: int = 1,
    max_len: int = 64,
) -> DataFrame:
    """The CANDIDATE stage of FastSS/SymSpell fuzzy matching, factored
    out as its own operator: bare ``(id_a, id_b)`` pairs whose strings
    share a ≤``max_dist``-deletion variant — a SUPERSET of the true
    edit-distance-≤k pairs (verify with :func:`verify_edit_distance`).
    Factoring matters because candidate generation is the expensive
    half (O(L·max_dist) variants per row + the variant-hash shuffle):
    a pipeline that wants BOTH the verified fuzzy pairs and
    record-linkage scores on top of them generates candidates ONCE and
    fans out, instead of paying the variant stream per consumer.
    See :func:`edit_distance_pairs` for the algorithm, bounds and
    scale shape."""
    if max_dist not in (1, 2):
        raise ValueError(
            f"edit_distance_pairs supports max_dist in (1, 2), got {max_dist}"
        )
    blocks = list(block_cols or [])
    name, ident = F.col(text_col), F.col(id_col)
    if max_dist == 2:
        name = F.when(
            F.length(name) > max_len,
            F.raise_error(
                F.concat(
                    F.lit(
                        "edit_distance_pairs(max_dist=2) is bounded at "
                        f"max_len={max_len} chars (quadratic variant blow-up); "
                        f"column {text_col!r} has a "
                    ),
                    F.length(F.col(text_col)).cast("string"),
                    F.lit("-char value — use the n-gram/MinHash family for long text"),
                )
            ).cast("string"),
        ).otherwise(name)

    def delete_at(s, positions):
        """s with the (ascending, 1-based) positions removed — pure
        substring arithmetic, no regex."""
        parts = []
        prev = F.lit(0)
        for p in positions:
            parts.append(
                F.substring(s, (prev + 1).cast("int"), (p - prev - 1).cast("int"))
            )
            prev = p
        parts.append(F.substring(s, (prev + 1).cast("int"), F.length(s).cast("int")))
        return F.concat(*parts)

    # variants: the string itself + every ≤max_dist-deletion result,
    # hashed. Empty strings guard against sequence(1, 0), which Spark
    # infers as DESCENDING [1, 0] rather than empty.
    del1 = F.when(
        F.length(name) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.length(name)),
            lambda i: delete_at(name, [i]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    all_vars = F.concat(F.array(name), del1)
    if max_dist == 2:
        del2 = F.when(
            F.length(name) >= 2,
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length(name) - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, F.length(name)),
                        lambda j: delete_at(name, [i, j]),
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
        all_vars = F.concat(all_vars, del2)
    if max_dist == 1:
        # FastSS position filter (Bocek et al. 2007 §3.2): keep the
        # DELETED POSITION with each variant (0 = the undeleted
        # original) and require position compatibility in the join —
        # a distance-1 pair must share a variant deleted at the SAME
        # position (substitution) or have one side be the original
        # (insert/delete), so same-variant-different-position bucket
        # pairs are rejected AT PROBE TIME, before a candidate row
        # ever materializes. On dense keys (sequential digit-tailed
        # names) this is the difference between candidates ≈ true
        # pairs and a ~4x superset that must be shuffled through the
        # distinct (sf1: 96.3M -> 26.9M candidates; with the
        # shuffle-hash joins below, record_linkage_review 110s -> 20s
        # and fuzzy_name_pairs 12.5s -> 5.4s).
        # all join branches consume this stream — cut the lineage
        # so variant generation runs ONCE, not per branch
        variants = _k1_variant_stream(df, text_col, id_col, blocks).localCheckpoint(
            eager=False
        )
        # position compatibility as TIGHT EQUI-JOINS, not a post-probe
        # filter: a single join on _vh alone would still scan every
        # same-variant bucket pair before rejecting the incompatible
        # positions. Splitting by edit shape keeps probe work at the
        # compatible-pair count:
        #   - substitutions + identicals: equi-join on (_vh, _pos) —
        #     both strings deleted the SAME position (pos 0 = both
        #     originals, i.e. equal strings);
        #   - insert/delete: the shorter string's ORIGINAL (pos 0)
        #     equals the longer string's deletion variant (pos > 0) —
        #     ONE originals-vs-deletions equi-join on _vh covers both
        #     id orderings (the original is always the shorter side;
        #     least/greatest canonicalizes the output pair).
        a = variants.select(
            F.col("id").alias("id_a"),
            *[F.col(c).alias(f"{c}_a") for c in blocks],
            F.col("pos").alias("_pa"),
            F.col("vh").alias("_vha"),
        )
        b = variants.select(
            F.col("id").alias("id_b"),
            *[F.col(c).alias(f"{c}_b") for c in blocks],
            F.col("pos").alias("_pb"),
            F.col("vh").alias("_vhb"),
        )

        def keys(l, r, *extra):
            cond = F.col(l) == F.col(r)
            for le, re_ in extra:
                cond = cond & (F.col(le) == F.col(re_))
            for c in blocks:
                cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
            return cond

        # SHUFFLE_HASH, not broadcast: the variant stream is
        # corpus-sized (rows x (len+1)) — at scale it can never
        # broadcast, and even when it fits, collecting it to the
        # driver and shipping two hashed relations costs more than
        # one co-partitioned shuffle of the slim (id, pos, hash)
        # rows. Both joins then share the _vh partitioning.
        subst = (
            a.join(b.hint("shuffle_hash"), keys("_vha", "_vhb", ("_pa", "_pb")))
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        orig_a = a.where(F.col("_pa") == 0)
        del_b = b.where(F.col("_pb") > 0)
        indel = (
            del_b.join(orig_a.hint("shuffle_hash"), keys("_vha", "_vhb"))
            .where(F.col("id_a") != F.col("id_b"))
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
        )
        return subst.unionByName(indel).distinct()
    variants = (
        df.select(
            ident.alias("_vid"),
            *[F.col(c) for c in blocks],
            F.explode(F.array_distinct(all_vars)).alias("_var"),
        )
        .select("_vid", *blocks, F.xxhash64("_var").alias("_vh"))
        # both self-join sides consume this stream — cut the lineage so
        # the O(L·max_dist) variant generation runs ONCE, not once per
        # side (the same one-pass discipline as duplicated_substring_
        # spans; at max_dist=2 generation is the dominant map cost)
        .localCheckpoint(eager=False)
    )
    a = variants.select(F.col("_vid").alias("id_a"), *blocks, "_vh")
    b = variants.select(F.col("_vid").alias("id_b"), *blocks, "_vh")
    return (
        a.join(b, blocks + ["_vh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def verify_edit_distance(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """The VERIFY stage of FastSS/SymSpell fuzzy matching: re-attach
    both strings to a bare ``(id_a, id_b)`` candidate stream and keep
    exact ``levenshtein ≤ max_dist`` survivors, emitting
    ``(id_a, id_b, dist)``. Runs AFTER the candidate distinct has
    collapsed multi-variant duplicates, so the two string joins carry
    only true-candidate rows."""
    name, ident = F.col(text_col), F.col(id_col)
    names = df.select(ident.alias("_nid"), name.alias("_n"))
    return (
        candidates.join(
            names.select(F.col("_nid").alias("id_a"), F.col("_n").alias("_na")), "id_a"
        )
        .join(
            names.select(F.col("_nid").alias("id_b"), F.col("_n").alias("_nb")), "id_b"
        )
        .withColumn("dist", F.levenshtein("_na", "_nb").cast("long"))
        .where(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str] | None = None,
    max_dist: int = 1,
    max_len: int = 64,
) -> DataFrame:
    """Edit-distance-≤``max_dist`` pairs by deletion-neighborhood
    blocking (FastSS, Bocek et al. 2007; the symmetric-delete scheme
    SymSpell popularized — public algorithms): each string emits
    itself plus every variant reachable by deleting up to ``max_dist``
    characters; two strings at Levenshtein distance ≤ k always share a
    ≤k-deletion variant (align the edit script: a substitution deletes
    the differing position from both sides, an insert/delete deletes
    from the longer side only). Candidates equi-join on the hashed
    variant, then the exact ``levenshtein`` filter verifies — a
    SUPERSET-then-verify scheme, so results equal the naive blocked
    self-join exactly. Composition of
    :func:`deletion_neighborhood_candidates` and
    :func:`verify_edit_distance` — consumers that fan one candidate
    stream out to several verifiers/scorers call the stages directly.

    Scale shape: ~(len+1) variant rows per string and one shuffle on
    the 8-byte variant hash; bucket occupancy ≈ true near-dup group
    sizes, NEVER the block size. Blocking a self-join on a
    fixed-cardinality key (e.g. 25 nations) grows pairs QUADRATICALLY
    with data — this path is what survives 100 TB. The candidate
    stream through the variant equi-join and the dedup carries BARE
    (id_a, id_b) pairs — 16 bytes/row, not full name strings — and
    the names are re-attached only for the final levenshtein verify,
    after the distinct has collapsed multi-variant duplicates (two
    strings at distance ≤1 share several deletion variants, so the
    pre-distinct stream is a small multiple of the true pair count;
    shipping two full strings on every such row dominated shuffle
    bytes at sf1).

    Variant blow-up bound: a length-L string emits 1 + L variants at
    ``max_dist=1`` and 1 + L + L·(L-1)/2 at ``max_dist=2`` — the
    quadratic term is why symmetric-delete is a SHORT-STRING algorithm
    (names, codes, tokens; L=64 → 2,081 variants/row). At
    ``max_dist=2`` any row longer than ``max_len`` raises AT EXECUTION
    TIME (a plan-side ``raise_error`` guard — no extra scan of the
    input); for longer text use the n-gram/MinHash family instead.
    Only ``max_dist`` ∈ {1, 2} is supported (k=3 would cube the
    variant count).
    """
    candidates = deletion_neighborhood_candidates(
        df, text_col, id_col, block_cols=block_cols, max_dist=max_dist,
        max_len=max_len,
    )
    return verify_edit_distance(candidates, df, text_col, id_col, max_dist=max_dist)


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Corpus-level near-dup removal keeping the BEST copy per cluster
    (highest ``score_col``; ties → lowest id) — the quality-aware
    sibling of :func:`dedup_keep_representative`. Lowest-id-wins is
    the right default for idempotent ingest, but a curation pipeline
    often wants the longest / highest-quality / most-recent copy of a
    duplicate family, not the first-seen one; pass whatever score
    column encodes that policy. Singletons pass through untouched.

    Same scale shape as the min-id form: transitive closure on the
    (small) pair graph, one left join against the corpus, and a
    per-cluster top-1 window over scalar rows."""
    clusters = duplicate_clusters(pairs, id_a, id_b).withColumnRenamed(
        "doc_id", id_col
    )
    labeled = df.join(clusters, id_col, "left").withColumn(
        "cluster_id",
        F.coalesce(F.col("cluster_id"), F.col(id_col).cast("long")),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        labeled.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk", "cluster_id")
    )
