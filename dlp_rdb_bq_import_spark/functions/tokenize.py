"""De-identification / re-identification transforms (T1-T5 of SURVEY.md §2.9).

The reference calls the Cloud DLP service with deid/inspect templates
(common/DLPTokenizationDoFn.java:66-159 for deid;
BQReidentificationPipeline.java:160-261 for reid). Here templates are
local objects and the transform runs inside Spark as vectorized Pandas
UDFs — Arrow batches stand in for the reference's one-DLP-call-per-scan-
split batching (SURVEY.md §4.2), and a per-batch unique-value cache
exploits FPE determinism so repeated values tokenize once.

Two transform kinds, matching the reference's template examples:
- whole-field FPE (README.md:195-279 — patient.name ALPHA_NUMERIC,
  patient.age custom alphabet "123456789", patientleave.sign_by);
- infoType inspect + surrogate-wrapped FPE inside free text
  (README.md:283-339 — PHONE_NUMBER at likelihood POSSIBLE, surrogate
  ``[PHONE]``; planted fixture "fever. phone number: 6477803777",
  sqlserver/sampledb.sql:2054-2058).

Surrogate format on the wire: ``NAME(len):token`` — the same
annotation shape DLP emits, regex-locatable so re-identification (T2)
can find and invert every token.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fpe import FPECipher

# InfoType detector registry: deterministic regex detectors standing in
# for DLP's likelihood-ranked detectors (minLikelihood collapses to
# "pattern matched" in a deterministic engine).
INFO_TYPE_DETECTORS: dict[str, str] = {
    # 10 consecutive digits, optionally formatted 3-3-4 (fixture shape
    # "6477803777"); no digit on either side.
    "PHONE_NUMBER": r"(?<!\d)(?:\d{3}[-. ]\d{3}[-. ]\d{4}|\d{10})(?!\d)",
    "EMAIL_ADDRESS": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "CREDIT_CARD_NUMBER": r"(?<!\d)(?:\d{4}[- ]?){3}\d{4}(?!\d)",
    "US_SOCIAL_SECURITY_NUMBER": r"(?<!\d)\d{3}-\d{2}-\d{4}(?!\d)",
    "IP_ADDRESS": r"(?<!\d)(?:\d{1,3}\.){3}\d{1,3}(?!\d)",
}

_SURROGATE_RE = re.compile(r"([A-Z_][A-Z_0-9]*)\((\d+)\):")


@dataclass(frozen=True)
class FieldTransform:
    """Whole-field FPE on named fields (cryptoReplaceFfxFpeConfig,
    README.md:195-279)."""

    fields: tuple[str, ...]
    alphabet: str = "ALPHA_NUMERIC"
    tweak: bytes = b""


@dataclass(frozen=True)
class InfoTypeTransform:
    """Inspect named fields for info types; FPE each match, wrapped in a
    surrogate annotation (README.md:283-339)."""

    fields: tuple[str, ...]
    info_types: tuple[str, ...] = ("PHONE_NUMBER",)
    surrogate: str = "PHONE"
    alphabet: str = "ALPHA_NUMERIC"


@dataclass(frozen=True)
class DeidTemplate:
    """A deid template: key + transform list (T5 per-table binding is
    DLPProperties.deid_template naming one of these)."""

    name: str
    key: bytes
    field_transforms: tuple[FieldTransform, ...] = ()
    info_type_transforms: tuple[InfoTypeTransform, ...] = ()


class TemplateRegistry:
    """Template name → template (the engine's stand-in for DLP's
    projects/*/deidentifyTemplates/* references)."""

    def __init__(self) -> None:
        self._templates: dict[str, DeidTemplate] = {}

    def register(self, template: DeidTemplate) -> None:
        self._templates[template.name] = template

    def get(self, name: str) -> DeidTemplate:
        return self._templates[name]

    def __contains__(self, name: str) -> bool:
        return name in self._templates


# ---------------------------------------------------------------------------
# pandas-side primitives (run inside Arrow batches on executors)
# ---------------------------------------------------------------------------

# Process-level FPE memo, shared across Arrow batches and tasks within a
# Python worker (workers are reused, so this deduplicates crypto across
# batches, not just within one). FPE is deterministic per
# (key, alphabet, strict, direction, tweak, value), so caching is
# semantics-free.
# Bounded: cleared wholesale past _MEMO_CAP entries — a reset costs one
# re-encryption per live distinct value, never correctness.
_FPE_MEMO: dict[tuple, dict[str, str]] = {}
_MEMO_CAP = 2_000_000


def _memo_table(cipher: FPECipher, forward: bool, tweak: bytes) -> dict[str, str]:
    # strict is part of the identity: a strict cipher must raise on
    # out-of-alphabet input, never return a lenient cipher's cached pass-
    # through for the same (key, alphabet, value).
    key = (cipher.key, cipher.alphabet, cipher.strict, forward, tweak)
    table = _FPE_MEMO.get(key)
    if table is None:
        if sum(len(t) for t in _FPE_MEMO.values()) > _MEMO_CAP:
            _FPE_MEMO.clear()
        table = _FPE_MEMO[key] = {}
    elif len(table) > _MEMO_CAP:
        table.clear()
    return table


def _fpe_map_series(s: pd.Series, cipher: FPECipher, forward: bool, tweak: bytes) -> pd.Series:
    """FPE a string series with a unique-value cache (determinism ⇒ one
    encryption per distinct value per batch, memoized across batches)."""
    fn = cipher.encrypt if forward else cipher.decrypt
    table = _memo_table(cipher, forward, tweak)
    out = {}
    for v in s.dropna().unique():
        hit = table.get(v)
        if hit is None:
            hit = table[v] = fn(v, tweak)
        out[v] = hit
    if len(table) > _MEMO_CAP:  # post-call trim keeps growth bounded
        table.clear()
    return s.map(out)


def _inspect_series(
    s: pd.Series, cipher: FPECipher, info_types: tuple[str, ...], surrogate: str
) -> pd.Series:
    pattern = re.compile("|".join(f"(?:{INFO_TYPE_DETECTORS[t]})" for t in info_types))
    tok_memo = _memo_table(cipher, True, b"")

    def deid_one(text: str) -> str:
        def repl(m: re.Match) -> str:
            raw = m.group(0)
            token = tok_memo.get(raw)
            if token is None:
                token = tok_memo[raw] = cipher.encrypt(raw)
            return f"{surrogate}({len(token)}):{token}"

        return pattern.sub(repl, text)

    uniques = s.dropna().unique()
    table = {v: deid_one(v) for v in uniques}
    if len(tok_memo) > _MEMO_CAP:  # post-call trim keeps growth bounded
        tok_memo.clear()
    return s.map(table)


def _uninspect_series(s: pd.Series, cipher: FPECipher, surrogate: str) -> pd.Series:
    tok_memo = _memo_table(cipher, False, b"")

    def reid_one(text: str) -> str:
        out = []
        pos = 0
        for m in _SURROGATE_RE.finditer(text):
            if m.group(1) != surrogate:
                continue
            tok_len = int(m.group(2))
            tok_start, tok_end = m.end(), m.end() + tok_len
            if tok_end > len(text):
                continue
            out.append(text[pos : m.start()])
            tok = text[tok_start:tok_end]
            raw = tok_memo.get(tok)
            if raw is None:
                raw = tok_memo[tok] = cipher.decrypt(tok)
            out.append(raw)
            pos = tok_end
        out.append(text[pos:])
        return "".join(out)

    uniques = s.dropna().unique()
    table = {v: reid_one(v) for v in uniques}
    if len(tok_memo) > _MEMO_CAP:  # post-call trim keeps growth bounded
        tok_memo.clear()
    return s.map(table)


# ---------------------------------------------------------------------------
# DataFrame-level transforms
# ---------------------------------------------------------------------------


_FPE_VAL, _FPE_TOK = "_fpe_v", "_fpe_t"


def _fpe_distinct_join(
    df: DataFrame,
    groups: list[tuple[FPECipher, bytes, list[str]]],
    forward: bool,
) -> DataFrame:
    """Whole-field FPE via encrypt-DISTINCT-then-join.

    FPE is deterministic per (value, tweak), so the distinct value set is
    the true crypto work unit: at 100 TB with repeating values (card
    numbers, names), a per-row ``mapInPandas`` pass would re-encrypt each
    value once per Python worker that sees it, while this path encrypts
    each distinct value exactly once cluster-wide, then joins tokens back
    (AQE broadcasts the mapping when it is small; a map-side partial
    aggregate makes the distinct scan cheap, and parquet column pruning
    means it reads only the token columns). Trade-off: the input is
    scanned twice. Requires a deterministic input plan (the distinct
    scan and the main scan must see the same values).
    """
    if _FPE_VAL in df.columns or _FPE_TOK in df.columns:
        raise ValueError(
            f"input columns collide with reserved FPE names {_FPE_VAL!r}/{_FPE_TOK!r}"
        )
    out = df
    for cipher, tweak, cols in groups:
        # distinct scan over the ORIGINAL input, not the partially
        # joined `out` — each group touches only its own columns, so
        # reading from `df` is equivalent and keeps group g's distinct
        # scan from re-executing groups 1..g-1's joins.
        vals = None
        for c in cols:
            v = df.select(F.col(c).alias(_FPE_VAL)).where(F.col(_FPE_VAL).isNotNull())
            vals = v if vals is None else vals.unionByName(v)
        vals = vals.distinct()

        def enc(
            batches: Iterator[pd.DataFrame],
            _cipher: FPECipher = cipher,
            _tweak: bytes = tweak,
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf[_FPE_TOK] = _fpe_map_series(pdf[_FPE_VAL], _cipher, forward, _tweak)
                yield pdf

        mapping = vals.mapInPandas(enc, schema=f"{_FPE_VAL} string, {_FPE_TOK} string")
        for c in cols:
            # Left join: null inputs miss the mapping and stay null —
            # identical to the map path's null passthrough.
            out = (
                out.join(mapping, F.col(c) == F.col(_FPE_VAL), "left")
                .withColumn(c, F.col(_FPE_TOK))
                .drop(_FPE_VAL, _FPE_TOK)
            )
    return out


def _transform_df(
    df: DataFrame,
    template: DeidTemplate,
    forward: bool,
    null_to_empty: bool = False,
) -> DataFrame:
    """Apply (de|re)identification.

    Whole-field FPE columns run encrypt-distinct-then-join (see
    ``_fpe_distinct_join``). InfoType inspect columns run as one
    ``mapInPandas`` pass over Arrow batches — mirroring the
    reference's one-DLP-request-per-split batching
    (DLPTokenizationDoFn.java:93-117) with no Python-per-row overhead.
    Configured columns are stringified first (the DLP path stringifies
    everything, DLPTokenizationDoFn.java:79-88); ``null_to_empty``
    reproduces null→"" compat (:84-87).
    """
    target_cols: dict[str, tuple] = {}
    for ft in template.field_transforms:
        cipher = FPECipher(template.key, ft.alphabet)
        for f in ft.fields:
            target_cols[f] = ("fpe", cipher, ft.tweak)
    for it in template.info_type_transforms:
        cipher = FPECipher(template.key, it.alphabet)
        for f in it.fields:
            target_cols[f] = ("inspect", cipher, it.info_types, it.surrogate)

    present = [c for c in df.columns if c in target_cols]
    if not present:
        return df  # passthrough for unconfigured tables (DLPTokenizationDoFn.java:153-158)

    casted = df.withColumns({c: F.col(c).cast("string") for c in present})
    if null_to_empty:
        casted = casted.withColumns({c: F.coalesce(F.col(c), F.lit("")) for c in present})

    fpe_present = [c for c in present if target_cols[c][0] == "fpe"]
    inspect_present = [c for c in present if target_cols[c][0] == "inspect"]

    out = casted
    if fpe_present:
        by_cipher: dict[tuple, list[str]] = {}
        for c in fpe_present:
            _, cipher, tweak = target_cols[c]
            by_cipher.setdefault((cipher.key, cipher.alphabet, tweak), []).append(c)
        groups = [
            (FPECipher(key, alphabet), tweak, cols)
            for (key, alphabet, tweak), cols in by_cipher.items()
        ]
        out = _fpe_distinct_join(out, groups, forward)

    if not inspect_present:
        return out

    out_schema = T.StructType(
        [
            T.StructField(
                f.name, T.StringType() if f.name in inspect_present else f.dataType, True
            )
            for f in out.schema.fields
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for col in inspect_present:
                _, cipher, info_types, surrogate = target_cols[col]
                pdf[col] = (
                    _inspect_series(pdf[col], cipher, info_types, surrogate)
                    if forward
                    else _uninspect_series(pdf[col], cipher, surrogate)
                )
            yield pdf

    return out.mapInPandas(run, schema=out_schema)


def deidentify(
    df: DataFrame,
    template: DeidTemplate,
    null_to_empty: bool = False,
) -> DataFrame:
    """T1 — table de-identification (DLPTokenizationDoFn.java:66-159)."""
    return _transform_df(df, template, forward=True, null_to_empty=null_to_empty)


def reidentify(df: DataFrame, template: DeidTemplate) -> DataFrame:
    """T2 — record re-identification (BQReidentificationPipeline.java:160-261)."""
    return _transform_df(df, template, forward=False)

