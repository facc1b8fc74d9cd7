"""Arrow-batched pandas UDF wrappers over the pure canonicalization kernels.

These are the *only* Python-side scalar functions in the engine's hot path;
everything else (hashing, filtering, aggregation, ordering) stays JVM-side in
built-in ``pyspark.sql.functions``.  Each UDF processes whole Arrow batches
(pandas Series.map over a batch — one Python↔JVM round-trip per ~10k rows,
not per row), matching the reference's per-record scalar semantics
(``Normalisation.java:136-275``, ``LinkExtractor.java:58-234``) at columnar
throughput.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from . import normalisation as N
from . import surt as S

__all__ = [
    "canonicalise_url_udf",
    "host_surts_udf",
    "public_suffix_udf",
    "private_suffix_udf",
    "resolve_relative_udf",
]


def _safe(fn):
    def inner(v):
        if v is None:
            return None
        try:
            return fn(v)
        except Exception:
            return None
    return inner


@F.pandas_udf(StringType())
def canonicalise_url_udf(urls: pd.Series) -> pd.Series:
    return urls.map(_safe(N.canonicalise_url))


_CANON_STRUCT = StructType(
    [StructField("url_norm", StringType()), StructField("url_key", StringType())]
)


@F.pandas_udf(_CANON_STRUCT)
def canonical_struct_udf(urls: pd.Series) -> pd.DataFrame:
    """Single-pass canonical projection: one kernel invocation yields both
    ``url_norm`` and its SURT ``url_key`` (the UDF runs once per Arrow batch
    in an ArrowEvalPython node; field accesses downstream are free)."""
    norms: list[str | None] = []
    keys: list[str | None] = []
    for u in urls:
        if u is None:
            norms.append(None)
            keys.append(None)
            continue
        try:
            n = N.canonicalise_url(u)
        except Exception:
            n = None
        norms.append(n)
        try:
            keys.append(S.surt_key_from_canonical(n) if n is not None else None)
        except Exception:
            keys.append(None)
    return pd.DataFrame({"url_norm": norms, "url_key": keys})


@F.pandas_udf(ArrayType(StringType()))
def host_surts_udf(hosts: pd.Series) -> pd.Series:
    return hosts.map(lambda h: S.host_surts(h) if h is not None else None)


@F.pandas_udf(StringType())
def sha1_base32_udf(digests: pd.Series) -> pd.Series:
    """``sha1:<hex>`` → base32 (the CDX/WARC de-facto digest form,
    ``Normalisation.sha1HashAsBase32`` — used for the CDX ``k`` field)."""
    from .normalisation import sha1_hash_as_base32

    return digests.map(_safe(sha1_hash_as_base32))


@F.pandas_udf(StringType())
def public_suffix_udf(hosts: pd.Series) -> pd.Series:
    return hosts.map(_safe(S.extract_public_suffix))


@F.pandas_udf(StringType())
def private_suffix_udf(hosts: pd.Series) -> pd.Series:
    return hosts.map(_safe(S.extract_private_suffix))


@F.pandas_udf(StringType())
def resolve_relative_udf(base: pd.Series, rel: pd.Series) -> pd.Series:
    out = []
    for b, r in zip(base, rel):
        if b is None or r is None:
            out.append(None)
            continue
        try:
            out.append(N.resolve_relative(b, r))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)
