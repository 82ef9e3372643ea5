"""RFC 3986 URL canonicalization + frontier hash columns.

The reference builds URLs by string concat and never normalizes
(/root/reference/src/pegasus/lianjia/links.go:13-25); the rebuild's frontier
dedupes on the canonical form per the north rule ("RFC 3986 normalize +
murmur3 hash").

Hash columns:
- ``url_hash``   — ``F.hash`` = murmur3_x86_32, the reference-parity hash the
  north rule names. 32-bit, so at 10^10-URL scale it is NOT an identity
  (birthday collisions are certain) — it is a cheap shuffle/partition key.
- ``url_hash64`` — ``F.xxhash64``, the 64-bit key the bloom filter and the
  exact-dedup joins use. Collision p ≈ 2.7e-3 for 10^10 keys; the canonical
  URL *string* remains the final equality authority in left_anti joins.

Canonicalization itself runs as a vectorized Arrow-batched function inside
``mapInPandas``/pandas UDF — no per-row Python UDF in the Spark plan.
"""

from __future__ import annotations

import posixpath
from urllib.parse import urlsplit, urlunsplit

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_str(url: str) -> str:
    """RFC 3986 §6 normalization: lowercase scheme/host, strip default port,
    resolve dot-segments, drop fragment, sort query params, keep trailing
    slash semantics. A URL that does not parse (a non-numeric or
    out-of-range port among them) is returned unchanged."""
    try:
        parts = urlsplit(url.strip())
        port = parts.port
    except ValueError:
        return url
    scheme = parts.scheme.lower()
    host = parts.hostname.lower() if parts.hostname else ""
    if ":" in host:  # IPv6 literal: urlsplit drops its brackets
        host = f"[{host}]"
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    trailing = path.endswith("/")
    path = posixpath.normpath(path)
    if path == ".":
        path = "/"
    if trailing and not path.endswith("/"):
        path += "/"
    query = "&".join(sorted(q for q in parts.query.split("&") if q)) if parts.query else ""
    return urlunsplit((scheme, netloc, path, query, ""))


def canonicalize_udf(col: Column) -> Column:
    """Vectorized canonicalizer (built lazily — pandas_udf registration needs
    an active session)."""

    @pandas_udf(StringType())
    def _canon(urls: pd.Series) -> pd.Series:
        return urls.map(canonicalize_str)

    return _canon(col)


def with_url_columns(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add canonical url + hash columns; replaces url with its canonical form."""
    return (
        df.withColumn(url_col, canonicalize_udf(F.col(url_col)))
        .withColumn("url_hash", F.hash(F.col(url_col)))
        .withColumn("url_hash64", F.xxhash64(F.col(url_col)))
    )


def host_of(url_col: str = "url"):
    """Host extraction as a Catalyst expression (no UDF)."""
    return F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.-]*://([^/:]+)", 1)
