"""URL/host canonicalization + registered-domain extraction — the first
stage of every CCNet/RefinedWeb-style web-corpus pipeline (canonicalize the
URL, group by registered domain, apply per-domain quality/dedup policy).

Pure Column expressions end to end: regexp field extraction, built-in array
functions for the query-string normalization — no UDF, no Python in the hot
path, so at 100 TB this is scan-speed string work that whole-stage codegen
fuses into the reader (the higher-order filter/sort on the ≤handful of query
params is interpreted but per-row tiny).  Every rule is restatable in ANSI
SQL (DuckDB list functions), which is what lets ``domain_dedup_stats`` carry
a full value-hash oracle.

Canonicalization rules (the RFC 3986 §6 normalizations that preserve
semantics, plus the tracking-param strip every crawler pipeline applies):

1. scheme and host lowercased;
2. a leading ``www.`` stripped from the host;
3. default ports dropped (``:80`` for http, ``:443`` for https); explicit
   non-default ports kept;
4. path: duplicate slashes collapsed, ONE trailing slash stripped (except
   the bare root), empty path becomes ``/``;
5. query: split on ``&``, tracking params dropped (key prefixes ``utm_``
   and exact keys ``fbclid``/``gclid``/``msclkid``), the rest
   SORTED lexicographically and rejoined — parameter order never changes
   resource identity in practice, and sorting makes equal resources
   string-equal;
6. fragment dropped (client-side only).

``registered_domain`` is the eTLD+1 heuristic: the last two host labels,
or three when the last two are a known multi-level public suffix
(``co.uk``-style).  A full public-suffix list is a data file, not an
algorithm change — the suffix set is the ``MULTI_SUFFIXES`` constant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["canonicalize_url", "registered_domain", "MULTI_SUFFIXES"]

# the common two-level public suffixes; extend with the full PSL for
# production crawls (pure data — the extraction expression is unchanged)
MULTI_SUFFIXES: tuple[str, ...] = (
    "co.uk",
    "org.uk",
    "ac.uk",
    "gov.uk",
    "com.au",
    "net.au",
    "org.au",
    "co.jp",
    "co.in",
    "com.br",
    "com.cn",
    "com.mx",
)

TRACKING_PREFIXES: tuple[str, ...] = ("utm_",)
TRACKING_KEYS: tuple[str, ...] = ("fbclid", "gclid", "msclkid")


def registered_domain(host: Column) -> Column:
    """eTLD+1 from an already-lowercased host column."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1)
    )
    last3 = F.concat_ws(
        ".", F.element_at(labels, -3), F.element_at(labels, -2), F.element_at(labels, -1)
    )
    return (
        F.when((n >= 3) & last2.isin(*MULTI_SUFFIXES), last3)
        .when(n >= 2, last2)
        .otherwise(host)
    )


def canonicalize_url(
    df: DataFrame,
    url_col: str,
    *,
    out_col: str = "canon_url",
    domain_col: str | None = "registered_domain",
) -> DataFrame:
    """Append ``out_col`` (the canonical URL) and optionally ``domain_col``
    (the registered domain) — see the module docstring for the rules."""
    url = F.col(url_col)
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    authority = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    host = F.regexp_replace(
        F.lower(F.substring_index(authority, ":", 1)), r"^www\.", ""
    )
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    port_part = F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit(""))

    raw_path = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    # collapse duplicate slashes, strip ONE trailing slash (never the bare
    # root — '(.+)/$' needs a preceding char), default empty to '/'
    collapsed = F.regexp_replace(raw_path, r"/{2,}", "/")
    stripped = F.regexp_replace(collapsed, r"(.+)/$", r"$1")
    path = F.when(stripped == "", F.lit("/")).otherwise(stripped)

    raw_query = F.regexp_extract(url, r"\?([^#]*)", 1)
    params = F.split(raw_query, "&")

    def _is_tracking(p: Column) -> Column:
        key = F.substring_index(p, "=", 1)
        cond = F.lit(False)
        for pref in TRACKING_PREFIXES:
            cond = cond | key.startswith(pref)
        for k in TRACKING_KEYS:
            cond = cond | (key == k)
        return cond

    kept = F.array_sort(
        F.filter(params, lambda p: (p != "") & ~_is_tracking(p))
    )
    query_part = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))

    canon = F.concat(scheme, F.lit("://"), host, port_part, path, query_part)
    out = df.withColumn(out_col, canon)
    if domain_col is not None:
        out = out.withColumn(domain_col, registered_domain(host))
    return out
