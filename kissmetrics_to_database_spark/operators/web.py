"""Web-corpus URL operators: parse, canonicalize, per-domain caps.

Every web-scale training corpus keys on URLs: dedup by canonical
URL, quota by registered domain, provenance by host. These are pure
codegen'd column expressions (regexp_extract + array ops — no UDF,
zero shuffle for parse/canonicalize; one domain-keyed window for the
quota), RE2-safe so the DuckDB oracles replay them byte-exactly.

The reference has no web surface; these serve the curation queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Tracking parameters every crawler strips before dedup (public
# convention: UTM campaign tags + click ids).
TRACKING_PARAM_RE = "^(utm_[a-z0-9]+|gclid|fbclid|ref)="

# Minimal multi-part public-suffix list (production ships the full
# Mozilla PSL as a broadcast table behind the same expression).
MULTI_PART_TLDS = ("co.uk", "com.au", "co.jp", "com.br", "org.uk")

_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_PATH_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)"
# Query must be extracted from the pre-fragment region: a bare '?'
# inside the fragment (http://h/p#frag?x=1) is NOT a query. The lazy
# [^#]*? prefix pins the match before the first '#'.
_QUERY_RE = r"^[^#]*?\?([^#]*)"


def parse_urls(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Split a URL column into (scheme, host, port, path, query,
    registered_domain) — lowercased scheme/host, port stripped from
    host, registered domain = last two host labels (last three under
    a multi-part public suffix like co.uk). Pure per-row expressions;
    unparseable rows yield empty strings (quarantine-by-emptiness —
    filter on scheme != '')."""
    u = F.col(url_col)
    hostport = F.regexp_extract(u, _HOSTPORT_RE, 1)
    host = F.lower(F.regexp_replace(hostport, ":[0-9]+$", ""))
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(
        ".", F.element_at(parts, -2), F.element_at(parts, -1)
    )
    last3 = F.when(
        n >= 3,
        F.concat_ws(
            ".",
            F.element_at(parts, -3),
            F.element_at(parts, -2),
            F.element_at(parts, -1),
        ),
    ).otherwise(last2)
    registered = F.when(n <= 1, host).otherwise(
        F.when(
            last2.isin(*MULTI_PART_TLDS), last3
        ).otherwise(last2)
    )
    return (
        df.withColumn("scheme", F.lower(F.regexp_extract(u, _SCHEME_RE, 1)))
        .withColumn("host", host)
        .withColumn("port", F.regexp_extract(hostport, ":([0-9]+)$", 1))
        .withColumn("path", F.regexp_extract(u, _PATH_RE, 1))
        .withColumn("query", F.regexp_extract(u, _QUERY_RE, 1))
        .withColumn("registered_domain", registered)
    )


def canonicalize_urls(
    df: DataFrame, url_col: str = "url", out_col: str = "url_canonical"
) -> DataFrame:
    """Canonical URL for dedup keys: lowercase scheme+host, drop the
    fragment, drop default ports (80 for http, 443 for https — other
    ports kept), empty path → '/', tracking parameters removed and
    the surviving query parameters SORTED (param order is not
    semantic; sorting makes the canonical form order-insensitive).
    Composes :func:`parse_urls`; adds ``out_col``."""
    parsed = parse_urls(df, url_col)
    params = F.filter(
        F.split(F.col("query"), "&"),
        lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_RE),
    )
    keep_port = (F.col("port") != "") & ~(
        ((F.col("scheme") == "http") & (F.col("port") == "80"))
        | ((F.col("scheme") == "https") & (F.col("port") == "443"))
    )
    canon = F.concat(
        F.col("scheme"),
        F.lit("://"),
        F.col("host"),
        F.when(keep_port, F.concat(F.lit(":"), F.col("port"))).otherwise(
            F.lit("")
        ),
        F.when(F.col("path") == "", F.lit("/")).otherwise(F.col("path")),
        F.when(
            F.size(params) > 0,
            F.concat(F.lit("?"), F.array_join(F.array_sort(params), "&")),
        ).otherwise(F.lit("")),
    )
    return parsed.withColumn(out_col, canon)


def domain_quota_cap(
    df: DataFrame,
    cap: int,
    domain_col: str = "registered_domain",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-registered-domain document cap — the anti-over-
    representation gate web corpora apply so one domain can't
    dominate training. Deterministic hash-rank inside each domain
    (md5 of the id — stable under repartitioning), keep rank ≤ cap.
    One domain-keyed window (hash-partitioned; a mega-domain is the
    AQE-skew case); returns per-domain accounting
    (registered_domain, n_docs, n_kept)."""
    w = Window.partitionBy(domain_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    ranked = df.withColumn("_rk", F.row_number().over(w))
    return (
        ranked.groupBy(domain_col)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((F.col("_rk") <= cap).cast("long"))
            .cast("long")
            .alias("n_kept"),
        )
    )
