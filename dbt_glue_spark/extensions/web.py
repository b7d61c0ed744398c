"""URL / domain operators — the crawl-side twin of document dedup.

A production training-data pipeline dedups and caps at the URL/domain
layer BEFORE fetching or tokenizing anything: the same page is linked
under utm-decorated, fragment-suffixed, case-shifted variants, and a
handful of mega-domains (template farms, mirrors) would otherwise
dominate the corpus. The reference engine has no web layer (it is a
warehouse adapter — dbt/adapters/glue/impl.py); these extend the dedup
family to the crawl side.

Design rules shared with the rest of the extension layer:

- pure native column expressions (regexp/split/sort_array/concat_ws) —
  no Python UDFs anywhere, so canonicalization runs inside whole-stage
  codegen at scan speed;
- every regex is Java-regex ∩ RE2 (no lookarounds, no backrefs), the
  pii_scan discipline, so the DuckDB oracles replay the semantics
  exactly;
- NULL contract: NULL urls are excluded by the dedup/cap operators
  (no identity to dedup on), mirroring the id-keyed dedup family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Tracking query parameters stripped by canonicalization (public
#: analytics conventions: Google Analytics utm_*, Facebook fbclid,
#: Google Ads gclid, generic ref/referrer).
TRACKING_PARAM_RE = "^(utm_[a-z0-9_]*|fbclid|gclid|ref|referrer)="

#: Second-level labels that act as public suffixes under 2-letter
#: country TLDs (public-suffix-list-lite: the stable generic tier —
#: example.co.uk registers at 3 labels, example.com at 2).
_SECOND_LEVEL = ("co", "com", "net", "org", "ac", "gov", "edu")


def canonical_url(url: Column) -> Column:
    """Canonical form of an http(s) URL as a native column expression.

    Steps (each a single regexp/array op, deterministic, total):

    1. trim whitespace, strip the ``#fragment``;
    2. lowercase the ``scheme://host[:port]`` prefix (scheme and host
       are case-insensitive per RFC 3986; path/query are NOT touched);
    3. drop the default port (``:80`` for http, ``:443`` for https);
    4. strip tracking query parameters (:data:`TRACKING_PARAM_RE`),
       sort the survivors byte-wise, and re-join — param order never
       changes the resource;
    5. strip trailing ``/`` runs from the path, and the ``?`` if the
       query emptied out.

    A NULL/empty input stays NULL/empty (map-only, no filtering here —
    the consuming operators own the NULL contract).
    """
    u = F.regexp_replace(F.trim(url), "#.*", "")
    # lowercase scheme://host[:port] (everything before the first / or ?
    # after the scheme separator)
    prefix = F.regexp_extract(u, "^[^/?]*://[^/?]*", 0)
    u = F.concat(F.lower(prefix), F.regexp_replace(u, "^[^/?]*://[^/?]*", ""))
    u = F.regexp_replace(u, "^(http://[^/?:]*):80([/?].*)?$", "$1$2")
    u = F.regexp_replace(u, "^(https://[^/?:]*):443([/?].*)?$", "$1$2")
    base = F.regexp_replace(u, "\\?.*$", "")
    query = F.regexp_extract(u, "\\?(.*)$", 1)
    params = F.sort_array(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != F.lit("")) & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    base = F.regexp_replace(base, "/+$", "")
    return F.when(url.isNull(), F.lit(None).cast("string")).otherwise(
        F.concat(
            base,
            F.when(
                F.size(params) > 0,
                F.concat(F.lit("?"), F.array_join(params, "&")),
            ).otherwise(F.lit("")),
        )
    )


def url_host(url: Column) -> Column:
    """Host of a canonical URL (no port, no userinfo handling — the
    synthetic corpus carries none; real crawls canonicalize userinfo
    away upstream)."""
    return F.regexp_extract(url, "^[a-z]+://([^/?:]+)", 1)


def registered_domain(host: Column) -> Column:
    """Registered (pay-level) domain of a host — public-suffix-lite.

    Rule: take the last 2 labels, except when the host has ≥ 3 labels,
    the TLD is a 2-letter country code, and the second-level label is a
    generic public tier (:data:`_SECOND_LEVEL`): then take the last 3
    (``news.example.co.uk`` → ``example.co.uk``, while
    ``news.example.com`` → ``example.com``). The full public-suffix
    list is a data file a deployment ships; the operator shape (label
    slicing on a split array, map-only) is identical.
    """
    parts = F.split(host, "\\.")
    n = F.size(parts)
    tld = F.element_at(parts, -1)
    second = F.element_at(parts, -2)
    three = (
        (n >= F.lit(3))
        & (F.length(tld) == 2)
        & second.isin(*_SECOND_LEVEL)
    )
    take = F.when(three, F.lit(3)).otherwise(F.lit(2))
    take = F.least(take, n)
    return F.array_join(F.slice(parts, n - take + 1, take), ".")


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact URL-level dedup: canonicalize, keep the min-id doc per
    canonical URL. Returns (canon_url, keep_id, n_variants) — one row
    per distinct canonical URL, its surviving document, and how many
    raw variants collapsed into it.

    100 TB shape: canonicalization is a map-only projection in
    whole-stage codegen; the only shuffle is the groupBy on the
    canonical URL with map-side combine (the exact-dedup shape —
    dedup.py:73). NULL urls are excluded (no identity).
    """
    return (
        df.filter(F.col(url_col).isNotNull())
        .select(
            canonical_url(F.col(url_col)).alias("canon_url"),
            F.col(id_col).cast("bigint").alias("__id"),
        )
        .groupBy("canon_url")
        .agg(
            F.min("__id").alias("keep_id"),
            F.count("*").cast("bigint").alias("n_variants"),
        )
    )


def url_frontier_new(
    batch: DataFrame,
    ledger: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental crawl-frontier dedup: which URLs in this batch has the
    pipeline NEVER crawled before? Canonicalize both sides, anti-join the
    batch against the ledger of previously-seen canonical URLs, then
    collapse the surviving batch variants exactly like :func:`url_dedup`.
    Returns (canon_url, keep_id, n_variants) — one row per NEW canonical
    URL. The cross-run twin of url_dedup, mirroring the
    exact_dedup_incremental / contamination_ledger pattern (dedup.py):
    run N's output unioned into the ledger is run N+1's input.

    ``ledger`` is any frame with ``url_col`` (raw or already canonical —
    canonicalization is idempotent, so re-canonicalizing a canonical
    ledger is a no-op by the tested fixed-point property).

    100 TB shape: canonicalization is map-only; the anti-join shuffles
    both sides on the canonical URL (AQE broadcasts a small ledger
    partition-map automatically), and the final groupBy reuses the same
    key — no second wide dependency beyond the standard exact-dedup
    shape. NULL urls on either side are excluded (no identity).
    """
    seen = (
        ledger.filter(F.col(url_col).isNotNull())
        .select(canonical_url(F.col(url_col)).alias("canon_url"))
        .distinct()
    )
    return (
        batch.filter(F.col(url_col).isNotNull())
        .select(
            canonical_url(F.col(url_col)).alias("canon_url"),
            F.col(id_col).cast("bigint").alias("__id"),
        )
        .join(seen, "canon_url", "left_anti")
        .groupBy("canon_url")
        .agg(
            F.min("__id").alias("keep_id"),
            F.count("*").cast("bigint").alias("n_variants"),
        )
    )


def domain_quality(
    df: DataFrame,
    url_col: str = "url",
    quality_col: str = "quality",
    min_docs: int = 5,
    threshold_micro: int = 500_000_000,
) -> DataFrame:
    """Per-registered-domain quality aggregation + blocklist derivation:
    group documents by registered domain, aggregate an integer quality
    score, and flag domains whose mean quality falls below a threshold
    with at least ``min_docs`` of support — the operator that turns
    document-level quality classifiers into the domain blocklists
    production crawls actually apply (a domain-level decision is far
    cheaper to enforce at fetch time than a per-document one).

    ``quality_col`` is a non-negative integer score (e.g. 0-1000); the
    mean is reported in EXACT micro-units (``mean_q_micro`` =
    ⌊10⁶·Σq/n⌋, bigint floor division — the catalog float rules), so
    ``blocked`` is an exact integer comparison, not a float one.
    ``min_docs`` guards against blocking a domain on one bad page.
    Returns (domain, n_docs, sum_quality, mean_q_micro, blocked).

    NULL urls and NULL quality rows are excluded (no identity / no
    evidence — the stratified NULL contract).

    100 TB shape: map-only canonicalize + domain extraction, then ONE
    groupBy(domain) with map-side combine — the exact-dedup shape;
    output is bounded by |domains|.
    """
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1: {min_docs}")
    dom = registered_domain(url_host(canonical_url(F.col(url_col))))
    # bigint/bigint with `/` is fractional (double) in Spark and floor()
    # of a >2^53 double is inexact — DIV keeps the mean exact bigint.
    mean_q = F.expr(
        "(CAST(sum_quality AS DECIMAL(38,0)) * 1000000) div n_docs"
    ).cast("bigint")
    return (
        df.filter(F.col(url_col).isNotNull() & F.col(quality_col).isNotNull())
        .select(dom.alias("domain"), F.col(quality_col).cast("bigint").alias("__q"))
        .groupBy("domain")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("__q").cast("bigint").alias("sum_quality"),
        )
        .select(
            "domain",
            "n_docs",
            "sum_quality",
            mean_q.alias("mean_q_micro"),
            (
                (F.col("n_docs") >= F.lit(min_docs))
                & (mean_q < F.lit(threshold_micro).cast("bigint"))
            ).alias("blocked"),
        )
    )


def domain_caps(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    cap: int = 8,
) -> DataFrame:
    """Per-registered-domain frontier cap: keep at most ``cap`` docs per
    registered domain, lowest ``id_col`` first (crawl order) — the
    quota that stops template farms / mirrors from dominating a corpus.
    Returns (domain, doc id, rank) for the survivors.

    100 TB shape: the only wide op is one rank window PARTITIONED BY
    DOMAIN (parallel across domains, per-partition state bounded by the
    domain's docs before the filter); a production frontier with
    mega-domains pre-aggregates counts per (domain, shard) — the salted
    variant — but the cap filter itself keeps ≤ cap rows per domain
    downstream, so everything after this is bounded by
    |domains| × cap. NULL urls excluded.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1: {cap}")
    dom = registered_domain(url_host(canonical_url(F.col(url_col))))
    w = Window.partitionBy("domain").orderBy(F.col("__id").asc())
    return (
        df.filter(F.col(url_col).isNotNull())
        .select(dom.alias("domain"), F.col(id_col).cast("bigint").alias("__id"))
        .select("domain", "__id", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= cap)
        .select(
            "domain",
            F.col("__id").alias(id_col),
            F.col("rank").cast("int").alias("rank"),
        )
    )
