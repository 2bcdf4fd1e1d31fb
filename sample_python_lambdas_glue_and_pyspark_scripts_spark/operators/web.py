"""URL / domain curation operators.

Web-scale training corpora are curated per REGISTRABLE DOMAIN (the
"one label below the public suffix" unit — example.co.uk, not
sub.example.co.uk and not co.uk): per-domain document counts and caps
(the C4 recipe) and domain blocklists (RefinedWeb §3.1). The reference
engine's only URL-shaped operation is the S3-key regexp extraction
(/root/reference/src/FetchFileListLambda/index.py:100-102, the
``opco_id=(\\d+?)/`` precedent cited in SURVEY.md §2.7 X9); these
operators extend that precedent to the training-data surface.

Everything is native expressions (regexp + array ops — no UDF, no
shuffle for the extraction itself) and DuckDB-oracle-expressible.

Public-suffix handling: the full Mozilla Public Suffix List is ~9k
rules and belongs in a broadcast table at production scale; here a
built-in set of the common MULTI-LABEL suffixes covers the semantics
(the single-label default — com/org/net/io/… — needs no table at
all). Pass ``extra_multi_suffixes`` to extend; the algorithm is the
PSL's: if the last TWO labels form a known multi-label suffix the
registrable domain is the last THREE labels, else the last TWO.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

# common multi-label public suffixes (PSL excerpt — extend per deployment)
MULTI_LABEL_SUFFIXES: tuple[str, ...] = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "co.in", "co.kr", "com.br", "com.cn", "com.mx",
    "github.io", "gitlab.io", "blogspot.com",
)

# authority host: after the scheme, skip userinfo (up to @), stop at
# port / path / query / fragment. Anchored so a bare path never matches.
_HOST_REGEX = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"


def host_from_url(url: Column | str) -> Column:
    """The lowercased authority host of a URL ('' when unparseable —
    list-function NULL/empty conventions downstream)."""
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_extract(F.coalesce(c, F.lit("")), _HOST_REGEX, 1))


def registrable_domain(
    host: Column | str,
    extra_multi_suffixes: tuple[str, ...] = (),
) -> Column:
    """PSL-style registrable domain of a host: last three labels when
    the last two form a known multi-label public suffix, else last two;
    hosts with a single label (or empty) pass through unchanged."""
    h = F.col(host) if isinstance(host, str) else host
    parts = F.split(h, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(
        ".", F.element_at(parts, -2), F.element_at(parts, -1)
    )
    last3 = F.concat_ws(
        ".",
        F.element_at(parts, -3),
        F.element_at(parts, -2),
        F.element_at(parts, -1),
    )
    multi = tuple(MULTI_LABEL_SUFFIXES) + tuple(extra_multi_suffixes)
    return (
        F.when(n <= 1, h)
        .when((n >= 3) & last2.isin(*multi), last3)
        .otherwise(last2)
    )


def with_domain(
    df: DataFrame,
    url_col: str,
    out_col: str = "domain",
    extra_multi_suffixes: tuple[str, ...] = (),
) -> DataFrame:
    """``df`` plus the registrable-domain column — one map-side
    projection, no shuffle."""
    return df.withColumn(
        out_col,
        registrable_domain(host_from_url(url_col), extra_multi_suffixes),
    )


def domain_report(
    df: DataFrame,
    url_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-registrable-domain corpus profile: ``(domain, n_docs[,
    total_weight])`` — the C4-style pre-cap census. ONE keyed shuffle
    with map-side partial counts; hot domains (the reason the census
    exists) collapse in the combiner."""
    d = with_domain(df, url_col)
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if weight_col is not None:
        aggs.append(F.sum(weight_col).cast("bigint").alias("total_weight"))
    return d.groupBy("domain").agg(*aggs)


def domain_blocklist_filter(
    df: DataFrame,
    url_col: str,
    blocklist: DataFrame,
    blocklist_col: str = "domain",
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> DataFrame:
    """Drop every row whose registrable domain is on the blocklist.

    Scale shape: the corpus side is NEVER shuffled — its distinct
    domains probe a Bloom filter built from the blocklist
    (:func:`..sketches.bloom_probe`); definitely-absent domains pass
    with no join at all, maybe-present domains verify exactly against
    the blocklist (no false negatives ⇒ the result EQUALS the plain
    anti-join — the bloom_semi_join identity contract, mirrored by the
    oracle), and the verified blocked-domain set (≤ blocklist size)
    broadcasts back as a left_anti. Result keeps ``df``'s columns plus
    ``domain``."""
    from .sketches import bloom_filter, bloom_probe

    d = with_domain(df, url_col)
    doms = d.select("domain").distinct()
    bloom = bloom_filter(blocklist, blocklist_col, m_bits, k_hashes)
    probed = bloom_probe(doms, "domain", bloom, m_bits, k_hashes)
    maybe = probed.filter(F.col("maybe_present")).select("domain")
    blocked = maybe.join(
        blocklist.select(F.col(blocklist_col).alias("domain")).distinct(),
        "domain",
        "left_semi",
    )
    return d.join(broadcast(blocked), "domain", "left_anti")


def domain_capped_docs(
    df: DataFrame,
    url_col: str,
    n_per_domain: int,
    order_col: str,
    id_col: str = "doc_id",
    descending: bool = True,
    n_salts: int | None = None,
    hot_min_rows: int | None = None,
) -> DataFrame:
    """C4-style per-domain cap: keep at most ``n_per_domain`` docs per
    registrable domain under a deterministic (order_col, id_col) total
    order — :func:`..sampling.cap_per_group` keyed on the extracted
    domain. Result keeps ``df``'s columns plus ``domain``.

    ``n_salts`` switches to the salted two-phase top-n
    (:func:`..sampling.cap_per_group_salted`) — the measured
    hot-domain lever (1.48× at 94%-hot, BASELINE.md "Hot-domain
    window-skew probe")
    for when one domain can hold a large fraction of the crawl (a hot
    domain otherwise sorts in ONE reducer). ``hot_min_rows``
    additionally enables the count-prefiltered ROUTED form
    (:func:`..sampling.cap_per_group_hot_routed` — see its measured
    caveat: the routing re-pays ~2 input scans, prefer plain salting
    on cold inputs). Same kept set on every path, pinned by the
    contract oracle."""
    from .sampling import (
        cap_per_group,
        cap_per_group_hot_routed,
        cap_per_group_salted,
    )

    d = with_domain(df, url_col)
    if hot_min_rows is not None:
        return cap_per_group_hot_routed(
            d, "domain", n_per_domain, order_col, id_col, descending,
            n_salts if n_salts is not None else 16, hot_min_rows,
        )
    if n_salts is not None:
        return cap_per_group_salted(
            d, "domain", n_per_domain, order_col, id_col, descending,
            n_salts,
        )
    return cap_per_group(
        d, "domain", n_per_domain, order_col, id_col, descending
    )


# tracking query parameters stripped by canonical_url (prefix match on
# the key, before '='): the common cross-site analytics/click ids
TRACKING_PARAM_REGEX = r"^(utm_[^=]*|gclid|fbclid|msclkid|ref|ref_src)="

_SCHEME_REGEX = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://"
_PORT_REGEX = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]+:(\d+)"
_PATH_REGEX = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)"
# anchored walk over everything BEFORE any fragment: a bare
# `\?([^#]*)` would match a "?" living INSIDE the fragment (#x?y)
_QUERY_REGEX = r"^[^#]*?\?([^#]*)"


def canonical_url(url: Column | str) -> Column:
    """Deterministic URL canonical form — the RefinedWeb §3.2 URL-dedup
    key. Rules (each mirrored exactly by the DuckDB oracle):

    - scheme and host lowercase; userinfo dropped;
    - default ports dropped (80 for http, 443 for https), others kept;
    - trailing slashes stripped from the path (root path == empty);
    - fragment dropped;
    - tracking params (:data:`TRACKING_PARAM_REGEX`) and empty params
      dropped; surviving params SORTED lexicographically (binary, both
      engines' default collation) so param order never splits a key;
    - unparseable URLs (no scheme://) canonicalize to '' — group them
      out before dedup.

    Pure native expressions (regexp + array ops), map-side only.
    """
    c = F.coalesce(
        F.col(url) if isinstance(url, str) else url, F.lit("")
    )
    scheme = F.lower(F.regexp_extract(c, _SCHEME_REGEX, 1))
    host = host_from_url(c)
    port = F.regexp_extract(c, _PORT_REGEX, 1)
    port_part = F.when(
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_replace(
        F.regexp_extract(c, _PATH_REGEX, 1), r"/+$", ""
    )
    raw_q = F.regexp_extract(c, _QUERY_REGEX, 1)
    kept_params = F.array_sort(
        F.filter(
            F.split(raw_q, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_REGEX),
        )
    )
    q_part = F.when(
        F.size(kept_params) > 0,
        F.concat(F.lit("?"), F.concat_ws("&", kept_params)),
    ).otherwise(F.lit(""))
    return F.when(scheme == "", F.lit("")).otherwise(
        F.concat(scheme, F.lit("://"), host, port_part, path, q_part)
    )


def url_dedup(
    df: DataFrame,
    url_col: str,
    id_col: str = "doc_id",
    out_col: str = "canonical_url",
) -> DataFrame:
    """URL-level exact dedup — the cheapest stage of the published
    curation cascade (RefinedWeb runs it BEFORE any content dedup:
    re-crawls of the same page collapse on the canonical URL without
    touching the text). Keeps the smallest ``id_col`` per canonical
    form; unparseable URLs (canonical '') are NOT merged with each
    other — each keeps its own row (grouped by id instead).

    ONE keyed shuffle with a MIN combiner (the exact_dedup shape); at
    100 TB the canonical form is computed map-side and hot URLs
    collapse in the partial aggregate."""
    d = df.withColumn(out_col, canonical_url(url_col))
    key = F.when(F.col(out_col) == "", F.concat(F.lit("\x00id:"),
                 F.col(id_col).cast("string"))).otherwise(F.col(out_col))
    keep = (
        d.withColumn("_uk", key)
        .groupBy("_uk")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return d.join(keep, id_col, "left_semi")
