"""URL / domain column functions for web-corpus curation.

A large-scale training-data pipeline filters and rolls up by URL
structure: host extraction, registrable-domain grouping (C4 and
RefinedWeb both apply domain-level block/allow lists and per-domain
caps before any content filtering). All functions here are pure JVM
column expressions — ``parse_url`` is a built-in Catalyst expression,
so host/path/query extraction stays inside whole-stage codegen and
predicate pushdown still applies to any filter built from them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Domain-level blocklist, the shape C4 uses for its "bad domains" list.
# Matched against the registrable domain, so every subdomain is covered.
DEFAULT_DOMAIN_BLOCKLIST = ("spam.example.net", "junk.example.org")


def url_host(url: Column) -> Column:
    """Hostname of a URL (JVM ``parse_url``, no UDF)."""
    return F.parse_url(url, F.lit("HOST"))


def url_query_param(url: Column, key: str) -> Column:
    """A single query parameter's value (``parse_url`` QUERY form)."""
    return F.parse_url(url, F.lit("QUERY"), F.lit(key))


def registrable_domain(host: Column) -> Column:
    """Last two labels of the hostname — the registrable domain under
    generic TLDs (a public-suffix list would extend this to ccTLDs; the
    expression shape is the same: strip labels left of the suffix).
    """
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.when(n <= 2, host).otherwise(
        F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    )


def domain_blocked(domain: Column, blocklist: tuple[str, ...]) -> Column:
    """True when the registrable domain is on the blocklist. A literal
    IN-list compiles to a hash-set probe; for million-entry lists use a
    broadcast left-semi join against a blocklist table instead."""
    return domain.isin(*blocklist)


# Query parameters that carry no content identity — the standard
# tracking/attribution set every crawl-dedup pipeline strips before
# URL-level dedup (utm_* per Google Analytics docs, click ids, etc.).
TRACKING_PARAM_RE = r"^(utm_[A-Za-z]+|fbclid|gclid|msclkid|mc_eid|ref)="


def canonicalize_url(url: Column) -> Column:
    """Canonical form of a URL for URL-level dedup, as a pure JVM
    expression chain (``parse_url`` + regexp + higher-order array
    functions — no UDF, stays in whole-stage codegen):

    - scheme and host lowercased;
    - default ports dropped (``:80`` for http, ``:443`` for https),
      non-default ports preserved;
    - trailing slashes stripped from the path;
    - tracking query parameters removed (``TRACKING_PARAM_RE``), the
      surviving parameters kept in their original order;
    - the fragment dropped.

    Two URLs that differ only in those respects canonicalize to the
    same string; everything content-bearing (path, real params, port)
    survives.
    """
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    port = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*?:(\d+)(?:[/?#]|$)", 1)
    port_part = (
        F.when(port == "", F.lit(""))
        .when((scheme == "http") & (port == "80"), F.lit(""))
        .when((scheme == "https") & (port == "443"), F.lit(""))
        .otherwise(F.concat(F.lit(":"), port))
    )
    path = F.regexp_replace(
        F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("")), r"/+$", ""
    )
    query = F.coalesce(F.parse_url(url, F.lit("QUERY")), F.lit(""))
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    qs = F.array_join(kept, "&")
    q_part = F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs))
    return F.concat(scheme, F.lit("://"), host, port_part, path, q_part)
