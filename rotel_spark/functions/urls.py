"""URL decomposition — host / domain / tld extraction.

Enrichment-side analog of the reference's static attribute mapping
(Datadog mapping tables, /root/reference/src/exporters/datadog/
transform/otel_mapping/attributes.rs:11-76): domain/tld become join
keys against small broadcast lookup tables.

Pure JVM expressions (parse_url / regexp) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def host_of(url: Column) -> Column:
    return F.regexp_extract(url, r"https?://([^/]+)", 1)


def tld_of(url: Column) -> Column:
    return F.regexp_extract(url, r"https?://[^/]*[.]([a-z0-9-]+)(/|$)", 1)


# ---------------------------------------------------------------------------
# URL canonicalization — web-crawl dedup prerequisite
# ---------------------------------------------------------------------------
# Training-data-pipeline operator (task brief): Common-Crawl-style
# corpora carry the same page under many surface forms (tracking
# params, fragments, www-prefix, trailing slash, unsorted query
# params). Canonicalizing BEFORE url-level dedup is what makes
# exact-dedup counts meaningful at 10^12 docs. Pure JVM expressions
# (regexp / split / filter / array_sort / array_join) — no Python,
# stays inside whole-stage codegen; the downstream dedup is a
# groupBy(canonical_url) hash shuffle with map-side partial
# aggregation.

_TRACKING_PREFIXES = ("utm_", "fbclid", "gclid")


def canonicalize_url(url: Column) -> Column:
    """scheme://host/path?sorted-non-tracking-params — drops fragment,
    tracking params (utm_*, fbclid, gclid), default :443/:80 port,
    www. prefix, and any trailing slash on the path."""
    no_frag = F.regexp_replace(url, r"#.*$", "")
    head = F.regexp_replace(no_frag, r"\?.*$", "")  # scheme://host/path
    # host normalization: strip default port, then www.
    head = F.regexp_replace(head, r"^(https?://[^/:]+):(443|80)(/|$)", r"$1$3")
    head = F.regexp_replace(head, r"^(https?://)www\.", r"$1")
    head = F.regexp_replace(head, r"/+$", "")
    query = F.regexp_extract(no_frag, r"\?(.*)$", 1)
    def _is_kept(p: Column) -> Column:
        tracked = p.startswith(_TRACKING_PREFIXES[0])
        for pref in _TRACKING_PREFIXES[1:]:
            tracked = tracked | p.startswith(pref)
        return (p != "") & ~tracked

    keep = F.filter(F.split(query, "&"), _is_kept)
    qs = F.array_join(F.array_sort(keep), "&")
    return F.when(qs == "", head).otherwise(F.concat(head, F.lit("?"), qs))
