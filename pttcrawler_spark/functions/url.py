"""URL canonicalization + hashing as Spark column expressions.

All JVM-side (regexp/string built-ins + xxhash64/murmur3) — no Python UDFs —
so canonicalization runs inside whole-stage codegen. The reference has no
canonicalizer (it string-formats URLs, crawler/article.py:24-26, 420-422);
at 10^10-URL scale one is mandatory: the seen-set key must be canonical.

Rules (standard, public crawl practice): lowercase scheme+host, strip
default ports, strip fragment, collapse duplicate slashes in the path,
drop trailing '?' . Query strings are preserved (PTT URLs carry none).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

N_HASH_PARTITIONS = 64  # host-salt space: murmur3(host) % P (metrics' partition_id)


def canonicalize(url: Column) -> Column:
    c = F.trim(url)
    c = F.regexp_replace(c, r"#.*$", "")                       # fragment
    # lowercase scheme://host (group 1), keep the rest as-is
    scheme_host = F.lower(F.regexp_extract(c, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)", 1))
    rest = F.regexp_replace(c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+", "")
    scheme_host = F.regexp_replace(scheme_host, r"^(https://[^/:]+):443$", "$1")
    scheme_host = F.regexp_replace(scheme_host, r"^(http://[^/:]+):80$", "$1")
    rest = F.regexp_replace(rest, r"//+", "/")                 # dup slashes
    rest = F.regexp_replace(rest, r"\?$", "")
    return F.concat(scheme_host, F.when(rest == "", F.lit("/")).otherwise(rest))


def host_of(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1))


def url_hash64(url: Column) -> Column:
    """xxhash64 of the canonical URL — the bloom/seen key (64-bit)."""
    return F.xxhash64(url)


def url_hash32(url: Column) -> Column:
    """murmur3_x86_32 (Spark's F.hash) — the north rule's murmur3 hash."""
    return F.hash(url)


def host_salt(host: Column, p: int = N_HASH_PARTITIONS) -> Column:
    """murmur3(host) % P — skew-killing partition salt for per-host stages."""
    return F.pmod(F.hash(host), F.lit(p)).cast("int")


def join_url(base: Column, href: Column) -> Column:
    """Resolve an href against the page's base URL (site-relative only,
    which is all PTT emits — crawler/article.py:445 `link = PTT_URL + href`)."""
    origin = F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)", 1)
    return F.when(href.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"), href).otherwise(
        F.concat(origin, href)
    )
