"""pttcrawler_spark — a from-scratch PySpark-native URL-frontier + fetch
scheduler with the crawl/query/export capabilities of gundambox/PttCrawler.

NOT a port: the reference (/root/reference, ~2.4k LoC single-threaded Python
over SQLite) tells us WHAT to compute — board→index-page→article BFS, push
parse, user/ASN enrichment, export/query — and this package re-expresses it
as declarative DataFrame plans plus a micro-batch frontier loop:

- frontier/seen/politeness state as partitioned Parquet tables (Iceberg-layout
  snapshot directories, since Iceberg jars are not in this image),
- URL-seen as an exact anti-join against the frontier, optionally
  pre-filtered (``seen_filter``) by a partitioned Bloom or deletable cuckoo
  filter built/probed with Arrow-vectorized pandas UDFs over hashed
  canonical URLs (the anti-join verifies the maybe-hits),
- politeness as a per-host token bucket: a Catalyst robots split, then a
  rank-window admit of each host's top pending rows,
- ordering as DATA (priority desc, discovery_seq asc per host), never task
  order, so the reference's exact fetch order reproduces under any
  parallelism.

See SURVEY.md for the full blueprint and file:line citations.
"""

__version__ = "0.1.0"
