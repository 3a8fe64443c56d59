"""Workload definitions: a seeded synthetic site, a crawl config and a fetch
path. Each workload is a closed drain: the site is fixed, every URL is
available from the start, and the crawl runs until the frontier is empty.

``site`` sizes are what the timed benchmark runs; ``smoke_site`` sizes take
the same code path on a tiny site for the benchmark's own tests.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    site: dict                 # SiteConfig kwargs, minus the seed
    crawl: dict                # CrawlConfig kwargs ({} = the reference defaults)
    fetch: str                 # "corpus" (simulated join) | "http" (sources.http_fetch)
    smoke_site: dict = field(default_factory=dict)


WORKLOADS: dict[str, Workload] = {
    # Throughput-bound: politeness never binds (delay 0.01 s), pages are wide
    # and carry 64x64 image payloads, so parse, verify and the payload-table
    # writes are a large share of the article batch.
    "drain-wide": Workload(
        name="drain-wide",
        site={"n_boards": 16, "pages_per_board": 1, "articles_per_page": 128,
              "img_w": 64, "img_h": 64},
        crawl={"delay_s": 0.01, "batch_seconds": 60.0},
        fetch="corpus",
        smoke_site={"n_boards": 2, "pages_per_board": 1, "articles_per_page": 6,
                    "img_w": 16, "img_h": 16},
    ),
    # Fixed-cost-bound, on the real fetch layer: the reference's default
    # politeness (2 s delay, 60 s logical batch = 30 URLs per host per batch)
    # over a few hosts, every page fetched with a GET from a local HTTP
    # server. Batches are small, so per-batch jobs, checkpoints and small
    # delta commits dominate. A page holds 28 live articles, just under the
    # budget: a deferred backlog would cost one more ~7 s batch per run.
    "polite-http": Workload(
        name="polite-http",
        site={"n_boards": 4, "pages_per_board": 1, "articles_per_page": 32},
        crawl={"verify_payload": False},
        fetch="http",
        smoke_site={"n_boards": 2, "pages_per_board": 1, "articles_per_page": 6},
    ),
}
