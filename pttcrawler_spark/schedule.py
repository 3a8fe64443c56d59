"""Scheduling surface — the crontab-registration analog.

The reference registers OS crontab entries per crawler module
(/root/reference/schedule.py:68-110): a job is keyed by (module, args),
`update` upserts a `minute.on/hour.on/dom.every(cycle)` line, `remove`
deletes it. This engine keeps the same job-management surface but stores the
registry as a JSON document next to the store (no OS coupling) and executes
due jobs through the CLI (`pttcrawler_spark.cli.main`), which is how a
workflow runner (Airflow/cron/systemd timer) would drive it on a cluster.
Within a process the crawl's cadence is its own micro-batch loop
(engine/crawl.py), which drains the frontier until nothing is pending.

Cron semantics kept: a job fires at hour:minute on days where
day-of-month % cycle_days == start_day % cycle_days (the `dom.every(n)`
`*/n` approximation the reference relies on).
"""

from __future__ import annotations

import datetime as _dt
import json
from dataclasses import asdict, dataclass
from pathlib import Path

REGISTRY_NAME = "schedule.json"

MODULES = ("article_index", "article", "asn", "user")  # schedule.py:28-32


@dataclass
class JobSpec:
    module: str                 # one of MODULES
    args: str                   # verbatim CLI argument string (job key part)
    minute: int
    hour: int
    dom_every: int              # cycle_time days (dom.every)
    start_day: int              # anchor day-of-month for the */n phase
    enabled: bool = True
    last_run: str | None = None  # ISO timestamp of the last run_due firing

    def key(self) -> tuple[str, str]:
        return (self.module, self.args)


def _registry_path(store_dir: str) -> Path:
    return Path(store_dir) / REGISTRY_NAME


def load_jobs(store_dir: str) -> list[JobSpec]:
    p = _registry_path(store_dir)
    if not p.exists():
        return []
    return [JobSpec(**j) for j in json.loads(p.read_text())]


def save_jobs(store_dir: str, jobs: list[JobSpec]) -> None:
    p = _registry_path(store_dir)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(json.dumps([asdict(j) for j in jobs], indent=1))


def update_job(store_dir: str, module: str, args: str,
               start_datetime: _dt.datetime, cycle_days: int) -> JobSpec:
    """Upsert, keyed by (module, args) — schedule.py:78-104."""
    if module not in MODULES:
        raise ValueError(f"unknown crawler module {module!r}")
    if cycle_days < 1:
        raise ValueError("cycle_time must be >= 1 day")
    jobs = load_jobs(store_dir)
    spec = JobSpec(module=module, args=args,
                   minute=start_datetime.minute, hour=start_datetime.hour,
                   dom_every=cycle_days, start_day=start_datetime.day)
    out = [j for j in jobs if j.key() != spec.key()]
    out.append(spec)
    save_jobs(store_dir, out)
    return spec


def remove_job(store_dir: str, module: str, args: str) -> bool:
    """Returns True if a job was removed — schedule.py:105-107."""
    jobs = load_jobs(store_dir)
    out = [j for j in jobs if j.key() != (module, args)]
    save_jobs(store_dir, out)
    return len(out) != len(jobs)


def next_run(job: JobSpec, after: _dt.datetime) -> _dt.datetime:
    """First firing strictly after ``after``: hour:minute on days matching
    the `*/cycle` day-of-month phase."""
    day = _dt.datetime(after.year, after.month, after.day,
                       job.hour, job.minute)
    for _ in range(0, 62):  # at most two months of day-stepping
        if day > after and day.day % job.dom_every == job.start_day % job.dom_every:
            return day
        day += _dt.timedelta(days=1)
    raise RuntimeError("no firing found (unsatisfiable dom phase)")


def run_due(store_dir: str, now: _dt.datetime | None = None,
            runner=None) -> list[JobSpec]:
    """Fire every enabled job whose next firing since its last run is due.
    ``runner(argv_list)`` defaults to the CLI main; fired jobs record
    ``last_run``. Returns the jobs that fired."""
    import shlex

    if runner is None:
        from .cli import main as runner  # noqa: PLC0415
    now = now or _dt.datetime.now()
    jobs = load_jobs(store_dir)
    fired = []
    for j in jobs:
        if not j.enabled:
            continue
        anchor = (_dt.datetime.fromisoformat(j.last_run) if j.last_run
                  else _dt.datetime(1970, 1, 1))
        if next_run(j, anchor) <= now:
            runner([j.module, *shlex.split(j.args)])
            j.last_run = now.isoformat()
            fired.append(j)
    if fired:
        save_jobs(store_dir, jobs)
    return fired
