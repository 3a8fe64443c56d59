"""Task-metric sampling for scaling evidence.

The scaling criterion (BASELINE.json: efficiency >= 0.8 from N to 4N) needs
more than two throughput numbers — it needs to show WHERE the non-ideal
fraction goes at the higher level (idle cores? GC? memory stalls?). Spark
already accounts every task's executorRunTime / executorCpuTime / jvmGcTime
in the app-status store; this module samples the cumulative totals from the
UI REST API at batch boundaries so each batch carries a delta:

  core_utilization = sum(executorRunTime) / (cores * batch_wall)
      < 1 means cores sat idle (driver-side gaps, job launch, stragglers);
  cpu_frac = executorCpuTime / executorRunTime
      < 1 on busy cores means off-CPU time: memory stalls, lock waits, I/O;
  gc_frac = jvmGcTime / executorRunTime.

The crawl samples every batch; a sample is None unless the Spark UI is on
(spark.ui.enabled, off in session.get_spark), so a session with the UI off
runs unmetered. Fail-soft: any error also returns None and the crawl
proceeds unmetered — instrumentation must never fail a run.

On a real cluster the same numbers come from the history server / metrics
sink; nothing here is local-mode-specific except the localhost UI URL.
"""

from __future__ import annotations

import json
import urllib.request

_FIELDS = {
    # REST field                 -> sample key
    "executorRunTime": "run_ms",          # ms, summed over tasks
    "executorCpuTime": "cpu_ns",          # ns
    "jvmGcTime": "gc_ms",                 # ms
    "inputBytes": "input_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "memoryBytesSpilled": "mem_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
}


def _get(url: str):
    with urllib.request.urlopen(url, timeout=5) as r:
        return json.loads(r.read().decode())


def sample(spark) -> dict | None:
    """Cumulative task-metric totals across all completed stages, or None."""
    try:
        base = spark.sparkContext.uiWebUrl
        if not base:
            return None
        apps = _get(f"{base}/api/v1/applications")
        app_id = apps[0]["id"]
        stages = _get(f"{base}/api/v1/applications/{app_id}/stages?status=complete")
        out = {k: 0 for k in _FIELDS.values()}
        for st in stages:
            for rest_key, key in _FIELDS.items():
                out[key] += int(st.get(rest_key, 0) or 0)
        out["stages"] = len(stages)
        return out
    except Exception:
        return None


def delta(before: dict | None, after: dict | None) -> dict | None:
    if before is None or after is None:
        return None
    return {k: after[k] - before[k] for k in after}


def summarize(d: dict | None, cores: int, wall_s: float) -> dict:
    """Human-facing ratios for one batch (or a window of batches)."""
    if not d or wall_s <= 0 or d.get("run_ms", 0) <= 0:
        return {}
    run_s = d["run_ms"] / 1e3
    return {
        "core_utilization": round(run_s / (cores * wall_s), 3),
        "cpu_frac": round(d["cpu_ns"] / 1e9 / run_s, 3),
        "gc_frac": round(d["gc_ms"] / 1e3 / run_s, 3),
        "input_GB": round(d["input_bytes"] / 1e9, 2),
        "shuffle_write_GB": round(d["shuffle_write_bytes"] / 1e9, 3),
        "spill_GB": round((d["mem_spill_bytes"] + d["disk_spill_bytes"]) / 1e9, 3),
    }
