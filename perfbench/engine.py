"""Engine-side counters: Spark job/stage data per request from the
status tracker and the UI REST API (the UI is on in the traced run
only), and peak resident memory of the driver and its JVM."""

from __future__ import annotations

import json
import os
import time
import urllib.request
from datetime import datetime

_REST_FIELDS = {
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "inputRecords": ("spark.input_records", 1),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1),
    "numTasks": ("spark.tasks", 1),
    "numFailedTasks": ("spark.task_failures", 1),
}


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as fh:
        return json.load(fh)


def _parse_ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def job_stats(sc, group: str, settle_s: float = 3.0) -> tuple[dict[str, float], list]:
    """Counters of every job tagged ``group`` (``setJobGroup``): job
    count, in-job wall, stage count and the stage task metrics; and the
    jobs' (submission, completion) times in epoch seconds.  The status
    store fills asynchronously, so poll until each job of the group is
    finished."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    ids = set(sc.statusTracker().getJobIdsForGroup(group))
    deadline = time.monotonic() + settle_s
    while True:
        jobs = [j for j in _get(f"{base}/jobs") if j["jobId"] in ids]
        done = all(j["status"] != "RUNNING" and "completionTime" in j for j in jobs)
        if (len(jobs) == len(ids) and done) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    out = {"spark.jobs": float(len(ids)), "spark.stages": 0.0}
    for _key, (name, _scale) in _REST_FIELDS.items():
        out[name] = 0.0
    # jobs overlap (broadcast and adaptive sub-jobs run beside their
    # parent), so in-job time is the union of the job intervals
    spans = sorted(
        (_parse_ts(j["submissionTime"]), _parse_ts(j["completionTime"]))
        for j in jobs if "completionTime" in j
    )
    out["spark.job_s"] = union_length(spans)
    stage_ids = set()
    for j in jobs:
        stage_ids.update(j.get("stageIds", []))
    if stage_ids:
        for st in _get(f"{base}/stages"):
            if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                continue
            out["spark.stages"] += 1
            for key, (name, scale) in _REST_FIELDS.items():
                out[name] += st.get(key, 0) * scale
    return out, spans


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals sorted by start."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in intervals:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def jvm_pid(sc) -> int | None:
    proc = getattr(sc._gateway, "proc", None)
    return getattr(proc, "pid", None)


def reset_peak_rss(pids) -> None:
    """Restart the kernel's peak-RSS (VmHWM) count of each process."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def cpu_ticks() -> list[int]:
    """The machine's aggregate CPU tick counters (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings (field 8 is steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def process_start_time() -> float:
    """Wall-clock time this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(") ", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")
