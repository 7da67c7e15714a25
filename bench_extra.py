#!/usr/bin/env python
"""Jitter-immune companion to the frozen ``bench.py`` (VERDICT r05 next
#1): per headline query, record executor task CPU TIME, SHUFFLE BYTES
read/written and the Spark JOB COUNT alongside wall-clock. CPU time,
shuffle bytes and jobs are plan+data functions — a noisy-neighbor host
inflates wall 3-6× but cannot inflate any of them — so round-over-round
comparisons made on ``cpu_time_s`` and ``jobs`` survive a noisy host's
scheduler decay.

    python bench_extra.py [--isolate]          # noop-sink per-query isolation

Methodology: the same queries, data dir ($SPARK_GRAFT_SF_DIR) and core
count ($SPARK_GRAFT_CPUS) as bench.py; each query runs once warm inside
its own job group; metrics come from the Spark event log (job-start and
task-end records aggregated per job group; warm-up jobs are grouped
separately and not reported). ``--isolate`` additionally times each
query against the noop sink (guide §1.4) instead of ``.count()``, which
forces every column of every row to be computed.

Output: ONE JSON line
  {"metric": "headline_cpu_seconds_total", "value": N, "unit": "sec",
   "queries": {name: {"wall": s, "cpu_time_s": s, "shuffle_read_mb": m,
                      "shuffle_write_mb": m, "tasks": n, "jobs": n}},
   "jobs_total": n, ...}
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

EVLOG_DIR = "/tmp/anno-spark-evlog"


def _parse_event_log(path_glob: str) -> dict:
    """group → {cpu_ns, shuffle_read_b, shuffle_write_b, tasks, jobs}."""
    import io

    stage_group: dict[int, str] = {}
    agg: dict[str, dict] = {}

    def group_agg(group: str) -> dict:
        return agg.setdefault(
            group,
            {"cpu_ns": 0, "shuffle_read_b": 0, "shuffle_write_b": 0, "tasks": 0, "jobs": 0},
        )

    for fn in sorted(glob.glob(path_glob)):
        if os.path.isdir(fn):
            continue
        if fn.endswith(".zstd"):
            try:
                import zstandard as zstd

                fh = io.TextIOWrapper(
                    zstd.ZstdDecompressor().stream_reader(open(fn, "rb"))
                )
            except ImportError:
                import subprocess

                fh = io.StringIO(
                    subprocess.run(
                        ["zstd", "-dc", fn], capture_output=True, text=True
                    ).stdout
                )
        else:
            fh = open(fn)
        for line in fh:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                group = e.get("Properties", {}).get("spark.jobGroup.id", "")
                group_agg(group)["jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    stage_group[sid] = group
            elif ev == "SparkListenerTaskEnd":
                group = stage_group.get(e.get("Stage ID"), "")
                m = e.get("Task Metrics") or {}
                a = group_agg(group)
                a["tasks"] += 1
                a["cpu_ns"] += m.get("Executor CPU Time", 0)
                srm = m.get("Shuffle Read Metrics") or {}
                a["shuffle_read_b"] += srm.get("Remote Bytes Read", 0) + srm.get(
                    "Local Bytes Read", 0
                )
                swm = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_b"] += swm.get("Shuffle Bytes Written", 0)
    return agg


def main() -> None:
    isolate = "--isolate" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    shutil.rmtree(EVLOG_DIR, ignore_errors=True)
    os.makedirs(EVLOG_DIR, exist_ok=True)

    from anno_spark.session import get_spark

    import __spark_entry__ as entry_mod
    from bench import HEADLINE, _bench_dedup_minhash, _warmup, run_kg_pipeline

    spark = get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=32,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVLOG_DIR,
            "spark.eventLog.compress": "false",
        },
    )
    sc = spark.sparkContext

    sc.setJobGroup("warmup", "untimed warmup")
    _warmup(spark)

    walls: dict[str, float] = {}

    sc.setJobGroup("kg_pipeline", "kg_pipeline")
    t0 = time.monotonic()
    run_kg_pipeline(spark, sf_dir)
    walls["kg_pipeline"] = round(time.monotonic() - t0, 3)

    qmap = entry_mod.queries()
    qmap["dedup_minhash"] = _bench_dedup_minhash
    qmap["doc_stats"] = entry_mod.q_doc_stats
    for name in HEADLINE:
        sc.setJobGroup(name, name)
        df = qmap[name](spark, sf_dir)
        t0 = time.monotonic()
        if isolate:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        walls[name] = round(time.monotonic() - t0, 3)
    spark.stop()

    agg = _parse_event_log(os.path.join(EVLOG_DIR, "*", "events_*")) or _parse_event_log(
        os.path.join(EVLOG_DIR, "*")
    )
    queries = {}
    total_cpu = 0.0
    for name in ["kg_pipeline", *HEADLINE]:
        a = agg.get(name, {})
        cpu_s = round(a.get("cpu_ns", 0) / 1e9, 3)
        total_cpu += cpu_s
        queries[name] = {
            "wall": walls.get(name),
            "cpu_time_s": cpu_s,
            "shuffle_read_mb": round(a.get("shuffle_read_b", 0) / 2**20, 3),
            "shuffle_write_mb": round(a.get("shuffle_write_b", 0) / 2**20, 3),
            "tasks": a.get("tasks", 0),
            "jobs": a.get("jobs", 0),
        }
    out = {
        "metric": "headline_cpu_seconds_total",
        "value": round(total_cpu, 3),
        "unit": "sec",
        "wall_total": round(sum(v for v in walls.values()), 3),
        "jobs_total": sum(q["jobs"] for q in queries.values()),
        "queries": queries,
        "sf": os.path.basename(sf_dir.rstrip("/")),
        "cpus": cpus,
        "isolated_noop_sink": isolate,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
