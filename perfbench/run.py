"""KG-construction benchmark.

    python3 perfbench/run.py --workload kg_crawl --seed 1 --seconds 12 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, then starts a fresh measured process (``perfbench.worker``) that
starts the Spark session, warms up, and runs checked passes for
``--seconds`` seconds of measured pass time. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it holds the details: input digest, session settings, per-pass
times and any check errors.

``--record`` instead runs one pass per seed class and stores the output
digests in ``perfbench/expected.json``; do that only when a change to
the inputs or to the program's output is intended.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.trace import (  # noqa: E402
    COUNTS,
    LAYERS,
    PIPELINE_GROUPS,
    SPAN_METRICS,
    SUB_SPANS,
    descendants,
)

# one directory per run, so two runs in one checkout cannot share inputs
WORK = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
EXPECTED = os.path.join(HERE, "expected.json")

# Session pinned through get_spark's arguments and its env vars. The heap
# is far under get_spark's 32g default, which exceeds a 15 GB machine.
MAX_CORES = 4
HEAP = "3g"
RUN_TIMEOUT_S = 170.0

WORKLOADS = ("kg_crawl", "resolve_skew", "dedup_near")
# input rows of one pass: pages, mentions, docs
ROWS_TABLE = {"kg_crawl": "pages", "resolve_skew": "mentions", "dedup_near": "docs"}

END_TO_END = (
    ("setup_s", "s"),
    ("rows_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
)


def _span_metric_units():
    unit = {"jobs": "count", "tasks": "count", "failed_tasks": "count"}
    for m in (*SPAN_METRICS, "self_s"):
        yield m, unit.get(m, "MB" if m.endswith("_mb") else "s")


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every metric a ``--trace 1`` run prints."""
    spec = []
    for span in (*LAYERS, *SUB_SPANS):
        for m, unit in _span_metric_units():
            spec.append((f"{span}.{m}", unit, "lower"))
    for g, _ in PIPELINE_GROUPS:
        spec.append((f"pipeline.{g}.wall_s", "s", "lower"))
    for name, unit in COUNTS:
        better = "lower" if unit == "MB" else "higher"
        spec.append((name, unit, better))
    spec += [
        ("session.start_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("trace.rows_per_s", "1/s", "higher"),
        ("trace.untraced_rows_per_s", "1/s", "higher"),
        ("trace.overhead_pct", "%", "lower"),
    ]
    return spec


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, root first."""
    return [root, *descendants(root)]


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


# A process the JVM is spawning shares the JVM's memory until it execs, and
# /proc counts the JVM's resident size again for it (one run read 7.4 GB
# instead of 4.6 GB). Such processes are left out of the sum.
_SPAWNING = ("java", "jspawnhelper")


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / float(1 << 20)
    except (OSError, IndexError, ValueError):
        return 0.0


class RssMonitor(threading.Thread):
    """Peak resident memory of a process tree, sampled every 50 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak_mb = pid, 0.0
        # peak of each part: the Python driver, the JVM, the Python workers
        self.parts = {"driver": 0.0, "jvm": 0.0, "py_workers": 0.0, "n_py_workers": 0}
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.wait(0.05):
            tree = process_tree(self.pid)
            # tree[0] is the Python driver, tree[1] the JVM
            tree = tree[:2] + [p for p in tree[2:] if _comm(p) not in _SPAWNING]
            rss = [rss_mb(p) for p in tree]
            self.peak_mb = max(self.peak_mb, sum(rss))
            parts = {
                "driver": rss[0],
                "jvm": rss[1] if len(rss) > 1 else 0.0,
                "py_workers": sum(rss[2:]),
                "n_py_workers": len(rss) - 2,
            }
            for k, v in parts.items():
                self.parts[k] = max(self.parts[k], v)

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=5)


PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Make this process the parent of its orphaned descendants. The JVM
    outlives the worker process by a moment; re-parented here instead of
    to init, it is waited for like every other process of the run."""
    try:
        ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # without it, orphans that end after the sweep escape it


def _end_descendants(grace_s: float = 10.0) -> None:
    """Wait for every descendant of this process to end, kill what
    outlives the grace period, and reap each one."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline + 20.0:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        tree = descendants(os.getpid())
        if not tree:
            return
        if time.monotonic() >= deadline:
            for pid in tree:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # so the clean-up in main() runs


def _spawn(cfg: dict, env: dict, timeout_s: float) -> tuple[dict | None, float, float, str]:
    """Run the worker; return (result, spawn time, peak tree RSS, log tail)."""
    cfg_path = os.path.join(WORK, "config.json")
    cfg["result"] = os.path.join(WORK, "result.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(WORK, "worker.log")
    with open(log_path, "w") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", cfg_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
        )
        mon = RssMonitor(proc.pid)
        mon.start()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        finally:
            mon.stop()
            _end_descendants()
    with open(log_path, errors="replace") as f:
        tail = f.read()[-3000:]
    result = None
    if proc.returncode == 0 and os.path.exists(cfg["result"]):
        with open(cfg["result"]) as f:
            result = json.load(f)
    if result is not None:
        result["rss_parts"] = mon.parts
    return result, t_spawn, mon.peak_mb, tail


def _env(cores: int) -> dict:
    env = dict(os.environ)
    # a forced-fallback environment would switch every size gate
    env.pop("SPARK_GRAFT_FORCE_FALLBACK", None)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env.update(
        PYTHONPATH=ROOT,
        PYTHONDONTWRITEBYTECODE="1",
        # the same str hashes, so set/dict orders, in every run
        PYTHONHASHSEED="0",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_GRAFT_UI="false",
    )
    return env


def _load_expected() -> dict:
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f)


def _median(values):
    return statistics.median(values) if values else 0.0


def _metrics(result, cfg, t_spawn, peak_mb, trace: bool) -> dict:
    rows = cfg["rows"]
    timed = result["passes"][result["n_warm"]:]

    def rate(traced):
        return _median(
            [rows / p["seconds"] for p in timed if p["traced"] == traced and p.get("seconds")]
        )

    start_s = result["t_ready"] - t_spawn
    warmup_s = result["t_timed"] - result["t_ready"]
    if not trace:
        values = {
            "setup_s": start_s + warmup_s,
            "rows_per_s": rate(False),
            "peak_rss_mb": peak_mb,
        }
        units = dict(END_TO_END)
        return {k: {"value": v, "unit": units[k]} for k, v in values.items()}

    traced = [p for p in timed if p["traced"] and "pass_id" in p]
    values: dict[str, list[float]] = {}
    for p in traced:
        spans = result["span_metrics"].get(str(p["pass_id"]), {})
        for span in (*LAYERS, *SUB_SPANS):
            for m, _ in _span_metric_units():
                values.setdefault(f"{span}.{m}", []).append(spans.get(span, {}).get(m, 0.0))
        for g, _ in PIPELINE_GROUPS:
            values.setdefault(f"pipeline.{g}.wall_s", []).append(
                spans.get(f"pipeline.{g}", {}).get("wall_s", 0.0)
            )
        for name, _ in COUNTS:
            values.setdefault(name, []).append(p["counts"].get(name, 0))
    out = {k: _median(v) for k, v in values.items()}
    plain, with_trace = rate(False), rate(True)
    out.update(
        {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "trace.rows_per_s": with_trace,
            "trace.untraced_rows_per_s": plain,
            "trace.overhead_pct": 100.0 * (1.0 - with_trace / plain) if plain else 0.0,
        }
    )
    return {name: {"value": out.get(name, 0.0), "unit": unit} for name, unit, _ in per_layer_spec()}


def _record(args, cores, env) -> int:
    from perfbench import inputs

    sets, digests = {}, {}
    for cls in range(inputs.SEED_CLASSES):
        gen = inputs.generate(
            args.workload, cls, os.path.join(WORK, f"inputs-{cls}"), workers=cores
        )
        sets[str(cls)], digests[str(cls)] = gen["tables"], gen["digest"]
    cfg = _config(args, cores, tables=None, rows=0, expected={})
    cfg["record_sets"] = sets
    result, _, _, tail = _spawn(cfg, env, timeout_s=3600)
    if result is None:
        print(tail, file=sys.stderr)
        return 1
    expected = _load_expected()
    expected[args.workload] = {
        cls: {"inputs": digests[cls], "outputs": result["recorded"][cls]}
        for cls in sorted(sets, key=int)
    }
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(sets)} seed classes of {args.workload}")
    return 0


def _config(args, cores, tables, rows, expected) -> dict:
    return {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "tables": tables,
        "rows": rows,
        "expected": expected,
        "cores": cores,
        "heap": HEAP,
        "shuffle_partitions": 2 * cores,
        "work": WORK,
        "tmp": os.path.join(WORK, "tmp"),
        "events": os.path.join(WORK, "events"),
        # stop adding passes well before the run timeout
        "deadline_s": max(3.0 * args.seconds, 30.0),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "anno_spark", "session.py")):
        print(f"perfbench: no anno_spark sources under {ROOT}", file=sys.stderr)
        return 2

    t_begin = time.monotonic()
    signal.signal(signal.SIGTERM, _on_sigterm)
    _become_subreaper()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        cores = max(1, min(len(os.sched_getaffinity(0)), MAX_CORES))
        env = _env(cores)
        if args.record:
            return _record(args, cores, env)

        from perfbench import inputs

        gen = inputs.generate(
            args.workload, args.seed, os.path.join(WORK, "inputs"), workers=cores
        )
        recorded = (
            _load_expected().get(args.workload, {}).get(str(inputs.seed_class(args.seed)), {})
        )
        cfg = _config(
            args, cores, gen["tables"], gen["rows"][ROWS_TABLE[args.workload]],
            recorded.get("outputs", {}),
        )
        timeout = RUN_TIMEOUT_S - (time.monotonic() - t_begin)
        result, t_spawn, peak_mb, tail = _spawn(cfg, env, timeout)
        if result is None:
            print(tail, file=sys.stderr)
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
            return 1
        passes = result["passes"]
        failed = sum(1 for p in passes if p["errors"])
        inputs_ok = recorded.get("inputs") == gen["digest"]
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seed_class": inputs.seed_class(args.seed),
            "input_digest": gen["digest"],
            "input_digest_matches_record": inputs_ok,
            "input_rows": gen["rows"],
            "session": {
                "master": f"local[{cores}]",
                "shuffle_partitions": cfg["shuffle_partitions"],
                "driver_memory": HEAP,
            },
            "start_s": round(result["t_ready"] - t_spawn, 4),
            "warmup_s": round(result["t_timed"] - result["t_ready"], 4),
            "timed_s": round(result["t_end"] - result["t_timed"], 4),
            "peak_rss_parts_mb": result["rss_parts"],
            "warm_passes": result["n_warm"],
            "pass_seconds": [round(p.get("seconds", -1.0), 4) for p in passes],
            "pass_cpu_seconds": [round(p.get("cpu_seconds", -1.0), 3) for p in passes],
            "check_seconds": [round(p.get("check_seconds", -1.0), 4) for p in passes],
            "pass_traced": [p["traced"] for p in passes],
            "errors": [e[-600:] for p in passes for e in p["errors"]][:5],
        }
        if args.trace:
            # [name, start, end, parent span, pass id], seconds from the
            # start of the timed phase
            detail["spans"] = result["spans"]
        print(json.dumps(detail))
        print(
            json.dumps(
                {
                    "correct": failed == 0 and inputs_ok,
                    "attempted": len(passes),
                    "failed": failed,
                    "metrics": _metrics(result, cfg, t_spawn, peak_mb, bool(args.trace)),
                }
            )
        )
        return 0
    finally:
        _end_descendants(grace_s=0.0)
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:
            pass  # another run is using it


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.exit(main())
