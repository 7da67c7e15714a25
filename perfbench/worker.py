"""The measured process: session start, warm-up, timed passes, checks.

Started fresh by ``run.py`` for every run, with the generated inputs
already on disk. Usage: ``python -m perfbench.worker <config.json>``;
the result is written to the config's ``result`` path.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

from anno_spark.session import get_spark

from . import check, workloads
from .trace import NullTracer, Tracer, descendants, proc_cpu_s, span_metrics

# Untimed passes before the timed phase. The first pays JVM class loading,
# Python worker start-up, code generation and C1 compilation, and is
# checked like a timed pass. The first timed pass still uses up to 10%
# more CPU than later ones; a second warm-up pass would add 5-7 s to every
# run, and run-to-run noise (10-15% on a shared 4-vCPU VM) is larger.
WARM_PASSES = 1

# JVM options of the measured session.
# * C1 only: in a run this short the C2 compiler never settles, and its
#   threads compete with the four task threads. With C2 (4-vCPU VM), pass
#   times of one seed varied by 30% between runs and still fell after four
#   passes; with C1 only each pass used less CPU.
# * The heap is committed and touched at start (-Xms = heap, pre-touch):
#   otherwise the resident size follows G1's sizing decisions and varied
#   by 25% between runs of one input.
JVM_OPTS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+AlwaysPreTouch"


def _release(spark) -> None:
    """Drop every cached block (localCheckpoints included) so each pass
    starts from the same memory state."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


class Runner:
    def __init__(self, spark, cfg):
        self.spark = spark
        self.cfg = cfg
        self.fn = workloads.PASSES[cfg["workload"]]
        self.tracer = Tracer(spark) if cfg["trace"] else None

    def run_pass(self, tables, expected: dict | None, traced: bool) -> dict:
        """One checked pass: ``{"seconds", "errors", "observed", ...}``.
        Only the layer calls are timed; checks run after the clock stops.
        ``expected=None`` records: every table is digested, none compared."""
        t = self.tracer if traced else NullTracer()
        everything = traced or expected is None
        rec = {"traced": traced, "errors": [], "observed": {}}
        try:
            if traced:
                t.pass_id += 1
            tree = [os.getpid(), *descendants(os.getpid())]
            cpu0, t0 = proc_cpu_s(tree), time.monotonic()
            outputs = self.fn(self.spark, tables, t)
            rec["seconds"] = time.monotonic() - t0
            rec["cpu_seconds"] = proc_cpu_s(tree) - cpu0
            store = os.path.join(self.cfg["work"], "store")
            if everything and self.cfg["workload"] == "kg_crawl":
                outputs.update(workloads.pipeline_commit(self.spark, tables, t, store))
            rec["observed"] = workloads.digests(outputs, everything)
            if expected is not None:
                rec["errors"] = check.compare(rec["observed"], expected)
            rec["check_seconds"] = time.monotonic() - t0 - rec["seconds"]
            if traced:
                rec["pass_id"] = t.pass_id
                rec["counts"] = workloads.layer_counts(
                    outputs, rec["observed"], self.cfg["rows"]
                )
                if os.path.isdir(store):
                    rec["counts"]["pipeline.bytes_written_mb"] = workloads.dir_mb(store)
        except Exception:  # a failing pass is a failed operation, not a crash
            rec["errors"].append(traceback.format_exc(limit=8))
        finally:
            _release(self.spark)
        return rec


def _session(cfg):
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={cfg['tmp']} -Xms{cfg['heap']} {JVM_OPTS}"
        ),
        "spark.sql.warehouse.dir": os.path.join(cfg["work"], "warehouse"),
    }
    if cfg["trace"]:
        os.makedirs(cfg["events"], exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + cfg["events"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        master=f"local[{cfg['cores']}]",
        app_name="perfbench",
        shuffle_partitions=cfg["shuffle_partitions"],
        extra_conf=conf,
    )


def _record(cfg) -> dict:
    """One untraced pass (for kg_crawl plus a pipeline commit) per seed
    class: the digests that later runs are checked against."""
    spark = _session(cfg)
    runner = Runner(spark, {**cfg, "trace": 0})
    recorded = {}
    for cls, tables in cfg["record_sets"].items():
        rec = runner.run_pass(tables, None, traced=False)
        if rec["errors"]:
            raise RuntimeError(f"seed class {cls}: {rec['errors']}")
        recorded[cls] = rec["observed"]
    spark.stop()
    return {"recorded": recorded}


def _measure(cfg) -> dict:
    spark = _session(cfg)
    t_ready = time.monotonic()
    runner = Runner(spark, cfg)
    tables, expected = cfg["tables"], cfg["expected"]
    warm = [runner.run_pass(tables, expected, traced=False) for _ in range(WARM_PASSES)]
    t_timed = time.monotonic()
    timed = []
    # alternate plain and traced passes in a traced run, so the rows/s
    # gap between them is the tracing overhead
    while True:
        traced = bool(cfg["trace"]) and len(timed) % 2 == 1
        timed.append(runner.run_pass(tables, expected, traced))
        measured = sum(p.get("seconds", 0.0) for p in timed)
        kinds = {p["traced"] for p in timed}
        if measured >= cfg["seconds"] and (not cfg["trace"] or len(kinds) == 2):
            break
        if time.monotonic() - t_timed > cfg["deadline_s"]:
            break
    t_end = time.monotonic()
    spark.stop()
    out = {
        "t_ready": t_ready,
        "t_timed": t_timed,
        "t_end": t_end,
        "passes": warm + timed,
        "n_warm": len(warm),
    }
    if runner.tracer is not None:
        runner.tracer.attach_events(cfg["events"])
        per_pass: dict[int, list] = {}
        for s in runner.tracer.spans:
            per_pass.setdefault(s.pass_id, []).append(s)
        out["span_metrics"] = {
            pid: span_metrics(spans) for pid, spans in per_pass.items()
        }
        out["spans"] = [
            [s.name, s.start - t_timed, s.end - t_timed, s.parent, s.pass_id]
            for s in runner.tracer.spans
        ]
    return out


def main(argv) -> int:
    with open(argv[0]) as f:
        cfg = json.load(f)
    result = _record(cfg) if cfg.get("record_sets") else _measure(cfg)
    tmp = cfg["result"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, cfg["result"])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
