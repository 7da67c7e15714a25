"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import check, inputs, run, workloads
from perfbench.trace import Span, span_metrics, self_time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generator ---------------------------------------------------------------


def _files(d):
    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            with open(os.path.join(root, n), "rb") as f:
                out[os.path.relpath(os.path.join(root, n), d)] = f.read()
    return out


@pytest.mark.parametrize("workload", ["resolve_skew", "dedup_near"])
def test_generator_deterministic_across_calls_and_parallelism(tmp_path, monkeypatch, workload):
    monkeypatch.setattr(inputs, "PAGES", 400)
    a = inputs.generate(workload, 3, str(tmp_path / "a"), workers=1)
    b = inputs.generate(workload, 3, str(tmp_path / "b"), workers=2)
    c = inputs.generate(workload, 3, str(tmp_path / "c"), workers=1)
    assert a["digest"] == b["digest"] == c["digest"]
    assert a["rows"] == b["rows"]
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert len(_files(str(tmp_path / "a"))) == inputs.N_FILES


def test_seed_shifts_ids_not_work(monkeypatch):
    monkeypatch.setattr(inputs, "PAGES", 40)
    shifts = {inputs.id_shift(s) for s in range(inputs.SEED_CLASSES)}
    assert len(shifts) == inputs.SEED_CLASSES
    assert inputs.id_shift(1) == inputs.id_shift(1 + inputs.SEED_CLASSES)
    ids = inputs._table_ids("pages")
    p0, p5 = inputs._pages_chunk(0, ids), inputs._pages_chunk(5, ids)
    assert p0["text"].tolist() == p5["text"].tolist()
    assert (p0["doc_id"] != p5["doc_id"]).all() and (p0["url"] != p5["url"]).all()
    assert p0["url"].str.len().tolist() == p5["url"].str.len().tolist()
    ids = inputs._table_ids("mentions")[:1000]
    m0, m5 = inputs._mentions_chunk(0, ids), inputs._mentions_chunk(5, ids)
    assert m0["text"].tolist() == m5["text"].tolist()
    assert (m0["url"] != m5["url"]).all()
    assert m0["url"].str.len().tolist() == m5["url"].str.len().tolist()
    assert (m0["text"] == "Acme Corporation").mean() == pytest.approx(0.3)
    assert (m0["text"] == "The Company").mean() == pytest.approx(0.1)


def test_largest_shift_keeps_seven_digit_ids():
    top = inputs.id_shift(inputs.SEED_CLASSES - 1)
    assert len(str(inputs.PAGE_ID_BASE + top + max(inputs.PAGES, inputs.SKEW_URLS))) == 7


def test_skew_variant_count():
    m = inputs._mentions_chunk(0, inputs._table_ids("mentions"))
    variants = m["text"][m["text"].str.startswith("acme corporation unit")]
    assert variants.nunique() == inputs.SKEW_VARIANTS
    # more distinct keys than the driver-path gate: resolve runs distributed
    assert inputs.SKEW_VARIANTS + 2 > workloads.rx.DRIVER_RESOLVE_MAX_KEYS


# -- metric names --------------------------------------------------------------


def test_benchmark_json_contract():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"] and len(w["why"]) <= 200
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == list(run.END_TO_END)
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in b["end_to_end"])
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == run.per_layer_spec()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"] + b["workloads"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
    assert 1 <= len(b["per_layer"]) <= 128
    assert len(json.dumps(b)) <= 64 * 1024


def test_expected_digests_cover_every_seed_class():
    with open(run.EXPECTED) as f:
        expected = json.load(f)
    assert sorted(expected) == sorted(run.WORKLOADS)
    for workload, classes in expected.items():
        assert sorted(classes, key=int) == [str(c) for c in range(inputs.SEED_CLASSES)]
        for rec in classes.values():
            assert rec["outputs"] and all(n > 0 for n, _ in rec["outputs"].values())


# -- output check ----------------------------------------------------------------


ROWS = [("Apple", "ORG", 12, ["apple", "apple inc."]), ("Paris", "LOC", 3, ["paris"])] + [
    (f"Org{i}", "ORG", i, [f"org{i}"]) for i in range(50)
]


def test_digest_order_independent():
    shuffled = ROWS[:]
    random.Random(7).shuffle(shuffled)
    assert check.table_digest(ROWS) == check.table_digest(shuffled)


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda r: r[:-1],  # row lost
        lambda r: r + r[:1],  # row duplicated
        lambda r: [("Apple", "ORG", 13, r[0][3])] + r[1:],  # count changed
        lambda r: [("Apple", "ORG", 12, ["apple inc.", "apple"])] + r[1:],  # alias order
        lambda r: [("Apple", "PER", 12, r[0][3])] + r[1:],  # type changed
    ],
)
def test_check_catches_corrupted_result(corrupt):
    expected = {"nodes": check.table_digest(ROWS)}
    assert check.compare({"nodes": check.table_digest(ROWS)}, expected) == []
    errors = check.compare({"nodes": check.table_digest(corrupt(ROWS))}, expected)
    assert len(errors) == 1 and errors[0].startswith("nodes:")


def test_check_flags_unrecorded_table():
    assert check.compare({"edges": [1, "00"]}, {}) == ["edges: no recorded digest"]


class _Frame:
    """The two calls ``check.frame_rows`` makes on a DataFrame."""

    def __init__(self, rows, cols):
        import pandas as pd

        self.pdf = pd.DataFrame(rows, columns=cols)

    def select(self, *cols):
        out = _Frame([], [])
        out.pdf = self.pdf[list(cols)]
        return out

    def toPandas(self):
        return self.pdf


def test_cluster_digest_ignores_generated_cluster_ids():
    cols = ("cluster_id", "doc_id")
    a = _Frame([(1, 1), (1, 2), (9, 9), (9, 7), (9, 8)], cols)
    b = _Frame([(7, 9), (7, 8), (5, 2), (7, 7), (5, 1)], cols)
    moved = _Frame([(1, 1), (1, 2), (1, 9), (9, 7), (9, 8)], cols)
    da = workloads.digests({"clusters": a}, everything=False)
    db = workloads.digests({"clusters": b}, everything=False)
    assert da == db and da["clusters"][0] == 2
    assert workloads.digests({"clusters": moved}, everything=False) != da


# -- span arithmetic ---------------------------------------------------------------


def _span(i, name, start, end, parent=None, **events):
    s = Span(id=i, name=name, pass_id=1, parent=parent, start=start, end=end)
    s.events = events
    return s


def test_self_time_subtracts_union_of_children():
    root = _span(0, "dedup", 0.0, 10.0)
    a = _span(1, "dedup.signatures", 1.0, 4.0, parent=0)
    b = _span(2, "dedup.cluster", 3.0, 6.0, parent=0)  # overlaps a
    c = _span(3, "x", 8.0, 12.0, parent=0)  # runs past the parent's end
    grandchild = _span(4, "y", 1.5, 2.0, parent=1)
    spans = [root, a, b, c, grandchild]
    assert self_time(root, spans) == pytest.approx(10.0 - 5.0 - 2.0)
    assert self_time(a, spans) == pytest.approx(2.5)
    assert self_time(grandchild, spans) == pytest.approx(0.5)


def test_span_metrics_sum_subtree():
    spans = [
        _span(0, "pipeline", 0.0, 10.0, jobs=1, executor_cpu_s=0.5),
        _span(1, "pipeline.extracted", 0.0, 4.0, parent=0, jobs=3, executor_cpu_s=2.0),
        _span(2, "pipeline.graph", 5.0, 9.0, parent=0, jobs=2, shuffle_read_mb=1.5),
    ]
    m = span_metrics(spans)
    assert m["pipeline"]["jobs"] == 6
    assert m["pipeline"]["executor_cpu_s"] == pytest.approx(2.5)
    assert m["pipeline"]["shuffle_read_mb"] == pytest.approx(1.5)
    assert m["pipeline"]["wall_s"] == pytest.approx(10.0)
    assert m["pipeline"]["self_s"] == pytest.approx(2.0)
    assert m["pipeline.graph"]["jobs"] == 2 and m["pipeline.graph"]["self_s"] == 4.0


# -- entry point -------------------------------------------------------------------


def test_run_fails_without_program_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_crawl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_orphaned_grandchild_is_stopped_and_reaped():
    # the shell exits at once and leaves its `sleep` an orphan, as the
    # worker process leaves the JVM
    script = (
        "import os, subprocess; from perfbench import run\n"
        "run._become_subreaper()\n"
        "subprocess.Popen(['sh', '-c', 'sleep 60 & exit 0']).wait()\n"
        "assert run.descendants(os.getpid())\n"
        "run._end_descendants(grace_s=0.2)\n"
        "print(run.descendants(os.getpid()))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, capture_output=True, text=True, timeout=30,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "[]"
