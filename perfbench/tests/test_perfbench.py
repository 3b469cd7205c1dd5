"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The first two tests need no Spark. ``test_counters_repeat`` makes two
traced runs of the ``queries`` workload (about a minute each) and
compares their deterministic counters call by call.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import run  # noqa: E402
from tracing import Tracer, check_tree, self_times  # noqa: E402
from workloads import SCALE  # noqa: E402


def _inputs(out: str, seed: int) -> None:
    datagen.write_tables(os.path.join(out, "tables"), seed, SCALE)
    fp = datagen.footprint_inputs(seed)
    for year, records in fp["payloads"].items():
        datagen.write_json(records, os.path.join(out, "raw", f"{year}.json"))
    datagen.write_json(fp["upsert_records"], os.path.join(out, "upsert.json"))
    datagen.write_json(fp["merge_records"], os.path.join(out, "merge.json"))
    datagen.write_market_csv(os.path.join(out, "market.csv"), seed, n_funds=3)


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
    )


def test_same_seed_gives_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    _inputs(a, 7)
    _inputs(b, 7)
    _inputs(c, 8)
    names = _files(a)
    assert names == _files(b) and len(names) > 30
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert "tables/lineitem.parquet" in differ and "market.csv" in differ


def test_benchmark_json_names_what_the_runner_prints():
    bench = json.load(open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")))
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for key, units in (("end_to_end", run.END_TO_END_UNITS),
                       ("per_layer", run.PER_LAYER_UNITS)):
        assert {m["name"]: m["unit"] for m in bench[key]} == units
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_span_tree_has_parents_and_nonnegative_self_time(tmp_path):
    tr = Tracer(True)
    run = tr.open("run")
    for i in range(2):
        p = tr.open("pass", index=i)
        c = tr.open("call", call="q")
        tr.close(tr.open("build"))
        tr.open("exec")  # left open, as an exception would leave it
        tr.close(c)
        tr.close(p)
    tr.close(run)
    path = str(tmp_path / "trace.json")
    tr.write(path)
    spans = json.load(open(path))
    assert check_tree(spans) == []
    assert all(t >= 0 for t in self_times(spans).values())
    assert [s["name"] for s in spans if s["parent"] is None] == ["run"]
    # a disabled tracer times spans but keeps none
    off = Tracer(False)
    assert off.close(off.open("x")) >= 0 and off.spans == []


def test_check_tree_reports_problems():
    spans = [
        {"id": 0, "name": "run", "parent": None, "start": 0.0, "end": 1.0},
        {"id": 1, "name": "pass", "parent": 0, "start": 0.1, "end": 0.5},
        {"id": 2, "name": "call", "parent": 9, "start": 0.2, "end": 0.3},
        {"id": 3, "name": "call", "parent": 1, "start": 0.1, "end": 0.45},
        {"id": 4, "name": "call", "parent": 1, "start": 0.2, "end": 0.4},
    ]
    problems = check_tree(spans)
    assert any("unknown parent" in p for p in problems)
    assert any("self time" in p for p in problems)  # children overlap


def _traced_run(seed: int) -> tuple[dict, list[dict]]:
    root = os.path.dirname(BENCH)
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "queries",
           "--seed", str(seed), "--seconds", "1", "--trace", "1"]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert line["correct"] and line["failed"] == 0
    results = os.path.join(BENCH, "results")
    stem = f"queries-seed{seed}-trace1"
    detail = json.load(open(os.path.join(results, f"{stem}.json")))
    spans = json.load(open(os.path.join(results, f"trace-queries-seed{seed}.json")))
    return detail, spans


DETERMINISTIC = ("jobs", "stages", "shuffle_read_bytes", "shuffle_write_bytes")


def _counters(detail: dict) -> dict[tuple[int, str], dict]:
    out = {}
    for p in [detail["first_pass"]] + detail["passes"]:
        if not p["traced"]:
            continue
        for c in p["calls"]:
            row = {"exchanges": c["exchanges"]}
            for k in DETERMINISTIC:
                row[k] = c.get("build", {}).get(k, 0) + c.get("exec", {}).get(k, 0)
            out[(p["index"], c["name"])] = row
    return out


def test_counters_repeat():
    """Two runs of the same code and seed: identical plan counters per
    call, and the calls whose job/stage/shuffle counters differ are
    reported (printed), not hidden."""
    a, spans = _traced_run(11)
    b, _ = _traced_run(11)
    assert check_tree(spans) == []
    ca, cb = _counters(a), _counters(b)
    assert ca.keys() == cb.keys() and ca
    differ = {
        k: (ca[k], cb[k]) for k in ca if ca[k] != cb[k]
    }
    for k, (x, y) in sorted(differ.items()):
        print(f"counters differ for pass {k[0]} {k[1]}: {x} vs {y}")
    assert all(ca[k]["exchanges"] == cb[k]["exchanges"] for k in ca)
    assert len(differ) <= len(ca) // 4, differ
