"""The benchmark's own tests (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (HERE, os.path.join(ROOT, "tools"), ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import inputs  # noqa: E402
import layers  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _span(name, start, end, parent=None, layer="l", run="pass1"):
    return {"name": name, "layer": layer, "start": start, "end": end, "parent": parent, "run": run}


def test_metric_names_are_valid_unique_and_carry_units():
    spec = _spec()
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("higher", "lower")
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= spec["end_to_end"][0].items()


def test_per_layer_metrics_match_what_a_traced_run_computes():
    spans = [_span("pass", 0.0, 1.0, layer="bench")]
    got = layers.per_layer(spans, {}, {}, {"start_s": 1.0, "warmup_s": 2.0}, [], ["pass1"], 4)
    assert {m["name"] for m in _spec()["per_layer"]} <= set(got)


def test_self_time_of_nested_spans():
    spans = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 4.0, parent=0),
        _span("a.child", 2.0, 3.0, parent=1),
        _span("b", 5.0, 9.0, parent=0),
        # two children of b on different threads overlap; their union counts once
        _span("b.x", 5.5, 7.0, parent=3),
        _span("b.y", 6.0, 8.0, parent=3),
        # a child reaching past its parent's end is clipped to the parent
        _span("b.z", 8.5, 9.5, parent=3),
    ]
    st = tracing.self_times(spans)
    assert st == pytest.approx([10 - 3 - 4, 3 - 1, 1, 4 - 2.5 - 0.5, 1.5, 2, 1])


def test_outermost_and_under():
    spans = [
        _span("root", 0, 10, layer="bench"),
        _span("merge_table", 1, 5, parent=0, layer="sources.txlog"),
        _span("read_table", 1.5, 2, parent=1, layer="sources.txlog"),
        _span("stream", 6, 9, parent=0, layer="streaming"),
        _span("append_batch", 6.5, 7, parent=3, layer="sources.txlog"),
    ]
    assert tracing.outermost(spans, [1, 2, 4]) == [1, 4]
    assert tracing.under(spans, 4, "streaming")
    assert not tracing.under(spans, 2, "streaming")


def test_tracer_records_parent_and_run():
    t = tracing.Tracer()
    t.run = "pass1"
    with t.span("bench", "pass"):
        with t.span("queries", "build", query="q"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    assert t.spans[1]["attrs"] == {"query": "q"}
    assert all(s["run"] == "pass1" and s["end"] >= s["start"] for s in t.spans)


def test_event_log_parser_on_recorded_log():
    with open(os.path.join(HERE, "testdata", "eventlog_tiny.jsonl")) as fh:
        got = tracing.parse_event_log(fh)
    # recorded on local[2]: one count() tagged build; a 3-partition
    # groupBy (3 map tasks, 2 reduce tasks) and a 1-task collect tagged exec
    build, run = got["pass1|q|build"], got["pass1|q|exec"]
    assert (build["jobs"], build["stages"], build["tasks"]) == (1, 1, 1)
    assert (run["jobs"], run["stages"], run["tasks"]) == (2, 3, 6)
    assert run["shuffle_write_b"] == run["shuffle_read_b"] == 536
    assert (run["run_ms"], run["cpu_ns"], run["gc_ms"], run["spill_b"]) == (701, 348660305, 74, 0)
    assert run["job_spans"] == [(1792208350854, 1792208351394), (1792208351541, 1792208351600)]
    assert set(got) == {"pass1|q|build", "pass1|q|exec"}


def test_wrong_result_and_raising_op_are_counted_not_fatal():
    tally = inputs.Tally()
    wl = workloads.Queries("analytics", ["q_ok", "q_wrong", "q_raises"])
    rows = [(1, "a"), (2, "b")]
    wl.expected = {
        "q_ok": inputs.fingerprint(["k", "v"], rows),
        "q_wrong": inputs.fingerprint(["k", "v"], rows),
    }
    ctx = workloads.Ctx(None, None, "", "", "", 0)
    ops: list = []

    def boom():
        raise RuntimeError("planted failure")

    assert ctx.timed(ops, "query", "q_raises", boom) is None
    outputs = [
        (workloads.Op("query", "q_ok", 0.1), ["k", "v"], list(reversed(rows))),
        (workloads.Op("query", "q_wrong", 0.1), ["k", "v"], [(1, "a"), (2, "WRONG")]),
        (ops[0], None, None),
    ]
    wl.check(ctx, outputs, tally)
    assert (tally.attempted, tally.failed) == (3, 2)
    assert tally.failed_frac == pytest.approx(2 / 3)
    assert tally.problems[0].startswith("q_wrong: hash")
    assert "planted failure" in tally.problems[1]


def test_written_bytes_survive_vacuum_but_disk_bytes_do_not(tmp_path):
    from hi_csa_db_spark.sources import txlog

    tbl = str(tmp_path / "t")
    written = workloads.Written(tbl)
    for v, (name, size) in enumerate([("a", 100), ("b", 300)]):
        rel = os.path.join("data", name, "part-0.parquet")
        os.makedirs(os.path.join(tbl, "data", name))
        with open(os.path.join(tbl, rel), "wb") as fh:
            fh.write(b"x" * size)
        txlog._commit(tbl, v, [rel], "overwrite")
        written.update()
    logs = sum(os.path.getsize(os.path.join(tbl, "_log", f"v{v}.json")) for v in (0, 1))
    assert (len(written.known), written.bytes) == (2, 400 + logs)

    assert txlog.vacuum(tbl, keep_last=1) == 1
    written.update()
    stats = workloads.table_stats(tbl, written)
    assert (stats["commits"], stats["files_written"], stats["bytes_written"]) == (2, 2, 400 + logs)
    assert stats["bytes_on_disk"] < stats["bytes_written"]
    assert (stats["live_files"], stats["live_bytes"]) == (1, 300)


def test_exits_nonzero_without_result_when_engine_is_absent(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
