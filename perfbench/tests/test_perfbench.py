"""The benchmark's own checks: determinism of its inputs, the shape of
its metric lists, its statistics, and a minimal run of each workload."""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys

import pytest

import harness
import run
import tracing
import tsdb

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _drive(model: tsdb.Model, cycles: int):
    out = []
    for c in range(cycles):
        out.append([model.batch(c, b) for b in range(tsdb.APPENDS_PER_CYCLE)])
        model.until = model.clock
        out.append(model.reads(c))
        out.append([(r, model.expected_raw(r), model.expected_agg(r))
                    for r in model.reads(c)])
        out.append(model.find_node(c))
    return out


def test_same_seed_same_ops_and_expected_values():
    a, b, c = tsdb.Model(7), tsdb.Model(7), tsdb.Model(8)
    assert _drive(a, 3) == _drive(b, 3)
    assert a.points == b.points
    assert _drive(c, 3) != _drive(tsdb.Model(7), 3)


def test_same_seed_same_tables(tmp_path):
    import datagen
    import pyarrow.parquet as pq

    datagen.generate(str(tmp_path / "a"), 3, 0.001)
    datagen.generate(str(tmp_path / "b"), 3, 0.001)
    datagen.generate(str(tmp_path / "c"), 4, 0.001)
    for t in datagen.TABLES:
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
    assert not pq.read_table(tmp_path / "a" / "lineitem.parquet").equals(
        pq.read_table(tmp_path / "c" / "lineitem.parquet"))


def test_expected_buckets_count_sum_min_max():
    m = tsdb.Model(1)
    for b in range(tsdb.APPENDS_PER_CYCLE):
        m.batch(0, b)
    m.until = m.clock
    cpu = m.points[0]
    hour = m.buckets(0, "hours")[0]
    assert [t for t, _ in hour] == sorted(t for t in cpu if t < 3600)
    assert tsdb.check_bucket("numeric", hour, {
        "count": len(hour), "sum": sum(v for _, v in hour),
        "min": min(v for _, v in hour), "max": max(v for _, v in hour),
    }, None, None) is None
    assert tsdb.check_bucket("numeric", hour, {"count": len(hour) + 1}, None, ("count",))
    # derived streams follow their sources
    total = m.points[4]
    assert all(total[t] == pytest.approx(m.points[0][t] + m.points[1][t]) for t in total)


def test_metric_names_and_counts():
    bj = _bench_json()
    e2e, layer = bj["end_to_end"], bj["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    names = [m["name"] for m in e2e + layer]
    assert len(names) == len(set(names))
    for m in e2e + layer:
        assert NAME.fullmatch(m["name"]), m["name"]
        assert UNIT.fullmatch(m["unit"]), m["unit"]
    assert [(m["name"], m["unit"]) for m in e2e] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in layer] == list(run.PER_LAYER)
    setup = [m for m in e2e if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in e2e) <= 0.25
    assert {w["name"] for w in bj["workloads"]} <= set(run.WORKLOADS)


@pytest.mark.parametrize("n", [1, 5, 20, 21, 30, 57, 100, 1000])
def test_tail_keeps_ten_samples_beyond(n):
    xs = [float(i) for i in range(n)]
    value, pct, count = harness.tail(xs)
    assert count == n
    assert value >= statistics.median(xs)
    if n > 2 * harness.TAIL_BEYOND:
        assert sum(x > value for x in xs) >= harness.TAIL_BEYOND
        # the next whole percentile would leave fewer than ten beyond
        nxt = xs[min(n, -(-(pct + 1) * n // 100)) - 1]
        assert sum(x > nxt for x in xs) < harness.TAIL_BEYOND or pct == 99
    else:
        assert pct == 50


def test_reads_cover_every_shape_and_raw_reads_span_pages():
    m = tsdb.Model(5)
    for c in range(3):
        for b in range(tsdb.APPENDS_PER_CYCLE):
            m.batch(c, b)
        m.until = m.clock
        reads = m.reads(c)
        assert [(r.granularity, r.reverse, r.v_proj is not None) for r in reads] \
            == list(tsdb.READ_SHAPES)
        for r in reads:
            assert m.clock - tsdb.CYCLE_SPAN_S <= r.start_s < r.end_s == m.clock
            if r.granularity == tsdb.HIGHEST:
                # more than one page, so the keyset cursor is followed
                assert len(m.expected_raw(r)) > tsdb.PAGE
            else:
                assert m.expected_agg(r)


def test_span_self_time_arithmetic():
    clock = iter([0.0, 1.0, 3.0, 4.0, 6.0, 10.0]).__next__
    tr = tracing.Tracer(clock=clock)
    with tr.span("api.a"):          # 0 .. 10
        with tr.span("storage.b"):  # 1 .. 3
            pass
        with tr.span("txnlog.c"):   # 4 .. 6
            pass
    assert [s.parent for s in tr.spans] == [None, 0, 0]
    assert tracing.self_times(tr.spans) == [6.0, 2.0, 2.0]
    assert tracing.layer_self_seconds(tr.spans) == {"api": 6.0, "storage": 2.0, "txnlog": 2.0}
    # overlapping children are counted once
    spans = [tracing.Span("op.x", 0, 10, None, 1, "g"),
             tracing.Span("api.y", 1, 5, 0, 1, "g"),
             tracing.Span("api.z", 3, 7, 0, 1, "g")]
    assert tracing.self_times(spans)[0] == 4.0


def test_wrappers_record_and_restore():
    import types

    mod = types.SimpleNamespace()
    mod.__dict__["f"] = lambda x: x + 1

    def gen(n):
        yield from range(n)

    mod.__dict__["g"] = gen
    tr = tracing.Tracer()
    tr.wrap(mod, "f", "api.f")
    tr.wrap(mod, "g", "api.g")
    assert mod.f(1) == 2 and list(mod.g(3)) == [0, 1, 2]
    # a generator records one span per resume, the last one ending it
    assert [s.name for s in tr.spans] == ["api.f"] + ["api.g"] * 4
    tr.uninstall()
    assert mod.f(1) == 2 and len(tr.spans) == 5


def test_generator_span_excludes_the_callers_work():
    """A traced generator's spans cover only its own resumes: the work
    its consumer does between items is the consumer's self time."""
    import types

    now = [0.0]
    mod = types.SimpleNamespace()

    def gen():
        for i in range(2):
            now[0] += 1.0  # one second inside the generator per item
            yield i
        now[0] += 0.5

    def page():
        out = []
        for x in mod.g():
            now[0] += 10.0  # the consumer's per-item work
            out.append(x)
        return out

    mod.__dict__["g"] = gen
    mod.__dict__["page"] = page
    tr = tracing.Tracer(clock=lambda: now[0])
    tr.wrap(mod, "g", "api.g")
    tr.wrap(mod, "page", "http_api.page")
    assert mod.page() == [0, 1]
    by_name = tracing.calls_and_seconds(tr.spans)
    assert by_name["api.g"] == (3, 2.5)
    selfs = tracing.layer_self_seconds(tr.spans)
    assert selfs == {"api": 2.5, "http_api": 20.0}


def test_bare_runs_the_originals_and_wraps_again():
    import types

    import tracing as tmod

    mod = types.ModuleType("perfbench_fake_mod")
    mod.f = lambda: 1
    sys.modules[mod.__name__] = mod
    try:
        tr = tmod.Tracer()
        tr.install(((mod.__name__, "f", "api.f"),))
        with tr.bare():
            assert mod.f() == 1 and tr.spans == []
        assert mod.f() == 1 and [s.name for s in tr.spans] == ["api.f"]
        tr.uninstall()
    finally:
        del sys.modules[mod.__name__]


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_smoke_run(workload, tmp_path):
    """One minimal run: a single cycle or pass, outputs checked."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert [k for k in result["metrics"]] == [n for n, _u in run.END_TO_END]
    for name, m in result["metrics"].items():
        # the analytics queries write no tables: their store is empty
        if workload == "analytics" and name == "store_bytes_per_point":
            assert m["value"] == 0
        else:
            assert m["value"] > 0, name
    report = json.loads(proc.stdout.splitlines()[-2])["report"]
    if workload == "tsdb_engine":
        # raw reads page through their range with the keyset cursor
        assert report["metrics"]["read_cursor_pages"]["value"] > 0
