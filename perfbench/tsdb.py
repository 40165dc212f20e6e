"""The ``tsdb_engine`` workload: the reference's own traffic, writes
beside reads, on the engine's transactional layer.

One client, closed loop.  Each cycle runs ``APPENDS_PER_CYCLE``
``append_multiple`` batches that advance time, one
``downsample_streams(until=latest)``, one read of each shape in
``READ_SHAPES`` through ``http_api.stream_datapoints`` (raw reads follow
keyset cursor pages to the end of their range), and one
``http_api.list_streams`` by tag.  Every ``COMPACT_EVERY``-th cycle also
runs ``compact_points_raw``.

``Model`` is the generator: from the seed alone it yields every batch,
every read and the expected answer to each, so the program receives only
generated inputs and every answer is checked against the model.

The traffic mix is an assumption.  Nothing records the reference's real
read/write mix; the only measured point is a probe of 16 streams with
600 s append batches (append about 1.6 s, downsample 18-27 s, a read
0.45-0.85 s on a 4-core box).  The number of streams, the stream kinds,
the batch span, the reads per cycle and the range rule are choices,
marked as such below.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import os
import random
import statistics
import time
from dataclasses import dataclass

import harness as H

UTC = _dt.timezone.utc
T0 = _dt.datetime(2024, 3, 1, tzinfo=UTC)
# Assumption: three batches of 20 min per cycle, so a cycle completes one
# hour bucket.  The probe's 10 min batches would double the appends, and
# a run would no longer fit its time budget on a 4-core box.
BATCH_SPAN_S = 1200
APPENDS_PER_CYCLE = 3
CYCLE_SPAN_S = BATCH_SPAN_S * APPENDS_PER_CYCLE
COMPACT_EVERY = 3  # assumption
# Page size of every read.  Small enough that a raw read of the newest
# hour spans several pages, so the keyset cursor is always followed.
PAGE = 20
# Streams store minute-level points.  Seconds-level streams make every
# downsample run the full six-level cascade, which on a 4-core box takes
# 15-35 s per call and does not fit a run; minute-level streams keep four
# levels.  Raw reads are at "minutes", aggregated reads at "minutes10"
# and "hours".
HIGHEST = "minutes"
GRAN_S = {"minutes": 60, "minutes10": 600, "hours": 3600}
STATES = ("ok", "warn", "fail")
# One read of each shape per cycle (assumption: every shape once, no
# weights): (granularity, reverse, project value downsamplers).
READ_SHAPES: tuple[tuple[str, bool, bool], ...] = (
    *((HIGHEST, rev, False) for rev in (False, True)),
    *((g, rev, proj) for g in ("minutes10", "hours")
      for rev in (False, True) for proj in (False, True)),
)


@dataclass(frozen=True)
class StreamSpec:
    node: str
    metric: str
    kind: str  # gauge | counter | state | sum | rate
    step: int = 0  # seconds between points of a stored stream
    sources: tuple[int, ...] = ()

    @property
    def tags(self) -> dict:
        return {"node": self.node, "metric": self.metric}

    @property
    def value_type(self) -> str:
        return "nominal" if self.kind == "state" else "numeric"

    @property
    def derived(self) -> bool:
        return self.kind in ("sum", "rate")


# Assumption: four stored streams (one nominal) and two derived ones.
STREAMS: tuple[StreamSpec, ...] = (
    StreamSpec("n0", "cpu", "gauge", 60),
    StreamSpec("n1", "cpu", "gauge", 60),
    StreamSpec("n0", "bytes", "counter", 60),
    StreamSpec("n0", "state", "state", 120),
    StreamSpec("all", "cpu_sum", "sum", sources=(0, 1)),
    StreamSpec("n0", "bytes_rate", "rate", sources=(2,)),
)


@dataclass(frozen=True)
class Read:
    stream: int
    granularity: str
    start_s: int  # seconds since T0, inclusive
    end_s: int  # inclusive
    reverse: bool
    v_proj: tuple[str, ...] | None


def ts_of(sec: int) -> _dt.datetime:
    return T0 + _dt.timedelta(seconds=sec)


def iso(sec: int) -> str:
    return ts_of(sec).strftime("%Y-%m-%dT%H:%M:%SZ")


class Model:
    """Seeded generator of batches and reads, and the expected points of
    every stream (seconds since ``T0`` -> value)."""

    def __init__(self, seed: int):
        self.seed = seed
        self.clock = 0  # seconds since T0 covered by appended batches
        self.until: int | None = None  # last downsample's until
        self.points: list[dict[int, object]] = [{} for _ in STREAMS]
        self._counter = [0] * len(STREAMS)

    def _rng(self, *key) -> random.Random:
        return random.Random(":".join(map(str, (self.seed,) + key)))

    def batch(self, cycle: int, b: int) -> list[tuple[int, int, object]]:
        """Next append batch as ``(stream, sec, value)``; advances the
        clock and the expected points of derived streams."""
        rng = self._rng("batch", cycle, b)
        lo, hi = self.clock, self.clock + BATCH_SPAN_S
        rows = []
        for i, sp in enumerate(STREAMS):
            if sp.derived:
                continue
            for sec in range(lo, hi, sp.step):
                if sp.kind == "gauge":
                    v: object = round(rng.uniform(0.0, 100.0), 3)
                elif sp.kind == "counter":
                    self._counter[i] += rng.randint(1, 5000)
                    v = float(self._counter[i])
                else:
                    v = rng.choice(STATES)
                rows.append((i, sec, v))
                self.points[i][sec] = v
        self.clock = hi
        for i, sp in enumerate(STREAMS):
            if sp.kind == "sum":
                acc: dict[int, float] = {}
                for s in sp.sources:
                    for sec, v in self.points[s].items():
                        acc[sec] = acc.get(sec, 0.0) + v
                self.points[i] = acc
            elif sp.kind == "rate":
                src = sorted(self.points[sp.sources[0]].items())
                self.points[i] = {
                    t: (v - pv) / (t - pt)
                    for (pt, pv), (t, v) in zip(src, src[1:])
                    if v >= pv
                }
        return rows

    def reads(self, cycle: int) -> list[Read]:
        """One read per shape.  The streams take the shapes in turn, the
        same way for every seed, so the mix of read costs does not vary
        with the seed.  Every read ends at the newest data and starts at
        a point drawn inside the newest cycle (assumption: reads look at
        recent data only).  A raw read starts early enough to cover more
        than one page."""
        rng = self._rng("reads", cycle)
        lo = self.clock - CYCLE_SPAN_S
        out = []
        for i, (gran, reverse, project) in enumerate(READ_SHAPES):
            stream = (i + cycle) % len(STREAMS)
            sp = STREAMS[stream]
            if gran == HIGHEST:
                step = sp.step or STREAMS[sp.sources[0]].step
                start = rng.randrange(lo, self.clock - (PAGE + 1) * step, step)
            else:
                start = rng.randrange(lo, self.clock, GRAN_S[gran])
            proj = None
            if project:
                proj = ("count",) if sp.value_type == "nominal" else ("count", "sum", "min", "max")
            out.append(Read(stream, gran, start, self.clock, reverse, proj))
        return out

    def find_node(self, cycle: int) -> str:
        return self._rng("find", cycle).choice(sorted({s.node for s in STREAMS}))

    # -- expected answers ---------------------------------------------
    def expected_raw(self, r: Read) -> list[tuple[int, object]]:
        pts = sorted(
            (t, v) for t, v in self.points[r.stream].items()
            if r.start_s <= t <= r.end_s
        )
        return pts[::-1] if r.reverse else pts

    def buckets(self, stream: int, gran: str) -> dict[int, list[tuple[int, object]]]:
        """Completed buckets (end <= last until) -> sorted points."""
        if self.until is None:
            return {}
        d = GRAN_S[gran]
        out: dict[int, list] = {}
        for t, v in sorted(self.points[stream].items()):
            b = t // d * d
            if b + d <= self.until:
                out.setdefault(b, []).append((t, v))
        return out

    def expected_agg(self, r: Read) -> list[tuple[int, list]]:
        bs = sorted(
            (b, pts) for b, pts in self.buckets(r.stream, r.granularity).items()
            if r.start_s <= b <= r.end_s
        )
        return bs[::-1] if r.reverse else bs


def _close(a, b) -> bool:
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    if a is None or b is None:
        return a is b
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)


def check_bucket(value_type: str, pts: list, v: dict, t: dict | None,
                 proj: tuple[str, ...] | None) -> str | None:
    """Mismatch description for one aggregated bucket, or None."""
    vals = [x for _, x in pts]
    keys = proj or (("count", "frequencies") if value_type == "nominal"
                    else ("count", "sum", "min", "max"))
    want: dict[str, object] = {"count": len(vals)}
    if value_type == "nominal":
        freq: dict[str, int] = {}
        for x in vals:
            freq[x] = freq.get(x, 0) + 1
        want["frequencies"] = freq
    else:
        want.update(sum=sum(vals), min=min(vals), max=max(vals))
    for k in keys:
        got = v.get(k)
        if k == "frequencies":
            # nominal values are stored JSON-encoded, and so are the keys
            # of the frequencies map
            got = {json.loads(x): n for x, n in (got or {}).items()}
            if got != want[k]:
                return f"{k} {got} != {want[k]}"
        elif not _close(got, want[k]):
            return f"{k} {got} != {want[k]}"
    if t is not None:
        if t.get("first") not in (None, iso(pts[0][0])):
            return f"first {t.get('first')} != {iso(pts[0][0])}"
        if t.get("last") not in (None, iso(pts[-1][0])):
            return f"last {t.get('last')} != {iso(pts[-1][0])}"
    return None


def check_page(model: Model, r: Read, page_no: int, resp: dict) -> str | None:
    """Mismatch description for one ``stream_datapoints`` page."""
    dps = resp["datapoints"]
    lo, hi = page_no * PAGE, (page_no + 1) * PAGE
    if r.granularity == HIGHEST:
        want = model.expected_raw(r)[lo:hi]
        if len(dps) != len(want):
            return f"page {page_no}: {len(dps)} points, want {len(want)}"
        for dp, (t, v) in zip(dps, want):
            if dp["t"] != iso(t) or not _close(dp["v"], v):
                return f"point {dp} != {(iso(t), v)}"
        return None
    want_b = model.expected_agg(r)[lo:hi]
    if len(dps) != len(want_b):
        return f"page {page_no}: {len(dps)} buckets, want {len(want_b)}"
    vt = STREAMS[r.stream].value_type
    for dp, (_b, pts) in zip(dps, want_b):
        bad = check_bucket(vt, pts, dp["v"], dp["t"], r.v_proj)
        if bad:
            return bad
    return None


def read_params(r: Read, cursor: str | None) -> dict[str, str]:
    """Query parameters of one page.  A client following a keyset cursor
    drops the bound on the cursor's side (``start`` forward, ``end`` in
    reverse): the cursor replaces it, and the engine rejects an inclusive
    and an exclusive bound on the same side."""
    p = {"granularity": r.granularity}
    if not (cursor and not r.reverse):
        p["start"] = iso(r.start_s)
    if not (cursor and r.reverse):
        p["end"] = iso(r.end_s)
    if r.reverse:
        p["reverse"] = "true"
    if r.v_proj:
        p["value_downsamplers"] = ",".join(r.v_proj)
    if cursor:
        p["cursor"] = cursor
    return p


def create_streams(engine) -> list[str]:
    """Register every stream through ``ensure_stream``; return ids."""
    ids: list[str] = []
    for sp in STREAMS:
        if sp.kind == "sum":
            sid = engine.ensure_stream(
                sp.tags, derive_from=[ids[s] for s in sp.sources], derive_op="sum",
                highest_granularity=HIGHEST,
            )
        elif sp.kind == "rate":
            sid = engine.ensure_stream(
                sp.tags, derive_from=[ids[s] for s in sp.sources],
                derive_op="counter_derivative", highest_granularity=HIGHEST,
            )
        else:
            sid = engine.ensure_stream(
                sp.tags, value_type=sp.value_type, highest_granularity=HIGHEST
            )
        ids.append(sid)
    return ids


def sweep(model: Model, engine, ids: list[str]) -> list[str]:
    """Untimed final check of every stored point and every completed
    bucket against the model; returns mismatch descriptions."""
    from pyspark.sql import functions as F

    errors: list[str] = []
    by_id = {sid: i for i, sid in enumerate(ids)}
    got_raw: dict[int, dict[int, object]] = {i: {} for i in range(len(STREAMS))}
    for row in engine.tables.read_points_raw().select(
        "stream_id", "ts", "value", "value_nominal"
    ).collect():
        i = by_id[row["stream_id"]]
        v = row["value_nominal"] if STREAMS[i].value_type == "nominal" else row["value"]
        got_raw[i][int((row["ts"].replace(tzinfo=UTC) - T0).total_seconds())] = v
    for i, sp in enumerate(STREAMS):
        if sp.derived:
            got_raw[i] = {
                int((dp["t"].replace(tzinfo=UTC) - T0).total_seconds()): dp["v"]
                for dp in engine.get_data(ids[i], HIGHEST)
            }
        want = model.points[i]
        if set(got_raw[i]) != set(want):
            errors.append(f"{sp.metric}@{sp.node}: {len(got_raw[i])} points, want {len(want)}")
            continue
        for t, v in want.items():
            g = got_raw[i][t]
            if sp.value_type == "nominal":
                g = json.loads(g)
            if not _close(g, v):
                errors.append(f"{sp.metric}@{sp.node} t={t}: {g} != {v}")
                break
    agg = engine.tables.read_points_agg().filter(
        F.col("granularity").isin(*[g for g in GRAN_S if g != HIGHEST])
    )
    got_agg: dict[tuple[int, str], dict[int, object]] = {}
    for row in agg.select("stream_id", "granularity", "bucket_ts", "v", "t").collect():
        i = by_id[row["stream_id"]]
        b = int((row["bucket_ts"].replace(tzinfo=UTC) - T0).total_seconds())
        got_agg.setdefault((i, row["granularity"]), {})[b] = row
    for i, sp in enumerate(STREAMS):
        for gran in (g for g in GRAN_S if g != HIGHEST):
            want_b = model.buckets(i, gran)
            got = got_agg.get((i, gran), {})
            # buckets at/after the watermark may be stored provisionally;
            # every completed bucket must be present and exact
            missing = set(want_b) - set(got)
            if missing:
                errors.append(f"{sp.metric}@{sp.node} {gran}: {len(missing)} buckets missing")
                continue
            for b, pts in want_b.items():
                row = got[b]
                v = row["v"].asDict(recursive=True)
                bad = check_bucket(sp.value_type, pts, v, None, None)
                if bad:
                    errors.append(f"{sp.metric}@{sp.node} {gran} b={b}: {bad}")
                    break
    return errors


class Workload:
    """Set-up, timed loop and final sweep of ``tsdb_engine``."""

    name = "tsdb_engine"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark, self.seed, self.workdir = spark, seed, workdir
        self.model = Model(seed)
        self.engine = None
        self.ids: list[str] = []
        self.cycle_s: list[float] = []
        self.points_appended = 0
        self.cursor_pages = 0  # pages fetched with a keyset cursor
        self.read_pairs: list[float] = []  # traced - untraced seconds per page

    def setup(self, rep: int) -> None:
        """One set-up: an empty engine store on the txn layer with every
        stream registered.  The first one is the store the loop uses."""
        from django_datastream_spark.api import Datastream

        engine = Datastream(self.spark, os.path.join(self.workdir, f"store{rep}"))
        engine.tables.TXN_POINTS = engine.tables.TXN_AGG = True
        ids = create_streams(engine)
        if self.engine is None:
            self.engine, self.ids = engine, ids

    def warmup(self, ops) -> None:
        """No warm-up: every read is checked as it runs, and a warm-up
        cycle would cost as much as the measured one."""

    def _append(self, rows):
        pts = [
            {"stream_id": self.ids[i], "timestamp": ts_of(sec), "value": v}
            for i, sec, v in rows
        ]
        self.engine.append_multiple(pts)
        return len(pts)

    def _page(self, ops, r: Read, page_no: int, params: dict, traced: bool):
        """One checked page: ``(response, seconds)``, or None if it failed."""
        from django_datastream_spark import http_api

        resp, dt = ops.run(
            "read",
            lambda: http_api.stream_datapoints(
                self.engine, self.ids[r.stream], params, limit=PAGE),
            traced=traced,
        )
        if resp is None:
            return None
        bad = check_page(self.model, r, page_no, resp)
        if bad:
            ops.fail(f"read {r}: {bad}")
            return None
        return resp, dt

    def _read(self, ops, r: Read, paired: bool) -> None:
        """Page through one read, following the keyset cursor to the end
        of its range.  ``paired`` (a traced run) issues every page twice,
        traced and untraced in alternating order, and keeps the
        difference: the tracing overhead of that page."""
        total = len(self.model.expected_raw(r) if r.granularity == HIGHEST
                    else self.model.expected_agg(r))
        cursor, page_no = None, 0
        while True:
            params = read_params(r, cursor)
            if paired:
                first = len(self.read_pairs) % 2 == 0
                got = {t: self._page(ops, r, page_no, params, t) for t in (first, not first)}
                if None in got.values():
                    return
                self.read_pairs.append(got[True][1] - got[False][1])
                resp = got[True][0]
            else:
                got = self._page(ops, r, page_no, params, True)
                if got is None:
                    return
                resp = got[0]
            if page_no:
                self.cursor_pages += 1
            cursor = resp["meta"].get("next_cursor")
            page_no += 1
            if cursor is None:
                if page_no * PAGE < total:
                    ops.fail(f"read {r}: no cursor after {page_no * PAGE} of {total}")
                return

    def _find(self, ops, node: str) -> None:
        from django_datastream_spark import http_api

        resp, _ = ops.run(
            "find_streams", lambda: http_api.list_streams(self.engine, {"node": node})
        )
        if resp is None:
            return
        got = sorted((o["tags"]["node"], o["tags"]["metric"]) for o in resp["objects"])
        want = sorted((s.node, s.metric) for s in STREAMS if s.node == node)
        if got != want:
            ops.fail(f"list_streams node={node}: {got} != {want}")

    def cycle(self, ops, c: int, traced: bool) -> None:
        t0 = time.perf_counter()
        for b in range(APPENDS_PER_CYCLE):
            n, _ = ops.run("append", lambda: self._append(self.model.batch(c, b)))
            self.points_appended += n or 0
        until = self.model.clock
        _, dt = ops.run(
            "downsample", lambda: self.engine.downsample_streams(until=ts_of(until))
        )
        if dt is not None:
            self.model.until = until
        if c % COMPACT_EVERY == 0:
            ops.run("compact", lambda: self.engine.tables.compact_points_raw())
        for r in self.model.reads(c):
            self._read(ops, r, paired=traced)
        self._find(ops, self.model.find_node(c))
        self.cycle_s.append(time.perf_counter() - t0)

    def run(self, ops, seconds: float, traced: bool) -> None:
        """Closed loop: whole cycles until ``seconds`` have passed."""
        t0 = time.perf_counter()
        c = 0
        while c == 0 or time.perf_counter() - t0 < seconds:
            self.cycle(ops, c, traced)
            ops.collect_counters()
            c += 1

    def trace_overhead_ms(self, ops) -> float:
        """Median over read pages of traced minus untraced seconds, in ms."""
        return 1e3 * statistics.median(self.read_pairs) if self.read_pairs else 0.0

    def final_check(self, ops) -> None:
        ops.attempted += 1
        for e in sweep(self.model, self.engine, self.ids):
            ops.fail("sweep: " + e)

    def metrics(self, ops) -> dict[str, tuple[float, str]]:
        """The workload's own numbers, by name, with units."""
        out: dict[str, tuple[float, str]] = {}
        reads = [x * 1e3 for x in ops.samples.get("read", [])]
        appends = [x * 1e3 for x in ops.samples.get("append", [])]
        if reads:
            out["read_p50_ms"] = (statistics.median(reads), "ms")
            v, pct, n = H.tail(reads)
            out["read_tail_ms"] = (v, "ms")
            out["read_tail_pct"] = (pct, "pct")
            out["read_samples"] = (n, "count")
        if appends:
            out["append_p50_ms"] = (statistics.median(appends), "ms")
            out["write_p50_ms"] = out["append_p50_ms"]
            v, pct, n = H.tail(appends)
            out["append_tail_ms"] = (v, "ms")
            out["append_tail_pct"] = (pct, "pct")
            out["append_samples"] = (n, "count")
            out["ingest_points_per_s"] = (
                self.points_appended / sum(ops.samples["append"]), "1/s")
        if ops.samples.get("downsample"):
            out["downsample_p50_s"] = (statistics.median(ops.samples["downsample"]), "s")
        if ops.samples.get("find_streams"):
            out["find_streams_p50_ms"] = (
                statistics.median(ops.samples["find_streams"]) * 1e3, "ms")
        files, size = H.dir_files_bytes(self.engine.tables.root)
        out["store.files"] = (files, "count")
        out["store.bytes"] = (size, "bytes")
        if self.points_appended:
            out["store_bytes_per_point"] = (size / self.points_appended, "bytes")
        log_entries = 0
        for dirpath, _dirs, names in os.walk(self.engine.tables.root):
            if os.path.basename(dirpath) == "_txn_log":
                log_entries += sum(n.endswith(".json") for n in names)
        out["txnlog.log_entries"] = (log_entries, "count")
        out["read_cursor_pages"] = (self.cursor_pages, "count")
        out["pass_s"] = (statistics.median(self.cycle_s), "s")
        if reads:
            out["op_p50_ms"] = out["read_p50_ms"]
        return out
