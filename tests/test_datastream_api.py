"""Datastream facade behavior tests — the reference's test strategy
(SURVEY §5: append → downsample → get_data golden assertions, derive
operators, timestamp edge cases, nominal/graph types) ported as behaviors,
with expectations computed independently in Python/pandas.

Fixtures follow FIXTURES.md B2 (smaller sizes for suite speed).
"""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from django_datastream_spark import exceptions as exc
from django_datastream_spark.api import Datastream
from django_datastream_spark.granularity import BY_NAME

UTC = dt.timezone.utc
T0 = dt.datetime(2024, 3, 1, tzinfo=UTC)


def ts(i: int) -> dt.datetime:
    return T0 + dt.timedelta(seconds=i)


def nts(i: int) -> dt.datetime:
    """Spark collects timestamps as naive datetimes in session-UTC."""
    return ts(i).replace(tzinfo=None)


@pytest.fixture()
def engine(spark, tmp_path) -> Datastream:
    return Datastream(spark, str(tmp_path / "store"))


def dense_values(n: int) -> list[float]:
    # fx_numeric_dense: sin(i/10)*100 + i%7
    return [math.sin(i / 10) * 100 + i % 7 for i in range(n)]


def test_ensure_stream_idempotent_and_find(engine):
    sid = engine.ensure_stream({"title": "t1", "node": {"name": "n1"}})
    sid2 = engine.ensure_stream({"title": "t1", "node": {"name": "n1"}})
    assert sid == sid2
    engine.ensure_stream({"title": "t2"}, tags={"unit": "C"})
    found = engine.find_streams({"node": {"name": "n1"}})
    assert [s["stream_id"] for s in found] == [sid]
    assert len(engine.find_streams()) == 2
    by_extra = engine.find_streams({"unit": "C"})
    assert len(by_extra) == 1 and by_extra[0]["tags"]["title"] == "t2"


def test_ensure_stream_idempotent_for_typed_tags(engine):
    # list-valued query tags: repeat ensure_stream must return the SAME
    # stream (reference: ensure_stream is idempotent for arbitrary JSON
    # tag values, SURVEY §1.1 Tags)
    a = engine.ensure_stream({"sensors": [1, 2]})
    b = engine.ensure_stream({"sensors": [1, 2]})
    assert a == b
    assert len(engine.find_streams()) == 1
    # typed scalars must NOT collide with their string spellings
    t = engine.ensure_stream({"flag": True})
    s = engine.ensure_stream({"flag": "true"})
    assert t != s
    n = engine.ensure_stream({"level": 1})
    m = engine.ensure_stream({"level": "1"})
    assert n != m
    assert engine.ensure_stream({"flag": True}) == t
    assert engine.ensure_stream({"level": "1"}) == m
    # find_streams sees the same type-exact distinctions
    assert [x["stream_id"] for x in engine.find_streams({"flag": True})] == [t]
    assert [x["stream_id"] for x in engine.find_streams({"flag": "true"})] == [s]
    assert [x["stream_id"] for x in engine.find_streams({"sensors": [1, 2]})] == [a]
    assert engine.find_streams({"sensors": [1, 2, 3]}) == []


def test_ensure_stream_conflicting_spec_raises(engine):
    engine.ensure_stream({"title": "x"}, value_type="numeric")
    with pytest.raises(exc.InconsistentStreamConfiguration):
        engine.ensure_stream({"title": "x"}, value_type="nominal")


def test_ensure_stream_conflicting_derive_spec_raises(engine):
    # ANY respec mismatch raises (SURVEY §2.1 ensure_stream) — including
    # the derive fields and time_downsamplers, not just value_type/gran
    src1 = engine.ensure_stream({"title": "src1"})
    src2 = engine.ensure_stream({"title": "src2"})
    d = engine.ensure_stream(
        {"title": "cd"},
        derive_from=[src1],
        derive_op="counter_derivative",
        derive_args={"max_value": 1000},
    )
    # identical respec is idempotent
    assert (
        engine.ensure_stream(
            {"title": "cd"},
            derive_from=[src1],
            derive_op="counter_derivative",
            derive_args={"max_value": 1000},
        )
        == d
    )
    with pytest.raises(exc.InconsistentStreamConfiguration):  # sources differ
        engine.ensure_stream(
            {"title": "cd"},
            derive_from=[src2],
            derive_op="counter_derivative",
            derive_args={"max_value": 1000},
        )
    with pytest.raises(exc.InconsistentStreamConfiguration):  # args differ
        engine.ensure_stream(
            {"title": "cd"},
            derive_from=[src1],
            derive_op="counter_derivative",
            derive_args={"max_value": 255},
        )
    with pytest.raises(exc.InconsistentStreamConfiguration):  # op dropped
        engine.ensure_stream({"title": "cd"}, derive_from=[src1])
    # plain stream: changed time_downsamplers raises; repeat is idempotent
    p = engine.ensure_stream({"title": "plain"})
    assert engine.ensure_stream({"title": "plain"}) == p
    with pytest.raises(exc.InconsistentStreamConfiguration):
        engine.ensure_stream({"title": "plain"}, time_downsamplers=["first"])


def test_append_monotonicity(engine):
    sid = engine.ensure_stream({"title": "mono"})
    engine.append(sid, 1.0, ts(0))
    engine.append(sid, 2.0, ts(1))
    with pytest.raises(exc.InvalidTimestamp):
        engine.append(sid, 3.0, ts(1))  # equal → rejected
    with pytest.raises(exc.InvalidTimestamp):
        engine.append(sid, 3.0, ts(0))  # earlier → rejected
    engine.append(sid, 3.0, ts(0), check_timestamp=False)  # permitted
    pts = list(engine.get_data(sid, "seconds"))
    assert [p["v"] for p in pts] == [1.0, 3.0, 2.0]


def test_append_batch_monotonicity_within_batch(engine):
    sid = engine.ensure_stream({"title": "mono2"})
    with pytest.raises(exc.InvalidTimestamp):
        engine.append_multiple(
            [
                {"stream_id": sid, "value": 1.0, "timestamp": ts(5)},
                {"stream_id": sid, "value": 2.0, "timestamp": ts(5)},
            ]
        )


def test_append_type_checks(engine):
    sid = engine.ensure_stream({"title": "typed"})
    with pytest.raises(exc.UnsupportedValueType):
        engine.append(sid, "not-a-number", ts(0))
    d = engine.ensure_stream(
        {"title": "drv"}, derive_from=[sid], derive_op="derivative"
    )
    with pytest.raises(exc.AppendToDerivedStreamNotAllowed):
        engine.append(d, 1.0, ts(0))


@pytest.mark.slow
def test_downsample_numeric_all_granularities(engine):
    n = 3 * 3600 + 30  # 3h of second data + a partial hour tail
    vals = dense_values(n)
    sid = engine.ensure_stream({"title": "dense"})
    engine.append_multiple(
        [
            {"stream_id": sid, "value": v, "timestamp": ts(i)}
            for i, v in enumerate(vals)
        ]
    )
    until = ts(n)  # everything before the tail's open bucket completes
    engine.downsample_streams(until=until)

    for gname in ("seconds10", "minutes", "minutes10", "hours"):
        g = BY_NAME[gname]
        dur = g.duration_s
        complete = (n // dur) * dur
        pts = list(engine.get_data(sid, gname))
        assert len(pts) == complete // dur, gname
        # spot-check every k-th bucket against a pure-Python oracle
        for k in range(0, len(pts), max(1, len(pts) // 7)):
            bucket = vals[k * dur : (k + 1) * dur]
            got = pts[k]["v"]
            assert got["count"] == len(bucket)
            assert got["sum"] == pytest.approx(sum(bucket), rel=1e-12)
            assert got["min"] == pytest.approx(min(bucket))
            assert got["max"] == pytest.approx(max(bucket))
            assert got["mean"] == pytest.approx(sum(bucket) / len(bucket), rel=1e-12)
            q = sum(v * v for v in bucket)
            assert got["sum_squares"] == pytest.approx(q, rel=1e-12)
            var = (q - sum(bucket) ** 2 / len(bucket)) / len(bucket)
            assert got["std_dev"] == pytest.approx(
                math.sqrt(max(var, 0.0)), rel=1e-9, abs=1e-9
            )
            t = pts[k]["t"]
            assert t["first"] == nts(k * dur)
            assert t["last"] == nts((k + 1) * dur - 1)
            mean_epoch = sum(int(ts(i).timestamp()) for i in range(k * dur, (k + 1) * dur)) // len(bucket)
            assert t["mean"] == dt.datetime.fromtimestamp(mean_epoch, tz=UTC).replace(tzinfo=None)


@pytest.mark.slow
def test_downsample_idempotent_and_incremental(engine):
    sid = engine.ensure_stream({"title": "incr"})
    vals = dense_values(600)
    engine.append_multiple(
        [{"stream_id": sid, "value": v, "timestamp": ts(i)} for i, v in enumerate(vals)]
    )
    engine.downsample_streams(until=ts(600))
    n1 = len(engine.get_data(sid, "minutes"))
    # re-run: nothing new
    engine.downsample_streams(until=ts(600))
    assert len(engine.get_data(sid, "minutes")) == n1 == 10
    # append more, downsample again: only new buckets appear
    engine.append_multiple(
        [
            {"stream_id": sid, "value": float(i), "timestamp": ts(600 + i)}
            for i in range(120)
        ]
    )
    engine.downsample_streams(until=ts(720))
    pts = list(engine.get_data(sid, "minutes"))
    assert len(pts) == 12
    assert pts[10]["v"]["sum"] == pytest.approx(sum(range(60)))


@pytest.mark.slow
def test_downsample_nominal_frequencies_and_ties(engine):
    sid = engine.ensure_stream({"title": "nom"}, value_type="nominal")
    # fx_nominal: skewed frequencies incl. an exact tie in bucket 0:
    # a×2 b×2 c×1 → most_often tie(a,b) → 'a' (value asc); least 'c'
    seq = ["a", "b", "a", "b", "c"] + ["z"] * 3 + ["y"] * 2
    engine.append_multiple(
        [
            {"stream_id": sid, "value": s, "timestamp": ts(i)}
            for i, s in enumerate(seq[:5])
        ]
        + [
            {"stream_id": sid, "value": s, "timestamp": ts(10 + i)}
            for i, s in enumerate(seq[5:])
        ]
    )
    engine.downsample_streams(until=ts(60))
    pts = list(engine.get_data(sid, "seconds10"))
    assert len(pts) == 2
    b0, b1 = pts[0]["v"], pts[1]["v"]
    assert b0["frequencies"] == {'"a"': 2, '"b"': 2, '"c"': 1}
    assert b0["most_often"] == '"a"' and b0["least_often"] == '"c"'
    assert b1["frequencies"] == {'"y"': 2, '"z"': 3}
    assert b1["most_often"] == '"z"' and b1["least_often"] == '"y"'
    assert b0["count"] == 5 and b1["count"] == 5
    # numeric aggregates are null for nominal streams
    assert "mean" not in b0 or b0.get("mean") is None


@pytest.mark.slow
def test_graph_roundtrip_and_count(engine):
    sid = engine.ensure_stream({"title": "g"}, value_type="graph")
    snaps = [
        {
            "v": [{"i": str(j)} for j in range(i + 1)],
            "e": [{"f": str(j), "t": str(j + 1)} for j in range(i)],
        }
        for i in range(10)
    ]
    engine.append_multiple(
        [
            {"stream_id": sid, "value": s, "timestamp": ts(i)}
            for i, s in enumerate(snaps)
        ]
    )
    pts = list(engine.get_data(sid, "seconds"))
    assert len(pts) == 10
    assert pts[3]["v"]["v"] == [{"i": "0"}, {"i": "1"}, {"i": "2"}, {"i": "3"}]
    assert pts[3]["v"]["e"][0] == {"f": "0", "t": "1"}
    engine.downsample_streams(until=ts(60))
    agg = list(engine.get_data(sid, "seconds10"))
    assert agg[0]["v"]["count"] == 10


def test_graph_props_roundtrip_extra_keys(engine):
    """Arbitrary extra vertex/edge properties must survive the storage
    round-trip (reference: graph values are free-form JSON, SURVEY §1.1)."""
    sid = engine.ensure_stream({"title": "gp"}, value_type="graph")
    g = {
        "v": [{"i": "a", "w": 2, "color": "red"}, {"i": "b"}],
        "e": [{"f": "a", "t": "b", "cap": 1.5, "label": "x"}],
    }
    engine.append(sid, g, ts(0))
    got = list(engine.get_data(sid, "seconds"))[0]["v"]
    assert got["v"][0] == {"i": "a", "w": 2, "color": "red"}
    assert got["v"][1] == {"i": "b"}
    assert got["e"][0] == {"f": "a", "t": "b", "cap": 1.5, "label": "x"}


@pytest.mark.slow
def test_lagging_stream_append_upserts_materialized_bucket(engine):
    """A monotonic append landing in a bucket that downsample already
    emitted (because ANOTHER stream's clock was ahead) must update the
    aggregate, not be lost, and must not duplicate the bucket row."""
    fast = engine.ensure_stream({"title": "fastclk"})
    slow = engine.ensure_stream({"title": "slowclk"})
    engine.append(fast, 1.0, ts(125))  # fast stream two minutes ahead
    engine.append(slow, 20.0, ts(5))  # slow stream still in minute 0
    engine.downsample_streams(until=ts(125))
    # slow's minute-0 bucket was emitted as a partial — now a later,
    # still-monotonic point lands in that same bucket
    engine.append(slow, 22.0, ts(30))
    engine.downsample_streams(until=ts(180))
    pts = list(engine.get_data(slow, "minutes"))
    assert len(pts) == 1
    assert pts[0]["v"]["sum"] == 42.0 and pts[0]["v"]["count"] == 2
    # storage holds exactly one row for that bucket (upsert, not append)
    agg = engine.tables.read_points_agg().filter(
        (F.col("stream_id") == slow) & (F.col("granularity") == "minutes")
    )
    assert agg.count() == 1


@pytest.mark.slow
def test_aggregate_routing_serves_from_agg_and_recomputes_tail(engine):
    """SURVEY §4 aggregate-routing extension: covered buckets come from a
    partition-pruned points_agg scan (algebraic merge), only the
    post-watermark tail and never-downsampled streams hit raw points, and
    the combined answer equals a full raw recompute."""
    a = engine.ensure_stream({"title": "routed"})
    b = engine.ensure_stream({"title": "rawonly"})
    engine.append_multiple(
        [{"stream_id": a, "value": float(i), "timestamp": ts(i)} for i in range(300)]
    )
    engine.append_multiple(
        [{"stream_id": b, "value": 2.0 * i, "timestamp": ts(i)} for i in range(100)]
    )
    engine.downsample_streams({"title": "routed"}, until=ts(240))
    # stale tail: appends after the downsample run must still be answered
    engine.append_multiple(
        [
            {"stream_id": a, "value": float(i), "timestamp": ts(i)}
            for i in range(300, 330)
        ]
    )
    out = engine.aggregate(bucket_seconds=60)
    got = {
        (r["stream_id"], r["bucket_ts"]): r
        for r in out.collect()
    }
    # stream a: buckets 0..300, exact mean/sum/count vs python recompute
    for b0 in range(0, 330, 60):
        vals = [float(i) for i in range(b0, min(b0 + 60, 330))]
        row = got[(a, nts(b0))]
        assert row["v"]["count"] == len(vals)
        assert row["v"]["sum"] == pytest.approx(sum(vals))
        assert row["v"]["mean"] == pytest.approx(sum(vals) / len(vals))
        assert row["t"]["first"] == nts(b0)
    for b0 in range(0, 100, 60):
        vals = [2.0 * i for i in range(b0, min(b0 + 60, 100))]
        row = got[(b, nts(b0))]
        assert row["v"]["count"] == len(vals)
        assert row["v"]["sum"] == pytest.approx(sum(vals))
    assert len(got) == 6 + 2
    # plan: the routed part scans points_agg with granularity partition
    # pruning; the raw tail scan carries a pushed ts lower bound is not
    # asserted globally because stream b is unbounded here
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "minutes" in plan.split("PartitionFilters", 1)[1][:300]


@pytest.mark.slow
def test_aggregate_routing_bounds_raw_scan_when_all_covered(engine):
    """With every selected stream downsampled, the raw-side scan must be
    bounded below by the watermark (pushed to parquet)."""
    sid = engine.ensure_stream({"title": "allcov"})
    engine.append_multiple(
        [{"stream_id": sid, "value": 1.0, "timestamp": ts(i)} for i in range(200)]
    )
    engine.downsample_streams(until=ts(200))
    out = engine.aggregate({"title": "allcov"}, bucket_seconds=60)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(ts" in plan
    got = sorted(
        (r["bucket_ts"], r["v"]["count"]) for r in out.collect()
    )
    assert got == [(nts(0), 60), (nts(60), 60), (nts(120), 60), (nts(180), 20)]


@pytest.mark.slow
def test_downsample_with_watermarkless_streams_stays_complete(engine):
    """The raw-scan lower bound falls back to earliest_ts for streams
    without a watermark (and to source earliest for pure views) — and must
    never cut data a new stream still needs."""
    a = engine.ensure_stream({"title": "warm"})
    engine.append_multiple(
        [{"stream_id": a, "value": 1.0, "timestamp": ts(i)} for i in range(120)]
    )
    engine.downsample_streams(until=ts(120))  # a has watermarks now
    # new stream with data EARLIER than a's watermark, plus a pure view
    b = engine.ensure_stream({"title": "cold"})
    engine.append_multiple(
        [{"stream_id": b, "value": float(i), "timestamp": ts(i)} for i in range(70)]
    )
    engine.ensure_stream({"title": "coldview"}, derive_from=[b], derive_op="derivative")
    engine.downsample_streams(until=ts(120))
    mins = list(engine.get_data(b, "minutes"))
    # minute 0 complete, minute 1 a partial upsertable bucket (points 60-69)
    assert [p["v"]["count"] for p in mins] == [60, 10]
    assert mins[0]["v"]["sum"] == sum(range(60))
    assert mins[1]["v"]["sum"] == sum(range(60, 70))
    view_mins = list(
        engine.get_data(
            engine.find_streams({"title": "coldview"})[0]["stream_id"], "minutes"
        )
    )
    assert [p["v"]["count"] for p in view_mins] == [59, 10]  # derivative drops 1st


def test_vacuum_keeps_planned_reader_valid(engine):
    """A DataFrame planned before vacuum must still be fully readable
    after it — txn_vacuum keeps every file the live snapshot references
    and _swap_version retains the previous snapshot generation."""
    sid = engine.ensure_stream({"title": "vr"})
    engine.append_multiple(
        [{"stream_id": sid, "value": float(i), "timestamp": ts(i)} for i in range(50)]
    )
    df = engine.get_data(sid, "seconds").df
    assert df.count() == 50  # planned + executed against the pre-vacuum snapshot
    engine.vacuum()
    # the old generation is retained: the already-planned reader still works
    assert df.count() == 50
    assert [p["v"] for p in engine.get_data(sid, "seconds")][:3] == [0.0, 1.0, 2.0]


@pytest.mark.slow
def test_get_data_bounds_reverse_projection(engine):
    sid = engine.ensure_stream({"title": "bounds"})
    engine.append_multiple(
        [
            {"stream_id": sid, "value": float(i), "timestamp": ts(i)}
            for i in range(100)
        ]
    )
    full = list(engine.get_data(sid, "seconds", start=ts(10), end=ts(20)))
    assert [p["v"] for p in full] == [float(i) for i in range(10, 21)]
    ex = list(
        engine.get_data(sid, "seconds", start_exclusive=ts(10), end_exclusive=ts(20))
    )
    assert [p["v"] for p in ex] == [float(i) for i in range(11, 20)]
    rev = list(engine.get_data(sid, "seconds", start=ts(10), end=ts(20), reverse=True))
    assert [p["v"] for p in rev] == list(reversed([p["v"] for p in full]))
    with pytest.raises(ValueError):
        engine.get_data(sid, "seconds", start=ts(0), start_exclusive=ts(0))
    # projection of downsampler keys (P1/P2)
    engine.downsample_streams(until=ts(100))
    pts = list(
        engine.get_data(
            sid,
            "seconds10",
            value_downsamplers=["mean", "max"],
            time_downsamplers=["first"],
        )
    )
    assert set(pts[0]["v"].keys()) == {"mean", "max"}
    assert set(pts[0]["t"].keys()) == {"first"}
    with pytest.raises(exc.UnsupportedDownsampler):
        engine.get_data(sid, "seconds10", value_downsamplers=["nope"])
    with pytest.raises(exc.UnsupportedGranularity):
        hid = engine.ensure_stream({"title": "hg"}, highest_granularity="minutes")
        engine.get_data(hid, "seconds")


def test_derive_derivative_and_counter_ops(engine):
    # fx_counter: monotonic counter with wraps at max_value=1000 + one reset
    src = engine.ensure_stream({"title": "counter"})
    vals = [0, 100, 300, 900, 50, 400, 990, 20, 500]  # two wraps (900→50, 990→20)
    engine.append_multiple(
        [
            {"stream_id": src, "value": float(v), "timestamp": ts(i * 10)}
            for i, v in enumerate(vals)
        ]
    )
    d_plain = engine.ensure_stream(
        {"title": "d"}, derive_from=[src], derive_op="derivative"
    )
    d_reset = engine.ensure_stream(
        {"title": "r"}, derive_from=[src], derive_op="counter_reset"
    )
    d_cd = engine.ensure_stream(
        {"title": "cd"},
        derive_from=[src],
        derive_op="counter_derivative",
        derive_args={"max_value": 1000},
    )
    pts = list(engine.get_data(d_plain, "seconds"))
    exp = [(vals[i] - vals[i - 1]) / 10 for i in range(1, len(vals))]
    assert [p["v"] for p in pts] == pytest.approx(exp)

    resets = list(engine.get_data(d_reset, "seconds"))
    assert [p["t"] for p in resets] == [nts(40), nts(70)]
    assert all(p["v"] == 1.0 for p in resets)

    cd = list(engine.get_data(d_cd, "seconds"))
    exp_cd = []
    for i in range(1, len(vals)):
        dv = vals[i] - vals[i - 1]
        if dv < 0:
            dv = 1000 - vals[i - 1] + vals[i]
        exp_cd.append(dv / 10)
    assert [p["v"] for p in cd] == pytest.approx(exp_cd)


def test_derive_sum_alignment(engine):
    # fx_multi_sum: 3 sources, minutes granularity, partially overlapping
    s1 = engine.ensure_stream({"title": "s1"}, highest_granularity="minutes")
    s2 = engine.ensure_stream({"title": "s2"}, highest_granularity="minutes")
    s3 = engine.ensure_stream({"title": "s3"}, highest_granularity="minutes")
    m = 60
    engine.append_multiple(
        [
            {"stream_id": s1, "value": 1.0, "timestamp": ts(0)},
            {"stream_id": s1, "value": 2.0, "timestamp": ts(m)},
            {"stream_id": s2, "value": 10.0, "timestamp": ts(m)},
            {"stream_id": s2, "value": 20.0, "timestamp": ts(2 * m)},
            {"stream_id": s3, "value": 100.0, "timestamp": ts(m + 30)},  # same slot as ts(m)
        ]
    )
    d = engine.ensure_stream(
        {"title": "dsum"},
        highest_granularity="minutes",
        derive_from=[s1, s2, s3],
        derive_op="sum",
    )
    pts = list(engine.get_data(d, "minutes"))
    assert [(p["t"], p["v"]) for p in pts] == [
        (nts(0), 1.0),
        (nts(m), 112.0),  # sums whatever arrived in the slot (W1 semantics)
        (nts(2 * m), 20.0),
    ]


def test_counter_derivative_with_reset_stream(engine):
    src = engine.ensure_stream({"title": "c2"})
    rst = engine.ensure_stream({"title": "c2rst"})
    vals = [0, 10, 30, 5, 15]  # drop at i=3 explained by a reset
    engine.append_multiple(
        [
            {"stream_id": src, "value": float(v), "timestamp": ts(i * 10)}
            for i, v in enumerate(vals)
        ]
    )
    engine.append(rst, 1.0, ts(25))  # reset between ts(20) and ts(30)
    d = engine.ensure_stream(
        {"title": "cd2"},
        derive_from=[rst, src],
        derive_op="counter_derivative",
        derive_args={"streams": [{"name": "reset"}, {"name": "data"}]},
    )
    pts = list(engine.get_data(d, "seconds"))
    # delta 30→5 suppressed (reset in interval); without max_value other
    # decreases would also be skipped, but there are none
    assert [(p["t"], p["v"]) for p in pts] == [
        (nts(10), 1.0),
        (nts(20), 2.0),
        (nts(40), 1.0),
    ]


def test_delete_streams_dependencies(engine):
    a = engine.ensure_stream({"title": "a"})
    engine.ensure_stream({"title": "b"}, derive_from=[a], derive_op="derivative")
    with pytest.raises(exc.OutstandingDependenciesError):
        engine.delete_streams({"title": "a"})
    assert engine.delete_streams({"title": "b"}) == 1
    assert engine.delete_streams({"title": "a"}) == 1
    assert engine.find_streams() == []


@pytest.mark.slow
def test_delete_then_vacuum_reclaims_datapoints(engine):
    a = engine.ensure_stream({"title": "keepme"})
    b = engine.ensure_stream({"title": "dropme"})
    engine.append_multiple(
        [{"stream_id": a, "value": 1.0, "timestamp": ts(0)},
         {"stream_id": b, "value": 2.0, "timestamp": ts(0)}]
    )
    engine.downsample_streams(until=ts(60))
    engine.delete_streams({"title": "dropme"})
    # orphan rows still on disk until vacuum
    assert engine.tables.read_points_raw().count() == 2
    engine.vacuum()
    raw = engine.tables.read_points_raw()
    assert raw.count() == 1
    assert raw.collect()[0]["stream_id"] == a
    agg = engine.tables.read_points_agg()
    assert agg.filter(agg.stream_id == b).count() == 0
    # surviving stream still fully queryable
    assert [p["v"] for p in engine.get_data(a, "seconds")] == [1.0]


@pytest.mark.slow
def test_mixed_highest_granularity_downsample(engine):
    fine = engine.ensure_stream({"title": "fine"})
    coarse = engine.ensure_stream({"title": "coarse"}, highest_granularity="minutes")
    engine.append_multiple(
        [
            {"stream_id": fine, "value": float(i), "timestamp": ts(i)}
            for i in range(120)
        ]
        + [
            {"stream_id": coarse, "value": float(i), "timestamp": ts(i * 60)}
            for i in range(10)
        ]
    )
    engine.downsample_streams(until=ts(1200))
    # fine stream has seconds10 buckets; coarse starts at minutes10
    assert len(engine.get_data(fine, "seconds10")) == 12
    assert len(engine.get_data(fine, "minutes")) == 2
    with pytest.raises(exc.UnsupportedGranularity):
        engine.get_data(coarse, "seconds10")
    m10 = list(engine.get_data(coarse, "minutes10"))
    assert m10[0]["v"]["sum"] == pytest.approx(sum(range(10)))
    assert m10[0]["v"]["count"] == 10


@pytest.mark.slow
def test_late_reset_rolls_back_derived_watermark(engine):
    """Finality healing (watermark rollback): a reset source append that
    is monotonic for ITS stream but earlier than the derived stream's
    aggregate watermark must roll that watermark back, so the next
    downsample recomputes the affected buckets and the aggregates
    re-converge with the derived view instead of silently keeping the
    retracted delta."""
    src = engine.ensure_stream({"title": "lr"})
    rst = engine.ensure_stream({"title": "lrrst"})
    # strictly increasing counter; the [30,40) bucket holds TWO points
    # so it still re-emits (gets overwritten) after the reset suppresses
    # one of its deltas
    pts_in = [(0, 0.0), (10, 10.0), (20, 20.0), (30, 40.0), (35, 45.0), (45, 55.0)]
    engine.append_multiple(
        [
            {"stream_id": src, "value": v, "timestamp": ts(t)}
            for t, v in pts_in
        ]
    )
    d = engine.ensure_stream(
        {"title": "lrd"},
        derive_from=[rst, src],
        derive_op="counter_derivative",
        derive_args={"streams": [{"name": "reset"}, {"name": "data"}]},
    )
    engine.downsample_streams(until=ts(3600))

    def s10(stream):
        return {
            p["t"]["first"].replace(second=(p["t"]["first"].second // 10) * 10):
                p["v"]["sum"]
            for p in engine.get_data(
                stream, "seconds10",
                value_downsamplers=["sum"],
                time_downsamplers=["first"],
            )
        }

    before = s10(d)
    assert sum(1 for v in before.values()) > 0
    # every delta emits today (monotonic counter); a LATE reset at t=25
    # (first append to rst: monotonic for the reset stream, but below
    # the derived stream's aggregate watermark) retroactively suppresses
    # the t=30 delta because it now spans a reset
    engine.append(rst, 1.0, ts(25))
    meta = {m["stream_id"]: m for m in engine.find_streams()}[d]
    # the derived stream's watermarks rolled back to cover ts(25)
    wm = meta["downsampled_until"]["seconds10"]
    assert wm.replace(tzinfo=None) <= ts(25).replace(tzinfo=None)
    engine.downsample_streams(until=ts(3600))
    after = s10(d)
    # recomputed aggregates equal a fresh full recompute of the view
    recomputed = {
        p["t"]: p["v"]
        for p in engine.get_data(d, "seconds")
    }
    # aggregates must match the bucketed sum of the recomputed view
    import collections
    want = collections.defaultdict(float)
    for t, v in recomputed.items():
        b = t.replace(second=(t.second // 10) * 10)
        want[b] += v
    got = {k.replace(tzinfo=None): v for k, v in after.items()}
    want = {k.replace(tzinfo=None): v for k, v in want.items()}
    for k, v in got.items():
        assert abs(v - want[k]) < 1e-9, (k, v, want.get(k))
    assert got != {k.replace(tzinfo=None): v for k, v in before.items()}


@pytest.mark.slow
def test_below_watermark_append_rolls_back_own_watermark(engine):
    """check_timestamp=False lets a point land below an already-advanced
    watermark; the append must roll the watermark back so the point is
    aggregated on the next run instead of being silently excluded
    forever."""
    sid = engine.ensure_stream({"title": "bw"})
    engine.append_multiple(
        [
            {"stream_id": sid, "value": 1.0, "timestamp": ts(i)}
            for i in range(0, 600, 10)
        ]
    )
    engine.downsample_streams(until=ts(600))
    def minute_counts():
        return {
            p["t"]["first"].replace(second=0): p["v"]["count"]
            for p in engine.get_data(
                sid, "minutes",
                value_downsamplers=["count"],
                time_downsamplers=["first"],
            )
        }

    before = minute_counts()
    assert before[ts(60).replace(tzinfo=None)] == 6
    engine.append(sid, 1.0, ts(65), check_timestamp=False)
    engine.downsample_streams(until=ts(600))
    after = minute_counts()
    assert after[ts(60).replace(tzinfo=None)] == 7  # late point aggregated


@pytest.mark.slow
def test_two_sources_one_batch_rollback_takes_lowest_floor(engine):
    """A single batch appending BELOW the watermark to TWO sources of
    one derived stream calls the rollback merge twice for that derived
    stream; the accumulated floor must be the elementwise MIN of the
    two rolls (regardless of which source the bounds loop visits
    first) — a later higher floor must never raise an earlier lower
    one, or the buckets between the two floors stay stale."""
    a = engine.ensure_stream({"title": "ts2a"})
    b = engine.ensure_stream({"title": "ts2b"})
    engine.append_multiple(
        [
            {"stream_id": s, "value": 1.0, "timestamp": ts(i)}
            for s in (a, b)
            for i in range(0, 600, 10)
        ]
    )
    d = engine.ensure_stream(
        {"title": "ts2d"},
        derive_from=[a, b],
        derive_op="sum",
        derive_args={"streams": [{"name": "data"}, {"name": "data"}]},
    )
    engine.downsample_streams(until=ts(600))

    def minute_counts():
        return {
            p["t"]["first"].replace(second=0, tzinfo=None): p["v"]["count"]
            for p in engine.get_data(
                d, "minutes",
                value_downsamplers=["count"],
                time_downsamplers=["first"],
            )
        }

    before = minute_counts()
    assert before[ts(60).replace(tzinfo=None)] == 6
    assert before[ts(240).replace(tzinfo=None)] == 6
    # ONE batch, late points to BOTH sources: a@65 (low floor), b@245
    # (high floor) — both below the derived watermark
    engine.append_multiple(
        [
            {"stream_id": a, "value": 1.0, "timestamp": ts(65)},
            {"stream_id": b, "value": 1.0, "timestamp": ts(245)},
        ],
        check_timestamp=False,
    )
    meta = {m["stream_id"]: m for m in engine.find_streams()}[d]
    from django_datastream_spark.granularity import BY_NAME

    for g, wm in meta["downsampled_until"].items():
        if wm is None:
            continue
        floor = BY_NAME[g].round_timestamp(ts(65))
        assert wm.replace(tzinfo=None) <= floor.replace(tzinfo=None), (
            f"{g}: floor {wm} not rolled to the LOWEST source floor"
        )
    engine.downsample_streams(until=ts(600))
    after = minute_counts()
    # BOTH affected buckets recomputed — the low-floor bucket is the
    # one the pre-fix merge left stale when the high floor won
    assert after[ts(60).replace(tzinfo=None)] == 7
    assert after[ts(240).replace(tzinfo=None)] == 7


def test_backprocess_replace_retracts_ghost_rows(engine):
    """backprocess_streams(materialize=True) is latest-seq-wins and
    cannot retract a (stream_id, ts) key the recompute no longer emits;
    replace=True must drop every stored version of the recomputed
    streams' points (ghosts included) and land the backfill as the only
    copy, leaving other derived streams untouched."""
    import pytest as _pt

    from pyspark.sql import functions as F

    src = engine.ensure_stream({"title": "gr-src"})
    engine.append_multiple(
        [
            {"stream_id": src, "value": float(i), "timestamp": ts(i * 10)}
            for i in range(6)
        ]
    )
    d = engine.ensure_stream(
        {"title": "gr-d"},
        derive_from=[src],
        derive_op="derivative",
    )
    other = engine.ensure_stream(
        {"title": "gr-other"},
        derive_from=[src],
        derive_op="sum",
        derive_args={"streams": [{"name": "data"}]},
        highest_granularity="seconds10",
    )
    engine.backprocess_streams(materialize=True)
    # plant a GHOST: an earlier partial materialization left a key the
    # recompute never emits (bogus ts far outside the source range)
    ghost_ts = ts(9999)
    engine.tables.append_points_derived(
        engine.spark.createDataFrame(
            [(d, ghost_ts, 1, 123.0)],
            "stream_id string, ts timestamp, seq long, value double",
        )
    )

    def derived_keys(sid):
        return {
            r["ts"]
            for r in engine.tables.read_points_derived()
            .filter(F.col("stream_id") == sid)
            .collect()
        }

    # plain materialize CANNOT retract the ghost (documented edge)
    engine.backprocess_streams(materialize=True)
    assert ghost_ts.replace(tzinfo=None) in derived_keys(d)

    with _pt.raises(ValueError):
        engine.backprocess_streams(replace=True)

    # replace=True retracts it and lands exactly the recompute
    view = engine.backprocess_streams(materialize=True, replace=True)
    want = {
        (r["stream_id"], r["ts"], r["value"]) for r in view.collect()
    }
    got = {
        (r["stream_id"], r["ts"], r["value"])
        for r in engine.tables.read_points_derived().collect()
    }
    assert got == want
    assert ghost_ts.replace(tzinfo=None) not in derived_keys(d)
    # the sum-derived sibling was recomputed too (it matched the query)
    # and its slots equal the view's — no cross-stream clobbering
    assert derived_keys(other) == {
        r["ts"] for r in view.filter(F.col("stream_id") == other).collect()
    }
