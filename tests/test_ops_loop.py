"""Ops-loop soak: the SURVEY §7 Phase-4 lifecycle driven end to end —
continuous ingest with auto_downsample on, periodic small-file
compaction + vacuum interleaved BETWEEN micro-batches (writer quiesced,
as documented), with `get_data` and `aggregate()` asserted EXACT against
a Python recompute after every cycle (VERDICT r3 #6).

Each piece is covered alone elsewhere (test_streaming / test_storage /
test_properties); this drives them together across 12 micro-batches the
way a real deployment cycles them, so cross-feature interactions
(compaction swapping files under the agg watermark, vacuum folding
derived-point versions mid-stream, a lagging source updating slots the
fast source passed) can't regress silently.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random

import pytest
from pyspark.sql import functions as F

from django_datastream_spark import txnlog as TL
from django_datastream_spark.api import Datastream
from django_datastream_spark.streaming.ingest import StreamingIngest

UTC = dt.timezone.utc
T0 = dt.datetime(2024, 6, 1, tzinfo=UTC)


def iso(i: int) -> str:
    return (T0 + dt.timedelta(seconds=i)).strftime("%Y-%m-%dT%H:%M:%S.000Z")


def write_jsonl(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.mark.parametrize("transport", ["file", "payload"])
@pytest.mark.slow
def test_ops_loop_soak(spark, tmp_path, transport):
    engine = Datastream(spark, str(tmp_path / "store"))
    a = engine.ensure_stream({"title": "soak-a"})
    b = engine.ensure_stream({"title": "soak-b"})
    d = engine.ensure_stream(
        {"title": "soak-sum"},
        derive_from=[a, b],
        derive_op="sum",
        highest_granularity="seconds10",
    )
    src = str(tmp_path / "in")
    ing = StreamingIngest(engine, src, str(tmp_path / "cp"), auto_downsample=True)

    def pump(cycle: int, rows: list[dict]) -> None:
        """Land one micro-batch through the transport under test."""
        if transport == "file":
            write_jsonl(f"{src}/b{cycle}.json", rows)
            ing.run_available()
        else:
            # Kafka-shaped leg: the same JSON objects arrive as a binary
            # `value` payload column (the Kafka wire shape) and go
            # through parse_json_payload → attach — the exact pipeline
            # kafka_source wires up, minus the broker (the spark-sql-
            # kafka package isn't in this container).
            from django_datastream_spark.streaming.ingest import parse_json_payload

            batch = spark.createDataFrame(
                [(json.dumps(r).encode("utf-8"),) for r in rows], "value binary"
            )
            batch.coalesce(1).write.mode("append").parquet(src)
            stream = spark.readStream.schema("value binary").parquet(src)
            ing.attach(parse_json_payload(stream)).awaitTermination()

    rnd = random.Random(404)
    cursors = {a: 0, b: 0}
    pts: dict[str, list[tuple[int, float]]] = {a: [], b: []}

    def check_cycle() -> None:
        # 1) raw readback exact, in (ts, seq) order
        for sid in (a, b):
            got = [
                (int((p["t"].replace(tzinfo=UTC) - T0).total_seconds()), p["v"])
                for p in engine.get_data(sid, "seconds")
            ]
            assert got == pts[sid], f"raw mismatch for {sid}"
        # 2) derived sum slots exact (full recompute over both sources)
        slots: dict[int, float] = {}
        for sid in (a, b):
            for t, v in pts[sid]:
                slots[t // 10 * 10] = slots.get(t // 10 * 10, 0.0) + v
        got_d = {
            int((p["t"].replace(tzinfo=UTC) - T0).total_seconds()): p["v"]
            for p in engine.get_data(d, "seconds10")
        }
        assert got_d == {k: pytest.approx(v) for k, v in slots.items()}
        # 3) aggregate() freshness: MV-routed buckets == Python recompute
        got_agg = {
            (r["stream_id"], int((r["bucket_ts"].replace(tzinfo=UTC) - T0).total_seconds())): r
            for r in engine.aggregate(bucket_seconds=60).collect()
        }
        expected: dict[tuple[str, int], list[float]] = {}
        for sid in (a, b):
            for t, v in pts[sid]:
                expected.setdefault((sid, t // 60 * 60), []).append(v)
        for slot_t, v in slots.items():
            expected.setdefault((d, slot_t // 60 * 60), []).append(v)
        assert set(got_agg) == set(expected)
        for key, vs in expected.items():
            r = got_agg[key]
            assert r["v"]["count"] == len(vs)
            assert r["v"]["sum"] == pytest.approx(math.fsum(vs), rel=1e-9)
            assert r["v"]["min"] == pytest.approx(min(vs))
            assert r["v"]["max"] == pytest.approx(max(vs))

    # the payload leg re-runs the same lifecycle through a second
    # transport; 6 cycles (maintenance at 2 and 5) keep it a soak while
    # bounding suite wall-time
    n_cycles = 12 if transport == "file" else 6
    for cycle in range(n_cycles):
        rows = []
        # fast stream: 3-5 points, 2-9 s apart; slow stream: 1-3 points,
        # 3-15 s apart — b's event time falls ever further behind a's, so
        # lagging-source slot updates and per-stream finality are
        # exercised continuously
        for _ in range(rnd.randint(3, 5)):
            cursors[a] += rnd.randint(2, 9)
            v = round(rnd.uniform(-50.0, 50.0), 3)
            pts[a].append((cursors[a], v))
            rows.append({"stream_id": a, "ts": iso(cursors[a]), "value": v})
        for _ in range(rnd.randint(1, 3)):
            cursors[b] += rnd.randint(3, 15)
            v = round(rnd.uniform(-50.0, 50.0), 3)
            pts[b].append((cursors[b], v))
            rows.append({"stream_id": b, "ts": iso(cursors[b]), "value": v})
        pump(cycle, rows)

        # maintenance every third cycle, between micro-batches (the
        # documented writer-quiesced window for an availableNow loop)
        if cycle % 3 == 2:
            engine.tables.compact_points_raw()
            engine.vacuum()

        check_cycle()

    # file growth is bounded by maintenance: after 12 append-y batches +
    # 4 compaction cycles, each p_date partition holds a handful of
    # LIVE files in the commit-log snapshot, not one per batch
    # (superseded files legitimately remain on disk for snapshot
    # readers until vacuum's retention passes)
    by_part: dict[str, int] = {}
    _, live = TL.snapshot(engine.tables.points_raw_path)
    for rel in live:
        d = os.path.dirname(rel)
        by_part[d] = by_part.get(d, 0) + 1
    assert by_part, "no raw files?"
    assert max(by_part.values()) <= 5, by_part

    # incremental derived materialization == batch recompute at the end
    full = engine.backprocess_streams({"title": "soak-sum"})
    batch = {
        int((r["ts"] - T0.replace(tzinfo=None)).total_seconds()): r["value"]
        for r in full.collect()
    }
    slots: dict[int, float] = {}
    for sid in (a, b):
        for t, v in pts[sid]:
            slots[t // 10 * 10] = slots.get(t // 10 * 10, 0.0) + v
    assert batch == {k: pytest.approx(v) for k, v in slots.items()}

    # no duplicate agg rows survived the upsert/vacuum interleaving
    dup = (
        engine.tables.read_points_agg()
        .groupBy("stream_id", "granularity", "bucket_ts")
        .count()
        .filter(F.col("count") > 1)
    )
    assert dup.count() == 0


def test_wide_batch_metadata_stays_plan_side(spark, tmp_path, monkeypatch):
    """Million-stream-TSDB shape check (VERDICT r5 #1): a micro-batch
    touching MANY distinct streams must merge stream metadata as a
    DataFrame plan — ``upsert_streams_df`` — never by materializing
    per-stream dicts on the driver (``upsert_streams`` with a
    batch-sized list). Uses 2k streams (CI-sized stand-in for 10k+;
    the assertion is structural, not timed): spies on both upsert
    paths, then verifies the merged earliest/latest metadata exactly
    on a sample."""
    from django_datastream_spark import storage as storage_mod

    engine = Datastream(spark, str(tmp_path / "store"))
    n = 2000
    # bulk metadata creation: ONE upsert call with all rows (driver
    # list is fine here — it is the user-supplied creation payload)
    sids = [f"wide-{i:05d}" for i in range(n)]
    engine.tables.upsert_streams(
        [
            {
                "stream_id": s,
                "value_type": "numeric",
                "highest_granularity": "seconds",
                "value_downsamplers": ["mean", "sum", "min", "max", "count"],
                "time_downsamplers": ["first", "last"],
                "derived_from": None,
                "derive_op": None,
                "derive_args": None,
                "tags": "{}",
                "tags_flat": {},
                "earliest_ts": None,
                "latest_ts": None,
                "downsampled_until": None,
            }
            for s in sids
        ]
    )
    ing = StreamingIngest(engine, str(tmp_path / "in"), str(tmp_path / "cp"))

    calls = {"dict": [], "df": 0}
    orig_list = storage_mod.Tables.upsert_streams
    orig_df = storage_mod.Tables.upsert_streams_df

    def spy_list(self, rows):
        calls["dict"].append(len(rows))
        return orig_list(self, rows)

    def spy_df(self, df):
        calls["df"] += 1
        return orig_df(self, df)

    monkeypatch.setattr(storage_mod.Tables, "upsert_streams", spy_list)
    monkeypatch.setattr(storage_mod.Tables, "upsert_streams_df", spy_df)

    batch = spark.createDataFrame(
        [
            (s, T0 + dt.timedelta(seconds=i % 7), float(i))
            for i, s in enumerate(sids)
        ],
        "stream_id string, ts timestamp, value double",
    ).withColumn("value_nominal", F.lit(None).cast("string"))
    ing.ingest_dataframe(batch)

    # the metadata merge went through the DataFrame path; no driver
    # list upsert was sized by the batch's stream count
    assert calls["df"] == 1
    assert all(c < 100 for c in calls["dict"]), calls["dict"]

    # merged metadata is correct on a sample (earliest == latest ==
    # the one appended ts per stream)
    sample = {s: i for i, s in enumerate(sids) if i % 500 == 0}
    metas = {
        r["stream_id"]: r
        for r in engine._streams()
        .filter(F.col("stream_id").isin(list(sample)))
        .collect()
    }
    for s, i in sample.items():
        want = (T0 + dt.timedelta(seconds=i % 7)).replace(tzinfo=None)
        assert metas[s]["earliest_ts"] == want
        assert metas[s]["latest_ts"] == want

    # a second batch advances latest and keeps earliest
    batch2 = spark.createDataFrame(
        [(s, T0 + dt.timedelta(seconds=100), 1.0) for s in sids[:10]],
        "stream_id string, ts timestamp, value double",
    ).withColumn("value_nominal", F.lit(None).cast("string"))
    ing.ingest_dataframe(batch2)
    m = (
        engine._streams()
        .filter(F.col("stream_id") == sids[0])
        .collect()[0]
    )
    assert m["earliest_ts"] == T0.replace(tzinfo=None)
    assert m["latest_ts"] == (T0 + dt.timedelta(seconds=100)).replace(
        tzinfo=None
    )


@pytest.mark.slow
def test_wide_append_multiple_metadata_stays_plan_side(
    spark, tmp_path, monkeypatch
):
    """Batch-facade twin of the streaming guard above (VERDICT r6 #2):
    ``api.append_multiple`` must merge earliest/latest/finality through
    ``upsert_streams_df`` (stats ⋈ streams plan), never via an
    ``upsert_streams`` list sized by the batch's distinct stream count.
    Also pins the derived-stream rollback staying plan-side: a source
    append landing below a derived stream's finality floor lowers that
    floor through the exploded derived_from join, with no dep-row
    collect."""
    from django_datastream_spark import storage as storage_mod

    engine = Datastream(spark, str(tmp_path / "store"))
    n = 1500
    sids = [f"bat-{i:05d}" for i in range(n)]
    engine.tables.upsert_streams(
        [
            {
                "stream_id": s,
                "value_type": "numeric",
                "highest_granularity": "seconds",
                "value_downsamplers": ["mean", "count"],
                "time_downsamplers": ["first", "last"],
                "derived_from": None,
                "derive_op": None,
                "derive_args": None,
                "tags": "{}",
                "tags_flat": {},
                "earliest_ts": None,
                "latest_ts": None,
                "downsampled_until": None,
            }
            for s in sids
        ]
    )

    calls = {"dict": [], "df": 0}
    orig_list = storage_mod.Tables.upsert_streams
    orig_df = storage_mod.Tables.upsert_streams_df

    def spy_list(self, rows):
        calls["dict"].append(len(rows))
        return orig_list(self, rows)

    def spy_df(self, df):
        calls["df"] += 1
        return orig_df(self, df)

    monkeypatch.setattr(storage_mod.Tables, "upsert_streams", spy_list)
    monkeypatch.setattr(storage_mod.Tables, "upsert_streams_df", spy_df)

    engine.append_multiple(
        [
            {
                "stream_id": s,
                "value": float(i),
                "timestamp": T0 + dt.timedelta(seconds=i % 7),
            }
            for i, s in enumerate(sids)
        ]
    )
    assert calls["df"] == 1
    assert all(c < 100 for c in calls["dict"]), calls["dict"]

    sample = {s: i for i, s in enumerate(sids) if i % 400 == 0}
    metas = {
        r["stream_id"]: r
        for r in engine._streams()
        .filter(F.col("stream_id").isin(list(sample)))
        .collect()
    }
    for s, i in sample.items():
        want = (T0 + dt.timedelta(seconds=i % 7)).replace(tzinfo=None)
        assert metas[s]["earliest_ts"] == want
        assert metas[s]["latest_ts"] == want

    # derived-stream rollback through the plan: downsample to advance
    # the derived stream's floor, then append a LATE point to its
    # source with check_timestamp=False — the derived stream's
    # downsampled_until must roll back to the late bucket
    src, drv_src = sids[0], sids[1]
    drv = engine.ensure_stream(
        {"name": "drv-roll"},
        value_downsamplers=["mean", "count"],
        highest_granularity="seconds",
        derive_from=[src],
        derive_op="sum",
    )
    engine.append_multiple(
        [
            {
                "stream_id": src,
                "value": 5.0,
                "timestamp": T0 + dt.timedelta(hours=2),
            }
        ]
    )
    engine.downsample_streams(until=T0 + dt.timedelta(hours=3))
    before = (
        engine._streams().filter(F.col("stream_id") == drv).collect()[0]
    )["downsampled_until"]
    assert any(v is not None for v in (before or {}).values())
    engine.append_multiple(
        [
            {
                "stream_id": src,
                "value": 1.0,
                "timestamp": T0 + dt.timedelta(minutes=30),
            }
        ],
        check_timestamp=False,
    )
    after = (
        engine._streams().filter(F.col("stream_id") == drv).collect()[0]
    )["downsampled_until"]
    for g, v in (after or {}).items():
        if before.get(g) is not None:
            assert v <= before[g], (g, v, before[g])
