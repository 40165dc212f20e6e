"""KEYSET pagination for the HTTP layer (VERDICT r10 item 4): the
cursor becomes a pushed range predicate + top-K instead of a global
re-sort with a deepening offset. limit/offset stays for reference
parity (with its documented unique-key determinism caveat — ADVICE
r10: stated in the endpoint contract, plus the cursor mode as the
deterministic path).
"""

import pytest

from django_datastream_spark import http_api, txnlog as TL
from django_datastream_spark.api import Datastream
from django_datastream_spark.sources import delta as DL


@pytest.fixture
def big_table(spark, tmp_path):
    """A 10⁴-row external Delta table registered in a fresh engine."""
    root = str(tmp_path / "big")
    TL.txn_append(
        spark,
        spark.createDataFrame(
            [(i, f"doc-{i:05d}", float(i % 97)) for i in range(10_000)],
            "doc_id long, title string, score double",
        ),
        root,
        [],
    )
    DL.publish_delta(spark, root)
    ds = Datastream(spark, str(tmp_path / "store"))
    ds.register_external_table("big", root)
    return ds


def test_cursor_pages_exactly_once(big_table):
    ds = big_table
    seen: list[int] = []
    cursor = None
    pages = 0
    while True:
        params = {"cursor": cursor} if cursor else None
        page = http_api.table_rows(ds, "big", params=params, limit=1000)
        seen.extend(o["doc_id"] for o in page["objects"])
        pages += 1
        cursor = page["meta"]["next_cursor"]
        if not cursor or not page["objects"]:
            break
        assert pages < 20  # livelock guard
    assert sorted(seen) == list(range(10_000))
    assert len(seen) == len(set(seen))  # no overlap, no loss
    assert pages == 10 or pages == 11  # 10 full pages (+1 empty tail)


def test_cursor_page_equals_offset_page(big_table):
    ds = big_table
    p1 = http_api.table_rows(ds, "big", limit=100, offset=0)
    cursor = p1["meta"]["next_cursor"]
    assert cursor  # offset mode hands out a cursor too: upgrade path
    by_cursor = http_api.table_rows(
        ds, "big", params={"cursor": cursor}, limit=100
    )
    by_offset = http_api.table_rows(ds, "big", limit=100, offset=100)
    assert by_cursor["objects"] == by_offset["objects"]


def test_cursor_plan_pushes_range_predicate(spark, big_table):
    """The scale claim, pinned on the plan: the cursor's leading-
    column bound reaches the parquet scan as a PushedFilter, and the
    page is a TakeOrdered top-K — not a global sort of the table."""
    ds = big_table
    df = ds.external_table("big")
    key_cols = ["doc_id", "title", "score"]
    page = http_api._keyset_page_df(
        df, key_cols, {"doc_id": 4999, "title": "doc-04999", "score": 0.0}
    ).limit(100)
    plan = page._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "GreaterThanOrEqual(doc_id,4999)" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan  # no global re-sort node


def test_cursor_handles_null_keys(spark, tmp_path):
    root = str(tmp_path / "nulls")
    TL.txn_append(
        spark,
        spark.createDataFrame(
            [(None, "a"), (None, "b"), (1, "c"), (2, None)],
            "k int, s string",
        ),
        root,
        [],
    )
    DL.publish_delta(spark, root)
    ds = Datastream(spark, str(tmp_path / "store"))
    ds.register_external_table("n", root)
    seen = []
    cursor = None
    while True:
        page = http_api.table_rows(
            ds, "n", params={"cursor": cursor} if cursor else None, limit=1
        )
        seen.extend((o["k"], o["s"]) for o in page["objects"])
        cursor = page["meta"]["next_cursor"]
        if not cursor or not page["objects"]:
            break
    # nulls first (Spark asc), every row exactly once
    assert seen == [(None, "a"), (None, "b"), (1, "c"), (2, None)]


def test_stream_datapoints_cursor(spark, tmp_path):
    import datetime as dt

    ds = Datastream(spark, str(tmp_path / "store"))
    sid = ds.ensure_stream({"name": "s"})
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    ds.append_multiple(
        [
            {
                "stream_id": sid,
                "value": float(i),
                "timestamp": t0 + dt.timedelta(seconds=i),
            }
            for i in range(25)
        ]
    )

    def walk(params):
        got, cursor = [], None
        for _ in range(10):
            p = dict(params, cursor=cursor) if cursor else dict(params)
            page = http_api.stream_datapoints(ds, sid, params=p, limit=10)
            got.extend(d["v"] for d in page["datapoints"])
            cursor = page["meta"]["next_cursor"]
            if not cursor or not page["datapoints"]:
                return got
        raise AssertionError("cursor walk did not terminate")

    def iso(i):
        return (t0 + dt.timedelta(seconds=i)).isoformat()

    assert walk({}) == [float(i) for i in range(25)]
    # reverse paging through the same cursor contract
    assert walk({"r": "1"}) == [float(i) for i in reversed(range(25))]
    # a bounded range keeps its bounds across pages: the cursor replaces
    # the inclusive bound on its own side (forward: start, reverse: end)
    # and the opposite bound still applies
    assert walk({"start": iso(3)}) == [float(i) for i in range(3, 25)]
    assert walk({"r": "1", "end": iso(21)}) == [
        float(i) for i in reversed(range(22))
    ]
    assert walk({"start": iso(2), "end": iso(22)}) == [
        float(i) for i in range(2, 23)
    ]
    assert walk({"r": "1", "start": iso(2), "end": iso(22)}) == [
        float(i) for i in reversed(range(2, 23))
    ]
