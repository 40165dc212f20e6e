"""HTTP-layer parity facade (SURVEY §2.1 S6/S7, §2.5 O2, §2.7 serializer).

The reference's Django/tastypie layer (`«dds»/django_datastream/
resources.py StreamResource`, `serializers.py DatastreamSerializer` — §0
caveat) is a thin adapter: parse query params → call the engine → ISO-8601
JSON with limit/offset pagination. This module is that adapter without the
web framework — a host app mounts these functions behind any HTTP server;
the engine contract is what's tested.

Param spellings follow the reference's documented query string:
``granularity/g, start/s, end/e, reverse/r, value_downsamplers/v,
time_downsamplers/t`` plus tastypie's ``limit/offset``.
"""

from __future__ import annotations

import datetime as _dt
import json
from typing import Any

from .api import Datastream
from .granularity import BY_NAME

_GRANULARITY_ALIASES = {g: g for g in BY_NAME}
_GRANULARITY_ALIASES.update({g[0]: g for g in ("days", "hours", "minutes", "seconds")})


def _iso(ts: _dt.datetime | None) -> str | None:
    if ts is None:
        return None
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _parse_ts(v: str | None) -> _dt.datetime | None:
    if v is None:
        return None
    try:
        # epoch seconds or ISO-8601 (both accepted by the reference)
        return _dt.datetime.fromtimestamp(float(v), tz=_dt.timezone.utc)
    except ValueError:
        return _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))


def _encode_cursor(payload: dict) -> str:
    """Opaque page cursor: URL-safe base64 of the JSON key payload.
    Opaque BY CONTRACT — clients must round-trip it unmodified."""
    import base64

    return base64.urlsafe_b64encode(
        json.dumps(payload, default=_json_default).encode()
    ).decode("ascii")


def _decode_cursor(s: str, want_key: str) -> dict:
    """Decode + validate: the payload must carry ``want_key`` (a
    stream cursor pasted into the table endpoint — or vice versa —
    is malformed HERE, not a KeyError five frames deeper)."""
    import base64

    try:
        out = json.loads(base64.urlsafe_b64decode(s.encode("ascii")))
        if not isinstance(out, dict) or want_key not in out:
            raise ValueError
        return out
    except Exception:
        raise ValueError(f"malformed cursor {s!r}") from None


def list_streams(
    engine: Datastream,
    query_tags: dict | None = None,
    limit: int = 100,
    offset: int = 0,
) -> dict[str, Any]:
    """GET /api/v1/stream/ — paginated stream list with tag filter."""
    streams = engine.find_streams(query_tags)
    total = len(streams)
    page = streams[offset : offset + limit]
    objects = [
        {
            "stream_id": s["stream_id"],
            "value_type": s["value_type"],
            "highest_granularity": s["highest_granularity"],
            "value_downsamplers": s["value_downsamplers"],
            "time_downsamplers": s["time_downsamplers"],
            "tags": s["tags"],
            "earliest_datapoint": _iso(s["earliest_ts"]),
            "latest_datapoint": _iso(s["latest_ts"]),
        }
        for s in page
    ]
    return {
        "meta": {
            "limit": limit,
            "offset": offset,
            "total_count": total,
            "next": (
                f"?limit={limit}&offset={offset + limit}"
                if offset + limit < total
                else None
            ),
            "previous": (
                f"?limit={limit}&offset={max(0, offset - limit)}"
                if offset > 0
                else None
            ),
        },
        "objects": objects,
    }


def aggregate_streams(
    engine: Datastream,
    query_tags: dict | None = None,
    params: dict[str, str] | None = None,
    limit: int = 100,
    offset: int = 0,
) -> dict[str, Any]:
    """GET /api/v1/aggregate/ — engine extension endpoint over
    ``Datastream.aggregate`` (automatic materialized-aggregate routing).
    Params: ``bucket`` (seconds, required), ``start``/``s``, ``end``/``e``
    (end exclusive, both bucket-aligned), plus ``limit``/``offset``."""
    p = params or {}
    if "bucket" not in p:
        raise ValueError("bucket (seconds) is required")
    df = engine.aggregate(
        query_tags,
        bucket_seconds=int(p["bucket"]),
        start=_parse_ts(p.get("start", p.get("s"))),
        end=_parse_ts(p.get("end", p.get("e"))),
    )
    rows = df.offset(offset).limit(limit).collect()
    objects = []
    for r in rows:
        d = r.asDict(recursive=True)
        objects.append(
            {
                "stream_id": d["stream_id"],
                "bucket": _iso(d["bucket_ts"]),
                "v": {k: x for k, x in (d["v"] or {}).items() if x is not None},
                "t": {k: _iso(x) for k, x in (d["t"] or {}).items() if x is not None},
            }
        )
    return {
        "meta": {"limit": limit, "offset": offset, "bucket": int(p["bucket"])},
        "objects": json.loads(json.dumps(objects)),
    }


def stream_datapoints(
    engine: Datastream,
    stream_id: str,
    params: dict[str, str] | None = None,
    limit: int = 100,
    offset: int = 0,
) -> dict[str, Any]:
    """GET /api/v1/stream/<uuid>/ — datapoints with the reference's query
    params, serialized ISO-8601.

    Pagination: tastypie ``limit``/``offset`` for reference parity, or
    KEYSET via ``cursor`` (the previous response's ``meta.next_cursor``)
    — the scale path: the cursor becomes a time-range predicate pushed
    into the parquet scan (``start_exclusive``/``end_exclusive``
    through the engine), so each page costs one pruned scan + limit
    instead of a deepening offset."""
    p = params or {}
    gran_param = p.get("granularity", p.get("g", "seconds"))
    if gran_param not in _GRANULARITY_ALIASES:
        from .exceptions import UnsupportedGranularity

        raise UnsupportedGranularity(gran_param)
    gran = _GRANULARITY_ALIASES[gran_param]
    reverse = p.get("reverse", p.get("r", "")) in ("1", "true", "True")
    sx = _parse_ts(p.get("start_exclusive", p.get("sx")))
    ex = _parse_ts(p.get("end_exclusive", p.get("ex")))
    start = _parse_ts(p.get("start", p.get("s")))
    end = _parse_ts(p.get("end", p.get("e")))
    cursor = p.get("cursor")
    if cursor:
        cur_ts = _parse_ts(_decode_cursor(cursor, "t")["t"])
        # the page boundary narrows the range from the cursor side
        # (forward: everything strictly after the last row; reverse:
        # strictly before). The cursor came from a row inside the
        # range, so it is tighter than the inclusive bound on its side,
        # which it replaces.
        if reverse:
            ex = cur_ts if ex is None else min(ex, cur_ts)
            end = None
        else:
            sx = cur_ts if sx is None else max(sx, cur_ts)
            start = None
    dps = engine.get_data(
        stream_id,
        gran,
        start=start,
        end=end,
        start_exclusive=sx,
        end_exclusive=ex,
        reverse=reverse,
        value_downsamplers=(
            p["value_downsamplers"].split(",") if "value_downsamplers" in p
            else (p["v"].split(",") if "v" in p else None)
        ),
        time_downsamplers=(
            p["time_downsamplers"].split(",") if "time_downsamplers" in p
            else (p["t"].split(",") if "t" in p else None)
        ),
    )
    # LIMIT/OFFSET evaluated engine-side (Spark offset+limit → one job);
    # cursor mode never pays an offset
    page_df = (
        dps.df.limit(limit) if cursor else dps.df.offset(offset).limit(limit)
    )
    paged = type(dps)(page_df, dps._raw, dps._reverse, dps._nominal)
    datapoints = []
    last_key = None
    for d in paged:
        t = d["t"]
        out_t = _iso(t) if isinstance(t, _dt.datetime) else {
            k: _iso(v) for k, v in t.items()
        }
        v = d["v"]
        last_key = t if isinstance(t, _dt.datetime) else d.get("bucket")
        datapoints.append({"t": out_t, "v": v})
    meta: dict[str, Any] = {"limit": limit, "offset": offset}
    # FULL-precision boundary (isoformat keeps microseconds) — the
    # display form _iso() truncates to whole seconds, which would
    # re-serve or skip every sub-second row at a page edge
    meta["next_cursor"] = (
        _encode_cursor({"t": last_key.isoformat()})
        if len(datapoints) == limit and last_key is not None
        else None
    )
    return {
        "meta": meta,
        "stream_id": stream_id,
        "granularity": gran,
        "datapoints": json.loads(json.dumps(datapoints)),  # ensure JSON-safe
    }


def list_tables(
    engine: Datastream,
    limit: int = 100,
    offset: int = 0,
) -> dict[str, Any]:
    """GET /api/v1/table/ — the EXTERNAL-TABLE catalog (engine
    extension): every registered lakehouse table, with its detected
    format, served by name alongside the stream endpoints."""
    tables = engine.external_tables()
    total = len(tables)
    page = tables[offset : offset + limit]
    return {
        "meta": {"limit": limit, "offset": offset, "total_count": total},
        "objects": page,
    }


def table_rows(
    engine: Datastream,
    name: str,
    params: dict[str, str] | None = None,
    limit: int = 100,
    offset: int = 0,
) -> dict[str, Any]:
    """GET /api/v1/table/<name>/ — rows of a registered external
    table (arbitrary schema → JSON with ISO timestamps).
    ``version`` / ``snapshot_id`` / ``as_of`` (epoch ms) pin time
    travel, exactly like the library calls.

    Pagination, two modes:

    - tastypie ``limit``/``offset`` (reference parity): stateless,
      re-sorts per request by construction; deterministic ONLY when
      the orderable columns form a unique key — duplicate sort tuples
      can straddle page boundaries across requests.
    - KEYSET via ``cursor`` (the previous response's
      ``meta.next_cursor``) — the scale path: the cursor's key tuple
      becomes a lexicographic ``>`` predicate whose leading-column
      bound PUSHES into the parquet scan, and the page is a pruned
      scan + top-K instead of an ever-deepening offset. The key is
      the table's atomic orderable columns in schema order; rows
      whose ENTIRE key tuple duplicates the cursor's are skipped
      (exact pagination needs a unique key — same caveat as offset
      mode, stated here instead of hidden)."""
    p = params or {}
    df = engine.external_table(
        name,
        version=int(p["version"]) if "version" in p else None,
        snapshot_id=(
            int(p["snapshot_id"]) if "snapshot_id" in p else None
        ),
        as_of_timestamp_ms=int(p["as_of"]) if "as_of" in p else None,
    )
    cols = df.columns
    # deterministic pagination over ORDERABLE columns only — Spark
    # cannot sort by map-typed expressions at ANY nesting depth, and
    # legal Delta/Iceberg schemas carry them.
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        AtomicType,
        MapType,
        StructType,
    )

    def _orderable(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    sortable = [
        f.name for f in df.schema.fields if _orderable(f.dataType)
    ]
    # the cursor KEY: atomic orderable columns whose JSON forms
    # round-trip through a cast (binary does not; arrays/structs
    # stay sort-only)
    from pyspark.sql.types import BinaryType

    key_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, AtomicType)
        and not isinstance(f.dataType, BinaryType)
    ]
    cursor = p.get("cursor")
    meta: dict[str, Any] = {
        "limit": limit,
        "offset": offset,
        "columns": cols,
        "name": name,
    }
    if cursor and key_cols:
        key = _decode_cursor(cursor, "k")["k"]
        page_df = _keyset_page_df(df, key_cols, key)
        rows = page_df.limit(limit).collect()
    else:
        # key columns LEAD the sort (remaining orderable columns only
        # break ties): the next_cursor handed out below is then
        # consistent with the cursor pages' ordering — a sort led by
        # a non-key column (array/binary) would make the cursor skip
        # and repeat rows across the mode switch
        order = key_cols + [c for c in sortable if c not in key_cols]
        page_df = df.orderBy(*order) if order else df
        rows = page_df.offset(offset).limit(limit).collect()
    objects = [
        json.loads(
            json.dumps(r.asDict(recursive=True), default=_json_default)
        )
        for r in rows
    ]
    if key_cols and len(rows) == limit:
        last = rows[-1].asDict()
        meta["next_cursor"] = _encode_cursor(
            {
                "k": {
                    c: (
                        last[c].isoformat()  # full precision, not _iso
                        if isinstance(last[c], (_dt.datetime, _dt.date))
                        else last[c]
                    )
                    for c in key_cols
                }
            }
        )
    else:
        meta["next_cursor"] = None
    return {"meta": meta, "objects": objects}


def _keyset_page_df(df, key_cols: list[str], key: dict):
    """The keyset page plan: rows strictly after the cursor's key
    tuple in (key_cols) lexicographic order, sorted. The leading
    column's range bound is conjoined EXPLICITLY so it reaches the
    parquet scan as a PUSHED filter (the OR-chain alone is not
    pushable); with ``limit`` on top Spark plans a TakeOrdered top-K
    over the pruned scan — no global re-sort, no deepening offset."""
    from pyspark.sql import functions as F

    in_key = [c for c in key_cols if c in key]

    def _lit(c):
        return F.lit(key[c]).cast(df.schema[c].dataType)

    def _gt(c):
        # nulls sort FIRST in Spark asc: "greater than null" is
        # simply "not null"; a plain > against a null literal would
        # be null (false) and silently end pagination
        if key[c] is None:
            return F.col(c).isNotNull()
        return F.col(c) > _lit(c)

    # lexicographic strictly-greater over the key tuple
    gt = F.lit(False)
    for c in reversed(in_key):
        gt = _gt(c) | (F.col(c).eqNullSafe(_lit(c)) & gt)
    # skip the pushable bound when the cursor's leading value is null
    # (every value satisfies "≥ null-first")
    lead = in_key[0] if in_key else None
    if lead is not None and key[lead] is not None:
        gt = (F.col(lead) >= _lit(lead)) & gt
    return df.filter(gt).orderBy(*key_cols)


def _json_default(v):
    if isinstance(v, _dt.datetime):
        return _iso(v)
    if isinstance(v, (bytes, bytearray)):
        import base64

        return base64.b64encode(bytes(v)).decode("ascii")
    return str(v)
