"""The ``table_formats`` and ``analytics`` workloads: declared queries
run to the noop sink over seeded tables.

One client, closed loop over a fixed query list.  A warm-up pass, which
is not timed, builds each query, collects its result and compares it to
the query's DuckDB oracle with ``tools/verify_local.frames_equal``.  Timed
passes then build each query (the ``plans`` layer) and run it to the
noop sink (Spark), until the run's seconds are spent.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import tempfile
import time

import datagen
import harness as H

# name -> family.  Sized so that a run (one cold oracle pass, two warm
# timed passes) takes about 40 s on a 4-core box.
TABLE_FORMATS: dict[str, str] = {
    "q172_txn_delete_vectors": "txn",
    "q207_delta_read": "delta",
    "q241_convert_iceberg_to_delta": "delta",
    "q211_iceberg_read": "iceberg",
    "q218_publish_iceberg": "iceberg",
    "q174_txn_stream_sink": "format_streaming",
}

ANALYTICS: dict[str, str] = {
    "q02_range_scan": "core",
    "q04_projection": "core",
    "q08_downsamplers": "core",
    "q10_nominal": "core",
    "q11_time_downsamplers": "core",
    "q16_derivative": "core",
    "q19_windows": "core",
    "q21_join": "core",
    "q22_multijoin": "core",
    "q28_pandas_stddev": "core",
    "q36_trigram_jaccard_pairs": "operators",
    "q131_equidepth_bands": "operators",
}

FAMILIES = ("txn", "delta", "iceberg", "format_streaming", "core", "operators")
SF = 0.01  # scale factor of the generated tables


class Workload:
    def __init__(self, name: str, spark, seed: int, workdir: str):
        self.name, self.spark, self.seed, self.workdir = name, spark, seed, workdir
        self.queries = TABLE_FORMATS if name == "table_formats" else ANALYTICS
        self.data_dir: str | None = None
        self.pass_s: list[float] = []
        # name -> (traced seconds, untraced seconds) in a traced run
        self.by_name: dict[str, tuple[list[float], list[float]]] = {}
        self.family_s: dict[str, float] = dict.fromkeys(FAMILIES, 0.0)
        self.build_s: list[float] = []  # builder seconds of traced queries
        self.pass_write_s: list[float] = []  # builder seconds per pass
        self.input_rows = 0
        self._tmp_before: set[str] = set()
        self.unchecked: list[str] = []
        self._build_groups: list[str] = []

    def setup(self, rep: int) -> None:
        """One set-up: generate the seeded tables.  The first copy is the
        one the queries read."""
        d = os.path.join(self.workdir, f"data{rep}")
        rows = datagen.generate(d, self.seed, SF)
        if self.data_dir is None:
            self.data_dir, self.input_rows = d, sum(rows.values())

    def warmup(self, ops) -> None:
        """Untimed first pass: every query against its DuckDB oracle."""
        import duckdb

        from django_datastream_spark.plans import declared
        from tools.verify_local import frames_equal

        # the builders write their txn, Delta and Iceberg tables and sink
        # checkpoints in the temp dir: note what is there before
        self._tmp_before = set(os.listdir(tempfile.gettempdir()))
        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data_dir}/{t}.parquet')"
                )
            for name in self.queries:
                ops.attempted += 1
                try:
                    got = declared.QUERIES[name](self.spark, self.data_dir).toPandas()
                except Exception as e:  # counted, the run goes on
                    ops.fail(f"{name}: {type(e).__name__}: {e}")
                    continue
                oracle = declared.ORACLES.get(name)
                if oracle is None:
                    self.unchecked.append(name)
                    continue
                ok, msg = frames_equal(got, con.execute(oracle).df())
                if not ok:
                    ops.fail(f"{name}: {msg}")
        finally:
            con.close()

    def _query(self, ops, name: str, traced: bool) -> float:
        """One timed query; returns its builder seconds (0 if it failed)."""
        from django_datastream_spark.plans import declared

        sc = self.spark.sparkContext

        def op():
            """Build (the ``plans`` layer, where the builders commit and
            publish) and run to the noop sink; return the build seconds.
            A traced query's build jobs get their own group, counted as
            ``plans.build_jobs``."""
            if traced:
                group = sc.getLocalProperty("spark.jobGroup.id")
                sc.setJobGroup(group + "-build", "build")
            t0 = time.perf_counter()
            with ops.tracer.span("plans.build") if traced else contextlib.nullcontext():
                df = declared.QUERIES[name](self.spark, self.data_dir)
            build = time.perf_counter() - t0
            if traced:
                self._build_groups.append(group + "-build")
                sc.setJobGroup(group, "query")
            with ops.tracer.span("spark.execute") if traced else contextlib.nullcontext():
                df.write.format("noop").mode("overwrite").save()
            return build

        build, dt = ops.run("query", op, traced=traced)
        if dt is None:
            return 0.0
        if ops.tracer is not None:
            self.by_name.setdefault(name, ([], []))[0 if traced else 1].append(dt)
            if traced:
                self.build_s.append(build)
                self.family_s[self.queries[name]] += dt
        return build

    def run(self, ops, seconds: float, traced: bool) -> None:
        """Closed loop: whole passes, at least two, until ``seconds`` have
        passed.  A traced run traces every other query, alternating from
        pass to pass, so each query is measured traced and untraced."""
        t0 = time.perf_counter()
        p = 0
        while p < 2 or time.perf_counter() - t0 < seconds:
            ts = time.perf_counter()
            self.pass_write_s.append(sum(
                self._query(ops, name, traced and (p + j) % 2 == 1)
                for j, name in enumerate(self.queries)
            ))
            self.pass_s.append(time.perf_counter() - ts)
            ops.collect_counters()
            if ops.counters is not None:
                for g in self._build_groups:
                    H.add_into(ops.spark_by_kind.setdefault("build", {}),
                               ops.counters.group(g))
                self._build_groups.clear()
            p += 1

    def trace_overhead_ms(self, ops) -> float:
        """Median over queries of (traced - untraced) seconds, in ms."""
        diffs = [
            statistics.mean(on) - statistics.mean(off)
            for on, off in self.by_name.values() if on and off
        ]
        return 1e3 * statistics.median(diffs) if diffs else 0.0

    def final_check(self, ops) -> None:
        """The oracle check runs before the timed passes (``warmup``)."""

    def metrics(self, ops) -> dict[str, tuple[float, str]]:
        lat = [x * 1e3 for x in ops.samples.get("query", [])]
        out: dict[str, tuple[float, str]] = {"pass_s": (statistics.median(self.pass_s), "s")}
        if lat:
            v, pct, n = H.tail(lat)
            out.update(
                op_p50_ms=(statistics.median(lat), "ms"),
                query_pass_s=(statistics.median(self.pass_s), "s"),
                query_p50_s=(statistics.median(lat) / 1e3, "s"), query_tail_s=(v / 1e3, "s"),
                query_tail_pct=(pct, "pct"), query_samples=(n, "count"),
            )
        # the write metric is per pass: the builders differ several-fold
        # in cost, so a median over single builder calls falls between
        # two queries and jumps with small changes in either
        out["write_p50_ms"] = (statistics.median(self.pass_write_s) * 1e3, "ms")
        # the store is the tables the builders wrote, each in a new
        # directory of the temp dir (the package zip the session ships is
        # a file there, and is left out); a "point" is an input row
        tmp = tempfile.gettempdir()
        files = size = 0
        for n in set(os.listdir(tmp)) - self._tmp_before:
            if os.path.isdir(os.path.join(tmp, n)):
                f, b = H.dir_files_bytes(os.path.join(tmp, n))
                files, size = files + f, size + b
        out["store.files"] = (files, "count")
        out["store.bytes"] = (size, "bytes")
        out["store_bytes_per_point"] = (size / self.input_rows, "bytes")
        out["queries_unchecked"] = (len(self.unchecked), "count")
        return out
