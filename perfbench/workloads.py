"""The benchmark's workloads. Each runs the package's public API in a
closed loop (one driver thread, the next operation starts when the
previous one has finished) on inputs generated from the seed.

A workload provides ``setup()`` (timed into ``setup_s``), ``op()`` (one
timed operation), ``check()`` (untimed output checks against an
independent oracle) and ``named()`` (its own wall-clock metrics).
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pyarrow.parquet as pq

from perfbench import checks, inputs

TIERS = {"1h": 3600, "1d": 86400, "30d": 2592000}


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _observed(row) -> dict:
    return row.asDict() if hasattr(row, "asDict") else dict(row)


class Workload:
    layout_root: str | None = None

    def __init__(self, spark, rec, cache: inputs.InputCache, work_dir: str, seed: int):
        self.spark, self.rec, self.cache = spark, rec, cache
        self.work, self.seed = work_dir, seed
        self.ops = 0

    def noop_sink(self, df, *metrics) -> dict:
        """Run ``df`` to Spark's noop sink (every column computed,
        nothing written) and return ``metrics`` observed on the way."""
        from pyspark.sql import Observation

        obs = Observation()
        df.observe(obs, *metrics).write.format("noop").mode("overwrite").save()
        return _observed(obs.get)


class RefreshRead(Workload):
    """Base root built in set-up; each operation is one refresh with the
    next 6 h delta followed by a realtime read of the 1h, 1d and 30d
    tiers (the coarse ones through the partials store). Set-up runs one
    operation to warm the refresh and read paths."""

    ROWS = 360 * 80  # 80 pages per 6 h window

    def setup(self) -> dict[str, float]:
        from lambdo_spark.rollup.pipeline import run_retention_pipeline

        with self.rec.span("bench.inputs"):
            path, inputs_s = self.cache.prepare(f"pages-r{self.ROWS}-s{self.seed}", self._files)
        self.per_delta = self.ROWS // inputs.PAGE_WINDOWS
        self.base_rows = self.per_delta * inputs.BASE_WINDOWS
        self.base = os.path.join(path, "base")
        self.deltas = [
            os.path.join(path, "delta", f"d{i:03d}.parquet")
            for i in range(inputs.PAGE_WINDOWS - inputs.BASE_WINDOWS)
        ]
        self.layout_root = self.root = os.path.join(self.work, "root")
        with self.rec.span("pipeline.run_retention_pipeline") as s:
            run_retention_pipeline(self.spark, self.spark.read.parquet(self.base), self.root)
        self.build_s = _dur(s)
        self.store_mb = _du(self.root) / 1e6
        self.read_sums: list[tuple[str, int, int]] = []
        self.applied = 0
        self.op_s: list[float] = []
        self.refresh_s: list[float] = []
        self.read_s: list[float] = []
        with self.rec.span("bench.warm") as s:
            self._refresh_and_read()
        self.refresh_s.clear()
        self.read_s.clear()
        return {"inputs_s": inputs_s, "base_root_s": self.build_s, "warm_s": _dur(s)}

    def _files(self) -> dict:
        table = inputs.pages(self.ROWS, self.seed)
        per = table.num_rows // inputs.PAGE_WINDOWS
        base = table.slice(0, per * inputs.BASE_WINDOWS)
        chunk = -(-base.num_rows // 8)
        files = {f"base/part-{i}.parquet": base.slice(i * chunk, chunk) for i in range(8)}
        for w in range(inputs.BASE_WINDOWS, inputs.PAGE_WINDOWS):
            files[f"delta/d{w - inputs.BASE_WINDOWS:03d}.parquet"] = inputs.page_window(table, w)
        return files

    def op(self) -> None:
        with self.rec.span("op", round=self.ops) as s:
            self._refresh_and_read()
        self.op_s.append(_dur(s))
        self.ops += 1

    def _refresh_and_read(self) -> None:
        from lambdo_spark.rollup.incremental import refresh_from_pages

        r = self.applied
        if r >= len(self.deltas):
            raise RuntimeError("no deltas left")
        with self.rec.span("incremental.refresh_from_pages", delta_rows=self.per_delta) as s:
            result = refresh_from_pages(
                self.spark, self.spark.read.parquet(self.deltas[r]), self.root,
                delta_tag=f"d{r:03d}",
            )
        s["attrs"]["parts"] = sum(len(p) for p in result["affected_parts"].values())
        self.refresh_s.append(_dur(s))
        self.applied += 1
        self.read_s += self._read_round(
            r, self.spark.read.parquet(self.base, *self.deltas[: r + 1])
        )

    def _read_round(self, r: int, raw) -> list[float]:
        """Read every tier in realtime over ``raw`` (base and the first
        ``r + 1`` deltas); returns the read walls."""
        from pyspark.sql import functions as F

        from lambdo_spark.rollup.realtime import read_realtime_tier

        walls = []
        for tier in TIERS:
            with self.rec.span("realtime.read", tier=tier) as rs:
                with self.rec.span("realtime.plan"):
                    df = read_realtime_tier(self.spark, self.root, tier, raw, cascade=tier != "1h")
                got = self.noop_sink(df, F.sum("n_points").alias("n"))
            walls.append(_dur(rs))
            self.read_sums.append((f"{tier}_{r}", r, got["n"]))
            if self.rec.sc is not None:
                rs["attrs"]["snapshot_files"] = self._snapshot_files(tier)
        return walls

    def _snapshot_files(self, tier: str) -> int:
        from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

        tables = [f"tier_{tier}"] + (["partials_1h"] if tier != "1h" else [])
        return sum(
            IcebergLayoutTable(os.path.join(self.root, t)).plan_files()["total_files"]
            for t in tables
        )

    def check(self) -> list[tuple[str, list[str]]]:
        from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

        out = []
        for read, r, got in self.read_sums:
            want = self.base_rows + (r + 1) * self.per_delta
            out.append((f"realtime_{read}", checks.equal(
                f"realtime read {read} sum(n_points)", want, got)))
        files = sorted(
            os.path.join(self.base, f) for f in os.listdir(self.base) if f.endswith(".parquet")
        ) + self.deltas[: self.applied]
        rows = self.base_rows + self.applied * self.per_delta
        for tier, tsec in TIERS.items():
            table = IcebergLayoutTable(os.path.join(self.root, f"tier_{tier}"))
            actual = checks.tier_frame(table.read_tier(self.spark))
            expected = checks.tier_oracle(files, tsec)
            out.append((f"tier_{tier}", checks.equal(
                f"tier_{tier} sum(n_points)", rows, int(actual["n_points"].sum())
            ) + checks.equal(f"tier_{tier} rows", len(expected), len(actual)) + checks.compare(
                expected, actual, ["url", "bucket_s"],
                exact=("n_points", "min_ts", "max_ts", "lang_hist"), approx=("mean_len",),
                label=f"tier_{tier}",
            )))
        return out

    def named(self) -> dict[str, float]:
        return {
            # delta rows per second of refresh and reads; the latency is
            # the refresh (the finalized tiers' freshness lag)
            "rows_per_s": len(self.op_s) * self.per_delta / sum(self.op_s),
            "op_p50_ms": statistics.median(self.refresh_s) * 1000,
            "build_pages_per_s": self.base_rows / self.build_s,
            "build_store_mb": self.store_mb,
            "refresh_p50_s": statistics.median(self.refresh_s),
            "read_p50_ms": statistics.median(self.read_s) * 1000,
        }


class SeriesOps(Workload):
    """Half of ``SeriesStream``: one lambdo Workflow per run, rolling
    mean and median (window 7) per user, EWMA per user, and hourly CUSUM
    and seasonal anomaly flags per event type; every table goes to the
    noop sink."""

    ROWS, USERS = 7_500, 150
    ALPHA, SLACK, WINDOW = 0.3, 50, 7
    # table -> layer that does its work
    SINKS = {"events": "column_ops", "smoothed": "analytics", "change": "analytics",
             "anomalies": "analytics"}

    def spec(self, path: str) -> dict:
        order = ["ts", "event_id"]
        hourly = (
            "SELECT event_type, CAST(floor(unix_timestamp(ts)/3600)*3600 AS LONG) AS bucket_s, "
            "CAST(sum(CAST(round(value*100,0) AS LONG)) AS LONG) AS v FROM events GROUP BY 1, 2"
        )
        return {"tables": [
            {"id": "events", "operation": "source", "format": "parquet", "path": path,
             "order_by": order, "partition_by": ["user_id"],
             "columns": [
                 {"id": "mean_7", "operation": "roll", "kernel": "mean", "inputs": ["value"],
                  "window": self.WINDOW},
                 {"id": "median_7", "operation": "roll", "kernel": "median",
                  "inputs": ["value"], "window": self.WINDOW}]},
            {"id": "smoothed", "operation": "ewma", "source": "events", "keys": ["user_id"],
             "value": "value", "order": order, "alpha": self.ALPHA},
            {"id": "hourly", "operation": "sql", "inputs": ["events"], "query": hourly},
            {"id": "change", "operation": "cusum", "source": "hourly", "keys": ["event_type"],
             "value": "v", "order": ["bucket_s"], "slack": self.SLACK},
            {"id": "anomalies", "operation": "anomaly", "source": "hourly",
             "keys": ["event_type"], "value": "v", "bucket": "bucket_s", "lookback": 7,
             "min_prior": 3, "threshold": 2.0},
        ]}

    def prepare(self) -> float:
        """Generate the inputs; returns the seconds it took."""
        with self.rec.span("bench.inputs"):
            self.path, inputs_s = self.cache.prepare(
                f"events-r{self.ROWS}-u{self.USERS}-s{self.seed}", self._files
            )
        self.counts: list[tuple[str, int]] = []
        self.op_s: list[float] = []
        return inputs_s

    def _files(self) -> dict:
        table = inputs.events(self.ROWS, self.USERS, self.seed)
        chunk = -(-table.num_rows // 4)
        return {f"part-{i}.parquet": table.slice(i * chunk, chunk) for i in range(4)}

    def op(self) -> None:
        from pyspark.sql import functions as F

        from lambdo_spark.plans.compiler import Workflow

        with self.rec.span("bench.workflow", run=self.ops) as s:
            with self.rec.span("compiler.build"):
                self.tables = Workflow(self.spec(self.path), self.spark).execute()
            for table, layer in self.SINKS.items():
                with self.rec.span(f"{layer}.sink", table=table):
                    got = self.noop_sink(self.tables[table], F.count(F.lit(1)).alias("rows"))
                self.counts.append((table, got["rows"]))
        self.op_s.append(_dur(s))
        self.ops += 1

    def check(self) -> list[tuple[str, list[str]]]:
        from pyspark.sql import functions as F

        events = pq.read_table(self.path).to_pandas()
        cusum = checks.hourly_cusum_oracle(events, self.SLACK)
        want = {"events": len(events), "smoothed": len(events), "change": len(cusum),
                "anomalies": len(cusum)}
        out = [
            (f"rows_{table}", checks.equal(f"{table} rows", want[table], got))
            for table, got in self.counts
        ]
        sample = np.random.default_rng([self.seed, 9]).choice(self.USERS, 25, replace=False)
        keep = F.col("user_id").isin([int(u) for u in sample])
        rolled = self.tables["events"].where(keep).select("event_id", "mean_7", "median_7")
        smoothed = self.tables["smoothed"].where(keep).select("event_id", "ewma")
        actual = rolled.toPandas().merge(smoothed.toPandas(), on="event_id", how="outer")
        expected = checks.rolling_oracle(
            events[events["user_id"].isin(sample)], self.WINDOW, self.ALPHA
        )
        out.append(("series_sample", checks.compare(
            expected, actual, ["event_id"], approx=("mean_7", "median_7", "ewma"),
            label="rolling/ewm sample",
        )))
        change = self.tables["change"].select(
            "event_type", "bucket_s", "v", "cusum_pos", "cusum_neg"
        ).toPandas()
        out.append(("hourly_cusum", checks.compare(
            cusum, change, ["event_type", "bucket_s"], exact=("v", "cusum_pos", "cusum_neg"),
            label="hourly cusum",
        )))
        return out


class StreamTwins(Workload):
    """Half of ``SeriesStream``: an ``availableNow`` catch-up of the
    seeded backlog through ``streaming_ewma`` and then
    ``streaming_cusum``, one backlog file per micro-batch, into the noop
    sink."""

    ROWS, KEYS, FILES = 2_000, 250, 2
    ALPHA, TARGET, SLACK = 0.3, 500, 10

    def prepare(self) -> float:
        """Generate the inputs; returns the seconds it took."""
        with self.rec.span("bench.inputs"):
            self.path, inputs_s = self.cache.prepare(
                f"backlog-r{self.ROWS}-k{self.KEYS}-s{self.seed}", self._files
            )
            # the file source takes files oldest first: make modification
            # order the time order
            for i in range(self.FILES):
                os.utime(os.path.join(self.path, f"b{i:03d}.parquet"), (inputs.EPOCH_S + i,) * 2)
            self.schema = self.spark.read.parquet(self.path).schema
        self.wall_s: list[float] = []
        self.batch_ms: list[float] = []
        self.totals: list[tuple[str, dict]] = []
        return inputs_s

    def _files(self) -> dict:
        table = inputs.backlog(self.ROWS, self.KEYS, self.seed)
        chunk = self.ROWS // self.FILES
        return {f"b{i:03d}.parquet": table.slice(i * chunk, chunk) for i in range(self.FILES)}

    def _twin(self, name: str, stream):
        from pyspark.sql import functions as F

        from lambdo_spark.streaming.detect import streaming_cusum
        from lambdo_spark.streaming.smoothing import streaming_ewma

        rows = F.count(F.lit(1)).alias("rows")
        if name == "ewma":
            out = streaming_ewma(stream, self.ALPHA)
            return out.observe(name, rows, F.sum("ewma").alias("sum_ewma"),
                               F.sum(F.col("ewma") * F.col("ewma")).alias("sum_ewma_sq"))
        out = streaming_cusum(stream, self.TARGET, slack=self.SLACK)
        return out.observe(name, rows, F.sum("cusum_pos").alias("sum_pos"),
                           F.sum("cusum_neg").alias("sum_neg"),
                           F.max("cusum_pos").alias("max_pos"))

    def op(self) -> None:
        for twin in ("ewma", "cusum"):
            checkpoint = os.path.join(self.work, f"checkpoint-{self.ops}-{twin}")
            with self.rec.span("streaming.catch_up", twin=twin) as s:
                src = (
                    self.spark.readStream.schema(self.schema)
                    .option("maxFilesPerTrigger", 1).parquet(self.path)
                )
                q = (
                    self._twin(twin, src).writeStream.format("noop")
                    .option("checkpointLocation", checkpoint)
                    .trigger(availableNow=True).start()
                )
                s["attrs"]["run_id"] = str(q.runId)
                q.awaitTermination()
            self._record(twin, s, q.recentProgress)
        self.ops += 1

    def _record(self, twin: str, span: dict, progress) -> None:
        self.wall_s.append(_dur(span))
        batches = [p for p in progress if p["numInputRows"] > 0]
        total: dict = {}
        for p in batches:
            self.batch_ms.append(p["durationMs"]["triggerExecution"])
            for k, v in _observed(p["observedMetrics"][twin]).items():
                total[k] = max(total.get(k, v), v) if k.startswith("max") else total.get(k, 0) + v
        self.totals.append((twin, total))
        state = batches[-1]["stateOperators"][0] if batches else None
        span["attrs"].update(
            batches=len(batches),
            state_rows=state["numRowsTotal"] if state else 0,
            state_bytes=state["memoryUsedBytes"] if state else 0,
            commit_ms=sum(p["stateOperators"][0]["commitTimeMs"] for p in batches),
        )

    def check(self) -> list[tuple[str, list[str]]]:
        backlog = pq.read_table(self.path).to_pandas()
        want = checks.stream_oracle(backlog, self.ALPHA, self.TARGET, self.SLACK)
        out = []
        for i, (twin, got) in enumerate(self.totals):
            fails = []
            for k, v in want[twin].items():
                rtol = 1e-9 if isinstance(v, float) else 0.0
                fails += checks.equal(f"{twin} catch-up {i} {k}", v, got.get(k), rtol=rtol)
            out.append((f"{twin}_{i}", fails))
        return out


class SeriesStream(Workload):
    """lambdo's column-definition path and its streaming twins: each
    operation runs the ``SeriesOps`` Workflow and then the
    ``StreamTwins`` catch-ups. Set-up runs one operation to warm both
    (code generation, Python workers, the state store)."""

    def __init__(self, *args):
        super().__init__(*args)
        self.series, self.stream = SeriesOps(*args), StreamTwins(*args)
        # the backlog goes through both twins
        self.rows = self.series.ROWS + 2 * self.stream.ROWS

    def setup(self) -> dict[str, float]:
        inputs_s = self.series.prepare() + self.stream.prepare()
        with self.rec.span("bench.warm") as s:
            self.series.op()
            self.stream.op()
        for timings in (self.series.op_s, self.stream.wall_s, self.stream.batch_ms):
            timings.clear()
        self.op_s: list[float] = []
        return {"inputs_s": inputs_s, "warm_s": _dur(s)}

    def op(self) -> None:
        with self.rec.span("op", round=self.ops) as s:
            self.series.op()
            self.stream.op()
        self.op_s.append(_dur(s))
        self.ops += 1

    def check(self) -> list[tuple[str, list[str]]]:
        return self.series.check() + self.stream.check()

    def named(self) -> dict[str, float]:
        series, stream = self.series, self.stream
        return {
            "rows_per_s": self.ops * self.rows / sum(self.op_s),
            "op_p50_ms": statistics.median(self.op_s) * 1000,
            "series_rows_per_s": len(series.op_s) * series.ROWS / sum(series.op_s),
            "stream_rows_per_s": len(stream.wall_s) * stream.ROWS / sum(stream.wall_s),
            "stream_batch_p50_ms": statistics.median(stream.batch_ms),
        }


WORKLOADS = {"refresh_read": RefreshRead, "series_stream": SeriesStream}
