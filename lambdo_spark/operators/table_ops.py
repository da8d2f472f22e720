"""Table operators T1–T10 (SURVEY.md §2.1) as DataFrame compositions.

Parity notes per op cite the reference implementation; the *plan* is
always declarative so Catalyst gets pushdown/pruning/broadcast for
free — the reference applies filters last by rule
(/root/reference/lambdo/Topology.py:83-85) whereas we let the
optimizer push them down (semantics identical: predicates are plain
boolean columns).
"""

from __future__ import annotations

from typing import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def source(spark: SparkSession, fmt: str, path: str, options: dict | None = None) -> DataFrame:
    """T1/T3(0-input) — source scan (reference: pandas:read_csv table
    function, tests/test_table_populate.py:10-34). Parquet is the
    native scale format; csv kept for reference parity."""
    r = spark.read
    for k, v in (options or {}).items():
        r = r.option(k, v)
    if fmt == "csv":
        r = r.option("header", True).option("inferSchema", True)
    return r.format(fmt).load(path)


def extend(prev: DataFrame) -> DataFrame:
    """T2 — new table = previous table's rows (reference
    Table.py:435-445). A free alias in Spark's immutable model."""
    return prev


def map_table(df: DataFrame, fn, schema) -> DataFrame:
    """T3 (1-input UDF table) — whole-table function as a distributed
    mapInPandas (reference Table.py:461-506 calls the UDF on the full
    frame; here the kernel sees Arrow batches per partition)."""
    return df.mapInPandas(fn, schema=schema)


def whole_groups(batches: Iterator, keys: Sequence[str]) -> Iterator:
    """Regroup the Arrow batches of a partition sorted by ``keys`` into
    frames of whole groups, for a ``mapInPandas`` kernel that needs
    each group entire: one Python call per batch, not per group. A
    batch's last group may go on in the next batch, so it is held back
    as a list of pieces and joined once, when a later batch starts
    another group: a group spanning many batches is copied once, not
    once per batch. Memory stays O(batch + largest group), not
    O(partition). NULL keys form one group; with no keys the whole
    partition is one group."""
    import numpy as np
    import pandas as pd

    def same(col, v):  # NULL-safe: a NULL key equals a NULL key
        return (col.isna() if pd.isna(v) else col == v).to_numpy()

    held = []
    for b in batches:
        if len(b) == 0:
            continue
        tail = np.ones(len(b), dtype=bool)
        for k in keys:
            tail &= same(b[k], b[k].iloc[-1])
        cut = np.flatnonzero(~tail)
        s = cut[-1] + 1 if len(cut) else 0
        if s == 0 and held and all(
            same(held[-1][k].iloc[-1:], b[k].iloc[-1])[0] for k in keys
        ):
            held.append(b)  # the whole batch continues the held group
            continue
        done = [f for f in held + [b.iloc[:s]] if len(f)]
        if done:
            yield pd.concat(done, ignore_index=True)
        held = [b.iloc[s:]]
    if held:
        yield pd.concat(held, ignore_index=True)


def project(df: DataFrame, inputs: Sequence[str], outputs: Sequence[str] | None = None) -> DataFrame:
    """T4 — distinct combinations, renamed (reference Table.py:508-554:
    drop_duplicates at :540-543, rename :546-552)."""
    out = df.select(*inputs).dropDuplicates(list(inputs))
    if outputs:
        out = out.toDF(*outputs)
    return out


def product(dfs: Sequence[DataFrame]) -> DataFrame:
    """T5 — cartesian product. Declared-but-unimplemented in the
    reference (Table.py:370-371 logs an error); trivial here."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.crossJoin(d)
    return out


def global_ordinal(
    df: DataFrame,
    order_by: Sequence[str] | None,
    out_col: str = "__rn__",
    zero_based: bool = False,
) -> DataFrame:
    """Dense global row ordinal WITHOUT a one-reducer sort.

    The naive ``row_number() OVER (ORDER BY ...)`` forces a
    single-partition Exchange — the canonical 100-TB scale-killer.
    Two-phase instead: (1) distributed range-partition sort (or the
    existing physical partitioning when ``order_by`` is None — the
    reference's implicit frame order, std.py:27-28), (2) per-partition
    counts → cumulative offsets (O(#partitions) driver rows), (3)
    partition-local row_number + offset. The sorted frame is persisted
    so the count job and the final job pin the SAME range boundaries
    (repartitionByRange samples; re-evaluation could move them).

    Cache lifecycle: the persisted sorted frame stays registered until
    the session ends or ``spark.catalog.clearCache()`` — deliberate
    (unpersisting before the caller materializes would re-sample the
    range boundaries and corrupt the ordinals). Long-lived sessions
    issuing many ordinals over large frames should clearCache between
    them; blocks spill to disk rather than OOM in the meantime.
    """
    if order_by:
        cols = [F.col(c) for c in order_by]
        sdf = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        local_order = cols
    else:
        # physical order: monotonically_increasing_id is (partition
        # index << 33) | local offset — already globally ordered by
        # (pid, local position); no shuffle needed before numbering
        sdf = df.withColumn("__mid__", F.monotonically_increasing_id())
        local_order = [F.col("__mid__")]
    sdf = sdf.withColumn("__pid__", F.spark_partition_id()).persist()
    counts = {
        r["__pid__"]: r["n"]
        for r in sdf.groupBy("__pid__").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not counts:
        return (
            sdf.withColumn(out_col, F.lit(None).cast("long"))
            .drop("__pid__", "__mid__")
        )
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(int(p)) for p in offsets]),
            F.array(*[F.lit(int(o)) for o in offsets.values()]),
        ),
        F.col("__pid__"),
    )
    w = Window.partitionBy("__pid__").orderBy(*local_order)
    rn = (F.row_number().over(w) - F.lit(1) + off).cast("long")
    out = sdf.withColumn(out_col, rn if zero_based else rn + F.lit(1))
    return out.drop("__pid__", "__mid__") if not order_by else out.drop("__pid__")


def join_tables(
    dfs: Sequence[DataFrame],
    keys: Sequence[Sequence[str] | None],
    suffixes: Sequence[str] | None = None,
    left_suffix: str | None = None,
) -> DataFrame:
    """T6 — left-join a list of tables onto the first (reference
    lambdo/std.py:15-57). ``keys[i]`` are the join columns for table
    i+1; None means join-by-row-number (std.py:27-28 index join),
    realized via the two-phase :func:`global_ordinal` (per-partition
    counts + offsets — no single-partition sort).

    Column collisions on the right side get ``suffixes[i]`` appended
    (std.py suffix renaming); a truthy ``left_suffix`` also renames the
    LEFT side's clashing columns, matching ``pd.merge(suffixes=[l, r])``
    renaming both sides. Catalyst picks broadcast vs sort-merge.
    """
    suffixes = suffixes or [f"_{i+1}" for i in range(len(dfs) - 1)]

    def with_rn(d: DataFrame) -> DataFrame:
        return global_ordinal(d, None, out_col="__rn__")

    left = dfs[0]
    for i, right in enumerate(dfs[1:]):
        key = keys[i] if i < len(keys) else None
        if key is None:
            if "__rn__" not in left.columns:
                left = with_rn(left)
            right = with_rn(right)
            on = ["__rn__"]
        elif isinstance(key, dict):
            # differing key names (reference std.py left_on/right_on +
            # drop of the right key): rename right keys to left names.
            # If the right table ALREADY has a non-key column named lc,
            # suffix-rename it first so the key rename can't produce a
            # duplicate/ambiguous column (pd.merge keeps both via
            # suffixes — same outcome here, via the clash suffix).
            for lc, rc in zip(key["left"], key["right"]):
                if rc != lc:
                    if lc in right.columns:
                        right = right.withColumnRenamed(lc, lc + suffixes[i])
                    right = right.withColumnRenamed(rc, lc)
            on = list(key["left"])
        else:
            on = list(key)
        # suffix-rename collisions (except join keys): right always,
        # left too when left_suffix is set (pd.merge renames both)
        clash = (set(left.columns) & set(right.columns)) - set(on)
        for c in clash:
            right = right.withColumnRenamed(c, c + suffixes[i])
            if left_suffix:
                left = left.withColumnRenamed(c, c + left_suffix)
        left = left.join(right, on=on, how="left")
    return left.drop("__rn__")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on_key: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    direction: str = "backward",
    tolerance: int | float | None = None,
) -> DataFrame:
    """As-of join — the timeseries join the reference lacks entirely
    (SURVEY §2.4: left equi-join only) and Spark has no native form of.

    For each left row, attach ``value_cols`` from the right row with
    the greatest ``right_ts`` <= ``left_ts`` (direction='backward';
    'forward' = smallest right_ts >= left_ts). Ties at equal
    timestamps match (inclusive), like DuckDB/pandas ASOF.
    ``tolerance`` (pandas ``merge_asof`` semantics) drops a match
    farther than that many seconds from the left timestamp — the
    value columns come back NULL, the left row stays.

    Scale shape: union the two sides tagged, ONE shuffle on
    (key, ts), then a running ``last(value, ignorenulls)`` window —
    O(n log n) in the partition, no per-row Python, no range
    cross-join blowup. ``right`` must be unique per (key, right_ts)
    (pre-aggregate if not — enforced here by dropDuplicates for
    determinism).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    key = list(on_key)
    # a value column whose name the left side also carries (and which
    # is neither key nor ts) gets the pandas-merge_asof-style suffix —
    # the bare name would otherwise appear twice in the merged frame
    taken = {c for c in left.columns if c not in key and c != left_ts}
    out_names = {
        c: (f"{c}_right" if c in taken else c) for c in value_cols
    }
    vals = [out_names[c] for c in value_cols]
    r = right.dropDuplicates(key + [right_ts]).select(
        *key,
        F.col(right_ts).alias("__ts__"),
        F.lit(0).alias("__side__"),
        *[F.col(c).alias(out_names[c]) for c in value_cols],
    )
    # matched right timestamp rides along so tolerance can compare it
    r = r.withColumn("__rts__", F.col("__ts__"))
    left_rest = [c for c in left.columns if c not in key and c != left_ts]
    l = left.select(  # noqa: E741
        *key,
        F.col(left_ts).alias("__ts__"),
        F.lit(1).alias("__side__"),
        *[
            F.lit(None).cast(dict(right.dtypes)[c]).alias(out_names[c])
            for c in value_cols
        ],
        *[F.col(c) for c in left_rest],
        F.lit(None).cast(dict(right.dtypes)[right_ts]).alias("__rts__"),
    )
    r = r.select(
        *key, "__ts__", "__side__", *vals,
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in left_rest],
        "__rts__",
    )

    merged = l.unionByName(r)
    # backward: right rows sort BEFORE left at equal ts so they are
    # visible to the running last(); forward mirrors with first()
    if direction == "backward":
        w = (
            Window.partitionBy(*key)
            .orderBy(F.col("__ts__").asc(), F.col("__side__").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        picked = [
            F.last(c, ignorenulls=True).over(w).alias(c)
            for c in (*vals, "__rts__")
        ]
    else:
        w = (
            Window.partitionBy(*key)
            .orderBy(F.col("__ts__").asc(), F.col("__side__").desc())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        picked = [
            F.first(c, ignorenulls=True).over(w).alias(c)
            for c in (*vals, "__rts__")
        ]
    out = merged.select(
        *key, "__ts__", "__side__", *picked, *left_rest
    ).where(F.col("__side__") == 1)
    if tolerance is not None:
        is_ts = dict(left.dtypes)[left_ts] == "timestamp"

        def _num(c):
            return F.unix_timestamp(c) if is_ts else c

        ok = F.col("__rts__").isNotNull() & (
            F.abs(_num(F.col("__ts__")) - _num(F.col("__rts__")))
            <= F.lit(tolerance)
        )
        out = out.select(
            *key, "__ts__",
            *[F.when(ok, F.col(c)).alias(c) for c in vals],
            *left_rest,
        )
    return out.select(
        *key, F.col("__ts__").alias(left_ts), *vals, *left_rest
    )


def _agg_exprs(aggregations: Sequence[dict]) -> list:
    """The aggregate columns of an ``aggregations`` spec list (see
    :func:`aggregate_table`): each registry kernel's JVM ``agg`` form."""
    from lambdo_spark.functions.registry import get_kernel

    exprs = []
    for spec in aggregations:
        k = get_kernel(spec.get("kernel", "size" if not spec.get("inputs") else "sum"))
        if k.agg is None:
            raise ValueError(f"kernel '{k.name}' has no aggregate form")
        cols = [F.col(c) for c in spec.get("inputs", [])]
        exprs.append(k.agg(cols, **spec.get("model", {})).alias(spec["id"]))
    return exprs


def aggregate_table(
    df: DataFrame,
    keys: Sequence[str],
    aggregations: Sequence[dict],
) -> DataFrame:
    """T7 — group + attach aggregate columns (reference
    lambdo/std.py:59-134). Each aggregation spec:
    {"id": out_name, "kernel": registry_name, "inputs": [cols]};
    no inputs -> group size (std.py: `size` when no inputs).
    All aggs share ONE groupBy → one shuffle (the reference caches the
    groupby object for the same reason, Column.py:816-842)."""
    return df.groupBy(*keys).agg(*_agg_exprs(aggregations))


def aggregate_grouping_sets(
    df: DataFrame,
    keys: Sequence[str],
    aggregations: Sequence[dict],
    mode: str = "rollup",
    gid_col: str | None = "grouping_id",
) -> DataFrame:
    """Multi-level aggregation — ROLLUP / CUBE over the same spec
    format as :func:`aggregate_table` (the reference has neither,
    SURVEY §2.4 'no grouping sets, cube, rollup').

    One shuffle computes every grouping level (Spark expands the sets
    into a single Expand + hash-aggregate — no per-level rescans).
    ``gid_col`` attaches ``grouping_id()`` (bitmask, leftmost key =
    MSB, matching DuckDB's GROUPING()) to disambiguate subtotal rows
    from genuine NULL key values.
    """
    exprs = _agg_exprs(aggregations)
    if gid_col:
        exprs.insert(0, F.grouping_id().cast("long").alias(gid_col))
    grouped = df.rollup(*keys) if mode == "rollup" else df.cube(*keys)
    return grouped.agg(*exprs)


def window_aggregate(
    df: DataFrame,
    ts: str,
    duration: str,
    keys: Sequence[str],
    aggregations: Sequence[dict],
    bucket_col: str = "bucket_s",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation — the tier-rollup shape
    as ONE declarative op, valid on BOTH batch and streaming frames
    (``F.window`` is streaming-state aware; on a stream, put a
    watermark on the source for append-mode finality). Same
    ``aggregations`` spec as :func:`aggregate_table`; every registry
    kernel, the holistic median/MAD/quantile included, is a JVM
    aggregate, so each is valid on a stream.

    One shuffle on (window, keys), map-side combined. The bucket is
    emitted as epoch SECONDS (long) — engine-stable for oracles
    (window starts are whole-second aligned, so ``unix_timestamp``
    truncation is exact).

    ``slide`` (e.g. "30 minutes" with duration "1 hour") makes the
    windows SLIDING: each row contributes to duration/slide
    overlapping buckets (Spark expands them in one Expand node — no
    self-joins, still a single shuffle).
    """
    tcol = F.col(ts)
    if dict(df.dtypes).get(ts) in ("bigint", "int", "smallint", "tinyint"):
        # epoch-seconds bucket columns (tier outputs) re-aggregate
        # directly: whole-second window starts make the round-trip exact
        tcol = tcol.cast("timestamp")
    win = F.window(tcol, duration, slide) if slide else F.window(tcol, duration)
    out = df.groupBy(win.alias("__w__"), *keys).agg(*_agg_exprs(aggregations))
    return out.select(
        F.unix_timestamp(F.col("__w__.start")).alias(bucket_col),
        *keys,
        *[spec["id"] for spec in aggregations],
    )


def dedup_rows(
    df: DataFrame,
    keys: Sequence[str] | None = None,
    within_watermark: bool = False,
) -> DataFrame:
    """Row dedup on a key subset. Batch: ``dropDuplicates`` (keeps an
    arbitrary row per key — project/distinct is the deterministic
    alternative when only the keys are wanted). Stream with
    ``within_watermark=True``: first-seen emit with bounded state
    (``dropDuplicatesWithinWatermark`` — the streaming-dedup ingest
    contract, see streaming/dedup_stream.py)."""
    key_list = list(keys) if keys else None
    if within_watermark:
        return (
            df.dropDuplicatesWithinWatermark(key_list)
            if key_list
            else df.dropDuplicatesWithinWatermark()
        )
    return df.dropDuplicates(key_list) if key_list else df.dropDuplicates()


def union_tables(dfs: Sequence[DataFrame], distinct: bool = False) -> DataFrame:
    """Set op the reference lacks (SURVEY §2.4 'Set ops: none');
    by-name union so column order differences don't corrupt data."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.dropDuplicates() if distinct else out


def intersect_tables(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_tables(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.exceptAll(b)


def row_filter(
    df: DataFrame,
    dropna: bool | Sequence[str] = False,
    predicate: Sequence[str] | None = None,
    sample: bool | dict | None = None,
    slice_spec: dict | None = None,
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """T8 — the four predicates in reference order
    (lambdo/utils.py:266-320): dropna → predicate columns (consumed &
    dropped) → sample → slice.

    slice needs explicit order (reference relies on physical row
    order): [start, end) step k matches tests/test_table_filter.py:105-108.
    Plan shapes: a bounded ``end`` compiles to ``orderBy().limit(end)``
    (TakeOrderedAndProject — a distributed partial top-k) + a window
    over only the surviving ≤end rows; an unbounded slice uses the
    two-phase :func:`global_ordinal` — neither sorts the full table
    in one partition.

    ``sample: true`` (no fraction) reproduces the reference's
    full-frame shuffle (utils.py:266-320 sample branch): a seeded
    random reordering of all rows, not a pass-through.
    """
    if dropna:
        df = df.na.drop(subset=None if dropna is True else list(dropna))
    for p in predicate or []:
        df = df.filter(F.col(p)).drop(p)
    if sample:
        seed = int(sample.get("seed", 42)) if isinstance(sample, dict) else 42
        frac = None if sample is True else sample.get("frac")
        if frac is None:
            # reference semantics: sample of the WHOLE frame == seeded
            # shuffle/permutation (distributed range sort on rand)
            df = df.orderBy(F.rand(seed))
        else:
            df = df.sample(fraction=float(frac), seed=seed)
    if slice_spec:
        if not order_by:
            raise ValueError("slice requires explicit order_by in Spark")
        start = int(slice_spec.get("start", 0))
        end = slice_spec.get("end")
        step = int(slice_spec.get("step", 1))
        # bounded end: distributed top-(end) — never a global window
        if end is not None and int(end) <= 10_000_000:
            top = df.orderBy(*[F.col(c) for c in order_by]).limit(int(end))
            w = Window.orderBy(*[F.col(c) for c in order_by])
            df = top.withColumn("__rn0__", F.row_number().over(w) - 1)
        else:
            df = global_ordinal(df, order_by, out_col="__rn0__", zero_based=True)
        cond = F.col("__rn0__") >= start
        if end is not None:
            cond = cond & (F.col("__rn0__") < int(end))
        if step > 1:
            cond = cond & (F.pmod(F.col("__rn0__") - start, F.lit(step)) == 0)
        df = df.filter(cond).drop("__rn0__")
    return df


def column_filter(
    df: DataFrame,
    keep: Sequence[str] | None = None,
    exclude: Sequence[str] | None = None,
) -> DataFrame:
    """T9/T10 — projection (reference Table.py:417-433): keep-list or
    exclude-list → Catalyst column pruning reaches the scan."""
    if keep is not None:
        return df.select(*keep)
    if exclude:
        return df.drop(*exclude)
    return df
