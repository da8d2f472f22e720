"""Timeseries operators beyond the tier rollups: sessionization,
counter delta/rate, fill strategies (LOCF / linear interpolation),
exact per-bucket order statistics, distinct counts, heavy hitters.

The reference's window surface is row-count trailing frames only
(/root/reference/lambdo/Column.py:561-611) and its gap semantics is a
scalar ``fillna_value`` (/root/reference/lambdo/Column.py:495-496);
this module supplies the standard continuous-aggregate toolkit a
retention engine needs on top of that — each op a composition of
built-in window/aggregate expressions (whole-stage codegen, no Python
in the hot path).

Scale notes (every op is one shuffle on its key, or reuses one):

* ``sessionize`` / ``delta`` / ``rate`` / LOCF / interpolation are
  window passes over ``partitionBy(key).orderBy(ts)`` — a single hash
  shuffle per key; consecutive ops over the same (key, order) reuse
  the exchange (Catalyst collapses identical window specs into one
  Window physical node).
* ``order_stat`` is sort-based and exact: rows shuffle once on the
  group key, each group sorts locally; no driver-side collect and no
  approximation (contrast percentile_approx, which is available via
  the same signature with exact=False).
* ``heavy_hitters`` pre-aggregates counts (map-side combine) before
  the per-bucket top-k window, so the window input is |distinct
  items| per bucket, not raw rows.
* ``distinct_per_bucket`` offers exact (count_distinct — expands to
  a two-phase distinct aggregate) and approx (HLL++,
  approx_count_distinct — algebraic, single pass) forms; at the 30d
  tier over 10^12 rows the approx form is the scale path.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def _ordered_window(partition_by: Sequence[str], order_by: Sequence[str]):
    return Window.partitionBy(*partition_by).orderBy(*[F.col(c) for c in order_by])


# ----------------------------------------------------------- sessions

def sessionize(
    df: DataFrame,
    key: Sequence[str],
    ts_col: str,
    gap_seconds: int,
    order_tiebreak: Sequence[str] = (),
    out_col: str = "session_id",
) -> DataFrame:
    """Assign per-key session ids: a new session starts when the gap
    to the previous event exceeds ``gap_seconds``.

    Classic lag → boundary-flag → running-sum composition (two window
    passes over ONE exchange on ``key``). ``session_id`` is 1-based
    and dense per key.
    """
    w = _ordered_window(key, [ts_col, *order_tiebreak])
    ts_s = F.unix_timestamp(F.col(ts_col))
    prev = F.lag(ts_s).over(w)
    new_session = F.when(
        prev.isNull() | ((ts_s - prev) > F.lit(gap_seconds)), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(out_col, F.sum(new_session).over(w).cast("long"))


def session_table(
    df: DataFrame,
    key: Sequence[str],
    ts_col: str,
    gap_seconds: int,
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Sessions as rows: ``key..., session_id, start_s, end_s,
    duration_s, n_events`` (sessionize + one groupBy)."""
    s = sessionize(df, key, ts_col, gap_seconds, order_tiebreak)
    ts_s = F.unix_timestamp(F.col(ts_col))
    out = (
        s.groupBy(*key, "session_id")
        .agg(
            F.min(ts_s).alias("start_s"),
            F.max(ts_s).alias("end_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn("duration_s", F.col("end_s") - F.col("start_s"))
    )
    return out


# ------------------------------------------------- counter delta/rate

def delta(
    df: DataFrame,
    output: str,
    value_col: str,
    order_by: Sequence[str],
    partition_by: Sequence[str],
) -> DataFrame:
    """Difference vs the previous row per key (first row NULL) — the
    counter-delta kernel (PromQL ``delta``-style, exact)."""
    w = _ordered_window(partition_by, order_by)
    v = F.col(value_col)
    return df.withColumn(output, v - F.lag(v).over(w))


def rate(
    df: DataFrame,
    output: str,
    value_col: str,
    ts_col: str,
    order_by: Sequence[str],
    partition_by: Sequence[str],
    counter_reset: bool = False,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-second rate vs the previous sample, as an exact scaled
    integer (``delta * scale div elapsed_s`` — integer division keeps
    cross-engine parity; float division is one ``cast`` away).

    With ``counter_reset=True``, a negative delta (counter restart) is
    treated as the raw new value, PromQL ``rate``-style.
    """
    w = _ordered_window(partition_by, order_by)
    v = F.col(value_col)
    ts_s = F.unix_timestamp(F.col(ts_col))
    d = v - F.lag(v).over(w)
    if counter_reset:
        d = F.when(d < 0, v).otherwise(d)
    elapsed = ts_s - F.lag(ts_s).over(w)
    return df.withColumn(
        output,
        F.when(elapsed > 0, F.floor((d * F.lit(scale)) / elapsed))
        .otherwise(F.lit(None))
        .cast("long"),
    )


# ------------------------------------------------------ fill policies

def locf(
    df: DataFrame,
    cols: Sequence[str],
    order_by: Sequence[str],
    partition_by: Sequence[str],
) -> DataFrame:
    """Last-observation-carried-forward for NULL gaps (gap_fill's
    "carry" policy): ``last(col, ignorenulls)`` over an unbounded
    trailing frame. Leading NULLs (no prior observation) stay NULL.
    """
    w = (
        _ordered_window(partition_by, order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return out


def interpolate_linear(
    df: DataFrame,
    value_col: str,
    bucket_col: str,
    partition_by: Sequence[str],
    output: str | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Linear interpolation across NULL gaps on a regular bucket grid
    (gap_fill's "linear" policy).

    Two window passes (backward last-known, forward next-known) over
    one exchange — no self-join, no per-gap iteration:

        interp = prev + (next - prev) * (t - t_prev) / (t_next - t_prev)

    Rows outside the observed range (no prev or no next) keep NULL;
    observed rows keep their exact value.
    """
    output = output or value_col
    v, b = F.col(value_col), F.col(bucket_col)
    wb = (
        _ordered_window(partition_by, [bucket_col])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        _ordered_window(partition_by, [bucket_col])
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last(v, ignorenulls=True).over(wb)
    prev_b = F.last(F.when(v.isNotNull(), b), ignorenulls=True).over(wb)
    next_v = F.first(v, ignorenulls=True).over(wf)
    next_b = F.first(F.when(v.isNotNull(), b), ignorenulls=True).over(wf)
    interp = prev_v + (next_v - prev_v) * (b - prev_b) / (next_b - prev_b)
    return df.withColumn(
        output,
        F.round(F.when(v.isNotNull(), v.cast("double")).otherwise(interp), ndigits),
    )


# ----------------------------------------------- exact order statistic

def order_stat(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    q: float,
    tiebreak: Sequence[str] = (),
    output: str = "order_stat",
    exact: bool = True,
) -> DataFrame:
    """Per-group q-quantile.

    exact=True: the k-th order statistic with k = ceil(q * n) — a
    deterministic, engine-independent definition (no interpolation
    scheme to disagree on): shuffle once on ``keys``, rank within the
    group, keep the k-th row. Ties broken by ``tiebreak`` for a stable
    pick. exact=False: HLL-free single-pass approx via
    ``percentile_approx`` (the 10^12-row path — no per-group sort).
    """
    if not exact:
        return df.groupBy(*keys).agg(
            F.percentile_approx(F.col(value_col), q).alias(output)
        )
    # NULL values are excluded BEFORE counting/ranking — same
    # population percentile_approx uses, and it keeps the k-th pick
    # from landing on (or being shifted by) NULL rows; a group that is
    # all-NULL vanishes from the output, same as the approx path.
    w = _ordered_window(keys, [value_col, *tiebreak])
    wn = Window.partitionBy(*keys)
    ranked = df.where(F.col(value_col).isNotNull()).select(
        *keys,
        F.col(value_col),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    # greatest(1, ·): q=0.0 means "the minimum", not an empty result
    k = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.lit(q) * F.col("_n")).cast("long"),
    )
    return (
        ranked.where(F.col("_rn") == k)
        .select(*keys, F.col(value_col).alias(output))
    )


# --------------------------------------- visualization / time-weighted

def m4_downsample(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    width_s: int,
    partition_by: Sequence[str],
    bucket_col: str = "bucket_s",
) -> DataFrame:
    """M4 visualization downsampling (Jugel et al., "M4: A
    Visualization-Oriented Time Series Data Aggregation", VLDB 2014):
    per (key, time bucket) keep the min, max, first and last values
    plus the bucket's time extent — the aggregate that makes a line
    rendering over the bucket pixel-exact while reducing n rows to
    4 per pixel column.

    ONE groupBy of algebraic aggregates — map-side combined, fully
    whole-stage-codegen, no window pass. first/last are lexicographic
    struct min/max over (ts, value), so ties on the timestamp break
    deterministically on the value: an engine-independent definition
    (DuckDB's ``min(struct_pack(...))`` computes the identical pick),
    unlike ``first_value``-style picks that depend on physical row
    order."""
    ts_s = F.unix_timestamp(F.col(ts_col)).cast("long")
    v = F.col(value_col)
    edge = F.struct(ts_s.alias("t"), v.alias("v"))
    return df.groupBy(
        *partition_by,
        (F.floor(ts_s / width_s) * width_s).cast("long").alias(bucket_col),
    ).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min(v).alias("v_min"),
        F.max(v).alias("v_max"),
        F.min(edge).getField("v").alias("v_first"),
        F.max(edge).getField("v").alias("v_last"),
        F.min(ts_s).alias("first_ts_s"),
        F.max(ts_s).alias("last_ts_s"),
    )


def lttb_downsample(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    width_s: int,
    partition_by: Sequence[str],
    bucket_col: str = "bucket_s",
) -> DataFrame:
    """LTTB visualization downsampling, parallel mean-anchor variant
    (Steinarsson, "Downsampling Time Series for Visual
    Representation", 2013): one point per (key, time bucket) — the
    point forming the largest triangle with the PREVIOUS present
    bucket's centroid and the NEXT present bucket's centroid. The
    classic algorithm anchors on the previously *selected* point,
    which is inherently sequential; anchoring on the neighbor bucket's
    mean (the same substitution LTTB itself applies to the right
    anchor) makes every bucket independent — embarrassingly parallel,
    visually near-identical, and the standard scale-out form.

    A bucket with no previous present bucket emits its first point
    (lexicographic struct min); no next → its last point. Triangle
    areas are IEEE doubles computed by the identical formula the
    DuckDB oracle runs — bit-equal cross-engine — with ties broken
    deterministically on (ts, value) via struct max.

    Plan: one groupBy for bucket centroids (map-side combined), a
    tiny lag/lead window over the centroids, one shuffle join of the
    points to their bucket's anchor row, one max-struct groupBy —
    raw rows shuffle twice (centroid agg + join), centroid rows are
    |buckets| ≪ |points|.

    Value typing: INTEGRAL columns keep exact long partial sums, so
    centroids (and thus picks) are bit-equal across engines — the
    oracle-row guarantee. FLOATING columns stay double (no silent
    truncation to long); their centroid sums are subject to the usual
    last-bit float-summation order variance, which can only surface
    as a different pick on an exact area TIE."""
    vtype = df.schema[value_col].dataType.simpleString()
    integral = vtype in ("tinyint", "smallint", "int", "bigint", "boolean")
    ts_s = F.unix_timestamp(F.col(ts_col)).cast("long")
    pts = df.select(
        *partition_by,
        (F.floor(ts_s / width_s) * width_s).cast("long").alias(bucket_col),
        ts_s.alias("_t"),
        F.col(value_col).cast("long" if integral else "double").alias("_v"),
    )
    cent = pts.groupBy(*partition_by, bucket_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_t").alias("_st"),
        F.sum("_v").alias("_sv"),
    )
    w = _ordered_window(partition_by, [bucket_col])
    anchors = cent.select(
        *partition_by, bucket_col,
        (F.lag("_st").over(w) / F.lag("_n").over(w)).alias("_ax"),
        (F.lag("_sv").over(w) / F.lag("_n").over(w)).alias("_ay"),
        (F.lead("_st").over(w) / F.lead("_n").over(w)).alias("_cx"),
        (F.lead("_sv").over(w) / F.lead("_n").over(w)).alias("_cy"),
    )
    j = pts.join(anchors, [*partition_by, bucket_col])
    px, py = F.col("_t").cast("double"), F.col("_v").cast("double")
    area = F.abs(
        (F.col("_ax") - px) * (F.col("_cy") - py)
        - (F.col("_cx") - px) * (F.col("_ay") - py)
    )
    edge = F.struct(F.col("_t").alias("t"), F.col("_v").alias("v"))
    best = F.struct(area.alias("a"), F.col("_t").alias("t"), F.col("_v").alias("v"))
    picked = j.groupBy(*partition_by, bucket_col).agg(
        F.max(F.when(F.col("_ax").isNotNull() & F.col("_cx").isNotNull(), best))
        .alias("_best"),
        F.min(edge).alias("_first"),
        F.max(edge).alias("_last"),
        F.max(F.col("_ax").isNotNull()).alias("_has_prev"),
        F.max(F.col("_cx").isNotNull()).alias("_has_next"),
    )
    pick = (
        F.when(~F.col("_has_prev"), F.col("_first"))
        .when(~F.col("_has_next"), F.col("_last"))
        .otherwise(
            F.struct(
                F.col("_best").getField("t").alias("t"),
                F.col("_best").getField("v").alias("v"),
            )
        )
    )
    return picked.select(
        *partition_by, bucket_col,
        pick.getField("t").alias("ts_s"),
        pick.getField("v").alias(value_col),
    )


def time_weighted(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    width_s: int,
    partition_by: Sequence[str],
    bucket_col: str = "bucket_s",
) -> DataFrame:
    """Time-weighted aggregate per (key, bucket) with LOCF-within-
    bucket semantics (the shape of TimescaleDB's
    ``time_weight('LOCF', ...)``, bucket-bounded): each sample's value
    holds from its timestamp until the next sample in the same
    key+bucket; the last sample holds until the bucket's end — the
    right mean for irregularly-sampled gauges, where the arithmetic
    mean over-weights bursts of samples.

    ``value_col`` must already be an exact integer (e.g. cents).
    Emits exact long partials — ``wsum = Σ value·hold_s`` and
    ``covered_s`` (bucket end − first sample) — plus
    ``twa = wsum div covered_s``: integer division over exact
    partials keeps cross-engine hash parity (float means drift in
    the last bit). It is :func:`time_weighted_partials` finalized at
    the same width; to re-aggregate to coarser tiers, merge the
    partials with :func:`time_weighted_downsample` first — a plain sum
    of ``wsum`` is NOT the coarser integral, because each bucket's last
    sample holds past its bucket end under the coarser bucketing.

    One shuffle total: the ``lead`` window and the groupBy both key
    on (keys, bucket), so the window's hash exchange satisfies the
    aggregate and Catalyst plans no second exchange."""
    partials = time_weighted_partials(
        df, value_col, ts_col, width_s, partition_by, bucket_col
    )
    return time_weighted_finalize(partials, width_s, bucket_col)


def time_weighted_partials(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    width_s: int,
    partition_by: Sequence[str],
    bucket_col: str = "bucket_s",
) -> DataFrame:
    """MERGEABLE form of :func:`time_weighted`: per (key, bucket) keep
    the first/last samples (lexicographic struct min/max) alongside the
    bucket-bounded integral ``wsum`` — enough state for
    :func:`time_weighted_downsample` to reconstruct the coarser-bucket
    integral exactly (the last sample's hold extends past the fine
    bucket's end; first/last tell the downsample how far)."""
    ts_s = F.unix_timestamp(F.col(ts_col)).cast("long")
    prepared = df.select(
        *partition_by,
        (F.floor(ts_s / width_s) * width_s).cast("long").alias(bucket_col),
        ts_s.alias("_ts_s"),
        F.col(value_col).cast("long").alias("_v"),
    )
    w = Window.partitionBy(*partition_by, bucket_col).orderBy("_ts_s", "_v")
    hold = (
        F.coalesce(F.lead("_ts_s").over(w), F.col(bucket_col) + width_s)
        - F.col("_ts_s")
    )
    edge = F.struct(F.col("_ts_s").alias("t"), F.col("_v").alias("v"))
    return (
        prepared.withColumn("_hold_s", hold)
        .groupBy(*partition_by, bucket_col)
        .agg(
            F.min(edge).alias("first"),
            F.max(edge).alias("last"),
            F.sum(F.col("_v") * F.col("_hold_s")).alias("wsum"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


def time_weighted_downsample(
    partials: DataFrame,
    fine_width_s: int,
    coarse_width_s: int,
    partition_by: Sequence[str],
    bucket_col: str = "bucket_s",
) -> DataFrame:
    """Merge time-weighted partials to a coarser tier EXACTLY: under
    the coarser bucketing a fine bucket's last sample holds until the
    next present fine bucket's first sample (or the coarse bucket's
    end), not the fine bucket's end — so each fine ``wsum`` gains
    ``last_v · (extend_to − fine_end)``. Output schema matches
    :func:`time_weighted_partials`; equals partials computed directly
    at the coarse width from raw (pinned by tests + DuckDB oracle)."""
    coarse = (
        F.floor(F.col(bucket_col) / coarse_width_s) * coarse_width_s
    ).cast("long").alias("_cb")
    w = _ordered_window(partition_by, [bucket_col])
    nf, ncb = F.lead("first").over(w), F.lead("_cb").over(w)
    fine_end = F.col(bucket_col) + fine_width_s
    extend_to = F.when(ncb == F.col("_cb"), nf.getField("t")).otherwise(
        F.col("_cb") + coarse_width_s
    )
    correction = F.col("last").getField("v") * (extend_to - fine_end)
    return (
        partials.withColumn("_cb", coarse)
        .withColumn("_corr", correction)
        .groupBy(*partition_by, "_cb")
        .agg(
            F.min("first").alias("first"),
            F.max("last").alias("last"),
            (F.sum("wsum") + F.sum("_corr")).alias("wsum"),
            F.sum("n_points").alias("n_points"),
        )
        .withColumnRenamed("_cb", bucket_col)
    )


def time_weighted_finalize(
    partials: DataFrame,
    width_s: int,
    bucket_col: str = "bucket_s",
    output: str = "twa",
) -> DataFrame:
    """Project time-weighted partials to the user-facing row:
    ``covered_s`` (bucket end − first sample) and the integer-division
    mean, same columns as :func:`time_weighted`."""
    covered = F.col(bucket_col) + width_s - F.col("first").getField("t")
    return partials.select(
        *[c for c in partials.columns
          if c not in ("first", "last", "wsum", "n_points")],
        F.col("wsum"),
        covered.alias("covered_s"),
    ).withColumn(output, F.expr("wsum div covered_s"))


# ------------------------------------------- mergeable counter chain

def counter_partials(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    width_s: int,
    partition_by: Sequence[str],
    bucket_col: str = "bucket_s",
) -> DataFrame:
    """Per-(key, bucket) MERGEABLE partials of a monotonic counter with
    reset detection (the TimescaleDB ``counter_agg`` / PromQL
    ``increase`` shape). ``increase`` is holistic — it needs
    consecutive-sample deltas, so a naive 1d computation rescans raw
    rows — but it decomposes: per bucket keep the first and last
    samples (lexicographic struct min/max over (ts, value) — the same
    deterministic pick as :func:`m4_downsample`) plus the sum of
    within-bucket pair contributions, where a consecutive pair
    (prev, v) contributes ``v - prev`` if the counter rose, else ``v``
    (a reset: the counter restarted and climbed back to v).
    :func:`counter_downsample` then re-aggregates these partials to
    any coarser tier without touching raw data.

    ONE shuffle: the lag window partitions by (key, bucket) — a pair
    crossing a bucket edge is reconstructed by the downsample's
    boundary term, so within-bucket lag suffices — and the groupBy
    keys on the same columns, reusing the window's exchange (finer
    partitioning than per-key, so one hot key spreads over its
    buckets). ``value_col`` must be an exact integer."""
    ts_s = F.unix_timestamp(F.col(ts_col)).cast("long")
    prepared = df.select(
        *partition_by,
        (F.floor(ts_s / width_s) * width_s).cast("long").alias(bucket_col),
        ts_s.alias("_ts_s"),
        F.col(value_col).cast("long").alias("_v"),
    )
    w = _ordered_window([*partition_by, bucket_col], ["_ts_s", "_v"])
    pv = F.lag("_v").over(w)
    contrib = (
        F.when(pv.isNull(), F.lit(0))  # bucket's first sample: no pair
        .when(F.col("_v") >= pv, F.col("_v") - pv)
        .otherwise(F.col("_v"))  # counter fell: reset, climbed back to v
    )
    edge = F.struct(F.col("_ts_s").alias("t"), F.col("_v").alias("v"))
    return (
        prepared.withColumn("_c", contrib)
        .groupBy(*partition_by, bucket_col)
        .agg(
            F.min(edge).alias("first"),
            F.max(edge).alias("last"),
            F.sum("_c").alias("inc"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


def counter_downsample(
    partials: DataFrame,
    width_s: int,
    partition_by: Sequence[str],
    bucket_col: str = "bucket_s",
) -> DataFrame:
    """Merge counter partials to a coarser tier: within each coarse
    bucket, sum the fine ``inc`` and add the boundary contribution
    between consecutive PRESENT fine buckets (this bucket's first
    sample vs the previous fine bucket's last — reset-aware, and
    correct across empty-bucket gaps because lag skips to the previous
    present partial). The output has the same schema as
    :func:`counter_partials`, so the chain composes 1h → 1d → 30d —
    ``increase(1d)`` from 720 tiny rows per key instead of a raw
    rescan; exactly equal to computing the 1d partials from raw
    (pinned by tests and the DuckDB oracle)."""
    coarse = (
        F.floor(F.col(bucket_col) / width_s) * width_s
    ).cast("long").alias("_cb")
    w = _ordered_window(partition_by, [bucket_col])
    pl, pcb = F.lag("last").over(w), F.lag("_cb").over(w)
    fv = F.col("first").getField("v")
    boundary = F.when(
        pcb == F.col("_cb"),
        F.when(fv >= pl.getField("v"), fv - pl.getField("v")).otherwise(fv),
    ).otherwise(F.lit(0))
    return (
        partials.withColumn("_cb", coarse)
        .withColumn("_b", boundary)
        .groupBy(*partition_by, "_cb")
        .agg(
            F.min("first").alias("first"),
            F.max("last").alias("last"),
            (F.sum("inc") + F.sum("_b")).alias("inc"),
            F.sum("n_points").alias("n_points"),
        )
        .withColumnRenamed("_cb", bucket_col)
    )


def counter_finalize(
    partials: DataFrame, output: str = "increase"
) -> DataFrame:
    """Project counter partials to driver-friendly scalars: the
    bucket-internal increase plus the first/last sample coordinates
    (struct columns flattened — arrays/structs don't canonicalize)."""
    return partials.select(
        *[c for c in partials.columns if c not in ("first", "last", "inc")],
        F.col("first").getField("t").alias("first_ts_s"),
        F.col("first").getField("v").alias("first_v"),
        F.col("last").getField("t").alias("last_ts_s"),
        F.col("last").getField("v").alias("last_v"),
        F.col("inc").alias(output),
    )


# --------------------------------------- mergeable histogram quantile

def value_hist_partials(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    width_s: int,
    partition_by: Sequence[str],
    bin_width: int,
    bucket_col: str = "bucket_s",
) -> DataFrame:
    """Fixed-width-bin histogram of an integer value per (key, bucket),
    as MERGEABLE long rows ``(keys…, bucket, bin, n)`` — ``bin`` is the
    bin's lower bound (``floor(v / bin_width) * bin_width``). One
    map-side-combined groupBy; the rows re-aggregate to coarser tiers
    by plain sums (:func:`value_hist_downsample`), so an approximate
    quantile at the 30d tier (:func:`quantile_from_hist`) costs a scan
    of tiny histogram rows, never the raw table. The sketch's error is
    bounded by construction: the estimate is within one ``bin_width``
    of the exact order statistic (pinned by tests). This is the
    mergeable counterpart of :func:`order_stat` — exact quantiles are
    holistic and cannot ride the tier chain; binned ones can."""
    ts_s = F.unix_timestamp(F.col(ts_col)).cast("long")
    v = F.col(value_col).cast("long")
    return (
        df.groupBy(
            *partition_by,
            (F.floor(ts_s / width_s) * width_s).cast("long").alias(bucket_col),
            (F.floor(v / bin_width) * bin_width).cast("long").alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def value_hist_downsample(
    partials: DataFrame,
    width_s: int,
    partition_by: Sequence[str],
    bucket_col: str = "bucket_s",
) -> DataFrame:
    """Merge histogram rows to a coarser tier: same-bin counts add."""
    coarse = (F.floor(F.col(bucket_col) / width_s) * width_s).cast("long")
    return (
        partials.withColumn(bucket_col, coarse)
        .groupBy(*partition_by, bucket_col, "bin")
        .agg(F.sum("n").alias("n"))
    )


def quantile_from_hist(
    partials: DataFrame,
    q: float,
    partition_by: Sequence[str],
    bucket_col: str = "bucket_s",
    output: str = "q_est",
) -> DataFrame:
    """Deterministic quantile estimate from histogram rows: the lower
    bound of the bin holding the ``ceil(q·n)``-th point (ascending
    cumulative count) — the same engine-independent rank definition as
    :func:`order_stat`, discretized to bins. One window pass keyed on
    (keys, bucket); emits ``n_points`` alongside the estimate."""
    keys = [*partition_by, bucket_col]
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy(*keys)
    cum = F.sum("n").over(w_cum)
    tot = F.sum("n").over(w_tot)
    # greatest(1, ·): q=0.0 selects the lowest populated bin instead
    # of silently dropping the group (k=0 satisfies no bin predicate)
    k = F.greatest(
        F.lit(1).cast("long"), F.ceil(F.lit(q) * tot).cast("long")
    )
    return (
        partials.select(
            *keys,
            F.col("bin"),
            cum.alias("_cum"),
            (cum - F.col("n")).alias("_below"),
            k.alias("_k"),
            tot.alias("_n"),
        )
        .where((F.col("_below") < F.col("_k")) & (F.col("_k") <= F.col("_cum")))
        .select(
            *keys, F.col("bin").alias(output), F.col("_n").alias("n_points")
        )
    )


# ------------------------------------------------------ distinct count

def distinct_per_bucket(
    df: DataFrame,
    keys: Sequence[str],
    item_col: str,
    output: str = "n_distinct",
    exact: bool = True,
    rsd: float = 0.05,
) -> DataFrame:
    """Distinct items per group — exact (two-phase distinct aggregate)
    or HLL++ approx (algebraic single pass; the 100 TB path where the
    distinct set per bucket no longer fits a shuffle)."""
    agg = (
        F.count_distinct(F.col(item_col))
        if exact
        else F.approx_count_distinct(F.col(item_col), rsd)
    )
    return df.groupBy(*keys).agg(agg.cast("long").alias(output))


# ----------------------------------------- mergeable distinct sketches

def distinct_sketch_partials(
    df: DataFrame,
    keys: Sequence[str],
    item_col: str,
    ts_col: str,
    tier_seconds: int,
    lgk: int = 12,
    sketch_col: str = "distinct_sk",
) -> DataFrame:
    """Per-(keys, bucket) HLL sketch of distinct ``item_col`` values.

    The sketch (Apache DataSketches HLL via ``hll_sketch_agg``, a
    binary column) is the *partial* form of a distinct count: unlike
    ``count_distinct`` (holistic — the distinct set itself must reach
    one reducer per group) and unlike ``approx_count_distinct`` (whose
    HLL++ buffer Spark exposes only as a finished number), these
    sketches MERGE, so coarser tiers re-aggregate finer-tier sketches
    the same way the sum/count tier chain does (tiers.py downsample) —
    the raw table is scanned once, and a 30d distinct count costs a
    union of 720 1h sketches, not a rescan of 10^12 rows. This is the
    set-cardinality analog of lambdo's aggregate columns (reference
    /root/reference/lambdo/Column.py:613-668) at fixed state per
    group (2^lgk bytes).
    """
    u = F.unix_timestamp(F.col(ts_col))
    bucket = (F.floor(u / F.lit(tier_seconds)) * F.lit(tier_seconds)).cast("long")
    return (
        df.select(*keys, bucket.alias("bucket_s"), F.col(item_col).alias("_it"))
        .groupBy(*keys, "bucket_s")
        .agg(F.hll_sketch_agg(F.col("_it"), F.lit(lgk)).alias(sketch_col))
    )


def distinct_sketch_downsample(
    partials: DataFrame,
    keys: Sequence[str],
    tier_seconds: int,
    sketch_col: str = "distinct_sk",
) -> DataFrame:
    """Merge finer-bucket sketches into a coarser tier (algebraic)."""
    coarse = (
        F.floor(F.col("bucket_s") / F.lit(tier_seconds)) * F.lit(tier_seconds)
    ).cast("long")
    return (
        partials.withColumn("bucket_s", coarse)
        .groupBy(*keys, "bucket_s")
        .agg(F.hll_union_agg(F.col(sketch_col)).alias(sketch_col))
    )


def distinct_sketch_finalize(
    partials: DataFrame,
    sketch_col: str = "distinct_sk",
    output: str = "n_distinct_est",
) -> DataFrame:
    """Estimate cardinalities from the sketch column.

    DataSketches HLL is integer-exact while a group's sketch is still
    in coupon mode (measured: every estimate equals the exact distinct
    count up to at least ~67 distinct items at lgk=12; divergence
    observed by ~600) and within ~1.6%/sqrt(2^lgk) relative error
    after — pinned by tests/test_timeseries.py.
    """
    return partials.withColumn(
        output,
        F.round(F.hll_sketch_estimate(F.col(sketch_col))).cast("long"),
    ).drop(sketch_col)


# -------------------------------------------------------- heavy hitters

def heavy_hitters(
    df: DataFrame,
    keys: Sequence[str],
    item_col: str,
    k: int,
    count_col: str = "n",
    rank_col: str = "rank",
    salt_buckets: int = 0,
) -> DataFrame:
    """Top-k items per group by frequency (deterministic ties: higher
    count first, then item ascending).

    Counts pre-aggregate with map-side combine before the window, so
    the per-group sort ranks |distinct items|, not raw rows.

    ``salt_buckets > 0`` is the skew-proof form for groups with huge
    item vocabularies (distinct tokens per day at 10^12 rows): after
    the counts groupBy each (group, item) pair exists exactly ONCE, so
    the global top-k is contained in the union of per-salt top-ks —
    a first window ranks within (group, hash(item) % S) partitions
    (each ~|vocab|/S rows) and the final window sorts only S*k
    survivors per group instead of the whole vocabulary in one task.
    Results are identical to the unsalted form (pytest-pinned).
    """
    counts = df.groupBy(*keys, item_col).agg(F.count(F.lit(1)).alias(count_col))
    order = [F.col(count_col).desc(), F.col(item_col).asc()]
    if salt_buckets > 0:
        salted = counts.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(item_col)), F.lit(salt_buckets))
        )
        w1 = Window.partitionBy(*keys, "_salt").orderBy(*order)
        counts = (
            salted.withColumn("_r1", F.row_number().over(w1))
            .where(F.col("_r1") <= k)
            .drop("_salt", "_r1")
        )
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        counts.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )
