"""Query facade: the reference's shipped query workload as API functions.

Q1-Q6 (SURVEY.md §2.B, from reference README.md:84,113-124, AGENTS.md:76,
grafana/provisioning/dashboards/logs.json:123,181) plus the Grafana macro
helpers the panels rely on ($timeFilter, $timeSeries with interval buckets).

All functions take the flat otel.logs DataFrame and return DataFrames shaped
like the reference's result frames (B13).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from demo_otel_parquet_antalya_spark.schema import WAREHOUSE_SCHEMA
from demo_otel_parquet_antalya_spark.sources.parquet_sink import read_logs

# the compat-vs-config split for the rollup panel routes: raises of this
# type mean "this exact request belongs on the raw scan" (serving's auto
# routing falls back on exactly it); plain ValueError stays a hard 400
from demo_otel_parquet_antalya_spark.streaming.rollup import (
    RollupRouteIncompatible,
)


def _partition_hour_ts() -> Column:
    """The hour-start timestamp a warehouse partition covers, rebuilt from
    its year/month/day/hour PARTITION columns — a deterministic expression
    over partition attributes only, so Catalyst evaluates it against the
    directory listing (PartitionFilters) and prunes whole hour directories
    before any file is opened.

    NULL-safe by construction (code-review r10, pass 2 fallout): rows in
    ``__HIVE_DEFAULT_PARTITION__`` directories carry NULL partition
    columns, and the previous ``to_timestamp(format_string(...))`` form
    rendered them as the literal string 'null-null-null null:00:00',
    which ANSI-mode to_timestamp rejects with DateTimeException — any
    windowed panel over a warehouse holding null-timestamp rows crashed
    instead of filtering them. ``make_timestamp`` propagates NULL, so
    those rows simply fail the derived predicate, exactly as they already
    fail the row predicate."""
    return F.make_timestamp(
        F.col("year"), F.col("month"), F.col("day"), F.col("hour"),
        F.lit(0), F.lit(0),
    )


def time_filter(
    df: DataFrame,
    start=None,
    end=None,
    col: str = "timestamp",
    partitioned_by: str = "timestamp",
) -> DataFrame:
    """Grafana $timeFilter macro: closed time-range predicate on the time column
    (reference logs.json:115-116; B6).

    Over the partitioned warehouse layout (year/month/day/hour columns
    present) the same bounds are ALSO derived as partition-column
    predicates: a partition's hour-start must be >= hour-trunc(start) and
    <= end, which is implied by the row predicate, so results are
    identical — but the scan prunes the non-matching hour DIRECTORIES
    instead of reading every file's footer. At 100 TB this is the
    difference between a dashboard time window costing O(window) and
    O(history); plan-guarded by tests/test_plan_quality.py.

    INVARIANT (``partitioned_by``, ADVICE r8): the derived predicates are
    only valid when the filtered column IS the one the year/month/day/hour
    layout was derived from (the ingest partitions on ``timestamp``,
    streaming/ingest.py). Filtering any other time column (e.g.
    ``observed_timestamp``) with the partition predicates attached would
    silently DROP rows whose own hour differs from the partition hour, so
    they are added only when ``col == partitioned_by``; a non-partitioned
    column keeps exact semantics and merely loses directory pruning. If a
    warehouse is partitioned by a different column, say so explicitly:
    ``time_filter(df, s, e, col="observed_timestamp",
    partitioned_by="observed_timestamp")``."""
    has_parts = (
        col == partitioned_by
        and {"year", "month", "day", "hour"} <= set(df.columns)
    )
    if start is not None:
        df = df.filter(F.col(col) >= F.lit(start))
        if has_parts:
            df = df.filter(
                _partition_hour_ts() >= F.date_trunc("hour", F.lit(start))
            )
    if end is not None:
        df = df.filter(F.col(col) <= F.lit(end))
        if has_parts:
            df = df.filter(_partition_hour_ts() <= F.lit(end))
    return df


def time_bucket(col: str | Column, interval_seconds: int = 30) -> Column:
    """Grafana $timeSeries macro: floor the timestamp to interval buckets
    (reference logs.json:120,123; B8). Pure column expression — stays inside
    whole-stage codegen and, over the partitioned layout, prunes with the
    enclosing time_filter."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_seconds((F.floor(F.unix_timestamp(c) / interval_seconds) * interval_seconds).cast("long"))


def adhoc_filter(df: DataFrame, filters) -> DataFrame:
    """Grafana ad-hoc filter macro ($adhoc, reference logs.json:106,164):
    a list of ``(column, op, value)`` predicates injected into the panel's
    WHERE clause. Operators are the set Grafana's ClickHouse datasource
    emits for ad-hoc filters: ``=``, ``!=``, ``=~`` (LIKE), ``!~``
    (NOT LIKE). Plain Column predicates — they stay inside whole-stage
    codegen and push down to the parquet scan like any literal filter.
    Unknown columns fail at plan time (AnalysisException), matching the
    reference where a bad ad-hoc column is a ClickHouse error, never a
    silently-empty panel."""
    for col, op, value in filters:
        c = F.col(col)
        if op == "=":
            df = df.filter(c == F.lit(value))
        elif op == "!=":
            df = df.filter(c != F.lit(value))
        elif op == "=~":
            df = df.filter(c.like(str(value)))
        elif op == "!~":
            df = df.filter(~c.like(str(value)))
        else:
            raise ValueError(f"unsupported ad-hoc filter operator {op!r}")
    return df


# --- the reference's own queries -------------------------------------------


def q1_projection(logs: DataFrame) -> DataFrame:
    """Q1: SELECT service_name, severity_text, body, timestamp (README.md:84)."""
    return logs.select("service_name", "severity_text", "body", "timestamp")


def q2_recent_logs(logs: DataFrame, limit: int = 10) -> DataFrame:
    """Q2: recent logs, newest first (README.md:114-118)."""
    return (
        logs.select("timestamp", "service_name", "severity_text", "body")
        .orderBy(F.col("timestamp").desc())
        .limit(limit)
    )


def _parse_hour_path(path: str):
    """.../service_name=S/year=Y/month=M/day=D/hour=H -> (Y, M, D, H) or
    None for non-partition debris."""
    parts = path.rstrip("/").split("/")
    try:
        vals = dict(p.split("=", 1) for p in parts[-4:] if "=" in p)
        return (
            int(vals["year"]), int(vals["month"]), int(vals["day"]), int(vals["hour"])
        )
    except (ValueError, KeyError):
        return None


_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _hour_dir_entries(spark, logs_dir: str) -> list:
    """``[(hour-dir path, (y, m, d, h) or None), ...]`` for every
    hour-depth directory in the Hive layout, from the DIRECTORY LISTING
    alone — no file footers, no data read. ``None`` marks an
    ``hour=__HIVE_DEFAULT_PARTITION__`` directory: rows whose timestamp
    is NULL partition there, and the pruned panel routes must account for
    them (NULLS FIRST in the ascending log panel, NULLS LAST in the
    descending recent-logs panel) or silently diverge from the raw scans
    (code-review r10, pass 2). Local paths walk with os.scandir (one
    syscall per dir); remote Hadoop filesystems (hdfs/s3a) fall back to
    one FS glob with a single string round-trip per hour directory."""
    import os

    def entry(path):
        t = _parse_hour_path(path)
        if t is not None:
            return (path, t)
        return (path, None) if _NULL_PART in path else None

    from demo_otel_parquet_antalya_spark.fsutil import local_root

    out = []
    # one shared local-vs-remote split (fsutil, r11): this and the
    # rollup's version listing had drifted into disagreeing copies
    local = local_root(logs_dir)
    if local is not None and os.path.isdir(local):
        def subdirs(p):
            try:
                return [e.path for e in os.scandir(p) if e.is_dir() and "=" in e.name]
            except OSError:
                return []

        for svc in subdirs(local):
            for y in subdirs(svc):
                for m in subdirs(y):
                    for d in subdirs(m):
                        for h in subdirs(d):
                            e = entry(h)
                            if e is not None:
                                out.append(e)
    else:
        from demo_otel_parquet_antalya_spark.fsutil import hadoop_glob

        for p in hadoop_glob(
            spark, logs_dir.rstrip("/") + "/*/year=*/month=*/day=*/hour=*"
        ):
            e = entry(p)
            if e is not None:
                out.append(e)
    return out


def list_partition_hours(spark, logs_dir: str) -> list:
    """``[((year, month, day, hour), [concrete hour-dir paths]), ...]``
    newest first, from the directory listing alone (see
    ``_hour_dir_entries``) — the metadata a 'recent logs' panel needs to
    avoid listing, let alone scanning, the history. NULL-timestamp
    (``__HIVE_DEFAULT_PARTITION__``) directories are NOT in this list;
    the pruned routes fetch them via ``null_hour_dirs``."""
    return sorted(
        _group_hours(_hour_dir_entries(spark, logs_dir)).items(), reverse=True
    )


def null_hour_dirs(spark, logs_dir: str) -> list:
    """Hour directories holding NULL-timestamp rows (the Hive default
    partition)."""
    return [p for p, t in _hour_dir_entries(spark, logs_dir) if t is None]


def q2_recent_logs_pruned(
    spark, logs_dir: str, limit: int = 10, filters=()
) -> DataFrame:
    """Q2 over the newest hour directories only. The plain Q2 is a
    TakeOrderedAndProject over the whole warehouse, O(history) per
    dashboard refresh, and even a partition-filtered read of the root
    lists every file first. This variant lists the hour directories (no
    data read) and reads the newest ones by path through ``_widened_take``,
    so a steady-state refresh reads one hour regardless of warehouse size.
    Ad-hoc ``filters`` apply before the widening count, so filtered
    results stay complete. NULL-timestamp rows sort last in the descending
    order, so their (Hive default) partition directories join only the
    final probe, once the timestamped hours run out. Value-identical to
    ``q2_recent_logs``, which a directory with no Hive layout falls back
    to over a full read."""
    entries = _hour_dir_entries(spark, logs_dir)
    hours = sorted(_group_hours(entries).items(), reverse=True)  # newest first
    nulls = [p for p, t in entries if t is None]
    if not hours and not nulls:
        return q2_recent_logs(
            adhoc_filter(read_logs(spark, logs_dir), filters), limit
        )
    return _widened_take(
        spark, logs_dir, hours, limit,
        lambda sub: q2_recent_logs(adhoc_filter(sub, filters), limit),
        tail_paths=nulls,
    )


def _group_hours(entries) -> dict:
    hours: dict = {}
    for path, t in entries:
        if t is not None:
            hours.setdefault(t, []).append(path)
    return hours


def _widened_take(
    spark, logs_dir: str, hours, limit: int, build,
    lead_paths=(), tail_paths=(),
) -> DataFrame:
    """Shared widening probe for the tail-pruned panels (q2 newest-N, q6
    oldest-N): read the first K hour directories of ``hours`` (``read_logs``
    declares the warehouse schema and keeps the partition columns), build
    the panel frame over them, take its rows, and widen K (1 -> 4x)
    while the hours hold fewer than ``limit`` rows. Correct because hour
    directories partition event time: every row outside the first K hours
    sorts strictly beyond them in the panel's direction, so once K hours
    hold ``limit`` rows the local top-N is the global one.

    Each probe is one Spark job, and the answer costs none beyond it. The
    rows stay in the JVM (``takeAsList``) and come back as a frame over a
    local relation, which Spark collects without scheduling anything. Rows
    taken to Python and rebuilt there would make a frame over a Python RDD,
    which the caller's ``limit().collect()`` scans again in several
    growing jobs.

    NULL-timestamp directories break that time ordering, so the caller
    places them by the panel's null ordering: ``lead_paths`` join every
    probe (q6 ascends, NULLS FIRST, so null rows belong to any top-N);
    ``tail_paths`` join only the exhausted final probe (q2 descends, NULLS
    LAST, so null rows enter only when the timestamped rows run out;
    probing them earlier could return null rows ahead of unread older
    timestamped ones)."""
    k = 1
    while True:
        exhausted = k >= len(hours)
        paths = [*lead_paths, *(p for _t, dirs in hours[:k] for p in dirs)]
        if exhausted and tail_paths:
            paths += list(tail_paths)
        cand = build(read_logs(spark, logs_dir, *paths))._jdf
        rows = cand.takeAsList(limit)
        if exhausted or rows.size() >= limit:
            return _local_frame(spark, rows, cand.schema())
        k *= 4


def _local_frame(spark, jrows, jschema) -> DataFrame:
    """A frame over rows held in the JVM: a local relation, which Spark
    answers without running a job."""
    return DataFrame(spark._jsparkSession.createDataFrame(jrows, jschema), spark)


def q3_severity_counts(logs: DataFrame) -> DataFrame:
    """Q3: severity count by service (README.md:120-123)."""
    return logs.groupBy("service_name", "severity_text").agg(F.count("*").alias("count"))


def q4_select_all(logs: DataFrame) -> DataFrame:
    """Q4: smoke SELECT * (AGENTS.md:76)."""
    return logs.select("*")


def q5_timeseries(logs: DataFrame, start=None, end=None, interval_seconds: int = 30) -> DataFrame:
    """Q5: Grafana time-series panel — bucket × service counts
    (logs.json:123: $timeSeries as t, service_name as series, count() as value)."""
    return (
        time_filter(logs, start, end)
        .groupBy(
            time_bucket("timestamp", interval_seconds).alias("t"),
            F.col("service_name").alias("series"),
        )
        .agg(F.count("*").alias("value"))
        .orderBy("t", "series")
    )


def q6_log_panel(logs: DataFrame, start=None, end=None, limit: int = 1000) -> DataFrame:
    """Q6: Grafana log panel — ms-truncated time, message, dims, oldest first,
    LIMIT 1000 (logs.json:181; toDateTime64(timestamp,3) ≙ ms truncation B5)."""
    return (
        time_filter(logs, start, end)
        .select(
            F.date_trunc("millisecond", "timestamp").alias("log_time"),
            F.col("body").alias("message"),
            "service_name",
            "scope_name",
            "severity_text",
        )
        .orderBy("log_time")
        .limit(limit)
    )


def _session_naive(spark, v):
    """A time bound as a NAIVE wall-clock in the SESSION timezone — the
    clock the warehouse's year/month/day/hour partition columns were
    derived in (streaming/ingest.py partitions on F.year(timestamp) etc.,
    which evaluate in spark.sql.session.timeZone). Params arrive as ISO
    strings over HTTP; direct callers may pass datetimes. A tz-AWARE
    bound is converted to the session zone first: flooring its foreign
    wall-clock fields would prune the wrong hour directories and silently
    drop in-window rows (code-review r10, confirmed live with a +02:00
    window over a UTC-partitioned warehouse). An unconvertible session
    timezone raises rather than mis-pruning."""
    if v is None:
        return None
    if not isinstance(v, _dt.datetime):
        v = _dt.datetime.fromisoformat(str(v))
    if v.tzinfo is not None:
        from zoneinfo import ZoneInfo

        tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
        v = v.astimezone(ZoneInfo(tz)).replace(tzinfo=None)
    return v


def q6_log_panel_pruned(
    spark, logs_dir: str, start=None, end=None, limit: int = 1000, filters=()
) -> DataFrame:
    """Q6 over the oldest hour directories in the window only. The log
    panel is 'oldest N in the window' (logs.json:181 orders ascending,
    LIMIT 1000), so its windowless form is a TakeOrderedAndProject over
    the whole warehouse, O(history) per refresh. This mirrors
    ``q2_recent_logs_pruned`` with the direction reversed: list the hour
    directories (no data read), keep the hours inside the requested
    window, and read the oldest ones through ``_widened_take``. Ad-hoc
    ``filters`` and the exact ``time_filter`` bounds apply before the
    widening count, so filtered and windowed results stay complete.
    NULL-timestamp rows sort first in the ascending windowless form, so
    their (Hive default) partition directories join every probe; a window
    excludes them on both routes (``time_filter``'s closed-range
    predicates drop NULLs). Value-identical to ``q6_log_panel``."""
    start, end = _session_naive(spark, start), _session_naive(spark, end)
    entries = _hour_dir_entries(spark, logs_dir)
    all_hours = sorted(_group_hours(entries).items())  # oldest first
    windowed = start is not None or end is not None
    nulls = [] if windowed else [p for p, t in entries if t is None]
    hours = all_hours
    if start is not None:
        floor = (start.year, start.month, start.day, start.hour)
        hours = [h for h in hours if h[0] >= floor]
    if end is not None:
        ceil = (end.year, end.month, end.day, end.hour)
        hours = [h for h in hours if h[0] <= ceil]
    if not all_hours and not nulls:
        # no Hive layout at all: only the full read can answer
        return q6_log_panel(
            adhoc_filter(read_logs(spark, logs_dir), filters), start, end, limit
        )
    if not hours and not nulls:
        # the window excludes every partition hour, so the listing alone
        # proves the answer empty; the panel over an empty local relation
        # still resolves the columns and the ad-hoc filters
        empty = _local_frame(
            spark, spark._jvm.java.util.ArrayList(),
            spark._jsparkSession.parseDataType(WAREHOUSE_SCHEMA.json()),
        )
        return q6_log_panel(adhoc_filter(empty, filters), start, end, limit)
    return _widened_take(
        spark, logs_dir, hours, limit,
        lambda sub: q6_log_panel(adhoc_filter(sub, filters), start, end, limit),
        lead_paths=nulls,
    )


def q5_timeseries_from_rollup(
    spark, rollup_dir: str, start=None, end=None,
    interval_seconds: int | None = None, base_interval_s: int = 30,
    dim_cols: tuple = ("event_type",), series_dim: str | None = None,
    filters=(),
) -> DataFrame:
    """Q5 served from the continuously-maintained rollup
    (``streaming/rollup.py``) instead of raw parquet: the dashboard read is
    O(buckets), not O(raw rows) — the materialized-view routing the
    reference's stack lacks (its Grafana panels rescan raw on every
    refresh). Valid for bucket-aligned ranges, which is exactly what
    Grafana requests; equivalence with the raw-scan Q5 is pytest-proven.

    Counts are re-aggregable, so any ``interval_seconds`` that is a
    MULTIPLE of the maintained ``base_interval_s`` is served EXACTLY by
    re-bucketing the snapshot (floor each base bucket to the coarser
    interval, sum the counts) — a zoomed-out Grafana panel still costs
    O(base buckets), never a raw rescan. A non-multiple interval raises
    ValueError BEFORE any snapshot I/O, and the re-aggregation carries a
    per-row assertion that every snapshot bucket really is aligned to
    ``base_interval_s`` — a caller passing the wrong claimed grain gets a
    runtime error, not silently mis-binned counts (the snapshot's true
    grain is whatever ``incremental_rollup`` was maintained with; the two
    must be wired together, as serving.py's ``rollup_interval_s`` does).

    Multi-dimension snapshots (r10): ``dim_cols`` is the tuple the rollup
    is maintained with; ``series_dim`` is the one the panel series, and
    the other dimensions are summed out — exact, counts re-aggregate.
    Default series: ``service_name`` when maintained (Q5's own contract),
    else the sole dimension of a single-dim rollup, else an error — never
    a tuple-position guess. ``filters`` are Grafana ad-hoc
    ``(col, op, value)`` predicates over MAINTAINED dimensions only,
    applied to the snapshot before aggregation: filtering a dimension
    column commutes with summing counts over the other dimensions, so the
    result equals the raw-scan panel with the same filter. A filter on a
    non-maintained column raises — serve that from raw.
    """
    from demo_otel_parquet_antalya_spark.streaming.rollup import read_rollup

    _check_q5_interval(interval_seconds, base_interval_s)  # before any I/O
    series = _resolve_series_dim(dim_cols, series_dim)
    # require_untrimmed (r14): a trimmed snapshot no longer holds its full
    # history — this single-snapshot route would serve silently truncated
    # panels; incompatible -> auto serves raw, spanned config serves state
    snap = read_rollup(spark, rollup_dir, dim_cols, require_snapshot=True,
                       require_untrimmed=True)
    return _q5_from_snapshot(
        snap, dim_cols, series, start, end,
        interval_seconds, base_interval_s, filters,
    )


def _check_q5_interval(interval_seconds: int | None, base_interval_s: int) -> bool:
    """True when the request re-buckets; raises ``RollupRouteIncompatible``
    for a non-multiple interval — called by the routes BEFORE any snapshot
    I/O (the docstring contract) and again inside ``_q5_from_snapshot``."""
    rebucket = interval_seconds is not None and interval_seconds != base_interval_s
    if rebucket and (interval_seconds <= 0 or interval_seconds % base_interval_s):
        raise RollupRouteIncompatible(
            f"rollup is maintained at {base_interval_s}s buckets; "
            f"interval={interval_seconds} is not a multiple — serve "
            "from raw or a matching rollup"
        )
    return rebucket


def _q5_from_snapshot(
    snap: DataFrame, dim_cols: tuple, series: str, start, end,
    interval_seconds: int | None, base_interval_s: int, filters,
) -> DataFrame:
    """The q5 shaping over any single-grain snapshot frame — validation,
    window filter, guarded re-bucketing, dim sum-out — one home shared by
    the single-snapshot route and the spanned route's fine-grain-window
    branch (code-review r12, second pass: the branch must run on the
    PINNED fine version, so it needs the shaping without the re-listing
    read)."""
    rebucket = _check_q5_interval(interval_seconds, base_interval_s)
    df = _dim_filtered(snap, dim_cols, filters)
    df = df.select(
        F.col("bucket").alias("t"),
        F.col(series).alias("series"),
        F.col("n").alias("value"),
    )
    if start is not None:
        df = df.filter(F.col("t") >= F.lit(start))
    if end is not None:
        df = df.filter(F.col("t") <= F.lit(end))
    if rebucket:
        # summed expression raises IN the same job if any snapshot bucket
        # is not aligned to the claimed base grain (zero cost when aligned)
        guarded = F.when(
            F.unix_timestamp("t") % base_interval_s != 0,
            F.raise_error(
                F.lit(
                    f"rollup snapshot bucket not aligned to the claimed "
                    f"{base_interval_s}s grain — re-aggregation would "
                    "mis-bin counts; pass the maintained grain"
                )
            ),
        ).otherwise(F.col("value"))
        df = df.groupBy(
            time_bucket("t", interval_seconds).alias("t"), "series"
        ).agg(F.sum(guarded).alias("value"))
    elif len(dim_cols) > 1:
        # non-series dimensions summed out at the maintained grain
        df = df.groupBy("t", "series").agg(
            F.sum("value").cast("long").alias("value")
        )
    return df.orderBy("t", "series")


def _resolve_series_dim(dim_cols: tuple, series_dim: str | None) -> str:
    """Q5's series is service_name (logs.json:123 'service_name as series')
    — the panel's contract, not a tuple-position accident. Default to it
    when maintained; fall back to the single dimension of a legacy
    generic-name rollup; anything else must be named explicitly, or the
    panel would silently serve a different series depending on how the
    caller happened to ORDER rollup_dims (code-review r10, pass 2).
    Shared by the single-snapshot and spanned (r12) rollup routes."""
    if series_dim is None:
        if "service_name" in dim_cols:
            return "service_name"
        if len(dim_cols) == 1:
            return dim_cols[0]
        raise RollupRouteIncompatible(
            f"q5's series is service_name, which this rollup "
            f"({list(dim_cols)}) does not maintain — pass series_dim "
            "explicitly to serve a different series"
        )
    if series_dim not in dim_cols:
        raise RollupRouteIncompatible(
            f"series_dim {series_dim!r} is not a maintained dimension "
            f"{list(dim_cols)}"
        )
    return series_dim


def _dim_filtered(snapshot: DataFrame, dim_cols: tuple, filters) -> DataFrame:
    """Ad-hoc filters applied to a rollup snapshot — legal ONLY on
    maintained dimension columns (where filtering commutes with the
    count re-aggregation); anything else must be served from raw."""
    bad = [c for c, _op, _v in filters if c not in dim_cols]
    if bad:
        raise RollupRouteIncompatible(
            f"ad-hoc filter column(s) {bad} are not maintained rollup "
            f"dimensions {list(dim_cols)}; serve this filter from the raw "
            "logs (no ?source=rollup)"
        )
    return adhoc_filter(snapshot, filters)


def q3_severity_counts_from_rollup(
    spark,
    rollup_dir: str,
    dim_cols: tuple = ("service_name", "severity_text"),
    filters=(),
) -> DataFrame:
    """Q3 (severity count by service, README.md:120-123) served from the
    maintained rollup instead of a full raw scan — the worst-growing
    measured panel (8× at 100× data, SCALE.md) becomes O(snapshot rows):
    sum the per-bucket counts over all buckets, grouped by the two
    dimensions. Exact, not approximate — counts re-aggregate, and the
    snapshot covers every ingested row (the rollup's foreachBatch
    aggregates each batch in full; the watermark only bounds state the
    batch aggregation never keeps). Requires a rollup maintained with
    both dimensions (r10 multi-dim snapshots); ``filters`` follow the
    same maintained-dimensions-only contract as the Q5 rollup route."""
    from demo_otel_parquet_antalya_spark.streaming.rollup import read_rollup

    _require_q3_dims(dim_cols)
    snap = _dim_filtered(
        # require_untrimmed (r14): see q5_timeseries_from_rollup
        read_rollup(spark, rollup_dir, dim_cols, require_snapshot=True,
                    require_untrimmed=True),
        dim_cols,
        filters,
    )
    return _q3_from_snapshot(snap)


def _require_q3_dims(dim_cols: tuple) -> None:
    need = {"service_name", "severity_text"}
    if not need <= set(dim_cols):
        raise RollupRouteIncompatible(
            f"q3 needs a rollup maintained over {sorted(need)}; this one "
            f"has {list(dim_cols)}"
        )


def _q3_from_snapshot(snap: DataFrame) -> DataFrame:
    """The q3 aggregation over any snapshot-shaped frame — one home for
    the panel's contract, shared by the single-snapshot and spanned
    routes (code-review r12: the drift class _resolve_series_dim was
    extracted for)."""
    return (
        snap.groupBy("service_name", "severity_text")
        .agg(F.sum("n").cast("long").alias("count"))
    )


def q5_timeseries_from_spanned_rollup(
    spark, fine_dir: str, coarse_dir: str, boundary, start=None, end=None,
    interval_seconds: int | None = None, fine_interval_s: int = 30,
    coarse_interval_s: int = 300, dim_cols: tuple = ("event_type",),
    series_dim: str | None = None, filters=(),
) -> DataFrame:
    """Q5 served from the MIXED-GRAIN rollup layout (r12, VERDICT r11 #1):
    recent buckets (``>= boundary``) from the continuously-maintained fine
    snapshot, the long tail (``< boundary``) from its
    ``compact_rollup_grain`` output — the steady-state layout SCALE.md's
    year-horizon bound names, now servable end-to-end.

    Routing rule (exactness, because counts re-aggregate):

    - ``interval_seconds`` a multiple of the COARSE grain → the spanned
      union re-buckets exactly (a coarse bucket never straddles an
      interval boundary: the boundary and the interval are both
      coarse-aligned). Default interval = the coarse grain — the finest
      grain a FULL-history spanned read can serve.
    - interval only a multiple of the FINE grain → servable exactly iff
      the requested window lies entirely at/after the boundary (the fine
      side owns it); delegated to ``q5_timeseries_from_rollup`` on the
      fine snapshot alone.
    - anything else raises ``RollupRouteIncompatible`` — serving's auto
      routing falls back to the raw scan, which is the only exact answer
      for a fine-grain full-history panel once the tail is coarse.

    ``filters`` follow the maintained-dimensions-only contract; per-row
    grain-alignment guards ride both sides (``span_snapshots``)."""
    from demo_otel_parquet_antalya_spark.streaming.rollup import (
        _boundary_epoch,
        _read_version,
        _resolve_span,
        read_rollup_spanned,
    )

    if interval_seconds is None:
        interval_seconds = coarse_interval_s
    series = _resolve_series_dim(dim_cols, series_dim)
    if interval_seconds <= 0 or interval_seconds % fine_interval_s:
        raise RollupRouteIncompatible(
            f"interval={interval_seconds} is not a multiple of the "
            f"maintained {fine_interval_s}s grain — serve from raw"
        )
    if interval_seconds % coarse_interval_s:
        # fine-grain interval: exact only where the fine snapshot owns the
        # buckets — the window must start at/after the span boundary
        # (boundary='auto' resolves from the fine side's trim marker)
        b_epoch, v = _resolve_span(spark, fine_dir, boundary, coarse_interval_s)
        s_epoch = (
            None if start is None
            else _boundary_epoch(spark, start, 1)  # align 1: parse only
        )
        if s_epoch is None or s_epoch < b_epoch:
            raise RollupRouteIncompatible(
                f"interval={interval_seconds} is finer than the "
                f"{coarse_interval_s}s compacted tail; only windows at or "
                f"after the span boundary can be served at that grain"
            )
        # serve from the SAME pinned fine version the boundary was read
        # from: delegating to the re-listing single-snapshot route could
        # pair this boundary with a newer, further-trimmed snapshot when
        # a maintenance commit lands in between — the transient-gap race
        # _resolve_span closes (code-review r12, second pass)
        snap = _read_version(spark, fine_dir, v, dim_cols)
        return _q5_from_snapshot(
            snap, dim_cols, series, start, end,
            interval_seconds, fine_interval_s, filters,
        )
    df = _dim_filtered(
        read_rollup_spanned(
            spark, fine_dir, coarse_dir, boundary,
            fine_interval_s, coarse_interval_s, dim_cols,
        ),
        dim_cols,
        filters,
    ).select(
        F.col("bucket").alias("t"),
        F.col(series).alias("series"),
        F.col("n").alias("value"),
    )
    if start is not None:
        df = df.filter(F.col("t") >= F.lit(start))
    if end is not None:
        df = df.filter(F.col("t") <= F.lit(end))
    # re-bucket both sides to the requested interval; alignment guards are
    # already inside the span frame, so a plain guarded-free sum is exact
    return (
        df.groupBy(time_bucket("t", interval_seconds).alias("t"), "series")
        .agg(F.sum("value").cast("long").alias("value"))
        .orderBy("t", "series")
    )


def q3_severity_counts_from_spanned_rollup(
    spark, fine_dir: str, coarse_dir: str, boundary,
    fine_interval_s: int = 30, coarse_interval_s: int = 300,
    dim_cols: tuple = ("service_name", "severity_text"), filters=(),
) -> DataFrame:
    """Q3 over the mixed-grain layout (r12): the severity-count panel sums
    counts over ALL buckets, so it re-aggregates the spanned union exactly
    at ANY grain mix — the full-history panel stays O(snapshot) after the
    tail coarsens. Same dimension requirements and filter contract as
    ``q3_severity_counts_from_rollup``."""
    from demo_otel_parquet_antalya_spark.streaming.rollup import read_rollup_spanned

    _require_q3_dims(dim_cols)
    snap = _dim_filtered(
        read_rollup_spanned(
            spark, fine_dir, coarse_dir, boundary,
            fine_interval_s, coarse_interval_s, dim_cols,
        ),
        dim_cols,
        filters,
    )
    return _q3_from_snapshot(snap)
