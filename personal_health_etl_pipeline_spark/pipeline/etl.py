"""Batch ETL driver: extract -> transform -> load, Spark-first.

Mirrors the reference's two Airflow tasks (``run_extract_pipeline``,
``extract.py:151-203``; ``run_transform_pipeline``,
``transform.py:161-240``) as two driver functions over lazy DataFrame
graphs. Control flow (watermarks, early exit) stays driver-side Python
— exactly the "thin driver logic" SURVEY.md §4 keeps — while every data
motion is a Spark plan: pruned raw-zone scans, one aggregation that
combines the types on the day key and counts each type's records per
day, one flatten + schema-align projection, one append.

Scale notes (100 TB): per-type extraction is embarrassingly parallel
(no state crosses types). The combine is a single shuffle on the day
key however many types there are: a chain of N-1 full-outer joins
plans N+1 exchanges, because each join's output is re-shuffled on the
coalesced key. The transform runs two actions over that aggregation —
a small check that fails on duplicate days before anything is written,
then the append — whose schema is enforced *before* the job runs (C2
fails in the driver, not per-task). Nothing but scalar watermarks and
at most ``_CITED`` check rows ever reaches the driver.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from personal_health_etl_pipeline_spark.functions.flatten import flatten
from personal_health_etl_pipeline_spark.operators.conflict import DuplicateKeyError
from personal_health_etl_pipeline_spark.pipeline.fixtures import (
    RECORD_SCHEMA,
    fetch_range_df,
)
from personal_health_etl_pipeline_spark.pipeline.raw_zone import (
    max_landed_date,
    scan_raw,
    write_raw,
)
from personal_health_etl_pipeline_spark.schema import (
    align_to_schema,
    struct_from_json_schema,
)

DEFAULT_TYPES = ("daily_activity", "daily_sleep", "daily_readiness")
_CITED = 5  # duplicate days a DuplicateKeyError names


@dataclass(frozen=True)
class PipelineConfig:
    """Engine twin of the reference ``OuraConfig`` (config.py:7-17),
    minus the GCP/API coupling."""

    raw_root: str
    warehouse_path: str
    data_types: tuple[str, ...] = DEFAULT_TYPES
    chunk_days: dict[str, int] = field(default_factory=dict)  # S4, e.g. {"heartrate": 7}
    historical_days: int = 365  # constants.py:17


# --- warehouse schema (S9 / §1.3: declared as {name,type,mode} JSON) ---

_PER_TYPE_FIELDS = (
    ("id", "STRING"),
    ("day", "DATE"),  # dropped per type; kept once as the key
    ("score", "INT64"),
    ("temperature_deviation", "FLOAT64"),
    ("timestamp", "TIMESTAMP"),
    ("contributors__deep_sleep", "INT64"),
    ("contributors__efficiency", "INT64"),
    ("contributors__latency", "INT64"),
    ("met_items", "STRING"),  # arrays are JSON strings at the boundary (F4)
)


def warehouse_schema(data_types: tuple[str, ...] = DEFAULT_TYPES) -> StructType:
    """One wide row per day: ``day`` + ``{type}__{field}`` per data type,
    built through the JSON-schema converter the engine ships (S9)."""
    fields = [{"name": "day", "type": "DATE", "mode": "REQUIRED"}]
    for dtype in data_types:
        for name, typ in _PER_TYPE_FIELDS:
            if name == "day":
                continue
            fields.append({"name": f"{dtype}__{name}", "type": typ, "mode": "NULLABLE"})
    return struct_from_json_schema(fields)


# --- extract (reference extract.py:151-203) ---------------------------

def _chunk_ranges(start: dt.date, end: dt.date, days: int):
    """S4: split an inclusive range into ``days``-sized windows."""
    lo = start
    while lo <= end:
        hi = min(lo + dt.timedelta(days=days - 1), end)
        yield lo, hi
        lo = hi + dt.timedelta(days=1)


def run_extract(
    spark: SparkSession,
    cfg: PipelineConfig,
    today: dt.date,
    source=fetch_range_df,
) -> dict[str, int]:
    """Land ``(watermark, yesterday]`` per data type into the raw zone.

    Watermark = last landed range end + 1 day, else yesterday −
    ``historical_days`` (extract.py:170-177). Chunked types fetch in
    windows and union (extract.py:133-149) — in Spark the union is one
    plan, every chunk scanned in parallel. Empty results still land as
    processed-markers (extract.py:187-193).
    """
    yesterday = today - dt.timedelta(days=1)
    landed: dict[str, int] = {}
    for dtype in cfg.data_types:
        wm = max_landed_date(cfg.raw_root, dtype)
        start = (
            wm + dt.timedelta(days=1)
            if wm is not None
            else yesterday - dt.timedelta(days=cfg.historical_days)
        )
        if start > yesterday:
            continue  # nothing new — early exit per type
        chunk = cfg.chunk_days.get(dtype)
        if chunk:
            parts = [
                source(spark, dtype, lo, hi)
                for lo, hi in _chunk_ranges(start, yesterday, chunk)
            ]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        else:
            df = source(spark, dtype, start, yesterday)
        # observe() computes the row count as a side metric of the write
        # action itself — the source is read exactly once per type.
        obs = Observation()
        write_raw(
            df.observe(obs, F.count(F.lit(1)).alias("n")),
            cfg.raw_root,
            dtype,
            start,
            yesterday,
        )
        landed[dtype] = obs.get["n"]
    return landed


# --- transform + load (reference transform.py:161-240) ----------------

def _warehouse_df(spark: SparkSession, cfg: PipelineConfig) -> DataFrame | None:
    if not os.path.isdir(cfg.warehouse_path):
        return None
    try:
        return spark.read.parquet(cfg.warehouse_path)
    except Exception:
        return None  # directory exists but holds no data yet


def run_transform(
    spark: SparkSession, cfg: PipelineConfig, today: dt.date
) -> dict[str, int]:
    """Combine new raw days into wide rows and append to the warehouse.

    Per type: pruned raw scan (S6/P2) -> required-key filter (P1) ->
    the record packed into one struct column named after the type. The
    per-type frames are unioned and grouped by ``day`` once: each
    type's collected list holds its record for the day (J1 — a type
    missing the day gets NULLs) and, by its length, the type's
    multiplicity (J3). A check action over that aggregation raises
    :class:`DuplicateKeyError` before any write (validate-then-act) or
    exits early when there is nothing new (transform.py:192-194). The
    append then re-runs the aggregation, flattens each struct into
    ``{type}__{field}`` columns with boundary JSON arrays (F1/F4, P3),
    aligns to the declared schema (C1-C3/C5, which also performs the
    F2/F3 string->date/timestamp coercions via typed casts) and writes
    (S7). Late data — anything ≤ the warehouse watermark — is never
    re-read (transform.py:187).
    """
    existing = _warehouse_df(spark, cfg)
    if existing is not None:
        wm = existing.agg(F.max("day")).first()[0]
    else:
        wm = None
    start = (
        wm + dt.timedelta(days=1)
        if wm is not None
        else today - dt.timedelta(days=cfg.historical_days + 1)
    )
    end_excl = today  # through yesterday, half-open

    types = cfg.data_types
    frames = []
    for dtype in types:
        raw = scan_raw(spark, cfg.raw_root, dtype, start, end_excl, RECORD_SCHEMA)
        raw = raw.where(F.col("day").isNotNull())  # P1
        record = F.struct(*[c for c in raw.columns if c != "day"])
        frames.append(raw.select("day", record.alias(dtype)))
    by_day = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    ).groupBy("day").agg(*[F.collect_list(t).alias(t) for t in types])

    copies = by_day.select("day", *[F.size(t).alias(t) for t in types])
    most = F.array_max(F.array(*types))
    check = copies.orderBy(most.desc(), "day").limit(_CITED).collect()
    if not check:
        return {"new_rows": 0}  # early exit (transform.py:192-194)
    dups = [r for r in check if max(r[t] for t in types) > 1]
    if dups:  # J3: fail before any write
        cited = ", ".join(
            f"{r['day']!r}(" + ", ".join(f"{t} x{r[t]}" for t in types if r[t] > 1) + ")"
            for r in dups
        )
        raise DuplicateKeyError(f"duplicate 'day' values detected: {cited}")

    # by_day is deliberately not persisted: a cached aggregate keeps
    # every shuffle partition uncoalesced, which costs more tasks than
    # re-running a small aggregation for the write.
    wide = flatten(
        by_day.select("day", *[F.get(t, 0).alias(t) for t in types]), arrays="json"
    )
    aligned = align_to_schema(wide, warehouse_schema(types))
    # The count rides along the write as an observed metric, not a
    # second action over the lineage.
    obs = Observation()
    aligned.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "append"
    ).parquet(cfg.warehouse_path)
    return {"new_rows": obs.get["n"]}


# --- warehouse probes (reference load.py:209-224, 325-348) ------------

def warehouse_distinct_days(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """P4: SELECT DISTINCT day."""
    df = _warehouse_df(spark, cfg)
    if df is None:
        return spark.createDataFrame([], "day date")
    return df.select("day").distinct()


def warehouse_has_day(spark: SparkSession, cfg: PipelineConfig, day: dt.date) -> bool:
    """P5: existence probe, short-circuited (limit 1, no full count)."""
    df = _warehouse_df(spark, cfg)
    if df is None:
        return False
    return bool(df.where(F.col("day") == F.lit(day)).limit(1).head(1))


def truncate_warehouse(spark: SparkSession, cfg: PipelineConfig) -> None:
    """S8: reset the warehouse to empty (overwrite with zero rows)."""
    empty = spark.createDataFrame([], warehouse_schema(cfg.data_types))
    empty.write.mode("overwrite").parquet(cfg.warehouse_path)


# --- orchestration (reference oura_dag.py:13-44) ----------------------

def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig, today: dt.date, source=fetch_range_df
) -> dict[str, object]:
    """The reference's two-task linear DAG as one driver call:
    extract lands raw ranges, transform combines and loads — strictly
    in that order (oura_dag.py:44). Scheduling (the daily 04:00 cron)
    stays outside the engine, exactly as it does in the reference.
    """
    extracted = run_extract(spark, cfg, today, source=source)
    loaded = run_transform(spark, cfg, today)
    return {"extracted": extracted, **loaded}
