"""End-to-end batch ETL tests: extract -> raw zone -> transform -> load.

Mirrors the reference pipeline's behavior contract (SURVEY.md §3):
watermark incrementality, chunked extraction, pruned raw scans, wide
combine, schema-aligned append, duplicate-day failure, overlapping
raw ranges failure, idempotence (running twice loads nothing new).
"""

from __future__ import annotations

import datetime as dt
import glob
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from personal_health_etl_pipeline_spark.operators.conflict import DuplicateKeyError
from personal_health_etl_pipeline_spark.pipeline import (
    OverlappingRangeError,
    PipelineConfig,
    landed_ranges,
    max_landed_date,
    run_extract,
    run_pipeline,
    run_transform,
    scan_raw,
    warehouse_distinct_days,
    warehouse_has_day,
    write_raw,
)
from personal_health_etl_pipeline_spark.pipeline.etl import (
    truncate_warehouse,
    warehouse_schema,
)
from personal_health_etl_pipeline_spark.pipeline.fixtures import (
    RECORD_SCHEMA,
    fetch_range,
    fetch_range_df,
)

TODAY = dt.date(2024, 3, 1)


def _cfg(tmp_path, **kw) -> PipelineConfig:
    return PipelineConfig(
        raw_root=str(tmp_path / "raw"),
        warehouse_path=str(tmp_path / "warehouse"),
        historical_days=kw.pop("historical_days", 9),
        **kw,
    )


class TestExtract:
    def test_backfill_then_incremental(self, spark, tmp_path):
        cfg = _cfg(tmp_path)
        landed = run_extract(spark, cfg, TODAY)
        # 10 days landed per type: yesterday-9 .. yesterday inclusive
        assert landed == {t: 10 for t in cfg.data_types}
        assert max_landed_date(cfg.raw_root, "daily_sleep") == TODAY - dt.timedelta(1)

        # next day: exactly one new day per type
        landed2 = run_extract(spark, cfg, TODAY + dt.timedelta(days=1))
        assert landed2 == {t: 1 for t in cfg.data_types}
        # same day again: nothing to do
        assert run_extract(spark, cfg, TODAY + dt.timedelta(days=1)) == {}

    def test_chunked_extraction_equals_unchunked(self, spark, tmp_path):
        cfg = _cfg(tmp_path, data_types=("heartrate",), chunk_days={"heartrate": 3})
        run_extract(spark, cfg, TODAY)
        got = scan_raw(
            spark,
            cfg.raw_root,
            "heartrate",
            TODAY - dt.timedelta(days=10),
            TODAY,
            RECORD_SCHEMA,
        )
        expect = fetch_range("heartrate", TODAY - dt.timedelta(days=10), TODAY - dt.timedelta(days=1))
        assert sorted(r["day"] for r in got.collect()) == sorted(r["day"] for r in expect)


class TestRawZone:
    def test_scan_prunes_nonoverlapping_ranges(self, spark, tmp_path):
        root = str(tmp_path / "raw")
        jan = fetch_range_df(spark, "daily_sleep", dt.date(2024, 1, 1), dt.date(2024, 1, 7))
        feb = fetch_range_df(spark, "daily_sleep", dt.date(2024, 2, 1), dt.date(2024, 2, 7))
        write_raw(jan, root, "daily_sleep", dt.date(2024, 1, 1), dt.date(2024, 1, 7))
        write_raw(feb, root, "daily_sleep", dt.date(2024, 2, 1), dt.date(2024, 2, 7))

        got = scan_raw(
            spark, root, "daily_sleep", dt.date(2024, 2, 1), dt.date(2024, 2, 4), RECORD_SCHEMA
        )
        days = sorted(r["day"] for r in got.collect())
        assert days == ["2024-02-01", "2024-02-02", "2024-02-03"]
        # partition pruning: the January range never enters the plan
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "range_start" in plan  # partition filter present

    def test_overlapping_ranges_raise(self, spark, tmp_path):
        root = str(tmp_path / "raw")
        df = fetch_range_df(spark, "daily_sleep", dt.date(2024, 1, 1), dt.date(2024, 1, 7))
        write_raw(df, root, "daily_sleep", dt.date(2024, 1, 1), dt.date(2024, 1, 7))
        write_raw(df, root, "daily_sleep", dt.date(2024, 1, 5), dt.date(2024, 1, 9))
        with pytest.raises(OverlappingRangeError):
            landed_ranges(root, "daily_sleep")

    @pytest.mark.parametrize(
        "start, end",
        [
            (dt.date(2024, 1, 1), dt.date(2024, 12, 31)),  # 366 days
            (dt.date(2024, 1, 1), dt.date(2024, 1, 1)),
            (dt.date(2024, 1, 2), dt.date(2024, 1, 1)),  # inverted: empty
        ],
        ids=["366d", "1d", "inverted"],
    )
    def test_source_lands_like_row_path(self, spark, tmp_path, start, end):
        """The Arrow-backed fixture frame equals the Python-row frame in
        schema, rows and landed JSON lines; an empty extraction still
        lands a processed marker."""
        got = fetch_range_df(spark, "daily_sleep", start, end)
        want = spark.createDataFrame(fetch_range("daily_sleep", start, end), RECORD_SCHEMA)
        assert got.schema == want.schema
        assert got.collect() == want.collect()

        lines = {}
        for name, df in (("arrow", got), ("rows", want)):
            root = str(tmp_path / name)
            path = write_raw(df, root, "daily_sleep", start, end)
            assert max_landed_date(root, "daily_sleep") == end
            lines[name] = sorted(
                line
                for f in glob.glob(f"{path}/*.json")
                for line in Path(f).read_text().splitlines()
            )
        assert lines["arrow"] == lines["rows"]
        assert len(lines["arrow"]) == max((end - start).days + 1, 0)

    def test_empty_extraction_is_processed_marker(self, spark, tmp_path):
        root = str(tmp_path / "raw")
        empty = spark.createDataFrame([], RECORD_SCHEMA)
        write_raw(empty, root, "daily_sleep", dt.date(2024, 1, 1), dt.date(2024, 1, 2))
        # the range counts as landed (watermark advances past it) ...
        assert max_landed_date(root, "daily_sleep") == dt.date(2024, 1, 2)
        # ... and scanning it yields zero rows, not an error
        got = scan_raw(
            spark, root, "daily_sleep", dt.date(2024, 1, 1), dt.date(2024, 2, 1), RECORD_SCHEMA
        )
        assert got.count() == 0

    def test_source_plan_runs_no_python_workers(self, spark):
        df = fetch_range_df(spark, "daily_sleep", dt.date(2024, 1, 1), dt.date(2024, 1, 7))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan  # a Python-RDD scan


class TestTransformLoad:
    def test_end_to_end_wide_rows(self, spark, tmp_path):
        cfg = _cfg(tmp_path)
        run_extract(spark, cfg, TODAY)
        assert run_transform(spark, cfg, TODAY) == {"new_rows": 10}

        wh = spark.read.parquet(cfg.warehouse_path)
        # parquet read-back loses nullability flags; names+types must match
        assert [(f.name, f.dataType) for f in wh.schema.fields] == [
            (f.name, f.dataType) for f in warehouse_schema(cfg.data_types).fields
        ]
        assert wh.count() == 10
        row = wh.where(F.col("day") == dt.date(2024, 2, 25)).first()
        expect = fetch_range("daily_sleep", dt.date(2024, 2, 25), dt.date(2024, 2, 25))[0]
        assert row["daily_sleep__score"] == expect["score"]
        assert row["daily_sleep__contributors__latency"] == expect["contributors"]["latency"]
        # arrays serialized as JSON strings at the boundary (F4)
        assert row["daily_sleep__met_items"].startswith("[")
        # wire timestamp coerce-parsed to a real timestamp (F3)
        assert row["daily_sleep__timestamp"].date() == dt.date(2024, 2, 25)

    def test_incremental_append_and_idempotence(self, spark, tmp_path):
        cfg = _cfg(tmp_path)
        run_extract(spark, cfg, TODAY)
        run_transform(spark, cfg, TODAY)
        # property (SURVEY.md §5.3): transform twice -> zero new rows
        assert run_transform(spark, cfg, TODAY) == {"new_rows": 0}
        assert spark.read.parquet(cfg.warehouse_path).count() == 10

        nxt = TODAY + dt.timedelta(days=1)
        run_extract(spark, cfg, nxt)
        assert run_transform(spark, cfg, nxt) == {"new_rows": 1}
        wh = spark.read.parquet(cfg.warehouse_path)
        assert wh.count() == 11
        assert wh.select("day").distinct().count() == 11

    def test_duplicate_day_fails_before_write(self, spark, tmp_path):
        cfg = _cfg(tmp_path)
        dup_day = dt.date(2024, 2, 25)
        df = fetch_range_df(spark, "daily_sleep", dup_day, dup_day)
        # land the same day twice in two disjoint ranges (ranges don't
        # overlap, but the *row* appears in both -> J3 must fire)
        write_raw(df, cfg.raw_root, "daily_sleep", dup_day, dup_day)
        write_raw(
            df.withColumn("day", F.lit(dup_day.isoformat())),
            cfg.raw_root,
            "daily_sleep",
            dup_day + dt.timedelta(days=1),
            dup_day + dt.timedelta(days=1),
        )
        for dtype in cfg.data_types:
            if dtype == "daily_sleep":
                continue
            write_raw(
                fetch_range_df(spark, dtype, dup_day, dup_day),
                cfg.raw_root,
                dtype,
                dup_day,
                dup_day,
            )
        # daily_sleep is not the first type: every type's multiplicity
        # is checked, and the error cites the day
        assert cfg.data_types.index("daily_sleep") > 0
        with pytest.raises(DuplicateKeyError, match=r"'2024-02-25'\(daily_sleep x2\)"):
            run_transform(spark, cfg, TODAY)
        # validate-then-act: nothing was written
        assert not os.path.isdir(cfg.warehouse_path)

    def test_day_missing_from_one_type_is_null_there(self, spark, tmp_path):
        cfg = _cfg(tmp_path)
        lo, hi = dt.date(2024, 2, 20), dt.date(2024, 2, 22)
        for dtype in cfg.data_types:
            end = hi - dt.timedelta(1) if dtype == "daily_sleep" else hi
            write_raw(fetch_range_df(spark, dtype, lo, end), cfg.raw_root, dtype, lo, end)
        assert run_transform(spark, cfg, TODAY) == {"new_rows": 3}
        rows = {r["day"]: r for r in spark.read.parquet(cfg.warehouse_path).collect()}
        sleep_cols = [c for c in rows[hi].asDict() if c.startswith("daily_sleep__")]
        assert len(sleep_cols) == 8
        assert all(rows[hi][c] is None for c in sleep_cols)
        assert rows[hi]["daily_activity__score"] == fetch_range("daily_activity", hi, hi)[0]["score"]
        assert rows[lo]["daily_sleep__score"] == fetch_range("daily_sleep", lo, lo)[0]["score"]

    def test_truncate_then_transform_reloads_every_raw_day(self, spark, tmp_path):
        """S8: the warehouse exists but holds zero rows, so the
        transform has no watermark and reloads the whole raw zone."""
        cfg = _cfg(tmp_path)
        run_pipeline(spark, cfg, TODAY)
        truncate_warehouse(spark, cfg)
        wh = spark.read.parquet(cfg.warehouse_path)
        assert wh.collect() == []
        assert [(f.name, f.dataType) for f in wh.schema.fields] == [
            (f.name, f.dataType) for f in warehouse_schema(cfg.data_types).fields
        ]
        assert run_transform(spark, cfg, TODAY) == {"new_rows": 10}
        days = {r["day"] for r in spark.read.parquet(cfg.warehouse_path).collect()}
        assert days == {TODAY - dt.timedelta(days=i) for i in range(1, 11)}


class TestProbes:
    def test_distinct_days_and_existence(self, spark, tmp_path):
        cfg = _cfg(tmp_path)
        assert warehouse_distinct_days(spark, cfg).count() == 0
        assert not warehouse_has_day(spark, cfg, TODAY)
        run_extract(spark, cfg, TODAY)
        run_transform(spark, cfg, TODAY)
        assert warehouse_distinct_days(spark, cfg).count() == 10
        assert warehouse_has_day(spark, cfg, TODAY - dt.timedelta(days=1))
        assert not warehouse_has_day(spark, cfg, TODAY)


class TestSingleExecution:
    def test_driver_never_recounts_lineage(self, spark, tmp_path, monkeypatch):
        """run_extract/run_transform report row counts via observed write
        metrics — any DataFrame.count() inside them would re-execute the
        full source/transform lineage (double-scan at warehouse scale)."""
        from pyspark.sql import DataFrame

        cfg = _cfg(tmp_path)

        def _no_count(self):
            raise AssertionError(
                "DataFrame.count() called inside the ETL driver path"
            )

        monkeypatch.setattr(DataFrame, "count", _no_count)
        out = run_pipeline(spark, cfg, TODAY)
        assert out["new_rows"] == 10
        # 3 data types x 10 days landed, counted via observed metrics
        assert out["extracted"] == {
            "daily_sleep": 10,
            "daily_activity": 10,
            "daily_readiness": 10,
        }


class TestJobsPerDay:
    def test_incremental_day_runs_at_most_11_jobs(self, spark, tmp_path):
        """One incremental day: 3 raw writes, the warehouse footer read
        and watermark, then the combine's check and its append."""
        cfg = _cfg(tmp_path)
        run_pipeline(spark, cfg, TODAY)
        sc = spark.sparkContext
        group = f"incremental-day-{tmp_path.name}"
        sc.setJobGroup(group, "one incremental run_pipeline day")
        try:
            out = run_pipeline(spark, cfg, TODAY + dt.timedelta(days=1))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert out["new_rows"] == 1
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 11


class TestSpecialCategorySlice:
    """SPECIAL-category end-to-end: heartrate (the reference's
    datetime-range, 7-day-chunked type, extract.py:48-80,133-149 /
    constants.py:20-49) must land in chunked ranges AND flow through
    the transform into the wide warehouse row. The reference stubs the
    SPECIAL transform as a TODO (transform.py:120-128); the engine
    carries the category the whole way."""

    def test_heartrate_lands_chunked_and_transforms(self, spark, tmp_path):
        import glob as _glob

        cfg = _cfg(
            tmp_path,
            data_types=("daily_sleep", "heartrate"),
            chunk_days={"heartrate": 7},
        )
        out = run_pipeline(spark, cfg, TODAY)
        # 10 days landed for both types; heartrate fetched in 7+3 chunks
        assert out["extracted"] == {"daily_sleep": 10, "heartrate": 10}
        assert out["new_rows"] == 10
        # chunking is an extract-window concern, landing is one range:
        # the union of chunk fetches lands as a single (start, end) dir
        dirs = _glob.glob(
            f"{cfg.raw_root}/data_type=heartrate/range_start=*/range_end=*"
        )
        assert len(dirs) == 1
        # transformed wide rows carry the SPECIAL type's columns
        wh = spark.read.parquet(cfg.warehouse_path)
        assert wh.count() == 10
        row = wh.orderBy("day").first()
        assert row["heartrate__score"] is not None
        assert row["daily_sleep__score"] is not None
        assert row["heartrate__id"].startswith("heartrate-")

    def test_special_category_routes_through_registry(self, spark):
        """S2/S3: heartrate dispatches through the SPECIAL category with
        7-day fetch windows; an inverted window yields empty, matching
        the reference API contract."""
        import datetime as _dt

        from personal_health_etl_pipeline_spark.sources.registry import (
            CATEGORY_SPECIAL,
            DEFAULT_REGISTRY,
            extract_data_type,
        )

        spec = DEFAULT_REGISTRY["heartrate"]
        assert spec.category == CATEGORY_SPECIAL
        assert spec.chunk_days == 7
        start = _dt.date(2024, 3, 1)
        df = extract_data_type(spark, "heartrate", start, _dt.date(2024, 3, 17))
        assert df.count() == 17  # 7 + 7 + 3 chunk windows, unioned
        empty = extract_data_type(spark, "heartrate", start, _dt.date(2024, 2, 1))
        assert empty.count() == 0


class TestDetailedCategorySlice:
    """DETAILED-category end-to-end: workout (constants.py:20-49) —
    the last untested registry category. The reference stubs the
    DETAILED transform as a TODO (transform.py:120-128); the engine
    carries the category through extract -> raw zone -> transform ->
    warehouse exactly like DAILY, proving category routing never
    forks the data path."""

    def test_workout_lands_and_transforms(self, spark, tmp_path):
        cfg = _cfg(tmp_path, data_types=("daily_sleep", "workout"))
        out = run_pipeline(spark, cfg, TODAY)
        assert out["extracted"] == {"daily_sleep": 10, "workout": 10}
        assert out["new_rows"] == 10
        wh = spark.read.parquet(cfg.warehouse_path)
        assert wh.count() == 10
        row = wh.orderBy("day").first()
        assert row["workout__score"] is not None
        assert row["workout__id"].startswith("workout-")
        # incremental day-2 run stays incremental for the DETAILED type
        out2 = run_pipeline(spark, cfg, TODAY + dt.timedelta(days=1))
        assert out2["extracted"] == {"daily_sleep": 1, "workout": 1}
        assert out2["new_rows"] == 1

    def test_detailed_category_routes_through_registry(self, spark):
        from personal_health_etl_pipeline_spark.sources.registry import (
            CATEGORY_DETAILED,
            DEFAULT_REGISTRY,
            extract_data_type,
        )

        spec = DEFAULT_REGISTRY["workout"]
        assert spec.category == CATEGORY_DETAILED
        assert spec.chunk_days is None
        got = extract_data_type(
            spark, "workout", dt.date(2024, 3, 1), dt.date(2024, 3, 3)
        )
        assert got.count() == 3
        # inverted window -> empty frame, reference API contract
        empty = extract_data_type(
            spark, "workout", dt.date(2024, 3, 3), dt.date(2024, 3, 1)
        )
        assert empty.count() == 0
