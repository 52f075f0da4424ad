"""Repository benchmark: one workload per run, every output checked.

    python3 perfbench/run.py --workload {catalog,daily_etl} \
        --seed N --seconds S --trace {0,1} [--smoke]

Run from the repository root. The run generates its inputs from
``--seed`` under ``.perfbench/`` (removed at exit), starts one Spark
session at ``local[nproc]``, runs the workload's ops one at a time and
checks every output outside the timers. Human-readable lines (host
facts, each metric with its unit, failures, and with ``--trace 1`` the
per-layer self times) go to stdout first; the last line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics untraced, the per-layer metrics traced.

``--smoke`` shrinks every workload to its shortest form at sf0.001
(one warm pass, two ETL days) for the benchmark's own tests. See
README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("catalog", "daily_etl")
BENCH_SF, SMOKE_SF = 0.01, 0.001
CALIB_EXPR = "sum(pmod(xxhash64(id), 1000003))"
CALIB_ROWS = 20_000_000



def declared_metrics() -> dict[str, dict[str, str]]:
    """``{"end_to_end": {name: unit}, "per_layer": {name: unit}}`` as
    BENCHMARK.json declares them; a run prints exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


def _nproc() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _isolate(work: str) -> None:
    """Point every scratch location Spark, the JVM and Python use at
    the run's own work directory."""
    for sub in ("spark-local", "spark-warehouse", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "spark-warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()


def _new_session(work: str):
    from personal_health_etl_pipeline_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{_nproc()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_up(spark, data_dir: str | None) -> None:
    """JVM/codegen and parquet-reader warm-up, plus the Python-worker
    start: both workloads use Python workers (`daily_etl` through
    createDataFrame of the fixture rows)."""
    spark.range(0, 1_000_000, 1, _nproc()).selectExpr("sum(id)").collect()
    if data_dir:
        spark.read.parquet(f"{data_dir}/lineitem.parquet").limit(1).collect()
    spark.range(64).mapInArrow(lambda it: it, "id long").selectExpr("sum(id)").collect()


def _calibrate(spark) -> float:
    """Median seconds of a fixed CPU-bound job (fresh plan per trial),
    to tell a slow host from slow code. Not gated."""
    job = lambda: spark.range(0, CALIB_ROWS, 1, _nproc()).selectExpr(CALIB_EXPR).collect()  # noqa: E731
    job()
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        job()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _descendants(pid: int) -> set[int]:
    parents = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parents[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # exited while listing
    found, frontier = set(), {pid}
    while frontier:
        frontier = {c for c, p in parents.items() if p in frontier} - found
        found |= frontier
    return found


def _ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _shutdown(spark) -> None:
    """Stop the session, then wait for the JVM and every process under
    it (the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = _descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while not all(_ended(c) for c in children) and time.monotonic() < deadline:
        time.sleep(0.1)
    for c in children:
        if not _ended(c):
            with contextlib.suppress(ProcessLookupError):
                os.kill(c, signal.SIGKILL)


def tail(samples: list[float]) -> tuple[int, float]:
    """(percentile, value): the highest whole percentile with at least
    10 samples beyond it. A workload times a fixed number of ops, so
    the percentile is the same in every run; with fewer than 20
    samples no such percentile reaches p50 and the median is given."""
    n = len(samples)
    p = math.floor(100 * (1 - 10 / n)) if n else 0
    if p <= 50 or n < 2:
        return 50, statistics.median(samples)
    return p, statistics.quantiles(samples, n=100, method="inclusive")[p - 1]


def op_cpu(names: list[str], cpu: list[float]) -> float:
    """CPU seconds of a typical warm op: each op's median over the warm
    region, averaged over the distinct ops. The first warm pass still
    runs partly interpreted code while the JIT catches up, and a GC or
    a reaped worker can land in any one op; the median drops both."""
    by_op: dict[str, list[float]] = {}
    for name, s in zip(names, cpu):
        by_op.setdefault(name, []).append(s)
    return statistics.mean(statistics.median(v) for v in by_op.values()) if by_op else 0.0


def _emit(name: str, value: float, unit: str, note: str = "") -> None:
    print(f"metric {name} = {value:.6g} {unit}{'  ' + note if note else ''}")


def _end_to_end(out, setup_s: float, rss_mb: float) -> dict[str, float]:
    """Every end-to-end metric, printed with its unit; BENCHMARK.json
    declares the steady subset that goes into the JSON result."""
    ops, cpu = out.op_s, out.op_cpu_s
    p, tail_v = tail(ops) if ops else (50, 0.0)
    rows = (
        ("setup_s", setup_s, "s", ""),
        ("cold_pass_s", out.cold_s, "s", ""),
        ("cold_pass_cpu_s", out.cold_cpu_s, "s", ""),
        ("ops_per_s", len(ops) / sum(ops) if ops else 0.0, "1/s", ""),
        ("op_p50_s", statistics.median(ops) if ops else 0.0, "s", ""),
        ("op_tail_s", tail_v, "s", f"(p{p}, n={len(ops)} warm ops)"),
        ("op_cpu_s", op_cpu(out.op_names, cpu), "s", ""),
        ("peak_rss_mb", rss_mb, "MB", ""),
        ("failed_frac", len(out.failures) / max(1, out.attempted), "ratio",
         f"({len(out.failures)} of {out.attempted} ops)"),
        ("backfill_s", out.extra.get("backfill_s"), "s", ""),
        ("read_p50_s", out.extra.get("read_p50_s"), "s", ""),
        ("stored_bytes_per_day", out.extra.get("stored_bytes_per_day"), "bytes", ""),
    )
    vals = {}
    for name, value, unit, note in rows:
        if value is not None:
            _emit(name, value, unit, note)
            vals[name] = value
    return vals


def _per_layer(out, tracer, session_start_s: float) -> dict[str, float]:
    import workloads as W

    n = max(1, len(out.op_s))
    vals = {"session.start_s": session_start_s}
    for key in W.PER_OP_COUNTERS:
        vals[key] = sum(c.get(key, 0.0) for c in out.counters) / n
    ratios = [c["dedup.verified_per_candidate"] for c in out.counters
              if "dedup.verified_per_candidate" in c]
    vals["dedup.verified_per_candidate"] = statistics.mean(ratios) if ratios else 0.0
    for name in W.CATALOG_ARTIFACTS:
        key = f"plans.artifacts.build_s.{name}"
        vals[key] = out.extra.get(key, 0.0)
    vals["pipeline.raw_partitions"] = out.extra.get("pipeline.raw_partitions", 0)
    vals["pipeline.warehouse_files"] = out.extra.get("pipeline.warehouse_files", 0)
    vals["trace.uncovered_frac"] = tracer.uncovered_frac("op")
    print("self time per layer (s, whole run):")
    for name, s in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
        print(f"  {name:<22} {s:9.3f}")
    print(f"op wall time not covered by a layer span: {vals['trace.uncovered_frac']:.2%}")
    return vals


def _compare_saved(workload: str, seed: int, e2e: dict, layer: dict,
                   units: dict[str, str]) -> None:
    """Tracing overhead against the last untraced run of this workload
    and seed, and which counters repeat exactly against the last
    traced run, when those runs exist in this checkout."""
    base = os.path.join(OUT_DIR, "results", f"{workload}-{seed}")
    try:
        with open(base + "-trace0.json") as f:
            plain = json.load(f)["end_to_end"]
        for k in ("ops_per_s", "op_p50_s", "op_cpu_s"):
            if plain.get(k):
                print(f"tracing overhead {k}: traced {e2e[k]:.4g} vs untraced "
                      f"{plain[k]:.4g} ({e2e[k] / plain[k] - 1:+.1%})")
    except FileNotFoundError:
        print("tracing overhead: no untraced run of this workload and seed saved yet")
    try:
        with open(base + "-trace1.json") as f:
            prev = json.load(f)["per_layer"]
        counts = [k for k, u in units.items() if u in ("count", "bytes")]
        counts.append("dedup.verified_per_candidate")
        same = sorted(k for k in counts if prev.get(k) == layer[k])
        diff = sorted(k for k in counts if prev.get(k) != layer[k])
        print("counters repeating exactly vs the previous traced run:", ", ".join(same))
        print("counters that differ:", ", ".join(diff) or "none")
    except FileNotFoundError:
        print("exact-repeat check: no earlier traced run of this workload and seed saved yet")


def _save(workload: str, seed: int, traced: bool, record: dict) -> None:
    os.makedirs(os.path.join(OUT_DIR, "results"), exist_ok=True)
    path = os.path.join(OUT_DIR, "results", f"{workload}-{seed}-trace{int(traced)}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    try:
        import parity  # noqa: F401  (the repository's oracle comparator)
        import personal_health_etl_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2

    import datagen
    import workloads as W
    from spans import Probe, ProcessCPU, Tracer, peak_rss_mb

    declared = declared_metrics()

    load1 = os.getloadavg()[0]
    steal0, total0 = _cpu_ticks()
    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    _isolate(work)
    spark = None
    try:
        data_dir = None
        sizes = {}
        if args.workload != "daily_etl":
            data_dir = os.path.join(work, "data")
            sizes = datagen.write_tables(data_dir, args.seed, SMOKE_SF if args.smoke else BENCH_SF)
        t0 = time.perf_counter()
        spark = _new_session(work)
        t1 = time.perf_counter()
        _warm_up(spark, data_dir)
        session_start_s = t1 - t0
        print(f"setup inputs+imports={t0 - T_START:.3f}s session={session_start_s:.3f}s "
              f"warm-up={time.perf_counter() - t1:.3f}s")
        tracer = Tracer(enabled=bool(args.trace))
        ctx = W.Context(
            spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
            data_dir=data_dir, work_dir=work, smoke=args.smoke,
            new_session=lambda: _new_session(work),
            cpu=ProcessCPU(spark),
            probe=Probe(spark) if args.trace else None,
        )
        setup_s = time.perf_counter() - T_START
        if args.workload == "daily_etl":
            out = W.run_daily_etl(ctx)
        else:
            out = W.run_catalog(ctx)
        spark = ctx.spark
        rss_mb = peak_rss_mb(spark)
        calib_s = _calibrate(spark)
        steal1, total1 = _cpu_ticks()
        print(f"host nproc={len(os.sched_getaffinity(0))} "
              f"SPARK_GRAFT_CPUS={os.environ.get('SPARK_GRAFT_CPUS', 'unset')} "
              f"spark=local[{_nproc()}] loadavg1_at_start={load1:.2f} "
              f"cpu_steal={(steal1 - steal0) / max(1, total1 - total0):.1%} "
              f"calibration_s={calib_s:.4f} ({CALIB_ROWS} rows xxhash64 sum)")
        if sizes:
            print(f"inputs sf={SMOKE_SF if args.smoke else BENCH_SF} bytes={sum(sizes.values())} "
                  + " ".join(f"{k}={v}" for k, v in sizes.items()))
        for failure in out.failures:
            print(f"failed {failure}")
        e2e = _end_to_end(out, setup_s, rss_mb)
        record = {"end_to_end": e2e, "failures": out.failures, "calibration_s": calib_s}
        if args.trace:
            layer = _per_layer(out, tracer, session_start_s)
            _compare_saved(args.workload, args.seed, e2e, layer, declared["per_layer"])
            record["per_layer"] = layer
            os.makedirs(os.path.join(OUT_DIR, "results"), exist_ok=True)
            tracer.dump(os.path.join(OUT_DIR, "results", f"{args.workload}-{args.seed}-spans.json"))
            metrics, units = layer, declared["per_layer"]
        else:
            metrics, units = e2e, declared["end_to_end"]
        _save(args.workload, args.seed, bool(args.trace), record)
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": not out.failures,
        "attempted": out.attempted,
        "failed": len(out.failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
