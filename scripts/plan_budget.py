#!/usr/bin/env python
"""Catalog-wide physical-plan budget: pin every entry's plan shape.

`tests/test_plan_quality.py` gates ~a dozen handpicked plans in depth
(pushdown, broadcast, bucketing, salting). This script is the breadth
counterpart: for EVERY catalog entry it builds the DataFrame at sf0.01
(no execution beyond memoized artifact builds), parses the formatted
explain's numbered operator tree, and counts plan nodes per kind. The
counts are pinned in ``PLAN_BUDGET.json``; the compare mode fails when
any entry GREW a scale-hostile node count versus the pin:

- ``shuffles``   (``Exchange``)            — each is a full shuffle at
  100 TB; an unexplained new one is exactly the regression the 100 TB
  contract forbids.
- ``python``     (Arrow/Pandas eval nodes) — a query that silently fell
  off the JVM fast path.
- ``cartesian``  (``CartesianProduct``) and ``bnlj``
  (``BroadcastNestedLoopJoin``) — quadratic or driver-bound joins.
- ``BatchEvalPython`` anywhere is an immediate failure regardless of
  the pin: the engine bans row-at-a-time Python UDFs (README), and this
  turns the grep-level ban into a plan-level assertion.

Decreases and drift in neutral kinds (sorts, scans, broadcasts) are
reported as notes, never failures — re-pin deliberately with --write
after reviewing them.

Parsing notes: the formatted mode assigns one GLOBALLY UNIQUE id per
operator (main plan + subqueries), and reused subtrees print as
``ReusedExchange``/``ReusedSubquery`` referencing nodes — so counting
unique (kind, id) pairs is immune to the duplicate-path print quirks
that plague raw ``executedPlan().toString()`` audits (see
scripts/scan_audit.py). With AQE on, the pre-execution plan is the
AdaptiveSparkPlan's initial plan, which is deterministic for a fixed
corpus layout and session config.

Usage:
  python scripts/plan_budget.py            # compare vs PLAN_BUDGET.json
  python scripts/plan_budget.py --write    # (re)pin the ledger
  python scripts/plan_budget.py --only=a,b # subset, compare only
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

LEDGER = os.path.join(ROOT, "PLAN_BUDGET.json")

# tree lines look like "   +- * HashAggregate (5)" / ":  +- Exchange (4)";
# the "* " marker means whole-stage codegen. Node kinds are CamelCase,
# optionally followed by a lowercase format word ("Scan parquet ").
_NODE_RE = re.compile(
    r"^[\s:+\-]*\*?\s?([A-Z][A-Za-z]*(?: [a-z][a-z0-9]*)?)[^(]*\((\d+)\)\s*$"
)

# kinds whose growth fails the gate
_HOSTILE = ("shuffles", "python", "cartesian", "bnlj")

_PYTHON_NODES = {
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "PythonMapInArrow",
    "MapInArrow",
    "FlatMapGroupsInArrow",
}


def count_nodes(formatted_plan: str) -> dict[str, int]:
    """Unique-id node counts from a formatted explain string, rolled up
    into the budget's kinds."""
    seen: set[tuple[str, str]] = set()
    for line in formatted_plan.splitlines():
        m = _NODE_RE.match(line)
        if m:
            seen.add((m.group(1).strip(), m.group(2)))
    kinds = Counter(kind for kind, _ in seen)
    return {
        "shuffles": kinds.get("Exchange", 0),
        "broadcasts": kinds.get("BroadcastExchange", 0),
        "sorts": kinds.get("Sort", 0),
        # 'Scan' alone covers non-format scans (Scan ExistingRDD /
        # OneRowRelation capture as bare 'Scan' under _NODE_RE)
        "scans": sum(
            n for k, n in kinds.items() if k == "Scan" or k.startswith("Scan ")
        ),
        "python": sum(kinds.get(k, 0) for k in _PYTHON_NODES),
        "row_udf": kinds.get("BatchEvalPython", 0),
        "cartesian": kinds.get("CartesianProduct", 0),
        "bnlj": kinds.get("BroadcastNestedLoopJoin", 0),
        "nodes": sum(kinds.values()),
    }


def _formatted(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(mode.fromString("formatted"))


def compare(
    current: dict[str, dict[str, int]],
    pinned: dict[str, dict[str, int]],
    subset: bool = False,
) -> tuple[list[str], list[str]]:
    """Pure comparison of a walked budget against the pinned ledger:
    (failures, notes). Failures = scale-hostile growth vs the pin or a
    BatchEvalPython node anywhere; notes = neutral drift, hostile
    improvements, and membership changes (which, with ``subset=False``,
    mean the ledger needs a deliberate re-pin)."""
    failures: list[str] = []
    notes: list[str] = []
    for name, cur in current.items():
        if cur.get("row_udf", 0):
            failures.append(f"{name}: BatchEvalPython in plan (row-UDF ban)")
        pin = pinned.get(name)
        if pin is None:
            notes.append(f"{name}: not in ledger (new entry) — re-pin")
            continue
        for kind in _HOSTILE:
            if cur[kind] > pin[kind]:
                failures.append(
                    f"{name}: {kind} {pin[kind]} -> {cur[kind]} (budget exceeded)"
                )
        drift = {
            k: (pin[k], cur[k])
            for k in cur
            if cur[k] != pin.get(k) and k not in _HOSTILE
        }
        improved = {k: (pin[k], cur[k]) for k in _HOSTILE if cur[k] < pin[k]}
        if drift or improved:
            notes.append(f"{name}: drift {drift or ''} improved {improved or ''}")
    if not subset:
        for name in pinned:
            if name not in current:
                notes.append(f"{name}: in ledger but not in catalog — re-pin")
    return failures, notes


def write_ledger(
    path: str,
    current: dict[str, dict[str, int]],
    only: bool,
    sf_dir: str,
) -> dict[str, dict[str, int]]:
    """(Re)pin the ledger. A full walk REPLACES it; a subset walk
    (``--only``) MERGES into the existing file so the other entries'
    pins survive — the subset must never silently truncate the
    268-entry ledger (VERDICT-r15 item 9). With no ledger on disk yet,
    a subset walk starts from empty entries."""
    entries = current
    if only:
        try:
            with open(path) as f:
                entries = json.load(f)["entries"]
        except FileNotFoundError:
            entries = {}
        entries.update(current)
        print(f"merging {len(current)} re-pinned entries into ledger")
    with open(path, "w") as f:
        json.dump(
            {"sf_dir": sf_dir, "n_entries": len(entries), "entries": entries},
            f,
            indent=1,
            sort_keys=True,
        )
    return entries


def main() -> None:
    write = "--write" in sys.argv
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = a.split("=", 1)[1].split(",")
    # --write with --only MERGES the subset into the existing ledger
    # (r15): the full-ledger pin survives, only the named entries are
    # re-pinned. (The r14 behavior — rejecting the combination outright
    # — protected against the subset silently REPLACING the ledger;
    # merging keeps that protection while making deliberate per-entry
    # re-pins after a reviewed optimization cheap.)

    from personal_health_etl_pipeline_spark import get_spark
    from personal_health_etl_pipeline_spark.plans.artifacts import force_all
    from personal_health_etl_pipeline_spark.plans.catalog import CATALOG

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    force_all(spark, sf_dir)  # memo builds up front, not mid-walk

    names = only or list(CATALOG)
    current: dict[str, dict[str, int]] = {}
    errors: list[str] = []
    for name in names:
        try:
            current[name] = count_nodes(_formatted(CATALOG[name][0](spark, sf_dir)))
        except Exception as ex:  # a plan that cannot even build is a failure
            errors.append(f"{name}: {type(ex).__name__}: {ex}")

    if write:
        entries = write_ledger(LEDGER, current, only is not None, sf_dir)
        print(f"pinned {len(entries)} entries -> {LEDGER}")
        totals = Counter()
        for c in current.values():
            totals.update(c)
        print("totals:", dict(totals))
        if errors:
            print("ERRORS:", *errors, sep="\n  ")
            sys.exit(1)
        return

    with open(LEDGER) as f:
        pinned = json.load(f)["entries"]

    cmp_failures, notes = compare(current, pinned, subset=only is not None)
    failures = errors + cmp_failures
    checked = {k for k in current if k in pinned}
    print(f"plan budget: {len(checked)}/{len(names)} entries checked vs pin")
    for n in notes:
        print("note:", n)
    for f_ in failures:
        print("FAIL:", f_)
    if failures:
        sys.exit(1)
    print("OK: no scale-hostile plan growth")


if __name__ == "__main__":
    main()
