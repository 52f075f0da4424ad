"""Data-quality surface: expectation reports and fuzzy record linkage.

``dq1_expectations_report`` runs a declarative rule set over orders in
one aggregation pass (operators/quality.py); the freshness rule is
deliberately violated by part of the fixture so the violation
arithmetic is exercised, not just zeros.

``j12_fuzzy_blocked_match`` simulates the classic record-linkage task:
an external catalog with typos (deterministically perturbed part names
— every 5th part loses the 2nd character of its second word) matched
back against the clean table. Blocking key = the FIRST word, which the
perturbation never touches — so blocking recall is 100% by
construction here, and the docstring trade-off (block on what the
corruption can't touch) is honest. Candidates come from the block
equi-join; exact Levenshtein scores survivors JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from personal_health_etl_pipeline_spark.operators.quality import (
    blocked_fuzzy_join,
    expectations_report,
)
from personal_health_etl_pipeline_spark.sources.tables import load_table


# --- DQ1: one-pass expectations report --------------------------------

def dq1_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    rules = {
        "key_not_null": F.col("o_orderkey").isNotNull(),
        "custkey_not_null": F.col("o_custkey").isNotNull(),
        "price_positive": F.col("o_totalprice") > 0,
        "status_in_domain": F.col("o_orderstatus").isin("O", "F", "P"),
        "priority_wellformed": F.col("o_orderpriority").rlike("^[1-5]-"),
        # freshness window: deliberately violated by the 2000+ tail
        "date_before_2000": F.col("o_orderdate") < F.lit("2000-01-01").cast(
            "timestamp"
        ),
    }
    return expectations_report(orders, rules)


_DQ_RULES_SQL = [
    ("key_not_null", "o_orderkey IS NOT NULL"),
    ("custkey_not_null", "o_custkey IS NOT NULL"),
    ("price_positive", "o_totalprice > 0"),
    ("status_in_domain", "o_orderstatus IN ('O', 'F', 'P')"),
    ("priority_wellformed", "regexp_matches(o_orderpriority, '^[1-5]-')"),
    ("date_before_2000", "o_orderdate < TIMESTAMP '2000-01-01'"),
]


def _dq1_oracle() -> str:
    sums = ", ".join(
        f"CAST(SUM(CASE WHEN COALESCE({expr}, FALSE) THEN 0 ELSE 1 END) "
        f"AS BIGINT) AS v{i}"
        for i, (_, expr) in enumerate(_DQ_RULES_SQL)
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule, n AS n_rows, v{i} AS n_violations, "
        f"ROUND(CAST(v{i} AS DOUBLE) / n, 6) AS violation_rate, "
        f"v{i} = 0 AS passed FROM s"
        for i, (name, _) in enumerate(_DQ_RULES_SQL)
    )
    return f"WITH s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, {sums} FROM orders)\n{rows}"


DQ1_ORACLE = _dq1_oracle()


# --- J12: blocked fuzzy record linkage --------------------------------

def j12_fuzzy_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = F.split(F.col("p_name"), " ")
    clean = part.select(
        F.col("p_partkey").alias("key_clean"),
        F.col("p_name").alias("name_clean"),
        w.getItem(0).alias("blk"),
    )
    w2 = w.getItem(1)
    typo_name = F.when(
        F.col("p_partkey") % 5 == 0,
        F.concat(
            w.getItem(0),
            F.lit(" "),
            F.substring(w2, 1, 1),
            F.expr("substring(split(p_name, ' ')[1], 3)"),
        ),
    ).otherwise(F.col("p_name"))
    typos = part.select(
        F.col("p_partkey").alias("key_typo"),
        typo_name.alias("name_typo"),
        w.getItem(0).alias("blk"),
    )
    pairs = blocked_fuzzy_join(
        clean, typos, block_col="blk", left_text="name_clean",
        right_text="name_typo", max_distance=2,
    )
    return (
        pairs.groupBy("lev_distance")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("key_clean").alias("n_clean_keys"),
            F.countDistinct("key_typo").alias("n_typo_keys"),
        )
        .orderBy("lev_distance")
    )


J12_ORACLE = """
WITH clean AS (
  SELECT p_partkey AS key_clean, p_name AS name_clean,
         split_part(p_name, ' ', 1) AS blk
  FROM part
), typos AS (
  SELECT p_partkey AS key_typo,
         CASE WHEN p_partkey % 5 = 0
              THEN split_part(p_name, ' ', 1) || ' ' ||
                   substr(split_part(p_name, ' ', 2), 1, 1) ||
                   substr(split_part(p_name, ' ', 2), 3)
              ELSE p_name END AS name_typo,
         split_part(p_name, ' ', 1) AS blk
  FROM part
), pairs AS (
  SELECT key_clean, key_typo,
         levenshtein(name_clean, name_typo) AS lev_distance
  FROM clean JOIN typos USING (blk)
  WHERE levenshtein(name_clean, name_typo) <= 2
)
SELECT lev_distance,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT key_clean) AS BIGINT) AS n_clean_keys,
       CAST(COUNT(DISTINCT key_typo) AS BIGINT) AS n_typo_keys
FROM pairs
GROUP BY lev_distance
ORDER BY lev_distance
"""


# --- DQ2: one-pass column profile --------------------------------------

_PROFILE_COLS = (
    # (column, render) — render must be engine-identical as a string:
    # bigints cast directly; the 2-dp double goes through DECIMAL(18,2)
    # (double->string shortest-repr is not a cross-engine contract);
    # varchars pass through. The timestamp column is excluded: its
    # string rendering differs between engines.
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "varchar"),
    ("o_totalprice", "decimal"),
    ("o_orderpriority", "varchar"),
)


def dq2_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic data profiler: per column — row count, null count,
    exact distinct count, and min/max (string-rendered) — computed in
    ONE aggregation pass over the table (a single 1-row aggregate with
    5 metrics per column, unpivoted driver-side-free by exploding an
    array of structs). The profile every ingestion pipeline runs before
    trusting a new drop; at 100 TB swap `countDistinct` for the HLL
    registers (`plans/sketches.hll_registers`) and the pass shape is
    unchanged.
    """
    orders = load_table(spark, sf_dir, "orders")

    def _typed(c: str, kind: str):
        col = F.col(c)
        # min/max run on the NATIVE ordering (string rendering happens
        # after aggregation — '999' > '1499' lexicographically)
        return col.cast("decimal(18,2)") if kind == "decimal" else col

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(_typed(c, kind)).cast("string").alias(f"mn_{c}"),
            F.max(_typed(c, kind)).cast("string").alias(f"mx_{c}"),
        ]
    row = orders.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_null"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_val"),
                F.col(f"mx_{c}").alias("max_val"),
            )
            for c, _ in _PROFILE_COLS
        ]
    )
    return (
        row.select(F.explode(entries).alias("p"))
        .select("p.*")
        .orderBy("col_name")
    )


def _profile_oracle() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        r = f"CAST({c} AS DECIMAL(18,2))" if kind == "decimal" else c
        parts.append(
            f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows, "
            f"COUNT(*) - COUNT({c}) AS n_null, "
            f"COUNT(DISTINCT {c}) AS n_distinct, "
            f"CAST(MIN({r}) AS VARCHAR) AS min_val, "
            f"CAST(MAX({r}) AS VARCHAR) AS max_val FROM orders"
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY col_name"


DQ2_ORACLE = _profile_oracle()


# --- DQ3: join-key skew audit -------------------------------------------

SKEW_TOP = 10


def dq3_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit — the profile a planner (or an engineer
    choosing a salting factor, cf. ``operators/skew.salted_join``) needs
    before shuffling 100 TB on a key: per-key row counts for the
    heaviest ``SKEW_TOP`` keys, each with its skew ratio against the
    mean key load (micro-quantized integer, so the report is
    value-hash certifiable). One groupBy + one bounded top-k; the mean
    rides a 1-row broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("cnt").alias("n_rows")
    )
    return (
        per_key.crossJoin(F.broadcast(stats))
        .select(
            F.col("l_suppkey").alias("key"),
            "cnt",
            "n_keys",
            F.round(
                F.col("cnt") * F.col("n_keys") * 1_000_000 / F.col("n_rows"), 0
            )
            .cast("bigint")
            .alias("skew_ratio_micro"),
        )
        .orderBy(F.col("cnt").desc(), "key")
        .limit(SKEW_TOP)
    )


DQ3_ORACLE = f"""
WITH per_key AS (
  SELECT l_suppkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey
),
stats AS (SELECT COUNT(*) AS n_keys, SUM(cnt) AS n_rows FROM per_key)
SELECT key, cnt, n_keys,
       CAST(round(cnt * n_keys * 1000000 / n_rows, 0) AS BIGINT)
           AS skew_ratio_micro
FROM per_key CROSS JOIN stats
ORDER BY cnt DESC, key LIMIT {SKEW_TOP}
"""


# --- DQ4: the 100 TB profiler — HLL registers instead of countDistinct --

DQ4_COLS = ("event_id", "user_id", "event_type")


def dq4_column_profile_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dq2_column_profile`'s documented scale path, actually
    built and certified: per column — row count, null count, and the
    HLL-ESTIMATED distinct count. ``dq2``'s exact ``countDistinct``
    keeps per-group state proportional to the column's cardinality
    (a full shuffle of every distinct value); this profile keeps O(m)
    registers per column no matter the cardinality, mergeable across
    partitions, days and snapshots by ``max`` — the only profiler
    shape that survives a 100 TB drop. One unpivot explode (rows x
    n_cols), one (column, register) groupBy; the HLL math is the
    deterministic register sketch of ``plans/sketches.py``, so the
    estimate itself is value-hash certified against the oracle.

    Columns are profiled through their exact string rendering (bigint
    and varchar columns only — float renderings are not engine-stable).
    """
    from personal_health_etl_pipeline_spark.operators.partitioning import (
        spread,
    )
    from personal_health_etl_pipeline_spark.plans.sketches import (
        hll_estimate,
        hll_registers,
    )

    events = load_table(spark, sf_dir, "events")
    stacked = spread(events.select(*DQ4_COLS)).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in DQ4_COLS
                ]
            )
        ).alias("s")
    ).select("s.col_name", "s.v")
    base = stacked.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("v")).alias("n_null"),
    )
    est = hll_estimate(
        hll_registers(
            stacked.where(F.col("v").isNotNull()),
            group_cols=("col_name",),
            key_col="v",
        ),
        ("col_name",),
    )
    return base.join(est, "col_name").select(
        "col_name", "n_rows", "n_null", "est_ndv"
    ).orderBy("col_name")


def _dq4_oracle() -> str:
    from personal_health_etl_pipeline_spark.functions.hashing import (
        duckdb_md5_long,
    )
    from personal_health_etl_pipeline_spark.plans.sketches import (
        _HLL_SCALE,
        _HLL_WBITS,
        HLL_M,
    )

    stack = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS v FROM events"
        for c in DQ4_COLS
    )
    return f"""
WITH stacked AS ({stack}),
base AS (
  SELECT col_name, COUNT(*) AS n_rows,
         COUNT(*) - COUNT(v) AS n_null
  FROM stacked GROUP BY col_name
),
hashed AS (
  SELECT col_name, {duckdb_md5_long("v")} AS h
  FROM stacked WHERE v IS NOT NULL
),
split AS (
  SELECT col_name, h % {HLL_M} AS idx, h // {HLL_M} AS w FROM hashed
),
regs AS (
  SELECT col_name, idx,
         MAX(CASE WHEN w = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(w)) END) AS r
  FROM split GROUP BY col_name, idx
),
per AS (
  SELECT col_name, COUNT(*) AS n_present,
         SUM(CAST(1 AS BIGINT) << ({_HLL_WBITS + 1} - r)) AS z_hit
  FROM regs GROUP BY col_name
),
est AS (
  SELECT col_name,
         CAST(z_hit + ({HLL_M} - n_present)
              * CAST({1 << (_HLL_WBITS + 1)} AS BIGINT) AS DOUBLE) AS z,
         {HLL_M} - n_present AS zeros
  FROM per
),
ndv AS (
  SELECT col_name,
         CASE WHEN ({_HLL_SCALE}) / z <= {2.5 * HLL_M} AND zeros > 0
              THEN {HLL_M}.0 * ln({HLL_M}.0 / CAST(zeros AS DOUBLE))
              ELSE ({_HLL_SCALE}) / z END AS e
  FROM est
)
SELECT b.col_name, b.n_rows, b.n_null,
       CAST(round(n.e, 0) AS BIGINT) AS est_ndv
FROM base b JOIN ndv n USING (col_name)
ORDER BY b.col_name
"""


DQ4_ORACLE = _dq4_oracle()


# --- DQ5: referential-integrity audit -----------------------------------

_FK_RELATIONS = [
    ("orders.o_custkey -> customer.c_custkey", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.l_orderkey -> orders.o_orderkey", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey -> part.p_partkey", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey -> supplier.s_suppkey", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("customer.c_nationkey -> nation.n_nationkey", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey -> nation.n_nationkey", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
]


def dq5_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key integrity audit over the whole star schema: per
    declared relationship — child row count, orphan rows (child keys
    with no parent, incl. NULL keys: a NULL FK is a dangling edge for
    workloads that join on it), distinct parents actually referenced,
    and parent coverage in micro-units. The first pass any warehouse
    runs on a new drop, and the input to join-strategy choices
    (coverage ~1e6 means an inner join keeps everything; low coverage
    flags pruning potential).

    Scale: each relationship is one left-anti-shaped aggregate — child
    keys groupBy'd FIRST (distinct-key frames, orders of magnitude
    smaller than the fact tables), then one equi-join against parent
    keys; per-relationship frames union into one audit. No row-level
    joins of the fact tables anywhere."""
    rows = []
    for name, child_t, child_k, parent_t, parent_k in _FK_RELATIONS:
        child = load_table(spark, sf_dir, child_t)
        parent = load_table(spark, sf_dir, parent_t).select(
            F.col(parent_k).alias("_pk")
        ).distinct()
        keys = child.groupBy(F.col(child_k).alias("_ck")).agg(
            F.count(F.lit(1)).alias("_n")
        )
        joined = keys.join(parent, keys["_ck"] == parent["_pk"], "left")
        n_parents = parent.count()  # bounded dim / distinct-key count
        rows.append(
            joined.agg(
                F.lit(name).alias("relationship"),
                F.sum("_n").cast("bigint").alias("n_child_rows"),
                F.coalesce(
                    F.sum(F.when(F.col("_pk").isNull(), F.col("_n"))),
                    F.lit(0),
                ).cast("bigint").alias("n_orphan_rows"),
                F.count(F.when(F.col("_pk").isNotNull(), 1))
                .cast("bigint")
                .alias("n_parents_referenced"),
                F.expr(
                    f"CAST(count(CASE WHEN _pk IS NOT NULL THEN 1 END)"
                    f" * 1000000 div {n_parents} AS BIGINT)"
                ).alias("coverage_micro"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("relationship")


def _dq5_oracle() -> str:
    parts = []
    for name, child_t, child_k, parent_t, parent_k in _FK_RELATIONS:
        parts.append(f"""
SELECT '{name}' AS relationship,
       CAST(SUM(_n) AS BIGINT) AS n_child_rows,
       CAST(COALESCE(SUM(CASE WHEN _pk IS NULL THEN _n END), 0) AS BIGINT)
           AS n_orphan_rows,
       CAST(COUNT(CASE WHEN _pk IS NOT NULL THEN 1 END) AS BIGINT)
           AS n_parents_referenced,
       CAST(COUNT(CASE WHEN _pk IS NOT NULL THEN 1 END) * 1000000
            // (SELECT COUNT(DISTINCT {parent_k}) FROM {parent_t})
            AS BIGINT) AS coverage_micro
FROM (
  SELECT c._ck, c._n, p._pk FROM
    (SELECT {child_k} AS _ck, COUNT(*) AS _n FROM {child_t} GROUP BY 1) c
  LEFT JOIN (SELECT DISTINCT {parent_k} AS _pk FROM {parent_t}) p
    ON c._ck = p._pk
)""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY relationship"


DQ5_ORACLE = _dq5_oracle()


# --- DQ6: distribution drift (population stability index) ---------------

PSI_BUCKET_W = 100
PSI_N_BUCKETS = 10
PSI_SMOOTH = 1  # add-1 per bucket: empty buckets never hit ln(0)


def dq6_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus versions — THE
    standard production drift monitor (feature/score drift between
    yesterday's and today's batch). Versions are deterministic slices
    of ``documents``: A drops every 97th doc; B drops every 101st AND
    shifts ``n_chars`` by ``25 * (doc_id % 13)`` for every 3rd doc (a planted
    distribution shift the report must surface). ``n_chars`` is
    bucketed into {PSI_N_BUCKETS} fixed-width bins (width
    {PSI_BUCKET_W}, last bin open-ended), counts are add-1 smoothed so
    empty bins contribute finitely, and each bin's contribution
    ``(pA - pB) * ln(pA/pB)`` is ONE identical double expression in
    both engines over exact integer counts (single IEEE evaluation,
    rounded to 9dp) — no float aggregation order in sight since the
    per-bin rows ARE the output. Scale: two scans, one groupBy(bucket)
    each, a {PSI_N_BUCKETS}-row join."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    va = (
        docs.where(F.col("doc_id") % 97 != 0)
        .select(
            F.least(
                F.expr(f"n_chars div {PSI_BUCKET_W}"),
                F.lit(PSI_N_BUCKETS - 1),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    vb = (
        docs.where(F.col("doc_id") % 101 != 0)
        .select(
            F.least(
                F.expr(
                    f"(n_chars + CASE WHEN doc_id % 3 = 0"
                    f" THEN 25 * (doc_id % 13) ELSE 0 END) div {PSI_BUCKET_W}"
                ),
                F.lit(PSI_N_BUCKETS - 1),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    grid = spark.range(PSI_N_BUCKETS).select(F.col("id").alias("bucket"))
    joined = (
        grid.join(va, "bucket", "left")
        .join(vb, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
    )
    tot = joined.agg(
        F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b")
    )
    k = PSI_N_BUCKETS * PSI_SMOOTH
    pa = (F.col("n_a") + PSI_SMOOTH).cast("double") / (
        F.col("t_a") + k
    ).cast("double")
    pb = (F.col("n_b") + PSI_SMOOTH).cast("double") / (
        F.col("t_b") + k
    ).cast("double")
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_a",
            "n_b",
            F.round((pa - pb) * F.log(pa / pb), 9).alias("psi_contrib"),
        )
        .orderBy("bucket")
    )


DQ6_ORACLE = f"""
WITH a AS (
  SELECT LEAST(n_chars // {PSI_BUCKET_W}, {PSI_N_BUCKETS - 1}) AS bucket,
         COUNT(*) AS n_a
  FROM documents WHERE doc_id % 97 <> 0 GROUP BY 1
),
b AS (
  SELECT LEAST((n_chars + CASE WHEN doc_id % 3 = 0
                               THEN 25 * (doc_id % 13) ELSE 0 END)
               // {PSI_BUCKET_W}, {PSI_N_BUCKETS - 1}) AS bucket,
         COUNT(*) AS n_b
  FROM documents WHERE doc_id % 101 <> 0 GROUP BY 1
),
grid AS (SELECT unnest(range({PSI_N_BUCKETS})) AS bucket),
j AS (
  SELECT grid.bucket,
         COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
  FROM grid LEFT JOIN a USING (bucket) LEFT JOIN b USING (bucket)
),
tot AS (SELECT SUM(n_a) AS t_a, SUM(n_b) AS t_b FROM j)
SELECT bucket, n_a, n_b,
       ROUND((CAST(n_a + {PSI_SMOOTH} AS DOUBLE)
                  / CAST(t_a + {PSI_N_BUCKETS * PSI_SMOOTH} AS DOUBLE)
              - CAST(n_b + {PSI_SMOOTH} AS DOUBLE)
                  / CAST(t_b + {PSI_N_BUCKETS * PSI_SMOOTH} AS DOUBLE))
             * ln((CAST(n_a + {PSI_SMOOTH} AS DOUBLE)
                       / CAST(t_a + {PSI_N_BUCKETS * PSI_SMOOTH} AS DOUBLE))
                  / (CAST(n_b + {PSI_SMOOTH} AS DOUBLE)
                       / CAST(t_b + {PSI_N_BUCKETS * PSI_SMOOTH} AS DOUBLE))),
             9) AS psi_contrib
FROM j CROSS JOIN tot ORDER BY bucket
"""


# --- DQ7: Benford first-digit deviation --------------------------------

# expected Benford proportions in ppm, precomputed HOST-SIDE so both
# engines consume identical integer literals (log10 in the two engines
# is not guaranteed bit-identical; nine constants sidestep it)
import math as _math

BENFORD_PPM = {
    d: round(_math.log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)
}


def dq7_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen over ``l_extendedprice``: observed
    first-significant-digit frequencies vs the expected log
    distribution — the classic fabricated-data / corrupted-feed
    detector a warehouse DQ suite runs on monetary columns. Deviation
    is reported per digit in exact integer ppm (``1e6 * n // total``,
    identical floor semantics in both engines); the expected ppm are
    host-precomputed literals shared with the oracle.

    Scale shape: digit extraction is row-local, the 9-group count
    collapses map-side, and the total rides a broadcast 1-row frame —
    one scan regardless of corpus size. (TPC-H prices are uniform-ish,
    NOT Benford — the per-digit deltas are large and nonzero, which is
    exactly what makes the arithmetic visible under the hash gate.)"""
    li = load_table(spark, sf_dir, "lineitem")
    digit = F.substring(
        F.floor("l_extendedprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = li.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    total = counts.agg(F.sum("n_obs").alias("total"))
    expected = F.create_map(
        *[F.lit(x) for kv in BENFORD_PPM.items() for x in kv]
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            F.expr("CAST(1000000 * n_obs AS BIGINT) div total").alias(
                "obs_ppm"
            ),
            expected[F.col("digit")].cast("bigint").alias("expected_ppm"),
        )
        .withColumn("delta_ppm", F.col("obs_ppm") - F.col("expected_ppm"))
        .orderBy("digit")
    )


def _benford_oracle() -> str:
    arms = " ".join(f"WHEN {d} THEN {p}" for d, p in BENFORD_PPM.items())
    return f"""
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INT) AS digit,
         COUNT(*) AS n_obs
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS total FROM counts)
SELECT digit, n_obs,
       (1000000 * n_obs) // total AS obs_ppm,
       CAST(CASE digit {arms} END AS BIGINT) AS expected_ppm,
       (1000000 * n_obs) // total - CAST(CASE digit {arms} END AS BIGINT)
           AS delta_ppm
FROM counts CROSS JOIN tot ORDER BY digit
"""


DQ7_ORACLE = _benford_oracle()


# --- DQ8: observed metrics piggybacked on a production action ---------

def dq8_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.observe`` (CollectMetrics): data-quality counters
    computed as a SIDE EFFECT of a production write, the way
    ``pipeline/etl.py:run_extract`` rides its landed-row count on the raw-zone
    sink. The clean-rows job (drop ``error`` events) runs ONCE — to a
    ``noop`` sink here, standing in for the warehouse append — and the
    observation collects row count, cents total, event-id span and a
    null counter from that same pass. The returned 1-row frame is built
    from the observed values, so the hash gate certifies the metric
    ARITHMETIC, not a second scan.

    Scale shape: CollectMetrics is an accumulator-style fold inside the
    write job — zero extra jobs, zero extra scans, constant driver
    state. The anti-pattern it replaces (``.count()`` after the write)
    re-executes the full lineage, doubling the most expensive job at
    100 TB. All metrics are exact integers; no distinct aggregates
    (disallowed inside ``observe``) and no floats under the hash.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.expr("CAST(round(value * 100, 0) AS BIGINT)")
    clean = ev.where(F.col("event_type") != "error")
    obs = Observation()
    observed = clean.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents).alias("sum_cents"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        F.sum(
            F.when(F.col("props").isNull(), F.lit(1)).otherwise(F.lit(0))
        ).alias("n_null_props"),
    )
    # the production action: one pass, metrics fold alongside the sink
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["sum_cents"]),
                int(m["min_event_id"]),
                int(m["max_event_id"]),
                int(m["n_null_props"]),
            )
        ],
        "n_rows bigint, sum_cents bigint, min_event_id bigint, "
        "max_event_id bigint, n_null_props bigint",
    )


DQ8_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id,
       CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_props
FROM events WHERE event_type <> 'error'
"""
