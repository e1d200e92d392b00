"""Data profiling — the EDA pipeline's capability surface, minus plotting.

Re-implements exploratory-data-analysis.py:144-195 as reusable, lazy,
single-pass DataFrame programs: missing-value audit with the reference's
dual-layer sentinel convention, descriptive statistics, and a correlation
matrix — all computed distributed (the reference dropped to pandas for the
last two: exploratory-data-analysis.py:124,137,157-165).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from recommendation_system_big_data_spark.catalog import epoch_s, epoch_us, load
from recommendation_system_big_data_spark.functions.safe_stats import (
    guarded_pearson_sql,
)
from recommendation_system_big_data_spark.registry import register

#: String sentinels the reference treats as missing, beyond real NULLs
#: (exploratory-data-analysis.py:147-153).
MISSING_SENTINELS = ("None", "NULL", "Unknown")


def missing_predicate(df: DataFrame, col: str) -> Column:
    """The reference's per-column missing test: real NULL, sentinel
    containment, empty string, or NaN — applied by dtype exactly as the OR
    chain at exploratory-data-analysis.py:147-153."""
    dtype = dict(df.dtypes)[col]
    pred = F.col(col).isNull()
    if dtype == "string":
        for s in MISSING_SENTINELS:
            pred = pred | F.col(col).contains(s)
        pred = pred | (F.col(col) == "")
    if dtype in ("double", "float"):
        pred = pred | F.isnan(F.col(col))
    return pred


def missing_value_audit(df: DataFrame) -> DataFrame:
    """One-pass conditional-count audit across every column (op #20)."""
    return df.agg(
        *[F.count(F.when(missing_predicate(df, c), 1)).alias(c) for c in df.columns]
    )


APPROX_PCT_ACCURACY = 10_000


def summarize(df: DataFrame, cols: list[str], exact: bool = False) -> DataFrame:
    """Deterministic DataFrame.summary() equivalent (op #22;
    exploratory-data-analysis.py:193): count/mean/stddev/min/p25/p50/p75/max
    per numeric column.

    mean uses the exact-decimal path; stddev rounds to 4 (parallel variance
    merge differs in low-order bits across engines).

    Default (``exact=False``) is the scale path: moments AND
    ``approx_percentile`` (Greenwald-Khanna, bounded state) fused into ONE
    keyless aggregate pass — one scan, no unpivot, no full-value-list
    buffers; measured 2× faster than the exact path at sf0.1 and the only
    shape that survives 100 TB.

    ``exact=True`` is the oracle-grade path (hash-matches DuckDB's
    quantile_cont): moments in one keyless pass, exact percentiles via CDF
    aggregation — count per (column, distinct value), cumulative positions
    over a per-column window, then quantile_cont's own lo + (hi−lo)·frac
    interpolation. For bounded-precision measures this keeps aggregate
    state at ≤|value domain| rows instead of F.percentile's full value
    list, so the exact path ALSO survives 100 TB (the GK path remains for
    genuinely continuous domains)."""
    if not exact:
        qs = F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
        structs = []
        for c in cols:
            col = F.col(c)
            structs.append(
                F.struct(
                    F.lit(c).alias("col_name"),
                    F.count(col).alias("n"),
                    # Plain double mean: this is the ⊘ rows-only scale path
                    # (no cross-engine hash), so it skips the exact path's
                    # decimal accumulator — measured ~0.6s of the fused agg
                    # at sf0.1 for zero benefit here; the tolerance gate vs
                    # the exact path is unaffected by last-ulp sum order.
                    F.round(F.avg(col), 6).alias("mean"),
                    F.round(F.stddev_samp(col), 4).alias("stddev"),
                    F.round(F.min(col), 6).alias("min_v"),
                    # ONE GK sketch per column: the 3-quantile array aggregates
                    # once and is unpacked in the projection below — spelling
                    # `approx_percentile(col, ...)[i]` three times would build
                    # three identical (un-deduplicated) sketch buffers.
                    F.approx_percentile(col, qs, F.lit(APPROX_PCT_ACCURACY)).alias("ps"),
                    F.round(F.max(col), 6).alias("max_v"),
                ).alias(c)
            )
        return (
            df.agg(*structs)
            .select(F.explode(F.array(*[F.col(c) for c in cols])).alias("s"))
            .select(
                "s.col_name", "s.n", "s.mean", "s.stddev", "s.min_v",
                F.round(F.col("s.ps")[0], 6).alias("p25"),
                F.round(F.col("s.ps")[1], 6).alias("p50"),
                F.round(F.col("s.ps")[2], 6).alias("p75"),
                "s.max_v",
            )
        )
    structs = []
    for c in cols:
        col = F.col(c)
        dec = col.cast("decimal(18,2)")
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.count(col).alias("n"),
                F.round(F.sum(dec).cast("double") / F.count(col), 6).alias("mean"),
                F.round(F.stddev_samp(col), 4).alias("stddev"),
                F.round(F.min(col), 6).alias("min_v"),
                F.round(F.max(col), 6).alias("max_v"),
            ).alias(c)
        )
    moments = (
        df.agg(*structs)
        .select(F.explode(F.array(*[F.col(c) for c in cols])).alias("s"))
        .select("s.*")
    )
    # Exact percentiles WITHOUT the full-value-list aggregation buffer
    # F.percentile carries: aggregate the CDF instead. The measures are
    # bounded-precision currency/ratio columns, so groupBy(col, value)
    # collapses the stream map-side to ≤|domain| rows per column — state
    # that stays bounded at 100 TB where a percentile value buffer is an
    # executor OOM. The interpolated quantile is then recovered from
    # cumulative positions with the same lo + (hi-lo)·frac formula
    # percentile/quantile_cont define, so the result is bit-identical.
    unpivoted = df.select(*cols).select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("col_name"), F.col(c).alias("v"))
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.*")
    counts = unpivoted.groupBy("col_name", "v").agg(F.count(F.lit(1)).alias("c"))
    # The CDF runs per column over the DISTINCT-VALUE grain, which grows
    # with the data (l_extendedprice is near-unique) — a bare
    # Window.partitionBy(col_name).orderBy(v) funnels each column's whole
    # grid through one task. Route it through the grouped two-phase
    # prefix sum instead (round 8); the inter-partition lead (next_v)
    # hands off through each (column, pid)'s first value — a
    # ≤columns×n_parts-row table — so the interpolation straddle works
    # across the range cuts. n_tot comes from a broadcast per-column
    # aggregate, not a whole-column window.
    from recommendation_system_big_data_spark.operators.ranges import (
        running_sums,
    )

    # NOT checkpointed despite three consumers (firsts, n_tot, ranked):
    # a lazy checkpoint of the summed grid won a fresh-session
    # interleaved A/B decisively (5.7s → 3.8s) but LOST reproducibly in
    # the bench's session context (3.0-3.5s plain vs 3.7-4.0s ckpt after
    # the smoke trio + 10 queries' accumulated cached blocks) — the
    # 50 MB×3-runs of wide checkpointed rows cost more under storage
    # pressure than the recompute they save. Round-15 optimization
    # finding; the ≥3-consumer rule needs a bench-context A/B, not just
    # a fresh-session one.
    cdf = running_sums(
        counts,
        ["v"],
        {"cum": ("c", True)},  # 0-based positions [cum-c, cum-1]
        group_cols=("col_name",),
        keep_pid=True,
    )
    firsts = cdf.groupBy("col_name", "_pid").agg(F.min("v").alias("_first_v"))
    handoff = firsts.select(
        "col_name",
        "_pid",
        F.lead("_first_v")
        .over(Window.partitionBy("col_name").orderBy("_pid"))
        .alias("_next_first"),
    )
    # fold n_tot from the CHECKPOINTED grid — a branch off `counts`
    # would re-run the unpivot + aggregate scan a second time
    n_tot = cdf.groupBy("col_name").agg(F.sum("c").alias("n_tot"))
    w_gp = Window.partitionBy("col_name", "_pid").orderBy("v")
    ranked = (
        cdf.join(F.broadcast(handoff), ["col_name", "_pid"])
        .join(F.broadcast(n_tot), "col_name")
        .select(
            "col_name",
            "v",
            "c",
            "cum",
            F.coalesce(F.lead("v").over(w_gp), F.col("_next_first")).alias(
                "next_v"
            ),
            "n_tot",
        )
    )
    q_exprs = []
    for q, qname in ((0.25, "p25"), (0.50, "p50"), (0.75, "p75")):
        idx = F.lit(q) * (F.col("n_tot") - 1).cast("double")
        i = F.floor(idx)
        frac = idx - i.cast("double")
        in_range = (i >= F.col("cum") - F.col("c")) & (i <= F.col("cum") - 1)
        hi = F.when(i + 1 <= F.col("cum") - 1, F.col("v")).otherwise(F.col("next_v"))
        # frac == 0 ⇒ the quantile IS v (and hi may be the NULL lead on the
        # last row — never let it poison the product)
        interp = F.when(frac > 0, F.col("v") + (hi - F.col("v")) * frac).otherwise(
            F.col("v")
        )
        q_exprs.append(
            F.round(F.max(F.when(in_range, interp)), 6).alias(qname)
        )
    pct = ranked.groupBy("col_name").agg(*q_exprs)
    return moments.join(pct, "col_name").select(
        "col_name", "n", "mean", "stddev", "min_v", "p25", "p50", "p75", "max_v"
    )


def _summary_oracle_branch(c: str) -> str:
    return f"""
    SELECT '{c}' AS col_name,
           COUNT({c}) AS n,
           ROUND(CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) / COUNT({c}), 6) AS mean,
           ROUND(stddev_samp({c}), 4) AS stddev,
           ROUND(MIN({c}), 6) AS min_v,
           ROUND(quantile_cont({c}, 0.25), 6) AS p25,
           ROUND(quantile_cont({c}, 0.50), 6) AS p50,
           ROUND(quantile_cont({c}, 0.75), 6) AS p75,
           ROUND(MAX({c}), 6) AS max_v
    FROM lineitem
    """


_SUMMARY_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

AGG_SUMMARY_ORACLE = " UNION ALL ".join(_summary_oracle_branch(c) for c in _SUMMARY_COLS)


@register("agg_summary", oracle=AGG_SUMMARY_ORACLE, tags=("profile", "agg"))
def agg_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Descriptive statistics over lineitem numerics (op #22) — exact
    percentile path, oracle-mandated (hash-matches quantile_cont)."""
    return summarize(load(spark, sf_dir, "lineitem"), _SUMMARY_COLS, exact=True)


@register("agg_summary_approx", oracle=None, tags=("profile", "agg", "pure"))
def agg_summary_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production/scale path of op #22: one fused keyless aggregate with
    approx_percentile (⊘ rows-only — GK sketches are engine-specific;
    accuracy gate vs the exact path in tests/test_profile.py)."""
    return summarize(load(spark, sf_dir, "lineitem"), _SUMMARY_COLS, exact=False)


_AUDIT_ORACLE = """
SELECT COUNT(CASE WHEN doc_id IS NULL THEN 1 END) AS doc_id,
       COUNT(CASE WHEN text IS NULL OR text LIKE '%None%' OR text LIKE '%NULL%'
                       OR text LIKE '%Unknown%' OR text = '' THEN 1 END) AS text,
       COUNT(CASE WHEN lang IS NULL OR lang LIKE '%None%' OR lang LIKE '%NULL%'
                       OR lang LIKE '%Unknown%' OR lang = '' THEN 1 END) AS lang,
       COUNT(CASE WHEN source IS NULL OR source LIKE '%None%' OR source LIKE '%NULL%'
                       OR source LIKE '%Unknown%' OR source = '' THEN 1 END) AS source,
       COUNT(CASE WHEN n_chars IS NULL THEN 1 END) AS n_chars
FROM documents
"""


@register("agg_conditional_count", oracle=_AUDIT_ORACLE, tags=("profile", "agg"))
def agg_conditional_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentinel-aware missing-value audit, 1 job for all columns (op #20;
    exploratory-data-analysis.py:146-155)."""
    return missing_value_audit(load(spark, sf_dir, "documents"))


_NULL_PCT_ORACLE = """
WITH audit AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS total,
           COUNT(CASE WHEN lang IS NULL OR lang LIKE '%None%' OR lang LIKE '%NULL%'
                           OR lang LIKE '%Unknown%' OR lang = '' THEN 1 END) AS lang_missing,
           COUNT(CASE WHEN source IS NULL OR source LIKE '%None%' OR source LIKE '%NULL%'
                           OR source LIKE '%Unknown%' OR source = '' THEN 1 END) AS source_missing,
           COUNT(CASE WHEN text IS NULL OR text LIKE '%None%' OR text LIKE '%NULL%'
                           OR text LIKE '%Unknown%' OR text = '' THEN 1 END) AS text_missing
    FROM documents
)
SELECT col_name, missing_count, ROUND(missing_count / total * 100, 6) AS missing_pct
FROM (
    SELECT total, 'lang' AS col_name, lang_missing AS missing_count FROM audit
    UNION ALL SELECT total, 'source', source_missing FROM audit
    UNION ALL SELECT total, 'text', text_missing FROM audit
)
ORDER BY missing_pct DESC, col_name ASC
"""


@register("agg_null_pct", oracle=_NULL_PCT_ORACLE, tags=("profile", "agg"))
def agg_null_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-percentage per column, sorted (op #25;
    exploratory-data-analysis.py:160-165 — done there in pandas transpose,
    here as explode over one aggregate row)."""
    df = load(spark, sf_dir, "documents")
    cols = ["lang", "source", "text"]
    one_row = df.agg(
        F.count(F.lit(1)).cast("double").alias("_total"),
        *[F.count(F.when(missing_predicate(df, c), 1)).alias(c) for c in cols],
    )
    return (
        one_row.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col_name"),
                            F.col(c).alias("missing_count"),
                            F.round(F.col(c) / F.col("_total") * 100, 6).alias("missing_pct"),
                        )
                        for c in cols
                    ]
                )
            ).alias("s")
        )
        .select("s.*")
        .orderBy(F.desc("missing_pct"), F.asc("col_name"))
    )


def profile_report(df: DataFrame, numeric_cols: list[str], topk_col: str) -> dict:
    """The EDA pipeline's `basic_eda` (exploratory-data-analysis.py:144-195)
    as a lazy composite — row/column counts, missing audit, summary stats,
    top-k categories — every piece a DataFrame, nothing collected here, no
    repeated count() jobs (the reference ran three — SURVEY.md §4)."""
    counts = df.agg(F.count(F.lit(1)).alias("n_rows"))
    return {
        "counts": counts,
        "n_columns": len(df.columns),
        "dtypes": df.dtypes,
        "missing": missing_value_audit(df),
        "summary": summarize(df, numeric_cols),
        "top_categories": (
            df.groupBy(topk_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc(topk_col))
            .limit(20)
        ),
    }


_CORR_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_quantity", "l_tax"),
    ("l_extendedprice", "l_discount"),
    ("l_extendedprice", "l_tax"),
    ("l_discount", "l_tax"),
]

_CORR_ORACLE = " UNION ALL ".join(
    f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
    f" {guarded_pearson_sql(a, b)} AS pearson FROM lineitem"
    for a, b in _CORR_PAIRS
)


@register("agg_corr_matrix", oracle=_CORR_ORACLE, tags=("profile", "agg"))
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation for every numeric pair in ONE aggregate pass
    (op #24; exploratory-data-analysis.py:137 used pandas df.corr()).

    r13 degenerate hardening: the builtin CORR aggregate divides inside
    its own evaluation, so ANSI Spark raises on a zero-variance column
    where DuckDB NULLs and no outer CASE can intervene — rewritten to
    guarded_pearson_sql (exact decimal sums, min=max guard, one shared
    double exit parsed by BOTH engines), which also removes the old
    co-moment-merge-order ulp risk the ROUND(4) comment priced in."""
    df = load(spark, sf_dir, "lineitem")
    one_row = df.agg(
        *[
            F.expr(guarded_pearson_sql(a, b)).alias(f"{a}__{b}")
            for a, b in _CORR_PAIRS
        ]
    )
    return one_row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("col_a"),
                        F.lit(b).alias("col_b"),
                        F.col(f"{a}__{b}").alias("pearson"),
                    )
                    for a, b in _CORR_PAIRS
                ]
            )
        ).alias("s")
    ).select("s.*")


_OUTLIER_ORACLE = """
WITH stats AS (
    SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv2,
           COUNT(value) AS n
    FROM events
), bounds AS (
    SELECT sv / n AS m,
           CASE WHEN n < 2 THEN NULL
                ELSE SQRT((sv2 - sv * sv / n) / (n - 1)) END AS s
    FROM stats
)
SELECT event_id, user_id, ROUND(value, 6) AS value
FROM events, bounds
WHERE s IS NULL OR value BETWEEN m - 3 * s AND m + 3 * s
"""


@register("clean_outlier_filter", oracle=_OUTLIER_ORACLE, tags=("profile", "clean"))
def clean_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sigma outlier gate: keep rows within mean ± 3·stddev. The stats are
    a 1-row aggregate broadcast-cross-joined into the scan predicate — the
    DataFrame spelling of an uncorrelated scalar subquery; the fact table is
    read once (twice total counting the stats pass), never self-joined.

    Both moments come from exact decimal sums (values are 2-dp decimals
    stored as double), so sum order — and therefore partition count / engine
    — cannot perturb them; the only float arithmetic is the identical scalar
    formula evaluated on both sides. This keeps boundary membership of the
    oracle-compared predicate deterministic, instead of hoping no row lands
    within one ulp of a float-aggregated 3σ edge."""
    ev = load(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    stats = ev.agg(
        F.sum(v).cast("double").alias("sv"),
        F.sum(v * v).cast("double").alias("sv2"),
        F.count("value").alias("n"),
    ).select(
        (F.col("sv") / F.col("n")).alias("m"),
        # n < 2: sigma is undefined — pin "no filtering" (a one-row corpus
        # carries no evidence of outlierness) rather than the ANSI raise /
        # NULL-comparison row drop the engines would otherwise split on.
        # r13 tiny-fixture probe finding.
        F.when(F.col("n") < 2, F.lit(None).cast("double"))
        .otherwise(
            F.sqrt(
                (F.col("sv2") - F.col("sv") * F.col("sv") / F.col("n"))
                / (F.col("n") - 1)
            )
        )
        .alias("s"),
    )
    return (
        ev.crossJoin(F.broadcast(stats))
        .filter(
            F.col("s").isNull()
            | F.col("value").between(
                F.col("m") - 3 * F.col("s"), F.col("m") + 3 * F.col("s")
            )
        )
        .select("event_id", "user_id", F.round("value", 6).alias("value"))
    )


_GROUP_PCTL_ORACLE = """
SELECT o_orderpriority,
       ROUND(qs[1], 6) AS p25,
       ROUND(qs[2], 6) AS p50,
       ROUND(qs[3], 6) AS p75,
       n_orders
FROM (
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) AS qs,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
)
"""


@register("agg_percentile_by_group", oracle=_GROUP_PCTL_ORACLE, tags=("profile",))
def agg_percentile_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quartiles: one F.percentile aggregate per group
    computing all three quantiles from a single sort buffer (spelling the
    array literal once — three separate percentile calls would build three
    buffers; the planner does not deduplicate identical aggregates).

    Exact percentiles hold the group's full value list in the aggregation
    state, so this is only the right call when per-group cardinality is
    bounded (5 priorities × ~300 k orders/SF here). For unbounded groups at
    100 TB, `summarize(..., exact=False)`'s approx_percentile (bounded GK
    sketch state) is the production path — same trade documented at
    profile.py::agg_summary."""
    qs = F.percentile("o_totalprice", F.lit([0.25, 0.5, 0.75]))
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(qs.alias("qs"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            "o_orderpriority",
            F.round(F.col("qs")[0], 6).alias("p25"),
            F.round(F.col("qs")[1], 6).alias("p50"),
            F.round(F.col("qs")[2], 6).alias("p75"),
            "n_orders",
        )
    )


@register("agg_hll_sketch_merge", oracle=None, tags=("profile", "sketch"))
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches via hll_sketch_agg):
    per-priority distinct-customer sketches, then ONE global estimate by
    merging the five binary sketches with hll_union_agg — never re-touching
    the data.

    This two-level shape is the 100 TB pattern approx_count_distinct can't
    give you: partial sketches are durable values that can be stored per
    partition/day, merged across any grouping later, and re-estimated —
    incremental distinct counting with no second scan. Output: one row per
    priority plus an 'ALL' row whose estimate came only from the merge.
    ⊘ rows-only (sketch binaries are engine-specific); the tolerance gate
    vs exact distinct counts lives in tests/test_profile.py."""
    per_group = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
    )
    # Sketch once, reuse twice (per-group rows + the union-merge branch).
    # The 5-row checkpoint block is reclaimed by ContextCleaner once the
    # returned frame is dereferenced — not pinned for the session.
    per_group = per_group.localCheckpoint(eager=True)
    per_rows = per_group.select(
        F.col("o_orderpriority").alias("scope"),
        F.hll_sketch_estimate("sk").alias("approx_distinct_customers"),
    )
    merged = per_group.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("scope"),
        F.hll_sketch_estimate("sk").alias("approx_distinct_customers"),
    )
    return per_rows.unionByName(merged)


@register("stat_freq_items", oracle=None, tags=("profile", "sketch"))
def stat_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via df.stat.freqItems (Karp/Papadimitriou/Shenker
    counting): single pass, state bounded by 1/support counters per column
    — the streaming-friendly alternative to an exact groupBy-count-sort
    when only "which items exceed s of the mass" is needed. May include
    false positives near the threshold (the algorithm's contract), so the
    gate in tests/test_profile.py asserts containment of the true frequent
    set, not equality. ⊘ rows-only: counter eviction order is partitioning-
    dependent, so the spurious tail is not cross-engine stable. Output:
    one row; the sorted item sets are serialized with array_join ('|')
    because the driver canonicalizer (pandas sort/hash) cannot handle
    array cells even in rows-only mode — same fix as agg_collect_sorted."""
    df = load(spark, sf_dir, "orders")
    fi = df.stat.freqItems(["o_orderpriority", "o_orderstatus"], support=0.1)
    return fi.select(
        F.array_join(
            F.sort_array("o_orderpriority_freqItems"), "|"
        ).alias("frequent_priorities"),
        F.array_join(
            F.sort_array("o_orderstatus_freqItems"), "|"
        ).alias("frequent_statuses"),
    )


_HISTOGRAM_ORACLE = """
SELECT bucket,
       1013.7  + bucket * ((499978.59 - 1013.7) / 20) AS lo,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS mass
FROM (
    SELECT LEAST(CAST(FLOOR((o_totalprice - 1013.7)
                            / ((499978.59 - 1013.7) / 20)) AS BIGINT),
                 19) AS bucket,
           o_totalprice
    FROM orders
)
GROUP BY bucket
"""

#: Fixed histogram domain: the orders.o_totalprice generator range. Fixed
#: literals (not a min/max subquery) keep bucket edges IDENTICAL across
#: engines and scale factors — a data-dependent edge moves with every
#: append, which makes histograms incomparable across pipeline runs.
#: Shared with eda_export.eda_plot_series via hist_bucket() so the "same
#: histogram" can never silently diverge between the two queries.
_HIST_LO, _HIST_HI, _HIST_NB = 1013.7, 499978.59, 20


def hist_bucket(col):
    """Clamped equal-width bucket index over the fixed o_totalprice domain
    — the single definition both agg_histogram and eda_plot_series use
    (their oracles necessarily repeat the literals; this keeps the Spark
    side single-sourced)."""
    step = (_HIST_HI - _HIST_LO) / _HIST_NB
    return F.least(
        F.floor((col - _HIST_LO) / step).cast("long"), F.lit(_HIST_NB - 1)
    )


@register("agg_histogram", oracle=_HISTOGRAM_ORACLE, tags=("profile",))
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram as one map-side-combined aggregate: bucket =
    floor((v - lo) / step) clamped to the last bucket, then count + exact
    decimal mass per bucket. Arithmetic is plain IEEE double in both
    engines (same expression, same order → bit-identical buckets); state
    is O(buckets) no matter the input size, the EDA histogram shape that
    replaces the reference's driver-side seaborn histplot
    (exploratory-data-analysis.py:96-142) with a distributed aggregate."""
    step = (_HIST_HI - _HIST_LO) / _HIST_NB
    bucket = hist_bucket(F.col("o_totalprice"))
    return (
        load(spark, sf_dir, "orders")
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("mass"),
        )
        .select(
            "bucket",
            (F.lit(_HIST_LO) + F.col("bucket") * F.lit(step)).alias("lo"),
            "n",
            "mass",
        )
    )


_QUALITY_CONSTRAINT_ORACLE = """
SELECT COUNT(*) AS n_rows,
       COUNT(*) - COUNT(o_custkey)            AS null_custkey,
       COUNT(*) - COUNT(DISTINCT o_orderkey)  AS dup_orderkey,
       CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpositive_price,
       CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) > DATE '1999-01-01'
                THEN 1 ELSE 0 END) AS BIGINT)  AS future_orderdate,
       CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                THEN 1 ELSE 0 END) AS BIGINT)  AS invalid_status
FROM orders
"""


@register("quality_constraint_report", oracle=_QUALITY_CONSTRAINT_ORACLE, tags=("profile", "clean"))
def quality_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint audit in ONE aggregate pass: completeness
    (null key count), uniqueness (duplicate primary keys), range validity
    (non-positive prices, future dates), and domain membership (status
    enum) — every check a conditional count folded into the same partial
    aggregation, so auditing a 100 TB table costs exactly one scan and a
    1-row exchange, not one job per constraint. Gate the pipeline on
    `all counts == expected` before publishing a snapshot (the batch twin
    of the df.observe health metrics in tests/test_actions.py)."""
    d = F.col("o_orderdate").cast("date")
    return load(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("null_custkey"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_orderkey"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "nonpositive_price"
        ),
        F.sum(F.when(d > F.lit("1999-01-01").cast("date"), 1).otherwise(0)).alias(
            "future_orderdate"
        ),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("invalid_status"),
    )


_SKEW_ORACLE = """
WITH kc AS (
    SELECT l_suppkey AS key, COUNT(*) AS c FROM lineitem GROUP BY l_suppkey
)
SELECT COUNT(*)                                    AS n_keys,
       CAST(SUM(c) AS BIGINT)                      AS n_rows,
       MAX(c)                                      AS max_per_key,
       ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6)   AS top_key_share,
       ROUND(quantile_cont(c, 0.99), 6)            AS p99_per_key,
       ROUND(CAST(SUM(c) AS DOUBLE) / COUNT(*), 6) AS avg_per_key
FROM kc
"""


@register("skew_key_report", oracle=_SKEW_ORACLE, tags=("profile",))
def skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the distribution of rows-per-key for a
    prospective shuffle key (two aggregates: per-key count, then count
    statistics). max/p99/avg per key and the hottest key's share of all
    rows are exactly the numbers that decide the strategy — share ≪ 1/parallelism
    → plain shuffle; a hot key → salting (join_salted_skew) or AQE skew
    split. Run this BEFORE burning a cluster-day on a skewed join; the
    first aggregate is map-side combined so the diagnostic costs one scan
    plus a keys-sized shuffle."""
    kc = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return kc.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_per_key"),
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top_key_share"),
        F.round(F.percentile("c", F.lit(0.99)), 6).alias("p99_per_key"),
        F.round(F.sum("c").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_per_key"
        ),
    )


_REGR_ORACLE = """
WITH q AS (
    SELECT event_type,
           CAST(FLOOR(epoch_us(ts)) AS BIGINT) // 3600000 AS xq,
           CAST(FLOOR(value * 1000000.0) AS BIGINT) AS vq
    FROM events
), s AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(xq AS HUGEINT)) AS sx, SUM(CAST(vq AS HUGEINT)) AS sv,
           SUM(CAST(xq AS HUGEINT) * vq) AS sxv,
           SUM(CAST(xq AS HUGEINT) * xq) AS sxx,
           SUM(CAST(vq AS HUGEINT) * vq) AS svv
    FROM q GROUP BY event_type
), c AS (
    SELECT event_type, n, sx, sv,
           n * sxv - sx * sv AS num,
           n * sxx - sx * sx AS den_x,
           n * svv - sv * sv AS den_v
    FROM s
)
SELECT event_type, n,
       CASE WHEN den_x = 0 THEN NULL
            ELSE ROUND(CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE)
                       / 1000.0, 4) END AS slope,
       CASE WHEN den_x = 0 THEN NULL
            ELSE ROUND(CAST(sv AS DOUBLE) / n / 1000000.0
                       - CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE) / 1000.0
                         * (CAST(sx AS DOUBLE) / n / 1000.0), 4)
            END AS intercept,
       CASE WHEN den_x = 0 OR den_v = 0 THEN NULL
            ELSE ROUND((CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE))
                       * (CAST(num AS DOUBLE) / CAST(den_v AS DOUBLE)), 4)
            END AS r2
FROM c
"""


@register("agg_regression_stats", oracle=_REGR_ORACLE, tags=("profile",))
def agg_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value against time-in-hours, entirely
    JVM-side — the codegen'd answer to grouped_pandas_slope
    (functions/pandas_fns), which prices the same regression through the
    applyInPandas escape hatch.

    r13 degenerate hardening (replacing the builtin regr_* aggregates):
    time quantizes to integer MILLI-hours (an exact integer division of
    integer epoch micros) and value to integer micros (FLOOR of an
    IEEE-identical double product), so every sufficient statistic is an
    exact integer (decimal sums; HUGEINT in the oracle), the flat-series
    guards are exact tests, and the slope/intercept/r² exits are shared
    double expressions — the builtin form both RAISED under ANSI on a
    zero-variance regressor and wobbled past ROUND(4) on the
    single-day probe corpus (intercept extrapolates to epoch 0, so
    epoch-hour-magnitude summation noise is amplified ~1e6×). Width
    budget: xq ≤ ~5e8, per-term products ≤ ~5e17 (BIGINT-safe),
    n·Σx² ≤ ~2e37 < 1e38 at 1e10 rows/type. Quantization (3.6 s / 1e-6
    value) shifts results ≤ ~1e-6 relative — inside the ROUND(4) budget
    for any span the trend is meaningful over."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        (epoch_us("ts").cast("long")).alias("us"),
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("vq"),
    ).select(
        "event_type",
        F.expr("us div 3600000").alias("xq"),
        "vq",
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("xq").cast("decimal(19,0)")).cast("decimal(29,0)").alias("sx"),
        F.sum(F.col("vq").cast("decimal(19,0)")).cast("decimal(29,0)").alias("sv"),
        F.sum((F.col("xq") * F.col("vq")).cast("decimal(19,0)"))
        .cast("decimal(29,0)")
        .alias("sxv"),
        F.sum((F.col("xq") * F.col("xq")).cast("decimal(19,0)"))
        .cast("decimal(29,0)")
        .alias("sxx"),
        F.sum((F.col("vq") * F.col("vq")).cast("decimal(19,0)"))
        .cast("decimal(29,0)")
        .alias("svv"),
    )
    c = s.select(
        "event_type",
        "n",
        "sx",
        "sv",
        F.expr("CAST(n AS DECIMAL(12,0)) * sxv - sx * sv").alias("num"),
        F.expr("CAST(n AS DECIMAL(12,0)) * sxx - sx * sx").alias("den_x"),
        F.expr("CAST(n AS DECIMAL(12,0)) * svv - sv * sv").alias("den_v"),
    )
    return c.select(
        "event_type",
        "n",
        F.expr(
            "CASE WHEN den_x = 0 THEN NULL"
            " ELSE ROUND(CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE)"
            " / 1000.0, 4) END"
        ).alias("slope"),
        F.expr(
            "CASE WHEN den_x = 0 THEN NULL"
            " ELSE ROUND(CAST(sv AS DOUBLE) / n / 1000000.0"
            " - CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE) / 1000.0"
            " * (CAST(sx AS DOUBLE) / n / 1000.0), 4) END"
        ).alias("intercept"),
        F.expr(
            "CASE WHEN den_x = 0 OR den_v = 0 THEN NULL"
            " ELSE ROUND((CAST(num AS DOUBLE) / CAST(den_x AS DOUBLE))"
            " * (CAST(num AS DOUBLE) / CAST(den_v AS DOUBLE)), 4) END"
        ).alias("r2"),
    )


_AB_TEST_ORACLE = """
WITH assigned AS (
    SELECT user_id,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
               AS variant,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
    FROM events
    GROUP BY user_id
)
SELECT variant,
       COUNT(*)                                        AS n_users,
       CAST(SUM(converted) AS BIGINT)                  AS conversions,
       ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6) AS conversion_rate
FROM assigned
GROUP BY variant
ORDER BY variant
"""


@register("ab_test_report", oracle=_AB_TEST_ORACLE, tags=("profile", "experiment"))
def ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with HASH-assigned variants: each user's arm
    is the engine-portable md5 bucket of their id (sampling.portable_bucket
    % 2), so assignment is stable across sessions, re-ingestion, engines,
    and cluster sizes — the property that makes an experiment analyzable
    at all (rand() assignment re-randomizes every run and poisons the
    readout). Conversion = user ever purchased; one per-user aggregate,
    one 2-group rollup, both map-side combined. The z-test itself is a
    driver-side formula over this 2-row frame — the cluster's job ends at
    the sufficient statistics."""
    from recommendation_system_big_data_spark.operators.sampling import (
        portable_bucket,
    )

    assigned = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
        .select(
            portable_bucket(F.col("user_id"), 2).alias("variant"), "converted"
        )
    )
    return (
        assigned.groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("converted").alias("conversions"),
            F.round(
                F.sum("converted").cast("double") / F.count(F.lit(1)), 6
            ).alias("conversion_rate"),
        )
        .orderBy("variant")
    )


_PSI_ORACLE = """
WITH binned AS (
    SELECT CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 'ref' ELSE 'cur' END
               AS period,
           LEAST(CAST(FLOOR(value / 10.0) AS BIGINT), 9) AS bin
    FROM events
), counts AS (
    SELECT period, bin, COUNT(*) AS c FROM binned GROUP BY period, bin
), totals AS (
    SELECT period, SUM(c) AS t FROM counts GROUP BY period
), props AS (
    SELECT c.bin,
           MAX(CASE WHEN c.period = 'ref' THEN CAST(c.c AS DOUBLE) / t.t END) AS p_ref,
           MAX(CASE WHEN c.period = 'cur' THEN CAST(c.c AS DOUBLE) / t.t END) AS p_cur
    FROM counts c JOIN totals t ON c.period = t.period
    GROUP BY c.bin
)
SELECT bin,
       ROUND(p_ref, 6) AS p_ref,
       ROUND(p_cur, 6) AS p_cur,
       ROUND((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS psi_term
FROM props
"""


@register("drift_psi_report", oracle=_PSI_ORACLE, tags=("profile", "experiment"))
def drift_psi_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift check: bin a monitored metric with
    FIXED edges (data-dependent edges would move with the drift they're
    supposed to detect), compare the first half of the event history
    against the second, and emit the per-bin PSI terms (Σ terms > 0.2 is
    the standard "investigate" threshold, summed by the caller or an
    alerting query). One binned count aggregate per period out of a single
    scan, then a bins-sized pivot join — state is O(bins), the cheapest
    possible production drift monitor. Assumes every bin is populated in
    both periods (true for this metric; production adds Laplace smoothing
    to dodge empty-bin infinities)."""
    ev = load(spark, sf_dir, "events").select(
        F.when(
            F.col("ts").cast("date") < F.lit("2024-01-16").cast("date"), "ref"
        )
        .otherwise("cur")
        .alias("period"),
        F.least(F.floor(F.col("value") / 10.0).cast("long"), F.lit(9)).alias(
            "bin"
        ),
    )
    counts = ev.groupBy("period", "bin").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("period").agg(F.sum("c").alias("t"))
    props = (
        counts.join(totals, "period")
        .groupBy("bin")
        .agg(
            F.max(
                F.when(F.col("period") == "ref", F.col("c").cast("double") / F.col("t"))
            ).alias("p_ref"),
            F.max(
                F.when(F.col("period") == "cur", F.col("c").cast("double") / F.col("t"))
            ).alias("p_cur"),
        )
    )
    return props.select(
        "bin",
        F.round("p_ref", 6).alias("p_ref"),
        F.round("p_cur", 6).alias("p_cur"),
        F.round(
            (F.col("p_cur") - F.col("p_ref")) * F.log(F.col("p_cur") / F.col("p_ref")),
            6,
        ).alias("psi_term"),
    )


_FK_ORACLE = """
SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS fk,
       (SELECT COUNT(*) FROM lineitem) AS n_child_rows,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
UNION ALL
SELECT 'orders.o_custkey->customer.c_custkey' AS fk,
       (SELECT COUNT(*) FROM orders) AS n_child_rows,
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) AS n_orphans
UNION ALL
SELECT 'lineitem.l_partkey->part.p_partkey' AS fk,
       (SELECT COUNT(*) FROM lineitem) AS n_child_rows,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey)) AS n_orphans
"""


@register("fk_integrity_report", oracle=_FK_ORACLE, tags=("profile", "quality"))
def fk_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: for each
    declared FK edge, the child row count and the number of orphans
    (child keys with no parent) — the warehouse smoke test run after
    every load, and the check MERGE/CDC pipelines regress when a parent
    arrives late.

    Each edge is one left-anti join against the parent's key projection —
    the parent side prunes to the single key column before the shuffle,
    and an anti join carries no payload, so cost is ~one distinct-key
    shuffle per edge regardless of parent width. Zero orphans is the
    expected (and still asserted) result on the driver testdata; the op
    exists to catch the day that stops being true."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")

    def edge(child: DataFrame, key: str, parent: DataFrame, pkey: str, name: str) -> DataFrame:
        total = child.agg(F.count(F.lit(1)).alias("n_child_rows"))
        orphans = (
            child.select(key)
            .join(parent.select(pkey), child[key] == parent[pkey], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        return total.crossJoin(orphans).select(
            F.lit(name).alias("fk"), "n_child_rows", "n_orphans"
        )

    e1 = edge(li, "l_orderkey", orders, "o_orderkey",
              "lineitem.l_orderkey->orders.o_orderkey")
    e2 = edge(orders, "o_custkey", load(spark, sf_dir, "customer"), "c_custkey",
              "orders.o_custkey->customer.c_custkey")
    e3 = edge(li, "l_partkey", load(spark, sf_dir, "part"), "p_partkey",
              "lineitem.l_partkey->part.p_partkey")
    return e1.unionByName(e2).unionByName(e3)


_OBSERVE_ORACLE = """
SELECT COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       COUNT(*) FILTER (WHERE o_totalprice IS NULL) AS null_prices
FROM orders
"""


@register("observe_metrics_gate", oracle=_OBSERVE_ORACLE, tags=("profile",))
def observe_metrics_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job-observed quality metrics via the native Observation API — the
    production pattern for collecting row counts / null counts / control
    totals AS A SIDE EFFECT of the job that is already running, instead of
    a second audit scan (at 100 TB the second scan is the entire cost of
    naive data-quality tooling).

    The observed aggregates ride the existing action's execution (metrics
    accumulate per-task and merge on the driver, like SQL metrics); the
    returned 1-row frame re-enters Spark so the driver contract still
    gets a DataFrame. Decimal control total keeps the hash
    order-independent."""
    from pyspark.sql import Observation

    obs = Observation("quality_gate")
    orders = load(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1)).alias("null_prices"),
    )
    orders.write.format("noop").mode("overwrite").save()  # the observed action
    row = obs.get
    return spark.createDataFrame(
        [(row["n_orders"], row["total_price"], row["null_prices"])],
        "n_orders bigint, total_price double, null_prices bigint",
    )


_BITMAP_ORACLE = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_distinct_customers
FROM orders GROUP BY o_orderpriority
"""


@register(
    "agg_bitmap_distinct", oracle=_BITMAP_ORACLE, tags=("profile", "sketch")
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via mergeable bitmaps — the scale answer
    between COUNT(DISTINCT) (exact, but re-shuffles raw keys for every
    regrouping) and HLL (mergeable, but approximate). Keys map to
    (bucket, bit position); per-group bitmaps build in the map stage,
    merge associatively in partials (bitmap_or_agg), and popcount to the
    exact distinct — the same two-level rollup HLL sketches get, with no
    error. At 100 TB the bitmap segments are the materialized-rollup
    currency: store per-(group, bucket) bitmaps once, answer exact
    distincts for any group rollup by OR-merging, never rescanning keys.

    Two-level spelling: bitmap_construct_agg per (priority, bucket) —
    each bitmap covers one 32768-key range — then popcounts sum per
    priority. The oracle is plain COUNT(DISTINCT): bitmaps are exact, so
    the results are equal by definition."""
    orders = load(spark, sf_dir, "orders")
    per_bucket = (
        orders.select(
            "o_orderpriority",
            F.bitmap_bucket_number("o_custkey").alias("bucket"),
            F.bitmap_bit_position("o_custkey").alias("pos"),
        )
        .groupBy("o_orderpriority", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    return per_bucket.groupBy("o_orderpriority").agg(
        F.sum(F.bitmap_count("bm")).alias("n_distinct_customers")
    )


_ENTROPY_ORACLE = """
WITH unpivoted AS (
    SELECT 'o_orderstatus' AS col_name, o_orderstatus AS val FROM orders
    UNION ALL
    SELECT 'o_orderpriority', o_orderpriority FROM orders
), counts AS (
    SELECT col_name, val, CAST(COUNT(*) AS DOUBLE) AS n
    FROM unpivoted GROUP BY col_name, val
), tot AS (
    SELECT col_name, SUM(n) AS t, CAST(COUNT(*) AS BIGINT) AS n_values
    FROM counts GROUP BY col_name
)
SELECT c.col_name,
       t.n_values,
       ROUND(-SUM((c.n / t.t) * log2(c.n / t.t)), 6) AS entropy_bits,
       ROUND(1.0 - SUM((c.n / t.t) * (c.n / t.t)), 6) AS gini_impurity
FROM counts c JOIN tot t ON c.col_name = t.col_name
GROUP BY c.col_name, t.n_values
"""


@register("agg_entropy_gini", oracle=_ENTROPY_ORACLE, tags=("profile",))
def agg_entropy_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column categorical dispersion — Shannon entropy (bits) and Gini
    impurity of each column's value distribution. The feature-selection /
    drift-triage primitive: near-zero entropy flags dead or constant
    columns, entropy near log2(cardinality) flags uniform ones, and a
    round-over-round entropy delta is a distribution-drift alarm that —
    unlike the binned PSI report above — needs no reference binning.

    Spark spelling: stack() unpivots the audited columns into (col_name,
    val) pairs IN the map stage (one scan for any number of columns), then
    two keyed aggregations: value counts, then the entropy/Gini fold. Both
    shuffles are on tiny keys (col_name, val) with map-side partials; at
    100 TB the scan dominates and adding a column to the audit costs zero
    additional passes. ROUND(6) absorbs hash-agg summation-order drift
    (terms-per-column = column cardinality, single digits here)."""
    orders = load(spark, sf_dir, "orders")
    unpivoted = orders.select(
        F.expr(
            "stack(2, 'o_orderstatus', o_orderstatus,"
            " 'o_orderpriority', o_orderpriority) AS (col_name, val)"
        )
    )
    counts = (
        unpivoted.groupBy("col_name", "val")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    tot = counts.groupBy("col_name").agg(
        F.sum("n").alias("t"), F.count(F.lit(1)).alias("n_values")
    )
    p = F.col("n") / F.col("t")
    return (
        counts.join(tot, "col_name")
        .groupBy("col_name", "n_values")
        .agg(
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
            F.round(F.lit(1.0) - F.sum(p * p), 6).alias("gini_impurity"),
        )
    )


_BINNING_ORACLE = """
WITH b AS (
    SELECT quantile_disc(CAST(o_totalprice AS DOUBLE),
                         [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bounds
    FROM orders
), assigned AS (
    SELECT len(list_filter(b.bounds, x -> CAST(o.o_totalprice AS DOUBLE) > x))
               AS bin,
           CAST(o.o_totalprice AS DOUBLE) AS v
    FROM orders o CROSS JOIN b
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(MIN(v), 2) AS lo,
       ROUND(MAX(v), 2) AS hi,
       ROUND(AVG(v), 4) AS avg_price
FROM assigned GROUP BY bin
"""


@register("feature_binning_equidepth", oracle=_BINNING_ORACLE, tags=("profile", "ml"))
def feature_binning_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) feature binning — the discretization step for
    GBDT-style feature prep, score calibration buckets, and stratified
    monitoring. Two-phase, scale-safe: (1) ONE aggregate computes the nine
    decile boundaries with percentile_disc — discrete percentiles return
    actual data values, so the boundary set is bit-identical in any engine,
    unlike interpolated quantiles; (2) the 9-element boundary array
    broadcasts and each row's bin is size(filter(bounds, x -> v > x)) — a
    codegen'd map stage.

    The tempting one-phase spelling — NTILE(10) OVER (ORDER BY price) —
    is a scale-killer: an empty-partition global window drags every row
    through a single task. Here the only data-wide operations are the
    percentile aggregate (mergeable partials) and the final per-bin
    rollup (10 groups); ties land deterministically on the same side of
    each boundary in both engines because the comparison is strict-> on
    identical doubles."""
    orders = load(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.expr(
            "percentile_disc(array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
            " WITHIN GROUP (ORDER BY cast(o_totalprice as double))"
        ).alias("bounds")
    )
    assigned = (
        orders.select(F.col("o_totalprice").cast("double").alias("v"))
        .crossJoin(F.broadcast(bounds))
        .select(
            F.size(F.filter("bounds", lambda x: F.col("v") > x))
            .cast("long")
            .alias("bin"),
            "v",
        )
    )
    return assigned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("v"), 2).alias("lo"),
        F.round(F.max("v"), 2).alias("hi"),
        F.round(F.avg("v"), 4).alias("avg_price"),
    )


_MAD_ORACLE = """
WITH med AS (
    SELECT event_type, quantile_disc(value, 0.5) AS m
    FROM events GROUP BY event_type
), dev AS (
    SELECT e.event_type, e.value, med.m, ABS(e.value - med.m) AS adev
    FROM events e JOIN med ON e.event_type = med.event_type
), mad AS (
    SELECT event_type, quantile_disc(adev, 0.5) AS mad
    FROM dev GROUP BY event_type
)
SELECT d.event_type,
       ROUND(ANY_VALUE(d.m), 6) AS median_value,
       ROUND(ANY_VALUE(mad.mad), 6) AS mad,
       CAST(SUM(CASE WHEN d.adev > 3 * 1.4826 * mad.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM dev d JOIN mad ON d.event_type = mad.event_type
GROUP BY d.event_type
"""


@register("agg_robust_mad_outliers", oracle=_MAD_ORACLE, tags=("profile", "clean"))
def agg_robust_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation — the
    heavy-tail-safe alternative to the z-score filter (clean_outlier_filter
    above): mean/stddev are themselves dragged by the outliers they're
    meant to catch, while the median/MAD pair has a 50% breakdown point.
    Flags |x − median| > 3·1.4826·MAD (1.4826 scales MAD to σ under
    normality).

    Determinism across engines is engineered, not hoped for: BOTH medians
    are discrete (percentile_disc / quantile_disc), so median and MAD are
    actual data values — bit-identical everywhere — and every comparison
    operand (|x−m|, 3·1.4826·MAD) is the same IEEE expression on the same
    bits. An interpolated median would put float noise on the threshold.

    Plan: two grouped percentile aggregates + two broadcast joins of the
    per-group scalars (|event_type| rows) — the raw table shuffles once
    per percentile pass and never for the joins. At 100 TB swap the exact
    discrete median for approx_percentile and keep the identical shape."""
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("m")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "m", F.abs(F.col("value") - F.col("m")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.any_value("m"), 6).alias("median_value"),
            F.round(F.any_value("mad"), 6).alias("mad"),
            F.sum(
                (F.col("adev") > F.lit(3 * 1.4826) * F.col("mad")).cast("long")
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_CHI2_ORACLE = """
WITH obs AS (
    SELECT l_returnflag AS rf, l_linestatus AS ls,
           CAST(COUNT(*) AS DOUBLE) AS o
    FROM lineitem GROUP BY rf, ls
), rt AS (
    SELECT rf, SUM(o) AS row_tot FROM obs GROUP BY rf
), ct AS (
    SELECT ls, SUM(o) AS col_tot FROM obs GROUP BY ls
), tot AS (
    SELECT SUM(o) AS n FROM obs
)
SELECT ROUND(SUM(POWER(obs.o - rt.row_tot * ct.col_tot / tot.n, 2)
             / (rt.row_tot * ct.col_tot / tot.n)), 4) AS chi2_stat,
       CAST((COUNT(DISTINCT obs.rf) - 1) * (COUNT(DISTINCT obs.ls) - 1)
            AS BIGINT) AS dof,
       CAST(ANY_VALUE(tot.n) AS BIGINT) AS n_rows
FROM obs
JOIN rt ON obs.rf = rt.rf
JOIN ct ON obs.ls = ct.ls
CROSS JOIN tot
"""


@register("stat_chi_square", oracle=_CHI2_ORACLE, tags=("profile", "experiment"))
def stat_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence over the returnflag × linestatus
    contingency table — the categorical counterpart of the A/B z-test
    above (ab_test_report): are two discrete columns associated, or is
    the joint distribution just the product of the marginals? The
    workhorse for segment×outcome dashboards and for catching spurious
    feature/label dependence before training.

    The contingency table is ONE groupBy over the fact table (cells =
    |rf|×|ls| rows — single digits); marginals and the grand total are
    re-aggregations of the CELLS, never the raw data, and join back as
    broadcasts. So the raw table is scanned and shuffled exactly once
    regardless of how many statistics are derived. Expected counts and
    the χ² fold are identical IEEE expressions on exact integer counts;
    ROUND(4) covers the hash-agg summation order of single-digit terms."""
    obs = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
    )
    rt = obs.groupBy("rf").agg(F.sum("o").alias("row_tot"))
    ct = obs.groupBy("ls").agg(F.sum("o").alias("col_tot"))
    tot = obs.agg(F.sum("o").alias("n"))
    expected = F.col("row_tot") * F.col("col_tot") / F.col("n")
    return (
        obs.join(F.broadcast(rt), "rf")
        .join(F.broadcast(ct), "ls")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(F.pow(F.col("o") - expected, 2) / expected), 4
            ).alias("chi2_stat"),
            (
                (F.countDistinct("rf") - 1) * (F.countDistinct("ls") - 1)
            ).cast("long").alias("dof"),
            F.any_value("n").cast("long").alias("n_rows"),
        )
    )


_FACT_CONSISTENCY_ORACLE = """
WITH li AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS li_total
    FROM lineitem GROUP BY l_orderkey
), joined AS (
    SELECT o.o_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS header_total,
           li.li_total,
           CASE
             WHEN li.li_total IS NULL THEN 'no_lines'
             WHEN ABS(CAST(o.o_totalprice AS DOUBLE) - li.li_total)
                  <= 0.01 * ABS(CAST(o.o_totalprice AS DOUBLE))
                  THEN 'within_1pct'
             WHEN li.li_total > CAST(o.o_totalprice AS DOUBLE)
                  THEN 'lines_exceed_header'
             ELSE 'header_exceeds_lines'
           END AS bucket
    FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(header_total), 2) AS header_sum,
       ROUND(SUM(COALESCE(li_total, 0)), 2) AS lines_sum
FROM joined GROUP BY bucket
"""


@register(
    "audit_fact_consistency",
    oracle=_FACT_CONSISTENCY_ORACLE,
    tags=("profile", "quality"),
)
def audit_fact_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table VALUE reconciliation — does the order header total agree
    with the sum of its line items? The complement of fk_integrity_report
    (which checks key EXISTENCE): finance-grade pipelines audit that
    aggregates reconcile across fact granularities after every load, not
    just that keys resolve. Buckets: within 1%, lines exceed header,
    header exceeds lines, no lines at all.

    One aggregation of the fine-grained fact keyed on the join key, then a
    LEFT join from headers — at 100 TB the aggregate collapses lineitem to
    |orders| rows BEFORE the join, so the join input is two key-partitioned
    order-grain tables (co-partitioned for free if both are bucketed on
    orderkey). Line sums accumulate in DECIMAL — exact and
    summation-order-independent, so the bucket comparisons are stable in
    both engines; only the reporting sums are rounded."""
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("li_total")
        )
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("header_total")
    )
    joined = orders.join(li, orders["o_orderkey"] == li["l_orderkey"], "left")
    bucket = (
        F.when(F.col("li_total").isNull(), F.lit("no_lines"))
        .when(
            F.abs(F.col("header_total") - F.col("li_total"))
            <= 0.01 * F.abs(F.col("header_total")),
            F.lit("within_1pct"),
        )
        .when(F.col("li_total") > F.col("header_total"), F.lit("lines_exceed_header"))
        .otherwise(F.lit("header_exceeds_lines"))
    )
    return (
        joined.select(bucket.alias("bucket"), "header_total", "li_total")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("header_total"), 2).alias("header_sum"),
            F.round(F.sum(F.coalesce(F.col("li_total"), F.lit(0.0))), 2).alias(
                "lines_sum"
            ),
        )
    )


_MOMENTS_ORACLE = """
WITH mu AS (
    SELECT event_type, AVG(value) AS m, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
), cm AS (
    SELECT e.event_type,
           ANY_VALUE(mu.n) AS n,
           ROUND(ANY_VALUE(mu.m), 6) AS mean_value,
           AVG(POWER(e.value - mu.m, 2)) AS m2,
           AVG(POWER(e.value - mu.m, 3)) AS m3,
           AVG(POWER(e.value - mu.m, 4)) AS m4
    FROM events e JOIN mu ON e.event_type = mu.event_type
    GROUP BY e.event_type
)
SELECT event_type, n, mean_value,
       ROUND(m2, 4) AS variance_pop,
       CASE WHEN m2 = 0 THEN NULL
            ELSE ROUND(m3 / POWER(m2, 1.5), 4) END AS skewness_g1,
       CASE WHEN m2 = 0 THEN NULL
            ELSE ROUND(m4 / POWER(m2, 2) - 3, 4) END AS kurtosis_excess
FROM cm
"""


@register("agg_moments_shape", oracle=_MOMENTS_ORACLE, tags=("profile",))
def agg_moments_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape moments per group: population variance, skewness
    g1 = m3/m2^1.5, excess kurtosis m4/m2² − 3 — the profiling signals
    behind tail-risk flags (heavy tails break z-score assumptions; see
    agg_robust_mad_outliers) and drift detection beyond mean/variance.

    Built from explicit central moments rather than the engines' built-in
    skewness()/kurtosis() — THE definitional trap this query pins: Spark's
    built-ins return population (g-form) statistics while DuckDB's return
    sample-corrected (G-form), so the built-ins disagree by design and any
    cross-engine check must fix the estimator. Two passes (mean, then
    centered moments with the mean joined back as a broadcast) keep the
    computation in the numerically stable centered form — a single-pass
    E[x⁴] expansion cancels catastrophically at large means. ROUND(4) on
    ratio outputs absorbs hash-agg summation order (same budget as
    agg_regression_stats)."""
    ev = load(spark, sf_dir, "events")
    mu = ev.groupBy("event_type").agg(
        F.avg("value").alias("m"), F.count(F.lit(1)).alias("n")
    )
    d = F.col("value") - F.col("m")
    return (
        ev.join(F.broadcast(mu), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("n").alias("n"),
            F.round(F.any_value("m"), 6).alias("mean_value"),
            F.avg(F.pow(d, 2)).alias("m2"),
            F.avg(F.pow(d, 3)).alias("m3"),
            F.avg(F.pow(d, 4)).alias("m4"),
        )
        .select(
            "event_type",
            "n",
            "mean_value",
            F.round(F.col("m2"), 4).alias("variance_pop"),
            # m2 = 0 (constant-value group: every centered term is exactly
            # 0.0 on both engines) must not reach the ratio — ANSI Spark
            # raises where DuckDB NULLs. r13 degenerate-probe finding.
            F.when(F.col("m2") == 0, F.lit(None).cast("double"))
            .otherwise(F.round(F.col("m3") / F.pow(F.col("m2"), 1.5), 4))
            .alias("skewness_g1"),
            F.when(F.col("m2") == 0, F.lit(None).cast("double"))
            .otherwise(F.round(F.col("m4") / F.pow(F.col("m2"), 2) - 3, 4))
            .alias("kurtosis_excess"),
        )
    )


_BENFORD_ORACLE = """
WITH digits AS (
    SELECT CAST(FLOOR(o_totalprice / POWER(10, FLOOR(LOG10(o_totalprice))))
                AS INTEGER) AS digit
    FROM orders WHERE o_totalprice > 0
), obs AS (
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS p_obs
    FROM digits GROUP BY digit
)
SELECT digit, n,
       ROUND(p_obs, 6) AS obs_pct,
       ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford_pct,
       ROUND(ABS(p_obs - LOG10(1.0 + 1.0 / digit)), 6) AS abs_dev
FROM obs
"""


@register("stat_benford", oracle=_BENFORD_ORACLE, tags=("profile", "audit"))
def stat_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    fraud/synthetic-data screen: organically grown monetary amounts follow
    P(d) = log10(1 + 1/d); fabricated or truncated ones don't. Output is
    the 9-row observed-vs-expected table with per-digit absolute deviation
    (the inputs to a chi-square or MAD decision; stat_chi_square holds the
    test machinery).

    First significant digit via floor(x / 10^floor(log10 x)) — the same
    IEEE expression in both engines, so the digit boundary at 9.999…e^k
    cannot flip between them. One scan, one 9-group aggregate; the
    OVER () total runs on the 9-row aggregate, not the fact table."""
    digits = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.floor(
                F.col("o_totalprice")
                / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
            )
            .cast("int")
            .alias("digit")
        )
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    p_obs = F.col("n").cast("double") / F.sum("n").over(Window.partitionBy())
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return obs.select(
        "digit",
        "n",
        F.round(p_obs, 6).alias("obs_pct"),
        F.round(benford, 6).alias("benford_pct"),
        F.round(F.abs(p_obs - benford), 6).alias("abs_dev"),
    )


_LINREG_ORACLE = """
WITH s AS (
    SELECT COVAR_POP(l_quantity, l_quantity)      AS s11,
           COVAR_POP(l_quantity, l_discount)      AS s12,
           COVAR_POP(l_discount, l_discount)      AS s22,
           COVAR_POP(l_extendedprice, l_quantity) AS sy1,
           COVAR_POP(l_extendedprice, l_discount) AS sy2,
           VAR_POP(l_extendedprice)               AS syy,
           AVG(l_quantity)      AS mx1,
           AVG(l_discount)      AS mx2,
           AVG(l_extendedprice) AS my,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
)
SELECT n,
       CASE WHEN s11 * s22 - s12 * s12 = 0 THEN NULL
            ELSE ROUND((sy1 * s22 - sy2 * s12) / (s11 * s22 - s12 * s12), 4)
            END AS b_quantity,
       CASE WHEN s11 * s22 - s12 * s12 = 0 THEN NULL
            ELSE ROUND((sy2 * s11 - sy1 * s12) / (s11 * s22 - s12 * s12), 4)
            END AS b_discount,
       CASE WHEN s11 * s22 - s12 * s12 = 0 THEN NULL
            ELSE ROUND(my - (sy1 * s22 - sy2 * s12) / (s11 * s22 - s12 * s12) * mx1
                          - (sy2 * s11 - sy1 * s12) / (s11 * s22 - s12 * s12) * mx2,
                       4) END AS intercept,
       CASE WHEN s11 * s22 - s12 * s12 = 0 OR syy = 0 THEN NULL
            ELSE ROUND(((sy1 * s22 - sy2 * s12) / (s11 * s22 - s12 * s12) * sy1
                      + (sy2 * s11 - sy1 * s12) / (s11 * s22 - s12 * s12) * sy2)
                       / syy, 4) END AS r2
FROM s
"""


@register("ml_linreg_normal_eq", oracle=_LINREG_ORACLE, tags=("profile", "ml"))
def ml_linreg_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form two-feature linear regression (normal equations via
    Cramer's rule): extendedprice ~ quantity + discount. The multi-feature
    big brother of agg_regression_stats' regr_slope — and the template for
    ANY fixed-dimension least squares at 100 TB: ONE distributed aggregate
    produces the tiny Gram/moment matrix, and the solve is O(d³) on d=2 —
    pure column expressions, no collect, no iteration, no MLlib.

    Numerics: built on population covariances (Spark covar_pop = DuckDB
    COVAR_POP, both stable one-pass co-moment updates), so the normal
    equations are solved in centered form — immune to the catastrophic
    cancellation a raw Σx² formulation hits when means dwarf variances.
    Coefficient ratios are scale-free; ROUND(4) absorbs the ~1e-12
    summation-order drift (same budget as agg_regression_stats)."""
    li = load(spark, sf_dir, "lineitem")
    s = li.agg(
        F.covar_pop("l_quantity", "l_quantity").alias("s11"),
        F.covar_pop("l_quantity", "l_discount").alias("s12"),
        F.covar_pop("l_discount", "l_discount").alias("s22"),
        F.covar_pop("l_extendedprice", "l_quantity").alias("sy1"),
        F.covar_pop("l_extendedprice", "l_discount").alias("sy2"),
        F.var_pop("l_extendedprice").alias("syy"),
        F.avg("l_quantity").alias("mx1"),
        F.avg("l_discount").alias("mx2"),
        F.avg("l_extendedprice").alias("my"),
        F.count(F.lit(1)).alias("n"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("sy1") * F.col("s22") - F.col("sy2") * F.col("s12")) / det
    b2 = (F.col("sy2") * F.col("s11") - F.col("sy1") * F.col("s12")) / det
    # A singular Gram matrix (constant feature: the Welford co-moments are
    # EXACTLY 0.0 on both engines) or constant target (syy = 0) must not
    # reach the solve — ANSI Spark raises where DuckDB NULLs. r13
    # degenerate-probe finding; the guards mirror the oracle verbatim.
    degenerate = det == 0
    return s.select(
        "n",
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(F.round(b1, 4))
        .alias("b_quantity"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(F.round(b2, 4))
        .alias("b_discount"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(
            F.round(F.col("my") - b1 * F.col("mx1") - b2 * F.col("mx2"), 4)
        )
        .alias("intercept"),
        F.when(degenerate | (F.col("syy") == 0), F.lit(None).cast("double"))
        .otherwise(
            F.round((b1 * F.col("sy1") + b2 * F.col("sy2")) / F.col("syy"), 4)
        )
        .alias("r2"),
    )


_KS_ORACLE = """
WITH s AS (
    SELECT value,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
           CASE WHEN event_type = 'view'  THEN 1 ELSE 0 END AS b
    FROM events WHERE event_type IN ('click', 'view')
), pv AS (
    SELECT value, CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb
    FROM s GROUP BY value
), cdf AS (
    SELECT SUM(na) OVER (ORDER BY value) AS ca,
           SUM(nb) OVER (ORDER BY value) AS cb
    FROM pv
)
SELECT CAST((SELECT SUM(a) FROM s) AS BIGINT) AS n_click,
       CAST((SELECT SUM(b) FROM s) AS BIGINT) AS n_view,
       ROUND(MAX(ABS(CAST(ca AS DOUBLE) / (SELECT SUM(a) FROM s)
                   - CAST(cb AS DOUBLE) / (SELECT SUM(b) FROM s))), 6) AS ks_d
FROM cdf
"""


@register("drift_ks_test", oracle=_KS_ORACLE, tags=("profile", "drift"))
def drift_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the 'click'
    and 'view' value distributions: D = max over x of |F1(x) − F2(x)|.
    The nonparametric companion to drift_psi_report — PSI needs a binning
    choice; KS does not, which makes it the cleaner canary for silent
    upstream distribution shifts (unit changes, truncation, a new default
    value) in feature pipelines.

    Shape: dual conditional counts per DISTINCT value (one
    map-side-combined groupBy — both samples in a single pass, no
    self-join), then DISTRIBUTED running sums over the sorted
    distinct-value grain (ranges.running_sums — range-partition, local
    prefix sums, ≤ n_parts-row offset fold) give both empirical CDFs at
    every step point, and ONE max-aggregate finds D. Evaluating only at
    observed points is exact: |F1−F2| is constant between jumps. On a
    continuous column the distinct grain ≈ n, so the CDF sweep would be
    the single-task bottleneck as a bare ``Window.orderBy(value)`` —
    the prefix-sum kernel keeps every data-sized stage partitioned
    (VERDICT r13 "What's wrong" #2; same rewrite as ml_eval_pr_auc)."""
    from recommendation_system_big_data_spark.operators.ranges import (
        running_sums,
    )

    s = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            "value",
            (F.col("event_type") == "click").cast("long").alias("a"),
            (F.col("event_type") == "view").cast("long").alias("b"),
        )
    )
    pv = s.groupBy("value").agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    totals = s.agg(F.sum("a").alias("n_click"), F.sum("b").alias("n_view"))
    cdf = running_sums(
        pv, ["value"], {"ca": ("na", True), "cb": ("nb", True)}
    ).select("ca", "cb")
    d = cdf.crossJoin(F.broadcast(totals)).agg(
        F.any_value("n_click").alias("n_click"),
        F.any_value("n_view").alias("n_view"),
        F.round(
            F.max(
                F.abs(
                    F.col("ca").cast("double") / F.col("n_click")
                    - F.col("cb").cast("double") / F.col("n_view")
                )
            ),
            6,
        ).alias("ks_d"),
    )
    return d


_PCTL_CONT_ORACLE = """
SELECT l_returnflag AS rf,
       ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.90), 4) AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "agg_percentile_cont_interpolated", oracle=_PCTL_CONT_ORACLE, tags=("profile",)
)
def agg_percentile_cont_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated (continuous) percentiles per group — pinning the
    PERCENTILE_CONT linear-interpolation convention both engines share:
    at quantile q over n sorted values the answer sits at fractional
    index q·(n−1), interpolating between neighbors (the DISC convention —
    pick an actual value — is pinned separately by
    `agg_percentile_by_group` / the CDF path in `agg_summary`). Analysts
    moving between engines hit this seam constantly; here it's an
    asserted contract, not a hope.

    Spark's `percentile` buffers the group's values to interpolate —
    fine per-group at dimension-bounded cardinality (|returnflag| groups
    here), NOT for keyless whole-table exactness at 100 TB; that regime
    belongs to `agg_summary`'s CDF aggregation or the approx sketch
    path. ROUND(4) covers interpolation arithmetic order."""
    li = load(spark, sf_dir, "lineitem")
    pcts = F.expr(
        "percentile(l_extendedprice, array(0.25D, 0.5D, 0.9D, 0.99D))"
    )
    return li.groupBy(F.col("l_returnflag").alias("rf")).agg(
        F.round(F.element_at(pcts, 1), 4).alias("p25"),
        F.round(F.element_at(pcts, 2), 4).alias("p50"),
        F.round(F.element_at(pcts, 3), 4).alias("p90"),
        F.round(F.element_at(pcts, 4), 4).alias("p99"),
    )


_IQR_ORACLE = """
WITH q AS (
    SELECT l_returnflag AS rf,
           quantile_disc(l_extendedprice, 0.25) AS q1,
           quantile_disc(l_extendedprice, 0.75) AS q3
    FROM lineitem GROUP BY l_returnflag
)
SELECT li.l_returnflag AS rf,
       ROUND(q.q1, 2) AS q1,
       ROUND(q.q3, 2) AS q3,
       ROUND(q.q3 - q.q1, 2) AS iqr,
       CAST(COUNT(CASE WHEN li.l_extendedprice
                            < q.q1 - 1.5 * (q.q3 - q.q1) THEN 1 END)
            AS BIGINT) AS n_low_outliers,
       CAST(COUNT(CASE WHEN li.l_extendedprice
                            > q.q3 + 1.5 * (q.q3 - q.q1) THEN 1 END)
            AS BIGINT) AS n_high_outliers,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem li JOIN q ON li.l_returnflag = q.rf
GROUP BY li.l_returnflag, q.q1, q.q3
"""


@register("clean_outlier_iqr", oracle=_IQR_ORACLE, tags=("profile", "clean"))
def clean_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (1.5·IQR) outlier census per group — the boxplot rule,
    complementing the robust-MAD report (`agg_robust_mad_outliers`:
    resistant to the outliers themselves) and the z-score filter
    (`clean_outlier_filter`: assumes normality). Quartiles use the
    DISCRETE convention (actual data values — engine-exact, no
    interpolation arithmetic to diverge on; the CONT seam is pinned by
    agg_percentile_cont_interpolated).

    Two passes by necessity (fences depend on the quartiles): a per-group
    quantile fold, broadcast back onto the scan, one counting aggregate.
    At 100 TB swap pass one for the approx-sketch quantiles and keep
    pass two unchanged — the fence census is the same plan either way."""
    li = load(spark, sf_dir, "lineitem")
    q = li.groupBy(F.col("l_returnflag").alias("rf")).agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice)")
        .alias("q1"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice)")
        .alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        li.join(F.broadcast(q), li.l_returnflag == q.rf)
        .groupBy(F.col("rf"), F.col("q1"), F.col("q3"))
        .agg(
            F.count(F.when(F.col("l_extendedprice") < F.col("q1") - 1.5 * iqr, 1))
            .cast("long")
            .alias("n_low_outliers"),
            F.count(F.when(F.col("l_extendedprice") > F.col("q3") + 1.5 * iqr, 1))
            .cast("long")
            .alias("n_high_outliers"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .select(
            "rf",
            F.round("q1", 2).alias("q1"),
            F.round("q3", 2).alias("q3"),
            F.round(iqr, 2).alias("iqr"),
            "n_low_outliers",
            "n_high_outliers",
            "n",
        )
    )


_MULTI_DISTINCT_ORACLE = """
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(DISTINCT CAST(date_trunc('day', o_orderdate) AS DATE))
            AS BIGINT) AS n_active_days,
       ROUND(SUM(DISTINCT ROUND(o_totalprice, 0)), 2) AS sum_distinct_rounded
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "agg_multi_distinct_expand", oracle=_MULTI_DISTINCT_ORACLE, tags=("profile", "agg")
)
def agg_multi_distinct_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several DISTINCT aggregates over DIFFERENT columns in one query —
    the shape that forces Catalyst's Expand rewrite: the input replicates
    once per distinct-column group (grouping-id tagged), each replica
    deduplicates on its own key, and a final aggregate stitches the
    groups back together. One logical query, one pass over the scan, no
    N separate jobs — but the shuffle carries ~(#distinct-groups)× the
    rows, which is the documented cost to weigh against approx_distinct
    sketches (`agg_hll_sketch_merge`) when exactness isn't required.

    COUNT(*) rides along free (it attaches to any replica); SUM(DISTINCT)
    rounds its operand FIRST so the distinct set itself is engine-exact."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        F.countDistinct(F.to_date("o_orderdate")).cast("long").alias(
            "n_active_days"
        ),
        F.round(
            F.sum_distinct(F.round("o_totalprice", 0)), 2
        ).alias("sum_distinct_rounded"),
    )


_FEATURE_SCALING_ORACLE = """
WITH stats AS (
    SELECT MIN(c_acctbal) AS mn, MAX(c_acctbal) AS mx,
           quantile_disc(c_acctbal, 0.25) AS q1,
           quantile_disc(c_acctbal, 0.50) AS med,
           quantile_disc(c_acctbal, 0.75) AS q3
    FROM customer
)
SELECT c.c_custkey,
       CASE WHEN s.mn = s.mx THEN NULL
            ELSE ROUND((c.c_acctbal - s.mn) / (s.mx - s.mn), 6)
            END AS minmax_scaled,
       CASE WHEN s.q1 = s.q3 THEN NULL
            ELSE ROUND((c.c_acctbal - s.med) / (s.q3 - s.q1), 6)
            END AS robust_scaled
FROM customer c CROSS JOIN stats s
"""


@register("ml_feature_scaling", oracle=_FEATURE_SCALING_ORACLE, tags=("ml", "feature"))
def ml_feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max and robust (median/IQR) feature scaling — the two scalers
    that complete the normalization kit around the z-score standardizer
    (`embedding_standardize`): min-max for bounded [0,1] inputs, robust
    when outliers make mean/std lie. Quantiles use the DISCRETE
    convention so the scaling constants are actual data values —
    engine-exact without interpolation arithmetic.

    The stats fold is one keyless reduce (min/max/3 quantiles in a
    single aggregate); scaling is a narrow codegen'd projection under a
    1-row broadcast. Same fit-then-transform shape as every sklearn
    scaler, with the 'model' being one Row."""
    cust = load(spark, sf_dir, "customer")
    stats = cust.agg(
        F.min("c_acctbal").alias("mn"),
        F.max("c_acctbal").alias("mx"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY c_acctbal)").alias("q1"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY c_acctbal)").alias("med"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY c_acctbal)").alias("q3"),
    )
    # Degenerate fits (constant column: mn = mx; zero IQR: q1 = q3) must
    # not reach the division — ANSI Spark raises where DuckDB NULLs. The
    # guards compare ACTUAL DATA VALUES (discrete quantiles/min/max), so
    # they trip identically on both engines. r13 degenerate-probe finding.
    return cust.crossJoin(F.broadcast(stats)).select(
        "c_custkey",
        F.when(F.col("mn") == F.col("mx"), F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("c_acctbal") - F.col("mn")) / (F.col("mx") - F.col("mn")),
                6,
            )
        )
        .alias("minmax_scaled"),
        F.when(F.col("q1") == F.col("q3"), F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("c_acctbal") - F.col("med")) / (F.col("q3") - F.col("q1")),
                6,
            )
        )
        .alias("robust_scaled"),
    )


_WEIGHTED_MOMENTS_ORACLE = """
WITH w AS (
    SELECT l_returnflag AS rf,
           CAST(l_quantity AS DECIMAL(18,2)) AS wt,
           l_extendedprice AS x
    FROM lineitem
)
SELECT rf,
       ROUND(CAST(SUM(wt) AS DOUBLE), 2) AS total_weight,
       ROUND(CAST(SUM(wt * x) AS DOUBLE) / CAST(SUM(wt) AS DOUBLE), 4)
           AS weighted_mean,
       ROUND(
           CAST(SUM(wt * x * x) AS DOUBLE) / CAST(SUM(wt) AS DOUBLE)
           - POW(CAST(SUM(wt * x) AS DOUBLE) / CAST(SUM(wt) AS DOUBLE), 2),
           4
       ) AS weighted_var
FROM w GROUP BY rf
"""


@register("agg_weighted_moments", oracle=_WEIGHTED_MOMENTS_ORACLE, tags=("profile", "agg"))
def agg_weighted_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted mean and variance of price (weight = quantity)
    per returnflag — "per UNIT shipped" moments, the aggregate
    counterpart of `agg_weighted_percentile`'s order statistics (and the
    same question `avg(price)` silently answers wrong: that's per LINE).
    Var = E_w[x²] − E_w[x]², all three sums (Σw, Σwx, Σwx²) folding in
    ONE map-side-combined aggregate — the textbook mergeable-moments
    shape, so 100 TB costs one scan and a |groups|-row shuffle.

    Weights ride as DECIMAL; the wx/wx² products are doubles (x is a
    double measure), so ROUND(4) covers cross-engine summation order."""
    li = load(spark, sf_dir, "lineitem")
    wt = F.col("l_quantity").cast("decimal(18,2)")
    x = F.col("l_extendedprice")
    g = li.groupBy(F.col("l_returnflag").alias("rf")).agg(
        F.sum(wt).cast("double").alias("sw"),
        F.sum(wt.cast("double") * x).alias("swx"),
        F.sum(wt.cast("double") * x * x).alias("swx2"),
    )
    wmean = F.col("swx") / F.col("sw")
    return g.select(
        "rf",
        F.round("sw", 2).alias("total_weight"),
        F.round(wmean, 4).alias("weighted_mean"),
        F.round(F.col("swx2") / F.col("sw") - F.pow(wmean, 2), 4).alias(
            "weighted_var"
        ),
    )


_TRIMMED_MEAN_ORACLE = """
WITH fences AS (
    SELECT quantile_disc(o_totalprice, 0.05) AS lo,
           quantile_disc(o_totalprice, 0.95) AS hi
    FROM orders
)
SELECT
    CAST(COUNT(*) AS BIGINT) AS n,
    ROUND(AVG(o.o_totalprice), 4) AS raw_mean,
    ROUND(AVG(CASE WHEN o.o_totalprice BETWEEN f.lo AND f.hi
                   THEN o.o_totalprice END), 4) AS trimmed_mean,
    ROUND(AVG(LEAST(GREATEST(o.o_totalprice, f.lo), f.hi)), 4)
        AS winsorized_mean,
    CAST(COUNT(CASE WHEN o.o_totalprice NOT BETWEEN f.lo AND f.hi THEN 1 END)
         AS BIGINT) AS n_outside
FROM orders o CROSS JOIN fences f
"""


@register("agg_trimmed_mean", oracle=_TRIMMED_MEAN_ORACLE, tags=("profile", "agg"))
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% trimmed and winsorized means of order value next to the raw
    mean — the robust-location ladder: trimming DROPS the tails,
    winsorizing CLAMPS them to the fences, and the gap between the
    three numbers is itself the tail-heaviness diagnostic (all equal ⇒
    clean; raw ≫ trimmed ⇒ a whale problem). Fences are DISCRETE 5/95
    quantiles (actual data values — engine-exact, the same convention
    as `clean_outlier_iqr`).

    Two passes by necessity (fences, then one conditional-aggregate
    reduce under the 1-row broadcast); at 100 TB pass one swaps to the
    approx sketch and pass two is unchanged."""
    o = load(spark, sf_dir, "orders")
    fences = o.agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY o_totalprice)").alias("lo"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice)").alias("hi"),
    )
    j = o.crossJoin(F.broadcast(fences))
    inside = F.col("o_totalprice").between(F.col("lo"), F.col("hi"))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("o_totalprice"), 4).alias("raw_mean"),
        F.round(F.avg(F.when(inside, F.col("o_totalprice"))), 4).alias(
            "trimmed_mean"
        ),
        F.round(
            F.avg(
                F.least(
                    F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")
                )
            ),
            4,
        ).alias("winsorized_mean"),
        F.count(F.when(~inside, 1)).cast("long").alias("n_outside"),
    )


_MONOTONIC_REPAIR_ORACLE = """
WITH c AS (
    SELECT user_id, ts, event_id,
           SUM(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - 2 * CASE WHEN event_type = 'error' THEN value ELSE 0 END
               AS reading
    FROM events
), repaired AS (
    SELECT user_id, reading,
           MAX(reading) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS fixed
    FROM c
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_readings,
       CAST(COUNT(CASE WHEN reading < fixed THEN 1 END) AS BIGINT)
           AS n_violations,
       ROUND(MAX(fixed), 6) AS final_reading
FROM repaired GROUP BY user_id
"""


@register("clean_monotonic_repair", oracle=_MONOTONIC_REPAIR_ORACLE, tags=("profile", "clean"))
def clean_monotonic_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotonic-counter repair: a cumulative meter (odometer, lifetime
    spend, bytes-sent counter) must never decrease, but glitches and
    resets make it dip; the standard repair is the running MAX, and the
    dip count is the data-quality signal. The synthetic meter here is
    the per-user cumulative value with 'error' events flipped negative —
    a deterministic glitch injection both engines reproduce exactly.

    Two stacked windows on one (user) partitioning+ordering — the same
    single-exchange shape as `ts_max_drawdown` (drawdown measures the
    dips; this op erases them) — then one per-user fold counting
    violations. Fixed-order running sums/maxes ⇒ bit-identical doubles
    across engines."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = ev.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.sum("value").over(w)
            - 2
            * F.when(F.col("event_type") == "error", F.col("value")).otherwise(
                0.0
            )
        ).alias("reading"),
    )
    repaired = c.select(
        "user_id",
        "reading",
        F.max("reading")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("fixed"),
    )
    return repaired.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_readings"),
        F.count(F.when(F.col("reading") < F.col("fixed"), 1))
        .cast("long")
        .alias("n_violations"),
        F.round(F.max("fixed"), 6).alias("final_reading"),
    )


_BITMAP_OVERLAP_ORACLE = """
WITH seg AS (
    SELECT DISTINCT o_orderpriority AS p, o_custkey AS k FROM orders
)
SELECT a.p AS seg_a, b.p AS seg_b,
       CAST(COUNT(*) AS BIGINT) AS n_overlap
FROM seg a JOIN seg b ON a.k = b.k AND a.p < b.p
GROUP BY a.p, b.p
"""


@register(
    "agg_bitmap_intersection", oracle=_BITMAP_OVERLAP_ORACLE, tags=("profile", "sketch")
)
def agg_bitmap_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between every segment pair, computed on MERGEABLE
    BITMAPS by inclusion-exclusion: |A∩B| = |A| + |B| − |A∪B|, with the
    union coming from `bitmap_or_agg` over the two segments' per-bucket
    bitmaps — so pairwise overlaps of ANY number of segments come from
    the stored per-(segment, bucket) bitmap rollup alone, never
    re-shuffling raw keys (the ad-tech / cohort question
    `agg_bitmap_distinct` stores the currency for; Spark ships OR but
    no AND aggregate, and inclusion-exclusion makes AND unnecessary).

    Shape: the segment×bucket bitmap table fans out through a broadcast
    pair-membership map (|segments|² rows), per-(pair, bucket) unions
    OR-merge in partials, and the final fold sums popcount differences.
    The oracle is the raw distinct-key overlap — bitmaps are exact, so
    equality is definitional."""
    orders = load(spark, sf_dir, "orders")
    seg_bm = (
        orders.select(
            F.col("o_orderpriority").alias("p"),
            F.bitmap_bucket_number("o_custkey").alias("bucket"),
            F.bitmap_bit_position("o_custkey").alias("pos"),
        )
        .groupBy("p", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
        .withColumn("cnt", F.bitmap_count("bm"))
    )
    prios = seg_bm.select("p").distinct()
    a, b = prios.alias("pa"), prios.alias("pb")
    pair_members = (
        a.join(b, F.col("pa.p") < F.col("pb.p"))
        .select(
            F.concat_ws("|", F.col("pa.p"), F.col("pb.p")).alias("pair"),
            F.col("pa.p").alias("seg_a"),
            F.col("pb.p").alias("seg_b"),
        )
        .select(
            "pair",
            "seg_a",
            "seg_b",
            F.explode(F.array("seg_a", "seg_b")).alias("member"),
        )
    )
    fanned = seg_bm.join(
        F.broadcast(pair_members), seg_bm.p == pair_members.member
    )
    per_bucket = fanned.groupBy("pair", "seg_a", "seg_b", "bucket").agg(
        F.bitmap_count(F.bitmap_or_agg("bm")).alias("union_cnt"),
        F.sum("cnt").alias("sum_cnt"),
    )
    return (
        per_bucket.groupBy("seg_a", "seg_b")
        .agg(
            F.sum(F.col("sum_cnt") - F.col("union_cnt"))
            .cast("long")
            .alias("n_overlap")
        )
        .where(F.col("n_overlap") > 0)  # match the oracle: disjoint pairs absent
    )


#: Count-min sketch shape: eps bounds overestimation at eps·N, confidence
#: is the probability the bound holds per query. 0.001/0.99 gives a
#: ~2.7k-counter sketch — constant-size regardless of corpus scale.
CMS_EPS = 0.001
CMS_CONFIDENCE = 0.99
CMS_SEED = 42
CMS_TOP = 20


@register("agg_count_min_sketch", oracle=None, tags=("profile", "sketch"))
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates (df.stat.countMinSketch —
    Spark's built-in mergeable CMS aggregate) for the exactly-heaviest
    CMS_TOP users: exact count next to the sketch estimate and the
    overestimation the eps·N bound promises to cap. The CMS completes the
    sketch shelf next to HLL (distinct counts, agg_hll_sketch_merge) and
    MG heavy hitters (agg_heavy_hitters_mg): it answers point frequency
    queries from constant memory, the structure a 100 TB stream keeps
    per-partition and merges — the aggregation is distributed; only the
    FIXED-SIZE sketch (~2.7k counters at eps=0.001) ever reaches the
    driver, which is the entire point of a sketch and the documented
    exception to the no-driver-materialization rule (same class as the
    k-row model tables).

    ⊘ rows-only: the sketch's hash family is engine-specific so DuckDB
    cannot replay the estimates; determinism comes from the fixed seed,
    and tests/test_profile.py gates estimate ≥ exact (CMS never
    underestimates) and estimate ≤ exact + eps·N."""
    ev = load(spark, sf_dir, "events").select("user_id")
    # Distributed sketch build: the count_min_sketch AGGREGATE computes
    # per-partition sketches and merges them map-side — one fixed-size
    # blob crosses to the driver, deserialized via the JVM sketch class.
    blob = ev.agg(
        F.expr(
            f"count_min_sketch(user_id, {CMS_EPS}d, {CMS_CONFIDENCE}d,"
            f" {CMS_SEED})"
        ).alias("sk")
    ).collect()[0]["sk"]
    cms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(blob)
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("user_id"))
        .limit(CMS_TOP)
        .collect()
    )
    rows = [
        (
            int(r["user_id"]),
            int(r["exact_count"]),
            int(cms.estimateCount(int(r["user_id"]))),
        )
        for r in top
    ]
    return spark.createDataFrame(
        [(u, e, est, est - e) for u, e, est in rows],
        "user_id long, exact_count long, cms_estimate long, overcount long",
    )


_CAPTURE_ORACLE = """
WITH d AS (
    SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
    FROM events
), span AS (
    SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM d
), per_user AS (
    SELECT user_id,
           MAX(CASE WHEN day < span.mid THEN 1 ELSE 0 END) AS in_a,
           MAX(CASE WHEN day >= span.mid THEN 1 ELSE 0 END) AS in_b
    FROM d, span GROUP BY user_id
), s AS (
    SELECT CAST(SUM(in_a) AS BIGINT) AS n1,
           CAST(SUM(in_b) AS BIGINT) AS n2,
           CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
           CAST(COUNT(*) AS BIGINT) AS true_distinct
    FROM per_user
)
SELECT n1, n2, n_both, true_distinct,
       (n1 + 1) * (n2 + 1) // (n_both + 1) - 1 AS chapman_estimate,
       CASE WHEN (n1 + 1) * (n2 + 1) // (n_both + 1) - 1 < true_distinct
            THEN -((true_distinct - ((n1 + 1) * (n2 + 1) // (n_both + 1) - 1))
                   * 1000000 // true_distinct)
            ELSE (((n1 + 1) * (n2 + 1) // (n_both + 1) - 1) - true_distinct)
                 * 1000000 // true_distinct END AS err_micros
FROM s
"""


@register(
    "stat_capture_recapture", oracle=_CAPTURE_ORACLE, tags=("profile", "audit")
)
def stat_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture–recapture estimate of the TRUE distinct-user
    universe from two observation windows (first vs second half of the
    event span): N̂ = (n₁+1)(n₂+1)/(m+1) − 1, the bias-corrected
    Lincoln–Petersen estimator (Chapman 1951; same machinery ecologists
    use to count fish). The data-engineering use is auditing COVERAGE
    when no complete census exists — how many users/entities does the
    full population hold if two partial feeds overlap this much? —
    and, reflexively, sizing the dedup universe: n₁ + n₂ − m only counts
    what was SEEN; Chapman extrapolates to what exists. The fixture has
    a census, so the query also emits the true distinct count and the
    signed micro-unit error — the estimator auditing itself (at test
    SFs users recur across halves heavily, so the estimate lands within
    a few percent; the planted test pins the exact arithmetic).

    Exact integers end to end: the half-split day boundary is an
    integral midpoint ((min+max+1) div 2), per-user presence flags fold
    with max() on the user grain (ONE map-side-combined aggregate of
    the fact table — the same shape as any distinct-count), and the
    Chapman quotient and signed error are sign-split truncating
    divisions. Assumption honesty: Chapman requires equal catchability
    and a closed population — real feeds violate both, which is why the
    error column exists."""
    from recommendation_system_big_data_spark.catalog import epoch_s

    d = (
        load(spark, sf_dir, "events")
        .select("user_id", epoch_s("ts").alias("es"))
        .select("user_id", F.expr("es div 86400").alias("day"))
    )
    span = d.agg(
        F.expr("(MIN(day) + MAX(day) + 1) div 2").alias("mid")
    )
    per_user = (
        d.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("day") < F.col("mid"), 1).otherwise(0)).alias(
                "in_a"
            ),
            F.max(F.when(F.col("day") >= F.col("mid"), 1).otherwise(0)).alias(
                "in_b"
            ),
        )
    )
    s = per_user.agg(
        F.sum("in_a").cast("long").alias("n1"),
        F.sum("in_b").cast("long").alias("n2"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
        F.count(F.lit(1)).cast("long").alias("true_distinct"),
    )
    est = "(n1 + 1) * (n2 + 1) div (n_both + 1) - 1"
    return s.select(
        "n1",
        "n2",
        "n_both",
        "true_distinct",
        F.expr(est).cast("long").alias("chapman_estimate"),
        F.expr(
            f"""CASE WHEN {est} < true_distinct
            THEN -((true_distinct - ({est})) * 1000000 div true_distinct)
            ELSE (({est}) - true_distinct) * 1000000 div true_distinct
            END"""
        )
        .cast("long")
        .alias("err_micros"),
    )


@register("agg_sketch_error_audit", oracle=None, tags=("profile", "audit"))
def agg_sketch_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured error of the engine's cardinality sketches against the
    exact distinct count — the audit-family row for the approximate
    aggregates (`agg_approx_count_distinct` ships the sketch; this query
    prices it): HyperLogLog++ at the default 5% target RSD and at a
    tightened 1%, side by side with the exact COUNT(DISTINCT), each
    error in signed micro-units. At 100 TB the exact count is a full
    shuffle of the key universe while the sketches are tiny mergeable
    state — THIS row is how an operator decides, per column, whether
    the 1e6-× cheaper plan's error is inside their tolerance.

    ⊘ rows-only by design: DuckDB's approx_count_distinct uses a
    different HLL implementation, so cross-engine hashes cannot agree
    on the sketch values — the exact column and the error IDENTITIES
    are pinned by the pytest replay instead (the errors are
    deterministic for a fixed dataset: Spark's HLL++ is seedless).

    One scan, three aggregates (Catalyst computes them in a single
    pass); the exact distinct is the only shuffle-bearing branch."""
    ev = load(spark, sf_dir, "events")
    s = ev.agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct"),
        F.approx_count_distinct("user_id").cast("long").alias("hll_default"),
        F.approx_count_distinct("user_id", 0.01).cast("long").alias(
            "hll_rsd01"
        ),
    )
    def err(col: str):
        return F.expr(
            f"CASE WHEN {col} < exact_distinct"
            f" THEN -((exact_distinct - {col}) * 1000000 div exact_distinct)"
            f" ELSE ({col} - exact_distinct) * 1000000 div exact_distinct END"
        ).cast("long")
    return s.select(
        "exact_distinct",
        "hll_default",
        "hll_rsd01",
        err("hll_default").alias("err_default_micros"),
        err("hll_rsd01").alias("err_rsd01_micros"),
    )


@register("agg_hll_intersection_audit", oracle=None, tags=("profile", "audit"))
def agg_hll_intersection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based set-INTERSECTION estimation audited against the exact
    answer: |A∩B| via inclusion–exclusion over HLL sketches
    (est(A) + est(B) − est(A∪B), the only intersection HLL supports —
    sketch union is lossless, sketch intersection does not exist) for
    the click vs purchase user sets, beside the exact three-way distinct
    counts. The audit matters because inclusion–exclusion COMPOUNDS the
    sketch error: three ±RSD estimates difference into the (often much
    smaller) intersection, so the relative error on |A∩B| can be many
    times the per-sketch RSD — exactly the number an operator needs
    before replacing an exact overlap join (`agg_bitmap_intersection`
    is the exact mergeable alternative when keys are dense integers).

    ⊘ rows-only (engines' HLL implementations differ by design); the
    pytest replays the inclusion–exclusion identity on the engine's own
    estimates and bounds the audited error. Deterministic: Spark's
    HLL++ is seedless, so the row is stable across runs/layouts.

    Scale: sketches are tiny mergeable state (one pass, map-side
    combine); the exact branch costs the usual distinct shuffles and is
    precisely what you run this audit to justify deleting."""
    ev = load(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click")
    b = ev.where(F.col("event_type") == "purchase")
    ab = ev.where(F.col("event_type").isin("click", "purchase"))
    exact = (
        a.agg(F.countDistinct("user_id").alias("exact_a"))
        .crossJoin(b.agg(F.countDistinct("user_id").alias("exact_b")))
        .crossJoin(ab.agg(F.countDistinct("user_id").alias("exact_union")))
    )
    sk = (
        a.agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk_a"))
        .crossJoin(b.agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk_b")))
        .select(
            F.hll_sketch_estimate("sk_a").alias("est_a"),
            F.hll_sketch_estimate("sk_b").alias("est_b"),
            F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).alias(
                "est_union"
            ),
        )
    )
    return (
        exact.crossJoin(F.broadcast(sk))
        .select(
            "exact_a",
            "exact_b",
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_union"))
            .cast("long")
            .alias("exact_inter"),
            F.col("est_a").cast("long").alias("est_a"),
            F.col("est_b").cast("long").alias("est_b"),
            (F.col("est_a") + F.col("est_b") - F.col("est_union"))
            .cast("long")
            .alias("est_inter"),
        )
        .withColumn(
            "err_micros",
            F.expr(
                "CASE WHEN exact_inter = 0 THEN NULL"
                " WHEN est_inter < exact_inter"
                " THEN -((exact_inter - est_inter) * 1000000 div exact_inter)"
                " ELSE (est_inter - exact_inter) * 1000000 div exact_inter END"
            ).cast("long"),
        )
    )


@register("agg_quantile_sketch_audit", oracle=None, tags=("profile", "audit"))
def agg_quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch error audit — the third leg of the approximate-
    aggregate pricing family (HLL distinct → `agg_sketch_error_audit`,
    HLL intersection → `agg_hll_intersection_audit`, quantiles → here):
    `approx_percentile` at accuracy 1,000 and 10,000 against the exact
    interpolated percentile for p50/p90/p99 of event value, each error
    in signed micro-units of the exact value. The GK-sketch guarantee is
    RANK error ≤ 1/accuracy, which maps to VALUE error through the local
    density — exactly why an operator must measure on their own
    distribution before swapping the exact full-sort percentile
    (`agg_summary`'s bounded-state CDF) for the one-pass mergeable
    sketch at 100 TB.

    ⊘ rows-only by design (DuckDB has no GK sketch to mirror); Spark's
    approx_percentile is deterministic for a fixed dataset, and the
    pytest pins the identities plus the rank-error-implied value bound
    at the fixture's density. One scan computes the exact and both
    sketch columns in a single aggregate."""
    ev = load(spark, sf_dir, "events")
    s = ev.agg(
        F.expr("percentile(value, array(0.5, 0.9, 0.99))").alias("exact"),
        F.expr(
            "approx_percentile(value, array(0.5, 0.9, 0.99), 1000)"
        ).alias("a1k"),
        F.expr(
            "approx_percentile(value, array(0.5, 0.9, 0.99), 10000)"
        ).alias("a10k"),
    )
    p = F.array(F.lit(50), F.lit(90), F.lit(99))
    rows = s.select(
        F.posexplode(
            F.arrays_zip(p.alias("pct"), "exact", "a1k", "a10k")
        ).alias("i", "z")
    ).select(
        F.col("z.pct").cast("long").alias("percentile"),
        F.round(F.col("z.exact"), 6).alias("exact_value"),
        F.round(F.col("z.a1k"), 6).alias("approx_acc1k"),
        F.round(F.col("z.a10k"), 6).alias("approx_acc10k"),
        F.expr(
            "CAST(CASE WHEN z.a1k >= z.exact"
            " THEN FLOOR((z.a1k - z.exact) / z.exact * 1000000)"
            " ELSE -FLOOR((z.exact - z.a1k) / z.exact * 1000000) END"
            " AS LONG)"
        ).alias("err_acc1k_micros"),
        F.expr(
            "CAST(CASE WHEN z.a10k >= z.exact"
            " THEN FLOOR((z.a10k - z.exact) / z.exact * 1000000)"
            " ELSE -FLOOR((z.exact - z.a10k) / z.exact * 1000000) END"
            " AS LONG)"
        ).alias("err_acc10k_micros"),
    )
    return rows


# --- Functional-dependency audit -------------------------------------------
# Metanome/Tane-style FD verification for a declared candidate list:
# for each lhs -> rhs candidate, the g3 error is the minimum fraction
# of rows to delete for the FD to hold exactly —
# g3 = (n_rows - sum_lhs max_rhs_count) / n_rows — computed from one
# (lhs, rhs) count fold + one (lhs) max fold per candidate. A mix of
# holding (PK-implied) and violated candidates makes the readout
# non-vacuous in both directions.

_FD_CANDIDATES = (
    # (name, table, lhs, rhs) — two that hold by key structure, three
    # that genuinely fail on TPC-H-shaped data
    ("orders.o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
    ("customer.c_custkey->c_mktsegment", "customer", "c_custkey",
     "c_mktsegment"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey",
     "o_orderpriority"),
    ("lineitem.l_partkey->l_suppkey", "lineitem", "l_partkey",
     "l_suppkey"),
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey",
     "c_mktsegment"),
)


def _fd_candidate_sql(name: str, table: str, lhs: str, rhs: str) -> str:
    return f"""
SELECT '{name}' AS candidate,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(total) AS BIGINT) AS n_rows,
       CAST(SUM(total - mx) AS BIGINT) AS n_violating_rows,
       ROUND(CAST(SUM(total - mx) AS DOUBLE) / SUM(total), 6) AS g3_error,
       CAST(SUM(total - mx) = 0 AS BIGINT) AS holds
FROM (
    SELECT {lhs}, SUM(c) AS total, MAX(c) AS mx
    FROM (
        SELECT {lhs}, {rhs}, CAST(COUNT(*) AS BIGINT) AS c
        FROM {table} WHERE {lhs} IS NOT NULL
        GROUP BY {lhs}, {rhs}
    ) GROUP BY {lhs}
)"""


_FD_ORACLE = "\nUNION ALL\n".join(
    _fd_candidate_sql(*cand) for cand in _FD_CANDIDATES
) + "\nORDER BY candidate"


@register("profile_fd_audit", oracle=_FD_ORACLE, tags=("profile", "quality"))
def profile_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over a declared candidate list — the
    schema-profiling capability (Metanome/Tane's verification step)
    that tells a pipeline which column determinations it may rely on:
    g3 error = minimum row fraction to delete for lhs → rhs to hold
    exactly, Σ_lhs (group − max-agreeing-rhs) / n. Candidates mix
    PK-implied FDs (must hold, holds=1 is a data-integrity assertion)
    with genuinely violated ones (g3 > 0 readouts), so neither branch
    is vacuous. `fk_integrity_report` checks INTER-table references;
    this checks INTRA-table determinations.

    Scale shape per candidate: one map-side-combined (lhs, rhs) count
    fold, one (lhs) max/total fold, one 1-row reduce — all shuffles on
    the lhs key; candidates union at the 1-row grain. NULL lhs rows
    are excluded (an FD is a statement about present keys, the SQL
    standard's treatment)."""
    outs = []
    for name, table, lhs, rhs in _FD_CANDIDATES:
        t = load(spark, sf_dir, table).where(F.col(lhs).isNotNull())
        pair = t.groupBy(lhs, rhs).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        grp = pair.groupBy(lhs).agg(
            F.sum("c").alias("total"), F.max("c").alias("mx")
        )
        outs.append(
            grp.agg(
                F.lit(name).alias("candidate"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum("total").cast("long").alias("n_rows"),
                F.sum(F.expr("total - mx"))
                .cast("long")
                .alias("n_violating_rows"),
                F.round(
                    F.expr(
                        "CAST(SUM(total - mx) AS DOUBLE) / SUM(total)"
                    ),
                    6,
                ).alias("g3_error"),
                F.expr(
                    "CAST(SUM(total - mx) = 0 AS BIGINT)"
                ).alias("holds"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("candidate")
