"""The serve path's held item table (`recommend.item_table`): the reference
enrichment over it gives the same rows, in the same order, as the plain
relational program, every call still runs its own join, and a rewritten
ratings file rebuilds it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

from recommendation_system_big_data_spark.operators.recommend import enrich_and_rank, item_table
from recommendation_system_big_data_spark.sources.csv import read_csv_reference

DIM_SCHEMA = StructType([
    StructField("ID", IntegerType()),
    StructField("Name", StringType()),
    StructField("English name", StringType()),
    StructField("Type", StringType()),
])
RATINGS_SCHEMA = StructType([
    StructField("user_id", IntegerType()),
    StructField("anime_id", IntegerType()),
    StructField("rating", DoubleType()),
])
RECS_SCHEMA = StructType([
    StructField("anime_id", IntegerType()),
    StructField("predicted_rating", DoubleType()),
])

#: ID → (Type, ratings). Items 2, 4 and 8 tie at 7.5 and items 3 and 9 at
#: 6.0; items 6 and 10 have no ratings; no OVA is ever recommended.
ITEMS = {
    1: ("TV", [9, 8]),
    2: ("TV", [7, 8]),
    3: ("Movie", [6]),
    4: ("TV", [8, 7, 7.5]),
    5: ("Movie", [2, 3]),
    6: ("TV", []),
    7: ("TV", [4]),
    8: ("TV", [7.5]),
    9: ("Movie", [5, 7]),
    10: ("Movie", []),
    11: ("OVA", [10]),
    12: ("TV", [1]),
}
#: Recommended IDs; 98 and 99 are missing from the catalog.
RECS = (8, 98, 2, 6, 4, 12, 3, 99, 7, 1, 10, 9, 5)


def reference_enrich_and_rank(recs, dim, ratings, type_value, top_n=5):
    """The enrichment as one relational program with the per-item average
    aggregated inline — the oracle the held item table must reproduce."""
    enriched = recs.join(dim, recs["anime_id"] == dim["ID"], how="left").select(
        dim["ID"], dim["Name"], dim["English name"], dim["Type"], recs["predicted_rating"]
    )
    avg_ratings = (
        ratings.groupBy("anime_id").avg("rating").withColumnRenamed("avg(rating)", "avg_rating")
    )
    return (
        enriched.join(avg_ratings, enriched["ID"] == avg_ratings["anime_id"], "left")
        .drop(avg_ratings["anime_id"])
        .filter(F.col("Type") == type_value)
        .orderBy(F.col("avg_rating").desc(), F.col("ID").asc())
        .select("ID", "Name", "English name", F.round("avg_rating", 6).alias("avg_rating"))
        .limit(top_n)
    )


def _write_csv(path, header: str, rows) -> str:
    path.write_text(header + "\n" + "".join(",".join(map(str, r)) + "\n" for r in rows))
    return str(path)


def _ratings_rows(items, shift=0.0):
    return [
        (user, i, r + shift)
        for i, (_, ratings) in items.items()
        for user, r in enumerate(ratings)
    ]


@pytest.fixture
def inputs(spark, tmp_path):
    """File-backed catalog, ratings and recommendation frames, and the
    ratings path so a test can rewrite it."""
    dim = _write_csv(
        tmp_path / "anime.csv",
        "ID,Name,English name,Type",
        [(i, f"Anime {i}", f"Anime {i} EN" if i % 3 else "Unknown", t) for i, (t, _) in ITEMS.items()],
    )
    ratings = _write_csv(tmp_path / "ratings.csv", "user_id,anime_id,rating", _ratings_rows(ITEMS))
    recs = _write_csv(
        tmp_path / "recs.csv", "anime_id,predicted_rating", [(i, 10 - k / 10) for k, i in enumerate(RECS)]
    )
    return (
        read_csv_reference(spark, recs, RECS_SCHEMA),
        read_csv_reference(spark, dim, DIM_SCHEMA),
        lambda: read_csv_reference(spark, ratings, RATINGS_SCHEMA),
        tmp_path,
    )


def _jobs(spark, group: str, df) -> tuple[list, int]:
    """Collect ``df`` under a fresh job group; (rows, jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def _executed_nodes(plan) -> list[str]:
    """Node names of an executed physical plan, through adaptive query
    stages; an in-memory table scan is a leaf (its cached plan is not
    walked)."""
    name = plan.nodeName()
    kids = [plan.children().apply(i) for i in range(plan.children().size())]
    if name.startswith("AdaptiveSparkPlan"):
        kids.append(plan.executedPlan())
    elif name.endswith("QueryStage"):
        kids.append(plan.plan())
    return [name] + [n for k in kids for n in _executed_nodes(k)]


@pytest.mark.parametrize("type_value", ["TV", "Movie", "OVA", "Special"])
@pytest.mark.parametrize("top_n", [3, 5, 20])
def test_held_table_matches_reference(spark, inputs, type_value, top_n):
    """Row for row and in order: avg_rating ties break on ID, unrated items
    (NULL average) sort last, IDs missing from the catalog drop out, and a
    type with no recommended item (OVA) or no item at all gives nothing."""
    recs, dim, read_ratings, _ = inputs
    ratings = read_ratings()
    held = item_table(dim, ratings)
    assert held.is_cached and item_table(dim, ratings) is held  # file-backed: held
    got = [tuple(r) for r in enrich_and_rank(recs, dim, ratings, type_value, top_n).collect()]
    want = [
        tuple(r)
        for r in reference_enrich_and_rank(recs, dim, ratings, type_value, top_n).collect()
    ]
    assert got == want
    ids = [r[0] for r in got]
    if type_value == "TV":
        assert ids == [1, 2, 4, 8, 7, 12, 6][:top_n]
    elif type_value == "Movie":
        assert ids == [3, 9, 5, 10][:top_n]
    else:
        assert got == []


def test_rdd_frames_run_unheld(spark):
    """``createDataFrame`` frames are plans over an RDD: the item table is
    the same program, built unpersisted on every call."""
    dim = spark.createDataFrame([(1, "a", None, "TV")], DIM_SCHEMA)
    ratings = spark.createDataFrame([(0, 1, 4.0), (1, 1, 5.0)], RATINGS_SCHEMA)
    first = item_table(dim, ratings)
    assert not first.is_cached and item_table(dim, ratings) is not first
    assert [tuple(r) for r in first.collect()] == [(1, "a", None, "TV", 4.5)]


def test_rewritten_ratings_rebuild_the_table(spark, inputs):
    """Rewriting the ratings CSV under a live session: the next call shows
    the new averages and the old held table is unpersisted."""
    recs, dim, read_ratings, tmp_path = inputs
    old = item_table(dim, read_ratings())
    before = enrich_and_rank(recs, dim, read_ratings(), "TV").collect()
    assert item_table(dim, read_ratings()) is old

    shifted = {**ITEMS, 12: ("TV", [10, 10])}  # from last rated TV item to first
    _write_csv(tmp_path / "ratings.csv", "user_id,anime_id,rating", _ratings_rows(shifted, 0.25))

    ratings = read_ratings()
    after = enrich_and_rank(recs, dim, ratings, "TV").collect()
    assert not old.is_cached
    new = item_table(dim, ratings)
    assert new is not old and new.is_cached
    assert after == reference_enrich_and_rank(recs, dim, ratings, "TV").collect()
    assert after != before and after[0]["ID"] == 12


def test_each_call_runs_its_own_join(spark, inputs):
    """Two calls with different recommendations each run their own jobs and
    give their own answers; the executed plan scans the held table and
    holds no aggregate over the ratings."""
    recs, dim, read_ratings, tmp_path = inputs
    ratings = read_ratings()
    other = read_csv_reference(
        spark,
        _write_csv(tmp_path / "recs_b.csv", "anime_id,predicted_rating", [(7, 1.0), (12, 0.5)]),
        RECS_SCHEMA,
    )
    enrich_and_rank(recs, dim, ratings, "TV").collect()  # builds the held table
    held = item_table(dim, ratings)

    a = enrich_and_rank(recs, dim, ratings, "TV")
    b = enrich_and_rank(other, dim, ratings, "TV")
    rows_a, jobs_a = _jobs(spark, "item-table-a", a)
    rows_b, jobs_b = _jobs(spark, "item-table-b", b)
    assert jobs_a > 0 and jobs_b > 0
    assert [r["ID"] for r in rows_b] == [7, 12] and rows_a != rows_b
    assert item_table(dim, ratings) is held

    for df in (a, b):
        nodes = _executed_nodes(df._jdf.queryExecution().executedPlan())
        assert "InMemoryTableScan" in nodes, nodes
        assert not [n for n in nodes if n.endswith("Aggregate")], nodes
