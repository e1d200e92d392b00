"""The serve path's held item index (`recommend.item_table`): the
enrichment ranked on the driver against it gives the same rows, in the same
order and with the same schema, as the plain relational program; every call
reads its own recommendations; a rewritten ratings file rebuilds it."""

from __future__ import annotations

import math
from collections import Counter
from itertools import groupby

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from recommendation_system_big_data_spark.catalog import SESSION_CACHE
from recommendation_system_big_data_spark.operators.recommend import (
    ItemIndex,
    enrich_and_rank,
    item_table,
)
from recommendation_system_big_data_spark.sources.csv import read_csv_reference
from tests.conftest import count_jobs

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


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("type_value", ["TV", "Movie", "OVA", "Special"])
@pytest.mark.parametrize("top_n", [3, 5, 20])
def test_held_table_matches_reference(spark, inputs, type_value, top_n):
    """Row for row and in order: avg_rating ties break on ID, unrated items
    (NULL average) sort last, IDs missing from the catalog drop out, and a
    type with no recommended item (OVA) or no item at all gives nothing."""
    recs, dim, read_ratings, _ = inputs
    ratings = read_ratings()
    held = item_table(dim, ratings)
    assert isinstance(held, ItemIndex) and item_table(dim, ratings) is held  # file-backed: held
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
    """``createDataFrame`` frames are plans over an RDD: the item index is
    the same program, rebuilt on every call."""
    dim = spark.createDataFrame([(1, "a", None, "TV")], DIM_SCHEMA)
    ratings = spark.createDataFrame([(0, 1, 4.0), (1, 1, 5.0)], RATINGS_SCHEMA)
    first = item_table(dim, ratings)
    assert item_table(dim, ratings) is not first
    assert first.rows.to_pylist() == [
        {"ID": 1, "Name": "a", "English name": None, "avg_rating": 4.5}
    ]
    assert first.types.tolist() == ["TV"]


def test_rewritten_ratings_rebuild_the_table(spark, inputs):
    """Rewriting the ratings CSV under a live session: the next call shows
    the new averages from a rebuilt index. Building an index persists no
    frame."""
    recs, dim, read_ratings, tmp_path = inputs
    persisted = _persisted_rdds(spark)
    old = item_table(dim, read_ratings())
    before = enrich_and_rank(recs, dim, read_ratings(), "TV").collect()
    assert item_table(dim, read_ratings()) is old

    shifted = {**ITEMS, 12: ("TV", [10, 10])}  # from last rated TV item to first
    _write_csv(tmp_path / "ratings.csv", "user_id,anime_id,rating", _ratings_rows(shifted, 0.25))

    ratings = read_ratings()
    after = enrich_and_rank(recs, dim, ratings, "TV").collect()
    new = item_table(dim, ratings)
    assert new is not old and item_table(dim, ratings) is new
    assert _persisted_rdds(spark) == persisted
    assert after == reference_enrich_and_rank(recs, dim, ratings, "TV").collect()
    assert after != before and after[0]["ID"] == 12


def test_each_call_runs_its_own_join(spark, inputs):
    """Two calls with different recommendations each read their own recs (at
    least one job each, at call time) and give their own answers; collecting
    an answer runs no job, and no call adds a cache entry."""
    recs, dim, read_ratings, tmp_path = inputs
    ratings = read_ratings()
    other = read_csv_reference(
        spark,
        _write_csv(tmp_path / "recs_b.csv", "anime_id,predicted_rating", [(7, 1.0), (12, 0.5)]),
        RECS_SCHEMA,
    )
    enrich_and_rank(recs, dim, ratings, "TV").collect()  # builds the held index
    held = item_table(dim, ratings)
    entries = len(SESSION_CACHE)

    a, jobs_a = count_jobs(spark, "items-a", lambda: enrich_and_rank(recs, dim, ratings, "TV"))
    b, jobs_b = count_jobs(spark, "items-b", lambda: enrich_and_rank(other, dim, ratings, "TV"))
    assert jobs_a > 0 and jobs_b > 0
    rows_a, collect_a = count_jobs(spark, "items-collect-a", a.collect)
    rows_b, collect_b = count_jobs(spark, "items-collect-b", b.collect)
    assert collect_a == 0 and collect_b == 0
    assert [r["ID"] for r in rows_b] == [7, 12] and rows_a != rows_b
    assert item_table(dim, ratings) is held and len(SESSION_CACHE) == entries


def test_answer_schema_is_the_relational_programs(spark):
    """Every answer column is nullable, as in the program, where the catalog
    is the right side of a LEFT join, also over a catalog whose columns are
    not; column types follow the catalog's (a long ID stays long)."""
    strict = StructType(
        [StructField("ID", LongType(), False)]
        + [StructField(f.name, f.dataType, False) for f in DIM_SCHEMA[1:]]
    )
    dim = spark.createDataFrame([(1, "a", "A", "TV"), (2, "b", "B", "TV")], strict)
    ratings = spark.createDataFrame([(0, 1, 4.0), (0, 2, 5.0)], RATINGS_SCHEMA)
    recs = spark.createDataFrame([(1, 0.5), (2, 0.4)], RECS_SCHEMA)
    got = enrich_and_rank(recs, dim, ratings, "TV")
    want = reference_enrich_and_rank(recs, dim, ratings, "TV")
    assert got.schema == want.schema and got.schema["ID"].dataType == LongType()
    assert got.collect() == want.collect()


#: Catalog IDs of the differential fixtures; IDs from 900 up are missing.
N_IDS = 40
TYPES = ("TV", "Movie", "OVA")


def _seeded_inputs(spark, tmp, seed: int):
    """File-backed catalog and ratings, and the recommended IDs, drawn from
    ``seed`` with the edges planted: repeated catalog IDs (rows of their own
    names), a NULL catalog ID and a NULL Type, items with no ratings, with
    only NULL ratings and with a NaN rating, two ties of averages, and
    recommended IDs repeated, NULL and missing from the catalog."""
    rng = np.random.default_rng(seed)
    dim_rows = [
        (i, f"Anime {i}", f"EN {i}" if i % 4 else "Unknown", TYPES[rng.integers(3)])
        for i in range(N_IDS)
    ]
    for i in rng.choice(N_IDS, 6, replace=False).tolist():  # repeated catalog IDs
        dim_rows.append((i, f"Anime {i} bis", f"EN {i} bis", dim_rows[i][3]))
    dim_rows += [("Unknown", "Nameless", "Unknown", "TV"), (N_IDS, "Untyped", "Unknown", "Unknown")]
    rng.shuffle(dim_rows)

    ratings = []
    for i in range(N_IDS + 1):
        for user in range(int(rng.integers(0, 4))):  # 0: no ratings, NULL average
            ratings.append((user, i, int(rng.integers(1, 11))))
    ties = [int(i) for i in rng.choice(N_IDS, 4, replace=False)]
    ratings += [(9, ties[0], 7), (9, ties[1], 7), (9, ties[2], 3.5), (9, ties[3], 3.5)]
    ratings = [r for r in ratings if r[1] not in ties or r[0] == 9]
    nan_item, null_item = (
        int(i) for i in rng.choice([i for i in range(N_IDS) if i not in ties], 2, replace=False)
    )
    ratings = [r for r in ratings if r[1] != null_item]
    ratings += [(7, nan_item, "NaN"), (8, null_item, "Unknown"), (9, "Unknown", 5)]

    rec_ids = [int(i) for i in rng.integers(0, N_IDS, 24)]
    rec_ids += [rec_ids[0], rec_ids[1], rec_ids[1], 900, 901, None, None, nan_item, null_item]
    rec_ids += [*ties, N_IDS]  # N_IDS: the untyped item
    rng.shuffle(rec_ids)
    dim = read_csv_reference(
        spark, _write_csv(tmp / "anime.csv", "ID,Name,English name,Type", dim_rows), DIM_SCHEMA
    )
    ratings = read_csv_reference(
        spark, _write_csv(tmp / "ratings.csv", "user_id,anime_id,rating", ratings), RATINGS_SCHEMA
    )
    return dim, ratings, rec_ids


def _recs(spark, tmp, rec_ids, kind: str):
    """The recommended IDs as a local frame (``LocalRelation``) or read from
    a CSV file."""
    scores = [10 - k / 10 for k in range(len(rec_ids))]
    if kind == "local":
        return spark.createDataFrame(
            pa.table({"anime_id": pa.array(rec_ids, pa.int32()), "predicted_rating": scores}),
            schema=RECS_SCHEMA,
        )
    rows = [("Unknown" if i is None else i, s) for i, s in zip(rec_ids, scores)]
    return read_csv_reference(
        spark, _write_csv(tmp / "recs.csv", "anime_id,predicted_rating", rows), RECS_SCHEMA
    )


def _row(r) -> tuple:
    return tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)


@pytest.mark.parametrize("recs_kind", ["local", "file"])
@pytest.mark.parametrize("seed", [1, 2])
def test_matches_reference_on_seeded_inputs(spark, tmp_path, seed, recs_kind):
    """Against the relational program on seeded inputs (`_seeded_inputs`),
    for every type (Special has no item; None matches nothing) and top_n 0,
    1, 5 and beyond the hits: the same schema, the same (ID, avg_rating)
    sequence, and within each run of equal keys, whose order Spark leaves
    open, rows from the program's own multiset of that key."""
    dim, ratings, rec_ids = _seeded_inputs(spark, tmp_path, seed)
    recs = _recs(spark, tmp_path, rec_ids, recs_kind)
    leaf = recs._jdf.queryExecution().analyzed().collectLeaves().apply(0).nodeName()
    assert leaf == ("LocalRelation" if recs_kind == "local" else "LogicalRelation")
    seen_hits = set()
    for type_value in (*TYPES, "Special", None):
        ref = reference_enrich_and_rank(recs, dim, ratings, type_value, 10**6)
        want = [_row(r) for r in ref.collect()]
        groups = {k: Counter(g) for k, g in groupby(want, key=lambda r: (r[0], r[3]))}
        for top_n in (0, 1, 5, len(want) + 3):
            got_df = enrich_and_rank(recs, dim, ratings, type_value, top_n)
            assert got_df.schema == ref.schema
            got = [_row(r) for r in got_df.collect()]
            assert [(r[0], r[3]) for r in got] == [(r[0], r[3]) for r in want][:top_n]
            for key, g in groupby(got, key=lambda r: (r[0], r[3])):
                assert Counter(g) <= groups[key], (type_value, top_n, key)
        seen_hits.add(len(want))
        if type_value in ("Special", None):
            assert want == []
    assert max(seen_hits) > 6  # the beyond-the-hits case is not vacuous
