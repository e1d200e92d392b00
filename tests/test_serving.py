"""The serve path's ``recommendForUserSubset`` (`serving.ServingALSModel`):
it scores on the driver from held factors and must give what MLlib's own
subset plan (the base class) gives, edges included, in one Spark job."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.ml.recommendation import ALSModel
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

from recommendation_system_big_data_spark.operators import recommend as R
from recommendation_system_big_data_spark.operators import serving
from recommendation_system_big_data_spark.sources.csv import read_csv_reference
from tests.conftest import count_jobs

RATINGS_SCHEMA = StructType([
    StructField("user_id", IntegerType()),
    StructField("anime_id", IntegerType()),
    StructField("rating", DoubleType()),
])
DIM_SCHEMA = StructType([
    StructField("ID", IntegerType()),
    StructField("Name", StringType()),
    StructField("English name", StringType()),
    StructField("Type", StringType()),
])
N_USERS, N_ITEMS, PER_USER, K = 120, 60, 12, 30


def _write_csv(path, header: str, rows) -> str:
    path.write_text(header + "\n" + "".join(",".join(map(str, r)) + "\n" for r in rows))
    return str(path)


def _fixture(spark, tmp, seed: int):
    """File-backed ratings (integer 1-10 around a rank-3 signal) and
    catalog; the model `train_als` fits on them."""
    rng = np.random.default_rng(seed)
    u, v = rng.normal(size=(N_USERS, 3)), rng.normal(size=(N_ITEMS, 3))
    rows = []
    for user in range(N_USERS):
        for item in rng.choice(N_ITEMS, PER_USER, replace=False):
            rows.append((user, item, int(np.clip(np.rint(5.5 + 1.5 * u[user] @ v[item]), 1, 10))))
    types = ("TV", "Movie", "OVA")
    ratings = read_csv_reference(
        spark, _write_csv(tmp / "ratings.csv", "user_id,anime_id,rating", rows), RATINGS_SCHEMA
    )
    dim = read_csv_reference(
        spark,
        _write_csv(
            tmp / "anime.csv",
            "ID,Name,English name,Type",
            [(i, f"Anime {i}", f"Anime {i} EN", types[i % 3]) for i in range(N_ITEMS)],
        ),
        DIM_SCHEMA,
    )
    model = R.train_als(ratings.withColumnRenamed("anime_id", "item_id"))
    return model, ratings, dim


@pytest.fixture(scope="module")
def seeded(spark, tmp_path_factory):
    """Three seeded fixtures, one model each."""
    return [_fixture(spark, tmp_path_factory.mktemp(f"serve{s}"), s) for s in (1, 2, 3)]


def _subset(spark, rows, dtype: str = "int"):
    return spark.createDataFrame([(r,) for r in rows], f"user_id {dtype}")


def _answer(df) -> dict[int, list[tuple[int, float]]]:
    return {
        r["user_id"]: [(x["item_id"], x["rating"]) for x in r["recommendations"]]
        for r in df.collect()
    }


def _mllib(model, dataset, k):
    """MLlib's own subset plan on the same fitted model."""
    return ALSModel.recommendForUserSubset(model, dataset, k)


def test_served_equals_mllib_for_every_user(spark, seeded):
    """Every user of every fixture: the same users, the same item sets, bit-
    identical float32 scores, and MLlib's order wherever scores differ
    (ours breaks ties on the item id)."""
    for model, _, _ in seeded:
        assert isinstance(model, serving.ServingALSModel)
        users = model.userFactors.select(F.col("id").alias("user_id"))
        got = _answer(model.recommendForUserSubset(users, K))
        want = _answer(_mllib(model, users, K))
        assert len(got) == N_USERS and got.keys() == want.keys()
        for user, recs in got.items():
            assert len(recs) == K
            assert recs == sorted(recs, key=lambda p: (-p[1], p[0]))
            assert recs == sorted(want[user], key=lambda p: (-p[1], p[0])), user


def test_cold_null_and_duplicate_ids(spark, seeded):
    """Ids the model does not know (cold start) get no row, NULL ids are
    dropped, a repeated id gives one row: as MLlib's semi-join does, also
    for a long id column holding ids beyond int range."""
    model = seeded[0][0]
    for dtype, ids in (
        ("int", [7, None, 7, 999, -1, 3, None, 3, 3]),
        ("long", [7, 2**40, None, 7, 3]),
    ):
        subset = _subset(spark, ids, dtype)
        got = _answer(model.recommendForUserSubset(subset, K))
        assert list(got) == [3, 7]
        assert got == _answer(_mllib(model, subset, K))
    assert _answer(model.recommendForUserSubset(_subset(spark, [999, None]), K)) == {}


def test_empty_subset_keeps_mllib_schema(spark, seeded):
    model = seeded[0][0]
    empty = _subset(spark, [])
    got, want = model.recommendForUserSubset(empty, K), _mllib(model, empty, K)
    assert got.schema == want.schema
    assert got.collect() == [] == want.collect()
    assert model.recommendForUserSubset(_subset(spark, [1]), K).schema == want.schema


def test_k_beyond_catalog_returns_every_item(spark, seeded):
    model = seeded[1][0]
    subset = _subset(spark, [0, 5])
    got = _answer(model.recommendForUserSubset(subset, N_ITEMS + 10))
    want = _answer(_mllib(model, subset, N_ITEMS + 10))
    for user, recs in got.items():
        assert sorted(i for i, _ in recs) == list(range(N_ITEMS))
        assert recs == sorted(want[user], key=lambda p: (-p[1], p[0]))


def test_k_below_one_is_refused(spark, seeded):
    """MLlib's plan fails analysis for numItems < 1; the served path raises
    before reading the ids."""
    model = seeded[1][0]
    subset = _subset(spark, [0])
    for k in (0, -1):
        with pytest.raises(ValueError, match="numItems"):
            model.recommendForUserSubset(subset, k)
        with pytest.raises(Exception):
            _mllib(model, subset, k).collect()


def test_top_k_ties_break_on_item_id():
    """Planted equal scores: score descending, then item id ascending,
    whatever the column order."""
    item_ids = np.array([40, 10, 30, 20, 50], np.int32)
    scores = np.array([
        [1.0, 2.0, 2.0, 2.0, 0.5],
        [3.0, 3.0, 3.0, 3.0, 3.0],
        [0.0, -1.0, 0.0, 5.0, -1.0],
    ], np.float32)
    ranked = item_ids[serving.top_k(scores, item_ids, 4)]
    assert ranked.tolist() == [[10, 20, 30, 40], [10, 20, 30, 40], [20, 30, 40, 10]]
    assert item_ids[serving.top_k(scores, item_ids, 9)].shape == (3, 5)


def test_serve_job_budget(spark, seeded, tmp_path):
    """On a file-backed one-user frame: the subset call runs one job (the id
    read), collecting its answer none; the whole request (subset, flatten,
    the reference enrichment) runs exactly two, the enrichment's read of the
    list being the second, and collecting the request's answer none."""
    model, ratings, dim = seeded[2]
    one = read_csv_reference(
        spark, _write_csv(tmp_path / "one.csv", "user_id", [(4,)]), StructType([RATINGS_SCHEMA[0]])
    )

    def request():
        recs = model.recommendForUserSubset(one, K).select(
            "user_id", F.posexplode("recommendations").alias("pos", "rec")
        ).select(F.col("rec.item_id").alias("anime_id"), (F.col("pos") + 1).alias("rank_pos"))
        return R.enrich_and_rank(recs, dim, ratings, "TV")

    warm = request().collect()  # pulls the factors and builds the held item index
    answer, subset_jobs = count_jobs(
        spark, "serve-subset", lambda: model.recommendForUserSubset(one, K)
    )
    assert subset_jobs == 1
    rows, collect_jobs = count_jobs(spark, "serve-collect", answer.collect)
    assert collect_jobs == 0 and [r["user_id"] for r in rows] == [4]
    served, request_jobs = count_jobs(spark, "serve-request", request)
    again, answer_jobs = count_jobs(spark, "serve-answer", served.collect)
    assert request_jobs == 2 and answer_jobs == 0 and again == warm and warm
