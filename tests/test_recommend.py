"""ALS pipeline gates (SURVEY.md §5.2 item 2): the RMSE tolerance check
mirroring the reference's printed metric (model-als.py:127-129), plus shape
invariants of the flattened recommendation output."""

from __future__ import annotations

from recommendation_system_big_data_spark.operators.recommend import (
    TOP_K,
    als_recommend_topk,
    als_recommend_user_subset,
    als_rmse,
    ratings_from_events,
)


def test_rmse_within_tolerance(spark, sf_dir):
    row = als_rmse(spark, sf_dir).collect()[0]
    assert row["metric"] == "rmse"
    # ratings are value/40 ∈ [0, ~5]; a sane factorization lands well under
    # the ratings' own stddev. Generous bound — this is a sanity gate, not
    # a model-quality benchmark. The same band is now enforced IN-QUERY
    # (recommend.RMSE_BAND, VERDICT r11 #7) so the driver's rows-only
    # check errors on a broken factorization too.
    from recommendation_system_big_data_spark.operators.recommend import (
        RMSE_BAND,
    )

    lo, hi = RMSE_BAND
    assert lo < row["value"] < hi, row


def test_recommend_user_subset_shape(spark, sf_dir):
    """model-als.py:131-139 parity: exactly one user, 30 flat rows with
    contiguous rank positions, and the user is the requested (minimum) id."""
    rows = als_recommend_user_subset(spark, sf_dir).collect()
    assert len(rows) == 30, len(rows)
    users = {r["user_id"] for r in rows}
    min_user = (
        ratings_from_events(spark, sf_dir).agg({"user_id": "min"}).collect()[0][0]
    )
    assert users == {min_user}
    assert sorted(r["rank_pos"] for r in rows) == list(range(1, 31))


def test_recommend_topk_shape(spark, sf_dir):
    recs = als_recommend_topk(spark, sf_dir)
    n_users = ratings_from_events(spark, sf_dir).select("user_id").distinct().count()
    rows = recs.collect()
    assert len(rows) == n_users * TOP_K
    per_user = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r["rank_pos"])
    for user, ranks in per_user.items():
        assert sorted(ranks) == list(range(1, TOP_K + 1)), (user, ranks)


def test_als_param_grid_deterministic_and_flags_best(spark, sf_dir):
    """Seeded fits → identical grid on rerun; exactly one is_best row and
    it carries the minimum validation RMSE."""
    from recommendation_system_big_data_spark.operators.recommend import (
        als_param_grid,
    )

    rows = sorted(als_param_grid(spark, sf_dir).collect())
    assert len(rows) == 4
    best = [r for r in rows if r["is_best"] == 1]
    assert len(best) == 1
    assert best[0]["val_rmse"] == min(r["val_rmse"] for r in rows)
    rows2 = sorted(als_param_grid(spark, sf_dir).collect())
    assert rows == rows2


def test_als_item_similarity_invariants(spark, sf_dir):
    """Factor cosine item-kNN: no self-neighbours, exactly 5 ranked
    neighbours per item, cosines in [-1, 1] and non-increasing by rank."""
    from recommendation_system_big_data_spark.operators.recommend import (
        als_item_similarity,
    )

    rows = als_item_similarity(spark, sf_dir).collect()
    assert rows
    by_item = {}
    for r in rows:
        assert r["item_id"] != r["similar_item_id"]
        assert -1.0 - 1e-9 <= r["cosine"] <= 1.0 + 1e-9
        by_item.setdefault(r["item_id"], []).append((r["rank_pos"], r["cosine"]))
    for item, ranked in by_item.items():
        ranked.sort()
        assert [p for p, _ in ranked] == list(range(1, len(ranked) + 1))
        assert len(ranked) == 5, (item, ranked)
        cosines = [c for _, c in ranked]
        assert cosines == sorted(cosines, reverse=True), (item, cosines)


def test_flattened_lists_follow_the_models_ranking(spark, sf_dir):
    """The flattened outputs carry the model's own lists: als_recommend_topk's
    item at rank_pos p is the p-th entry of the user's recommendForAllUsers
    list, als_recommend_user_subset's rows are recommendForUserSubset's list
    in order, and every als_enriched_recs item is in its user's top-TOP_K."""
    from recommendation_system_big_data_spark.operators.recommend import (
        als_enriched_recs,
        train_als,
    )

    model = train_als(ratings_from_events(spark, sf_dir))
    top = {
        r["user_id"]: [rec["item_id"] for rec in r["recommendations"]]
        for r in model.recommendForAllUsers(TOP_K).collect()
    }
    by_user: dict[int, dict[int, int]] = {}
    for r in als_recommend_topk(spark, sf_dir).collect():
        by_user.setdefault(r["user_id"], {})[r["rank_pos"]] = r["item_id"]
    assert {
        user: [ranks.get(p) for p in range(1, TOP_K + 1)] for user, ranks in by_user.items()
    } == top

    user = min(top)
    subset = model.recommendForUserSubset(
        spark.createDataFrame([(user,)], "user_id int"), 30
    ).collect()[0]["recommendations"]
    rows = sorted(als_recommend_user_subset(spark, sf_dir).collect(), key=lambda r: r["rank_pos"])
    assert [(r["user_id"], r["item_id"], r["rank_pos"]) for r in rows] == [
        (user, rec["item_id"], p) for p, rec in enumerate(subset, start=1)
    ]

    enriched = als_enriched_recs(spark, sf_dir).collect()
    assert enriched
    for r in enriched:
        assert r["item_id"] in top[r["user_id"]], r
