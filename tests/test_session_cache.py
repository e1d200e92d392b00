"""The one session cache (``catalog.SESSION_CACHE``) and the registry's
prepared plans: entries are memos keyed on the application and the
fingerprint of their input files, bounded LRU, and a prepared query still
plans and runs all of its own work on every call."""

from __future__ import annotations

from types import SimpleNamespace

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from recommendation_system_big_data_spark import oracle
from recommendation_system_big_data_spark.catalog import SESSION_CACHE, SessionCache, load
from recommendation_system_big_data_spark.functions import text as T
from recommendation_system_big_data_spark.functions.vectors import as_double_array
from recommendation_system_big_data_spark.operators import dedup as D
from recommendation_system_big_data_spark.operators import recommend as R
from recommendation_system_big_data_spark.operators import similarity as S
from recommendation_system_big_data_spark.registry import PURE, get_query, preparable, registry
from tests.conftest import assert_oracle_match

#: The analytics queries the benchmark cycles; the registry prepares all nine.
PREPARED_MIX = (
    "flagship_top_customers",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_volume_customers",
    "agg_summary_approx",
    "text_bm25_retrieval",
    "sim_topk_bruteforce",
    "text_tfidf",
)


def _counter():
    """Builds through a counter, so a test can tell a hit from a rebuild."""
    builds = {"n": 0}

    def build():
        builds["n"] += 1
        return builds["n"]

    return builds, build


def _run_counted(spark, group: str, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs, stages
    that were not SKIPPED). The status store evicts skipped stages first
    once it holds ``spark.ui.retainedStages``, so a stage it no longer
    has counts as skipped."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc, jvm = sc._jsc.sc(), sc._jvm
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    # AppStatusStore.stageData: py4j sees only the full five-argument form
    no_status, no_quantiles = jvm.java.util.Collections.emptyList(), sc._gateway.new_array(
        jvm.double, 0
    )
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    stages = 0
    for job_id in jobs:
        ids = store.job(job_id).stageIds()
        for i in range(ids.size()):
            attempts = store.stageData(ids.apply(i), False, no_status, False, no_quantiles)
            stages += sum(
                str(attempts.apply(j).status()) != "SKIPPED" for j in range(attempts.size())
            )
    return out, len(jobs), stages


def _rows(df) -> list:
    return sorted(map(repr, df.collect()))


def _assert_bm25_oracle(sdf, sf_dir: str) -> None:
    """``sdf`` has the BM25 oracle's rows over ``sf_dir``'s documents."""
    with oracle.connect(sf_dir) as con:
        assert_oracle_match(sdf, con, get_query("text_bm25_retrieval").oracle, "bm25")


def test_rewritten_inputs_invalidate_every_entry(spark, sf_dir, tmp_path):
    """Rewriting documents/embeddings in the same session rebuilds every
    entry built from them — the shingle index, the hot-shingle set, the
    IVF centroids, the PQ codebooks, the memoised load, the BM25 index and
    the prepared plans over them — and each returns the new data; the old
    persisted indexes are unpersisted."""
    d = str(tmp_path)
    for t in ("documents", "embeddings"):
        pq.write_table(pq.read_table(f"{sf_dir}/{t}.parquet"), f"{d}/{t}.parquet")
    tfidf = get_query("text_tfidf").fn
    bm25 = get_query("text_bm25_retrieval").fn

    hits = _rows(bm25(spark, d))
    bm25_idx = T.bm25_index(spark, d)
    assert bm25_idx.storageLevel.useMemory
    idx = D.shingle_index(spark, d)
    hot = D.hot_shingle_set(spark, d, 1)
    hot_rows = _rows(hot)
    cent = _rows(S.corpus_centroids(spark, d))
    books = S.corpus_pq_codebooks(spark, d)
    n_before = load(spark, d, "documents").count()
    words = _rows(tfidf(spark, d))
    assert idx is D.shingle_index(spark, d)
    app_id = spark.sparkContext.applicationId
    assert (app_id, "load", f"{d}/documents.parquet") in SESSION_CACHE

    # keep two documents in three and one vector in two
    for t, col, k in (("documents", "doc_id", 3), ("embeddings", "vec_id", 2)):
        tab = pq.read_table(f"{d}/{t}.parquet")
        keep = [i for i, v in enumerate(tab[col].to_pylist()) if v % k]
        pq.write_table(tab.take(keep), f"{d}/{t}.parquet")
    n_docs = pq.read_metadata(f"{d}/documents.parquet").num_rows
    fresh_docs = spark.read.parquet(f"{d}/documents.parquet")
    fresh_vecs = spark.read.parquet(f"{d}/embeddings.parquet").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )

    idx2 = D.shingle_index(spark, d)
    assert idx2 is not idx and idx2.count() == n_docs
    want_hot = _rows(D._hot_shingles(D._exploded_shingles(fresh_docs), 1))
    assert _rows(D.hot_shingle_set(spark, d, 1)) == want_hot != hot_rows
    new_cent = _rows(S.corpus_centroids(spark, d))
    assert new_cent == _rows(S.kmeans_centroids(fresh_vecs)) and new_cent != cent
    new_books = S.corpus_pq_codebooks(spark, d)
    assert new_books == S._pq_fit_codebooks(fresh_vecs) and new_books != books
    assert load(spark, d, "documents").count() == n_docs < n_before
    new_words = _rows(tfidf(spark, d))
    assert new_words == _rows(tfidf.__wrapped__(spark, d)) and new_words != words
    # storageLevel looks the plan up in Spark's cache manager: read it
    # before a new index over the same path is persisted
    assert bm25_idx.storageLevel.useMemory is False
    new_hits = bm25(spark, d)
    _assert_bm25_oracle(new_hits, d)
    assert _rows(new_hits) != hits
    assert T.bm25_index(spark, d) is not bm25_idx


def test_prepared_call_does_its_own_work(spark, sf_dir):
    """A second registry call of each prepared mix query runs as many jobs
    and non-skipped stages as executing a fresh build, and returns the raw
    builder's rows. Handing back the held frame would reuse the first
    call's shuffle output and run fewer."""
    defs = registry()
    for name in PREPARED_MIX:
        q = defs[name]
        assert PURE in q.tags, name
        raw = q.fn.__wrapped__
        q.fn(spark, sf_dir).collect()  # prepares the plan and warms the loads
        fresh = raw(spark, sf_dir)
        want, want_jobs, want_stages = _run_counted(spark, f"fresh-{name}", fresh.collect)
        got, jobs, stages = _run_counted(
            spark, f"prepared-{name}", lambda: q.fn(spark, sf_dir).collect()
        )
        assert (jobs, stages) == (want_jobs, want_stages), name
        assert jobs > 0, name
        assert sorted(map(repr, got)) == sorted(map(repr, want)), name


def test_bm25_is_prepared(spark, sf_dir):
    """text_bm25_retrieval reads only files and the held BM25 index, so it
    is tagged pure and its plan may be held. The registry still refuses a
    plan over a localCheckpoint RDD, such as pipeline_dedup_cascade's:
    re-executing it would skip the checkpointed stages."""
    assert PURE in get_query("text_bm25_retrieval").tags
    for name in PREPARED_MIX:
        assert preparable(get_query(name).fn.__wrapped__(spark, sf_dir)), name
    cascade = get_query("pipeline_dedup_cascade")
    assert PURE not in cascade.tags
    assert not preparable(cascade.fn(spark, sf_dir))


def test_prepared_call_repins_runtime_conf(spark, sf_dir):
    """A prepared call re-applies the runtime conf a caller flipped, even
    when its plan is already held."""
    q = get_query("q3_shipping_priority")
    want = _rows(q.fn(spark, sf_dir))
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        got = _rows(q.fn(spark, sf_dir))
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert got == want


def test_shingle_index_bounded_eviction(spark, sf_dir):
    """The cache stays under its one bound, and an evicted persisted frame
    (the shingle index) is unpersisted rather than accumulating."""
    SESSION_CACHE.clear()
    a = D.shingle_index(spark, sf_dir)
    assert a is D.shingle_index(spark, sf_dir)  # cache hit
    assert a.storageLevel.useMemory
    for i in range(SessionCache.MAX_ENTRIES):
        SESSION_CACHE.get(spark, ("filler", i), lambda: i)
    assert len(SESSION_CACHE) <= SessionCache.MAX_ENTRIES
    assert a.storageLevel.useMemory is False
    SESSION_CACHE.clear()


def test_bm25_index_eviction_takes_its_plan(spark, sf_dir):
    """Filler entries that evict the BM25 index unpersist it and drop the
    prepared plan built on it, so no held plan recomputes the index on
    every call; the next prepared call rebuilds both and still returns the
    oracle's rows."""
    SESSION_CACHE.clear()
    a = T.bm25_index(spark, sf_dir)
    bm25 = get_query("text_bm25_retrieval").fn
    bm25(spark, sf_dir).collect()
    assert a.storageLevel.useMemory and a.rdd.getNumPartitions() == 1
    app_id = spark.sparkContext.applicationId
    index_key = (app_id, "bm25_index", sf_dir)
    plan_key = (app_id, "query", "text_bm25_retrieval", sf_dir)
    # the plan is used more recently than the index: plain LRU order
    # would evict the index first and keep the plan
    for i in range(SessionCache.MAX_ENTRIES):
        if index_key not in SESSION_CACHE:
            break
        SESSION_CACHE.get(spark, ("filler", i), lambda: i)
    assert index_key not in SESSION_CACHE and plan_key not in SESSION_CACHE
    assert a.storageLevel.useMemory is False
    _assert_bm25_oracle(bm25(spark, sf_dir), sf_dir)
    assert plan_key in SESSION_CACHE
    b = T.bm25_index(spark, sf_dir)
    assert b is not a and b.storageLevel.useMemory
    SESSION_CACHE.clear()


def test_session_model_cache_matches_fresh_fit(spark, sf_dir):
    """The cached ANN models are a pure memo: a cached corpus_centroids /
    corpus_pq_codebooks hit is bit-identical to a fresh fit of the same
    corpus, and repeated calls hit the cache (same driver-side object)."""
    cached = sorted(map(str, S.corpus_centroids(spark, sf_dir).collect()))
    fresh = sorted(map(str, S.kmeans_centroids(S.corpus_vectors(spark, sf_dir)).collect()))
    assert cached == fresh and len(cached) > 1

    cb_cached = S.corpus_pq_codebooks(spark, sf_dir)
    assert cb_cached == S._pq_fit_codebooks(S.corpus_vectors(spark, sf_dir))
    assert S.corpus_pq_codebooks(spark, sf_dir) is cb_cached
    app_id = spark.sparkContext.applicationId
    assert (app_id, "ivf_centroids", sf_dir) in SESSION_CACHE


def test_session_model_cache_eviction_bounded(spark, sf_dir):
    """Past the bound the oldest entry is evicted and rebuilt on its next
    lookup; entries of a stopped session are dropped."""
    builds, build = _counter()
    SESSION_CACHE.clear()
    for i in range(SessionCache.MAX_ENTRIES + 2):
        SESSION_CACHE.get(spark, (f"dir{i}", "kind"), build)
    assert len(SESSION_CACHE) <= SessionCache.MAX_ENTRIES
    assert builds["n"] == SessionCache.MAX_ENTRIES + 2
    before = builds["n"]
    SESSION_CACHE.get(spark, ("dir0", "kind"), build)
    assert builds["n"] == before + 1

    stopped = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="stopped-app"))
    SESSION_CACHE.get(stopped, ("dir0", "kind"), build)
    assert ("stopped-app", "dir0", "kind") in SESSION_CACHE
    SESSION_CACHE.get(spark, ("dir0", "kind"), build)
    assert ("stopped-app", "dir0", "kind") not in SESSION_CACHE
    SESSION_CACHE.clear()


def test_session_model_cache_true_lru(spark, sf_dir):
    """A hit refreshes recency (true LRU): interleaving two corpora's three
    model kinds never evicts-and-refits a hot entry, and a build that
    itself inserts (the two-level IVF builds the coarse model inside the
    fine one's build) keeps the cache within its bound."""
    builds, build = _counter()
    SESSION_CACHE.clear()
    kinds = ("ivf_centroids", "coarse_centroids", "pq_codebooks")
    for _ in range(3):
        for d in ("dirA", "dirB"):
            for k in kinds:
                SESSION_CACHE.get(spark, (k, d), build)
    assert builds["n"] == 6, "interleaved hot set must fit with zero refits"

    def nested_build():
        SESSION_CACHE.get(spark, ("coarse", "dirC"), build)
        builds["n"] += 1
        return builds["n"]

    SESSION_CACHE.get(spark, ("fine", "dirC"), nested_build)
    assert len(SESSION_CACHE) <= SessionCache.MAX_ENTRIES
    SESSION_CACHE.get(spark, ("ivf_centroids", "dirA"), build)  # hit
    n_before = builds["n"]
    i = 0
    while len(SESSION_CACHE) < SessionCache.MAX_ENTRIES:
        SESSION_CACHE.get(spark, ("k", f"fill{i}"), build)
        i += 1
    SESSION_CACHE.get(spark, ("k", "overflow"), build)  # forces one eviction
    app_id = spark.sparkContext.applicationId
    assert (app_id, "ivf_centroids", "dirA") in SESSION_CACHE
    SESSION_CACHE.get(spark, ("ivf_centroids", "dirA"), build)
    assert builds["n"] == n_before + (i + 1), "refreshed entry was refit"
    SESSION_CACHE.clear()


def test_file_uris_fingerprint_as_local_paths(spark, tmp_path):
    """A ``file:`` URI (how Spark reports its input files) is fingerprinted
    as the local path: held, and rebuilt once the file changes. An input
    under any other scheme is never held."""
    path = tmp_path / "input.csv"
    path.write_text("a\n1\n")
    uris = (path.as_uri(), f"file:{path}", f"file://localhost{path}")
    builds, build = _counter()
    for uri in uris:
        SESSION_CACHE.get(spark, ("uri", uri), build, (uri,))
        SESSION_CACHE.get(spark, ("uri", uri), build, (uri,))
    assert builds["n"] == len(uris)
    path.write_text("a\n1\n2\n")
    for uri in uris:
        SESSION_CACHE.get(spark, ("uri", uri), build, (uri,))
    assert builds["n"] == 2 * len(uris)

    app_id = spark.sparkContext.applicationId
    for uri in (f"hdfs://namenode:8020{path}", f"s3a://bucket{path}", f"file://otherhost{path}"):
        before = builds["n"]
        SESSION_CACHE.get(spark, ("uri", uri), build, (uri,))
        SESSION_CACHE.get(spark, ("uri", uri), build, (uri,))
        assert builds["n"] == before + 2
        assert (app_id, "uri", uri) not in SESSION_CACHE


#: Every registry query that fits the reference ALS model.
ALS_QUERIES = (
    "als_recommend_topk",
    "als_recommend_user_subset",
    "als_predict",
    "als_rmse",
    "als_enriched_recs",
    "als_item_similarity",
    "als_eval_coverage_novelty",
)


def test_als_fits_once_per_ratings_plan(spark, sf_dir, monkeypatch):
    """The ALS queries share two fits on one input set — the full ratings
    and the seeded 80 % split — and a held model gives the same rows as a
    fresh fit."""
    fits = []
    fit = R._fit_als
    monkeypatch.setattr(R, "_fit_als", lambda ratings: fits.append(ratings) or fit(ratings))
    SESSION_CACHE.clear()
    defs = registry()
    for name in ALS_QUERIES:
        assert defs[name].fn(spark, sf_dir).collect(), name
    assert len(fits) == 2

    ratings = R.ratings_from_events(spark, sf_dir)
    held = R.train_als(ratings)
    assert len(fits) == 2
    fresh = fit(ratings)
    assert _rows(held.recommendForAllUsers(R.TOP_K)) == _rows(fresh.recommendForAllUsers(R.TOP_K))
    assert _rows(held.itemFactors) == _rows(fresh.itemFactors)
