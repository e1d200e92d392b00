"""Round-11 session additions: differential references and planted
corpora for the new operators."""

from __future__ import annotations


def _py_shingles(text: str) -> set[str]:
    """Sequential replica of dedup.token_shingles: split on single
    spaces (keeping empties), 3-gram windows over positions
    0..max(n-3, 0), concat_ws skipping out-of-range (None) accesses."""
    toks = text.split(" ")
    n = len(toks)
    out = set()
    for i in range(0, max(n - 3, 0) + 1):
        parts = [toks[j] for j in range(i, min(i + 3, n))]
        out.add(" ".join(parts))
    return out


def test_prefix_filter_join_equals_unfiltered_all_pairs(spark, sf_dir):
    """The prefix filter must lose NOTHING: brute-force all same-lang
    pairs in Python (true Jaccard, no df-cap, no filter of any kind)
    and require exact pair-set and micro-value agreement."""
    from recommendation_system_big_data_spark.catalog import load
    from recommendation_system_big_data_spark.operators.dedup import (
        PREFIX_TAU_MICROS,
        dedup_prefix_filter_join,
    )

    rows = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).collect()
    docs = [(r["doc_id"], r["lang"], _py_shingles(r["text"])) for r in rows]
    want = {}
    for i in range(len(docs)):
        for j in range(len(docs)):
            da, la, sa = docs[i]
            db, lb, sb = docs[j]
            if da >= db or la != lb:
                continue
            inter = len(sa & sb)
            uni = len(sa | sb)
            if 1000000 * inter >= PREFIX_TAU_MICROS * uni:
                want[(da, db)] = (1000000 * inter) // uni

    got = {
        (r["doc_a"], r["doc_b"]): r["jacc_micros"]
        for r in dedup_prefix_filter_join(spark, sf_dir).collect()
    }
    assert got == want, (
        set(got) - set(want), set(want) - set(got),
        {k: (got.get(k), want.get(k)) for k in got if got.get(k) != want.get(k)},
    )


def test_prefix_filter_join_planted_near_dups(spark, tmp_path):
    """Planted corpus: an exact duplicate pair (J=1), a near-dup pair
    above the τ=0.5 line, and an unrelated doc that must not pair."""
    from recommendation_system_big_data_spark.operators.dedup import (
        dedup_prefix_filter_join,
    )

    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(35)) + " x1 x2 x3 x4 x5"
    other = " ".join(f"z{i}" for i in range(40))
    docs = [
        (1, base, "en", "s", 0),
        (2, base, "en", "s", 0),
        (3, near, "en", "s", 0),
        (4, other, "en", "s", 0),
        (5, base, "fr", "s", 0),  # same text, other lang: blocked
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        (r["doc_a"], r["doc_b"]): r["jacc_micros"]
        for r in dedup_prefix_filter_join(spark, str(tmp_path)).collect()
    }
    assert got[(1, 2)] == 1_000_000
    assert (1, 3) in got and 500_000 <= got[(1, 3)] < 1_000_000
    assert (2, 3) in got
    assert not any(4 in k or 5 in k for k in got)


def test_stl_decomposition_identity_and_centering(spark, sf_dir):
    """Invariants the oracle cannot see (both engines could share a bug):
    (1) exact additive identity trend + seasonal + remainder = 1000*value
    on every row; (2) the seven seasonal components sum to ~0 after
    centering (within 7 milli-cents of truncation slack); (3) trend is a
    genuine 7-term centered mean — replayed sequentially in Python."""
    from recommendation_system_big_data_spark.catalog import load
    from recommendation_system_big_data_spark.operators.timeseries import (
        ts_stl_classical_decompose,
    )
    from pyspark.sql import functions as F

    rows = ts_stl_classical_decompose(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (
            r["trend_milli"] + r["seasonal_milli"] + r["remainder_milli"]
            == 1000 * r["rev_cents"]
        )
    seasonals = {}
    for r in rows:
        seasonals[r["seasonal_milli"]] = None
    assert len(seasonals) <= 7
    assert abs(sum(seasonals)) <= 7 * 1000  # centered to < 1 cent/dow

    daily = sorted(
        (r["day"], r["rev_cents"])
        for r in load(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("rev_cents")
        )
        .collect()
    )
    got = {r["day"]: r["trend_milli"] for r in rows}
    assert len(got) == len(daily) - 6
    for i in range(3, len(daily) - 3):
        day = daily[i][0]
        s7 = sum(v for _, v in daily[i - 3 : i + 4])
        assert got[day] == (s7 * 1000) // 7, day


def test_hist_fingerprint_planted_discrimination(spark, tmp_path):
    """Planted payloads: a byte-permuted pair (identical histograms)
    must share a fingerprint; a same-length doc over a disjoint
    alphabet must not; and the groups partition the corpus."""
    from recommendation_system_big_data_spark.operators.multimodal import (
        multimodal_dedup_hist_fingerprint,
    )

    base = "abcabcabcabc" * 10
    perm = "cbacbacbacba" * 10  # same multiset of bytes, permuted
    other = "xyzxyzxyzxyz" * 10  # same length/shape, disjoint alphabet
    docs = [
        (1, base, "en", "s", 0),
        (2, perm, "en", "s", 0),
        (3, other, "en", "s", 0),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    rows = multimodal_dedup_hist_fingerprint(spark, str(tmp_path)).collect()
    assert sum(r["n_docs"] for r in rows) == 3
    groups = sorted((r["n_docs"], r["keeper_doc_id"]) for r in rows)
    assert groups == [(1, 3), (2, 1)], groups


def test_cohen_kappa_sequential_reference(spark, sf_dir):
    """Big-int replay of the exact kappa rational on the same prediction
    stream, plus the po >= pe sanity the fixture's better-than-chance
    heuristic must show."""
    from recommendation_system_big_data_spark.functions.text import text_lang_id
    from recommendation_system_big_data_spark.operators.ml_eval import (
        ml_eval_cohen_kappa,
    )

    pairs = [
        (r["predicted_lang"], r["labeled_lang"])
        for r in text_lang_id(spark, sf_dir).collect()
    ]
    n = len(pairs)
    diag = sum(1 for p, y in pairs if p == y)
    rp, cl = {}, {}
    for p, y in pairs:
        rp[p] = rp.get(p, 0) + 1
        cl[y] = cl.get(y, 0) + 1
    e = sum(rp[k] * cl.get(k, 0) for k in rp)
    num, den = n * diag - e, n * n - e
    if den == 0:
        kappa = None
    elif num < 0:
        kappa = -(((-num) * 2000000 + den) // (2 * den))
    else:
        kappa = ((num * 2000000 + den) // (2 * den))

    r = ml_eval_cohen_kappa(spark, sf_dir).collect()[0]
    assert r["n_total"] == n and r["n_agree"] == diag
    assert r["po_micros"] == (diag * 1000000) // n
    assert r["pe_micros"] == (e * 1000000) // (n * n)
    assert r["kappa_micros"] == kappa


def test_ngram_novelty_planted(spark, tmp_path):
    """Planted corpus: a fully-unique doc scores 1e6, an exact duplicate
    pair scores 0, and a half-shared doc lands exactly between."""
    from recommendation_system_big_data_spark.operators.dedup import (
        text_ngram_novelty,
    )

    uniq = " ".join(f"u{i}" for i in range(20))
    dup = " ".join(f"d{i}" for i in range(20))
    # doc 4 shares its first half's shingles with nobody... build a doc
    # that borrows doc 1's text plus unique tail so SOME shingles shared
    half = uniq + " " + " ".join(f"h{i}" for i in range(20))
    docs = [
        (1, uniq, "en", "s", 0),
        (2, dup, "en", "s", 0),
        (3, dup, "en", "s", 0),
        (4, half, "en", "s", 0),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["doc_id"]: (r["n_sh"], r["n_unique"], r["novelty_micros"])
        for r in text_ngram_novelty(spark, str(tmp_path)).collect()
    }
    assert got[2] == (18, 0, 0) and got[3] == (18, 0, 0)
    # doc 1's shingles all appear in doc 4 too -> novelty 0 for doc 1;
    # doc 4 keeps its tail + boundary shingles unique.
    assert got[1] == (18, 0, 0)
    n_sh4, n_unique4, nov4 = got[4]
    assert n_sh4 == 38 and n_unique4 == 20
    assert nov4 == (20 * 1000000) // 38


def test_anova_exact_in_the_wrap_domain(spark, tmp_path):
    """ADVICE r10 (medium): the old ANOVA computed S_g² div n_g with a
    LONG quotient that silently wraps past 2^63. With values near 1e5
    (vq ≈ 1e9) the quotient n_g·1e18 crosses long range at n_g ≥ 10 —
    so a tiny planted frame exercises the exact domain the fixture
    never reaches. Require cross-engine agreement with DuckDB's HUGEINT
    oracle AND a big-int sequential replay (which would both have
    exposed the wrap)."""
    import math

    from recommendation_system_big_data_spark.oracle import connect
    from recommendation_system_big_data_spark.operators.stats_tests import (
        ANOVA_QUANT,
        stat_anova_oneway,
    )
    from recommendation_system_big_data_spark.registry import registry

    rows = []
    for i in range(60):
        rows.append((i, 1, "click", 99999.99 - (i % 7) * 0.03, None))
    for i in range(60, 130):
        rows.append((i, 2, "purchase", 99998.50 + (i % 5) * 0.02, None))
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, ts timestamp"
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    got = stat_anova_oneway(spark, str(tmp_path)).collect()[0]

    # wrap-domain sanity: the per-group S²/n quotients really exceed 2^63
    groups: dict[str, list[int]] = {}
    for _, _, g, v, _ in rows:
        groups.setdefault(g, []).append(math.floor(v * ANOVA_QUANT))
    assert all(
        (sum(v) ** 2) // len(v) > 2**63 for v in groups.values()
    ), "planted frame no longer reaches the wrap domain"

    con = connect(tmp_path)
    oracle = con.execute(registry()["stat_anova_oneway"].oracle).fetchall()[0]
    assert tuple(got) == tuple(oracle), (tuple(got), tuple(oracle))

    # big-int replay of the quantized pipeline
    k = len(groups)
    n = sum(len(v) for v in groups.values())
    s = sum(sum(v) for v in groups.values())
    q = sum(x * x for v in groups.values() for x in v)
    ssq = sum((sum(v) ** 2) // len(v) for v in groups.values())
    ssb = ssq - (s * s) // n
    ssw = q - ssq
    vw = ssw // (n - k)
    assert got["var_within_q"] == vw
    assert got["var_between_q"] == (ssb // n if ssb >= 0 else -((-ssb) // n))


def test_als_coverage_novelty_bounds(spark, sf_dir):
    """Rows-only gate for the beyond-accuracy ALS eval: coverage equals
    the direct distinct count over the rec table, both metrics sit in
    their valid ranges, and novelty is consistent with the popularity
    distribution's entropy bounds."""
    import math

    from recommendation_system_big_data_spark.operators.recommend import (
        als_eval_coverage_novelty,
        als_recommend_topk,
        ratings_from_events,
    )

    r = als_eval_coverage_novelty(spark, sf_dir).collect()[0]
    recs = als_recommend_topk(spark, sf_dir)
    n_distinct = recs.select("item_id").distinct().count()
    assert r["n_distinct_items"] == n_distinct
    assert 0 < r["catalog_coverage"] <= 1.0
    assert r["n_recs"] == r["n_users"] * 10
    # novelty is -log2 of a probability: bounded by the rarest and most
    # popular items' self-information
    pops = (
        ratings_from_events(spark, sf_dir)
        .groupBy("item_id")
        .count()
        .collect()
    )
    tot = sum(p["count"] for p in pops)
    si = [-math.log2(p["count"] / tot) for p in pops]
    assert min(si) - 1e-9 <= r["mean_novelty_bits"] <= max(si) + 1e-9
