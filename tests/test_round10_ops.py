"""Round-10 session additions: differential references, planted corpora,
and bound gates for the operators the oracles can't fully pin (CMS bounds)
or where a sequential Python replay catches shared-bug classes the
cross-engine oracle structurally cannot (both engines computing the same
wrong thing)."""

from __future__ import annotations


def test_anova_matches_sequential_reference(spark, sf_dir):
    """Replay one-way ANOVA sequentially in Python with the SAME integer
    quantization and truncating divisions, and require cell-exact
    agreement — the differential-kernel pattern from
    test_property_stats.py."""
    import math

    from recommendation_system_big_data_spark.catalog import load
    from recommendation_system_big_data_spark.operators.stats_tests import (
        ANOVA_QUANT,
        stat_anova_oneway,
    )

    rows = load(spark, sf_dir, "events").select("event_type", "value").collect()
    groups: dict[str, list[int]] = {}
    for r in rows:
        groups.setdefault(r["event_type"], []).append(
            math.floor(r["value"] * ANOVA_QUANT)
        )
    k = len(groups)
    n = sum(len(v) for v in groups.values())
    s = sum(sum(v) for v in groups.values())
    q = sum(x * x for v in groups.values() for x in v)
    ssq = sum(_trunc_div(sum(v) * sum(v), len(v)) for v in groups.values())
    ssb = ssq - _trunc_div(s * s, n)
    ssw = q - ssq
    sst = q - _trunc_div(s * s, n)
    vw = _trunc_div(ssw, n - k)
    # F from the integer MSW, saturated (the r11 overflow-proof form):
    # f_milli = sign(ssb)·min(round_half_away(1000·|ssb|/((k−1)·vw)), cap)
    sign = -1 if ssb < 0 else 1
    f_milli = (
        None
        if vw == 0
        else sign * min((abs(ssb) * 2000 + vw * (k - 1)) // (2 * vw * (k - 1)),
                        10**15)
    )
    eta = (
        None
        if sst == 0
        else sign * ((abs(ssb) * 2000000 + sst) // (2 * sst))
    )

    row = stat_anova_oneway(spark, sf_dir).collect()[0]
    assert row["k_groups"] == k and row["n_total"] == n
    assert row["var_between_q"] == _trunc_div(ssb, n)
    assert row["var_within_q"] == vw
    assert row["f_milli"] == f_milli
    assert row["eta_sq_micros"] == eta
    # the fixture's five event types have near-identical value
    # distributions, so F should exist and be small-ish but positive
    assert row["f_milli"] >= 0


def _trunc_div(a: int, b: int) -> int:
    qq = abs(a) // abs(b)
    return qq if (a >= 0) == (b >= 0) else -qq


def _half_away(num: int, den: int) -> int:
    if num < 0:
        return -((-num * 2 + den) // (2 * den))
    return (num * 2 + den) // (2 * den)


def test_pr_auc_matches_sequential_reference(spark, sf_dir):
    """Sequential AP replay with the identical per-term truncating
    division; also sanity: AP must beat the positive prevalence (value
    is a genuinely informative score for purchases in the fixture is NOT
    guaranteed — so gate only the exact agreement and range)."""
    from recommendation_system_big_data_spark.catalog import load
    from recommendation_system_big_data_spark.operators.ml_eval import (
        ml_eval_pr_auc,
    )

    rows = load(spark, sf_dir, "events").select(
        "event_id", "value", "event_type"
    ).collect()
    ordered = sorted(rows, key=lambda r: (-r["value"], r["event_id"]))
    cp, s, n_pos = 0, 0, 0
    for i, r in enumerate(ordered, start=1):
        if r["event_type"] == "purchase":
            cp += 1
            n_pos += 1
            s += (cp * 1_000_000_000) // i
    ap_micros = (s * 2 + 1000 * n_pos) // (2000 * n_pos)

    row = ml_eval_pr_auc(spark, sf_dir).collect()[0]
    assert row["n_total"] == len(rows)
    assert row["n_pos"] == n_pos
    assert row["ap_micros"] == ap_micros
    assert 0 <= row["ap_micros"] <= 1_000_000


def test_token_budget_select_planted(spark, tmp_path):
    """Planted corpus where the greedy arithmetic is checkable by hand:
    one language, budget 1000, docs engineered so doc order by TTR is
    known and the straddling document overflows the budget."""
    from recommendation_system_big_data_spark.functions.text import (
        TOKEN_BUDGET_PER_LANG,
        pipeline_token_budget_select,
    )

    assert TOKEN_BUDGET_PER_LANG == 1000
    # doc 0: 400 tokens, all distinct (ttr 1e6) -> admitted (0 before)
    # doc 1: 500 tokens, all distinct (ttr 1e6) -> admitted (400 before)
    # doc 2: 300 tokens, all distinct (ttr 1e6) -> admitted (900 before;
    #         straddles: total becomes 1200)
    # doc 3: 100 tokens, half distinct (ttr 5e5) -> rejected (1200 >= 1000)
    docs = [
        (0, " ".join(f"a{i}" for i in range(400)), "en", "s", 0),
        (1, " ".join(f"b{i}" for i in range(500)), "en", "s", 0),
        (2, " ".join(f"c{i}" for i in range(300)), "en", "s", 0),
        (3, " ".join(f"d{i % 50}" for i in range(100)), "en", "s", 0),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    rows = pipeline_token_budget_select(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_selected"] == 3
    assert r["tokens_selected"] == 1200
    assert r["tokens_total"] == 1300
    assert r["cutoff_ttr_micros"] == 1_000_000


def test_hard_negative_mining_against_numpy(spark, sf_dir):
    """Brute-force numpy replay of the triplet mining (same FLOOR
    quantization, same tiebreaks) must agree exactly; plus determinism."""
    import numpy as np

    from recommendation_system_big_data_spark.catalog import load
    from recommendation_system_big_data_spark.operators.similarity import (
        N_QUERIES,
        embedding_hard_negative_mining,
    )

    rows = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    ).collect()
    ids = np.array([r["vec_id"] for r in rows])
    labels = np.array([r["label"] for r in rows])
    X = np.vstack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    nrm = np.sqrt((X * X).sum(axis=1))

    got = {
        r["anchor_id"]: r
        for r in embedding_hard_negative_mining(spark, sf_dir).collect()
    }
    assert set(got) == set(int(i) for i in ids if i < N_QUERIES)

    for a_idx in np.where(ids < N_QUERIES)[0]:
        cos = (X @ X[a_idx]) / (nrm * nrm[a_idx])
        cm = np.floor(cos * 1_000_000).astype(np.int64)
        mask = ids != ids[a_idx]
        neg = [
            (int(-cm[j]), int(ids[j]))
            for j in np.where(mask & (labels != labels[a_idx]))[0]
        ]
        pos = [
            (int(cm[j]), int(ids[j]))
            for j in np.where(mask & (labels == labels[a_idx]))[0]
        ]
        bn = min(neg)
        bp = min(pos)
        r = got[int(ids[a_idx])]
        assert (r["hard_neg_id"], r["neg_cos_micros"]) == (bn[1], -bn[0])
        assert (r["hard_pos_id"], r["pos_cos_micros"]) == (bp[1], bp[0])
        assert r["triplet_violation"] == int(-bn[0] > bp[0])

    a = sorted(map(str, embedding_hard_negative_mining(spark, sf_dir).collect()))
    b = sorted(map(str, embedding_hard_negative_mining(spark, sf_dir).collect()))
    assert a == b


def test_null_bypass_equals_naive_left_join(spark, sf_dir):
    """The bypass plan must be semantically IDENTICAL to the naive left
    join it optimizes — cell-exact on the fixture."""
    from pyspark.sql import functions as F

    from recommendation_system_big_data_spark.catalog import load
    from recommendation_system_big_data_spark.operators.skew import (
        join_null_skew_bypass,
    )

    ev = load(spark, sf_dir, "events").select(
        F.when(F.col("event_type").isin("view", "error"), F.lit(None))
        .otherwise(F.col("user_id"))
        .alias("uid"),
        "value",
    )
    dim = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    naive = (
        ev.join(dim, F.col("uid") == F.col("c_custkey"), "left")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.sum(F.col("value").cast("decimal(12,2)")) * 100)
            .cast("long")
            .alias("sum_value_cents"),
        )
    )
    a = sorted(map(str, naive.collect()))
    b = sorted(map(str, join_null_skew_bypass(spark, sf_dir).collect()))
    assert a == b
    # the bypass branch is real: a NULL-segment row exists with mass
    nulls = [r for r in join_null_skew_bypass(spark, sf_dir).collect()
             if r["segment"] is None]
    assert len(nulls) == 1 and nulls[0]["n_events"] > 0


def test_collapse_repeats_planted_and_nonvacuous(spark, sf_dir, tmp_path):
    """Planted doc with known runs; and the fixture corpus must actually
    exercise removals (388/500 docs at sf0.01 — guard against a fixture
    regen making the evidence vacuous)."""
    from recommendation_system_big_data_spark.functions.text import (
        text_collapse_repeats,
    )

    docs = [(0, "a a a b b a c c c c", "en", "s", 0)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    r = text_collapse_repeats(spark, str(tmp_path)).collect()[0]
    assert r["n_tokens_in"] == 10
    assert r["n_removed"] == 6  # -> "a b a c"
    import hashlib

    assert r["cleaned_md5"] == hashlib.md5(b"a b a c").hexdigest()

    fixture = text_collapse_repeats(spark, sf_dir).collect()
    assert sum(1 for x in fixture if x["n_removed"] > 0) > 0


def test_count_min_sketch_bounds(spark, sf_dir):
    """CMS contract: never underestimates; overestimates by at most
    eps·N with probability `confidence` — gate the hard lower bound
    exactly and the upper bound with the full eps·N slack. Plus
    determinism (fixed seed)."""
    from recommendation_system_big_data_spark.catalog import load
    from recommendation_system_big_data_spark.operators.profile import (
        CMS_EPS,
        agg_count_min_sketch,
    )

    n = load(spark, sf_dir, "events").count()
    rows = agg_count_min_sketch(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["cms_estimate"] >= r["exact_count"]
        assert r["cms_estimate"] <= r["exact_count"] + CMS_EPS * n
        assert r["overcount"] == r["cms_estimate"] - r["exact_count"]
    a = sorted(map(str, agg_count_min_sketch(spark, sf_dir).collect()))
    assert a == sorted(map(str, rows))


def test_holt_winters_matches_sequential_reference(spark, sf_dir):
    """Plain-Python replay of the Holt-Winters additive recurrence with
    the identical constants, init, and expression order — cell-exact
    agreement (HALF_UP reference rounding, the F.round convention)."""
    from decimal import ROUND_HALF_UP, Decimal

    from recommendation_system_big_data_spark.catalog import load
    from recommendation_system_big_data_spark.operators.timeseries import (
        _HW_ALPHA,
        _HW_BETA,
        _HW_GAMMA,
        _HW_H,
        _HW_M,
        ts_holt_winters_seasonal,
    )
    from pyspark.sql import functions as F

    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.to_date("ts"), F.lit("1970-01-01").cast("date")
            ).alias("idx"),
        )
        .agg(
            (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("cents")
        )
        .collect()
    )
    series: dict[str, list[tuple[int, int]]] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["idx"], r["cents"]))

    A, B, G, m = _HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_M
    oma, omb, omg = 1.0 - A, 1.0 - B, 1.0 - G
    expect = {}
    for key, pts in series.items():
        pts.sort()
        cents = [c for _, c in pts]
        if len(cents) < 2 * m:
            continue
        y = [c / 100.0 for c in cents]
        a0 = float(sum(cents[:m])) / 100.0 / m
        a1 = float(sum(cents[m : 2 * m])) / 100.0 / m
        level, trend = a0, (a1 - a0) / m
        season = [y[j] - a0 for j in range(m)]
        for x in y[m:]:
            s_old = season[0]
            prev = level
            level = A * (x - s_old) + oma * (prev + trend)
            trend = B * (level - prev) + omb * trend
            season = season[1:] + [G * (x - level) + omg * s_old]
        for h in range(1, _HW_H + 1):
            raw = level + h * trend + season[(h - 1) % m]
            expect[(key, h)] = float(
                Decimal(repr(raw)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )

    got = {
        (r["event_type"], r["h"]): r["forecast"]
        for r in ts_holt_winters_seasonal(spark, sf_dir).collect()
    }
    assert got == expect
    assert len(got) == 5 * _HW_H  # every fixture key has 30 >= 14 days


def test_decision_stump_matches_sequential_reference(spark, sf_dir):
    """Sequential replay of the exact split search (same nano-truncation,
    same tiebreak); also the invariants: the winner is a real data value
    and gain is non-negative (a stump can always do no worse than the
    root by splitting off one value... NOT true in general for Gini —
    gain can be ~0 on uninformative features — so gate gain >= 0 only
    via g0 >= g for the CHOSEN split, which the search guarantees iff
    some split helps; assert the replay agreement instead)."""
    from recommendation_system_big_data_spark.catalog import load
    from recommendation_system_big_data_spark.operators.ml_eval import (
        ml_decision_stump,
    )

    rows = load(spark, sf_dir, "events").select("value", "event_type").collect()
    from collections import defaultdict

    grain = defaultdict(lambda: [0, 0])
    for r in rows:
        g = grain[r["value"]]
        g[0] += 1
        g[1] += r["event_type"] == "purchase"
    n = sum(v[0] for v in grain.values())
    p = sum(v[1] for v in grain.values())
    # r11 share-quantized scoring (overflow-proof at any n): counts ->
    # 1e-9 shares first, Gini on the shares, every quotient bounded.
    B = 1_000_000_000
    nl = pl = 0
    best = None
    for v in sorted(grain):
        nl += grain[v][0]
        pl += grain[v][1]
        nr, pr = n - nl, p - pl
        nlq, plq = (nl * B) // n, (pl * B) // n
        nrq, prq = (nr * B) // n, (pr * B) // n
        if nlq == 0 or nrq == 0:
            continue
        g_nanos = (plq * (nlq - plq) * nrq + prq * (nrq - prq) * nlq) // (
            nlq * nrq
        )
        key = (g_nanos, v)
        if best is None or key < best[0]:
            best = (key, nl, pl, nr, pr)
    pq = (p * B) // n
    g0 = (pq * (B - pq)) // B

    r = ml_decision_stump(spark, sf_dir).collect()[0]
    assert r["split_value"] == best[0][1]
    assert r["g_nanos"] == best[0][0]
    assert (r["n_left"], r["pos_left"]) == (best[1], best[2])
    assert (r["n_right"], r["pos_right"]) == (best[3], best[4])
    assert r["gain_nanos"] == g0 - best[0][0]


def test_permutation_test_matches_sequential_reference(spark, sf_dir):
    """Python replay of the md5-seeded permutation scheme (hashlib md5
    hex == both engines' md5) — exceedance count must agree exactly."""
    import hashlib

    from recommendation_system_big_data_spark.catalog import load
    from recommendation_system_big_data_spark.operators.stats_tests import (
        PERM_B,
        stat_permutation_test,
    )
    from pyspark.sql import functions as F

    rows = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "event_type",
            (F.col("value").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .collect()
    )
    ids = [(r["event_id"], r["cents"]) for r in rows]
    n_a = sum(1 for r in rows if r["event_type"] == "click")
    n_b = len(rows) - n_a
    s_a = sum(r["cents"] for r in rows if r["event_type"] == "click")
    s_b = sum(r["cents"] for r in rows if r["event_type"] != "click")
    t_obs = abs(s_a * n_b - s_b * n_a)
    n_exceed = 0
    for b in range(1, PERM_B + 1):
        order = sorted(
            ids,
            key=lambda t: (
                hashlib.md5(f"{b}:{t[0]}".encode()).hexdigest(),
                t[0],
            ),
        )
        sa = sum(c for _, c in order[:n_a])
        sb = sum(c for _, c in order[n_a:])
        if abs(sa * n_b - sb * n_a) >= t_obs:
            n_exceed += 1

    r = stat_permutation_test(spark, sf_dir).collect()[0]
    assert (r["n_a"], r["n_b"]) == (n_a, n_b)
    assert r["t_obs_scaled"] == t_obs
    assert r["n_perms"] == PERM_B
    assert r["n_exceed"] == n_exceed
    assert 0 <= r["n_exceed"] <= PERM_B


def test_silhouette_matches_numpy_reference(spark, sf_dir):
    """Numpy replay of the simplified squared-distance silhouette with
    the identical micro-quantization and truncating divisions — the
    per-label sums must agree exactly; range sanity on the means."""
    import numpy as np

    from recommendation_system_big_data_spark.catalog import load
    from recommendation_system_big_data_spark.operators.ml_eval import (
        ml_silhouette_labels,
    )

    rows = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    ).collect()
    labels = np.array([r["label"] for r in rows])
    Xq = np.vstack(
        [
            np.floor(np.array(r["embedding"], dtype=np.float64) * 1_000_000.0)
            for r in rows
        ]
    ).astype(object)  # python ints -> exact big-int arithmetic
    sums = {}
    for lab in set(labels.tolist()):
        m = labels == lab
        sums[lab] = (Xq[m].sum(axis=0), int(m.sum()))

    per_label = {}
    for i in range(len(rows)):
        dq = {}
        qq = int((Xq[i] * Xq[i]).sum())
        for lab, (S, n) in sums.items():
            dot = int((Xq[i] * S).sum())
            ssl = int((S * S).sum())
            num = n * n * qq - 2 * n * dot + ssl
            dq[lab] = num // (n * n)
        own = int(labels[i])
        a = dq[own]
        b = min(v for lab, v in dq.items() if lab != own)
        g = max(a, b)
        if g == 0:
            s = 0
        else:
            num = (b - a) * 1_000_000
            s = -((-num) // g) if num < 0 else num // g
        st = per_label.setdefault(own, [0, 0])
        st[0] += 1
        st[1] += s

    got = {
        r["label"]: (r["n_vectors"], r["sum_s_micros"], r["mean_s_micros"])
        for r in ml_silhouette_labels(spark, sf_dir).collect()
    }
    assert set(got) == set(per_label)
    for lab, (n, ssum) in per_label.items():
        mean = -((-ssum) // n) if ssum < 0 else ssum // n
        assert got[lab] == (n, ssum, mean), lab
        assert -1_000_000 <= got[lab][2] <= 1_000_000


def test_ngram_jaccard_df_cap_semantics_planted(spark):
    """r9 ADVICE follow-through, semantic half: the oracles now MIRROR the
    hot-shingle df-cap, so pin what that capped semantics actually is on
    a corpus where the cap BINDS (fixtures never bind it): with df_cap=2
    a shingle shared by 3 docs is excluded from intersections while
    n_sh keeps full sizes, so Jaccard is UNDERestimated exactly as
    documented — computed here by hand for a 3-doc planted corpus."""
    from pyspark.sql import functions as F

    from recommendation_system_big_data_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    # docs: A and B near-dups; the shingle 'w1 w2 w3' appears in A, B, C
    # (df 3 > cap 2) and must not count toward any intersection.
    texts = {
        0: "w1 w2 w3 w4 w5 w6",          # shingles: 123 234 345 456
        1: "w1 w2 w3 w4 w5 w7",          # shingles: 123 234 345 457
        2: "w1 w2 w3 x1 x2 x3",          # carries 123 -> df(123)=3
    }
    d = spark.createDataFrame(
        [(i, "en", t) for i, t in texts.items()],
        "doc_id long, lang string, text string",
    )
    ex = (
        d.select("doc_id", "lang", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            "lang",
            F.expr(
                "array_distinct(transform(sequence(1, greatest(size(toks)-2, 1)),"
                " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1])))"
            ).alias("sh"),
        )
        .select(
            "doc_id", "lang", F.size("sh").alias("n_sh"),
            F.explode("sh").alias("shingle"),
        )
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(ex, df_cap=2).collect()
    }
    # A-B: full shingle sets {123,234,345,456} vs {123,234,345,457}:
    # uncapped J = 3/5 = 0.6; capped intersection drops 123 -> shared=2,
    # union estimate = 4 + 4 - 2 = 6 -> J = 2/6 = 0.333333 < 0.5 threshold
    # -> the pair must NOT be reported (underestimation drops it).
    assert (0, 1) not in rows
    # sanity: with the cap not binding (df_cap=3) the pair IS reported
    # at the uncapped 0.6.
    rows_uncapped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(ex, df_cap=3).collect()
    }
    assert rows_uncapped.get((0, 1)) == 0.6


def test_rare_token_redaction_nonvacuous_and_planted(spark, sf_dir, tmp_path):
    """The fixture must actually exercise redaction (the 'dup' token sits
    below the 10%-df threshold at every SF — guard against a fixture
    regen silently making the evidence vacuous), and a planted corpus
    pins the exact replacement arithmetic."""
    import hashlib

    from recommendation_system_big_data_spark.functions.quality import (
        privacy_rare_token_redaction,
    )

    fixture = privacy_rare_token_redaction(spark, sf_dir).collect()
    assert sum(r["n_redacted"] for r in fixture) > 0

    # planted: 10 docs; token 'zzz' appears in 1 doc (df 1 -> 1*10 < 10
    # is NOT < 10... use 20 docs: df 1, 1*10 < 20 -> rare); 'aaa'
    # appears in all docs (common).
    docs = [(i, "aaa bbb", "en", "s", 0) for i in range(19)]
    docs.append((19, "aaa zzz aaa", "en", "s", 0))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["doc_id"]: r
        for r in privacy_rare_token_redaction(spark, str(tmp_path)).collect()
    }
    # 'bbb' df=19 -> common; 'zzz' df=1 -> rare (10 < 20)
    assert rows[0]["n_redacted"] == 0
    assert rows[19]["n_redacted"] == 1
    assert rows[19]["cleaned_md5"] == hashlib.md5(b"aaa <unk> aaa").hexdigest()


def test_payload_bytestats_separates_text_from_uniform(spark, sf_dir):
    """The statistic must actually discriminate: the fixture's text
    payloads are low-entropy (few distinct bytes, chi² far above 0),
    while a planted pseudo-uniform payload (all 256 byte values equally
    often) lands at chi² ≈ 0 and distinct_bytes = 256 — the
    routing decision the operator exists to make. Also a hand-check of
    the chi² algebra on a tiny planted payload."""
    from pyspark.sql import functions as F

    from recommendation_system_big_data_spark.operators.multimodal import (
        multimodal_payload_bytestats,
    )

    rows = multimodal_payload_bytestats(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["distinct_bytes"] < 64  # word corpus: lowercase + space
        assert r["chi2_uniform_milli"] > 1000 * 255  # miles from uniform
        assert r["modal_byte_freq"] >= r["n_bytes"] // r["distinct_bytes"]

    # planted tiny payload 'aab': counts a=2, b=1, n=3 ->
    # chi2_milli = (256*(4+1)*1000) div 3 - 3000 = 426666 - 3000
    d = spark.createDataFrame(
        [(0, "aab", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from recommendation_system_big_data_spark.operators.multimodal import (
        with_binary_payload,
    )

    media = with_binary_payload(d)
    hx = media.select(
        "doc_id", F.hex("payload").alias("h"),
        F.length("payload").cast("long").alias("n"),
    )
    got = (
        hx.select(
            "doc_id", "n",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), (F.col("n") - 1).cast("int")),
                    lambda i: F.substring(F.col("h"), F.lit(1) + i * 2, 2),
                )
            ).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(F.max("n").alias("n"), F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.expr(
                "CAST((256 * SUM(c * c) * 1000) div MAX(n) - 1000 * MAX(n)"
                " AS LONG)"
            ).alias("chi2")
        )
        .collect()[0]["chi2"]
    )
    assert got == (256 * 5 * 1000) // 3 - 3000


def test_brier_decomposition_matches_sequential_reference(spark, sf_dir):
    """Python big-int replay of the Murphy decomposition with identical
    quantization, binning, and two-stage truncating divisions."""
    from recommendation_system_big_data_spark.catalog import load
    from recommendation_system_big_data_spark.operators.ml_eval import (
        ml_eval_brier_decomposition,
    )
    import math

    rows = load(spark, sf_dir, "events").select("value", "event_type").collect()
    mv = max(r["value"] for r in rows)
    scored = [
        (
            math.floor(r["value"] / mv * 1000000.0),
            1 if r["event_type"] == "purchase" else 0,
        )
        for r in rows
    ]
    bins: dict[int, list[int]] = {}
    for q, y in scored:
        b = min((q * 10) // 1000000, 9)
        st = bins.setdefault(b, [0, 0, 0])
        st[0] += 1
        st[1] += q
        st[2] += y
    n = sum(s[0] for s in bins.values())
    y = sum(s[2] for s in bins.values())
    sq = sum((q - 1000000 * yy) ** 2 for q, yy in scored)
    brier = sq // (1000 * n)
    unc = (((y * (n - y)) // n) * 1000000000) // n
    rel = sum(
        ((s[1] - 1000000 * s[2]) ** 2) // (s[0] * 1000 * n)
        for s in bins.values()
    )
    # res: micro-quantized deviation first (truncating toward zero),
    # then the bounded-quotient score — the r11 overflow-proof form.
    res = 0
    for s in bins.values():
        res += (s[0] * _trunc_div((s[2] * n - y * s[0]) * 1000000, n * s[0]) ** 2) // (
            1000 * n
        )
    r = ml_eval_brier_decomposition(spark, sf_dir).collect()[0]
    assert (r["n_total"], r["n_pos"]) == (n, y)
    assert r["brier_nanos"] == brier
    assert r["uncertainty_nanos"] == unc
    assert r["reliability_nanos"] == rel
    assert r["resolution_nanos"] == res
    # decomposition sanity: brier ~ unc + rel - res up to within-bin
    # variance (which is nonnegative), so brier >= unc + rel - res - eps
    assert r["brier_nanos"] >= unc + rel - res - 2_000_000


def test_compression_ratio_replay_and_discrimination(spark, sf_dir, tmp_path):
    """Exact stdlib replay (same zlib, same level → identical byte counts)
    over the fixture, and the discrimination property on a planted pair:
    a highly repetitive doc must compress far below a high-entropy one."""
    import zlib

    from recommendation_system_big_data_spark.functions.quality import (
        text_compression_ratio,
    )
    from recommendation_system_big_data_spark.catalog import load

    expect = {}
    for r in load(spark, sf_dir, "documents").select("doc_id", "text").collect():
        raw = r["text"].encode("utf-8")
        c = len(zlib.compress(raw, 6))
        expect[r["doc_id"]] = (len(raw), c, c * 1_000_000 // len(raw))
    got = {
        r["doc_id"]: (r["n_bytes"], r["compressed_bytes"], r["ratio_micros"])
        for r in text_compression_ratio(spark, sf_dir).collect()
    }
    assert got == expect

    docs = [
        (0, "spam " * 200, "en", "s", 0),
        (1, " ".join(f"w{i * 7919 % 104729}" for i in range(200)), "en", "s", 0),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["doc_id"]: r["ratio_micros"]
        for r in text_compression_ratio(spark, str(tmp_path)).collect()
    }
    assert rows[0] < rows[1] / 3, rows


def test_payload_bytestats_empty_payload_cross_engine(spark, tmp_path):
    """ADVICE r10: an empty payload used to fabricate two phantom byte
    rows from the descending sequence(0,-1) and then divide by zero in
    the chi² exit, while the oracle silently dropped the doc. Plant one
    empty and one normal doc and require BOTH engines to agree on the
    decided semantics: empty payloads emit no row."""
    from recommendation_system_big_data_spark import oracle
    from recommendation_system_big_data_spark.operators.multimodal import (
        multimodal_payload_bytestats,
    )
    from recommendation_system_big_data_spark.registry import registry

    docs = [(0, "", "en", "s", 0), (1, "aab", "en", "s", 3)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    sdf = multimodal_payload_bytestats(spark, str(tmp_path))
    got = {r["doc_id"]: r for r in sdf.collect()}
    assert set(got) == {1}
    assert got[1]["n_bytes"] == 3 and got[1]["distinct_bytes"] == 2
    assert got[1]["modal_byte_freq"] == 2
    assert got[1]["chi2_uniform_milli"] == (256 * 5 * 1000) // 3 - 3000

    with oracle.connect(tmp_path) as con:
        sql = registry()["multimodal_payload_bytestats"].oracle
        problem = oracle.diff(sdf.columns, got.values(), *oracle.fetch(con, sql), oracle.exact)
    assert problem is None, problem


def test_hard_negative_mining_unique_label_anchor_cross_engine(spark, tmp_path):
    """ADVICE r10: an anchor whose label is unique in the corpus has no
    positive candidate — Spark used to keep a NULL-field row where the
    oracle's inner join dropped the anchor. Plant that distribution and
    require both engines to agree: the anchor emits no row."""
    from recommendation_system_big_data_spark import oracle
    from recommendation_system_big_data_spark.operators.similarity import (
        embedding_hard_negative_mining,
    )
    from recommendation_system_big_data_spark.registry import registry

    # anchor 0 has label 7 shared with vec 21 (a positive exists);
    # anchor 1 has the corpus-unique label 9 (NO positive -> no row).
    vecs = [
        (0, [1.0, 0.0, 0.0], 7),
        (1, [0.0, 1.0, 0.0], 9),
        (21, [1.0, 0.5, 0.0], 7),
        (22, [0.2, 1.0, 0.3], 8),
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

    sdf = embedding_hard_negative_mining(spark, str(tmp_path))
    got = sdf.collect()
    assert [r[0] for r in got] == [0], got
    assert all(v is not None for r in got for v in r)

    with oracle.connect(tmp_path) as con:
        sql = registry()["embedding_hard_negative_mining"].oracle
        problem = oracle.diff(sdf.columns, got, *oracle.fetch(con, sql), oracle.exact)
    assert problem is None, problem
