"""Text-function properties not expressible as oracles: the rolling hash's
order sensitivity, the canonical fingerprint's order INsensitivity, and
BM25 against a sequential reference on planted edge corpora."""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from recommendation_system_big_data_spark import oracle
from recommendation_system_big_data_spark.functions.text import rolling_hash, tokens
from tests.conftest import assert_oracle_match


def _hashes(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    return [
        r["h"] for r in df.select(rolling_hash(tokens(F.col("text"))).alias("h")).collect()
    ]


def test_rolling_hash_equal_texts_collide(spark):
    a, b = _hashes(spark, ["the quick brown fox", "the quick brown fox"])
    assert a == b


def test_rolling_hash_is_order_sensitive(spark):
    a, b = _hashes(spark, ["the quick brown fox", "fox brown quick the"])
    assert a != b


def test_rolling_hash_deterministic_across_runs(spark):
    x1 = _hashes(spark, ["alpha beta gamma"])[0]
    x2 = _hashes(spark, ["alpha beta gamma"])[0]
    assert x1 == x2 and 0 <= x1 < 1_000_000_007


def test_canonical_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [("the quick brown fox",), ("fox brown quick the",)], ["text"]
    )
    canon = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split("text", " "))), " "
        ).cast("binary")
    )
    fps = [r["fp"] for r in df.select(canon.alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_sequence_packing_conserves_tokens(spark, sf_dir):
    """Packing invariants the oracle can't see on its own: per source,
    the packed sequences partition the token stream exactly — token
    totals conserved, every sequence except the last is exactly full,
    and seq_ids are gapless from 0."""
    from recommendation_system_big_data_spark.functions.text import (
        _PACK_SEQ_LEN,
        pipeline_sequence_packing,
    )

    rows = pipeline_sequence_packing(spark, sf_dir).collect()
    per_src = {}
    for r in rows:
        per_src.setdefault(r["source"], []).append(r)
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr("source", "size(split(text, ' ')) AS n")
        .groupBy("source")
        .sum("n")
        .collect()
    )
    totals = {r["source"]: r["sum(n)"] for r in docs}
    assert set(per_src) == set(totals)
    for src, seqs in per_src.items():
        seqs.sort(key=lambda r: r["seq_id"])
        assert [s["seq_id"] for s in seqs] == list(range(len(seqs)))
        assert sum(s["n_tokens"] for s in seqs) == totals[src]
        assert all(s["n_tokens"] == _PACK_SEQ_LEN for s in seqs[:-1])
        assert 0 < seqs[-1]["n_tokens"] <= _PACK_SEQ_LEN


def _planted_corpus(planted: dict[int, str]) -> dict[int, str]:
    """A small seeded corpus (doc_ids 0..119, so queries 7, 57 and 107)
    over a 40-word vocabulary, with some empty tokens from doubled
    spaces; ``planted`` texts replace or extend it."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    docs = {}
    for d in range(120):
        words = rng.choices(vocab, weights=[1 / (i + 1) for i in range(40)], k=rng.randint(3, 12))
        docs[d] = "".join(w + (" " if rng.random() < 0.9 else "  ") for w in words).strip(" ")
    return {**docs, **planted}


def _with_common_term(docs: dict[int, str]) -> dict[int, str]:
    return {d: f"common {t}" for d, t in docs.items()}


def _tie(got):
    # docs 20 and 30 are equal: one score, ranked by doc_id
    assert got[(7, 20)][0] == got[(7, 30)][0] and got[(7, 20)][1] + 1 == got[(7, 30)][1]


def _no_query_terms(got):
    assert not [k for k in got if k[0] == 57]


def _df_equals_n(got):
    # "common" leads every query, so each matches every other document
    per_query = {}
    for q, _ in got:
        per_query[q] = per_query.get(q, 0) + 1
    assert per_query == {7: 10, 57: 10, 107: 10}


def _empty_doc_unranked(got):
    assert not [k for k in got if k[1] == 40]


#: case → (corpus builder, property the planted case must show)
_BM25_CASES = {
    "score_tie": (
        lambda: _planted_corpus({7: "zeta eta theta", 20: "zeta eta", 30: "zeta eta"}),
        _tie,
    ),
    "empty_query_slice": (lambda: _planted_corpus({57: "      w1 w2 w3"}), _no_query_terms),
    "df_equals_n": (lambda: _with_common_term(_planted_corpus({})), _df_equals_n),
    "doc_without_tokens": (lambda: _planted_corpus({40: "   "}), _empty_doc_unranked),
}


@pytest.mark.parametrize("case", ["testdata", *_BM25_CASES])
def test_bm25_differential_vs_sequential_reference(spark, sf_dir, tmp_path, case):
    """Differential-kernel test (the test_property_stats pattern): replay
    BM25 end-to-end in sequential Python over the raw documents and
    compare every (query, doc, score, rank) cell against the Spark
    result. Catches what the DuckDB oracle structurally cannot — a bug
    class shared by both declarative engines (e.g. a wrong idf form or
    an off-by-one in the query-slice) would pass the oracle and fail
    here. Besides the testdata corpus, small seeded corpora plant the
    edges: a score tie decided by doc_id, a query whose slice holds only
    empty tokens, a term in every document (df = N), and a document with
    no non-empty token. On those the DuckDB oracle must agree too."""
    import math

    from recommendation_system_big_data_spark.functions.text import (
        _BM25_B,
        _BM25_K1,
        _BM25_ORACLE,
        _BM25_QLEN,
        _BM25_RESIDUE,
        _BM25_STRIDE,
        _BM25_TOP_K,
        text_bm25_retrieval,
    )

    if case != "testdata":
        sf_dir = str(tmp_path)
        corpus = _BM25_CASES[case][0]()
        ids = pa.array(list(corpus), pa.int64())
        pq.write_table(
            pa.table({"doc_id": ids, "text": list(corpus.values())}), f"{sf_dir}/documents.parquet"
        )
    raw = {
        r["doc_id"]: r["text"].split(" ")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    # postings/lengths over NON-EMPTY tokens (the query filters them);
    # the query slice below is over RAW tokens (F.slice runs before the
    # empty-token filter)
    docs = {d: [t for t in toks if t != ""] for d, toks in raw.items()}
    tf = {d: {} for d in docs}
    for d, toks in docs.items():
        for t in toks:
            tf[d][t] = tf[d].get(t, 0) + 1
    # corpus stats count documents with at least one token, as the
    # oracle's dl table does
    dl = {d: len(toks) for d, toks in docs.items() if toks}
    n_docs = len(dl)
    avgdl = sum(dl.values()) / n_docs
    df = {}
    for d in docs:
        for t in tf[d]:
            df[t] = df.get(t, 0) + 1

    expected = {}
    for qid, toks in raw.items():
        if qid % _BM25_STRIDE != _BM25_RESIDUE:
            continue
        # query terms: first _BM25_QLEN RAW tokens, empties dropped after
        # the slice (matching the Spark/oracle order), distinct
        qterms = set(t for t in toks[:_BM25_QLEN] if t != "")
        scores = {}
        for d in docs:
            if d == qid:
                continue
            s = 0.0
            for t in qterms:
                if t not in tf[d]:
                    continue
                idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1)
                f = tf[d][t]
                s += idf * f * (_BM25_K1 + 1) / (
                    f + _BM25_K1 * (1 - _BM25_B + _BM25_B * dl[d] / avgdl)
                )
            if s > 0.0:
                scores[d] = round(s, 6)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        for rn, (d, s) in enumerate(ranked[:_BM25_TOP_K], start=1):
            expected[(qid, d)] = (s, rn)

    result = text_bm25_retrieval(spark, sf_dir)
    got = {(r["query_id"], r["doc_id"]): (r["score"], r["rn"]) for r in result.collect()}
    assert set(got) == set(expected), (
        len(got), len(expected),
        sorted(set(got) ^ set(expected))[:5],
    )
    mism = {
        k: (got[k], expected[k])
        for k in expected
        if abs(got[k][0] - expected[k][0]) > 1e-6 or got[k][1] != expected[k][1]
    }
    assert not mism, list(mism.items())[:5]
    if case != "testdata":
        _BM25_CASES[case][1](got)
        with oracle.connect(sf_dir) as con:
            assert_oracle_match(result, con, _BM25_ORACLE, case)


def test_bm25_index_partitions_follow_corpus_size(spark, sf_dir, tmp_path):
    """The held BM25 index has one partition per advisory partition size
    of the corpus at rest (at least one), and BM25 over a multi-partition
    index still returns the oracle's rows."""
    from recommendation_system_big_data_spark.catalog import table_bytes
    from recommendation_system_big_data_spark.functions.text import (
        _BM25_ORACLE,
        bm25_index,
        text_bm25_retrieval,
    )

    d = str(tmp_path)
    pq.write_table(pq.read_table(f"{sf_dir}/documents.parquet"), f"{d}/documents.parquet")
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    assert bm25_index(spark, sf_dir).rdd.getNumPartitions() == 1
    spark.conf.set(key, str(-(-table_bytes(d, "documents") // 3)))
    try:
        assert bm25_index(spark, d).rdd.getNumPartitions() == 3
        with oracle.connect(d) as con:
            assert_oracle_match(text_bm25_retrieval(spark, d), con, _BM25_ORACLE, "bm25")
    finally:
        spark.conf.unset(key)
