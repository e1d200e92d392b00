"""The benchmark workloads.

Each workload has a ``setup`` (inputs are already generated; this loads
them and runs one warm pass, and counts in ``setup_s``), a ``verify``
(the harness's own untimed work before the window: expected answers, the
request stream, the checks of set-up's outputs), an ``op`` that is timed,
a ``check`` that validates one op's output outside the timed region, and
``late_checks`` that run after the window and the memory reading. Every
call into the engine goes through a public function of a layer and sits
inside a ``tracer.span`` named after that layer, so the traced run can
attribute time and Spark counters to it.
"""

from __future__ import annotations

import datetime
import decimal
import os
import shutil

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from recommendation_system_big_data_spark.operators import recommend
from recommendation_system_big_data_spark.plans.explain import num_shuffles
from recommendation_system_big_data_spark.registry import get_query
from recommendation_system_big_data_spark.sources.csv import read_csv_reference
from recommendation_system_big_data_spark.sources.sinks import (
    write_partitioned_parquet,
    write_single_csv,
)

RATINGS_SCHEMA = StructType([
    StructField("user_id", IntegerType()),
    StructField("anime_id", IntegerType()),
    StructField("rating", DoubleType()),
])
ANIME_SCHEMA = StructType([
    StructField("ID", IntegerType()),
    StructField("Name", StringType()),
    StructField("English name", StringType()),
    StructField("Type", StringType()),
    StructField("Score", DoubleType()),
    StructField("Episodes", IntegerType()),
    StructField("Members", IntegerType()),
])
#: Media type the enrichment step keeps (the reference's series export).
SERVE_TYPE = "TV"
#: Recommendations per user (the reference's recommendForUserSubset(…, 30)).
SERVE_K = 30
ENRICH_N = 5
#: Length of the seeded request sequence (a run wraps around it).
N_REQUESTS = 256
#: Skew of the request stream over users ranked by activity.
REQUEST_ZIPF = 1.0
#: Held-out RMSE ceiling for the generator's rating model (rank-6 signal,
#: noise sd 0.7, integer 1-10 ratings). Tighter than recommend.RMSE_BAND,
#: so a speed-up that costs model quality fails the output check.
RMSE_CEILING = 1.6

MIX_QUERIES = (
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
MIX_TABLES = (
    "region", "nation", "customer", "supplier", "orders", "lineitem", "documents", "embeddings",
)


def materialise(tracer, df) -> None:
    """In the traced run, execute a lazy boundary DataFrame (noop sink) so
    the enclosing span covers its execution, not just plan building."""
    if tracer.enabled:
        df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


def normalise(rows) -> list:
    """Order-insensitive, engine-neutral form of a result: numbers to nine
    significant digits, timestamps to ISO strings, arrays to tuples."""

    def norm(v):
        if isinstance(v, bool) or v is None or isinstance(v, str):
            return v
        if isinstance(v, (int, float, decimal.Decimal, np.floating, np.integer)):
            return f"{float(v):.9g}"
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return str(v)

    return sorted((tuple(norm(v) for v in row) for row in rows), key=repr)


class Workload:
    #: ops that must finish back to back for latency figures to be comparable
    cycle = 1

    def __init__(self, spark, tracer, inputs: str, work: str, seed: int):
        self.spark, self.tracer, self.inputs, self.work = spark, tracer, inputs, work
        # request stream of its own, apart from the input generator's
        self.rng = np.random.default_rng([seed, 1])
        self.problems: list[str] = []

    def late_checks(self) -> None:
        """Untimed checks that run after the window and the memory reading."""


def flat_recs(recs_df):
    """ALS ``recommendations`` array → one row per (user, item, rank)."""
    return recs_df.select("user_id", F.posexplode("recommendations").alias("pos", "rec")).select(
        "user_id",
        F.col("rec.item_id").alias("anime_id"),
        F.col("rec.rating").alias("predicted_rating"),
        (F.col("pos") + 1).alias("rank_pos"),
    )


def enrich_and_rank(model, users_df, catalog, ratings):
    """recommendForUserSubset(top-30) → flatten → the reference enrichment
    (join the catalog, keep one media type, rank by average rating)."""
    recs = flat_recs(model.recommendForUserSubset(users_df, SERVE_K))
    return recommend.enrich_and_rank(recs, catalog, ratings, SERVE_TYPE, ENRICH_N)


class RecsysServe(Workload):
    """Closed loop, one client: each op recommends top-30 for one user with
    recommendForUserSubset, enriches and ranks the list, and collects it.
    Users are drawn Zipf(1.0) by activity rank, so hot users repeat.

    Set-up is the reference batch pipeline that publishes what the server
    answers from: read the CSVs, clean and dedup, fit ALS on an 80/20
    split, held-out RMSE, top-30 for all users, the 5-row export for one
    user, and both sinks (partitioned parquet rec table,
    single-file CSV). Every served response must equal the answer built
    from the published rec table."""

    #: Untimed ops between the set-up checks and the window. A request
    #: runs on code the JVM is still compiling: its latency falls by a
    #: quarter over the first 30-40 requests after set-up, at a pace that
    #: differs from run to run. Two requests take the window past the
    #: steepest first runs; more, even ten, were no steadier and do not
    #: fit the time budget of a busy host.
    warmup_ops = 2

    def setup(self) -> None:
        with self.tracer.span("sources.csv_read"):
            raw = read_csv_reference(self.spark, f"{self.inputs}/ratings.csv", RATINGS_SCHEMA)
            catalog = read_csv_reference(self.spark, f"{self.inputs}/anime.csv", ANIME_SCHEMA)
            materialise(self.tracer, raw)
            materialise(self.tracer, catalog)
        self.csv_bytes = os.path.getsize(f"{self.inputs}/ratings.csv")
        # The reference's clean step: drop sentinel rows, one rating per pair.
        # The server keeps its tables in memory.
        self.ratings = raw.dropna().dropDuplicates(["user_id", "anime_id"]).cache()
        self.catalog = catalog.cache()
        self.ratings.count()
        self.catalog.count()

        train, test = self.ratings.randomSplit([0.8, 0.2], seed=recommend.SEED)
        with self.tracer.span("recommend.fit"):
            self.model = recommend.train_als(train.withColumnRenamed("anime_id", "item_id"))
        with self.tracer.span("recommend.eval"):
            from pyspark.ml.evaluation import RegressionEvaluator

            pred = self.model.transform(test.withColumnRenamed("anime_id", "item_id"))
            rmse = RegressionEvaluator(
                metricName="rmse", labelCol="rating", predictionCol="prediction"
            ).evaluate(pred.where(~F.isnan("prediction")))
        self.rmses = [rmse]

        with self.tracer.span("recommend.topk_all"):
            recs = flat_recs(self.model.recommendForAllUsers(SERVE_K))
            materialise(self.tracer, recs)
        with self.tracer.span("recommend.enrich"):
            # The reference exports one user's list; here user 0's, who
            # rates ~50 items in every generated input set. This is also
            # the warm pass of the serving path.
            one = self.spark.createDataFrame([(0,)], "user_id int")
            top = enrich_and_rank(self.model, one, self.catalog, self.ratings)
            materialise(self.tracer, top)
        self.out = f"{self.work}/sink"
        with self.tracer.span("sources.sink_write"):
            table = recs.join(
                self.catalog.select("ID", "Type"), recs["anime_id"] == self.catalog["ID"], "left"
            ).drop("ID")
            write_partitioned_parquet(table, f"{self.out}/recs", ["Type"])
            write_single_csv(top, f"{self.out}/top")

    def verify(self) -> None:
        """Untimed: the RMSE check, the request stream (Zipf(1.0) over the
        model's users ranked by activity), the tables the expected answers
        are built from, and the read-back of both sinks."""
        (rmse,) = self.rmses
        lo, hi = recommend.RMSE_BAND
        if not (lo < rmse < hi and rmse <= RMSE_CEILING):
            self.problems.append(f"rmse {rmse} outside ({lo}, min({hi}, {RMSE_CEILING}))")
        self.sink_sizes = [dir_bytes(self.out)]
        self.types = {r["ID"]: r["Type"] for r in self.catalog.select("ID", "Type").collect()}
        self.avg = {
            r["anime_id"]: r["a"]
            for r in self.ratings.groupBy("anime_id").agg(F.avg("rating").alias("a")).collect()
        }
        activity = self.ratings.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        users = [
            r["user_id"]
            for r in activity.join(
                self.model.userFactors.select(F.col("id").alias("user_id")), "user_id"
            )
            .orderBy(F.desc("n"), "user_id")
            .collect()
        ]
        p = 1.0 / np.arange(1, len(users) + 1) ** REQUEST_ZIPF
        self.users = [int(users[j]) for j in self.rng.choice(len(users), N_REQUESTS, p=p / p.sum())]
        self.check_sinks(self.out, n_users=len(users))

    def check_sinks(self, out: str, n_users: int) -> None:
        """Read the published rec table back (users x k rows) and keep the
        lists of the users the requests will ask for: every served response
        must equal the answer built from them. The 5-row export, which ran
        the serving path once already, must match it too."""
        back = self.spark.read.parquet(f"{out}/recs")
        n = back.count()
        if n != n_users * SERVE_K:
            self.problems.append(f"sink read-back {n} rows != {n_users} users x {SERVE_K}")
        wanted = sorted(set(self.users) | {0})
        rows = back.where(F.col("user_id").isin(wanted)).select("user_id", "anime_id", "rank_pos")
        self.batch: dict[int, list[int]] = {}
        for r in sorted(rows.collect(), key=lambda r: (r["user_id"], r["rank_pos"])):
            self.batch.setdefault(r["user_id"], []).append(r["anime_id"])
        top = self.spark.read.option("header", "true").csv(f"{out}/top").collect()
        self.check(-1, [0, [{"ID": int(r["ID"])} for r in top]])
        shutil.rmtree(out, ignore_errors=True)

    def op(self, i: int) -> list:
        user = self.users[i % len(self.users)]
        with self.tracer.span("recommend.serve_call"):
            one = self.spark.createDataFrame([(user,)], "user_id int")
            df = enrich_and_rank(self.model, one, self.catalog, self.ratings)
            if self.tracer.enabled:
                with self.tracer.span("plans.plan"):
                    num_shuffles(df)
            return [user, df.collect()]

    def expected(self, user: int) -> list[int]:
        tv = [i for i in self.batch[user] if self.types.get(i) == SERVE_TYPE]
        return sorted(tv, key=lambda i: (-round(self.avg[i], 6), i))[:ENRICH_N]

    def check(self, i: int, res: list) -> bool:
        user, rows = res
        got = [r["ID"] for r in rows]
        if len(set(got)) != len(got) or any(g not in self.types for g in got):
            self.problems.append(f"request {i}: user {user} got repeated or unknown items {got}")
            return False
        want = self.expected(user)
        if got != want:
            self.problems.append(f"request {i}: user {user} got {got}, batch path gives {want}")
            return False
        return True


class AnalyticsMix(Workload):
    """Closed loop, one client: cycles a fixed order of registry queries
    over the generated star schema and corpus; one op = one query,
    collected. Outputs are diffed against the DuckDB oracles once per run
    (untimed), and every timed op must reproduce that verified result."""

    cycle = len(MIX_QUERIES)
    #: One untimed cycle: the first cycle after the cold pass in set-up
    #: runs about a quarter slower than the ones after it.
    warmup_ops = cycle

    def setup(self) -> None:
        """Warm pass: every query once, collected."""
        self.warm = {q: get_query(q).fn(self.spark, self.inputs).collect() for q in MIX_QUERIES}

    def verify(self) -> None:
        """Untimed: the warm pass's results become the expected ones (the
        oracle diff in ``late_checks`` must pass too); a query with 0 rows
        fails the run."""
        self.expected = {q: normalise(rows) for q, rows in self.warm.items()}
        if self.tracer.enabled:
            self.shuffles = {
                q: num_shuffles(get_query(q).fn(self.spark, self.inputs)) for q in MIX_QUERIES
            }
        for q, rows in self.warm.items():
            if not rows:
                self.problems.append(f"{q}: 0 rows on the generated inputs")

    def late_checks(self) -> None:
        """Diff every oracle-bearing query's result on the generated inputs
        against its DuckDB oracle, once per run. It runs after the memory
        reading: DuckDB runs inside this process, and what its allocator
        keeps would show in ``retained_mb``."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in MIX_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.inputs}/{t}.parquet'")
            for q in MIX_QUERIES:
                sql = get_query(q).oracle
                if sql is None:
                    continue
                want = normalise(con.execute(sql).fetchall())
                if want != self.expected[q]:
                    self.problems.append(f"{q}: differs from its DuckDB oracle")
        finally:
            con.close()

    def op(self, i: int) -> list:
        q = MIX_QUERIES[i % self.cycle]
        with self.tracer.span(f"mix.{q}"):
            return get_query(q).fn(self.spark, self.inputs).collect()

    def check(self, i: int, rows: list) -> bool:
        q = MIX_QUERIES[i % self.cycle]
        if normalise(rows) != self.expected[q]:
            self.problems.append(f"op {i}: {q} result differs from the oracle-checked one")
            return False
        return True


WORKLOADS = {
    "recsys_serve": RecsysServe,
    "analytics_mix": AnalyticsMix,
}
