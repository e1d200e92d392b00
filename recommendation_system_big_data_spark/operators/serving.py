"""The serving step of the recommender: `ServingALSModel`, the fitted ALS
model `recommend.train_als` returns, answers ``recommendForUserSubset``
(model-als.py:132) from factors held on the driver instead of MLlib's
distributed subset plan (semi-join, blockify, cross join, shuffled top-k).

A module of its own so that only a process that fits a model imports
``pyspark.ml``: `recommend` imports it on the first fit, and the registry,
which imports `recommend` in every process, does not pay for it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.ml.recommendation import ALS, ALSModel
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, FloatType, IntegerType, StructField, StructType


def top_k(scores: np.ndarray, item_ids: np.ndarray, k: int) -> np.ndarray:
    """Column indices of the ``k`` best scores of each row of ``scores``
    (users x items), best first: score descending, then item id ascending,
    so equal scores order the same way on every call."""
    order = np.lexsort((np.broadcast_to(item_ids, scores.shape), -scores))
    return order[:, :k]


def _factor_matrix(factors: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(ids, float32 factor rows) of an ALS factor frame, sorted by id,
    pulled to the driver through one Arrow collect."""
    table = factors.toArrow()
    ids = table.column("id").to_numpy()
    rows = table.column("features").combine_chunks().flatten().to_numpy().reshape(len(ids), -1)
    order = np.argsort(ids)
    return ids[order], rows[order]


class ServingALSModel(ALSModel):
    """The fitted ALS model, scoring ``recommendForUserSubset`` on the
    driver. It wraps the same Java model as MLlib's `ALSModel`, so
    ``transform``, ``userFactors``, ``itemFactors``, ``recommendForAllUsers``
    and ``save`` are MLlib's own; only the subset path differs. The factors
    are pulled to the driver on the first subset call and held by the model
    (for the reference's rank 10: 40 bytes per user and per item); answers
    are never held."""

    _factors: tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray] | None = None

    def recommendForUserSubset(self, dataset: DataFrame, numItems: int) -> DataFrame:
        """Top ``numItems`` items for each distinct user id in ``dataset``'s
        user column: the same users, items and float32 scores as MLlib's
        subset plan, answered as a local frame (collecting it runs no job).

        - One Spark job reads the ids; scoring and the top-k run in NumPy.
          Each score sums factor products over the rank in float32 in the
          order of the JVM's sgemv, so it equals MLlib's bit for bit.
        - Ties: score descending, then item id ascending. MLlib leaves the
          order of equal scores open.
        - Cold start: a NULL id, or one the model was not fitted on, gets no
          row (as in MLlib's semi-join, ids compare by numeric value);
          duplicate ids give one row; rows come in ascending user id.
        - ``numItems`` at least the catalog size gives every item.
        - The subset's users x items score matrix is built at once on the
          driver: this is the path for serving-size subsets, and
          ``recommendForAllUsers`` stays the distributed batch path."""
        if numItems < 1:
            raise ValueError(f"numItems must be at least 1, got {numItems}")
        if self._factors is None:  # two racing first calls pull equal copies
            self._factors = (*_factor_matrix(self.userFactors), *_factor_matrix(self.itemFactors))
        user_ids, users, item_ids, items = self._factors

        rows = dataset.select(self.getUserCol()).collect()
        asked = np.unique(np.asarray([v for (v,) in rows if v is not None], dtype=np.float64))
        pos = np.minimum(np.searchsorted(user_ids, asked), len(user_ids) - 1)
        pos = pos[user_ids[pos] == asked]

        asking = users[pos]
        scores = np.zeros((len(pos), len(item_ids)), np.float32)
        for r in range(users.shape[1]):  # sgemv's order: one product, one sum per rank
            scores += asking[:, r, None] * items[:, r]
        best = top_k(scores, item_ids, numItems)

        top_scores = np.take_along_axis(scores, best, 1)
        recs = pa.StructArray.from_arrays(
            [pa.array(item_ids[best].ravel()), pa.array(top_scores.ravel())],
            names=[self.getItemCol(), "rating"],
        )
        offsets = pa.array(np.arange(len(pos) + 1, dtype=np.int32) * best.shape[1])
        answer = pa.table({
            self.getUserCol(): pa.array(user_ids[pos]),
            "recommendations": pa.ListArray.from_arrays(offsets, recs),
        })
        item = StructType(
            [StructField(self.getItemCol(), IntegerType()), StructField("rating", FloatType())]
        )
        mllib_schema = StructType([
            StructField(self.getUserCol(), IntegerType(), nullable=False),
            StructField("recommendations", ArrayType(item)),
        ])
        return dataset.sparkSession.createDataFrame(answer, schema=mllib_schema)


class ServingALS(ALS):
    """`ALS` whose fit returns a `ServingALSModel`."""

    def _create_model(self, java_model) -> ServingALSModel:
        return ServingALSModel(java_model)
