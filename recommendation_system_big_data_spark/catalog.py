"""Table catalog for the driver-generated testdata (TESTDATA.md), and the
engine's one session cache.

The reference hand-loads CSVs with explicit StructTypes (model-als.py:17-103);
here the primary at-rest format is Parquet (columnar, statistics, predicate
pushdown — the right 100 TB format), with the CSV conventions preserved in
`sources/csv.py` for ingestion parity.

Session cache contract (`SESSION_CACHE`):

- **Key**: the Spark application id plus a caller key (`("load", path)`,
  `("query", name, sf_dir)`, `("shingle_index", sf_dir)`, ...). Entries of
  any other application (a stopped session) are dropped on the next lookup.
  `SessionCache.get_for` keys a value on DataFrames instead: their analysed
  plans, hashed by ``semanticHash`` and confirmed by ``sameSemantics``.
- **Fingerprint**: every entry also holds (path, size, mtime_ns) of every
  file under each input it was built from — its own inputs and, through
  nested lookups, those of every entry its build used. A lookup re-stats
  those files and rebuilds when anything changed, so an input rewritten in
  the same session is never served stale. Inputs are local paths or
  ``file:`` URIs (the form Spark reports); an input the local file system
  cannot see, or one under any other scheme, is never cached.
- **Bound**: at most `SessionCache.MAX_ENTRIES` entries, least recently used
  evicted first; an evicted or stale persisted frame is unpersisted, and
  every entry whose build looked it up goes with it, so a held plan never
  outlives the persisted frame it reads (it would recompute the frame from
  its lineage on every call).
- **Users**: `load` (the listing and parquet schema-inference job are
  saved; the scan runs on every execution), the registry's prepared plans
  for queries tagged pure (re-executed through a fresh QueryExecution on
  each call, never reused), the dedup shingle index / hot-shingle set, the
  BM25 inverted index (`functions/text.py`), the fitted IVF / coarse / PQ
  models, and, keyed on frames, the recommender's fitted ALS models and
  per-item enrichment index, a driver-side Arrow table
  (`operators/recommend.py`).
- **Held plans**: a plan is held only when every leaf of it reads files or
  no data at all (`frame_inputs`); a plan over an RDD (``localCheckpoint``,
  ``createDataFrame``) would reuse its materialised data, and a source whose
  files are unknown could go stale, so both run unheld.
- **Never cached**: query results, `.cache()` of a query's output, and
  per-request answers.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from dataclasses import dataclass
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recommendation_system_big_data_spark.session import ensure_runtime_conf

#: Every driver-provided table (TESTDATA.md / FIXTURES.md §B).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _local_path(path: str) -> str | None:
    """``path`` on the local file system: itself, or the path of a ``file:``
    URI (the form ``DataFrame.inputFiles()`` returns); None for any other
    scheme."""
    url = urlparse(path)
    if not url.scheme:
        return path
    if url.scheme == "file" and url.netloc in ("", "localhost"):
        return unquote(url.path)
    return None


def _file_stats(path: str) -> tuple | None:
    """(file, size, mtime_ns) of every file under the local ``path`` (the
    file itself when it is one); None when the local file system cannot see
    it."""
    if os.path.isdir(path):
        files = sorted(os.path.join(root, f) for root, _, fs in os.walk(path) for f in fs)
    elif os.path.exists(path):
        files = [path]
    else:
        return None
    return tuple((f, (st := os.stat(f)).st_size, st.st_mtime_ns) for f in files)


def _merge(into: dict, fingerprint: dict) -> None:
    """Add ``fingerprint`` to ``into``; a path seen with two different
    stats (rewritten mid-build) becomes None, which never matches."""
    for path, stats in fingerprint.items():
        if path in into and into[path] != stats:
            stats = None
        into[path] = stats


#: Analysed-plan leaves that read no data (their rows sit in the plan).
_DATALESS_LEAVES = ("LocalRelation", "Range", "OneRowRelation")


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def frame_inputs(df: DataFrame) -> tuple[str, ...] | None:
    """The root paths of every file source ``df``'s analysed plan reads
    (subqueries included), as Spark reports them; None when the plan may
    not be held: a leaf reads an RDD (re-running a held plan would reuse its
    materialised data) or a source whose files are unknown. The analysed
    plan is read, not ``inputFiles()``, which reports nothing for a
    ``.cache()``d frame; a root path covers files added under it later."""
    plan = df._jdf.queryExecution().analyzed()
    roots: set[str] = set()
    for p in [plan] + _seq(plan.subqueriesAll()):
        for leaf in _seq(p.collectLeaves()):
            name = leaf.nodeName()
            if name in _DATALESS_LEAVES:
                continue
            if name != "LogicalRelation":
                return None
            relation = leaf.relation()
            if relation.getClass().getSimpleName() != "HadoopFsRelation":
                return None
            roots.update(path.toString() for path in _seq(relation.location().rootPaths()))
    return tuple(sorted(roots))


def preparable(df: DataFrame) -> bool:
    """Whether ``df``'s plan may be held and re-executed (`frame_inputs`)."""
    return frame_inputs(df) is not None


class _Plans:
    """Cache-key part naming DataFrames by their analysed plans: hashed by
    ``semanticHash``, equal when every plan has the same semantics, so a
    hash collision can never hand one plan's value to another."""

    def __init__(self, frames: tuple[DataFrame, ...]) -> None:
        self.frames = frames
        self._hash = hash(tuple(df.semanticHash() for df in frames))

    def __hash__(self) -> int:
        return self._hash

    def __eq__(self, other: object) -> bool:
        return isinstance(other, _Plans) and all(
            a.sameSemantics(b) for a, b in zip(self.frames, other.frames)
        )


@dataclass
class _Entry:
    value: object
    fingerprint: dict  # input path → _file_stats at build time
    persisted: bool  # the build persisted the frame; unpersist on drop
    deps: set  # keys of the entries the build looked up


class SessionCache:
    """Input-fingerprinted LRU memo of values a session derives from its
    input files (see the module docstring for the contract)."""

    #: Live entries across every user. One input set needs ~30: 10 table
    #: loads, one plan per pure query, 3 model kinds and 2 shingle frames;
    #: the test suite interleaves three or four sets, and evicting a model
    #: or index makes the next probe refit it.
    MAX_ENTRIES = 128

    def __init__(self) -> None:
        self._entries: OrderedDict[tuple, _Entry] = OrderedDict()
        self._lock = threading.Lock()
        # per thread: one entry per build in progress
        self._building = threading.local()

    def __len__(self) -> int:
        return len(self._entries)

    def __contains__(self, key: tuple) -> bool:
        return key in self._entries

    def get(
        self,
        spark: SparkSession,
        key: tuple,
        build: Callable[[], object],
        inputs: tuple[str, ...] = (),
    ):
        """``build()``'s value for ``key``, built once while the fingerprint
        of ``inputs`` and of the entries ``build`` looks up still matches.
        A build may look up other entries (nested builds)."""
        app = spark.sparkContext.applicationId
        full = (app,) + key
        with self._lock:
            for k in [k for k in self._entries if k[0] != app]:
                del self._entries[k]  # stopped session: nothing to unpersist
            entry = self._entries.get(full)
        if entry is not None:
            changed = {p for p, s in entry.fingerprint.items() if _file_stats(p) != s}
            if changed:
                # Spark matches cached plans by path, not by file contents:
                # every persisted frame over a changed path goes before
                # anything is rebuilt, or the rebuild would read its data.
                self._drop(lambda e: not changed.isdisjoint(e.fingerprint))
                entry = None
        if entry is None:
            entry = self._build(build, inputs)
            if None not in entry.fingerprint.values():
                with self._lock:
                    old = self._entries.pop(full, None)
                    doomed = [] if old is None else [(full, old)]
                    self._entries[full] = entry
                    while len(self._entries) > self.MAX_ENTRIES:
                        doomed.append(self._entries.popitem(last=False))
                    # and every entry built on a dropped persisted frame
                    gone = {k for k, e in doomed if e.persisted}
                    while gone:
                        gone = {k for k, e in self._entries.items() if not gone.isdisjoint(e.deps)}
                        doomed += [(k, self._entries.pop(k)) for k in gone]
                _unpersist([e for _, e in doomed])
        else:
            with self._lock:
                if full in self._entries:
                    self._entries.move_to_end(full)
        for outer in self._stack():
            _merge(outer.fingerprint, entry.fingerprint)
            outer.deps.add(full)
        return entry.value

    def get_for(self, kind: str, frames: tuple[DataFrame, ...], build: Callable[[], object]):
        """``build()``'s value for the analysed plans of ``frames``, held
        like ``get``'s with the files those plans read as its inputs; None
        when a frame's plan may not be held (`frame_inputs`) or the local
        file system cannot see its files, and the caller then runs its
        program unheld (so a build that persists never leaks an untracked
        frame)."""
        inputs = [frame_inputs(df) for df in frames]
        if None in inputs:
            return None
        files = tuple(sorted(set().union(*inputs)))
        if any((local := _local_path(f)) is None or _file_stats(local) is None for f in files):
            return None
        return self.get(frames[0].sparkSession, (kind, _Plans(frames)), build, files)

    def clear(self) -> None:
        """Drop every entry, unpersisting persisted frames (call with the
        owning session still running)."""
        self._drop(lambda e: True)

    def _drop(self, doomed: Callable[[_Entry], bool]) -> None:
        with self._lock:
            keys = [k for k, e in self._entries.items() if doomed(e)]
            dropped = [self._entries.pop(k) for k in keys]
        _unpersist(dropped)

    def _stack(self) -> list[_Entry]:
        return self._building.__dict__.setdefault("stack", [])

    def _build(self, build: Callable[[], object], inputs: tuple[str, ...]) -> _Entry:
        # inputs are stat'ed before the build reads them, so a rewrite
        # during the build shows as a change on the next lookup
        entry = _Entry(None, {}, False, set())
        for p in inputs:
            local = _local_path(p)
            entry.fingerprint[local or p] = None if local is None else _file_stats(local)
        stack = self._stack()
        stack.append(entry)
        try:
            entry.value = build()
        finally:
            stack.pop()
        entry.persisted = bool(getattr(entry.value, "is_cached", False))
        return entry


def _unpersist(entries: list[_Entry]) -> None:
    # Non-blocking: lineage recomputes if a straggler still holds the old
    # frame; blocks drain in the background.
    for e in entries:
        if e.persisted:
            e.value.unpersist(blocking=False)


SESSION_CACHE = SessionCache()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame, memoised in `SESSION_CACHE`
    while the table's files are unchanged (the runtime conf is re-applied
    on every call, hit or miss). Each call gets its own DataFrame over the
    held plan: a Dataset fixes its physical plan on first use, so handing
    every caller the same one would leak one caller's ``.cache()`` (and
    later ``unpersist()``) into everyone's execution.

    `events.ts` has been generated differently across driver rounds: parquet
    TIMESTAMP(NANOS) (→ bigint under `spark.sql.legacy.parquet.nanosAsLong`,
    converted here with integer division — a double division would lose
    precision above 2^53 ns), and plain TIMESTAMP_NTZ micros (round 4+),
    which Spark maps natively. Timestamp columns are kept as whatever naive
    (NTZ) type they arrive as; epoch math must go through `epoch_us`/
    `epoch_s` below, which are timezone-agnostic and accept both NTZ and
    instant inputs.
    """
    ensure_runtime_conf(spark)
    path = f"{sf_dir}/{name}.parquet"

    def read() -> DataFrame:
        df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df

    return SESSION_CACHE.get(spark, ("load", path), read, (path,)).select("*")


def epoch_us(col) -> F.Column:
    """Epoch microseconds of a timestamp column, timezone-agnostic.

    The driver's testdata stores naive timestamps (TIMESTAMP_NTZ in round
    4+), which DuckDB also reads as naive TIMESTAMP — so oracle-parity epoch
    math must not route through the session timezone. `F.unix_micros`
    requires an instant (fails on NTZ outright) and would skew under a
    non-UTC driver session; `timestamp_diff` against the NTZ epoch is exact
    integer microseconds for either input type (instants are cast to NTZ
    via the session zone, which `ensure_runtime_conf` pins to UTC).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        c.cast("timestamp_ntz"),
    )


def epoch_s(col) -> F.Column:
    """Epoch seconds (truncated) of a timestamp column — see `epoch_us`.

    Matches `unix_timestamp` / DuckDB `floor(epoch(ts))` semantics for
    post-1970 data (timestamp_diff truncates toward zero).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "SECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        c.cast("timestamp_ntz"),
    )


#: Mirror of spark.sql.autoBroadcastJoinThreshold's intent, applied where a
#: *logical* hint would otherwise be unconditional (VERDICT r1 #2).
#: Compressed parquet expands ~5-10x when decoded into the JVM broadcast
#: relation (dictionary/RLE undone, object headers), so the at-rest gate is
#: the broadcast budget divided by that expansion — 8 MB of parquet ≈ the
#: 64 MB in-memory intent, rather than letting a "64 MB" parquet gate admit
#: ~0.5 GB broadcasts (ADVICE r2).
PARQUET_BROADCAST_EXPANSION = 8
BROADCAST_THRESHOLD_BYTES = (64 * 1024 * 1024) // PARQUET_BROADCAST_EXPANSION


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk size of a testdata table (single parquet file per table)."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
        )
    return os.path.getsize(path)


def maybe_broadcast(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Broadcast-hint ``df`` only when its at-rest size is provably small.

    An unconditional ``F.broadcast`` on a dimension that *grows with the
    scale factor* (customer is 1.5 M rows/SF) forces an OOM-or-die broadcast
    at 100×; gating on the parquet footprint keeps the hint for genuinely
    small tables and otherwise leaves the strategy to AQE's runtime
    statistics, matching the discipline in queries/tpch.py (hint only
    provably-small filtered dims)."""
    if table_bytes(sf_dir, name) <= BROADCAST_THRESHOLD_BYTES:
        return F.broadcast(df)
    return df


def min_parallelism(
    df: DataFrame, spark: SparkSession, parts: int | None = None
) -> DataFrame:
    """Small-input parallelization guard for heavy per-row map stages.

    A narrow scan (one small parquet file, or a selective filter of one)
    plans as 1-3 input splits, and every map-side stage downstream of it
    — n-gram explodes, hash fan-outs, sketch dot products — inherits
    that partitioning until the first exchange, serializing work that is
    embarrassingly parallel (the permutation test measured 9.2 s → 2.1 s
    from exactly this). Round-robin repartition ONLY when the current
    partitioning is below the session parallelism: at production scale
    inputs arrive already split and this is a pure no-op (no exchange in
    the plan); at fixture scale it moves n small rows to parallelize the
    Θ(fan-out·n) compute that follows. Apply it where the map work per
    row is heavy — never blanket-apply to cheap scans, where the extra
    exchange is pure loss.

    CONTRACT (r12, per r11 ADVICE): the input must be a LEAF SCAN — a
    `load(...)` result, optionally filtered/projected, with no shuffle
    below it. Probing partition count via `df.rdd` finalizes the
    physical plan and converts to an RDD; below a shuffle that bypasses
    AQE and the RDD count need not match the runtime split count, so
    for any plan containing a shuffle-producing operator this helper
    now declines to probe and returns the input unchanged (the exchange
    that operator already inserts restores parallelism by itself). For
    a pure scan subtree the RDD partition count IS the scan split count
    (no AQE stage boundary exists to re-plan), so the probe is exact."""
    plan = df._jdf.queryExecution().analyzed().toString()
    shuffley = (
        "Join", "Aggregate", "Repartition", "Window", "Sort",
        "Distinct", "Deduplicate", "Union", "GlobalLimit",
    )
    if any(op in plan for op in shuffley):
        return df
    want = parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so `spark.sql(...)` works too."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
