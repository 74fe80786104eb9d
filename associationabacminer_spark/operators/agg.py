"""The two-stage sketch aggregation harness: per-partition build ->
tree merge, with content-hash grouping and a lineage ledger.

This formalizes the reference's hand-rolled partial-aggregation shape —
``Pool.starmap_async(calc_hashes, chunks, callback=merge_into_set)``
(/root/reference/src/model/EnvParamGenerators.py:112-138, callback
/root/reference/src/eval/EnvPolicyEvaluator.py:192-199) and its
largest-dimension chunking (/root/reference/src/model/EnvParamGenerators.py:117-135)
— as an idiomatic Spark pipeline:

    stage 1 (build):  df.withColumn(group_id, content hash)
                        .groupBy(group_id).applyInPandas(build)
                      -> lineage rows (group_id, sketch_name, row_count,
                         sketch binary, wall_time_s)
    stage 2 (merge):  grouped tree merge with fanout F until <= F rows,
                      then a driver-side final fold.

Scale notes (100 TB / 1000 executors):
- The only wide exchange is the stage-1 groupBy on ``group_id`` — a
  *uniform* integer key (content hash), so no skew regardless of how
  hot a conversation is; sketches are order-insensitive so splitting a
  conversation across groups is safe (SURVEY.md §7.4 hard part 4).
- Shuffle payload after stage 1 is G x (few KiB..16 KiB) binary states,
  not data rows — the tree merge moves megabytes, not terabytes.
- All kernels update via numpy over Arrow batches: no per-row Python.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from itertools import groupby
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "group_id int, sketch_name string, row_count long, sketch binary, wall_time_s double"
)
_LINEAGE_COLS = ["group_id", "sketch_name", "row_count", "sketch", "wall_time_s"]

_GROUP_COL = "__sketch_group__"

# tree_merge: partial states merged per level, and the state count per
# sketch at or under which the driver folds the rest
FANOUT = 16
DRIVER_THRESHOLD = 64

# Sentinel standing in for NULL in int64 key columns: a nullable int64
# column crosses Arrow->pandas as float64, destroying the low bits of
# 64-bit hashes.  Encoding NULL as Long.MIN_VALUE keeps the column
# null-free (stays int64) and the build filters it out numpy-side.
NULL_SENTINEL = -(2**63)


@dataclass
class SketchSpec:
    """One sketch to build: kernel factory + the input column it consumes.

    ``column`` may be any column of the pre-projected input DataFrame;
    prepare derived values (e.g. inter-turn latency via a lag window)
    with ordinary Spark expressions *before* ``build_sketches`` so the
    heavy lifting stays JVM-side.

    ``prehash=True`` (key-type sketches: HLL/CMS/Bloom) hashes the key
    column JVM-side with codegen'd ``xxhash64`` and ships only int64
    through Arrow — measured here, string columns through the Arrow
    boundary anti-scale under many concurrent Python workers while int64
    columns scale, and the transfer is several times smaller.  Query
    keys must then be hashed with ``sketch.xxhash.xxh64_keys`` (bit-for-
    bit Spark parity, tested)."""

    name: str
    factory: Callable[[], object]  # () -> kernel with update_batch/merge/serde
    column: str
    kernel_cls: type = None  # type: ignore[assignment]
    dropna: bool = True
    prehash: bool = False
    null_value: int | None = None  # sentinel-encoded NULL for int64 key cols
    params: dict = field(default_factory=dict)

    def make(self):
        return self.factory(**self.params) if self.params else self.factory()


def _projected(df: DataFrame, specs: list[SketchSpec], *lead):
    """Project the ``lead`` columns and exactly the input columns the
    specs consume, pre-hashing key columns JVM-side for ``prehash``
    specs.  Returns (projected_df, spec_list), one spec_list entry per
    spec: (name, make, input column, dropna, NULL sentinel, update_batch
    keyword arguments)."""
    cols: dict[str, object] = {}
    spec_list = []
    for s in specs:
        if s.prehash:
            name = f"__xxh_{s.column}__"
            # NULL -> sentinel keeps the column int64 across Arrow
            cols.setdefault(
                name,
                F.when(F.col(s.column).isNotNull(), F.xxhash64(s.column)).otherwise(
                    F.lit(NULL_SENTINEL)
                ),
            )
            sentinel, kw = NULL_SENTINEL, {"prehashed": True}
        else:
            name = s.column
            cols.setdefault(name, F.col(name))
            sentinel, kw = s.null_value, {}
        spec_list.append((s.name, s.make, name, s.dropna, sentinel, kw))
    return df.select(*lead, *[v.alias(k) for k, v in cols.items()]), spec_list


def _clean(col, dropna: bool, sentinel):
    """Series -> numpy array with nulls removed: sentinel filter for
    int64 key columns (kept int64 across Arrow), dropna otherwise."""
    if sentinel is not None:
        arr = col.to_numpy()
        return arr[arr != sentinel]
    if dropna:
        col = col.dropna()
    return col.to_numpy()


def _fold(acc: dict, pdf: pd.DataFrame, spec_list) -> dict:
    """Fold one pandas batch into ``acc`` ({name: (kernel, rows, secs)}),
    making each spec's kernel on first use: one ``update_batch`` per
    spec per batch."""
    for name, make, column, dropna, sentinel, kw in spec_list:
        t0 = time.perf_counter()
        kernel, rows, secs = acc[name] if name in acc else (make(), 0, 0.0)
        arr = _clean(pdf[column], dropna, sentinel)
        if len(arr):
            kernel.update_batch(arr, **kw)
        acc[name] = (kernel, rows + len(arr), secs + time.perf_counter() - t0)
    return acc


def _states(acc: dict) -> list[tuple]:
    """(sketch_name, row_count, serialized sketch, wall_time_s) per spec."""
    return [(n, rows, k.serialize(), secs) for n, (k, rows, secs) in acc.items()]


def _deserializers(specs) -> dict:
    """{sketch_name: deserialize} for every spec."""
    return {s.name: (s.kernel_cls or type(s.make())).deserialize for s in specs}


def _merged(blobs, deserialize):
    """Fold a pre-sorted sequence of serialized states left to right with
    the kernel's merge, deserializing each state once."""
    acc = None
    for blob in blobs:
        k = deserialize(bytes(blob))
        acc = k if acc is None else type(k).merge(acc, k)
    return acc


def _merge_states(pdf: pd.DataFrame, order: str, deser: dict, keep=()) -> pd.DataFrame:
    """One applyInPandas group of one sketch's serialized states -> one
    row: the ``keep`` columns of the first row in ``order`` (a fixed
    merge order keeps merged states byte-reproducible), the summed
    row_count (and wall_time_s, when present) and the merged state."""
    pdf = pdf.sort_values(order, kind="stable")
    name = pdf["sketch_name"].iloc[0]
    out = {c: [pdf[c].iloc[0]] for c in keep}
    out["sketch_name"] = [name]
    out["row_count"] = [int(pdf["row_count"].sum())]
    out["sketch"] = [_merged(pdf["sketch"], deser[name]).serialize()]
    if "wall_time_s" in pdf:
        out["wall_time_s"] = [float(pdf["wall_time_s"].sum())]
    return pd.DataFrame(out)


def build_sketches(
    df: DataFrame,
    specs: list[SketchSpec],
    num_groups: int | None = None,
    only_groups: list[int] | None = None,
    method: str = "map",
) -> DataFrame:
    """Stage 1: one pass over the data builds every spec's sketch per
    group; returns the lineage DataFrame (LINEAGE_SCHEMA).

    ``method='map'`` (default): per-input-partition ``mapInPandas`` build
    — ZERO extra shuffle; group id = spark_partition_id, streaming over
    Arrow batches (never materializes a whole group in memory).  This is
    the treeAggregate shape and the 100 TB default.  Deterministic for a
    fixed input + partitioning (resume contract).  The group count is
    the input partition count, so ``num_groups`` is refused here.

    ``method='group'``: explicit ``groupBy(group id).applyInPandas`` into
    ``num_groups`` groups (default twice the default parallelism) keyed
    by a deterministic content hash of the spec columns — use when the
    build needs a fixed group count, e.g. for a ledger.

    ``only_groups`` restricts the build to the listed group ids (the
    resume path: rebuild only partitions missing from the ledger).
    """
    if method == "map" and num_groups is not None:
        raise ValueError(
            "num_groups sets the group count of method='group'; the map "
            "build has one group per input partition"
        )
    proj, spec_list = _projected(df, specs)
    if method == "map":
        tagged = proj.withColumn(_GROUP_COL, F.spark_partition_id())
    else:
        if num_groups is None:
            num_groups = df.sparkSession.sparkContext.defaultParallelism * 2
        # deterministic uniform content-hash grouping: perfect balance for
        # order-insensitive sketches, identical across reruns (resume)
        tagged = proj.withColumn(
            _GROUP_COL,
            F.pmod(F.xxhash64(*sorted(proj.columns)), F.lit(num_groups)).cast("int"),
        )
    if only_groups is not None:
        tagged = tagged.filter(F.col(_GROUP_COL).isin([int(g) for g in only_groups]))

    def frame(gid: int, acc: dict) -> pd.DataFrame:
        return pd.DataFrame([(gid, *st) for st in _states(acc)], columns=_LINEAGE_COLS)

    if method == "map":

        def build_stream(batches):
            acc: dict = {}
            gid = -1
            for pdf in batches:
                if len(pdf):
                    gid = int(pdf[_GROUP_COL].iloc[0])
                    _fold(acc, pdf, spec_list)
            if acc:
                yield frame(gid, acc)

        return tagged.mapInPandas(build_stream, schema=LINEAGE_SCHEMA)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        gid = int(pdf[_GROUP_COL].iloc[0]) if len(pdf) else -1
        return frame(gid, _fold({}, pdf, spec_list))

    return tagged.groupBy(_GROUP_COL).applyInPandas(build, schema=LINEAGE_SCHEMA)


def tree_merge(
    lineage: DataFrame,
    specs: list[SketchSpec],
    n_states: int | None = None,
) -> dict[str, object]:
    """Stage 2: grouped tree merge, FANOUT states into one, until the
    number of partial states per sketch is <= DRIVER_THRESHOLD, then a
    final driver-side fold.  Returns {sketch_name: kernel}."""
    deser = _deserializers(specs)

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # sorted by source group for a deterministic merge order (resume
        # byte-identity); merge is associative/commutative so the estimate
        # is invariant either way
        return _merge_states(pdf, "group_id", deser, keep=("group_id",))

    persisted = None
    if n_states is None:
        # Upper bound on distinct group ids without running a job: the
        # map build's group id is spark_partition_id, so the lineage has
        # at most one group per input partition.  When that bound already
        # fits under DRIVER_THRESHOLD the tree loop cannot run for ANY
        # actual count <= bound, so the counting job (and the persist
        # that backed it) is pure overhead — the single collect below
        # then consumes the build exactly once, fully pipelined.
        try:
            bound = lineage.rdd.getNumPartitions()
        except Exception:
            bound = None
        if bound is not None and bound <= DRIVER_THRESHOLD:
            n_states = bound
        else:
            # the lineage is tiny (G x n_specs rows); persist so the
            # count does not recompute the whole build
            persisted = lineage = lineage.persist()
            n_states = lineage.select(
                F.countDistinct("group_id").alias("g")
            ).collect()[0]["g"]
    current = lineage
    while n_states > DRIVER_THRESHOLD:
        n_next = max(1, (n_states + FANOUT - 1) // FANOUT)
        current = (
            current.withColumn(
                "__bucket__", F.pmod(F.col("group_id"), F.lit(n_next)).cast("int")
            )
            .groupBy("__bucket__", "sketch_name")
            .applyInPandas(merge_group, schema=LINEAGE_SCHEMA)
        )
        n_states = n_next

    rows = sorted(
        current.collect(), key=lambda r: (r["sketch_name"], r["group_id"])
    )
    if persisted is not None:
        persisted.unpersist()
    return {
        name: _merged((r["sketch"] for r in group), deser[name])
        for name, group in groupby(rows, key=lambda r: r["sketch_name"])
    }


def sketch_aggregate(
    df: DataFrame,
    specs: list[SketchSpec],
    num_groups: int | None = None,
    method: str = "map",
) -> dict[str, object]:
    """build_sketches + tree_merge in one call -> {name: kernel}."""
    if method == "group" and num_groups is None:
        num_groups = df.sparkSession.sparkContext.defaultParallelism * 2
    lineage = build_sketches(df, specs, num_groups=num_groups, method=method)
    return tree_merge(lineage, specs, n_states=num_groups)
