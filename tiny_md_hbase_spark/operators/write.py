"""Write-path operators (SURVEY.md §2.2): insert, table lifecycle, id-gen.

The reference inserts one point per client call — z-encode, floor-lookup
the bucket, ``Put``, atomically bump the bucket counter, maybe split
(``Client.insert``, ``Client.java:55-59``; 4+ RPCs per point). The Spark
shape is the batch/micro-batch append: z-encode the whole batch with
native expressions, append to the z-clustered table, then refresh the
index from scratch, or incrementally on the driver: route the batch with
a sorted floor lookup, bump exact counts (the reference's counters drift
on overwrites, SURVEY.md §1.3) and rebuild only overflowing buckets — a
few Spark jobs per batch instead of per-point RPCs. The streaming
wrapper lives in ``streaming/ingest.py``.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_md_hbase_spark.operators.index import (
    DEFAULT_THRESHOLD,
    MAX_DEPTH,
    floor_lookup_np,
    index_build,
    index_build_np,
)
from tiny_md_hbase_spark.sources.writer import with_zvalue
from tiny_md_hbase_spark.zorder import make_mask

__all__ = [
    "table_create",
    "table_drop",
    "insert_append",
    "insert_append_incremental",
    "refresh_index",
    "refresh_index_incremental",
    "with_generated_ids",
]

_POINTS_SCHEMA = "id long, x int, y int"
_INDEX_SCHEMA = "bucket_z long, pl int, size long"

# cap on the literal zvalue-range disjuncts pushed into the overflow
# re-read scan; see _overflow_window_cells
_MAX_SCAN_RANGES = 64


def table_create(spark: SparkSession, path: str) -> None:
    """Create an empty points table + seeded index (``Index.java:77-105``:
    data table + index table with the root bucket)."""
    empty = spark.createDataFrame([], _POINTS_SCHEMA)
    with_zvalue(empty).write.mode("errorifexists").parquet(f"{path}/points")
    index_build(empty).write.mode("overwrite").parquet(f"{path}/index")


def table_drop(path: str, spark: SparkSession | None = None) -> None:
    """Drop both tables (CLI ``drop``, ``Client.java:217-224``). A
    URI-scheme path (hdfs://, s3a://, file://) routes through the
    Hadoop FileSystem API and needs the ``spark`` handle; bare local
    paths keep the zero-dependency fast path."""
    if "://" in path:
        if spark is None:
            raise ValueError(
                f"table_drop({path!r}): URI-scheme paths need the spark "
                "handle to resolve the Hadoop FileSystem"
            )
        from tiny_md_hbase_spark.fsutil import fs_rmtree

        fs_rmtree(spark, path)
        return
    shutil.rmtree(path, ignore_errors=True)


def with_generated_ids(points: DataFrame) -> DataFrame:
    """Fill missing ids (``id_gen``: the reference draws random ints,
    ``Client.java:177-182``; we use the collision-free distributed
    generator)."""
    if "id" in points.columns:
        return points.withColumn(
            "id",
            F.coalesce(F.col("id"), F.monotonically_increasing_id()),
        )
    return points.withColumn("id", F.monotonically_increasing_id())


def _append_batch(path: str, batch: DataFrame) -> None:
    """The ONE encoding of the physical append, shared by both refresh
    strategies: ids filled, z-encoded, z-sorted *within the batch* (each
    new file carries tight zvalue min/max stats, so scans keep pruning);
    global re-cluster is a periodic compaction concern, exactly like
    HBase flushes + compactions in the reference's storage layer."""
    enc = with_zvalue(with_generated_ids(batch).select("id", "x", "y"))
    enc.sortWithinPartitions("zvalue").write.mode("append").parquet(f"{path}/points")


def insert_append(spark: SparkSession, path: str, batch: DataFrame) -> None:
    """Append a batch of points and refresh the index from scratch."""
    _append_batch(path, batch)
    refresh_index(spark, path)


def insert_append_incremental(spark: SparkSession, path: str, batch: DataFrame) -> dict:
    """:func:`insert_append` with O(batch) index maintenance: the same
    physical append, then :func:`refresh_index_incremental` instead of
    the from-scratch rebuild — the steady-state ingest path (the
    reference's insert→notifyInsertion→maySplit chain,
    ``Client.java:55-59`` / ``Index.java:175-230``, amortized to one
    batch job). Returns the incrementality stats dict."""
    _append_batch(path, batch)
    return refresh_index_incremental(spark, path, batch)


def refresh_index(
    spark: SparkSession, path: str, threshold: int = DEFAULT_THRESHOLD
) -> None:
    """Recompute the bucket index from the table state (exact; replaces
    the reference's drift-prone online counters)."""
    pts = spark.read.parquet(f"{path}/points")
    index_build(pts, threshold=threshold).write.mode("overwrite").parquet(
        f"{path}/index"
    )


def refresh_index_incremental(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    threshold: int = DEFAULT_THRESHOLD,
) -> dict:
    """Update the index for an appended batch touching only affected
    buckets — O(batch + overflowing-bucket windows), not O(table).

    The index is partitioner metadata, so this runs on the driver, the
    reference's per-point insert path (``Index.java:115-122``,
    ``175-230``) amortized to one micro-batch:

    1. Read the index into pandas, collect the batch's z-values once,
       route them with a sorted floor lookup (:func:`floor_lookup_np` —
       ``getRowOrBefore`` on a prefix-free cover) and add the counts.
       Buckets still within threshold are done — their entry is exact
       without reading the table.
    2. Each overflowing bucket is a closed subproblem (same property the
       two-phase builder exploits): collect ONLY the overflowing
       z-windows' rows from the (z-clustered, stats-pruned) table and
       rebuild all their subtrees in ONE multi-root
       :func:`index_build_np` call.
    3. Write the new index from the driver frame — a local relation, not
       a read of the parquet it replaces, so it needs no checkpoint.

    Equivalent to a full rebuild by construction: splitting is local to a
    bucket, and non-overflowing buckets are untouched by definition.

    Returns incrementality stats so callers/tests can observe the cost
    class without plan surgery: ``{"overflowed": n_buckets,
    "table_scanned": bool}`` — a batch that overflows nothing must never
    read the points table at all.
    """
    import numpy as np
    import pandas as pd

    index = (
        spark.read.schema(_INDEX_SCHEMA)
        .parquet(f"{path}/index")
        .toPandas()
        .sort_values("bucket_z", ignore_index=True)
    )
    z = with_zvalue(batch).select("zvalue").toPandas()["zvalue"]
    owner = floor_lookup_np(index["bucket_z"], index["pl"], z)
    index["size"] += np.bincount(owner, minlength=len(index))

    over = (index["size"] > threshold) & (index["pl"] < MAX_DEPTH)
    if over.any():
        windows = index[over]
        # declared schemas (index above, points here) skip footer inference
        pts = spark.read.schema("zvalue long").parquet(f"{path}/points")
        win = _overflow_window_cells(pts, list(windows.itertuples())).toPandas()
        rebuilt = index_build_np(
            win["zvalue"],
            np.ones(len(win), dtype=np.int64),
            threshold=threshold,
            root_z=windows["bucket_z"],
            root_pl=windows["pl"],
        )
        rebuilt = pd.DataFrame(rebuilt, columns=index.columns)
        index = pd.concat([index[~over], rebuilt])
    spark.createDataFrame(index, _INDEX_SCHEMA).write.mode("overwrite").parquet(
        f"{path}/index"
    )
    return {"overflowed": int(over.sum()), "table_scanned": bool(over.any())}


def _overflow_window_cells(pts: DataFrame, over_rows: list) -> DataFrame:
    """The stored rows ``(wb, wpl, zvalue)`` of the overflowing buckets'
    z-windows, each tagged with its window — unaggregated: each window
    held ≤ threshold points before the batch, so rows are few anyway.

    The windows are applied twice on purpose: once as a LITERAL
    disjunction of ``zvalue BETWEEN`` predicates — over_rows is already
    collected, and only a literal filter reaches the parquet readers
    (PushedFilters on the stored ``zvalue`` of the z-clustered layout),
    so at 100 TB the rebuild reads the few files/row groups each window
    overlaps instead of scanning the table into a join — and once as the
    prefix equi-join of :func:`floor_lookup_batch` that labels each
    surviving row (the windows are disjoint leaves of a prefix-free
    cover, so a row's window is the one with ``wb == zvalue & mask(wpl)``):
    O(rows × distinct pls), not a nested loop's O(rows × windows).

    The literal filter is a SUPERSET prefilter (the join still assigns
    exact windows), so it may be safely coarsened: overlapping/adjacent
    windows are merged, and at most ``_MAX_SCAN_RANGES`` disjuncts are
    emitted (beyond that, neighbors share a disjunct spanning the gap).
    Without the cap a batch that overflows thousands of buckets builds a
    thousands-deep OR tree — StackOverflowError in Catalyst and a
    filter too wide to push anyway."""
    from functools import reduce

    import pandas as pd

    spark = pts.sparkSession
    bounds = sorted(
        (int(r.bucket_z), int(r.pl), int(r.bucket_z) + (1 << (64 - int(r.pl))) - 1)
        for r in over_rows
    )
    # via pandas: Arrow, not a Python worker, feeds the broadcast
    windows = spark.createDataFrame(
        pd.DataFrame([b[:2] for b in bounds], columns=["wb", "wpl"]),
        "wb long, wpl int",
    )

    merged: list[list[int]] = []
    for wb, _, wend in bounds:
        if merged and wb <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], wend)
        else:
            merged.append([wb, wend])
    if len(merged) > _MAX_SCAN_RANGES:
        # keep range starts, widen each kept range to its group's end
        step = -(-len(merged) // _MAX_SCAN_RANGES)
        merged = [
            [grp[0][0], grp[-1][1]]
            for grp in (
                merged[i : i + step] for i in range(0, len(merged), step)
            )
        ]
    pred = reduce(
        lambda a, b: a | b,
        [
            (F.col("zvalue") >= lo) & (F.col("zvalue") <= hi)
            for lo, hi in merged
        ],
    )
    pls = sorted({wpl for _, wpl, _ in bounds})
    cand = (
        with_zvalue(pts)
        .filter(pred)
        .withColumn("wpl", F.explode(F.array(*[F.lit(p) for p in pls])))
        .withColumn("wb", F.col("zvalue").bitwiseAND(make_mask(F.col("wpl"))))
    )
    return cand.join(F.broadcast(windows), ["wb", "wpl"]).select(
        "wb", "wpl", "zvalue"
    )
