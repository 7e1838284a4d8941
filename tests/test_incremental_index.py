"""Incremental index refresh: equivalence with a full rebuild across
append sequences, including splits triggered by the increment."""

from __future__ import annotations

import random
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tiny_md_hbase_spark.operators import index as IX
from tiny_md_hbase_spark.operators import write as W
from tiny_md_hbase_spark.sources import points


@pytest.fixture()
def tmp_table():
    d = tempfile.mkdtemp(prefix="tmh_inc_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _index_set(spark, path):
    return sorted(
        (r.bucket_z, r.pl, r.size)
        for r in spark.read.parquet(f"{path}/index").collect()
    )


def _full_set(spark, path):
    pts = spark.read.parquet(f"{path}/points").select("id", "x", "y")
    return sorted(
        (r.bucket_z, r.pl, r.size) for r in IX.index_build(pts).collect()
    )


def test_incremental_matches_full_rebuild(spark, sf_dir, tmp_table):
    path = f"{tmp_table}/t"
    base = points(spark, sf_dir).limit(2000)
    W.table_create(spark, path)
    # initial load with full refresh
    enc = W.with_generated_ids(base).select("id", "x", "y")
    from tiny_md_hbase_spark.sources.writer import with_zvalue

    with_zvalue(enc).sortWithinPartitions("zvalue").write.mode("append").parquet(
        f"{path}/points"
    )
    W.refresh_index(spark, path)

    # three appends, each refreshed incrementally
    rest = points(spark, sf_dir).subtract(base)
    batches = [
        rest.limit(500),
        spark.createDataFrame(
            [(10_000 + i, 77, 99) for i in range(25)], "id long, x int, y int"
        ),  # pile-up on one cell: forces deep splits incl. the depth cap
        spark.createDataFrame(
            [(20_000 + i, i % 50, (i * 3) % 50) for i in range(300)],
            "id long, x int, y int",
        ),
    ]
    for b in batches:
        enc_b = W.with_generated_ids(b).select("id", "x", "y")
        with_zvalue(enc_b).sortWithinPartitions("zvalue").write.mode(
            "append"
        ).parquet(f"{path}/points")
        W.refresh_index_incremental(spark, path, b)
        assert _index_set(spark, path) == _full_set(spark, path)


def test_insert_append_incremental_wrapper(spark, sf_dir, tmp_table):
    """insert_append_incremental = z-sorted batch append + incremental
    refresh in one call; the resulting table state and index must match
    a from-scratch build over everything (the write_path_refresh
    queries() entry drives the same chain under the DuckDB oracle)."""
    path = f"{tmp_table}/t4"
    pts = points(spark, sf_dir).limit(1500)
    W.table_create(spark, path)
    W.insert_append(spark, path, pts.filter(F.col("id") % 3 != 0))
    stats = W.insert_append_incremental(
        spark, path, pts.filter(F.col("id") % 3 == 0)
    )
    assert set(stats) == {"overflowed", "table_scanned"}
    assert spark.read.parquet(f"{path}/points").count() == pts.count()
    assert _index_set(spark, path) == _full_set(spark, path)


def test_incremental_no_overflow_touches_nothing_heavy(spark, tmp_table):
    path = f"{tmp_table}/t2"
    W.table_create(spark, path)
    first = spark.createDataFrame(
        [(i, i, i) for i in range(5)], "id long, x int, y int"
    )
    W.insert_append(spark, path, first)  # full refresh inside
    # append 3 points that keep every bucket under threshold
    b = spark.createDataFrame(
        [(100, 1000, 1000), (101, 2000, 2000), (102, 3000, 3000)],
        "id long, x int, y int",
    )
    from tiny_md_hbase_spark.sources.writer import with_zvalue

    with_zvalue(b).write.mode("append").parquet(f"{path}/points")
    stats = W.refresh_index_incremental(spark, path, b)
    assert stats == {"overflowed": 0, "table_scanned": False}
    assert _index_set(spark, path) == _full_set(spark, path)
    total = spark.read.parquet(f"{path}/index").agg(F.sum("size")).collect()[0][0]
    assert total == 8


def test_incremental_no_overflow_never_reads_points(spark, tmp_table):
    """Physical proof of O(batch), not O(table): with no overflowing
    bucket the refresh must complete WITHOUT opening the points table —
    here the table directory is removed before the refresh, so any
    regression that re-reads it fails with a missing-path error instead
    of silently scanning 100 TB per micro-batch."""
    path = f"{tmp_table}/t3"
    W.table_create(spark, path)
    first = spark.createDataFrame(
        [(i, i * 11 % 4096, i * 29 % 4096) for i in range(8)],
        "id long, x int, y int",
    )
    W.insert_append(spark, path, first)
    before = _index_set(spark, path)
    shutil.rmtree(f"{path}/points")  # no one may look at the table now
    b = spark.createDataFrame([(900, 3500, 3500)], "id long, x int, y int")
    stats = W.refresh_index_incremental(spark, path, b)
    assert stats == {"overflowed": 0, "table_scanned": False}
    after = _index_set(spark, path)
    assert sum(s for _, _, s in after) == sum(s for _, _, s in before) + 1


def test_overflow_window_scan_pushes_literal_zvalue_filter(spark, tmp_table):
    """The overflow re-read must prune at the parquet scan: the z-windows
    are applied as a literal zvalue disjunction (PushedFilters), not only
    as the window-assign join predicate — a join predicate prunes no
    files, which at 100 TB means a full table scan per refresh."""
    from tiny_md_hbase_spark import plans as P
    from tiny_md_hbase_spark.sources.writer import write_points_zsorted

    pts = spark.createDataFrame(
        [(i, i % 4096, (i * 7) % 4096) for i in range(4000)],
        "id long, x int, y int",
    )
    zdir = f"{tmp_table}/zpts"
    write_points_zsorted(pts, zdir, num_partitions=8)
    stored = spark.read.parquet(zdir)

    class Over:
        bucket_z, pl = 0, 8

    q = W._overflow_window_cells(stored, [Over()])
    pushed = " ".join(P.pushed_filters(q))
    assert "zvalue" in pushed, pushed
    assert P.broadcast_join_count(q) >= 1


def _seed(spark, path, n=4000, seed=11):
    rng = random.Random(seed)
    rows = [(i, rng.randint(0, 500), rng.randint(0, 500)) for i in range(n)]
    W.table_create(spark, path)
    W.insert_append(spark, path, spark.createDataFrame(rows, "id long, x int, y int"))
    return rows


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_incremental_refresh_job_ceiling(spark, tmp_table):
    """The cost class in Spark jobs: one index read, one batch collect,
    one window re-read (its broadcast included) and one index write for
    an overflowing batch; no table read at all without overflow."""
    path = f"{tmp_table}/t"
    rows = _seed(spark, path)
    over = spark.createDataFrame(
        [(10_000 + i, x, y) for i, (_, x, y) in enumerate(rows[:300])],
        "id long, x int, y int",
    )
    W._append_batch(path, over)
    stats, jobs = _jobs_of(
        spark, "refresh-over", lambda: W.refresh_index_incremental(spark, path, over)
    )
    assert stats["overflowed"] > 0 and stats["table_scanned"]
    assert jobs <= 6, jobs

    calm = spark.createDataFrame([(20_000, 4000, 4000)], "id long, x int, y int")
    W._append_batch(path, calm)
    stats, jobs = _jobs_of(
        spark, "refresh-calm", lambda: W.refresh_index_incremental(spark, path, calm)
    )
    assert stats == {"overflowed": 0, "table_scanned": False}
    assert jobs <= 3, jobs
    assert _index_set(spark, path) == _full_set(spark, path)


def test_incremental_refresh_wide_overflow_equals_full_rebuild(spark, tmp_table):
    """More windows overflow at once than the literal scan filter has
    disjuncts (``_MAX_SCAN_RANGES``), so neighbours share coarsened
    ranges and the equi-join alone assigns rows to windows. The batch
    re-appends existing points (duplicate cells) and piles one cell past
    the threshold so the rebuild splits to pl 64; a second batch bumps
    that pl-64 leaf again without reopening it."""
    path = f"{tmp_table}/t"
    rows = _seed(spark, path)
    dup = [(10_000 + i, x, y) for i, (_, x, y) in enumerate(rows) if i % 2 == 0]
    pile = [(30_000 + i, 250, 250) for i in range(25)]
    batch = spark.createDataFrame(dup + pile, "id long, x int, y int")
    W._append_batch(path, batch)
    stats = W.refresh_index_incremental(spark, path, batch)
    assert stats["overflowed"] > W._MAX_SCAN_RANGES, stats
    got = _index_set(spark, path)
    assert got == _full_set(spark, path)
    assert any(pl == IX.MAX_DEPTH and s > IX.DEFAULT_THRESHOLD for _, pl, s in got)

    more = spark.createDataFrame(
        [(40_000 + i, 250, 250) for i in range(5)], "id long, x int, y int"
    )
    W._append_batch(path, more)
    W.refresh_index_incremental(spark, path, more)
    assert _index_set(spark, path) == _full_set(spark, path)
    total = spark.read.parquet(f"{path}/index").agg(F.sum("size")).collect()[0][0]
    assert total == len(rows) + len(dup) + len(pile) + 5
