"""Adaptive quad-trie bucket index (SURVEY.md §2.2 ``bucket_split``,
§2.1 ``index_inspect``/``floor_lookup``) built Spark-first.

The reference maintains the index online: each insert increments a bucket
counter and splits the bucket one z-bit at a time when the count exceeds a
threshold (``Index.maySplit``/``splitBucket``, ``Index.java:175-230``),
writing an (empty) sibling entry at every chain level and stopping at
prefix length 64 (``Index.java:201``). The final structure is a prefix
trie whose leaves each hold ≤ threshold points (unless at max depth) —
independent of insertion order.

Batch construction here is a two-phase coarse-to-fine build (details on
:func:`index_build`): a bounded coarse aggregation solved exactly on the
driver, then every still-overfull coarse bucket ("tail") solved as an
independent sub-trie inside ``applyInPandas`` — one shuffle of the raw
z rows, grouped into a fixed number of load-balanced batches. The
resulting index matches the reference's end state exactly, with exact
sizes (the reference's counters drift on id-overwrites, SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tiny_md_hbase_spark.zorder import make_mask, prefix_render, set_bit, zvalue

DEFAULT_THRESHOLD = 10  # Client.java:170, README:66-67
MAX_DEPTH = 64  # Index.java:201
ROOT_PL = 2  # bootstrap bucket [00*...*], Index.java:96-99

__all__ = [
    "cells",
    "index_build",
    "index_build_np",
    "index_build_py",
    "index_inspect",
    "split_step",
    "floor_lookup",
    "floor_lookup_batch",
    "floor_lookup_np",
]


def cells(points: DataFrame) -> DataFrame:
    """Per-z-cell point counts — the single pass over the raw data.

    The raw rows are spread across the session's parallelism BEFORE the
    encode+partial-agg stage: a single-file source would otherwise run
    the whole Morton pass on one core (the exchange that groupBy inserts
    sits *above* the partial aggregation, not below it)."""
    zcol = F.col("zvalue") if "zvalue" in points.columns else zvalue("x", "y")
    para = points.sparkSession.sparkContext.defaultParallelism
    spread = points if points.rdd.getNumPartitions() >= para // 2 else points.repartition(para)
    return spread.select(zcol.alias("z")).groupBy("z").agg(
        F.count("*").alias("c")
    )


def _bucket_of(z: Column, pl: Column | int) -> Column:
    return z.bitwiseAND(make_mask(pl))


def index_build(
    points: DataFrame,
    threshold: int = DEFAULT_THRESHOLD,
    max_depth: int = MAX_DEPTH,
    max_coarse_log: int = 19,
) -> DataFrame:
    """Build the bucket index ``(bucket_z, pl, size)`` to fixpoint.

    Returns the leaf trie: disjoint buckets covering the ``[00*]`` domain,
    every size ≤ threshold unless pl == max_depth, sizes exact — the
    reference's end state (verified against the one-bit-at-a-time
    recursion and a recursive-CTE DuckDB oracle).

    Two-phase coarse-to-fine build over ONE materialized pass of the data:

    0. **Encode once** — spread the raw rows across the session's
       parallelism (a single-file source would otherwise Morton-encode on
       one core; the exchange groupBy inserts sits *above* its partial
       agg), project to the z column, ``localCheckpoint``. Every later
       phase reads the 8-byte-per-row checkpoint, never the source again.
    1. **Coarse** — aggregate cell counts at an adaptive depth ``cd`` and
       Arrow-collect them. ``cd`` is anchored at the shared bit-prefix of
       [min z, max z] (the populated subspace — a fixed depth yields ONE
       bucket when the data occupies a corner of the keyspace) and then
       descends ~log2(4·n/threshold) further, so coarse buckets average
       ~threshold/4 points and almost every one is already a final leaf
       or merges into one. The collect is capped at 2^``max_coarse_log``
       rows (default 512 K ≈ 8 MB) *regardless of data volume* — bounded
       the way a range-partitioner's sampled boundaries are. The trie
       above/at ``cd`` is built driver-side with the exact recursion;
       coarse nodes still over threshold become **tails**.
    2. **Fine** — every tail is a closed subproblem (its sub-trie depends
       only on its own cells). Tail rows are hashed into batches and
       every tail of a batch is an open root of ONE multi-root
       :func:`index_build_np` call inside ``applyInPandas`` —
       Arrow-batched, embarrassingly parallel, shuffling only the tails'
       (tail_key, z) rows. With the adaptive ``cd`` this phase usually
       sees a sliver of the data (55 of 600 K rows on the sf0.1 fixture).

    Scale notes: at 100 TB the collect cap binds (cd = anchor +
    ``max_coarse_log`` - ROOT_PL) and tails grow with data/2^cap instead
    of staying sub-threshold — they still parallelize across executors by
    key, and the per-batch numpy kernel is acceptable there: index
    construction is partitioner metadata (à la Sedona's quadtree build),
    not the per-row query path. No per-cell pre-aggregation pass: at
    realistic densities the distinct-z table is nearly as large as the
    data (589 K cells from 600 K points on the fixture domain), so a
    ``groupBy(z)`` + checkpoint costs an extra shuffle and buys nothing;
    the trie kernel accepts duplicate z entries. On a duplicate-heavy
    domain (points per cell >> 1), reinstate :func:`cells` upstream.
    """
    spark = points.sparkSession

    zcol = F.col("zvalue") if "zvalue" in points.columns else zvalue("x", "y")
    para = spark.sparkContext.defaultParallelism
    raw = (
        points
        if points.rdd.getNumPartitions() >= para // 2
        else points.repartition(para)
    )
    enc = raw.select(zcol.alias("z")).localCheckpoint()
    b = enc.agg(
        F.min("z").alias("z0"), F.max("z").alias("z1"), F.count("*").alias("n")
    ).collect()[0]
    if b.z0 is None:
        return spark.createDataFrame(
            [(0, ROOT_PL, 0)], "bucket_z long, pl int, size long"
        ).cache()
    # anchor: common prefix of [min z, max z] is shared by every value
    # between them — tighter than the zip-of-corner-bounds anchor
    shared = 64 - (b.z0 ^ b.z1).bit_length()
    need = (max(b.n, 1) // max(threshold, 1)).bit_length() + 2
    cd = min(
        max(shared, ROOT_PL) + min(max(need, 6), max_coarse_log),
        max_depth,
    )

    coarse_pdf = (
        enc.groupBy(_bucket_of(F.col("z"), cd).alias("b"))
        .agg(F.count("*").alias("cnt"))
        .toPandas()
    )
    # vectorized trie kernel (identical output to index_build_py — the
    # pure-Python oracle; equality is test-pinned): the driver phase at
    # a few hundred thousand coarse cells was seconds of CPython tuple
    # sort + bisect, now one argsort + cumsum + level-synchronous loop
    top = index_build_np(
        coarse_pdf["b"].to_numpy(),
        coarse_pdf["cnt"].to_numpy(),
        threshold=threshold,
        max_depth=cd,
    )
    if cd < max_depth:
        tails = [b for b, pl, s in top if pl == cd and s > threshold]
        top = [(b, pl, s) for b, pl, s in top if not (pl == cd and s > threshold)]
    else:
        tails = []
    # Arrow path for the leaf table: the trie yields O(n/threshold)
    # leaves (86 K on the sf0.1 fixture) and createDataFrame from a
    # Python tuple list pickles row-by-row (~0.7 s); through pandas it
    # rides spark.sql.execution.arrow.pyspark.enabled (guide §6)
    import pandas as pd

    top_df = spark.createDataFrame(
        pd.DataFrame(top, columns=["bucket_z", "pl", "size"]),
        "bucket_z long, pl int, size long",
    )
    if not tails:
        return top_df.cache()

    tail_keys = spark.createDataFrame([(b,) for b in tails], "tb long")
    tail_rows = enc.withColumn("tb", _bucket_of(F.col("z"), cd)).join(
        F.broadcast(tail_keys), "tb"
    )

    # one Arrow group per TAIL would pay per-group overhead 2^14 times on
    # fine-grained coarse depths; hash the tails into ~4x-parallelism
    # batches instead and solve a batch's tails in one kernel call — group
    # count (and so Arrow/worker overhead) is fixed regardless of tail
    # count, while the hash keeps batches load-balanced
    n_batches = max(1, min(4 * para, len(tails)))

    def _build_batch(pdf):
        import numpy as np
        import pandas as pd

        leaves = index_build_np(
            pdf["z"],
            np.ones(len(pdf), dtype=np.int64),
            threshold=threshold,
            max_depth=max_depth,
            root_z=pdf["tb"].unique(),
            root_pl=cd,
        )
        return pd.DataFrame(leaves, columns=["bucket_z", "pl", "size"])

    sub_df = tail_rows.withColumn(
        "batch", F.pmod(F.xxhash64("tb"), F.lit(n_batches))
    ).groupBy("batch").applyInPandas(
        _build_batch, "bucket_z long, pl int, size long"
    )
    index = top_df.unionByName(sub_df).cache()
    index.count()
    return index


def index_build_py(
    cell_counts: list[tuple[int, int]],
    threshold: int = DEFAULT_THRESHOLD,
    max_depth: int = MAX_DEPTH,
    root_z: int = 0,
    root_pl: int = ROOT_PL,
) -> list[tuple[int, int, int]]:
    """Pure-Python trie recursion, exactly ``Index.splitBucket``'s
    one-bit-at-a-time semantics (``Index.java:183-230``): split while
    count > threshold and depth < max_depth; every split writes both
    children (one may be an empty sibling). Serves as (a) the independent
    oracle for tests, (b) the driver-side coarse phase of the distributed
    build, and (c) the per-tail kernel inside applyInPandas (rooted at
    ``root_z``/``root_pl``). Input: [(z, count)]; output sorted
    [(bucket_z, pl, size)]."""
    import bisect

    cells_sorted = sorted(cell_counts)
    if not cells_sorted:
        return [(root_z, root_pl, 0)]
    # prefix sums make each node's size an O(1) range difference
    zs = [z for z, _ in cells_sorted]
    acc = [0]
    for _, c in cells_sorted:
        acc.append(acc[-1] + c)
    out: list[tuple[int, int, int]] = []
    stack = [(0, len(zs), root_z, root_pl)]
    while stack:
        lo, hi, bucket_z, pl = stack.pop()
        size = acc[hi] - acc[lo]
        if size <= threshold or pl >= max_depth:
            out.append((bucket_z, pl, size))
            continue
        right_key = bucket_z | (1 << (63 - pl))
        mid = bisect.bisect_left(zs, right_key, lo, hi)
        stack.append((lo, mid, bucket_z, pl + 1))
        stack.append((mid, hi, right_key, pl + 1))
    return sorted(out)


def index_build_np(
    z,
    c,
    threshold: int = DEFAULT_THRESHOLD,
    max_depth: int = MAX_DEPTH,
    root_z=0,
    root_pl=ROOT_PL,
) -> list[tuple[int, int, int]]:
    """Vectorized twin of :func:`index_build_py` — identical output
    (tests pin equality on random inputs), numpy throughput. The
    pure-Python form stays as the independent oracle; this one is what
    the driver-side coarse phase, the tail-batch Arrow kernel and the
    incremental refresh call: at a few hundred thousand coarse cells the
    tuple sort + prefix-sum + bisect loop in CPython cost seconds, while
    the same work here is one int64 argsort + cumsum + a
    LEVEL-SYNCHRONOUS split loop (one ``searchsorted`` over every
    still-open node per depth level, ≤ ``max_depth`` iterations of
    O(open nodes) each).

    ``root_z``/``root_pl`` may be scalars or equal-length arrays (a
    scalar pl broadcasts): every root is an independent open node whose
    initial ``[lo, hi)`` is the ``searchsorted`` span of its z-window, so
    many disjoint sub-tries are solved in ONE pass — the output equals
    the sorted union of :func:`index_build_py` run root by root over
    each window's cells. Cells outside every root's window are ignored.

    The global (un-bounded) searchsorted is exact for the same reason
    the oracle's bounded bisect is: nodes are prefix-defined contiguous
    ranges of the globally sorted z array, and a node's split key lies
    inside its own range's value span, so the global insertion point
    lands within [lo, hi].

    ``z``/``c`` are array-likes (numpy arrays, pandas columns, or
    sequences) of cell keys and counts; duplicate keys add up."""
    import numpy as np

    z = np.asarray(z, dtype=np.int64)
    c = np.asarray(c, dtype=np.int64)
    bz, pl = (
        a.astype(np.int64)
        for a in np.broadcast_arrays(np.atleast_1d(root_z), np.atleast_1d(root_pl))
    )
    order = np.argsort(z, kind="stable")
    zs = z[order]
    acc = np.concatenate(([0], np.cumsum(c[order])))
    # window of prefix (bz, pl) = [bz, bz | low (64 - pl) bits]
    lo = np.searchsorted(zs, bz, side="left").astype(np.int64)
    hi = np.searchsorted(
        zs, bz | ~(np.int64(-1) << (np.int64(64) - pl)), side="right"
    ).astype(np.int64)

    out: list = []
    while lo.size:
        size = acc[hi] - acc[lo]
        leaf = (size <= threshold) | (pl >= max_depth)
        out.append(np.stack((bz[leaf], pl[leaf], size[leaf]), axis=1))
        split = ~leaf
        slo, shi, sbz, spl = lo[split], hi[split], bz[split], pl[split]
        rk = sbz | (np.int64(1) << (np.int64(63) - spl))
        mid = np.searchsorted(zs, rk, side="left").astype(np.int64)
        lo = np.concatenate((slo, mid))
        hi = np.concatenate((mid, shi))
        bz = np.concatenate((sbz, rk))
        pl = np.concatenate((spl + 1, spl + 1))
    rows = np.concatenate(out)
    rows = rows[np.lexsort((rows[:, 2], rows[:, 1], rows[:, 0]))]
    return list(map(tuple, rows.tolist()))


def floor_lookup_np(bucket_z, pl, z):
    """Driver-side batched ``getRowOrBefore`` (``Index.java:115-122``):
    for each z the position of its owning bucket in ``bucket_z`` (sorted
    ascending, with ``pl`` aligned) — one ``searchsorted`` floor lookup,
    which on a prefix-free cover is exactly the owner.

    A probe outside the cover raises: ``searchsorted - 1`` would wrap a
    z below the first key to the LAST bucket, and a z past a bucket's
    window would floor onto an unrelated bucket — both silent
    miscounts, where :func:`floor_lookup_batch` drops the probe."""
    import numpy as np

    bucket_z = np.asarray(bucket_z, dtype=np.int64)
    pl = np.asarray(pl, dtype=np.int64)
    z = np.asarray(z, dtype=np.int64)
    pos = np.searchsorted(bucket_z, z, side="right") - 1
    at = np.maximum(pos, 0)
    own = (pos >= 0) & (
        (z ^ bucket_z[at]).view(np.uint64) >> (64 - pl[at]).astype(np.uint64) == 0
    )
    if not own.all():
        bad = z[~own][:5].tolist()
        raise ValueError(f"z-values outside the index cover: {bad}")
    return pos


def split_step(points: DataFrame, parent_pl: int = 8) -> DataFrame:
    """One bucket-split step in isolation (``Index.splitBucket``,
    ``Index.java:183-230``): take the most-populated depth-``parent_pl``
    bucket (deterministic tiebreak: lowest key) and halve it on the next
    z-bit, returning the two child index entries the reference writes in
    its batched put (``Index.java:217-227``) — the second child key is
    ``makeBit(parent, parent_pl)`` (``Utils.java:148-159``), i.e. the
    parent key with the split bit set.

    The full split-to-fixpoint loop is :func:`index_build`; this operator
    exposes the single transition for inspection/verification. Two
    aggregations over (z, count) pairs + one broadcast join — no data-row
    shuffle beyond the map-side-combined groupBys.
    """
    enc = points.select(zvalue("x", "y").alias("z"))
    parent = (
        enc.groupBy(
            F.col("z").bitwiseAND(make_mask(parent_pl)).alias("parent_z")
        )
        .agg(F.count("*").alias("parent_size"))
        .orderBy(F.desc("parent_size"), "parent_z")
        .limit(1)
    )
    # the split bit: z's bit number parent_pl counted from the MSB
    bit = F.shiftright(F.col("z"), 63 - parent_pl).bitwiseAND(F.lit(1))
    sizes = (
        enc.join(
            F.broadcast(parent),
            F.col("z").bitwiseAND(make_mask(parent_pl)) == F.col("parent_z"),
        )
        .groupBy("parent_z")
        .agg(
            F.count_if(bit == 0).alias("left_size"),
            F.count_if(bit == 1).alias("right_size"),
        )
    )
    # both entries always, empty child included — the reference records
    # `count` and `bucketSize - count` unconditionally (Index.java:217-227)
    children = F.array(
        F.struct(
            F.col("parent_z").alias("child_z"),
            F.col("left_size").alias("size"),
        ),
        F.struct(
            set_bit(F.col("parent_z"), parent_pl).alias("child_z"),
            F.col("right_size").alias("size"),
        ),
    )
    return sizes.select(
        "parent_z", F.explode(children).alias("c")
    ).select(
        "parent_z",
        F.col("c.child_z").alias("child_z"),
        F.lit(parent_pl + 1).cast("int").alias("pl"),
        F.col("c.size").alias("size"),
    )


def index_inspect(index: DataFrame) -> DataFrame:
    """Render the index as the CLI ``index`` verb does (``Client.java:204-216``):
    bucket name string + size, ordered by key."""
    return index.select(
        prefix_render("bucket_z", F.col("pl")).alias("bucket_name"),
        "size",
    ).orderBy("bucket_name")


def floor_lookup(index: DataFrame, probe_z: int) -> DataFrame:
    """Greatest bucket key ≤ probe — ``HTable.getRowOrBefore`` semantics
    (``Index.java:115-122``): the bucket owning a z-value."""
    return (
        index.filter(F.col("bucket_z") <= probe_z)
        .orderBy(F.col("bucket_z").desc())
        .limit(1)
    )


def floor_lookup_batch(index: DataFrame, probes: DataFrame) -> DataFrame:
    """As-of join at probe-set scale: for each probe z, its owning bucket
    (``Index.java:115-122`` semantics, many probes at once).

    Scale shape — the same prefix equi-join as :func:`bucket_route`. An
    inequality broadcast join (``z >= bucket_z``) materializes
    O(|probes| × |buckets| / 2) intermediate rows before any per-probe
    collapse — the exact anti-pattern bucket_route's docstring warns
    about. Because the index leaves partition the keyspace prefix-free,
    the owner is the unique leaf with ``bucket_z == z & mask(pl)``: so
    explode each probe over the index's ~tens of distinct prefix
    LENGTHS and hash-join on (masked z, pl). At most one candidate
    survives per probe, so the join IS the answer — no aggregation, no
    shuffle of the probe side at all with the index broadcast.

    Requires a complete prefix-free cover, which is what
    :func:`index_build` produces (the reference's sibling chains,
    ``Index.java:183-230``, guarantee the same). A probe outside the
    cover — impossible against a complete index — is dropped rather
    than floored to a preceding unrelated bucket."""
    pls = sorted(r.pl for r in index.select("pl").distinct().collect())
    cand = probes.withColumn("pl", F.explode(F.array(*[F.lit(p) for p in pls])))
    masked = cand.withColumn(
        "bucket_z", F.col("z").bitwiseAND(make_mask(F.col("pl")))
    )
    return masked.join(
        F.broadcast(index.select("bucket_z", "pl", "size")), ["bucket_z", "pl"]
    ).select("z", "bucket_z", "pl", "size")


def bucket_route(points: DataFrame, index: DataFrame) -> DataFrame:
    """Route every point to its owning bucket and count occupancy per
    bucket — the table-sized generalization of the reference's per-point
    ``getRowOrBefore`` routing (``Index.fetchBucket``, ``Index.java:115-122``)
    and the batch heart of ``notifyInsertion`` accounting.

    Scale shape: a floor/as-of join against a prefix-free index needs NO
    inequality join (which would nested-loop at O(points x buckets)).
    Because the leaves partition the keyspace by bit-prefix, a z-value's
    owning bucket is the unique leaf with ``bucket_z == z & mask(pl)`` —
    so we explode each (distinct) z over the index's ~tens of distinct
    prefix LENGTHS and equi-join on (masked z, pl). The join shuffles
    short keys, broadcast-hints the index, and parallelizes like any
    hash join; cells pre-aggregate so each distinct z routes once.

    Returns (bucket_z, pl, n_points); equals the index's own (bucket_z,
    pl, size) for every non-empty bucket by construction.
    """
    pls = sorted(r.pl for r in index.select("pl").distinct().collect())
    zc = cells(points)
    cand = zc.withColumn("pl", F.explode(F.array(*[F.lit(p) for p in pls])))
    masked = cand.withColumn(
        "bucket_z", F.col("z").bitwiseAND(make_mask(F.col("pl")))
    )
    return (
        masked.join(F.broadcast(index.select("bucket_z", "pl")), ["bucket_z", "pl"])
        .groupBy("bucket_z", "pl")
        .agg(F.sum("c").alias("n_points"))
    )
