"""The three workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned.

A workload provides ``prepare`` (one set-up repetition, timed by the
harness), ``warmup`` (untimed), ``round`` (one step of the loop; checks
run inside ``clock.paused()`` so they are never timed), ``gated`` (the
end-to-end metrics of the result line), ``report`` (the other end-to-end
metrics named for this workload) and ``layers`` (the per-layer metrics
of a traced loop).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
from spans import dur_ms

KNN_K = 10
SMALL_SIDE = 64  # selective rectangles: the z_cover prune decides their cost
LARGE_SIDE = 2048
Z_COVER = 64


# ------------------------------------------------------------ statistics


def p50(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples). Below eleven samples no percentile
    qualifies and the maximum is given with percentile 100."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return float(v[-1]), 100.0, n
    return float(v[n - 11]), 100.0 * (n - 10) / n, n


def cycle_seconds(rounds, cycle: int) -> float:
    """Timed seconds of one cycle of the loop, built from medians: each
    operation kind's median time times its count per cycle, plus the
    median time a round spends outside operations (staging files,
    loading the table) times the rounds per cycle. A passing stall of
    the host moves these medians far less than it moves the loop's
    total, which counts every stalled second."""
    n_cycles = len(rounds) / cycle
    by_kind: dict[str, list[float]] = {}
    for rd in rounds:
        for o in rd["ops"]:
            by_kind.setdefault(o["kind"], []).append(o["ms"] / 1000.0)
    rest = [rd["s"] - sum(o["ms"] for o in rd["ops"]) / 1000.0 for rd in rounds]
    return sum(len(v) / n_cycles * p50(v) for v in by_kind.values()) + cycle * p50(rest)


def metric(value, unit, **extra) -> dict:
    return {"value": value, "unit": unit, **extra}


class Clock:
    """Accumulates the timed part of the loop; checks run while paused."""

    def __init__(self) -> None:
        self.total = 0.0
        self._t0: float | None = None

    def start(self) -> None:
        self._t0 = time.perf_counter()

    def stop(self) -> None:
        self.total += time.perf_counter() - self._t0
        self._t0 = None

    @contextmanager
    def paused(self):
        self.stop()
        try:
            yield
        finally:
            self.start()


# ------------------------------------------------------------ base class


class Workload:
    name = ""
    cycle = 1  # rounds per cycle; a measured loop ends on a cycle boundary

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.ops: list[dict] = []

    def op(self, kind: str, fn):
        """Run one operation; an exception counts it as failed."""
        rec = {"kind": kind, "ok": True}
        t0 = time.perf_counter()
        with self.tr.span(f"bench.{kind}"):
            try:
                rec["out"] = fn()
            except Exception:  # a failed operation is counted; the loop goes on
                traceback.print_exc(file=sys.stderr)
                rec["ok"] = False
                rec["out"] = None
        rec["ms"] = (time.perf_counter() - t0) * 1000.0
        self.ops.append(rec)
        return rec

    @staticmethod
    def expect(rec: dict, ok: bool, what: str) -> None:
        if rec["ok"] and not ok:
            print(f"check failed: {rec['kind']}: {what}", file=sys.stderr)
            rec["ok"] = False

    def path(self, *parts) -> str:
        return os.path.join(self.ctx.work, *parts)

    def warmup(self) -> None:
        """Untimed rounds -n to -1, n the cycle length but at least two;
        their operations are still checked. After a single warm-up round
        the next one still ran up to half again as long (JIT)."""
        clock = Clock()
        clock.start()
        for r in range(-max(self.cycle, 2), 0):
            self.round(r, clock)
        clock.stop()

    def probe_range_small(self, table, rx, ry, truth, clock: Clock) -> None:
        from tiny_md_hbase_spark.operators import spatial
        from tiny_md_hbase_spark.zorder import z_cover_py

        if self.tr.enabled:
            with self.tr.span("zorder.cover") as s:
                s["attrs"]["intervals"] = len(z_cover_py(rx, ry, Z_COVER))
        rec = self.op("range_small", lambda: _query(
            self.tr, "range_small",
            lambda: spatial.range_query(table, rx, ry, z_cover=Z_COVER), len))
        with clock.paused():
            self.expect(rec, rec["ok"] and sorted(r.id for r in rec["out"])
                        == truth.range_ids(rx, ry), f"range {rx} {ry}")

    def probe_knn(self, table, qx, qy, truth, clock: Clock) -> None:
        from tiny_md_hbase_spark.operators import spatial

        rec = self.op("knn", lambda: _query(
            self.tr, "knn", lambda: spatial.knn_indexed(table, qx, qy, KNN_K), len))
        with clock.paused():
            self.expect(rec, rec["ok"] and [(r.id, r.dist_sq) for r in rec["out"]]
                        == truth.knn(qx, qy, KNN_K), f"knn {qx} {qy}")

    @staticmethod
    def ms_of(kind: str, ops) -> list[float]:
        return [o["ms"] for o in ops if o["kind"] == kind]


# ---------------------------------------------------------- spatial_read


class SpatialRead(Workload):
    """Read-only query mix over a z-clustered points table."""

    name = "spatial_read"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.n = max(1000, int(6_000_000 * ctx.sf))

    def prepare(self, rep: int) -> None:
        from tiny_md_hbase_spark.sources import writer

        ids, x, y = gen.points(gen.rng(self.ctx.seed, "points"), self.n)
        raw = self.path(f"raw{rep}.parquet")
        pq.write_table(gen.points_table(ids, x, y), raw)
        out = self.path(f"zsorted{rep}")
        with self.tr.span("writer.zsort_write"):
            writer.write_points_zsorted(self.spark.read.parquet(raw), out)
        self.table = writer.load_points_zsorted(self.spark, out)
        self.truth = oracle.PointSet()
        self.truth.add(ids, x, y)
        self.grid = self.truth.occupied()

    def round(self, r: int, clock: Clock) -> None:
        from tiny_md_hbase_spark.operators import spatial

        g = gen.rng(self.ctx.seed, "spatial_read", r)
        t, truth = self.table, self.truth

        self.probe_range_small(t, *gen.rect(g, SMALL_SIDE), truth, clock)

        rx, ry = gen.rect(g, LARGE_SIDE)
        rec = self.op("range_large", lambda: _query(
            self.tr, "range_large",
            lambda: spatial.range_count(t, rx, ry, z_prefilter=True),
            lambda rows: rows[0].cnt))
        with clock.paused():
            self.expect(rec, rec["ok"] and rec["out"][0].cnt
                        == truth.range_count(rx, ry), f"count {rx} {ry}")

        for cell in (gen.hit_cell(g, truth.x, truth.y), gen.miss_cell(g, self.grid)):
            rec = self.op("point_get", lambda: _query(
                self.tr, "point_get", lambda: spatial.point_get(t, *cell), len))
            with clock.paused():
                self.expect(rec, rec["ok"] and sorted(r_.id for r_ in rec["out"])
                            == truth.point_ids(*cell), f"point {cell}")

        self.probe_knn(t, *gen.knn_centre(g), truth, clock)

    def gated(self, rounds) -> dict:
        ops_per_cycle = sum(len(rd["ops"]) for rd in rounds) * self.cycle / len(rounds)
        return {"reads_per_s": metric(ops_per_cycle / cycle_seconds(rounds, self.cycle), "1/s")}

    def report(self, ops, elapsed_s) -> dict:
        tv, tp, tn = tail([o["ms"] for o in ops])
        return {
            "range_small_p50_ms": metric(p50(self.ms_of("range_small", ops)), "ms"),
            "range_large_p50_ms": metric(p50(self.ms_of("range_large", ops)), "ms"),
            "point_get_p50_ms": metric(p50(self.ms_of("point_get", ops)), "ms"),
            "knn_p50_ms": metric(p50(self.ms_of("knn", ops)), "ms"),
            "read_tail_ms": metric(tv, "ms", percentile=tp, samples=tn),
        }

    def layers(self, spans, ops) -> dict:
        return _spatial_layers(spans)


def _query(tr, kind, build, result_size):
    """Operator call (returns the DataFrame) and action of one spatial
    query, as two spans."""
    with tr.span("spatial.call", kind=kind):
        df = build()
    with tr.span("spatial.action", kind=kind) as s:
        rows = df.collect()
        s["attrs"]["result"] = result_size(rows)
    return rows


def _spatial_layers(spans) -> dict:
    out = {}
    by_id = {s["id"]: s for s in spans}
    cover = [s for s in spans if s["name"] == "zorder.cover"]
    if cover:
        out["zorder.cover_ms"] = p50([dur_ms(s) for s in cover])
        out["zorder.cover_intervals"] = float(
            np.mean([s["attrs"]["intervals"] for s in cover])
        )
    for kind in ("range_small", "range_large", "point_get", "knn"):
        calls = [s for s in spans if s["name"] == "spatial.call" and s["attrs"]["kind"] == kind]
        acts = [s for s in spans if s["name"] == "spatial.action" and s["attrs"]["kind"] == kind]
        roots = [by_id[s["parent"]] for s in calls]
        if not calls:
            continue
        n = len(calls)
        result = sum(s["attrs"].get("result", 0) for s in acts)
        out[f"spatial.{kind}.call_ms"] = p50([dur_ms(s) for s in calls])
        out[f"spatial.{kind}.action_ms"] = p50([dur_ms(s) for s in acts])
        out[f"spatial.{kind}.jobs_per_op"] = sum(s["inc"]["jobs"] for s in roots) / n
        out[f"spatial.{kind}.scan_rows_per_result"] = (
            sum(s["inc"]["input_rows"] for s in roots) / max(result, 1)
        )
        out[f"spatial.{kind}.executor_cpu_ms"] = sum(s["inc"]["cpu_ms"] for s in roots) / n
    return out


# -------------------------------------------------------- spatial_ingest


class SpatialIngest(Workload):
    """Skewed event files streamed into a seeded points table, with
    range and kNN probes on the fresh table and periodic compaction."""

    name = "spatial_ingest"
    cycle = 2  # compaction runs every second round

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.n_seed = max(1000, int(1_000_000 * ctx.sf))
        self.events_per_file = max(20, int(10_000 * ctx.sf))
        self.next_event = 10**9
        self.observed: list[dict] = []
        self.last_buckets = 0

    def prepare(self, rep: int) -> None:
        from tiny_md_hbase_spark.operators import write

        ids, x, y = gen.points(gen.rng(self.ctx.seed, "seed_points"), self.n_seed)
        raw = self.path(f"seed{rep}.parquet")
        pq.write_table(gen.points_table(ids, x, y), raw)
        self.table = self.path(f"table{rep}")
        with self.tr.span("write.seed_insert"):
            write.table_create(self.spark, self.table)
            write.insert_append(self.spark, self.table, self.spark.read.parquet(raw))
        self.truth = oracle.PointSet()
        self.truth.add(ids, x, y)
        self.src = self.path(f"events{rep}")
        self.ckpt = self.path(f"ckpt{rep}")
        os.makedirs(self.src)

    def _stage(self, r: int) -> int:
        """One event file per round, made visible to the stream atomically."""
        g = gen.rng(self.ctx.seed, "events", r)
        tbl, (ids, x, y) = gen.events(g, self.next_event, self.events_per_file)
        self.next_event += len(ids)
        _publish(tbl, self.src, f"r{r + 1000:05d}.parquet")
        self.truth.add(ids, x, y)
        return len(ids)

    def round(self, r: int, clock: Clock) -> None:
        from tiny_md_hbase_spark.sources import writer
        from tiny_md_hbase_spark.streaming import ingest

        with self.tr.span("bench.stage"):
            rows = self._stage(r)

        def drain():
            with self.tr.span("stream.drain") as s:
                q = ingest.stream_ingest_points(
                    self.spark, self.src, self.table, self.ckpt,
                    available_now=True, max_files_per_trigger=1,
                )
                self.tr.add_group(s, str(q.runId))
                q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q.recentProgress

        rec = self.op("drain", drain)
        rec["rows"] = rows
        with clock.paused():
            self._check_drain(rec)

        g = gen.rng(self.ctx.seed, "ingest_probes", r)
        rect, centre = gen.rect(g, SMALL_SIDE), gen.knn_centre(g)
        pts = writer.load_points_zsorted(self.spark, f"{self.table}/points")
        self.probe_range_small(pts, *rect, self.truth, clock)
        self.probe_knn(pts, *centre, self.truth, clock)
        if self.tr.enabled:
            with clock.paused():
                self._observe()

        if (r + 1) % self.cycle == 0:  # the warm-up compacts too
            def compact():
                with self.tr.span("writer.compact"):
                    writer.compact_points_table(self.spark, self.table)

            rec = self.op("compact", compact)
            with clock.paused():
                n = pq.read_table(f"{self.table}/points", columns=["id"]).num_rows
                self.expect(rec, rec["ok"] and n == len(self.truth),
                            f"compacted table has {n} rows, expected {len(self.truth)}")

    def _check_drain(self, rec: dict) -> None:
        if not rec["ok"]:
            return
        rec["triggers"] = _triggers(rec["out"])
        n = pq.read_table(f"{self.table}/points", columns=["id"]).num_rows
        self.expect(rec, n == len(self.truth),
                    f"table has {n} rows, staged {len(self.truth)}")
        idx = pq.read_table(f"{self.table}/index", columns=["pl", "size"])
        problems = oracle.index_problems(idx["pl"].to_numpy(), idx["size"].to_numpy(), n)
        self.expect(rec, not problems, "; ".join(problems))
        self.last_buckets = idx.num_rows

    def _observe(self) -> None:
        """Layout health after the drain, through the public span API
        (traced loop only; never timed)."""
        from tiny_md_hbase_spark.sources import writer

        spans = writer.file_z_spans(self.spark, f"{self.table}/points").collect()
        self.observed.append({
            "files": len(spans),
            "overlapping_span_pairs": writer.overlapping_span_pairs(spans),
            "buckets": self.last_buckets,
        })

    def gated(self, rounds) -> dict:
        return _ingest_rate(rounds, self.cycle)

    def report(self, ops, elapsed_s) -> dict:
        return {
            **_batch_latency(ops),
            "range_small_p50_ms": metric(p50(self.ms_of("range_small", ops)), "ms"),
            "knn_p50_ms": metric(p50(self.ms_of("knn", ops)), "ms"),
        }

    def layers(self, spans, ops) -> dict:
        out = _spatial_layers(spans)
        out.update(_stream_layers(spans, ops))
        compact = [dur_ms(s) / 1000 for s in spans if s["name"] == "writer.compact"]
        out["writer.compact_s"] = p50(compact)
        if self.observed:
            for k in ("files", "overlapping_span_pairs"):
                out[f"writer.{k}"] = float(np.mean([o[k] for o in self.observed]))
            out["index.buckets"] = float(np.mean([o["buckets"] for o in self.observed]))
        return out


def _publish(table, directory: str, name: str) -> None:
    """Write a file where the stream source ignores it (dot prefix), then
    rename it into view, so a trigger never reads half a file."""
    tmp = os.path.join(directory, "." + name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(directory, name))


def _ingest_rate(rounds, cycle: int) -> dict:
    """Rows staged per second of the loop: drains, probes, compaction and
    near-dup passes all count, each at its median time."""
    rows = sum(o.get("rows", 0) for rd in rounds for o in rd["ops"])
    rows_per_cycle = rows * cycle / len(rounds)
    return {"ingest_rows_per_s": metric(rows_per_cycle / cycle_seconds(rounds, cycle), "rows/s")}


def _batch_latency(ops) -> dict:
    trig = [t["trigger_ms"] for o in ops for t in o.get("triggers", ())]
    tv, tp, tn = tail(trig)
    return {
        "batch_p50_ms": metric(p50(trig), "ms", samples=len(trig)),
        "batch_tail_ms": metric(tv, "ms", percentile=tp, samples=tn),
    }


def _triggers(progress) -> list[dict]:
    """Per-trigger durations of a drained query (the data batches only)."""
    return [
        {"trigger_ms": p["durationMs"]["triggerExecution"],
         "add_batch_ms": p["durationMs"]["addBatch"]}
        for p in progress
        if "addBatch" in p["durationMs"]
    ]


def _stream_layers(spans, ops) -> dict:
    drains = [s for s in spans if s["name"] == "stream.drain"]
    triggers = [t for o in ops for t in o.get("triggers", ())]
    if not triggers:
        return {}
    trig = [t["trigger_ms"] for t in triggers]
    add = [t["add_batch_ms"] for t in triggers]
    return {
        "stream.trigger_ms": p50(trig),
        "stream.add_batch_ms": p50(add),
        "stream.overhead_ms": p50([t - a for t, a in zip(trig, add)]),
        "stream.jobs_per_trigger": sum(s["inc"]["jobs"] for s in drains) / len(triggers),
    }


# --------------------------------------------------------- corpus_ingest


class CorpusIngest(Workload):
    """Documents with near-duplicate chains streamed into the maintained
    search index, BM25 probes between drains, and one near-dup pass per
    round."""

    name = "corpus_ingest"
    probes_per_round = 2
    # every drain adds a delta to the maintained index, so later probes
    # cost more; a cycle outlasts --seconds, so every run measures the
    # same rounds
    cycle = 2

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.n_base = max(40, int(25_000 * ctx.sf))
        self.n_round = max(24, int(10_000 * ctx.sf))

    def prepare(self, rep: int) -> None:
        self.src = self.path(f"docs{rep}")
        self.index = self.path(f"search{rep}")
        self.ckpt = self.path(f"ckpt{rep}")
        os.makedirs(self.src)
        self.next_doc = 0
        self.base = gen.corpus_batch(gen.rng(self.ctx.seed, "base_docs"), 0, self.n_base)

    def round(self, r: int, clock: Clock) -> None:
        from tiny_md_hbase_spark.operators import dedup
        from tiny_md_hbase_spark.streaming import ingest

        if r == -self.cycle:  # the first warm-up round drains the base corpus
            batch = self.base
        else:
            g = gen.rng(self.ctx.seed, "round_docs", r)
            batch = gen.corpus_batch(g, self.next_doc, self.n_round)
        self.next_doc += len(batch)
        name = f"r{r + 1000:05d}.parquet"
        with self.tr.span("bench.stage"):
            _publish(gen.docs_table(batch), self.src, name)
        rows = len(batch)

        def drain():
            with self.tr.span("stream.drain") as s:
                q = ingest.stream_index_maintain(
                    self.spark, self.src, self.index, self.ckpt,
                    available_now=True, max_files_per_trigger=1,
                )
                self.tr.add_group(s, str(q.runId))
                q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q.recentProgress

        rec = self.op("drain", drain)
        rec["rows"] = rows
        with clock.paused():
            if rec["ok"]:
                rec["triggers"] = _triggers(rec["out"])

        for i in range(self.probes_per_round):
            terms = gen.search_terms(gen.rng(self.ctx.seed, "terms", r * 16 + i))

            def search(terms=terms):
                with self.tr.span("search.bm25", terms=" ".join(terms)):
                    return ingest.keyword_search_bm25_maintained(
                        self.spark, self.index, terms, k=10
                    ).collect()

            rec = self.op("search", search)
        with clock.paused():
            self._check_search(rec, terms)

        window = self.spark.read.parquet(os.path.join(self.src, name))

        def near_dup_pass():
            with self.tr.span("dedup.pairs"):
                pairs = dedup.ngram_jaccard(window).localCheckpoint()
            with self.tr.span("graph.cc"):
                clusters = dedup.dedup_clusters(window, pairs, collect_limit=0)
                labels = clusters.collect()
            with self.tr.span("dedup.keep_best"):
                best = dedup.dedup_keep_best(window, clusters).collect()
            return pairs, labels, best

        rec = self.op("dedup", near_dup_pass)
        with clock.paused():
            self._check_dedup(rec, batch)

    def _check_search(self, rec: dict, terms) -> None:
        """The last probe of the round against the scan form over every
        document ingested so far."""
        from tiny_md_hbase_spark.operators import text

        if not rec["ok"]:
            return
        want = text.keyword_search_bm25(
            self.spark.read.parquet(self.src), terms, k=10
        ).collect()
        got = [(r.doc_id, r.bm25) for r in rec["out"]]
        self.expect(rec, got == [(r.doc_id, r.bm25) for r in want],
                    f"bm25 {terms}: {got} != {want}")

    def _check_dedup(self, rec: dict, batch) -> None:
        if not rec["ok"]:
            return
        pairs, labels, best = rec["out"]
        pair_list = [(p.doc_a, p.doc_b) for p in pairs.collect()]
        want = oracle.union_find_labels(pair_list, [d["doc_id"] for d in batch])
        got = {r.doc_id: r.cluster_id for r in labels}
        self.expect(rec, got == want, "cluster labels differ from union-find")
        n_chars = {d["doc_id"]: d["n_chars"] for d in batch}
        want_best = oracle.keep_best(want, n_chars)
        got_best = {r.cluster_id: (r.keep_id, r.keep_chars, r.n_members) for r in best}
        self.expect(rec, got_best == want_best, "keep_best differs")
        rec["pairs"] = len(pair_list)
        rec["out"] = None  # drop the checkpointed pairs

    def gated(self, rounds) -> dict:
        return _ingest_rate(rounds, self.cycle)

    def report(self, ops, elapsed_s) -> dict:
        return {
            **_batch_latency(ops),
            "search_p50_ms": metric(p50(self.ms_of("search", ops)), "ms"),
            "dedup_s": metric(p50(self.ms_of("dedup", ops)) / 1000, "s"),
        }

    def layers(self, spans, ops) -> dict:
        out = _stream_layers(spans, ops)

        def by(name):
            return [s for s in spans if s["name"] == name]

        out["dedup.pairs_s"] = p50([dur_ms(s) / 1000 for s in by("dedup.pairs")])
        pairs = [o["pairs"] for o in ops if "pairs" in o]
        out["dedup.pairs"] = float(np.mean(pairs)) if pairs else 0.0
        out["graph.cc_s"] = p50([dur_ms(s) / 1000 for s in by("graph.cc")])
        out["graph.cc_jobs"] = float(np.mean([s["inc"]["jobs"] for s in by("graph.cc")]))
        out["dedup.keep_best_s"] = p50([dur_ms(s) / 1000 for s in by("dedup.keep_best")])
        search = by("search.bm25")
        out["search.jobs_per_query"] = sum(s["inc"]["jobs"] for s in search) / len(search)
        return out


WORKLOADS = {w.name: w for w in (SpatialRead, SpatialIngest, CorpusIngest)}
