"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``), warms a
fresh session up (``warm_up``, part of set-up), runs its timed operations
until the deadline (``measure``), checks what the program produced
(``check``, untimed) and reduces its samples to the end-to-end metrics.
Every timed operation runs inside a top-level span, so the traced run
attributes all measured Spark work to a request.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

from harness import quantile


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fold(paths: list[str]) -> dict:
    from csv_cruncher_spark.cdc.fixtures import reference_fold

    return reference_fold(paths)


class Workload:
    name = ""
    why = ""

    def __init__(self, work: str, seed: int, size: dict):
        self.work = work
        self.seed = seed
        self.size = size
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.table_path = ""  # the measured table, for the traced run's counts
        self.input_bytes = 0  # change-log bytes applied in the timed region

    def op(self, tracer, name: str, request, fn):
        """Run one timed operation; returns (seconds, result) or (None, None)
        when it raised, which counts as a failure."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = fn()
            else:
                with tracer.span(name, request=request):
                    out = fn()
        except Exception as e:  # noqa: BLE001 - a failed operation is a measured outcome
            self.fail([f"{name} {request}: {type(e).__name__}: {e}"[:300]])
            return None, None
        return time.perf_counter() - t0, out

    def fail(self, mismatches: list[str]) -> None:
        """Count one failed operation if ``mismatches`` is not empty."""
        if mismatches:
            self.failed += 1
            self.failures += mismatches

    def extract_inputs(self) -> list[str]:
        """Change-batch files whose html the traced run extracts alone."""
        return []


# ------------------------------------------------------------ CDC common --


def _change_log(out_dir: str, seed: int, n_urls: int, n_batches: int,
                events_per_batch: int, pad: int = 0) -> list[str]:
    from csv_cruncher_spark.cdc.fixtures import ChangeLogSpec, generate_change_log

    return generate_change_log(
        ChangeLogSpec(
            n_urls=n_urls, n_batches=n_batches, events_per_batch=events_per_batch,
            html_pad_bytes=pad, seed=seed, out_dir=out_dir,
        )
    )


class BulkReplay(Workload):
    name = "bulk-replay"
    why = ("few large batches of ~400 B pages over zipf-skewed urls: the per-event "
           "path (CSV parse, in-batch LWW, bucket shuffle, parquet write) and the widefold scan")

    def prepare(self) -> None:
        s = self.size
        self.paths = _change_log(
            os.path.join(self.work, "batches"), self.seed, s["urls"], s["batches"],
            s["events"] // s["batches"],
        )
        self.events = (s["events"] // s["batches"]) * s["batches"]
        self.replay_s: list[float] = []
        self.scan_s: list[float] = []

    def warm_up(self, spark, cycle: int) -> None:
        """An untimed replay and scan. The first set-up replays the whole
        log, so the timed replays start with the JIT warm (after a one-batch
        warm-up they ran slower and spread more); later set-ups, on a warm
        process, replay its first batch."""
        from csv_cruncher_spark.cdc.pipeline import CdcPipeline
        from csv_cruncher_spark.lake.table import LakeTable

        lake = os.path.join(self.work, f"warm-lake-{cycle}")
        CdcPipeline(lake, n_buckets=self.size["buckets"]).run(
            spark, os.path.dirname(self.paths[0]), max_batches=None if cycle == 0 else 1)
        noop_sink(LakeTable.load(lake).read(spark))
        shutil.rmtree(lake)

    def measure(self, spark, deadline: float, tracer) -> None:
        from csv_cruncher_spark.cdc.pipeline import CdcPipeline
        from csv_cruncher_spark.lake.table import LakeTable

        batch_dir = os.path.dirname(self.paths[0])
        rep = 0
        while rep == 0 or time.perf_counter() < deadline:
            if self.table_path:
                shutil.rmtree(self.table_path)
            self.table_path = os.path.join(self.work, f"lake-{rep}")
            pipe = CdcPipeline(self.table_path, n_buckets=self.size["buckets"])
            dt, _ = self.op(tracer, "replay", f"rep{rep}", lambda: pipe.run(spark, batch_dir))
            if dt is None:
                break
            self.replay_s.append(dt)
            self.input_bytes += sum(os.path.getsize(p) for p in self.paths)
            table = LakeTable.load(self.table_path)
            dt, _ = self.op(tracer, "lake.read", f"rep{rep}",
                            lambda: noop_sink(table.read(spark)))
            if dt is None:
                break
            self.scan_s.append(dt)
            rep += 1

    def check(self, spark) -> None:
        from gate import compare_state, table_state

        if not self.replay_s:
            return
        want = _fold(self.paths)
        self.rows = len(want)
        self.fail(compare_state(table_state(spark, self.table_path), want, "final state"))

    def metrics(self) -> tuple[dict, dict]:
        replay, scan = statistics.median(self.replay_s), statistics.median(self.scan_s)
        detail = {
            "replay_events_per_s": (self.events / replay, "events/s"),
            "scan_rows_per_s": (self.rows / scan, "rows/s"),
            "replays": (len(self.replay_s), "count"),
            "events": (self.events, "count"),
        }
        return {"work_s": replay, "read_s": scan}, detail

    def extract_inputs(self) -> list[str]:
        return self.paths


class TailServe(Workload):
    name = "tail-serve"
    why = ("open loop: 32 KB-page batches fall due on a fixed schedule and are polled in, "
           "two point lookups follow each poll, compaction every 4 epochs, "
           "a change feed closes the window")
    # set-up polls one small batch into a small table and looks up three of
    # its urls: the write and keyed-read plans compile before the clock starts
    WARM_EVENTS = 50
    WARM_BUCKETS = 4

    def prepare(self) -> None:
        s = self.size
        src = os.path.join(self.work, "src")
        self.paths = _change_log(src, self.seed, s["urls"], s["batches"],
                                 s["events_per_batch"], pad=s["pad"])
        self.tail_dir = os.path.join(self.work, "tail")
        os.makedirs(self.tail_dir)
        self.warm_src = os.path.join(self.work, "warm-src")
        _change_log(self.warm_src, self.seed + 1, self.WARM_EVENTS, 1, self.WARM_EVENTS,
                    pad=s["pad"])
        rng = np.random.RandomState(self.seed)
        # lookup keys: urls each batch changes, drawn before any timing
        self.lookup_keys = []
        for p in self.paths:
            urls = sorted(_batch_urls(p))
            pick = rng.choice(len(urls), min(s["keys_per_lookup"], len(urls)), replace=False)
            self.lookup_keys.append([urls[i] for i in sorted(pick)])
        self.older = [int(rng.randint(0, i + 1)) for i in range(len(self.paths))]
        self.freshness: list[float] = []
        self.lookup_s: list[float] = []
        self.feed_s: list[float] = []
        self.late: list[float] = []
        self.backlog_max = 0
        self.depth_max = 0
        self.lookups: list[tuple[int, list[str], list]] = []  # (batches applied, keys, rows)
        self.feeds: list[tuple[int, int, list]] = []  # (from, to batch count, rows)
        self.applied = 0

    def warm_up(self, spark, cycle: int) -> None:
        from csv_cruncher_spark.lake.table import LakeTable
        from csv_cruncher_spark.streaming.tailer import ChangeLogTailer

        lake = os.path.join(self.work, f"warm-lake-{cycle}")
        tail = os.path.join(self.work, f"warm-tail-{cycle}")
        shutil.copytree(self.warm_src, tail)
        ChangeLogTailer(lake, tail, n_buckets=self.WARM_BUCKETS).poll_once(spark)
        keys = sorted(_batch_urls(os.path.join(tail, os.listdir(tail)[0])))[:3]
        LakeTable.load(lake).read_keys(spark, keys).collect()
        shutil.rmtree(lake)
        shutil.rmtree(tail)

    def measure(self, spark, deadline: float, tracer) -> None:
        from csv_cruncher_spark.lake.table import LakeTable
        from csv_cruncher_spark.streaming.tailer import ChangeLogTailer

        s = self.size
        self.table_path = os.path.join(self.work, "lake")
        tailer = ChangeLogTailer(self.table_path, self.tail_dir, n_buckets=s["buckets"])
        tailer.pipeline.compact_every = s["compact_every"]
        table = LakeTable(self.table_path)
        interval = s["interval_s"]
        t0 = time.perf_counter()
        due = [t0 + i * interval for i in range(len(self.paths))]
        moved = 0
        while self.applied < len(self.paths) and (
            time.perf_counter() < deadline or moved > self.applied
        ):
            now = time.perf_counter()
            if moved == self.applied and due[moved] > now:
                time.sleep(due[moved] - now)
            while moved < len(self.paths) and due[moved] <= time.perf_counter():
                os.rename(self.paths[moved],
                          os.path.join(self.tail_dir, os.path.basename(self.paths[moved])))
                self.late.append(time.perf_counter() - due[moved])
                moved += 1
            self.backlog_max = max(self.backlog_max, moved - self.applied)
            dt, got = self.op(tracer, "streaming.poll_once", f"epoch{self.applied}",
                              lambda: tailer.poll_once(spark))
            if dt is None:
                break
            end = time.perf_counter()
            for _ in got:
                self.freshness.append(end - due[self.applied])
                self.input_bytes += os.path.getsize(
                    os.path.join(self.tail_dir, os.path.basename(self.paths[self.applied])))
                self.applied += 1
            if tracer is not None:
                self.depth_max = max(self.depth_max, table.delta_epoch_depth())
            if time.perf_counter() >= deadline:
                continue  # past the deadline only pending batches are polled
            # the urls the newest batch changed, then those of an earlier one
            for b in (self.applied - 1, self.older[self.applied - 1]):
                keys = self.lookup_keys[b]
                dt, rows = self.op(tracer, "lake.read_keys", f"lookup{len(self.lookup_s)}",
                                   lambda: self._lookup(spark, table, keys, tracer))
                if dt is None:
                    return
                self.lookup_s.append(dt)
                self.lookups.append((self.applied, keys, rows))
        # one change feed over the last epochs closes the window; its rows
        # are collected, so the gate checks them without a second read
        frm = max(0, self.applied - s["feed_span"])
        dt, rows = self.op(tracer, "lake.changes_between", "feed0",
                           lambda: table.changes_between(spark, from_epoch=frm - 1).collect())
        if dt is not None:
            self.feed_s.append(dt)
            self.feeds.append((frm, self.applied, rows))

    @staticmethod
    def _lookup(spark, table, keys, tracer):
        df = table.read_keys(spark, keys)
        rows = df.collect()
        if tracer is not None:
            tracer.current()["files"] = len(df.inputFiles())
        return rows

    def check(self, spark) -> None:
        from gate import compare_feed, compare_state, feed_diff, rows_state, table_state

        if not self.applied:
            return
        applied = [os.path.join(self.tail_dir, os.path.basename(p))
                   for p in self.paths[: self.applied]]
        # sample: the last lookup, the middle lookup and the last feed
        picks = {len(self.lookups) - 1, len(self.lookups) // 2}
        need = {self.applied} | {self.lookups[i][0] for i in picks}
        if self.feeds:
            need |= set(self.feeds[-1][:2])
        need = sorted(need)
        ref = {k: _fold(applied[:k]) for k in need}
        self.fail(compare_state(table_state(spark, self.table_path), ref[self.applied],
                                "final state"))
        for i in sorted(picks):
            k, keys, rows = self.lookups[i]
            want = {u: ref[k][u] for u in keys if u in ref[k]}
            self.fail(compare_state(rows_state(rows), want, f"lookup{i}"))
        if self.feeds:
            a, b, rows = self.feeds[-1]
            self.fail(compare_feed(rows, feed_diff(ref[a], ref[b]), "feed0"))

    def metrics(self) -> tuple[dict, dict]:
        f, lk = self.freshness, self.lookup_s
        detail = {
            "freshness_s_p50": (statistics.median(f), "s"),
            "freshness_s_p90": (quantile(f, 0.9), "s"),
            "lookup_s_p50": (statistics.median(lk), "s"),
            "lookup_s_p90": (quantile(lk, 0.9), "s"),
            "feed_s_p50": (statistics.median(self.feed_s) if self.feed_s else 0.0, "s"),
            "batches": (self.applied, "count"),
            "lookups": (len(lk), "count"),
            "backlog_max": (self.backlog_max, "batches"),
            "generator_late_s": (max(self.late), "s"),
        }
        return {"work_s": statistics.median(f), "read_s": statistics.median(lk)}, detail

    def extract_inputs(self) -> list[str]:
        return [os.path.join(self.tail_dir, os.path.basename(p))
                for p in self.paths[: self.applied]]


def _batch_urls(path: str) -> set[str]:
    import csv

    with open(path, newline="") as f:
        return {row["url"] for row in csv.DictReader(f)}


class QueryMix(Workload):
    name = "query-mix"
    why = ("six __spark_entry__ queries over seeded tables, each checked against its DuckDB "
           "twin: n-gram, semdedup, kNN, IVF, graph rank (codegen fallback), plain SQL; "
           "CDC never reaches them")
    ENTRIES = (
        "q1_pricing_summary ngram_jaccard_near_dups semdedup_pairs knn_join_exact "
        "ann_ivf_topk host_crawl_rank"
    ).split()
    TABLES = ("lineitem", "events", "documents", "embeddings")

    def prepare(self) -> None:
        from querydata import write_tables

        self.data = os.path.join(self.work, "tables")
        write_tables(self.data, self.seed, self.size["docs"])
        self.walls: dict[str, float] = {}
        self.results: dict[str, object] = {}

    def warm_up(self, spark, cycle: int) -> None:
        """Scan every table once; no entry runs before the timed pass."""
        from pyspark.sql import functions as F

        for t in self.TABLES:
            df = spark.read.parquet(os.path.join(self.data, f"{t}.parquet"))
            df.groupBy((F.hash(df.columns[0]) % 7).alias("k")).count().collect()

    def measure(self, spark, deadline: float, tracer) -> None:
        """One pass: each entry once, in a fixed order, on a cleared cache.
        Collecting the result (Arrow) materialises every column and hands
        the check the rows without a second execution."""
        import __spark_entry__ as entries

        qs = entries.queries()
        for name in self.ENTRIES:
            spark.catalog.clearCache()
            dt, pdf = self.op(tracer, f"operators.{name}", name,
                              lambda: qs[name](spark, self.data).toPandas())
            if dt is not None:
                self.walls[name] = dt
                self.results[name] = pdf

    def check(self, spark) -> None:
        import duckdb

        import __spark_entry__ as entries
        from gate import compare_query

        oracle = entries.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.data, t)}.parquet'")
            for name, pdf in self.results.items():
                self.fail(compare_query(name, pdf, con.execute(oracle[name]).fetchdf()))
        finally:
            con.close()

    def metrics(self) -> tuple[dict, dict]:
        w = list(self.walls.values())
        detail = {"queries_s": (sum(w), "s"), "entries": (len(w), "count")}
        detail.update({f"{n}_s": (v, "s") for n, v in self.walls.items()})
        return {"work_s": sum(w), "read_s": statistics.geometric_mean(w)}, detail


WORKLOADS = {w.name: w for w in (BulkReplay, TailServe, QueryMix)}

SIZES = {
    "full": {
        "bulk-replay": {"urls": 12_000, "batches": 2, "events": 24_000, "buckets": 32},
        "tail-serve": {"urls": 5_000, "batches": 10, "events_per_batch": 60,
                       "pad": 32_768, "buckets": 32, "compact_every": 4,
                       "interval_s": 3.5, "keys_per_lookup": 5, "feed_span": 3},
        "query-mix": {"docs": 500},
    },
    "tiny": {
        "bulk-replay": {"urls": 200, "batches": 2, "events": 400, "buckets": 4},
        "tail-serve": {"urls": 100, "batches": 6, "events_per_batch": 20,
                       "pad": 2_048, "buckets": 4, "compact_every": 2,
                       "interval_s": 0.5, "keys_per_lookup": 3, "feed_span": 1},
        "query-mix": {"docs": 60},
    },
}
