"""Bag-to-scene benchmark on a warm JVM.

    python3 scenebench/run.py --workload fleet_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates seeded ROS1 bags, drives them
through the package's ingest path (see ``lake.py``) and searches the
resulting lake (see ``search.py``), checking every batch and query
against the generator's truth. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. Everything the run writes stays under
``.scenebench_work/`` in the repository root and is removed at exit.

See ``scenebench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per workload: bag shape, bags in the untimed warm-up batch, bags per
# batch, and warm batches built during set-up (scene_search only)
WORKLOADS = {
    "fleet_ingest": {"shape": "fleet_ingest", "warmup_bags": 1,
                     "batch_bags": 3, "build_batches": 0},
    "scene_search": {"shape": "scene_search", "warmup_bags": 1,
                     "batch_bags": 2, "build_batches": 2},
}

# the query sample must put at least ten queries beyond its p90
MIN_QUERIES = 100
# warm-up bags are short: the warm-up exists to compile and load the
# code paths, which does not depend on how much data flows through them
WARMUP_SECONDS = 10

END_TO_END = {
    "setup_s": "s", "batch_latency_s": "s", "msgs_per_s": "1/s",
    "lake_bytes_per_input_byte": "ratio", "query_p50_ms": "ms",
    "query_p90_ms": "ms", "queries_per_s": "1/s",
}

LAYER_SPANS = {
    "streaming.sources.ingest_step_s": "streaming.sources.ingest_step",
    "streaming.gate.observe_s": "streaming.gate.observe",
    "sources.rosbag.scan_s": "sources.rosbag.scan",
    "sources.rosbag.extract_s": "sources.rosbag.extract",
    "sources.tables.lake_write_s": "sources.tables.lake_write",
    "pipeline.synchronize.s": "pipeline.synchronize",
    "pipeline.scenes.geometry_s": "pipeline.scenes.geometry",
    "pipeline.scenes.intervals_s": "pipeline.scenes.intervals",
    "pipeline.batch.register_s": "pipeline.batch.register",
}
LAYER_COUNTS = {
    "streaming.sources.files_listed": "count",
    "sources.rosbag.msgs": "count",
    "sources.rosbag.bytes_in": "bytes",
    "sources.tables.lake_files": "count",
    "sources.tables.lake_bytes": "bytes",
    "pipeline.synchronize.rows_in": "count",
    "pipeline.synchronize.ticks_out": "count",
    "pipeline.scenes.detections_in": "count",
    "pipeline.scenes.scenes_out": "count",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_probe_ms() -> float:
    """A fixed pure-Python loop, timed: reads higher when the host is
    slower or busier. Recorded before and after a run as a noise guard."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return (time.perf_counter() - t0) * 1e3


def cpu_ticks() -> tuple:
    """(steal, total) clock ticks of all CPUs since boot, from
    /proc/stat; (0, 0) where it cannot be read. Steal is time a virtual
    CPU was runnable but the host ran something else."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def steal_frac(before: tuple, after: tuple):
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else None


def percentile(values: list, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


class Bench:
    def __init__(self, args, work: str):
        import baggen
        from spans import Tracer

        self.args = args
        self.cfg = WORKLOADS[args.workload]
        self.shape = baggen.SHAPES[self.cfg["shape"]]
        self.work = work
        self.tracer = Tracer(bool(args.trace))
        self.rng = random.Random(f"{args.workload}:{args.seed}")
        self.truths: dict = {}           # every bag committed so far
        self.bag_bytes = 0
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.batches: list[dict] = []    # timed batches
        self.queries: list[tuple] = []   # timed (kind, seconds, traced)
        self.n_parts = 0
        self.spark = None
        self.lake = None

    # ------------------------------------------------------------ set-up
    def start_session(self) -> None:
        from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.session import (
            get_spark,
        )

        import baggen
        from lake import SceneLake
        k = nproc()
        tmp = os.path.join(self.work, "tmp")
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                f"scenebench-{self.args.workload}", shuffle_partitions=k,
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.local.dir": tmp,
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                })
            self.spark.sparkContext.setLogLevel("ERROR")
        topics = [t for t in baggen.DEFS if self.shape.rates.get(t)]
        self.lake = SceneLake(self.spark, self.work, topics,
                              list(self.shape.sync), self.tracer)

    def make_batch(self, prefix: str, count: int, seconds=None) -> list:
        import baggen
        return baggen.make_bags(self.cfg["shape"], self.args.seed, prefix,
                                count, seconds)

    # ------------------------------------------------------------- batch
    def run_batch(self, bags: list) -> dict:
        """Land ``bags``, run one ingest step and check what it
        committed. Returns the batch record; raises nothing."""
        tr = self.tracer
        part = f"{self.n_parts:06d}"
        self.n_parts += 1
        self.lake.land(part, bags, os.path.join(self.work, "staging"))
        names = sorted(t.name for _, t in bags)
        rec = {"msgs": sum(t.messages for _, t in bags), "ok": False,
               "traced": tr.enabled, "batch": part}
        tr.batch = part
        t0 = time.perf_counter()
        try:
            seen = self.lake.ingest(part)
            rec["latency"] = time.perf_counter() - t0
            want = {(t.name, topic): n for _, t in bags
                    for topic, n in t.counts.items()}
            rec["ok"] = seen.get("released") == names and seen.get("counts") == want
            if not rec["ok"]:
                self.errors.append(f"batch {part}: released/counts differ")
        except Exception:
            rec["latency"] = time.perf_counter() - t0
            self.errors.append(f"batch {part}: {traceback.format_exc(limit=3)}")
        for _, t in bags:
            self.truths[t.name] = t
            self.bag_bytes += t.size
        if tr.enabled:
            self.count_layers(part, bags)
        return rec

    def count_layers(self, part: str, bags: list) -> None:
        """Counts at the layer boundaries; taken after the batch's
        latency is measured (they cost a walk and a footer count)."""
        import lake as lakemod
        tr = self.tracer
        sync = [lakemod.DEFS[t][0] for t in self.shape.sync]
        tr.count("sources.rosbag.bytes_in", sum(t.size for _, t in bags))
        tr.count("pipeline.synchronize.rows_in",
                 sum(t.counts[s] for _, t in bags for s in sync))
        tr.count("pipeline.scenes.detections_in",
                 sum(t.grid_objects for _, t in bags))
        files, size = lakemod.data_bytes(self.lake.lake)
        prev = getattr(self, "_lake_seen", (0, 0))
        tr.count("sources.tables.lake_files", files - prev[0])
        tr.count("sources.tables.lake_bytes", size - prev[1])
        self._lake_seen = (files, size)
        names = [t.name for _, t in bags]
        paths = self.lake.tables
        try:
            tr.count("pipeline.synchronize.ticks_out", self.lake.partitions(
                paths["synchronized_topics"], names).count())
            tr.count("pipeline.scenes.scenes_out", self.lake.partitions(
                paths["person_scenes"], names).count())
        except Exception:
            self.errors.append(f"counts {part}: {traceback.format_exc(limit=2)}")

    # ------------------------------------------------------------- query
    def run_query(self, sql: str, check, kind: str, timed: bool) -> float:
        tr = self.tracer
        t0 = time.perf_counter()
        ok = False
        try:
            rows = self.spark.sql(sql).collect()
            dt = time.perf_counter() - t0
            ok = check(rows)
            if not ok:
                self.errors.append(f"query {kind}: wrong answer: {sql}")
        except Exception:
            dt = time.perf_counter() - t0
            self.errors.append(f"query {kind}: {traceback.format_exc(limit=2)}")
        if timed:
            self.attempted += 1
            self.failed += not ok
            self.queries.append((kind, dt, tr.enabled))
        elif not ok:
            raise RuntimeError(f"set-up query {kind} failed")
        return dt

    def freshness_reads(self, bags: list, timed: bool) -> float:
        """Read back a committed batch through the catalog: each bag's
        scenes and two of its scenes' synchronized rows, then the
        fleet-wide queries over every bag committed so far. (With one
        read of each per-bag kind, the median fell in the gap between
        the two kinds' latencies and jumped between runs.)"""
        import search
        spent = 0.0
        for _, t in bags:
            spent += self.run_query(*search.bag_scenes(t), "bag_scenes", timed)
            for k in self.rng.sample(range(len(t.scenes)), min(2, len(t.scenes))):
                spent += self.run_query(*search.scene_rows(t, k), "scene_rows", timed)
        spent += self.run_query(*search.fleet_long(self.truths, 2.0),
                                "fleet_long", timed)
        spent += self.run_query(*search.bag_counts(self.truths),
                                "bag_counts", timed)
        return spent

    def verify_topic_tables(self) -> set:
        """Rows per (bag, topic table), read from the parquet footers of
        the committed files; returns the bags whose counts differ from
        the generator's."""
        import pyarrow.parquet as pq

        import lake as lakemod
        bad = set()
        for short in self.lake.topics:
            ros = lakemod.DEFS[short][0]
            base = self.lake.topic_path(short)
            for name, t in self.truths.items():
                part = os.path.join(base, f"bag_file={name}")
                rows = sum(pq.read_metadata(os.path.join(part, f)).num_rows
                           for f in (os.listdir(part) if os.path.isdir(part) else [])
                           if f.endswith(".parquet"))
                if rows != t.counts[ros]:
                    bad.add(name)
        return bad

    # ------------------------------------------------------------ phases
    def setup(self) -> float:
        """Session, untimed warm-up batch, its reads, and (scene_search)
        the warm build batches. Returns set-up seconds, bag generation
        excluded."""
        t0 = time.perf_counter()
        self.start_session()
        gen = time.perf_counter()
        warm = self.make_batch("warmup", self.cfg["warmup_bags"], WARMUP_SECONDS)
        gen = time.perf_counter() - gen
        self.tracer.enabled = False      # the warm-up is never traced
        rec = self.run_batch(warm)
        if not rec["ok"]:
            raise RuntimeError("warm-up batch failed: " + "; ".join(self.errors))
        self.freshness_reads(warm, timed=False)
        self.tracer.enabled = bool(self.args.trace)
        self.warmup_s = time.perf_counter() - t0 - gen
        for b in range(self.cfg["build_batches"]):
            g0 = time.perf_counter()
            bags = self.make_batch(f"lake{b}", self.cfg["batch_bags"])
            gen += time.perf_counter() - g0
            self.tracer.enabled = bool(self.args.trace) and b % 2 == 0
            rec = self.run_batch(bags)
            rec["reads"] = self.freshness_reads(bags, timed=False)
            self.batches.append(rec)
        self.tracer.enabled = bool(self.args.trace)
        return time.perf_counter() - t0 - gen

    def ingest_phase(self, seconds: float) -> None:
        """Timed batches, each followed by its freshness reads, until
        ``seconds`` of batch + read time have passed."""
        i, spent = 0, 0.0
        while spent < seconds:
            bags = self.make_batch(f"b{i}", self.cfg["batch_bags"])
            # in the traced run every other batch runs untraced, so the
            # difference of the two medians is the tracing overhead
            self.tracer.enabled = bool(self.args.trace) and i % 2 == 0
            rec = self.run_batch(bags)
            rec["reads"] = self.freshness_reads(bags, timed=True)
            self.batches.append(rec)
            spent += rec["latency"] + rec["reads"]
            i += 1
        self.tracer.enabled = bool(self.args.trace)

    def search_phase(self, seconds: float) -> None:
        """One closed-loop client issuing the seeded query mix for
        ``seconds`` of query time, and at least MIN_QUERIES queries."""
        import search
        spent, i = 0.0, 0
        while spent < seconds or i < MIN_QUERIES:
            kind = self.rng.choice(search.KINDS)
            sql, check = search.make(kind, self.rng, self.truths)
            self.tracer.enabled = bool(self.args.trace) and i % 2 == 0
            self.tracer.batch = f"q{i}"
            with self.tracer.span(f"scene_search.{kind}"):
                spent += self.run_query(sql, check, kind, timed=True)
            i += 1
        self.tracer.enabled = bool(self.args.trace)

    def stop(self) -> None:
        from pyspark import SparkContext
        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def end_to_end(b: Bench, setup_s: float) -> dict:
    lat = [r["latency"] for r in b.batches]
    q = [dt for _, dt, _ in b.queries]
    from lake import data_bytes
    _, size = data_bytes(b.lake.lake)
    return {
        "setup_s": setup_s,
        "batch_latency_s": statistics.median(lat),
        # per batch, messages over the batch and its read-back, reduced
        # like batch_latency_s (a median: robust once there are 3+ batches)
        "msgs_per_s": statistics.median(
            r["msgs"] / (r["latency"] + r["reads"]) for r in b.batches),
        "lake_bytes_per_input_byte": size / b.bag_bytes,
        "query_p50_ms": statistics.median(q) * 1e3,
        "query_p90_ms": percentile(q, 0.9) * 1e3,
        "queries_per_s": len(q) / sum(q),
    }


def per_layer(b: Bench) -> dict:
    tr = b.tracer
    traced = [r["batch"] for r in b.batches if r["traced"]]
    out = {"session.start_s": (tr.median_self("session.start", [None]), "s")}
    for metric, span in LAYER_SPANS.items():
        out[metric] = (tr.median_self(span, traced), "s")
    for metric, unit in LAYER_COUNTS.items():
        out[metric] = (tr.median_count(metric, traced), unit)
    import search
    for kind in search.KINDS:
        vals = [dt for k, dt, traced in b.queries if k == kind and traced]
        out[f"scene_search.{kind}_p50_ms"] = (
            statistics.median(vals) * 1e3 if vals else float("nan"), "ms")
    return out


def trace_report(b: Bench) -> dict:
    """Self time by span name over the traced timed batches, and the
    tracing overhead: traced minus untraced medians in this run."""
    tr = b.tracer
    traced = [r["batch"] for r in b.batches if r["traced"]]
    names = sorted({s[0] for s in tr.spans if s[4] in traced})
    self_s = {n: round(tr.median_self(n, traced), 4) for n in names}
    lat_t = [r["latency"] for r in b.batches if r["traced"]]
    lat_u = [r["latency"] for r in b.batches if not r["traced"]]
    q_t = [dt for _, dt, t in b.queries if t]
    q_u = [dt for _, dt, t in b.queries if not t]
    timed_q = {f"q{i}" for i in range(len(b.queries))}
    from lake import WRITE_PATH_SPANS
    return {
        "self_time_s": self_s,
        "batch_median_traced_s": statistics.median(lat_t) if lat_t else None,
        "overhead_batch_latency_s": (statistics.median(lat_t) - statistics.median(lat_u)
                                     if lat_t and lat_u else None),
        "overhead_query_p50_ms": ((statistics.median(q_t) - statistics.median(q_u)) * 1e3
                                  if q_t and q_u else None),
        "write_path_spans_in_search_phase": len(tr.names_in(timed_q) & WRITE_PATH_SPANS),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".scenebench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    sys.path[:0] = [ROOT, HERE]

    load0, probe0, ticks0 = os.getloadavg(), cpu_probe_ms(), cpu_ticks()
    b = None
    try:
        b = Bench(args, work)
        setup_s = b.setup()
        if b.cfg["build_batches"]:
            b.search_phase(args.seconds)
        else:
            b.ingest_phase(args.seconds)
        for r in b.batches:
            b.attempted += 1
            b.failed += not r["ok"]
        bad = b.verify_topic_tables()
        if bad:
            b.errors.append(f"topic row counts differ for {sorted(bad)}")
            # charge each wrong bag to the batch that committed it
            owners = {r["batch"] for r in b.batches}
            b.failed += min(len(bad), len(owners))
        metrics = per_layer(b) if args.trace else {
            k: (v, END_TO_END[k]) for k, v in end_to_end(b, setup_s).items()}
        report = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": nproc(), "master": f"local[{nproc()}]",
            "loadavg_before": load0, "loadavg_after": os.getloadavg(),
            "cpu_probe_ms_before": probe0, "cpu_probe_ms_after": cpu_probe_ms(),
            "cpu_steal_frac": steal_frac(ticks0, cpu_ticks()),
            "warmup_s": b.warmup_s,
            "batch_latencies_s": [r["latency"] for r in b.batches],
            "timed_batches": len(b.batches), "timed_queries": len(b.queries),
            "failed_frac": b.failed / max(1, b.attempted),
            "errors": b.errors[:5],
        }
        if args.trace:
            report["trace"] = trace_report(b)
        print("report " + json.dumps(report, default=str), flush=True)
    finally:
        if b is not None:
            b.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))   # only when no other run uses it
        except OSError:
            pass
    print(json.dumps({
        "correct": b.failed == 0 and not b.errors,
        "attempted": b.attempted, "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
