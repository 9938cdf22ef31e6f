"""One fresh benchmark process: start a session, run a workload's passes and
write what it measured as JSON.

Run by ``run.py``; it is not meant to be started by hand.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback

import procfs
import tracing

# Registry jobs per workload, and the tables each query reads (for the
# workload's fixed input-row count and its on-disk input bytes).
WORKLOADS = {
    "query_mix": [
        "ctr_flagship",
        "q5_local_supplier_volume",
        "sql_shared_revenue",
        "exact_dedup",
        "dedup_semantic_clustered",
        "streaming_windowed_counts",
    ],
}
QUERY_TABLES = {
    "ctr_flagship": ("events",),
    "q5_local_supplier_volume": (
        "customer", "orders", "lineitem", "supplier", "nation", "region"),
    "sql_shared_revenue": ("orders", "lineitem"),
    "exact_dedup": ("documents",),
    "dedup_semantic_clustered": ("embeddings",),
    "streaming_windowed_counts": ("events",),
}
# Pass time still falls after ten passes (the JIT keeps compiling), more than
# a run can afford, so every run warms up for the same number of passes and
# measures at least the same number of jobs: the measured passes then sit at
# the same point of that curve in every run.  The record keeps the warm-up
# pass times.
WARM_PASSES = 2
# Measured jobs per run, at least.  The tail is read at the percentile that
# leaves ten of this many samples beyond it.
MIN_JOBS = {"ctr_jsonl": 14, "query_mix": 18}


def hygiene(spark) -> None:
    """Drop what one pass left behind, so the next pays its standalone cost:
    the program's cache registries, Spark's cache, then both heaps."""
    from hadoopmapreduce_spark.functions import ranks
    from hadoopmapreduce_spark.operators import graph

    for mod, fn in ((graph, "release_graph_caches"), (ranks, "release_rank_caches")):
        release = getattr(mod, fn, None)
        if release is not None:
            release()
    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.System.gc()


class RegistryJobs:
    """Each job is one registry query built, planned and written to the
    ``noop`` sink.  The first pass keeps its frames for the oracle check."""

    def __init__(self, spark, workload: str, inputs: str, tracer):
        from hadoopmapreduce_spark import registry

        self.spark, self.inputs, self.tracer = spark, inputs, tracer
        self.queries = registry.QUERIES
        self.oracles = registry.ORACLES
        self.names = WORKLOADS[workload]
        rows = _meta(inputs)["rows"]
        self.rows_per_pass = sum(rows[t] for q in self.names for t in QUERY_TABLES[q])
        self.disk_bytes_per_pass = sum(
            os.path.getsize(os.path.join(inputs, f"{t}.parquet"))
            for q in self.names for t in QUERY_TABLES[q])

    def run(self, name: str):
        tr = self.tracer
        with tr.span("job", query=name):
            with tr.span("operators.build"):
                df = self.queries[name](self.spark, self.inputs)
            tracing.plan_job(tr, df)
            with tr.span("exec.run"):
                df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, name: str, df) -> str | None:
        """None when ``df`` matches the query's DuckDB oracle exactly."""
        from hadoopmapreduce_spark import oracle

        sql = self.oracles.get(name)
        if sql is None:
            return None if df.count() > 0 else "no rows"
        con = oracle.duckdb_connect(self.inputs)
        try:
            rep = oracle.compare(name, df, con, sql)
        finally:
            con.close()
        return None if rep.ok else f"oracle mismatch: {rep.detail[:300]}"


class CliJobs:
    """Each job is one 4-argument CLI invocation over the seeded JSON lines.
    Every job's two output dirs are checked against the generator's ground
    truth, outside the timed region."""

    def __init__(self, spark, workload: str, inputs: str, tracer):
        from hadoopmapreduce_spark.__main__ import main

        self.main = main
        self.names = ["clickthru_cli"]
        meta = _meta(inputs)
        self.rows_per_pass = meta["input_rows"]
        self.disk_bytes_per_pass = meta["input_bytes"]
        self.ctr, self.combined = meta["ctr"], meta["combined"]
        self.argv = [os.path.join(inputs, d) for d in
                     ("impressions", "clicks", "combined", "output")]
        self.tracer = tracer

    def run(self, name: str):
        with self.tracer.span("job", query=name):
            rc = self.main(list(self.argv))
        if rc != 0:
            raise RuntimeError(f"CLI exited {rc}")
        return None

    def check(self, name: str, _df) -> str | None:
        import numpy as np

        # output lines: "[referrer, adId]\t<ctr>"
        got = {}
        for line in _read_parts(self.argv[3]):
            key, _, val = line.partition("\t")
            got[key[1:-1].replace(", ", "\t", 1)] = val
        if set(got) != set(self.ctr):
            return f"output keys differ: {len(got)} vs {len(self.ctr)} expected"
        for k, want in self.ctr.items():
            if np.float32(float(got[k])) != np.float32(want):
                return f"ctr[{k!r}] = {got[k]}, expected {np.float32(want)}"
        # intermediate lines: "0\t{referrer/x1fadId/x1e<flag>"
        comb: dict[str, int] = {}
        for line in _read_parts(self.argv[2]):
            key = line.removeprefix("0\t{").replace("/x1f", "\t", 1).replace("/x1e", "\t", 1)
            comb[key] = comb.get(key, 0) + 1
        if comb != self.combined:
            return "combined intermediate differs from the ground truth"
        return None


def _meta(inputs: str) -> dict:
    with open(os.path.join(inputs, "meta.json")) as f:
        return json.load(f)


def _read_parts(path: str):
    for f in sorted(os.listdir(path)):
        if f.startswith("part-"):
            with open(os.path.join(path, f)) as fh:
                yield from (line.rstrip("\n") for line in fh)


class Runner:
    def __init__(self, spark, jobs, tracer, stream):
        self.spark, self.jobs, self.tracer, self.stream = spark, jobs, tracer, stream
        self.attempted = 0
        self.failures: list[str] = []

    def run_pass(self, keep: bool = False) -> dict:
        """Run the job list once.  ``wall`` is the sum of job latencies;
        ``cpu_s`` is the process tree's CPU over the jobs and ``peak_rss_mb``
        the sum of its processes' peak RSS during them."""
        me = os.getpid()
        procfs.reset_peak_rss(me)
        cpu0 = procfs.tree_cpu_s(me)
        lat, frames, first = [], [], len(self.tracer.spans) if self.tracer.active else 0
        for name in self.jobs.names:
            self.attempted += 1
            n_failed = len(self.failures)
            t0 = time.perf_counter()
            try:
                df = self.jobs.run(name)
            except Exception:
                self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
                df = None
            t1 = time.perf_counter()
            lat.append(t1 - t0)
            frames.append((name, df, len(self.failures) > n_failed))
        cpu = procfs.tree_cpu_s(me) - cpu0
        rss = procfs.tree_peak_rss(me)
        out = {"latencies": lat, "wall": sum(lat), "cpu_s": cpu,
               "peak_rss_mb": sum(rss.values()), "peak_rss": rss}
        if isinstance(self.jobs, CliJobs):  # every CLI job's output is checked
            self.check(frames)
        elif keep:
            out["frames"] = frames
        if self.tracer.active:
            out["spans"] = self.tracer.spans[first:]
        if self.stream is not None:
            self.stream.settle()
            out["streaming"] = self.stream.take()
        return out

    def check(self, frames) -> None:
        for name, df, failed in frames:
            if failed:
                continue  # already counted
            try:
                err = self.jobs.check(name, df)
            except Exception:
                err = traceback.format_exc(limit=3)
            if err:
                self.failures.append(f"{name}: {err}")


def percentile_tail(xs: list[float], min_jobs: int) -> tuple[float, float]:
    """The percentile that has ten samples beyond it when there are
    ``min_jobs`` samples, and its nearest-rank value in ``xs``."""
    rank = -(-(min_jobs - 10) * len(xs) // min_jobs)  # ceil, in integers
    return 100.0 * (min_jobs - 10) / min_jobs, sorted(xs)[rank - 1]


def layer_metrics(p: dict, stages: dict, cores: int, disk_bytes: int) -> dict:
    spans = p["spans"]
    by_id = {sp["id"]: sp for sp in spans}

    def ancestors(sp):
        while sp["parent"] is not None and sp["parent"] in by_id:
            sp = by_id[sp["parent"]]
            yield sp

    def subtree(root):
        return [sp for sp in spans if sp is root or any(a is root for a in ancestors(sp))]

    m: dict[str, float] = {}
    builds = [sp for sp in spans
              if sp["name"] == "operators.build"
              and not any(a["name"] == "operators.build" for a in ancestors(sp))]
    build_self = build_job_s = 0.0
    build_jobs = 0
    for b in builds:
        sub = subtree(b)
        jobs = [(j["start"], j["end"]) for sp in sub for j in sp["jobs"]]
        cats = [(sp["start"], sp["end"]) for sp in sub if sp["name"].startswith("catalog.")]
        build_self += (b["end"] - b["start"]) - tracing.union_s(jobs + cats, b["start"], b["end"])
        build_job_s += tracing.union_s(jobs, b["start"], b["end"])
        build_jobs += len(jobs)
    m["operators.build_s"] = build_self
    m["operators.build_jobs"] = build_jobs
    m["operators.build_job_s"] = build_job_s

    loads = [sp for sp in spans if sp["name"] == "catalog.load_table"]
    m["catalog.load_table_calls"] = len(loads)
    m["catalog.load_table_s"] = sum(sp["end"] - sp["start"] for sp in loads)
    m["catalog.spread_calls"] = sum(
        sp["name"] == "catalog.spread_for_expansion" for sp in spans)

    plans = [sp for sp in spans if sp["name"] == "catalyst.plan"]
    m["catalyst.plan_s"] = sum(sp["end"] - sp["start"] for sp in plans)
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = sum(sp.get(f"{phase}_s", 0.0) for sp in plans)

    execs = [sp for sp in spans if sp["name"] == "exec.run"]
    m["exec.run_s"] = sum(sp["end"] - sp["start"] for sp in execs)
    all_jobs = [j for sp in spans for j in sp["jobs"]]
    sids = sorted({sid for j in all_jobs for sid in j["stages"]})
    ran = [stages[s] for s in sids if stages[s]["status"] != "SKIPPED"]
    m["exec.jobs"] = len(all_jobs)
    m["exec.stages"] = len(ran)
    m["exec.tasks"] = sum(s["tasks"] for s in ran)
    m["exec.executor_run_s"] = sum(s["run_s"] for s in ran)
    m["exec.executor_cpu_s"] = sum(s["cpu_s"] for s in ran)
    m["exec.gc_s"] = sum(s["gc_s"] for s in ran)
    busy = tracing.union_s([(j["start"], j["end"]) for j in all_jobs], 0, float("inf"))
    m["exec.slot_busy_ratio"] = m["exec.executor_run_s"] / (busy * cores) if busy else 0.0
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "output_bytes"):
        m[f"exec.{k}"] = sum(s[k] for s in ran)
    m["sources.read_amplification"] = sum(s["input_bytes"] for s in ran) / disk_bytes
    m.update(p.get("streaming") or {
        "streaming.batches": 0, "streaming.batch_s": 0.0, "streaming.state_rows": 0})

    jobs = [sp for sp in spans if sp["name"] == "job"]
    cover = []
    for j in jobs:
        kids = [(sp["start"], sp["end"]) for sp in spans if sp["parent"] == j["id"]]
        cover.append(tracing.union_s(kids, j["start"], j["end"]) / (j["end"] - j["start"]))
    m["trace.job_span_coverage"] = min(cover)
    return m


COUNTS = (
    "operators.build_jobs", "catalog.load_table_calls", "catalog.spread_calls",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.output_bytes",
    "streaming.batches", "streaming.state_rows",
)


def run(spark, args) -> dict:
    cores = spark.sparkContext.defaultParallelism
    tracer = tracing.Tracer(spark) if args.trace else tracing.OFF
    stream = None
    kind = CliJobs if args.workload == "ctr_jsonl" else RegistryJobs
    if args.trace:
        tracer.install_catalog()
        if kind is CliJobs:
            tracer.install_cli(spark)
        stream = tracing.StreamingStats(spark)
    jobs = kind(spark, args.workload, args.inputs, tracer)
    r = Runner(spark, jobs, tracer, stream)

    cold = r.run_pass(keep=True)
    r.check(cold.pop("frames", []))
    hygiene(spark)
    warm = [cold["wall"]]
    for _ in range(WARM_PASSES):
        warm.append(r.run_pass()["wall"])
        hygiene(spark)
    passes: list[dict] = []
    t0 = time.perf_counter()

    def more() -> bool:
        if time.perf_counter() - t0 < args.seconds:
            return True
        if args.trace:  # three traced and two untraced passes, alternating
            return len(passes) < 5
        return sum(len(p["latencies"]) for p in passes) < MIN_JOBS[args.workload]

    while more():
        traced = bool(args.trace) and len(passes) % 2 == 0
        tracer.active = traced
        p = r.run_pass()
        tracer.active = False
        p["traced"] = traced
        if traced:
            stages = tracing.harvest(spark.sparkContext, p["spans"])
            p["layers"] = layer_metrics(p, stages, cores, jobs.disk_bytes_per_pass)
            p["stages"] = stages
        hygiene(spark)
        passes.append(p)

    out = {
        "cold_s": cold["wall"],
        "cold_latencies": cold["latencies"],
        "warmup_walls": warm,
        "passes": [{k: v for k, v in p.items() if k != "stages"} for p in passes],
        "attempted": r.attempted,
        "failures": r.failures,
        "rows_per_pass": jobs.rows_per_pass,
        "cores": cores,
        "versions": {
            "spark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        },
    }
    timed = [p for p in passes if not p["traced"]]
    if not args.trace:
        lat = [x for p in timed for x in p["latencies"]]
        pct, tail = percentile_tail(lat, MIN_JOBS[args.workload])
        out["metrics"] = {
            "cold_s": cold["wall"],
            "latency_s_p50": statistics.median(lat),
            "latency_s_tail": tail,
            "rows_per_s": jobs.rows_per_pass / statistics.median(p["wall"] for p in timed),
            "cpu_s": statistics.median(p["cpu_s"] for p in timed),
            "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in timed),
        }
        out["tail"] = {"percentile": pct, "samples": len(lat), "passes": len(timed)}
    else:
        traced = [p for p in passes if p["traced"]]
        layers = [p["layers"] for p in traced]
        m = {k: statistics.median(x[k] for x in layers) for k in layers[0]}
        m["trace.job_span_coverage"] = min(x["trace.job_span_coverage"] for x in layers)
        m["trace.overhead_ratio"] = (
            statistics.median(p["wall"] for p in traced)
            / statistics.median(p["wall"] for p in timed) - 1)
        out["metrics"] = m
        out["count_stability"] = {
            k: {"values": [x[k] for x in layers],
                "repeats": len({x[k] for x in layers}) == 1}
            for k in COUNTS
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    t0 = time.perf_counter()
    from hadoopmapreduce_spark.session import get_spark

    spark = get_spark()
    t1 = time.perf_counter()
    from hadoopmapreduce_spark import registry

    registry.load_all()
    t2 = time.perf_counter()
    setup = {"setup_s": t2 - t0, "session.get_spark_s": t1 - t0,
             "registry.load_all_s": t2 - t1}
    try:
        out = {"setup": setup, **run(spark, args)}
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(out, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
