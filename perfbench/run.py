"""Benchmark of the CTR engine: one closed-loop client, no think time, on
``local[nproc]``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout.  It generates the workload's inputs from
the seed, starts fresh processes that call the program's public entry points,
checks every output, and prints one JSON line (the last line of stdout) with
the end-to-end metrics (``--trace 0``) or the per-layer metrics of a traced
run (``--trace 1``).  The full record of the run (host, passes, spans, count
stability) is written under ``.perfbench_out/``.  See README.md here for the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen
import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ctr_jsonl", "query_mix")
RUN_TIMEOUT_S = 150


def _spark_env(work: str, trace: bool) -> dict:
    """The program's defaults, except the core count and the scratch and
    local dirs, which point into the run's work dir."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    dirs = {d: os.path.join(work, d) for d in ("scratch", "local", "warehouse", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    jvm = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    submit = [f"--driver-java-options '{jvm}'"]
    if trace:  # keep every job and stage record for the harvest
        submit += ["--conf spark.ui.retainedJobs=1000000",
                   "--conf spark.ui.retainedStages=1000000"]
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_SCRATCH": dirs["scratch"],
        "SPARK_GRAFT_WAREHOUSE": dirs["warehouse"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "SPARK_LAUNCHER_OPTS": jvm,
        "PYTHONPATH": ROOT,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    return env


def _wait_session(sid: int, timeout: float) -> None:
    """Wait until every process of session ``sid`` (the worker, its JVM and
    the JVM's Python workers) has ended; kill what is left at the deadline."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if not procfs.session_pids(sid):
            return
        time.sleep(0.05)
    for pid in procfs.session_pids(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while procfs.session_pids(sid):
        time.sleep(0.05)


def _worker(args, work: str, env: dict) -> dict:
    """Run the measurement in a fresh process and wait for every process it
    started to end."""
    out = os.path.join(work, "run.json")
    log_path = os.path.join(work, "run.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--inputs", os.path.join(work, "inputs"),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        rc = None
        try:
            rc = proc.wait(RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            # after a clean exit the JVM and its Python workers end by
            # themselves; after a timeout or a signal they are killed
            _wait_session(proc.pid, timeout=15 if rc is not None else 0)
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"worker failed (exit {rc}):\n{tail}")
    with open(out) as f:
        return json.load(f)


def _generate(workload: str, seed: int, inputs: str) -> None:
    make = gen.gen_ctr if workload == "ctr_jsonl" else gen.gen_tables
    with open(os.path.join(inputs, "meta.json"), "w") as f:
        json.dump(make(seed, inputs), f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "hadoopmapreduce_spark", "__main__.py")):
        print("perfbench: the program (hadoopmapreduce_spark/) is not in this "
              "checkout", file=sys.stderr)
        return 2

    host = {"before": procfs.host_snapshot(), **procfs.host_record()}
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    try:
        _generate(args.workload, args.seed, inputs)
        env = _spark_env(work, bool(args.trace))
        res = _worker(args, work, env)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host["after"] = procfs.host_snapshot()
    host["env"] = {k: v for k, v in env.items()
                   if k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL", "SPARK_LAUNCHER", "PYSPARK_"))}
    host["caller_env"] = {k: v for k, v in os.environ.items()
                          if k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    host["versions"] = res.pop("versions")

    failed = len(res["failures"])
    attempted = res["attempted"]
    setup = res.pop("setup")
    if args.trace:
        metrics = {
            "session.get_spark_s": setup["session.get_spark_s"],
            "registry.load_all_s": setup["registry.load_all_s"],
            **res["metrics"],
        }
    else:
        metrics = {
            "setup_s": setup["setup_s"],
            **res["metrics"],
            "success_ratio": (attempted - failed) / attempted,
        }
    units = _units(args.trace)
    if set(metrics) != set(units):
        print(f"perfbench: metrics {sorted(set(metrics) ^ set(units))} do not match "
              "BENCHMARK.json", file=sys.stderr)
        return 1
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host, "setup": setup,
              "metrics": metrics, **res}
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for err in res["failures"]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    for k, v in metrics.items():
        print(f"{args.workload:10s} {k:32s} {v:14.6g} {units[k]}", file=sys.stderr)
    if not args.trace:
        t = res["tail"]
        print(f"{args.workload:10s} latency_s_tail is p{t['percentile']:.1f} of "
              f"{t['samples']} jobs over {t['passes']} passes", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _units(trace: int) -> dict:
    """Name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


if __name__ == "__main__":
    sys.exit(main())
