"""Spans around the calls the benchmark makes into the program's layers, and
the harvest of Spark's status store for the jobs each span fired.

A span is ``(id, name, parent, start, end)`` with wall-clock times, so they
line up with the job times Spark records.  Each span runs under its own Spark
job group, so the jobs (and through them the stages) it fired attach to it.
Spans stay in memory and are written out with the run's artifact.

The untraced path uses :data:`OFF`, whose spans do nothing, so a timed run
pays for one context manager per layer call and nothing else.
"""

from __future__ import annotations

import contextlib
import sys
import threading
import time

from py4j.protocol import Py4JJavaError

CATALOG_FUNCS = ("load_table", "load_spread", "spread_for_expansion")


class _Off:
    active = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None


OFF = _Off()


class Tracer:
    """Records spans while ``active``; wrappers it installs call straight
    through otherwise, so untraced passes in a traced run do the same work
    as a timed run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.active = False
        self._stack: list[dict] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {"id": self._next, "name": name, "parent": parent and parent["id"],
              "group": f"pb-{self._next}", "start": time.time(), **attrs}
        self._next += 1
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install_catalog(self) -> None:
        """Rebind the catalog loaders in every module that imported them by
        name, so each call becomes a ``catalog.<fn>`` span."""
        from hadoopmapreduce_spark import catalog

        for fname in CATALOG_FUNCS:
            orig = getattr(catalog, fname)
            traced = self.wrap(f"catalog.{fname}", orig)
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith("hadoopmapreduce_spark")
                        and getattr(mod, fname, None) is orig):
                    setattr(mod, fname, traced)

    def install_cli(self, spark) -> None:
        """Spans for the 4-argument CLI, whose body is one function: its
        DataFrame builders become ``operators.build``, each text sink is
        planned under ``catalyst.plan`` and run under ``exec.run``, and
        ``count`` runs under ``exec.run``."""
        from hadoopmapreduce_spark.operators import clickthru
        from hadoopmapreduce_spark.sources import jsonlines

        clickthru.run_clickthru = self.wrap("operators.build", clickthru.run_clickthru)
        jsonlines.read_jsonlines_tolerant = self.wrap(
            "operators.build", jsonlines.read_jsonlines_tolerant)
        probe = spark.range(1)
        writer_cls, frame_cls = type(probe.write), type(probe)
        text, count = writer_cls.text, frame_cls.count
        tracer = self

        def traced_text(writer, *args, **kwargs):
            if tracer.active:
                plan_job(tracer, writer._df)
            with tracer.span("exec.run"):
                return text(writer, *args, **kwargs)

        writer_cls.text = traced_text
        frame_cls.count = self.wrap("exec.run", count)


def plan_job(tracer, df):
    """Run Catalyst on ``df`` (analysis, optimization, physical planning) and
    attach the tracker's phase times to the ``catalyst.plan`` span."""
    with tracer.span("catalyst.plan") as sp:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
    if sp is not None:
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            got = phases.get(phase)
            sp[phase + "_s"] = got.get().durationMs() / 1000 if got.isDefined() else 0.0


class StreamingStats:
    """Counts micro-batches, their trigger time and the state rows through a
    ``StreamingQueryListener``.  Events arrive on a listener thread, so
    :meth:`settle` waits until every started query has reported its end."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.lock = threading.Lock()
        self.started = self.ended = 0
        self.batches = 0
        self.batch_s = 0.0
        self.state_rows: dict[str, int] = {}
        stats = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with stats.lock:
                    stats.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                with stats.lock:
                    stats.batches += 1
                    stats.batch_s += p.durationMs.get("triggerExecution", 0) / 1000
                    # the last progress of a query holds its final state size
                    stats.state_rows[str(p.id)] = sum(
                        s.numRowsTotal for s in p.stateOperators)

            def onQueryTerminated(self, event):
                with stats.lock:
                    stats.ended += 1

        spark.streams.addListener(_Listener())

    def settle(self, timeout: float = 20.0) -> None:
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if self.started == self.ended:
                    return
            time.sleep(0.02)
        raise RuntimeError("streaming listener did not see every query end")

    def take(self) -> dict:
        """Counts since the last call."""
        with self.lock:
            out = {"streaming.batches": self.batches,
                   "streaming.batch_s": self.batch_s,
                   "streaming.state_rows": sum(self.state_rows.values())}
            self.batches, self.batch_s, self.state_rows = 0, 0.0, {}
        return out


class MissingRecord(RuntimeError):
    pass


def harvest(sc, spans: list[dict]) -> dict:
    """Fill each span with the Spark jobs of its group (id, start, end and
    stage ids) and return the metrics of every stage they ran, from the
    status store.  A job or stage the store no longer holds raises
    :class:`MissingRecord`."""
    store = sc._jsc.sc().statusStore()
    stages: dict[int, dict] = {}
    for sp in spans:
        sp["jobs"] = []
        for jid in sorted(sc.statusTracker().getJobIdsForGroup(sp["group"])):
            jd = _lookup(store.job, jid, "job")
            ids = jd.stageIds()
            job = {
                "id": jid,
                "start": jd.submissionTime().get().getTime() / 1000,
                "end": jd.completionTime().get().getTime() / 1000,
                "stages": [ids.apply(i) for i in range(ids.size())],
            }
            for sid in job["stages"]:
                if sid not in stages:
                    stages[sid] = _stage(_lookup(store.lastStageAttempt, sid, "stage"))
            sp["jobs"].append(job)
    return stages


def _lookup(get, key: int, what: str):
    try:
        return get(key)
    except Py4JJavaError:  # the store raises NoSuchElementException
        raise MissingRecord(f"{what} {key} is not in the status store") from None


def _stage(sd) -> dict:
    return {
        "status": sd.status().toString(),
        "tasks": sd.numCompleteTasks(),
        "run_s": sd.executorRunTime() / 1000,
        "cpu_s": sd.executorCpuTime() / 1e9,
        "gc_s": sd.jvmGcTime() / 1000,
        "input_bytes": sd.inputBytes(),
        "output_bytes": sd.outputBytes(),
        "shuffle_read_bytes": sd.shuffleReadBytes(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
    }


def union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
