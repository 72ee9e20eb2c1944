"""Span recording around the program's layers, from outside the program.

A traced run records spans (name, start, end, parent, pass id) in memory
and writes them out when the run ends. Spans come from two places:

- the workloads open them around the public calls they make into a layer
  (a registry query's build and execute, a streaming ingest, a corpus
  ingest);
- :func:`instrument_runner` wraps the plans runner's stage functions and
  artifact writers, so ``Pipeline.run`` yields one span per stage it
  executes (``pipeline.<stage>`` for the domain DAG, ``llm.<stage>`` for
  the corpus DAG) plus ``sources.*`` counters for every artifact write.

A span's self time is its duration minus the time its direct children
cover. Spark's lazy plans run at the artifact write, so a stage span covers
the stage's whole execution, and ``sources.write_s`` counts the same
seconds again from the writer's side.

Spark runtime counters come from the status REST API: every span sets the
Spark job group to its own id, and after a pass the jobs of the pass are
fetched once and their stages summed, per span and per pass.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import urllib.request
from collections import defaultdict

from workloads import CORPUS_STAGES


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class NullTracer:
    """Tracing off: every hook is a no-op."""

    active = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield


class Tracer(NullTracer):
    def __init__(self, spark_cores: int):
        self.active = False  # switched on per pass by the harness
        self.cores = spark_cores
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.pass_id: int | None = None
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._spark = None
        self._aliases: dict[str, int] = {}

    def attach(self, spark) -> None:
        self._spark = spark

    # --- spans ---------------------------------------------------------------

    def begin(self, name: str) -> int:
        idx = len(self.spans)
        self.spans.append({
            "id": idx, "name": name, "pass": self.pass_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        })
        self._stack.append(idx)
        self._set_group(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        while self._stack and self._stack[-1] != idx:
            self._stack.pop()
        if self._stack:
            self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    def _set_group(self, idx: int | None) -> None:
        if self._spark is None:
            return
        sc = self._spark.sparkContext
        if idx is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"span-{idx}", self.spans[idx]["name"])

    def alias_group(self, group: str) -> None:
        """Attribute jobs of an external job group (a streaming query sets
        its own) to the innermost open span."""
        if self._stack:
            self._aliases[group] = self._stack[-1]

    def count(self, name: str, value: float) -> None:
        if self.active:
            with self._lock:
                self.counters[name] += value

    # --- per-pass summaries ----------------------------------------------------

    def self_times(self, pass_id: int) -> dict[str, float]:
        spans = [s for s in self.spans if s["pass"] == pass_id and s["end"]]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def take_counters(self) -> dict[str, float]:
        with self._lock:
            out, self.counters = dict(self.counters), defaultdict(float)
        return out

    # --- Spark status REST API -------------------------------------------------

    def _rest(self, path: str):
        sc = self._spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def spark_window(self, pass_id: int, wall_s: float) -> dict[str, float]:
        """Sum the Spark jobs and stages run by this pass's spans (jobs are
        matched on the span job groups set in :meth:`begin`)."""
        jsc = self._spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        ids = {f"span-{s['id']}": s for s in self.spans if s["pass"] == pass_id}
        ids.update({g: self.spans[i] for g, i in self._aliases.items()
                    if self.spans[i]["pass"] == pass_id})
        jobs = [j for j in self._rest("jobs") if j.get("jobGroup") in ids]
        stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
        stages = [st for st in self._rest("stages")
                  if st["stageId"] in stage_ids
                  and st.get("status") in ("COMPLETE", "FAILED")]
        run_s = sum(st.get("executorRunTime", 0) for st in stages) / 1000.0
        stage_by_id = {st["stageId"]: st for st in stages}
        for j in jobs:
            acc = ids[j["jobGroup"]].setdefault(
                "spark", {"jobs": 0, "task_run_s": 0.0, "shuffle_write_bytes": 0})
            acc["jobs"] += 1
            for st in map(stage_by_id.get, j.get("stageIds", [])):
                if st:
                    acc["task_run_s"] += st.get("executorRunTime", 0) / 1000.0
                    acc["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(st.get("numCompleteTasks", 0) for st in stages),
            "spark.task_run_s": run_s,
            "spark.core_busy_ratio": run_s / max(wall_s * self.cores, 1e-9),
            "spark.shuffle_write_bytes": sum(st.get("shuffleWriteBytes", 0) for st in stages),
            "spark.shuffle_read_bytes": sum(st.get("shuffleReadBytes", 0) for st in stages),
            "spark.spill_bytes": sum(st.get("memoryBytesSpilled", 0)
                                     + st.get("diskBytesSpilled", 0) for st in stages),
            "spark.input_bytes": sum(st.get("inputBytes", 0) for st in stages),
            "spark.max_result_bytes": max((st.get("resultSize", 0) for st in stages),
                                          default=0),
        }

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def instrument_runner(tracer: Tracer) -> None:
    """Wrap the runner's entry point, stage functions and artifact writers.

    ``Pipeline.run`` becomes a ``plans.run`` span and counts the stages it
    runs and skips; each executed stage becomes a span from its function
    call until its artifact write returns; every artifact write (runner,
    upsert, corpus ingest) adds to ``sources.write_s`` and
    ``sources.bytes_written``."""
    from peskas_timor_data_pipeline_spark.pipeline import corpus_pipeline
    from peskas_timor_data_pipeline_spark.plans import runner
    from peskas_timor_data_pipeline_spark.sources import io

    def counted(write):
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return write(*args, **kwargs)
            t0 = time.perf_counter()
            path = write(*args, **kwargs)
            tracer.count("sources.write_s", time.perf_counter() - t0)
            tracer.count("sources.bytes_written", tree_bytes(path))
            tracer.count("sources.writes", 1)
            return path
        return wrapper

    open_stage: list[int] = []

    def closing(write):
        def wrapper(*args, **kwargs):
            try:
                return write(*args, **kwargs)
            finally:
                if open_stage:
                    tracer.end(open_stage.pop())
        return wrapper

    io.write_stage = counted(io.write_stage)
    corpus_pipeline.write_stage = counted(corpus_pipeline.write_stage)
    runner.write_stage = closing(counted(runner.write_stage))
    runner.write_stage_partitioned = closing(counted(runner.write_stage_partitioned))

    orig_run = runner.Pipeline.run

    def run(self, only=None, incremental=False):
        if not tracer.active:
            return orig_run(self, only=only, incremental=incremental)
        considered = [st for st in self.stages if not only or st.name in only]
        ran: list[str] = []
        originals = {st.name: st.fn for st in considered}

        def wrap(name, fn):
            layer = "llm" if name in CORPUS_STAGES else "pipeline"

            def stage_fn(spark, **inputs):
                ran.append(name)
                open_stage.append(tracer.begin(f"{layer}.{name}"))
                try:
                    return fn(spark, **inputs)
                except BaseException:
                    tracer.end(open_stage.pop())
                    raise
            return stage_fn

        for st in considered:
            st.fn = wrap(st.name, st.fn)
        try:
            with tracer.span("plans.run"):
                return orig_run(self, only=only, incremental=incremental)
        finally:
            for st in considered:
                st.fn = originals[st.name]
            tracer.count("plans.stages_run", len(ran))
            tracer.count("plans.stages_skipped", len(considered) - len(ran))

    runner.Pipeline.run = run
