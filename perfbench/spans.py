"""Spans around the public functions of each layer ``run_all`` calls, and
the Spark event log that attributes task metrics to them.

``Tracer.install`` rebinds module attributes, so the real ``run_all``
calls the wrappers: ``run_all`` looks the job builders up as module
globals and imports its source, sink, aggregate and caching functions
inside its body, both at call time. Each span gets its own Spark job
group, so every job in the event log names the span that submitted it.
Spans are kept in memory; ``write`` saves them when the run is over.
The tracer times its own bookkeeping inside spans (``overhead_s``).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

def _named(name: str):
    return lambda args, kwargs: name


def _path(args, kwargs) -> str:
    """The ``path`` argument of ``write_*(df, path, ...)``."""
    return os.path.basename(kwargs["path"] if "path" in kwargs else args[1])


def _sink_output(args, kwargs) -> str:
    """``write_partitioned(df, path)`` writes output ``basename(path)``."""
    return "sinks." + _path(args, kwargs)


def _excel_output(args, kwargs) -> str:
    """``write_excel_compat(df, path)``: the job whose Excel name it is."""
    from fund_data_etl_pipeline_spark.operators.sinks import (
        EXCEL_JOB_FILENAMES,
    )

    name = _path(args, kwargs)
    job = {v: k for k, v in EXCEL_JOB_FILENAMES.items()}.get(name, name)
    return "sinks.excel." + job


# (module, attribute, span name from the call's arguments)
LAYER_FUNCTIONS = [
    ("fund_data_etl_pipeline_spark.sources.corpus", "load_corpus",
     _named("corpus.load_corpus")),
    ("fund_data_etl_pipeline_spark.sources.corpus", "scan_binary_corpus",
     _named("corpus.list")),
    ("fund_data_etl_pipeline_spark.operators.caching", "persist_tracked",
     _named("caching.persist")),
    ("fund_data_etl_pipeline_spark.operators.aggregate", "dividend_merge",
     _named("aggregate.dividend_merge")),
    ("fund_data_etl_pipeline_spark.operators.sinks", "write_partitioned",
     _sink_output),
    ("fund_data_etl_pipeline_spark.operators.sinks", "write_quarantine",
     _named("sinks.quarantine")),
    ("fund_data_etl_pipeline_spark.operators.sinks", "write_excel_compat",
     _excel_output),
    ("fund_data_etl_pipeline_spark.operators.sinks", "audit_summary",
     _named("sinks.audit")),
]

# run_all output name -> job builder in ``jobs``
JOB_BUILDERS = {
    "dividend": "dividend_job",
    "purchase_apply": "purchase_apply_job",
    "purchase_confirm": "purchase_confirm_job",
    "redemption_confirm": "redemption_confirm_job",
    "conversion": "conversion_job",
    "manual_apply": "manual_purchase_apply_job",
    "manual_confirm": "manual_purchase_confirm_job",
    "manual_redemption": "manual_redemption_job",
    "manual_dividend": "manual_dividend_job",
}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(
            [(max(a, s["start"]), min(b, s["end"]))
             for a, b in children.get(s["id"], [])]
        )
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.frames: dict[str, object] = {}  # job output -> built frame
        self.overhead_s = 0.0  # bookkeeping time spent inside spans
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"perfbench-span-{len(self.spans)}",
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(rec["group"], name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            self.overhead_s += time.perf_counter() - t1

    def _wrap(self, module, attr: str, name_of, after=None) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name_of(args, kwargs)):
                result = orig(*args, **kwargs)
            if after is not None:
                result = after(result)
            return result

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, orig))

    def install(self) -> None:
        import importlib

        from fund_data_etl_pipeline_spark import jobs

        for mod_name, attr, name_of in LAYER_FUNCTIONS:
            after = self._timed_collect if attr == "audit_summary" else None
            self._wrap(importlib.import_module(mod_name), attr, name_of, after)
        for output, builder in JOB_BUILDERS.items():
            self._wrap(jobs, builder, _named(f"jobs.{output}"),
                       functools.partial(self._keep_frame, output))

    def uninstall(self) -> None:
        while self._restore:
            module, attr, orig = self._restore.pop()
            setattr(module, attr, orig)

    def _timed_collect(self, df):
        """``run_all`` collects the audit frame right after building it;
        time that collect under the same span name."""
        collect = df.collect

        def timed():
            with self.span("sinks.audit"):
                return collect()

        df.collect = timed
        return df

    def _keep_frame(self, output: str, df):
        self.frames[output] = df
        return df

    def plan_ms(self) -> dict[str, float]:
        """Job output -> Catalyst analysis + optimization + planning
        milliseconds, from the phase tracker of a fresh query execution
        over each job's frame. Call after the run, so the probe stays out
        of the traced interval. A tracker phase spans its first start to
        its last end, so the frame's own execution, analysed at build
        time and planned again later, would count the time in between;
        ``select("*")`` gives one whose phases each run once here."""
        out = {}
        for output, df in self.frames.items():
            qe = df.select("*")._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            it = phases.keySet().iterator()
            total = 0
            while it.hasNext():
                total += phases.get(it.next()).get().durationMs()
            out[output] = float(total)
        return out

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]},
                                   ensure_ascii=False) + "\n")


PYTHON_RUN_MS = "time to run Python workers"  # SQL metric of MapInPandas


def read_event_log(path: str) -> dict:
    """Jobs, stages and task metrics from an uncompressed event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0, "end": None,
                    "stages": [],
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _new_stage())
                st["start"] = info.get("Submission Time", 0) / 1000.0
                st["end"] = info.get("Completion Time", 0) / 1000.0
                # only the stage that executed the parse stage carries
                # its Python-worker SQL metrics; later stages read the
                # cached result
                acc = {a["Name"]: a.get("Value") for a in
                       info.get("Accumulables", [])}
                if PYTHON_RUN_MS in acc:
                    st["decode"] = True
                    st["python_s"] = int(acc[PYTHON_RUN_MS]) / 1000.0
                st["completed"] = True
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _new_stage())
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                st["shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid is not None and st["completed"]:
            jobs[jid]["stages"].append(st)
    return jobs


def _new_stage() -> dict:
    return {"tasks": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "start": 0.0, "end": 0.0, "decode": False, "python_s": 0.0,
            "completed": False}


def layer_metrics(tracer: Tracer, jobs: dict) -> dict[str, float]:
    """Per-span Spark work and the whole-run Spark totals for the traced
    ``run_all`` (the root span ``run_all``)."""
    root = next(s for s in tracer.spans if s["name"] == "run_all")
    window = (root["start"], root["end"])
    group_span = {s["group"]: s for s in tracer.spans}
    ran = [j for j in jobs.values() if j["group"] in group_span]
    by_name: dict[str, dict] = {}
    for s in tracer.spans:
        agg = by_name.setdefault(
            s["name"], {"wall_s": 0.0, "spark_jobs": 0, "task_s": 0.0})
        agg["wall_s"] += s["end"] - s["start"]
    for j in ran:
        agg = by_name[group_span[j["group"]]["name"]]
        agg["spark_jobs"] += 1
        agg["task_s"] += sum(st["task_s"] for st in j["stages"])
    stages = [st for j in ran for st in j["stages"]]
    decode = [st for st in stages if st["decode"]]
    busy = union_length(
        [(max(j["start"], window[0]), min(j["end"] or window[1], window[1]))
         for j in ran]
    )
    return {
        "spans": by_name,
        "spark.jobs": len(ran),
        "spark.stages": len(stages),
        "spark.tasks": sum(st["tasks"] for st in stages),
        "spark.task_s": sum(st["task_s"] for st in stages),
        "spark.gc_s": sum(st["gc_s"] for st in stages),
        "spark.shuffle_write_bytes": sum(
            st["shuffle_write_bytes"] for st in stages),
        "spark.driver_s": (window[1] - window[0]) - busy,
        "corpus.decode_s": sum(st["end"] - st["start"] for st in decode),
        "corpus.decode_task_s": sum(st["task_s"] for st in decode),
        "corpus.python_s": sum(st["python_s"] for st in decode),
        "run_all.self_s": self_times(tracer.spans)[root["id"]],
    }
