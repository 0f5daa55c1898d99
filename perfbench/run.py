"""Benchmark ``jobs.run_all`` end to end over a generated PDF corpus tree.

Run from the repository root:

    python3 perfbench/run.py --workload daily_folder --seed 1 --seconds 1 --trace 0

One process is one closed-loop caller on ``local[<cores>]``, the CPUs this
process may run on:

1. generate the workload's tree for the seed and decode every file with
   ``decode_document`` in this thread (the codec pre-check);
2. set up the SparkSession and the dim table;
3. call ``run_all`` once in that fresh session (the first run, which
   pays JIT, code generation and Python worker start) and check its
   outputs against the fixture golden rows; then, untimed, count the
   files of a probe tree that the program's listing loses
   (``zero_byte_probe``), a known defect that the workloads leave out of
   their checked trees;
4. stop the session and set it up again, until there are
   ``WARM_SETUPS`` repeats and ``--seconds`` seconds have passed;
   ``setup_s`` is the median of the repeats' CPU seconds, counted as for
   the first run; their wall times are in the report line. The repeats
   reuse the JVM, so the first setup, which launches it, is reported
   apart. A fixed count keeps the median at the same point of the
   repeats' JIT warm-up in every run.

A run is budgeted for one cold session, so it makes one ``run_all``
call and no warm ones. ``--trace 0`` prints the end-to-end metrics:
``setup_s`` and ``first_run_cpu_s``, the CPU seconds the first run costs
this process and its descendants. Wall times are in the report line
and, from the traced run, in the per-layer metrics: on a shared host,
CPU time taken by other guests stretches wall time by 20-40 % for
minutes at a time (a warm setup's by up to 90 %), and that spread is
wider than any useful bound.
``--trace 1`` turns the Spark event log on, traces the same first run
(``spans.py``) and prints the per-layer metrics; the job plans are
probed for their Catalyst phase times after the run. A host calibration
(``bench.py``) and the host's CPU steal bracket every run.

The last line of standard output is the result JSON; the line before it
is a detailed report. Every file the benchmark writes stays in
``.perfbench_work/`` at the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WARM_SETUPS = 5


def _isolate() -> None:
    """Keep every file the run writes, Spark's included, in WORK, and let
    the Python workers import the package."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p]
    )
    sys.path[:0] = [HERE, ROOT]


def _session_conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": "4g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def setup(cores: int, trace: bool):
    """What a user pays before the first run: the session and dim table."""
    from fund_data_etl_pipeline_spark.session import get_spark
    from fund_data_etl_pipeline_spark.testing import fixtures as FX

    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf=_session_conf(trace),
    )
    return spark, FX.dim_df(spark)


def stop_jvm() -> None:
    """End the JVM the sessions ran in and wait for it to exit; PySpark
    starts it with a stdin pipe whose end of file tells it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def zero_byte_probe(spark) -> int:
    """How many files of a tree holding one good and one zero-byte PDF
    ``scan_binary_corpus`` loses (``corpus.KNOWN_DEFECT_KINDS``); 0 once
    the program lists zero-byte files."""
    import pdfgen
    from fund_data_etl_pipeline_spark.sources.corpus import scan_binary_corpus
    from fund_data_etl_pipeline_spark.testing import fixtures as FX

    root = os.path.join(WORK, "probe")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    with open(os.path.join(root, "good.pdf"), "wb") as f:
        f.write(pdfgen.text_pdf(FX.DIVIDEND_DOCS[0][3], bytes(16)))
    open(os.path.join(root, "empty.pdf"), "wb").close()
    return 2 - len(scan_binary_corpus(spark, root).select("path").collect())


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@dataclass
class Attempt:
    seconds: float  # wall time of run_all, call to return
    cpu_s: float  # CPU time of this process and its descendants meanwhile
    status: dict
    failed_checks: list[str]
    leaked_rdds: int  # persistent RDDs left behind


def attempt(spark, dim, manifest, out_dir: str, around=contextlib.nullcontext):
    """One ``run_all`` call, timed inside ``around()``, then checked."""
    import check
    from fund_data_etl_pipeline_spark import jobs
    from fund_data_etl_pipeline_spark.testing import fixtures as FX

    shutil.rmtree(out_dir, ignore_errors=True)
    before = persistent_rdds(spark)
    cpu0 = cpu_seconds()
    t0 = time.perf_counter()
    try:
        with around():
            status = jobs.run_all(
                spark, manifest.root, dim, FX.RUN_DATE, out_dir,
                excel=manifest.excel,
            )
    except Exception:  # noqa: BLE001 - a raising run is a failed attempt
        return Attempt(time.perf_counter() - t0, cpu_seconds() - cpu0, {},
                       [traceback.format_exc(limit=3)], 0)
    seconds = time.perf_counter() - t0
    cpu = cpu_seconds() - cpu0
    after = persistent_rdds(spark)
    return Attempt(seconds, cpu, status, check.check_run(
        manifest, status, out_dir, before, after), after - before)


def cpu_seconds() -> float:
    """CPU time of this process (the Python side of the application,
    where the job plans are built) plus its descendants (the JVM and the
    Python workers)."""
    return time.process_time() + family_usage()[1]


def family_usage() -> tuple[float, float]:
    """(summed peak resident MB, summed CPU seconds) of this process's
    descendants: the Spark JVM, the PySpark daemon and its Python
    workers, read from /proc. CPU time includes reaped children."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    family, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, st in parent.items()
                    if int(st[1]) in frontier} - family
        family |= frontier
    rss_kb = 0
    ticks = 0
    for pid in family:
        # fields after the command: state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14)
        ticks += sum(int(x) for x in parent[pid][11:15])
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        rss_kb += int(line.split()[1])
        except OSError:
            continue
    return rss_kb / 1024.0, ticks / os.sysconf("SC_CLK_TCK")


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests, summed
    over all CPUs since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def end_to_end_metrics(
    setup_cpu_samples: list[float], run: Attempt
) -> dict[str, tuple[float, str]]:
    return {
        "setup_s": (statistics.median(setup_cpu_samples), "s"),
        "first_run_cpu_s": (run.cpu_s, "s"),
    }


def per_layer_metrics(
    manifest, run: Attempt, codec_s: float, trace_overhead_s: float,
    plan_ms: dict[str, float], layers: dict, bytes_written: int,
    host: dict[str, float], zero_byte_dropped: int,
) -> dict[str, tuple[float, str]]:
    """``layers`` is ``spans.layer_metrics`` of the traced run; ``host``
    holds the cold setup, peak memory, calibration and CPU steal;
    ``zero_byte_dropped`` is ``zero_byte_probe``'s count."""
    from check import JOB_COLS
    from spans import JOB_BUILDERS

    spans = layers["spans"]
    status = run.status

    def wall(name: str) -> float:
        return spans.get(name, {}).get("wall_s", 0.0)

    audit = status.get("audit", {})
    ok, err = audit.get("ok", 0), audit.get("error", 0)
    m: dict[str, tuple[float, str]] = {
        "corpus.files_listed": (ok + err, "count"),
        "corpus.list_s": (wall("corpus.list"), "s"),
        "corpus.decode_s": (layers["corpus.decode_s"], "s"),
        "corpus.decode_task_s": (layers["corpus.decode_task_s"], "s"),
        "corpus.docs_ok": (ok, "count"),
        "corpus.docs_error": (err, "count"),
        "corpus.error_frac": (err / max(ok + err, 1), "ratio"),
        "pdf_text.decode_ms_per_doc": (
            1000.0 * codec_s / max(len(manifest.files), 1), "ms"),
        "corpus.python_s": (layers["corpus.python_s"], "s"),
        "corpus.boundary_s": (layers["corpus.decode_task_s"] - codec_s, "s"),
        "corpus.zero_byte_dropped": (zero_byte_dropped, "count"),
    }
    for output in JOB_BUILDERS:
        m[f"jobs.{output}.build_s"] = (wall(f"jobs.{output}"), "s")
        m[f"jobs.{output}.plan_ms"] = (plan_ms.get(output, 0.0), "ms")
    m["jobs.build_s"] = (
        sum(wall(f"jobs.{o}") for o in JOB_BUILDERS), "s")
    m["jobs.plan_ms"] = (sum(plan_ms.values()), "ms")
    for output in JOB_COLS:
        span = spans.get(f"sinks.{output}", {})
        m[f"sinks.{output}.write_s"] = (span.get("wall_s", 0.0), "s")
        m[f"sinks.{output}.spark_jobs"] = (span.get("spark_jobs", 0), "count")
        m[f"sinks.{output}.task_s"] = (span.get("task_s", 0.0), "s")
    m.update({
        "sinks.empty_outputs": (
            sum(1 for o in JOB_COLS if not status.get(o)), "count"),
        "sinks.quarantine_s": (wall("sinks.quarantine"), "s"),
        "sinks.quarantine_rows": (status.get("quarantined", 0), "count"),
        "sinks.audit_s": (wall("sinks.audit"), "s"),
        "sinks.excel_s": (
            sum(v["wall_s"] for k, v in spans.items()
                if k.startswith("sinks.excel.")), "s"),
        "sinks.bytes_written": (bytes_written, "bytes"),
        "aggregate.dividend_merge_build_s": (
            wall("aggregate.dividend_merge"), "s"),
        "caching.persisted_rdds_after": (run.leaked_rdds, "count"),
        "run_all.self_s": (layers["run_all.self_s"], "s"),
        "first_run_s": (run.seconds, "s"),
        "docs_per_s": (manifest.pdfs / run.seconds, "1/s"),
        "trace_overhead_s": (trace_overhead_s, "s"),
        "setup.cold_s": (host["cold_setup_s"], "s"),
        "peak_rss_mb": (host["peak_rss_mb"], "MB"),
        "host.calib_sec": (host["calib_sec"], "s"),
        "host.cpu_steal_s": (host["cpu_steal_s"], "s"),
    })
    for key, unit in (
        ("spark.jobs", "count"), ("spark.stages", "count"),
        ("spark.tasks", "count"), ("spark.task_s", "s"),
        ("spark.gc_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
        ("spark.driver_s", "s"),
    ):
        m[key] = (layers[key], unit)
    return m


def _event_log(spark) -> str:
    return os.path.join(WORK, "eventlog", spark.sparkContext.applicationId)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(
        os.path.join(ROOT, "fund_data_etl_pipeline_spark", "jobs.py")
    ):
        print("perfbench: fund_data_etl_pipeline_spark not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    _isolate()
    import check
    import corpus
    import spans as tracing
    from bench import host_calibration

    if args.workload not in corpus.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    if args.trace:
        shutil.rmtree(os.path.join(WORK, "eventlog"), ignore_errors=True)
        os.makedirs(os.path.join(WORK, "eventlog"))
    calib = [host_calibration()]
    manifest = corpus.generate(
        args.workload, args.seed, os.path.join(WORK, "tree")
    )
    codec_s, precheck_errors = check.precheck_decode(manifest)

    # The first setup is the cold one the run follows; the repeats come
    # after the run, so they cannot warm the JVM the first run measures.
    t0 = time.perf_counter()
    spark, dim = setup(cores, bool(args.trace))
    cold_setup_s = time.perf_counter() - t0

    out_dir = os.path.join(WORK, "out")
    steal0 = cpu_steal_s()
    tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
    try:
        if tracer is None:
            run = attempt(spark, dim, manifest, out_dir)
        else:
            tracer.install()
            try:
                run = attempt(spark, dim, manifest, out_dir,
                              around=lambda: tracer.span("run_all"))
            finally:
                tracer.uninstall()
        steal = cpu_steal_s() - steal0
        rss = family_usage()[0]
        if tracer is not None:
            plan_ms = tracer.plan_ms()
            bytes_written = dir_bytes(out_dir)
            log = _event_log(spark)
        zero_byte_dropped = zero_byte_probe(spark)
    finally:
        spark.stop()

    setup_samples, setup_cpu_samples = [], []
    t_setup = time.perf_counter()
    while (len(setup_samples) < WARM_SETUPS
           or time.perf_counter() - t_setup < args.seconds):
        cpu0 = cpu_seconds()
        t0 = time.perf_counter()
        spark, dim = setup(cores, bool(args.trace))
        setup_samples.append(time.perf_counter() - t0)
        setup_cpu_samples.append(cpu_seconds() - cpu0)
        spark.stop()
    stop_jvm()
    if zero_byte_dropped:
        print(f"perfbench: known defect: the corpus listing lost "
              f"{zero_byte_dropped} zero-byte file(s) of the probe tree",
              file=sys.stderr)
    calib.append(host_calibration())

    if tracer is None:
        metrics = end_to_end_metrics(setup_cpu_samples, run)
    else:
        tracer.write(os.path.join(WORK, "spans.jsonl"))
        layers = tracing.layer_metrics(tracer, tracing.read_event_log(log))
        metrics = per_layer_metrics(
            manifest, run, codec_s, tracer.overhead_s, plan_ms, layers,
            bytes_written, {
                "cold_setup_s": cold_setup_s, "peak_rss_mb": rss,
                "calib_sec": statistics.mean(calib), "cpu_steal_s": steal,
            }, zero_byte_dropped,
        )
    report = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "files": manifest.pdfs, "expected_errors": manifest.expected_errors,
        "copies": manifest.copies, "faults": manifest.faults,
        "calib_sec": calib, "cpu_steal_s": steal, "peak_rss_mb": rss,
        "run_cpu_s": run.cpu_s,
        "cold_setup_s": cold_setup_s, "setup_samples": setup_samples,
        "setup_cpu_samples": setup_cpu_samples,
        "run_s": run.seconds, "traced": bool(args.trace),
        "failed_checks": run.failed_checks,
        "precheck_errors": precheck_errors[:20],
        "failed_frac": float(bool(run.failed_checks)),
        "known_defects": {"zero_byte_dropped": zero_byte_dropped},
    }
    print(json.dumps(report, ensure_ascii=False))
    print(json.dumps({
        "correct": not precheck_errors and not run.failed_checks,
        "attempted": 1,
        "failed": int(bool(run.failed_checks)),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
