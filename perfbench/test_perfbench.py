"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import check  # noqa: E402
import corpus  # noqa: E402
import pdfgen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from fund_data_etl_pipeline_spark.sources.corpus import decode_document  # noqa: E402
from fund_data_etl_pipeline_spark.testing import fixtures as FX  # noqa: E402

SMALL = {"backfill_folders": 3, "scans": 4}


def tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(
                    fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", corpus.WORKLOADS)
def test_same_seed_same_bytes(tmp_path, workload):
    a = corpus.generate(workload, 7, str(tmp_path / "a"), **SMALL)
    b = corpus.generate(workload, 7, str(tmp_path / "b"), **SMALL)
    assert tree_digest(a.root) == tree_digest(b.root)
    assert a.files == b.files


@pytest.mark.parametrize("workload", corpus.WORKLOADS)
def test_other_seed_other_tree_same_golden_counts(tmp_path, workload):
    a = corpus.generate(workload, 1, str(tmp_path / "a"), **SMALL)
    b = corpus.generate(workload, 2, str(tmp_path / "b"), **SMALL)
    assert tree_digest(a.root) != tree_digest(b.root)
    count = {k: sum(v.values()) for k, v in check.golden(a).items()}
    assert count == {k: sum(v.values()) for k, v in check.golden(b).items()}
    assert (a.pdfs, a.expected_errors, a.faults) == (
        b.pdfs, b.expected_errors, b.faults)


def test_workload_shapes(tmp_path):
    daily = corpus.generate("daily_folder", 3, str(tmp_path / "d"))
    assert daily.excel and daily.expected_errors == 1
    assert [p for p in tree_digest(daily.root) if not p.endswith(".pdf")]
    assert set(daily.copies.values()) == {1}
    faults = corpus.generate("fault_mix", 3, str(tmp_path / "f"), scans=40)
    good = sum(1 for _, text, _ in faults.files if text is not None)
    assert good < faults.pdfs / 2  # good documents are the minority
    assert faults.faults["scan"] > faults.pdfs / 2 - good
    assert not set(faults.faults) & set(corpus.KNOWN_DEFECT_KINDS)
    # the good documents sit byte-identical under two dates
    names = [os.path.basename(rel) for rel, text, _ in faults.files if text]
    assert all(names.count(n) == 2 for n in names)


def test_generated_files_decode_as_intended(tmp_path):
    m = corpus.generate("fault_mix", 5, str(tmp_path / "t"), scans=2)
    spent, errors = check.precheck_decode(m)
    assert errors == [] and spent > 0


def test_pdfgen_encryption_round_trip():
    text = FX.DIVIDEND_DOCS[0][3]
    file_id = bytes(range(16))
    # an empty user password opens without one: the ciphers are right
    assert decode_document(pdfgen.text_pdf(text, file_id, b"")) == text
    with pytest.raises(ValueError, match="password"):
        decode_document(pdfgen.text_pdf(text, file_id, b"secret"))


def test_merge_dividends_matches_fixture_pairs():
    merged = check.merge_dividends(FX.EXPECTED_DIVIDEND)
    assert len(merged) == len(FX.EXPECTED_DIVIDEND) - 1  # one merge pair
    twice = check.merge_dividends(FX.EXPECTED_DIVIDEND * 2)
    by_key = {(r[0], r[2]): r for r in twice}
    assert by_key[("1001", "000001")][5] == round(2 * (1000.0 + 50.5), 2)
    assert by_key[("1001", "000001")][10] == "天天基金、好买基金"


def test_union_and_self_time_arithmetic():
    assert spans.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    tree = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # overruns 0
    ]
    got = spans.self_times(tree)
    assert got == {0: 10 - 5 - 1, 1: 2.0, 2: 3.0, 3: 1.0, 4: 3.0}


class _FakeContext:
    def __init__(self):
        self.groups = []
        self._jsc = self

    def setJobGroup(self, group, description):
        self.groups.append(group)

    def clearJobGroup(self):
        self.groups.append(None)


def test_tracer_rebinds_and_restores_layer_functions():
    import importlib

    from fund_data_etl_pipeline_spark import jobs

    targets = [(importlib.import_module(m), a)
               for m, a, _ in spans.LAYER_FUNCTIONS]
    targets += [(jobs, b) for b in spans.JOB_BUILDERS.values()]
    originals = [getattr(m, a) for m, a in targets]
    tracer = spans.Tracer(_FakeContext())
    tracer.install()
    try:
        assert all(getattr(m, a) is not o
                   for (m, a), o in zip(targets, originals))
    finally:
        tracer.uninstall()
    assert all(getattr(m, a) is o for (m, a), o in zip(targets, originals))
    assert spans._excel_output(
        (None, "/out/【境内基金业务】红利再投.xls"), {}) == "sinks.excel.dividend"
    assert spans._sink_output((None,), {"path": "/out/conversion"}) == (
        "sinks.conversion")


def test_span_nesting_sets_and_restores_job_groups():
    sc = _FakeContext()
    tracer = spans.Tracer(sc)
    with tracer.span("run_all"):
        with tracer.span("sinks.dividend"):
            pass
    assert [s["parent"] for s in tracer.spans] == [None, 0]
    assert sc.groups == ["perfbench-span-0", "perfbench-span-1",
                         "perfbench-span-0", None]
    assert tracer.overhead_s > 0


def _event_log(path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 100,
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 10}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1000, "Completion Time": 2000,
            "Accumulables": [{"Name": spans.PYTHON_RUN_MS, "Value": "900"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 3000, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor Run Time": 500, "JVM GC Time": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Submission Time": 3000,
            "Completion Time": 3500}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 3500},
    ]
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(e) for e in events) + "\n")


def test_event_log_attribution(tmp_path):
    _event_log(tmp_path / "log")
    jobs = spans.read_event_log(str(tmp_path / "log"))
    tracer = spans.Tracer(sc=None)
    tracer.spans = [
        {"id": 0, "name": "run_all", "parent": None, "group": "g0",
         "start": 0.5, "end": 4.0},
        {"id": 1, "name": "sinks.dividend", "parent": 0, "group": "g1",
         "start": 2.5, "end": 3.8},
    ]
    layers = spans.layer_metrics(tracer, jobs)
    assert layers["spark.jobs"] == 2 and layers["spark.stages"] == 2
    assert layers["spark.task_s"] == 2.0 and layers["spark.gc_s"] == 0.1
    assert layers["spark.driver_s"] == pytest.approx(3.5 - 1.5)
    assert layers["corpus.decode_s"] == 1.0
    assert layers["corpus.decode_task_s"] == 1.5
    assert layers["corpus.python_s"] == 0.9
    assert layers["spans"]["sinks.dividend"]["spark_jobs"] == 1
    assert layers["spans"]["sinks.dividend"]["task_s"] == 0.5
    assert layers["run_all.self_s"] == pytest.approx(3.5 - 1.3)


def _benchmark():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_benchmark_metric_is_reported(tmp_path):
    bench = _benchmark()
    assert {w["name"] for w in bench["workloads"]} <= set(corpus.WORKLOADS)
    status = {"audit": {"ok": 102, "error": 1}, "quarantined": 1}
    first = run.Attempt(40.0, 120.0, status, [], 0)
    e2e = run.end_to_end_metrics([9.0, 0.2, 0.3], first)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: u for k, (_, u) in e2e.items()}

    m = corpus.generate("daily_folder", 1, str(tmp_path / "t"))
    layers = {
        "spans": {}, "corpus.decode_s": 1.0, "corpus.decode_task_s": 2.0,
        "corpus.python_s": 1.5, "run_all.self_s": 0.5, "spark.jobs": 58,
        "spark.stages": 70, "spark.tasks": 190, "spark.task_s": 28.0,
        "spark.gc_s": 1.0, "spark.shuffle_write_bytes": 1000,
        "spark.driver_s": 14.0,
    }
    per_layer = run.per_layer_metrics(
        m, first, 0.2, 0.1, {"dividend": 100.0}, layers, 1,
        {"cold_setup_s": 9.0, "peak_rss_mb": 2000.0, "calib_sec": 0.7,
         "cpu_steal_s": 0.2}, 1)
    assert {x["name"]: x["unit"] for x in bench["per_layer"]} == {
        k: u for k, (_, u) in per_layer.items()}
    assert not set(e2e) & set(per_layer)
