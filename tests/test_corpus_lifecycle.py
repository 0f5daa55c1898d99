"""End-to-end lifecycle test: real directory tree -> binaryFile scan ->
path pruning -> parse stage with failure side-channel -> 9 jobs -> sinks.
"""

from __future__ import annotations

import json
import logging
import os

import pytest
from pyspark.sql import functions as F

from fund_data_etl_pipeline_spark import jobs
from fund_data_etl_pipeline_spark.operators.sinks import (
    write_excel_compat,
    write_partitioned,
    write_quarantine,
)
from fund_data_etl_pipeline_spark.schemas import CN_NAMES, DIVIDEND_COLS
from fund_data_etl_pipeline_spark.sources.corpus import (
    filter_filenames,
    load_corpus,
    parse_path_metadata,
    scan_binary_corpus,
)
from fund_data_etl_pipeline_spark.testing import fixtures as FX


def _build_tree(root):
    date_dir = root / "2026" / "20260115" / "1场外开基"
    all_docs = (
        [(d, "分红") for d in FX.DIVIDEND_DOCS]
        + [(d, "申购受理") for d in FX.PURCHASE_APPLY_DOCS]
        + [(d, "确认") for d in FX.PURCHASE_CONFIRM_DOCS + FX.REDEMPTION_DOCS
           + FX.CONVERSION_DOCS]
    )
    for (doc_id, filename, rel, text), sub in all_docs:
        d = date_dir / sub
        d.mkdir(parents=True, exist_ok=True)
        (d / filename).write_text(text, encoding="utf-8")
    manual_dir = root / "2026" / "20260115" / "2理财" / "确认"
    manual_dir.mkdir(parents=True, exist_ok=True)
    for doc_id, filename, rel, text in FX.MANUAL_DOCS:
        (manual_dir / filename).write_text(text, encoding="utf-8")
    # a poison file: invalid UTF-8 -> parse failure -> quarantine (S7)
    bad = date_dir / "分红" / "坏文件-红利.pdf"
    bad.write_bytes(b"\xff\xfe\x00broken\x80")
    # a non-pdf file: pruned by the glob before any read (S1)
    (date_dir / "分红" / "notes.txt").write_text("ignore me")
    return root


def test_scan_prunes_and_parses(spark, tmp_path):
    root = _build_tree(tmp_path / "corpus")
    scanned = scan_binary_corpus(spark, str(root), path_keyword="分红")
    names = [r["path"].split("/")[-1] for r in scanned.select("path").collect()]
    assert "notes.txt" not in names  # glob pruning
    assert all("分红" in r["path"] for r in scanned.select("path").collect())

    meta = parse_path_metadata(scanned)
    row = meta.select("year", "date_partition", "category").first()
    assert row["year"] == "2026"
    assert row["date_partition"] == "20260115"
    assert row["category"] == "分红"

    parsed = load_corpus(spark, str(root), path_keyword="分红")
    by_status = {r["status"]: r["n"] for r in parsed.groupBy("status").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert by_status["error"] == 1  # the invalid-utf8 file
    assert by_status["ok"] == len(FX.DIVIDEND_DOCS)


def test_filename_filter_runs_before_parse(spark, tmp_path):
    root = _build_tree(tmp_path / "corpus")
    scanned = parse_path_metadata(scan_binary_corpus(spark, str(root)))
    pruned = filter_filenames(scanned, excludes=("赎回",))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the Contains filter must sit below (before) the Python parse stage —
    # here there is no parse stage yet, so simply assert it reached the scan
    assert "PushedFilters" in plan or "Filter" in plan


def test_run_all_lifecycle(spark, tmp_path):
    root = _build_tree(tmp_path / "corpus")
    out = tmp_path / "out"
    status = jobs.run_all(
        spark, str(root), FX.dim_df(spark), FX.RUN_DATE, str(out), excel=True
    )
    assert status["dividend"], "dividend job must produce output"
    # reference-parity per-job Excel name (CSV fallback keeps the stem)
    assert "【境内基金业务】红利再投" in os.path.basename(
        str(status["dividend_excel"])
    )
    assert os.path.exists(str(status["dividend_excel"]))
    div = spark.read.parquet(status["dividend"])
    assert div.count() == len(FX.EXPECTED_DIVIDEND)
    # partitioned by biz_date on disk
    assert any(
        p.startswith("biz_date=") for p in os.listdir(status["dividend"])
    )
    assert spark.read.parquet(status["purchase_apply"]).count() == len(
        FX.EXPECTED_PURCHASE_APPLY
    )
    assert spark.read.parquet(status["conversion"]).count() == len(
        FX.EXPECTED_CONVERSION
    )
    assert spark.read.parquet(status["manual_confirm"]).count() == 1
    merged = spark.read.parquet(status["dividend_merged"])
    assert merged.count() == len(FX.EXPECTED_DIVIDEND) - 1  # one merge pair
    assert status["quarantined"] == 1
    assert status["audit"]["ok"] > 0 and status["audit"]["error"] == 1


def test_empty_result_guard(spark, tmp_path):
    empty = spark.createDataFrame([], "biz_date string, x double")
    assert write_partitioned(empty, str(tmp_path / "never")) is False
    assert not (tmp_path / "never").exists()


def test_excel_compat_shim(spark, tmp_path):
    df = jobs.dividend_job(
        FX.docs_df(spark, FX.DIVIDEND_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )
    out = write_excel_compat(df, str(tmp_path / "红利再投.xlsx"))
    assert os.path.exists(out)
    import pandas as pd

    back = pd.read_csv(out) if out.endswith(".csv") else pd.read_excel(out)
    assert len(back) == len(FX.EXPECTED_DIVIDEND)
    assert "账套编号" in back.columns  # Chinese headers (CN_NAMES)
    # NULL -> '' only in this shim
    assert back["产品代码"].fillna("").eq("").all()


def test_codec_dispatch_magic_bytes(spark, tmp_path):
    """S3/S4 import-gated codecs: a real %PDF container and a PNG route to
    the pdfplumber/pypdf and easyocr branches; with the libraries absent
    they quarantine with a named-dependency error instead of crashing.
    Plain text still decodes on the UTF-8 path."""
    from fund_data_etl_pipeline_spark.sources.corpus import decode_document

    assert decode_document("红利再投资\n金额:100".encode()) == "红利再投资\n金额:100"

    have_pdf = True
    try:
        import pdfplumber  # noqa: F401
    except ImportError:
        try:
            import pypdf  # noqa: F401
        except ImportError:
            have_pdf = False

    d = tmp_path / "corpus" / "2026" / "20260115" / "1场外开基" / "分红"
    d.mkdir(parents=True)
    (d / "真PDF-红利.pdf").write_bytes(b"%PDF-1.7\nnot really parseable")
    (d / "扫描件-红利.pdf").write_bytes(b"\x89PNG\r\n\x1a\nfake")
    parsed = load_corpus(spark, str(tmp_path / "corpus"))
    rows = {r["filename"]: r for r in parsed.collect()}
    png = rows["扫描件-红利.pdf"]
    assert png["status"] == "error" and "easyocr" in png["error"]
    pdf = rows["真PDF-红利.pdf"]
    if have_pdf:
        # library present: truncated container fails parse, still quarantined
        assert pdf["status"] in ("ok", "error")
    else:
        # no third-party libs: the builtin from-spec extractor
        # (sources/pdf_text.py) takes the file; this truncated container
        # has no page objects, so it quarantines with that named reason
        # (real parseable PDFs round-trip in tests/test_pdf_text.py)
        assert pdf["status"] == "error"
        assert "page objects" in pdf["error"]


def _cid_pdf(text: str) -> bytes:
    """In-test writer for a REAL multi-line PDF carrying arbitrary BMP
    text: a CID-keyed Type0 font whose ToUnicode CMap maps synthetic
    2-byte CIDs to the text's code points, FlateDecode-compressed content
    and CMap streams. Independent of sources/pdf_text.py — this is the
    round-trip counterpart (the xls_writer test strategy), reused here to
    prove S1->S3->C3->P12/P13 compose on real PDF BYTES, not just on
    pre-extracted fixture text (VERDICT r5 next-step #3; reference:
    manual_purchase_apply_extractor.py:283-311)."""
    from test_pdf_text import build_pdf, stream_obj

    lines = text.split("\n")
    cid = {c: i + 1 for i, c in enumerate(sorted(set("".join(lines))))}
    items = list(cid.items())
    blocks = []
    for j in range(0, len(items), 100):  # <=100 entries per bfchar block
        chunk = items[j : j + 100]
        blocks.append(
            f"{len(chunk)} beginbfchar\n"
            + "".join(f"<{i:04X}> <{ord(c):04X}>\n" for c, i in chunk)
            + "endbfchar\n"
        )
    cmap = (
        "/CIDInit /ProcSet findresource begin\nbegincmap\n"
        "1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        + "".join(blocks)
        + "endcmap\nend\n"
    ).encode("ascii")

    def hexstr(line: str) -> str:
        return "<" + "".join(f"{cid[c]:04X}" for c in line) + ">"

    content = (
        "BT /F1 10 Tf "
        + hexstr(lines[0])
        + " Tj "
        + " ".join(hexstr(ln) + " '" for ln in lines[1:])
        + " ET"
    ).encode("ascii")
    return build_pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
            stream_obj(content, compress=True),
            b"<< /Type /Font /Subtype /Type0 /BaseFont /STSong-Light "
            b"/Encoding /Identity-H /ToUnicode 6 0 R >>",
            stream_obj(cmap, compress=True),
        ]
    )


def test_manual_jobs_through_real_pdf_codec(spark, tmp_path):
    """E2E on real bytes: the MANUAL_DOCS fixture texts are written as
    genuine CID-font FlateDecode PDFs, scanned via the binaryFile source,
    decoded by the from-spec builtin extractor (this container ships no
    pdfplumber/pypdf), and driven through all four manual-job cascades —
    golden rows must match the pre-extracted-text path exactly."""
    from test_fund_jobs import expected_set, rows_set

    root = tmp_path / "corpus"
    for _doc_id, filename, rel, text in FX.MANUAL_DOCS:
        d = root / rel
        d.mkdir(parents=True, exist_ok=True)
        (d / filename).write_bytes(_cid_pdf(text))

    parsed = load_corpus(spark, str(root))
    rows = parsed.collect()
    assert {r["status"] for r in rows} == {"ok"}, [
        (r["filename"], r["error"]) for r in rows if r["status"] == "error"
    ]
    # byte-level round trip: extracted text is exactly the fixture text
    texts = {r["filename"]: r["text"] for r in rows}
    for _doc_id, filename, _rel, text in FX.MANUAL_DOCS:
        assert texts[filename] == text

    ok = parsed.filter(F.col("status") == "ok").select(
        "doc_id", "filename", "rel_path", "text"
    )
    dim = FX.dim_df(spark)
    assert rows_set(jobs.manual_purchase_apply_job(ok, dim, FX.RUN_DATE)) == \
        expected_set(FX.EXPECTED_MANUAL_APPLY)
    assert rows_set(jobs.manual_purchase_confirm_job(ok, dim, FX.RUN_DATE)) == \
        expected_set(FX.EXPECTED_MANUAL_CONFIRM)
    assert rows_set(jobs.manual_redemption_job(ok, dim, FX.RUN_DATE)) == \
        expected_set(FX.EXPECTED_MANUAL_REDEMPTION)
    assert rows_set(jobs.manual_dividend_job(ok, dim, FX.RUN_DATE)) == \
        expected_set(FX.EXPECTED_MANUAL_DIVIDEND)


# --------------------------------------------------------------------------
# One Spark pass per output: observed sinks, the merge over written rows,
# and the run report
# --------------------------------------------------------------------------

# Spark jobs of run_all(excel=True) on the _build_tree corpus when every
# sink ran an isEmpty before its write, the merge re-ran the dividend
# extraction, and the quarantine and audit counts were a read-back count
# and a collect
TWO_PASS_RUN_ALL_JOBS = 58

OUTPUT_EXPECTED = {
    "dividend": FX.EXPECTED_DIVIDEND,
    "purchase_apply": FX.EXPECTED_PURCHASE_APPLY,
    "purchase_confirm": FX.EXPECTED_PURCHASE_CONFIRM,
    "redemption_confirm": FX.EXPECTED_REDEMPTION,
    "conversion": FX.EXPECTED_CONVERSION,
    "manual_apply": FX.EXPECTED_MANUAL_APPLY,
    "manual_confirm": FX.EXPECTED_MANUAL_CONFIRM,
    "manual_redemption": FX.EXPECTED_MANUAL_REDEMPTION,
    "manual_dividend": FX.EXPECTED_MANUAL_DIVIDEND,
}


@pytest.fixture(scope="module")
def one_pass_run(spark, tmp_path_factory):
    """One run_all(excel=True) on the fixture tree inside its own job
    group: (status, out_dir, the group's job ids, the stage names of
    those jobs)."""
    tmp = tmp_path_factory.mktemp("one_pass")
    root = _build_tree(tmp / "corpus")
    dim = FX.dim_df(spark)
    sc = spark.sparkContext
    sc.setJobGroup("run-all-one-pass", "run_all one pass")
    try:
        status = jobs.run_all(
            spark, str(root), dim, FX.RUN_DATE, str(tmp / "out"), excel=True
        )
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup("run-all-one-pass")
    stages = [
        tracker.getStageInfo(sid).name
        for jid in job_ids
        for sid in tracker.getJobInfo(jid).stageIds
    ]
    return status, tmp / "out", job_ids, stages


def test_write_partitioned_round_trips(spark, tmp_path):
    df = spark.createDataFrame(
        [("20260115", 1.5), ("20260115", 2.25), ("20260116", 3.0)],
        "biz_date string, x double",
    )
    path = str(tmp_path / "out")
    assert write_partitioned(df, path) is True
    back = spark.read.schema(df.schema).parquet(path).select(*df.columns)
    assert sorted(back.collect()) == sorted(df.collect())


def test_write_partitioned_empty_overwrite_removes_directory(spark, tmp_path):
    path = str(tmp_path / "out")
    old = spark.createDataFrame([("20260114", 9.0)], "biz_date string, x double")
    assert write_partitioned(old, path) is True
    empty = old.filter("x < 0")
    assert write_partitioned(empty, path) is False
    assert not (tmp_path / "out").exists()


def test_write_partitioned_empty_append_keeps_rows(spark, tmp_path):
    path = str(tmp_path / "out")
    old = spark.createDataFrame([("20260114", 9.0)], "biz_date string, x double")
    assert write_partitioned(old, path) is True
    assert write_partitioned(old.filter("x < 0"), path, mode="append") is False
    assert spark.read.parquet(path).select("x").collect() == [(9.0,)]


def test_write_quarantine_returns_observed_count(spark, tmp_path):
    df = spark.createDataFrame([("a",), ("b",)], "error string")
    assert write_quarantine(df, str(tmp_path / "q")) == 2
    assert write_quarantine(df.filter("false"), str(tmp_path / "q")) == 0


def test_run_all_runs_each_output_once(one_pass_run):
    _status, _out, job_ids, stages = one_pass_run
    assert not [s for s in stages
                if s.split(" ")[0] in ("isEmpty", "count", "collect")], stages
    assert len(job_ids) <= TWO_PASS_RUN_ALL_JOBS // 2, stages


def test_run_report_counts(one_pass_run):
    status, out, _job_ids, _stages = one_pass_run
    report = json.loads((out / "_run_report.json").read_text("utf-8"))
    files = report["files"]
    assert files["listed"] == files["ok"] + files["error"]
    assert files["ok"] == len(
        FX.DIVIDEND_DOCS + FX.PURCHASE_APPLY_DOCS + FX.PURCHASE_CONFIRM_DOCS
        + FX.REDEMPTION_DOCS + FX.CONVERSION_DOCS + FX.MANUAL_DOCS
    )
    assert files["error"] == 1  # the invalid-UTF-8 poison file
    assert report["quarantined"] == files["error"] == status["quarantined"]
    want = {name: len(rows) for name, rows in OUTPUT_EXPECTED.items()}
    want["dividend_merged"] = len(FX.EXPECTED_DIVIDEND) - 1
    assert report["rows"] == want
    assert report["empty_outputs"] == []
    assert set(report["seconds"]) == set(want) | {"quarantine"}
    assert status["audit"] == {"ok": files["ok"], "error": files["error"]}


def test_dividend_merged_equals_merge_of_dividend_job(spark, one_pass_run):
    from test_fund_jobs import rows_set

    from fund_data_etl_pipeline_spark.operators.aggregate import dividend_merge

    status, _out, _job_ids, _stages = one_pass_run
    div = jobs.dividend_job(
        FX.docs_df(spark, FX.DIVIDEND_DOCS), FX.dim_df(spark), FX.RUN_DATE
    )
    written = spark.read.schema(div.schema).parquet(
        status["dividend_merged"]).select(*div.columns)
    assert rows_set(written) == rows_set(dividend_merge(div))


def test_excel_read_back_keeps_target_schema(one_pass_run):
    from test_xls_writer import _parse_biff_cells, _read_cfb_stream

    status, _out, _job_ids, _stages = one_pass_run
    with open(status["dividend_excel"], "rb") as f:
        cells, _ = _parse_biff_cells(_read_cfb_stream(f.read(), "Workbook"))
    ncols = max(c for _r, c in cells) + 1
    assert [cells[(0, c)] for c in range(ncols)] == [
        CN_NAMES.get(c, c) for c in DIVIDEND_COLS
    ]
    date_col = DIVIDEND_COLS.index("biz_date")
    assert cells[(1, date_col)] == "20260115"


def test_run_report_is_logged(spark, tmp_path, caplog):
    root = tmp_path / "corpus"
    for _doc_id, filename, rel, text in FX.MANUAL_DOCS:
        d = root / rel
        d.mkdir(parents=True, exist_ok=True)
        (d / filename).write_text(text, encoding="utf-8")
    out = tmp_path / "out"
    with caplog.at_level(logging.INFO, logger="fund_data_etl_pipeline_spark"):
        status = jobs.run_all(spark, str(root), FX.dim_df(spark), FX.RUN_DATE,
                              str(out))
    records = [r for r in caplog.records if r.name.startswith(
        "fund_data_etl_pipeline_spark") and "run_all report" in r.getMessage()]
    assert len(records) == 1
    logged = json.loads(records[0].getMessage().split(": ", 1)[1])
    assert logged == json.loads((out / "_run_report.json").read_text("utf-8"))
    assert logged["files"] == {
        "listed": len(FX.MANUAL_DOCS), "ok": len(FX.MANUAL_DOCS), "error": 0}
    assert logged["quarantined"] == status["quarantined"] == 0
    # no dividend rows: the merge is skipped and its output left unwritten
    assert status["dividend"] is False and status["dividend_merged"] is False
    assert "dividend_merged" in logged["empty_outputs"]
    assert not (out / "dividend").exists()
    assert not (out / "dividend_merged").exists()


def test_zero_byte_pdf_is_listed_and_decoded(spark, tmp_path):
    """Spark's binaryFile scan drops zero-length files; the scan lists
    them itself, so listed = ok + error holds for an empty PDF too. A
    hidden or non-matching zero-length file stays out."""
    _doc_id, filename, rel, text = FX.DIVIDEND_DOCS[0]
    d = tmp_path / "corpus" / rel
    d.mkdir(parents=True)
    (d / filename).write_bytes(_cid_pdf(text))
    for name in ("empty.pdf", ".hidden.pdf", "empty.txt"):
        (d / name).write_bytes(b"")
    (d / "_tmp").mkdir()
    (d / "_tmp" / "staged.pdf").write_bytes(b"")

    scanned = parse_path_metadata(
        scan_binary_corpus(spark, str(tmp_path / "corpus"), path_keyword="分红")
    ).collect()
    assert sorted(r["filename"] for r in scanned) == sorted(
        [filename, "empty.pdf"])
    assert {(r["date_partition"], r["category"]) for r in scanned} == {
        ("20260115", "分红")}

    out = tmp_path / "out"
    jobs.run_all(spark, str(tmp_path / "corpus"), FX.dim_df(spark),
                 FX.RUN_DATE, str(out))
    files = json.loads((out / "_run_report.json").read_text("utf-8"))["files"]
    assert files["listed"] == 2 == files["ok"] + files["error"]
