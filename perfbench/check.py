"""Correctness checks for one ``run_all`` attempt, and the codec pre-check.

An attempt passes only if every check holds:

- each of the 10 outputs equals its golden rows (the fixture
  ``EXPECTED_*`` rows repeated once per copy of the group that feeds it;
  ``dividend_merged`` is the group-merge of the dividend rows computed
  here in plain Python), and an output with no golden rows is not written;
- with ``excel=True``, every written job also has its Excel file;
- listed PDFs = ok + error, error = the faults that must fail, and
  quarantine rows = error rows (file conservation);
- the number of persistent RDDs is back at its value before the run.

Outputs are read with pyarrow, so checking starts no Spark job.
"""

from __future__ import annotations

import os
import time
from collections import Counter, defaultdict

from corpus import FAULT_FAILS, JOB_GOLDEN, Manifest
from fund_data_etl_pipeline_spark import schemas

# output -> column order; the 9 jobs in run_all's order, then the merge
JOB_COLS = {
    "dividend": schemas.DIVIDEND_COLS,
    "purchase_apply": schemas.TXN_COLS,
    "purchase_confirm": schemas.TXN_COLS,
    "redemption_confirm": schemas.TXN_COLS,
    "conversion": schemas.CONVERSION_COLS,
    "manual_apply": schemas.MANUAL_APPLY_COLS,
    "manual_confirm": schemas.MANUAL_CONFIRM_COLS,
    "manual_redemption": schemas.MANUAL_REDEMPTION_COLS,
    "manual_dividend": schemas.MANUAL_DIVIDEND_COLS,
    "dividend_merged": schemas.DIVIDEND_COLS,
}


def _norm(row) -> tuple:
    return tuple(round(v, 6) if isinstance(v, float) else v for v in row)


def merge_dividends(rows: list[tuple]) -> list[tuple]:
    """The dividend group-merge (``operators/aggregate.dividend_merge``
    semantics): group by (ledger_code, fund_code), sum shares and amount
    to 2 decimals, join the distinct platforms sorted with '、', and take
    the minimum non-NULL value of every other column."""
    cols = schemas.DIVIDEND_COLS
    groups: dict[tuple, list[dict]] = defaultdict(list)
    for row in rows:
        rec = dict(zip(cols, row))
        groups[(rec["ledger_code"], rec["fund_code"])].append(rec)
    merged = []
    for (ledger, fund), recs in groups.items():
        out = {"ledger_code": ledger, "fund_code": fund}
        for c in ("shares", "amount"):
            out[c] = round(sum(r[c] for r in recs), 2)
        out["platform"] = "、".join(sorted({r["platform"] for r in recs}))
        for c in cols:
            if c not in out:
                vals = [r[c] for r in recs if r[c] is not None]
                out[c] = min(vals) if vals else None
        merged.append(tuple(out[c] for c in cols))
    return merged


def golden(manifest: Manifest) -> dict[str, Counter]:
    """Output name -> expected row multiset for the manifest's tree."""
    want = {}
    for job, (group, rows) in JOB_GOLDEN.items():
        want[job] = list(rows) * manifest.copies.get(group, 0)
    want["dividend_merged"] = merge_dividends(want["dividend"])
    return {k: Counter(_norm(r) for r in v) for k, v in want.items()}


def read_output(path: str, cols: list[str]) -> Counter:
    """Rows of a parquet output directory; ``biz_date=`` partition
    directories are read back as the string column they were written
    from."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    part = None
    if any(d.startswith("biz_date=") for d in os.listdir(path)):
        part = ds.partitioning(pa.schema([("biz_date", pa.string())]),
                               flavor="hive")
    table = ds.dataset(path, format="parquet", partitioning=part).to_table()
    return Counter(_norm(tuple(r[c] for c in cols)) for r in table.to_pylist())


def check_run(
    manifest: Manifest, status: dict, out_dir: str,
    rdds_before: int, rdds_after: int,
) -> list[str]:
    """Every failed check of one attempt, as one line each (empty = pass)."""
    errors = []
    for name, want in golden(manifest).items():
        path = status.get(name)
        if not want:
            if path or os.path.exists(os.path.join(out_dir, name)):
                errors.append(f"{name}: written, but no golden rows")
            continue
        if not path:
            errors.append(f"{name}: not written, want {sum(want.values())} rows")
            continue
        got = read_output(path, JOB_COLS[name])
        if got != want:
            errors.append(
                f"{name}: {sum(got.values())} rows, want {sum(want.values())};"
                f" {sum((got - want).values())} unexpected,"
                f" {sum((want - got).values())} missing"
            )
        if manifest.excel and name != "dividend_merged":
            xls = status.get(f"{name}_excel")
            if not xls or not os.path.getsize(xls):
                errors.append(f"{name}: Excel file missing")
    audit = status.get("audit", {})
    ok, err = audit.get("ok", 0), audit.get("error", 0)
    if ok + err != manifest.pdfs:
        errors.append(f"listed {manifest.pdfs} PDFs but ok+error = {ok + err}")
    if err != manifest.expected_errors:
        errors.append(f"{err} error rows, want {manifest.expected_errors}")
    if status.get("quarantined") != err:
        errors.append(
            f"quarantine rows {status.get('quarantined')} != error rows {err}"
        )
    if rdds_after != rdds_before:
        errors.append(f"persistent RDDs {rdds_before} -> {rdds_after}")
    return errors


def precheck_decode(manifest: Manifest) -> tuple[float, list[str]]:
    """Decode every generated file with ``decode_document`` in this
    thread. Good files must give their fixture text and faults of a
    failing kind must raise. Returns (seconds spent decoding, errors)."""
    from fund_data_etl_pipeline_spark.sources.corpus import decode_document

    errors = []
    spent = 0.0
    for rel, text, kind in manifest.files:
        with open(os.path.join(manifest.root, rel), "rb") as f:
            data = f.read()
        t0 = time.perf_counter()
        try:
            got = decode_document(data)
        except Exception as ex:  # noqa: BLE001 - a codec failure is a result
            got, failure = None, ex
        else:
            failure = None
        spent += time.perf_counter() - t0
        if text is not None and got != text:
            errors.append(f"{rel}: decoded text differs from fixture"
                          f" ({failure or 'mismatch'})")
        elif kind is not None and FAULT_FAILS[kind] != (failure is not None):
            errors.append(f"{rel}: {kind} fault decoded as "
                          f"{'error' if failure else 'ok'}")
    return spent, errors
