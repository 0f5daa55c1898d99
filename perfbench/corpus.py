"""Seeded corpus trees of real PDF statements for the three workloads.

A tree has the layout ``jobs.run_all`` reads,
``<root>/<year>/<YYYYMMDD>/<business dir>/<file>``. The documents are the
fixture statements of ``testing/fixtures.py``, written as real ``%PDF``
files by ``pdfgen``. Fixtures are placed by *group*, the business
directory their ``rel_path`` names, because every job reads whole groups:

- ``fund_dividend`` (``1场外开基/分红``) feeds ``dividend`` and
  ``dividend_merged``;
- ``fund_apply`` (``1场外开基/申购受理``) feeds ``purchase_apply``;
- ``fund_confirm`` (``1场外开基/确认``) feeds ``purchase_confirm``,
  ``redemption_confirm`` and ``conversion``;
- ``manual`` (``2理财/...``) feeds the four ``manual_*`` jobs.

So the golden rows of a tree are each job's ``EXPECTED_*`` rows repeated
once per copy of its group; ``Manifest.copies`` records the counts.

Workloads (the amount of work is fixed per workload, so seeds differ
only in the bytes and places of the same documents):

- ``daily_folder``: one dated folder with every group, one invalid-UTF-8
  ``.pdf`` and one non-PDF, run with Excel output;
- ``fault_mix``: the ``fund_dividend`` group byte-identical under two
  dates, outnumbered by image-only scans plus truncated, encrypted and
  invalid-UTF-8 files, so most outputs are empty. Zero-byte files are
  a ``KNOWN_DEFECT_KINDS`` fault: the program's listing loses them, so
  they stay out of the checked trees and ``run.zero_byte_probe`` counts
  the loss on every run instead;
- ``backfill_month``: 24 dated folders with every group (~2.5k PDFs).
  It is runnable by hand but not in ``BENCHMARK.json``: a cold run of it
  does not fit the per-run time budget.

The seed chooses the dates, a name tag appended to every file name, the
file IDs, the scanned-page images, and which folders the faults land in.
The same seed writes a byte-identical tree.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
from dataclasses import dataclass, field

import pdfgen
from fund_data_etl_pipeline_spark.testing import fixtures as FX

GROUP_DOCS = {
    "fund_dividend": FX.DIVIDEND_DOCS,
    "fund_apply": FX.PURCHASE_APPLY_DOCS,
    "fund_confirm": (
        FX.PURCHASE_CONFIRM_DOCS + FX.REDEMPTION_DOCS + FX.CONVERSION_DOCS
    ),
    "manual": FX.MANUAL_DOCS,
}

# job output -> (group it reads, golden rows for one copy of that group)
JOB_GOLDEN = {
    "dividend": ("fund_dividend", FX.EXPECTED_DIVIDEND),
    "purchase_apply": ("fund_apply", FX.EXPECTED_PURCHASE_APPLY),
    "purchase_confirm": ("fund_confirm", FX.EXPECTED_PURCHASE_CONFIRM),
    "redemption_confirm": ("fund_confirm", FX.EXPECTED_REDEMPTION),
    "conversion": ("fund_confirm", FX.EXPECTED_CONVERSION),
    "manual_apply": ("manual", FX.EXPECTED_MANUAL_APPLY),
    "manual_confirm": ("manual", FX.EXPECTED_MANUAL_CONFIRM),
    "manual_redemption": ("manual", FX.EXPECTED_MANUAL_REDEMPTION),
    "manual_dividend": ("manual", FX.EXPECTED_MANUAL_DIVIDEND),
}

# fault kinds and whether decode_document fails on them
FAULT_FAILS = {
    "scan": True,       # image-only page; no OCR backend -> quarantine
    "truncated": True,  # a good PDF cut inside its content stream
    "encrypted": True,  # RC4-128 with a non-empty user password
    "poison": True,     # not a PDF and not valid UTF-8
    "zero_byte": False,  # decodes to empty text, matched by no job
}

# Fault kinds the program is known to mishandle. A run over a tree that
# holds one fails its checks whatever the code under test does, so the
# workloads leave them out and the benchmark probes them apart:
# Spark's binaryFile scan in ``sources.corpus.scan_binary_corpus`` skips
# zero-byte files, so they are neither ok nor error rows.
KNOWN_DEFECT_KINDS = ("zero_byte",)

SCAN_WIDTH, SCAN_HEIGHT = 1240, 1754  # A4 at 150 dpi

WORKLOADS = ("daily_folder", "backfill_month", "fault_mix")


def _business_dir(rel_path: str) -> str:
    """``2026/20260115/1场外开基/分红/`` -> ``1场外开基/分红``."""
    return "/".join(rel_path.strip("/").split("/")[2:])


@dataclass
class Manifest:
    """What the program should report for a tree."""

    root: str
    excel: bool
    copies: dict[str, int] = field(default_factory=dict)  # group -> copies
    pdfs: int = 0  # files the *.pdf listing finds
    expected_errors: int = 0
    faults: dict[str, int] = field(default_factory=dict)
    # (relative path, fixture text or None for a fault, fault kind or None)
    files: list[tuple[str, str | None, str | None]] = field(
        default_factory=list
    )


class _Writer:
    def __init__(self, root: str, rng: random.Random, manifest: Manifest):
        self.root = root
        self.rng = rng
        self.m = manifest
        self.tag = "%06x" % rng.getrandbits(24)

    def _file_id(self) -> bytes:
        return self.rng.getrandbits(128).to_bytes(16, "big")

    def _write(self, rel: str, data: bytes) -> None:
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)

    def _name(self, filename: str) -> str:
        stem, ext = os.path.splitext(filename)
        return f"{stem}_{self.tag}{ext}"

    def group(self, date_dirs: list[str], group: str) -> None:
        """The group's fixtures, byte-identical under every date dir."""
        for _, filename, rel_path, text in GROUP_DOCS[group]:
            data = pdfgen.text_pdf(text, self._file_id())
            for date_dir in date_dirs:
                rel = os.path.join(
                    date_dir, _business_dir(rel_path), self._name(filename)
                )
                self._write(rel, data)
                self.m.pdfs += 1
                self.m.files.append((rel, text, None))
        self.m.copies[group] = self.m.copies.get(group, 0) + len(date_dirs)

    def fault(self, date_dir: str, kind: str, n: int) -> None:
        business = self.rng.choice(
            sorted({_business_dir(d[2]) for docs in GROUP_DOCS.values()
                    for d in docs})
        )
        rel = os.path.join(
            date_dir, business, f"{kind}{n:04d}_{self.tag}.pdf"
        )
        self._write(rel, self._fault_bytes(kind))
        self.m.pdfs += 1
        self.m.expected_errors += FAULT_FAILS[kind]
        self.m.faults[kind] = self.m.faults.get(kind, 0) + 1
        self.m.files.append((rel, None, kind))

    def _fault_bytes(self, kind: str) -> bytes:
        rng = self.rng
        if kind == "scan":
            return pdfgen.scanned_pdf(
                _scan_pixels(rng), SCAN_WIDTH, SCAN_HEIGHT, self._file_id()
            )
        text = rng.choice([d[3] for docs in GROUP_DOCS.values() for d in docs])
        if kind == "truncated":
            whole = pdfgen.text_pdf(text, self._file_id())
            # cut inside the last stream, the page content
            start = whole.rindex(b"stream\n", 0, whole.rindex(b"endstream"))
            end = whole.rindex(b"endstream")
            return whole[: rng.randrange(start + 8, end - 1)]
        if kind == "encrypted":
            password = b"pw-%d" % rng.getrandbits(32)
            return pdfgen.text_pdf(text, self._file_id(), password)
        if kind == "poison":
            return b"\xff\xfe\x00" + bytes(
                rng.getrandbits(8) | 0x80 for _ in range(rng.randrange(16, 64))
            )
        if kind == "zero_byte":
            return b""
        raise ValueError(f"unknown fault kind {kind}")

    def other(self, date_dir: str) -> None:
        """A non-PDF file; the listing's *.pdf glob must skip it."""
        business = _business_dir(FX.DIVIDEND_DOCS[0][2])
        self._write(
            os.path.join(date_dir, business, f"notes_{self.tag}.txt"),
            b"not a statement\n",
        )


def _scan_pixels(rng: random.Random) -> bytes:
    """A white page with dark bars where lines of print would be."""
    row_white = b"\xff" * SCAN_WIDTH
    rows = [row_white] * SCAN_HEIGHT
    y = 120 + rng.randrange(40)
    while y < SCAN_HEIGHT - 140:
        x0 = 90 + rng.randrange(30)
        x1 = rng.randrange(SCAN_WIDTH // 3, SCAN_WIDTH - 90)
        shade = bytes([rng.randrange(0, 90)])
        line = row_white[:x0] + shade * (x1 - x0) + row_white[x1:]
        for r in range(y, y + 18):
            rows[r] = line
        y += 30 + rng.randrange(20)
    return b"".join(rows)


def _date_dir(day: dt.date) -> str:
    return f"{day.year}/{day:%Y%m%d}"


def _business_days(rng: random.Random, n: int) -> list[dt.date]:
    """``n`` consecutive weekdays from a seed-chosen start in 2025."""
    day = dt.date(2025, 1, 1) + dt.timedelta(days=rng.randrange(300))
    days = []
    while len(days) < n:
        if day.weekday() < 5:
            days.append(day)
        day += dt.timedelta(days=1)
    return days


def generate(
    workload: str, seed: int, root: str, backfill_folders: int = 24,
    scans: int = 120,
) -> Manifest:
    """Write the ``workload`` tree for ``seed`` under ``root`` (emptied
    first) and return its manifest."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    rng = random.Random(f"{workload}:{seed}")
    m = Manifest(root, excel=workload == "daily_folder")
    w = _Writer(root, rng, m)
    groups = sorted(GROUP_DOCS)
    if workload == "daily_folder":
        (day,) = _business_days(rng, 1)
        for g in groups:
            w.group([_date_dir(day)], g)
        w.fault(_date_dir(day), "poison", 0)
        w.other(_date_dir(day))
    elif workload == "backfill_month":
        for day in _business_days(rng, backfill_folders):
            for g in groups:
                w.group([_date_dir(day)], g)
            w.other(_date_dir(day))
    else:  # fault_mix
        days = [_date_dir(d) for d in _business_days(rng, 2)]
        w.group(days, "fund_dividend")
        kinds = ["scan"] * scans + [
            k for k in FAULT_FAILS
            if k != "scan" and k not in KNOWN_DEFECT_KINDS
            for _ in range(8)
        ]
        for n, kind in enumerate(kinds):
            w.fault(rng.choice(days), kind, n)
    return m
