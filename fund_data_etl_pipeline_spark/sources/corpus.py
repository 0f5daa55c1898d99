"""Document corpus source (SURVEY.md §2.1 S1-S4).

The reference walks a dated folder tree (`<root>/<year>/<YYYYMMDD>/1场外开基/
<subdir>/<file>.pdf`, dividend_extractor.py:1265,1278-1284) and parses each
PDF with pdfplumber. The engine's scan is declarative:

- ``spark.read.format("binaryFile")`` with ``recursiveFileLookup`` +
  ``pathGlobFilter`` — the listing prunes non-PDFs before any read;
- path-segment metadata (year / date / category) extracted from the
  ``path`` column — filters on them prune FILES, not rows, because they're
  evaluated on file metadata before content is touched. ``category`` is
  the file's IMMEDIATE parent directory (the business subdir, e.g. 分红),
  not the fixed 1场外开基 level above it — the parent is the segment the
  reference's keyword routing actually reads;
- filename predicates (S2) applied before the parse stage, which matters
  because Catalyst will not reorder filters around a Python stage;
- the PDF text extraction (S3) is an Arrow-batched ``mapInPandas`` stage
  with per-file try/except feeding the failure side-channel (S7) — a bad
  file becomes a quarantine row, never a job crash
  (dividend_extractor.py:1425-1438).

The PDF/OCR codecs are import-gated: real ``%PDF`` containers go through
pdfplumber (the reference's codec, dividend_extractor.py:1292-1298) or
pypdf when either is installed; image bytes (PNG/JPEG magic) go through
easyocr when installed (manual_purchase_apply_extractor.py:75-181). In
this container neither library exists, so those branches raise inside the
try/except and the file lands in the S7 quarantine with a clear error —
while plain-text fixture ``.pdf``s take the UTF-8 path. The plumbing,
schema, and failure semantics are the real ones either way.
"""

from __future__ import annotations

import datetime
import hashlib
import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARSED_SCHEMA = (
    "doc_id long, filename string, rel_path string, year string, "
    "date_partition string, category string, text string, status string, "
    "error string"
)


def _zero_length_files(spark: SparkSession, root: str, glob: str) -> list:
    """binaryFile rows (path, modificationTime, length, content) of the
    zero-length files under ``root`` whose name matches ``glob``, skipping
    any file or directory whose name starts with ``_`` or ``.`` (the
    names Spark's file listing treats as hidden). A Hadoop FileSystem
    listing on the driver: no Spark job. ``listStatus``, not
    ``listFiles``: the located statuses of ``listFiles`` load each
    file's permissions, which on a local filesystem without the native
    Hadoop library forks a process per file."""
    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    name_ok = jvm.org.apache.hadoop.fs.GlobFilter(glob)
    rows = []
    dirs = [jvm.org.apache.hadoop.fs.Path(root)]
    while dirs:
        for st in fs.listStatus(dirs.pop()):
            path = st.getPath()
            if path.getName().startswith(("_", ".")):
                continue
            if st.isDirectory():
                dirs.append(path)
            elif st.getLen() == 0 and name_ok.accept(path):
                mtime = datetime.datetime.fromtimestamp(
                    st.getModificationTime() / 1000, datetime.timezone.utc
                )
                rows.append((path.toString(), mtime, 0, bytearray()))
    return rows


def scan_binary_corpus(
    spark: SparkSession,
    root: str,
    path_keyword: str | None = None,
    glob: str = "*.pdf",
) -> DataFrame:
    """S1 — recursive binary-file scan with path-predicate pruning.

    Spark's file scan makes no split for a zero-length file, so the
    binaryFile source never returns one. Those files are listed here on
    the driver (same glob and hidden-name rule) and unioned in as
    empty-content rows, so every listed file reaches the decode stage."""
    df = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", glob)
        .load(root)
    )
    empty = _zero_length_files(spark, root, glob)
    if empty:
        df = df.unionByName(spark.createDataFrame(empty, df.schema))
    if path_keyword:
        # match the DIRECTORY part only (`"分红" in root`, not the file
        # name — dividend_extractor.py:1279-1281)
        dirname = F.regexp_replace(F.col("path"), "/[^/]*$", "")
        df = df.filter(dirname.contains(path_keyword))
    return df


def parse_path_metadata(df: DataFrame) -> DataFrame:
    """Path segments -> partition-style metadata columns
    (`<year>/<YYYYMMDD>/.../<category>/<file>`)."""
    return (
        df.withColumn("filename", F.element_at(F.split("path", "/"), -1))
        .withColumn("year", F.regexp_extract("path", r"/(\d{4})/\d{8}/", 1))
        .withColumn("date_partition", F.regexp_extract("path", r"/(\d{8})/", 1))
        .withColumn(
            "category", F.element_at(F.split("path", "/"), -2)
        )
    )


def filter_filenames(
    df: DataFrame, excludes: tuple[str, ...] = (), includes: tuple[str, ...] = ()
) -> DataFrame:
    """S2 — cheap filename predicates BEFORE the expensive parse stage."""
    for sub in excludes:
        df = df.filter(~F.col("filename").contains(sub))
    for sub in includes:
        df = df.filter(F.col("filename").contains(sub))
    return df


_IMAGE_MAGIC = (b"\x89PNG", b"\xff\xd8\xff")


def decode_document(content: bytes) -> str:
    """S3/S4 codec dispatch on magic bytes, import-gated per library.

    - ``%PDF`` container -> pdfplumber (reference codec,
      dividend_extractor.py:1292-1298), falling back to pypdf, falling
      back to the builtin from-spec extractor (sources/pdf_text.py:
      object scan + FlateDecode + Tj/TJ + ToUnicode CMaps — so plain
      generated PDFs decode even with no third-party PDF library
      installed); a PDF whose pages carry NO text (a scan) routes to
      ``ocr_scanned_pdf`` — embedded page images extracted and decoded
      from spec, glyph recognition import-gated — instead of returning
      silent empty text;
    - PNG/JPEG -> easyocr (manual_purchase_apply_extractor.py:75-181);
    - anything else -> UTF-8 decode (test fixtures are plain-text
      ``.pdf``s).
    A missing OCR library (or a PDF feature outside the builtin
    extractor's documented subset) raises HERE, inside the caller's
    try/except, so the file quarantines with a named error instead of
    crashing the job.
    """
    if content.startswith(b"%PDF"):
        try:
            import pdfplumber
        except ImportError:
            pass
        else:
            with pdfplumber.open(io.BytesIO(content)) as pdf:
                text = "\n".join(
                    p.extract_text() or "" for p in pdf.pages
                )
            return text if text.strip() else ocr_scanned_pdf(content)
        try:
            from pypdf import PdfReader
        except ImportError:
            # neither library installed: the from-spec builtin extractor
            # (sources/pdf_text.py — the xls_writer precedent applied to
            # S3). Raises a NAMED error for the features it deliberately
            # doesn't cover (real passwords, CCITT/JBIG2/JPX), which the
            # S7 side-channel turns into an informative quarantine row.
            from .pdf_text import extract_pdf_text

            text = extract_pdf_text(content)
            return text if text.strip() else ocr_scanned_pdf(content)
        reader = PdfReader(io.BytesIO(content))
        text = "\n".join(p.extract_text() or "" for p in reader.pages)
        return text if text.strip() else ocr_scanned_pdf(content)
    if content.startswith(_IMAGE_MAGIC):
        try:
            import easyocr
        except ImportError:
            raise ImportError(
                "image document needs easyocr (not installed)"
            ) from None
        reader = easyocr.Reader(["ch_sim", "en"], gpu=False)
        return "\n".join(reader.readtext(content, detail=0))
    return content.decode("utf-8")


def ocr_scanned_pdf(content: bytes) -> str:
    """S4 for scanned PDFs — the reference's PyMuPDF-render → EasyOCR
    path (manual_purchase_apply_extractor.py:75-181), with the render
    half built from spec: a scanned announcement's page images ARE the
    embedded /Subtype /Image XObjects, so ``extract_pdf_images`` plus
    the builtin image codecs reproduce exactly the pixels the reference
    rasterizes, with zero third-party libraries. Only the neural
    glyph-recognition step stays import-gated; when easyocr is absent
    the named error carries the decoded page-image inventory — the
    quarantine row then PROVES the front half worked on real bytes."""
    import numpy as np

    from .pdf_text import extract_pdf_images

    images = extract_pdf_images(content)
    if not images:
        raise ValueError(
            "PDF has no extractable text and no embedded page images "
            "(truncated or unsupported)"
        )
    pages: list[np.ndarray] = []
    for im in images:
        if im["format"] == "jpeg":
            from ..operators.jpeg_codec import decode_jpeg

            _, _, _, px = decode_jpeg(im["data"])
        else:
            px = _raw_samples_to_pixels(im)
        pages.append(px)
    try:
        import easyocr
    except ImportError:
        inv = ", ".join(
            f"p{im['page']}:{im['width']}x{im['height']}/{im['format']}"
            for im in images[:4]
        )
        raise ImportError(
            f"scanned PDF: {len(pages)} page image(s) decoded ({inv}) "
            "but no OCR backend (easyocr not installed)"
        ) from None
    reader = easyocr.Reader(["ch_sim", "en"], gpu=False)
    return "\n".join(
        "\n".join(reader.readtext(px, detail=0)) for px in pages
    )


def _raw_samples_to_pixels(im: dict):
    """(h, w, c) uint8 array from a filter-decoded PDF sample buffer
    (§8.9.5.2: every row starts byte-aligned). 8-bit Gray/RGB plus
    1-bit gray cover the Flate-compressed scans in the wild; anything
    else raises a named error (S7 quarantine)."""
    import numpy as np

    w, h, bpc = im["width"], im["height"], im["bits_per_component"]
    cs = im["color_space"]
    channels = {
        "DeviceRGB": 3, "CalRGB": 3, "DeviceGray": 1, "CalGray": 1,
    }.get(cs)
    if channels is None or bpc not in (1, 8) or (bpc == 1 and channels != 1):
        raise ValueError(
            f"PDF raw image {cs or '?'} at {bpc} bits/component not "
            "supported (DeviceRGB/DeviceGray 8-bit or 1-bit gray only)"
        )
    data = np.frombuffer(im["data"], dtype=np.uint8)
    if bpc == 1:
        stride = (w + 7) // 8
        if data.size < stride * h:
            raise ValueError("PDF raw image truncated")
        rows = data[: stride * h].reshape(h, stride)
        bits = np.unpackbits(rows, axis=1)[:, :w]
        return (bits * np.uint8(255))[..., None]
    if data.size < h * w * channels:
        raise ValueError("PDF raw image truncated")
    return data[: h * w * channels].reshape(h, w, channels)


def extract_text(df: DataFrame) -> DataFrame:
    """S3 + S7 — per-file text extraction with the failure side-channel.

    Codec is ``decode_document`` (magic-byte dispatch, import-gated real
    PDF/OCR libraries, UTF-8 for plain text). Output schema is
    PARSED_SCHEMA; rows with status='error' carry the exception text and
    NULL text.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                path = r["path"]
                rel = "/".join(path.split("/")[-4:-1]) + "/"
                doc_id = int.from_bytes(
                    hashlib.md5(path.encode()).digest()[:7], "big"
                )
                base = {
                    "doc_id": doc_id,
                    "filename": r["filename"],
                    "rel_path": rel,
                    "year": r["year"],
                    "date_partition": r["date_partition"],
                    "category": r["category"],
                }
                try:
                    text = decode_document(bytes(r["content"]))
                    rows.append({**base, "text": text, "status": "ok", "error": None})
                except Exception as ex:  # noqa: BLE001 — S7: never crash the job
                    rows.append(
                        {**base, "text": None, "status": "error", "error": str(ex)[:200]}
                    )
            yield pd.DataFrame(rows)

    return df.mapInPandas(op, schema=PARSED_SCHEMA)


def load_corpus(
    spark: SparkSession,
    root: str,
    path_keyword: str | None = None,
    filename_excludes: tuple[str, ...] = (),
    filename_includes: tuple[str, ...] = (),
) -> DataFrame:
    """S1+S2+S3+S7 composed: scan -> prune -> parse. Returns PARSED_SCHEMA
    rows; callers split on ``status`` (ok -> pipeline, error -> quarantine
    sink)."""
    scanned = scan_binary_corpus(spark, root, path_keyword)
    with_meta = parse_path_metadata(scanned)
    pruned = filter_filenames(with_meta, filename_excludes, filename_includes)
    return extract_text(pruned.select(
        "path", "content", "filename", "year", "date_partition", "category"
    ))
