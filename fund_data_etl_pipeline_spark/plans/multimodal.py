"""Binary-column queries. ``multimodal_binary_stats`` proves the
binary-column path end-to-end with a DuckDB oracle (documents text encoded
to bytes both sides) in pure SQL: no codec and no Python stage."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from . import register


@register(
    "multimodal_binary_stats",
    oracle="""
    SELECT doc_id,
           octet_length(text::BLOB) AS n_bytes,
           md5(text)                AS content_md5
    FROM documents
    """,
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary handling: byte length + digest over a binary column
    (the documents text re-encoded as bytes stands in for media blobs)."""
    docs = load_table(spark, sf_dir, "documents")
    data = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(data).alias("n_bytes"),
        F.md5(data).alias("content_md5"),
    )
