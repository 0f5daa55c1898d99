"""Structured Streaming file-ingest tests: batch/streaming parity of the
dividend pipeline, watermarked windows, dedup and sketches."""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F

from fund_data_etl_pipeline_spark.streaming.file_ingest import (
    read_document_stream,
    stream_dividend_pipeline,
    windowed_event_counts,
    write_available_now,
)
from fund_data_etl_pipeline_spark.testing import fixtures as FX


def _write_doc_json(dirpath: str, docs, name: str):
    with open(os.path.join(dirpath, name), "w") as f:
        for d in docs:
            f.write(
                json.dumps(
                    {"doc_id": d[0], "filename": d[1], "rel_path": d[2], "text": d[3]},
                    ensure_ascii=False,
                )
                + "\n"
            )


def test_stream_dividend_available_now(spark, tmp_path):
    """File-source stream through the REAL dividend pipeline: results must
    equal the batch run over the same corpus (batch/streaming parity)."""
    src = tmp_path / "incoming"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    half = len(FX.DIVIDEND_DOCS) // 2
    _write_doc_json(str(src), FX.DIVIDEND_DOCS[:half], "day1.json")
    _write_doc_json(str(src), FX.DIVIDEND_DOCS[half:], "day2.json")

    stream = read_document_stream(spark, str(src))
    assert stream.isStreaming
    result = stream_dividend_pipeline(stream, FX.dim_df(spark), FX.RUN_DATE)
    q = write_available_now(result, str(out), str(ckpt))
    q.awaitTermination(120)

    got = spark.read.parquet(str(out))
    assert got.count() == len(FX.EXPECTED_DIVIDEND)

    # exactly-once: a second AvailableNow run over the same files adds nothing
    q2 = write_available_now(
        stream_dividend_pipeline(
            read_document_stream(spark, str(src)), FX.dim_df(spark), FX.RUN_DATE
        ),
        str(out),
        str(ckpt),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(out)).count() == len(FX.EXPECTED_DIVIDEND)


def test_streaming_window_with_watermark(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    rows = [
        {"ts": "2026-01-15 10:%02d:00" % m, "event_type": "click", "value": 1.0}
        for m in range(0, 50, 5)
    ]
    with open(src / "e.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .json(str(src))
    )
    agg = windowed_event_counts(stream, window="30 minutes", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"].isoformat(), r["n"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert ("2026-01-15T10:00:00", 6) in got  # 10:00..10:25
    assert ("2026-01-15T10:30:00", 4) in got  # 10:30..10:45


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate-content documents (even under different ids/filenames)
    collapse to one surviving row per content hash; distinct contents all
    survive."""
    from fund_data_etl_pipeline_spark.streaming.file_ingest import streaming_dedup

    src = tmp_path / "docs"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    docs = [
        (1, "a.txt", "x/a.txt", "alpha beta gamma"),
        (2, "b.txt", "x/b.txt", "Alpha  BETA gamma"),  # same normalized content
        (3, "c.txt", "x/c.txt", "something else"),
        (4, "d.txt", "x/d.txt", "alpha beta gamma"),   # dup again
    ]
    _write_doc_json(str(src), docs[:2], "day1.json")
    _write_doc_json(str(src), docs[2:], "day2.json")

    deduped = streaming_dedup(read_document_stream(spark, str(src)))
    q = write_available_now(deduped, str(out), str(ckpt))
    q.awaitTermination(120)

    got = spark.read.parquet(str(out))
    assert got.count() == 2
    assert got.select("content_hash").distinct().count() == 2
    assert {r["text"] for r in got.collect()} <= {
        "alpha beta gamma", "Alpha  BETA gamma", "something else"
    }


def test_streaming_curation_parity(spark, tmp_path):
    """Streaming curation = batch signal columns + within-watermark dedup:
    duplicates collapse to first occurrence, degenerate/low-quality docs
    drop, stopword-rich prose survives."""
    from fund_data_etl_pipeline_spark.streaming.file_ingest import (
        streaming_curation,
    )

    good1 = "the cat and the dog are in the house with a mouse near the door"
    good2 = "she said that it was not the best of days but it was a good one"
    spam = "spam " * 40
    src = tmp_path / "docs"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    _write_doc_json(
        str(src),
        [
            (1, "a.txt", "x/a.txt", good1),
            (2, "b.txt", "x/b.txt", good1.upper()),  # same normalized hash
            (3, "c.txt", "x/c.txt", spam),
            (4, "d.txt", "x/d.txt", good2),
        ],
        "batch.json",
    )
    q = write_available_now(
        streaming_curation(read_document_stream(spark, str(src))),
        str(out),
        str(ckpt),
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(out))
    assert got.count() == 2
    assert {r.doc_id for r in got.collect()} <= {1, 2, 4}
    assert got.filter(F.col("doc_id") == 3).count() == 0  # spam dropped
    # kept rows must still carry the document itself — the stream feeds a
    # training sink, not a scoreboard
    assert {"text", "filename"} <= set(got.columns)
    assert all(r.text for r in got.collect())
    # parity: surviving signal values match the batch builder bit-for-bit
    from fund_data_etl_pipeline_spark.plans.textops import curation_signals

    batch = {
        r.doc_id: r
        for r in curation_signals(
            spark.createDataFrame(
                [(1, good1), (4, good2)], ["doc_id", "text"]
            )
        ).collect()
    }
    for r in got.select(
        "doc_id", "quality_score", "uniq_word_frac", "dup_bigram_frac"
    ).collect():
        if r.doc_id in batch:
            b = batch[r.doc_id]
            assert (r.quality_score, r.uniq_word_frac, r.dup_bigram_frac) == (
                b.quality_score,
                b.uniq_word_frac,
                b.dup_bigram_frac,
            )


def test_streaming_distinct_users_sketch_parity(spark, tmp_path):
    """The streaming HLL rollup must agree with the SAME sketch computed
    in batch over the identical rows (merge-across-microbatches must not
    change the estimate), and state stays a sketch, not a value set."""
    from fund_data_etl_pipeline_spark.streaming.file_ingest import (
        windowed_distinct_users,
    )

    src = tmp_path / "events"
    src.mkdir()
    rows = [
        {"ts": "2026-01-15 10:%02d:00" % (m % 60), "event_type": "click",
         "value": 1.0, "user_id": m % 7}
        for m in range(0, 50, 5)
    ]
    with open(src / "e.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = "ts timestamp, event_type string, value double, user_id bigint"
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        windowed_distinct_users(stream, window="30 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("win_users")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["window_start"].isoformat(): (r["n"], r["n_users"])
        for r in spark.sql("SELECT * FROM win_users").collect()
    }
    batch = spark.read.schema(schema).json(str(src))
    expect = {
        r["ws"].isoformat(): (r["n"], r["u"])
        for r in batch.groupBy(
            F.window("ts", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("user_id", 0.05).alias("u"),
        )
        .select(F.col("w.start").alias("ws"), "n", "u")
        .collect()
    }
    assert got == expect
    # 7 distinct users across 10 events; HLL at 5% rsd is exact this small
    assert got["2026-01-15T10:00:00"][1] <= 7
