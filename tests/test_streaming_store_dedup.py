"""Streaming front door for the incremental signature-store dedup: a file
stream of incoming documents is matched per micro-batch against a persisted
corpus signature store (the d20 operator mounted on foreachBatch)."""

from __future__ import annotations

import json

from pyspark.sql.types import LongType, StringType, StructField, StructType

SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)


def _write_batch(landing, name, rows):
    with open(landing / name, "w") as f:
        for s in rows:
            f.write(json.dumps(s) + "\n")


def test_store_dedup_sink_matches_per_batch(spark, tmp_path):
    from peskas_timor_data_pipeline_spark.llm.dedup import minhash_signature
    from peskas_timor_data_pipeline_spark.streaming.ingest import (
        store_dedup_sink,
        stream_landed_files,
    )

    store_docs = spark.createDataFrame(
        [(i, f"stored corpus document body number {i} " * 4) for i in range(5)],
        "doc_id long, text string",
    )
    store_sigs = minhash_signature(store_docs, "doc_id", "text", 16, 5)
    store_path = str(tmp_path / "store_sigs")
    store_sigs.write.parquet(store_path)

    landing = tmp_path / "landing"
    landing.mkdir()
    # an exact recrawl of store doc 3 + a genuinely new doc
    _write_batch(
        landing,
        "b1.jsonl",
        [
            {"doc_id": 103, "text": "stored corpus document body number 3 " * 4},
            {"doc_id": 104, "text": "completely novel fresh content " * 4},
        ],
    )
    out = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")
    stream = stream_landed_files(spark, str(landing), SCHEMA)
    q = store_dedup_sink(
        stream, spark.read.parquet(store_path), out, checkpoint=ckpt
    ).start()
    q.awaitTermination(120)

    verdicts = spark.read.parquet(out).collect()
    # only the recrawl matched; the novel doc passed through as new content
    assert len(verdicts) == 1
    v = verdicts[0]
    assert (v.batch_id, v.store_id, v.n_agree) == (103, 3, 16)
    assert v.est_jaccard_ppm == 1_000_000

    # second drop: the store is re-read per micro-batch and the verdict
    # lands under its own micro_batch_id partition, first batch untouched
    _write_batch(
        landing,
        "b2.jsonl",
        [{"doc_id": 205, "text": "stored corpus document body number 1 " * 4}],
    )
    # PATH variant: the store is re-read per micro-batch (refresh-safe)
    q2 = store_dedup_sink(
        stream_landed_files(spark, str(landing), SCHEMA),
        store_path,
        out,
        checkpoint=ckpt,
    ).start()
    q2.awaitTermination(120)

    rows = {r.batch_id: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {103, 205}
    assert rows[205].store_id == 1
    assert rows[103].micro_batch_id != rows[205].micro_batch_id


def test_store_dedup_sink_derives_width_from_store(spark, tmp_path):
    """The persisted store's h* columns are the single source of truth for
    signature geometry: the sink takes no width option, so an 8-slot store
    is matched at 8 slots and a recrawl of one of its docs lands."""
    from peskas_timor_data_pipeline_spark.llm.dedup import minhash_signature
    from peskas_timor_data_pipeline_spark.streaming.ingest import (
        store_dedup_sink,
        stream_landed_files,
    )

    # texts far apart: 8 slots cannot separate near-identical bodies
    texts = [
        "alpha bravo charlie delta echo foxtrot " * 4,
        "golf hotel india juliet kilo lima " * 4,
        "mike november oscar papa quebec romeo " * 4,
    ]
    store_docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    minhash_signature(store_docs, "doc_id", "text", 8, 5).write.parquet(
        str(tmp_path / "store8")
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    _write_batch(
        landing,
        "b1.jsonl",
        [
            {"doc_id": 101, "text": texts[1]},
            {"doc_id": 102, "text": "completely novel fresh content " * 4},
        ],
    )

    out = str(tmp_path / "out")
    q = store_dedup_sink(
        stream_landed_files(spark, str(landing), SCHEMA),
        str(tmp_path / "store8"),
        out,
        checkpoint=str(tmp_path / "ckpt"),
        band_size=4,
        min_agree=6,
    ).start()
    q.awaitTermination(120)

    verdicts = spark.read.parquet(out).collect()
    assert [(v.batch_id, v.store_id, v.n_agree, v.est_jaccard_ppm)
            for v in verdicts] == [(101, 1, 8, 1_000_000)]


def test_store_dedup_sink_rejects_zero_bands(spark, tmp_path):
    """band_size wider than the store's 6-slot signature would build zero
    bands and silently match nothing; the sink refuses instead."""
    import pytest

    from peskas_timor_data_pipeline_spark.llm.dedup import minhash_signature
    from peskas_timor_data_pipeline_spark.streaming.ingest import (
        store_dedup_sink,
        stream_landed_files,
    )

    store_docs = spark.createDataFrame(
        [(0, "stored corpus document body " * 4)], "doc_id long, text string"
    )
    minhash_signature(store_docs, "doc_id", "text", 6, 5).write.parquet(
        str(tmp_path / "store6")
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    _write_batch(landing, "b1.jsonl", [{"doc_id": 1, "text": "anything " * 8}])

    q = store_dedup_sink(
        stream_landed_files(spark, str(landing), SCHEMA),
        str(tmp_path / "store6"),
        str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        band_size=8,
    ).start()
    with pytest.raises(Exception, match="zero bands"):
        q.awaitTermination(120)
        raise AssertionError("query should have failed")
