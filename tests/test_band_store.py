"""Banded signature store: persisted LSH band rows partitioned by
band-key prefix, so the steady-state matcher prunes store-side IO to the
partitions an incoming batch collides with and never re-derives the
store's bands (the r07 verdict's store-scan watch-item)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark.llm.dedup import (
    match_signature_store,
    minhash_signature,
    store_band_rows,
)


def _docs(spark, n=40):
    return spark.createDataFrame(
        [(i, f"document body number {i} with plenty of shared words " * 3)
         for i in range(n)],
        "doc_id long, text string",
    )


def _write_store(spark, tmp_path, sigs, band_size=8):
    path = str(tmp_path / "bands")
    (
        store_band_rows(sigs, "doc_id", 16, band_size)
        .repartition("band_pfx")
        .write.mode("overwrite")
        .partitionBy("band_pfx")
        .parquet(path)
    )
    return path


def test_banded_match_equals_unbanded(spark, tmp_path):
    """Prefix pruning is lossless: equal band keys share every prefix, so
    the banded path returns bit-identical verdicts."""
    docs = _docs(spark)
    sigs = minhash_signature(docs, "doc_id", "text", 16, 5)
    batch = docs.filter("doc_id % 7 = 0").select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    bsigs = minhash_signature(batch, "doc_id", "text", 16, 5)

    plain = match_signature_store(bsigs, sigs, "doc_id", 16, 8, 12)
    path = _write_store(spark, tmp_path, sigs)
    banded = match_signature_store(
        bsigs, sigs, "doc_id", 16, 8, 12,
        store_bands=spark.read.parquet(path),
    )
    key = lambda r: (r.batch_id, r.store_id, r.n_agree, r.est_jaccard_ppm)
    assert sorted(map(key, plain.collect())) == sorted(map(key, banded.collect()))


def test_banded_match_prunes_store_partitions(spark, tmp_path):
    """The batch's prefix set lands in the store scan's PartitionFilters:
    non-colliding band_pfx directories contribute zero IO."""
    docs = _docs(spark)
    sigs = minhash_signature(docs, "doc_id", "text", 16, 5)
    path = _write_store(spark, tmp_path, sigs)
    one = docs.filter("doc_id = 3").select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    bsigs = minhash_signature(one, "doc_id", "text", 16, 5)
    out = match_signature_store(
        bsigs, sigs, "doc_id", 16, 8, 12,
        store_bands=spark.read.parquet(path),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan, plan
    # the isin prefix filter must reach the partitioned scan
    assert any("band_pfx" in ln and "IN" in ln.upper() for ln in scan), plan
    # the carried-signature layout means the band store is the ONLY
    # store-side input: no residual full scan of the signature frame
    # (the slot comparison runs on the pruned band rows)
    assert plan.count("Scan parquet") == 1, plan
    # and the match itself still lands (doc 3's recrawl matches store 3)
    rows = out.collect()
    assert [(r.batch_id, r.store_id) for r in rows] == [(1003, 3)]


def test_banded_match_rejects_band_geometry_mismatch(spark, tmp_path):
    """Band rows persisted at one band_size matched at another would
    produce disjoint md5 keys and silently match nothing — refuse."""
    docs = _docs(spark, 10)
    sigs = minhash_signature(docs, "doc_id", "text", 16, 5)
    path = _write_store(spark, tmp_path, sigs, band_size=4)
    bsigs = minhash_signature(docs, "doc_id", "text", 16, 5)
    with pytest.raises(ValueError, match="band geometry mismatch"):
        match_signature_store(
            bsigs, sigs, "doc_id", 16, 8, 12,
            store_bands=spark.read.parquet(path),
        )


def test_banded_match_rejects_band_store_without_signatures(spark, tmp_path):
    """Scoring compares slots on the band rows, so a persisted band store
    that carries no h* columns cannot be scored: it must be refused, not
    silently fall back to a join against the signature frame."""
    docs = _docs(spark, 10)
    sigs = minhash_signature(docs, "doc_id", "text", 16, 5)
    path = str(tmp_path / "bands_nosig")
    (
        store_band_rows(sigs, "doc_id", 16, 8)
        .select("store_id", "band_key", "band_size", "band_pfx")
        .write.mode("overwrite")
        .partitionBy("band_pfx")
        .parquet(path)
    )
    with pytest.raises(ValueError, match="no h\\* signature columns"):
        match_signature_store(
            sigs, sigs, "doc_id", 16, 8, 12,
            store_bands=spark.read.parquet(path),
        )


def test_match_rejects_store_signature_width_mismatch(spark):
    """With no band store the rows are built from store_sigs, whose width
    must equal n_hashes — a narrower store would otherwise fail on missing
    columns or compare a slot subset."""
    docs = _docs(spark, 10)
    sigs16 = minhash_signature(docs, "doc_id", "text", 16, 5)
    sigs8 = minhash_signature(docs, "doc_id", "text", 8, 5)
    with pytest.raises(ValueError, match="signature geometry mismatch"):
        match_signature_store(sigs16, sigs8, "doc_id", 16, 8, 12)


def test_band_store_artifact_and_incremental_slice(spark, tmp_path):
    """The corpus pipeline persists the band_store artifact
    hive-partitioned, and dedup_incoming_slice picks it up (same verdicts
    as the signature-only path)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from peskas_timor_data_pipeline_spark.llm.text import normalize_text
    from peskas_timor_data_pipeline_spark.pipeline.corpus_pipeline import (
        build_corpus_pipeline,
        dedup_incoming_slice,
        ingest_corpus,
    )
    from peskas_timor_data_pipeline_spark.sources.io import resolve_latest

    docs = [(i, f"corpus document number {i} " + f"subject{i} theme{i} " * 8)
            for i in range(8)]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                  "text": pa.array([t for _, t in docs], pa.string())}),
        src,
    )
    art = str(tmp_path / "artifacts")
    os.makedirs(art)
    ingest_corpus(spark, art, src)
    build_corpus_pipeline(
        spark, art, n_hashes=16, band_size=4, k_span=50, pack_budget=64
    ).run()

    band_path = resolve_latest(art, "band_store", "parquet")
    assert band_path is not None
    # hive layout: band_pfx=XX directories
    assert any(d.startswith("band_pfx=") for d in os.listdir(band_path))

    slice_df = normalize_text(
        spark.createDataFrame(
            [(105, "corpus document number 5 " + "subject5 theme5 " * 8),
             (900, "totally novel content on an unrelated matter " * 3)],
            "doc_id long, text string",
        ),
        "text",
        out_col="norm_text",
    )
    new_docs, verdicts = dedup_incoming_slice(spark, art, slice_df, band_size=4)
    v = {r.batch_id: r.store_id for r in verdicts.collect()}
    assert v == {105: 5}
    assert {r.doc_id for r in new_docs.collect()} == {900}


def test_band_prefix_len_policy():
    """Store-size-aware width (r09): toy stores write one partition
    (len 0 — the 256-partition listing overhead beat its pruning),
    partitions then grow ~linearly with store size, capped."""
    from peskas_timor_data_pipeline_spark.llm.dedup import band_prefix_len

    assert band_prefix_len(0, 2) == 0
    assert band_prefix_len(500, 2) == 0            # toy: skip banding
    assert band_prefix_len(500_000, 2) == 0        # 1M band rows: boundary
    assert band_prefix_len(600_000, 2) == 1        # 1.2M rows -> 16 parts
    assert band_prefix_len(50_000_000, 2) == 2     # 100M rows -> 256
    assert band_prefix_len(10**10, 2, max_len=4) == 4  # clamped


def test_zero_prefix_store_round_trips(spark, tmp_path):
    """A store written at prefix_len=0 (single band_pfx='' partition)
    matches identically to the unbanded path — the matcher recognizes
    the empty prefix and skips pruning."""
    docs = _docs(spark)
    sigs = minhash_signature(docs, "doc_id", "text", 16, 5)
    batch = docs.filter("doc_id % 7 = 0").select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    bsigs = minhash_signature(batch, "doc_id", "text", 16, 5)
    path = str(tmp_path / "bands0")
    (
        store_band_rows(sigs, "doc_id", 16, 8, prefix_len=0)
        .write.mode("overwrite")
        .partitionBy("band_pfx")
        .parquet(path)
    )
    plain = match_signature_store(bsigs, sigs, "doc_id", 16, 8, 12)
    banded = match_signature_store(
        bsigs, sigs, "doc_id", 16, 8, 12,
        store_bands=spark.read.parquet(path),
    )
    key = lambda r: (r.batch_id, r.store_id, r.n_agree, r.est_jaccard_ppm)
    assert sorted(map(key, plain.collect())) == sorted(map(key, banded.collect()))
