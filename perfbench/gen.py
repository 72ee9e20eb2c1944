"""Seeded input generators for the benchmark.

Every table is drawn from a NumPy generator whose seed is the md5 of
``(seed, table name)``, so the same ``--seed`` gives byte-identical inputs
and each table has its own stream. The program under test only ever sees
the files written here.

The domain tables follow the shapes the pipeline stages expect (PDS tracker
trips, nested Kobo landings, length-weight parameters, nutrient
concentrations); the corpus is word-soup documents blown up with planted
exact and near duplicates, in the registry's ``documents`` layout.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MUNIS = ["Dili", "Baucau", "Bobonaro", "Covalima", "Lautem", "Liquica",
         "Manatuto", "Manufahi", "Oecusse", "Viqueque", "Aileu", "Ainaro"]
SPECIES = ["GZP", "FLY", "CGX", "EMP", "CLP", "SNA", "TUN", "MAC"]
DAY0 = dt.date(2023, 1, 1)
EPOCH0_S = int(dt.datetime(2023, 1, 1, tzinfo=dt.timezone.utc).timestamp())
# Versioned-artifact name the runner resolves as "latest" until a stage
# writes a newer one (sources.io naming: prefix__<14-digit ts>_<sha>__.ext)
INPUT_VERSION = "20000101000000_0000000"


def rng_for(seed: int, name: str) -> np.random.Generator:
    key = hashlib.md5(f"perfbench#{seed}#{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(key[:8], "little"))


def artifact_path(directory: str, prefix: str) -> str:
    return os.path.join(directory, f"{prefix}__{INPUT_VERSION}__.parquet")


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    return table.num_rows


# --- domain DAG inputs ---------------------------------------------------


def trips(seed: int, n_boats: int, days: int) -> pa.Table:
    """Raw PDS trips: one trip per boat and day, plus a close follow-up trip
    for boats % 5 == 0 (consecutive-trip merging); boats % 23 == 0 run over
    96 h (duration alert) and boats % 29 == 0 over 200 km (distance alert)."""
    boat, d = np.meshgrid(np.arange(n_boats), np.arange(days), indexing="ij")
    boat, d = boat.ravel(), d.ravel()
    extra = boat % 5 == 0
    boat = np.concatenate([boat, boat[extra]])
    d = np.concatenate([d, d[extra]])
    leg = np.concatenate([np.zeros(n_boats * days, np.int64),
                          np.ones(int(extra.sum()), np.int64)])
    r = rng_for(seed, "trips").integers(0, 1_000_000, boat.size)
    start = EPOCH0_S + d * 86400 + 5 * 3600 + leg * 8 * 3600 + r % 3600
    dur = np.where(boat % 23 == 0, 100 * 3600.0, 3 * 3600.0 + r % 7200)
    dist = np.where(boat % 29 == 0, 250000.0, 3000.0 + r % 5000)
    lat = -8.5 - (r % 200) / 1000.0
    lng = 125.5 + (r % 300) / 1000.0
    ts = pa.timestamp("us", tz="UTC")
    imei = [f"86{b:08d}" for b in boat]
    return pa.table({
        "trip": pa.array(boat * 100000 + d * 10 + leg, pa.int64()),
        "started": pa.array(start * 1_000_000, ts),
        "ended": pa.array((start + dur.astype(np.int64)) * 1_000_000, ts),
        "boat": pa.array(boat, pa.int64()),
        "duration_s": pa.array(dur),
        "range_m": pa.array(dist / 4),
        "distance_m": pa.array(dist),
        "imei": pa.array(imei),
        "device_id": pa.array([f"dev{b}" for b in boat]),
        "last_seen": pa.nulls(boat.size, ts),
        "start_lat": pa.array(lat),
        "start_lng": pa.array(lng),
        "end_lat": pa.array(lat - 0.001),
        "end_lng": pa.array(lng + 0.001),
    })


def landing_rows(seed: int, n_boats: int, day_lo: int, day_hi: int) -> list[dict]:
    """Nested landings for days [day_lo, day_hi): one per (boat, day) except
    about a third of them; two species with one 5-cm length class each;
    boats % 13 == 0 carry no tracker and boats % 17 == 0 no municipality
    (the imei -> modal-region fill case). Each day has its own random
    stream, so any day range agrees with any other on shared days."""

    def species(k: int, length: float, n: int) -> dict:
        return {
            "catch_taxon": SPECIES[k % 8],
            "n": n,
            "length_individuals": [{"length": length, "n_individuals": n % 5 + 1}],
        }

    rows = []
    for d in range(day_lo, day_hi):
        r_all = rng_for(seed, f"landings#{d}").integers(0, 1_000_000, n_boats)
        for b in range(n_boats):
            r = int(r_all[b])
            if r % 3 == 0:
                continue
            rows.append({
                "landing_id": b * 100000 + d,
                "landing_date": DAY0 + dt.timedelta(days=d),
                "tracker_imei": f"86{b:08d}" if b % 13 else None,
                "municipality": MUNIS[b % 12] if b % 17 else None,
                "species_group": [
                    species(r, float((r % 8) * 5 + 10), r % 9 + 1),
                    species(r + 3, float(((r // 7) % 8) * 5 + 15),
                            (r + 2) % 9 + 1),
                ],
            })
    return rows


LENGTH_CLASS = pa.struct([("length", pa.float64()),
                          ("n_individuals", pa.int32())])
SPECIES_ENTRY = pa.struct([("catch_taxon", pa.string()), ("n", pa.int32()),
                           ("length_individuals", pa.list_(LENGTH_CLASS))])
LANDINGS_SCHEMA = pa.schema([
    ("landing_id", pa.int64()),
    ("landing_date", pa.date32()),
    ("tracker_imei", pa.string()),
    ("municipality", pa.string()),
    ("species_group", pa.list_(SPECIES_ENTRY)),
])


def landings(seed: int, n_boats: int, days: int) -> pa.Table:
    return pa.Table.from_pylist(landing_rows(seed, n_boats, 0, days),
                                schema=LANDINGS_SCHEMA)


def lw_params(seed: int) -> pa.Table:
    """Length-weight parameter dim: five (a, b) rows per species code."""
    jitter = rng_for(seed, "lw_params").integers(0, 5, len(SPECIES) * 5)
    ids = np.arange(len(SPECIES) * 5)
    return pa.table({
        "catch_taxon": [SPECIES[i % 8] for i in ids],
        "a": 0.01 + (ids % 5) / 500.0 + jitter / 5000.0,
        "b": 2.9 + (ids % 7) / 35.0,
    })


def nutrients(seed: int) -> pa.Table:
    from peskas_timor_data_pipeline_spark.pipeline.public import RDI

    k = rng_for(seed, "nutrients").integers(1, 6, len(SPECIES))
    cols = {"species": SPECIES}
    for i, name in enumerate(RDI):
        cols[name] = k / (200.0 + 40 * i)
    return pa.table(cols)


def write_landings(seed: int, directory: str, n_boats: int, days: int) -> int:
    """``raw_landings`` for days [0, days). Over the base days plus the
    landed slice's days this is the base landings plus every landed
    submission once: what the streamed upsert must produce."""
    return _write(landings(seed, n_boats, days),
                  artifact_path(directory, "raw_landings"))


def write_dag_inputs(seed: int, directory: str, n_boats: int, days: int) -> None:
    """Write the four raw DAG artifacts."""
    _write(trips(seed, n_boats, days), artifact_path(directory, "raw_trips"))
    write_landings(seed, directory, n_boats, days)
    _write(lw_params(seed), artifact_path(directory, "lw_params"))
    _write(nutrients(seed), artifact_path(directory, "nutrients_dim"))


def write_landed_slice(
    seed: int, directory: str, n_boats: int, day_lo: int, n_days: int,
    n_files: int, resend_frac: float = 0.1,
) -> tuple[int, int]:
    """Kobo submissions for ``n_days`` new days as JSON-lines files, the
    form the REST ingestors land them in. ``resend_frac`` of them are sent
    again, identical but for a later submission time, in a LATER file, so
    dedup has to drop them across micro-batches. Returns (lines written,
    bytes written)."""
    rows = landing_rows(seed, n_boats, day_lo, day_lo + n_days)
    rng = rng_for(seed, "landed_slice")
    order = rng.permutation(len(rows))
    files: list[list[dict]] = [[] for _ in range(n_files)]
    for pos, i in enumerate(order):
        row = rows[i]
        k = pos * n_files // len(rows)
        sub = dt.datetime.combine(row["landing_date"], dt.time(18)) + \
            dt.timedelta(minutes=int(i % 600))
        rec = {"_id": str(row["landing_id"]),
               "_submission_time": sub.isoformat(), **row,
               "landing_date": row["landing_date"].isoformat()}
        files[k].append(rec)
        if rng.random() < resend_frac and k + 1 < n_files:
            again = dict(rec, _submission_time=(
                sub + dt.timedelta(hours=3)).isoformat())
            files[int(rng.integers(k + 1, n_files))].append(again)
    os.makedirs(directory, exist_ok=True)
    n_lines = n_bytes = 0
    for k, recs in enumerate(files):
        body = "".join(json.dumps(r, sort_keys=True) + "\n" for r in recs)
        with open(os.path.join(directory, f"submissions-{k:03d}.json"), "w") as f:
            f.write(body)
        n_lines += len(recs)
        n_bytes += len(body.encode())
    return n_lines, n_bytes


def landed_schema():
    """Spark schema of the landed JSON submissions."""
    from pyspark.sql import types as T

    length = T.StructType([T.StructField("length", T.DoubleType()),
                           T.StructField("n_individuals", T.IntegerType())])
    species = T.StructType([
        T.StructField("catch_taxon", T.StringType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("length_individuals", T.ArrayType(length)),
    ])
    return T.StructType([
        T.StructField("_id", T.StringType()),
        T.StructField("_submission_time", T.TimestampType()),
        T.StructField("landing_id", T.LongType()),
        T.StructField("landing_date", T.DateType()),
        T.StructField("tracker_imei", T.StringType()),
        T.StructField("municipality", T.StringType()),
        T.StructField("species_group", T.ArrayType(species)),
    ])


# --- corpus --------------------------------------------------------------

_LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = ("batch part spark line column order small sort fast value scan "
          "stream hash table key group join filter slow query agg vector "
          "the of and a to in is for on with as by").split()


def corpus_docs(seed: int, n_base: int, mult: int = 4) -> pa.Table:
    """``n_base`` word-soup documents of 2-6 lines, each blown up ``mult``
    times: variants 0 and 1 are exact copies, variant 2 appends one
    character (a near duplicate for MinHash/LSH), the rest get a distinct
    md5 tail (unique mass). Columns follow the registry's ``documents``
    table (doc_id, text, lang, source, n_chars)."""
    rng = rng_for(seed, "corpus")
    ids, texts = [], []
    for doc in range(n_base):
        lines = []
        for _ in range(int(rng.integers(2, 7))):
            words = rng.choice(_VOCAB, int(rng.integers(6, 20)))
            lines.append(" ".join(words).capitalize() + ".")
        text = "\n".join(lines)
        for v in range(mult):
            if v <= 1:
                t = text
            elif v == 2:
                t = text + "!"
            else:
                tail = hashlib.md5(f"{seed}#{doc}#{v}".encode()).hexdigest()
                t = f"{text} {tail}"
            ids.append(doc * 128 + v)
            texts.append(t)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [_LANGS[i % len(_LANGS)] for i in ids],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_corpus(seed: int, directory: str, n_base: int) -> int:
    """Source documents as ``<directory>/documents.parquet``, the file both
    ``ingest_corpus`` and the registry's document queries read; returns the
    document count."""
    os.makedirs(directory, exist_ok=True)
    table = corpus_docs(seed, n_base)
    pq.write_table(table, os.path.join(directory, "documents.parquet"))
    return table.num_rows
