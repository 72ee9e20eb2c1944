"""The benchmark's workloads: inputs, one timed pass, and the output checks.

Each workload writes its inputs with :mod:`gen` (``generate``), warms up
untimed (``warm_up``), then repeats the timed ``run_pass``; ``check`` runs
untimed after the last pass. ``warm_up`` and ``check`` return a list of
problems, empty when the outputs are correct. ``outputs`` gives the stage
row counts of the last pass, which must equal ``expected``, set by the
warm-up.

An *operation* is one unit of work the workload submits and waits for: a
pipeline stage run, a streaming micro-batch, a registry query. Their
latencies feed ``query_p50_s``/``query_p90_s``; stage latencies come from
the runner's own per-stage log records, so the untraced run wraps nothing.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import logging
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import pyarrow.parquet as pq

import gen

DAG_STAGES = ("validated_trips", "weighted_landings", "merged_trips",
              "estimated", "public_summary", "public_nutrients")
CORPUS_STAGES = ("normalized", "quality_gated", "exact_deduped",
                 "near_deduped", "signature_store", "band_store", "masked",
                 "packed")
RAW_LANDING_COLS = ("landing_id", "landing_date", "tracker_imei",
                    "municipality", "species_group")

# Corpus-audit registry queries (exact-duplicate groups, quality score), run
# over the same documents the corpus DAG ingests: few, because each adds a
# cold compile to every run's warm-up.
AUDIT_QUERIES = ("d1_exact_dedup", "t2_quality_score")


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str          # this run's private directory
    corrupt: bool = False


# --- output canonicalisation (tools/selfcheck.py's rules) ------------------


def canon(v, float_digits: int | None = None) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if float_digits is not None:
            return format(v, f".{float_digits}g")
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x, float_digits) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x, float_digits)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, decimal.Decimal):
        return canon(float(v), float_digits)
    return str(v)


def value_hash(cols: list[str], rows: list[tuple],
               float_digits: int | None = None) -> str:
    """Order-insensitive hash: columns sorted by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i], float_digits) for i in order)
                   for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def parquet_rows(path: str) -> int:
    """Row count of a parquet artifact from its footers (no Spark job)."""
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return n


def artifact_hash(path: str, float_digits: int) -> str:
    table = pq.read_table(path)
    rows = [tuple(r.values()) for r in table.to_pylist()]
    return value_hash(table.column_names, rows, float_digits)


def drop_first_row(path: str) -> None:
    """Corrupt an artifact on purpose: rewrite its first non-empty parquet
    file without its first row."""
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                full = os.path.join(d, f)
                table = pq.read_table(full)
                if table.num_rows:
                    pq.write_table(table.slice(1), full)
                    return


def latest(art: str, prefix: str) -> str:
    from peskas_timor_data_pipeline_spark.sources.io import resolve_latest

    path = resolve_latest(art, prefix, "parquet")
    if path is None:
        raise FileNotFoundError(f"no {prefix} artifact in {art}")
    return path


class StageClock(logging.Handler):
    """Per-stage latency from the runner's log records ("stage X: running"
    then "stage X -> path"): what an operator tailing the logs sees."""

    def __init__(self):
        super().__init__(logging.INFO)
        self.started: dict[str, float] = {}
        self.done: list[tuple[str, float]] = []

    def emit(self, record: logging.LogRecord) -> None:
        msg = record.getMessage()
        if not msg.startswith("stage "):
            return
        name = msg[6:].split(":")[0].split(" ")[0]
        if ": running" in msg:
            self.started[name] = record.created
        elif " -> " in msg and name in self.started:
            self.done.append((name, record.created - self.started.pop(name)))

    def take(self) -> list[tuple[str, float]]:
        out, self.done = self.done, []
        return out

    @classmethod
    def install(cls) -> "StageClock":
        clock = cls()
        logger = logging.getLogger("peskas_timor_data_pipeline_spark.plans.runner")
        logger.setLevel(logging.INFO)
        logger.propagate = False
        logger.addHandler(clock)
        return clock


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --- domain DAG ------------------------------------------------------------


def build_dag(spark, art: str, spine_end: str):
    """The domain DAG: trips sessionize + validate, landings unnest +
    length-weight, the 1:1-per-day merge, monthly estimation with fleet
    scaling, and the public summaries and nutrients."""
    from pyspark.sql import functions as F

    from peskas_timor_data_pipeline_spark.operators.weights import estimate_weights
    from peskas_timor_data_pipeline_spark.operators.windows import month_spine
    from peskas_timor_data_pipeline_spark.pipeline.estimate_pipeline import (
        complete_and_impute,
        fill_missing_regions,
        monthly_indicators,
        national_rollup,
        scale_to_fleet,
    )
    from peskas_timor_data_pipeline_spark.pipeline.landings import unnest_catches
    from peskas_timor_data_pipeline_spark.pipeline.public import (
        anonymize_trips,
        nutrient_supply,
        periodic_summary,
    )
    from peskas_timor_data_pipeline_spark.pipeline.trips import (
        merge_consecutive_trips,
        merge_trips,
        validate_trips,
    )
    from peskas_timor_data_pipeline_spark.plans.runner import Pipeline

    pipe = Pipeline(spark, art)

    @pipe.stage("validated_trips", inputs=["raw_trips"])
    def validated_trips(spark, raw_trips):
        return validate_trips(merge_consecutive_trips(raw_trips))

    @pipe.stage("weighted_landings", inputs=["raw_landings", "lw_params"])
    def weighted_landings(spark, raw_landings, lw_params):
        catches = unnest_catches(
            raw_landings,
            ["landing_id", "landing_date", "tracker_imei", "municipality"],
        )
        w = estimate_weights(
            catches, lw_params, "catch_taxon", "length", "n_individuals",
            ["landing_id", "catch_taxon"],
        )
        per_landing = w.groupBy("landing_id").agg(
            (F.sum("weight") / 1000.0).alias("landing_catch"),
            (F.sum("weight") / 1000.0 * 4.5).alias("catch_price"),
        )
        heads = raw_landings.select(
            "landing_id", "landing_date", "tracker_imei", "municipality"
        )
        return heads.join(per_landing, "landing_id", "left")

    @pipe.stage("merged_trips", inputs=["weighted_landings", "validated_trips"])
    def merged_trips(spark, weighted_landings, validated_trips):
        return merge_trips(weighted_landings, validated_trips)

    @pipe.stage("estimated", inputs=["merged_trips"])
    def estimated(spark, merged_trips):
        trips = fill_missing_regions(
            merged_trips, region_col="municipality", imei_col="tracker_imei"
        ).select(
            F.col("municipality").alias("region"),
            "landing_date", "landing_id",
            F.col("tracker_imei").alias("boat_id"),
            "landing_catch", "catch_price",
        ).filter(F.col("region").isNotNull())
        monthly = monthly_indicators(trips)
        spine = month_spine(spark, "2023-01-01", spine_end)
        imputed = complete_and_impute(monthly, spine)
        boats_dim = trips.groupBy("region").agg(
            F.countDistinct("boat_id").alias("n_boats")
        )
        return national_rollup(scale_to_fleet(imputed, boats_dim))

    @pipe.stage("public_summary", inputs=["merged_trips"])
    def public_summary(spark, merged_trips):
        anon = anonymize_trips(
            merged_trips.withColumn(
                "tracker_trip_id", F.col("tracker_trip_id").cast("string")
            )
        )
        return periodic_summary(
            anon.filter(F.col("landing_catch").isNotNull()),
            "landing_date", "month",
            [F.sum("landing_catch").alias("catch_kg"),
             F.count(F.lit(1)).alias("n_landings")],
        )

    @pipe.stage("public_nutrients",
                inputs=["raw_landings", "lw_params", "nutrients_dim"])
    def public_nutrients(spark, raw_landings, lw_params, nutrients_dim):
        catches = unnest_catches(raw_landings, ["landing_id", "landing_date"])
        w = estimate_weights(
            catches, lw_params, "catch_taxon", "length", "n_individuals",
            ["landing_id", "landing_date", "catch_taxon"],
        )
        per = w.groupBy(
            F.trunc("landing_date", "month").alias("period"),
            F.col("catch_taxon").alias("species"),
        ).agg((F.sum("weight") / 1000.0).alias("catch_kg"))
        return nutrient_supply(per, nutrients_dim)

    return pipe


class DagRefresh:
    """Steady-state cron path: after a full build, two days of new Kobo
    submissions (10% re-sent) land as JSON files; they are streamed in with
    dedup and upserted onto ``raw_landings``, then the DAG runs
    incrementally. Every pass starts from the same post-build snapshot."""

    name = "dag_refresh"

    def __init__(self, n_boats: int, days: int, new_days: int = 2,
                 n_files: int = 2):
        self.n_boats, self.days, self.new_days = n_boats, days, new_days
        self.n_files = n_files
        last = gen.DAY0 + dt.timedelta(days=days + new_days - 1)
        self.spine_end = last.replace(day=1).isoformat()

    def generate(self, seed: int, inputs: str) -> None:
        self.seed, self.inputs = seed, inputs
        gen.write_dag_inputs(seed, inputs, self.n_boats, self.days)
        self.landing = os.path.join(inputs, "landing")
        self.rows_in, self.landed_bytes = gen.write_landed_slice(
            seed, self.landing, self.n_boats, self.days, self.new_days,
            self.n_files)

    def warm_up(self, ctx: Ctx) -> list[str]:
        """Full build over the base inputs (snapshotted for every pass); the
        reference build the check compares against (a from-scratch build
        over the post-upsert inputs, which are the base landings plus each
        new submission once); and one ingest of the slice into a throwaway
        copy. Every stage thus runs twice and the streaming path once
        before the timed passes."""
        self.clock = StageClock.install()
        self.art = os.path.join(ctx.work, "art")
        self.snap = os.path.join(ctx.work, "snapshot")
        self.ref = os.path.join(ctx.work, "reference")
        # built where every pass runs: the runner's input fingerprints
        # record artifact paths, and a pass must see them unchanged
        shutil.copytree(self.inputs, self.art,
                        ignore=shutil.ignore_patterns("landing"))
        build_dag(ctx.spark, self.art, self.spine_end).run()
        os.rename(self.art, self.snap)
        shutil.copytree(self.inputs, self.ref,
                        ignore=shutil.ignore_patterns("landing", "raw_landings*"))
        gen.write_landings(self.seed, self.ref, self.n_boats,
                           self.days + self.new_days)
        build_dag(ctx.spark, self.ref, self.spine_end).run()
        self.clock.take()
        self.expected = self.outputs(self.ref)
        self.n_pass = 0
        shutil.copytree(self.snap, self.art)
        self._ingest(ctx)
        shutil.rmtree(self.art)
        return []

    def _ingest(self, ctx: Ctx):
        from peskas_timor_data_pipeline_spark.streaming.ingest import (
            dedup_submissions,
            stream_landed_files,
            upsert_sink,
        )

        self.n_pass += 1
        ckpt = fresh_dir(os.path.join(ctx.work, f"ckpt-{self.n_pass}"))
        tr = ctx.tracer
        with tr.span("streaming.ingest"):
            stream = stream_landed_files(ctx.spark, self.landing,
                                         gen.landed_schema(),
                                         max_files_per_trigger=1)
            fresh = dedup_submissions(stream, "_id", "_submission_time")
            query = upsert_sink(fresh.select(*RAW_LANDING_COLS), self.art,
                                "raw_landings", ["landing_id"], ckpt).start()
            if tr.active:
                tr.alias_group(str(query.runId))
            query.awaitTermination()
        shutil.rmtree(ckpt)
        return [p for p in query.recentProgress if p["numInputRows"] > 0]

    def run_pass(self, ctx: Ctx) -> list[tuple[str, float]]:
        shutil.rmtree(self.art, ignore_errors=True)
        shutil.copytree(self.snap, self.art)
        t0 = time.perf_counter()
        self.progress = self._ingest(ctx)
        build_dag(ctx.spark, self.art, self.spine_end).run(incremental=True)
        self.wall = time.perf_counter() - t0
        ops = [(f"batch-{p['batchId']}",
                p["durationMs"]["triggerExecution"] / 1000.0)
               for p in self.progress]
        return ops + self.clock.take()

    def outputs(self, art: str | None = None) -> dict[str, int]:
        names = ("raw_landings",) + DAG_STAGES
        return {n: parquet_rows(latest(art or self.art, n)) for n in names}

    def layer_metrics(self, ctx: Ctx) -> dict[str, float]:
        rows_in = sum(p["numInputRows"] for p in self.progress)
        dropped = 0
        state_rows = 0
        for p in self.progress:
            for op in p.get("stateOperators", []):
                dropped += op.get("customMetrics", {}).get(
                    "numDroppedDuplicateRows", 0)
                state_rows = op.get("numRowsTotal", state_rows)
        out = {
            "streaming.batches": len(self.progress),
            "streaming.rows_in": rows_in,
            "streaming.dup_dropped_ratio": dropped / rows_in if rows_in else 0.0,
            "streaming.batch_s": statistics.median(
                p["durationMs"]["triggerExecution"] / 1000.0
                for p in self.progress) if self.progress else 0.0,
            "streaming.state_rows": state_rows,
        }
        for n, rows in self.outputs().items():
            if n in DAG_STAGES:
                out[f"pipeline.{n}.rows_out"] = rows
        return out

    def check(self, ctx: Ctx) -> list[str]:
        """The last pass's upserted landings and all six refreshed outputs
        must hash-equal the reference build's (order-insensitive; doubles to
        10 significant digits, since the two builds sum in different
        orders)."""
        if ctx.corrupt:
            drop_first_row(latest(self.art, "weighted_landings"))
        problems = stable_outputs(self)
        for stage in ("raw_landings",) + DAG_STAGES:
            got = artifact_hash(latest(self.art, stage), 10)
            if got != artifact_hash(latest(self.ref, stage), 10):
                problems.append(f"{stage}: refreshed output differs from a "
                                "from-scratch build over the same inputs")
        return problems


# --- LLM corpus DAG ------------------------------------------------------


class CorpusBuild:
    """The training-corpus DAG (normalize, quality gate, exact dedup,
    MinHash/LSH near-dedup, signature and band stores, span masking,
    packing) with default gates over a fresh artifact directory, then the
    corpus-audit registry queries over the same documents, one client in
    a closed loop, each built and executed to a ``noop`` sink."""

    name = "corpus_build"

    def __init__(self, n_base: int):
        self.n_base = n_base

    def generate(self, seed: int, inputs: str) -> None:
        self.docs_dir = inputs
        self.docs = os.path.join(inputs, "documents.parquet")
        self.rows_in = gen.write_corpus(seed, inputs, self.n_base)
        self.landed_bytes = os.path.getsize(self.docs)

    def warm_up(self, ctx: Ctx) -> list[str]:
        """One corpus build with every audit query collected and compared
        with its DuckDB oracle twin over the same file."""
        import duckdb

        from peskas_timor_data_pipeline_spark.harness import registry

        self.clock = StageClock.install()
        self.art = os.path.join(ctx.work, "corpus")
        reg = registry()
        self.queries = [(n, reg[n][0], reg[n][1]) for n in AUDIT_QUERIES]
        self._build(ctx)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.docs}'")
        problems = []
        for i, (name, fn, sql) in enumerate(self.queries):
            df = fn(ctx.spark, self.docs_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            if ctx.corrupt and i == 0:
                rows = rows[1:]
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            if len(rows) != len(orows):
                problems.append(f"{name}: {len(rows)} rows, oracle {len(orows)}")
            elif sorted(cols) != sorted(ocols):
                problems.append(f"{name}: columns differ from the oracle's")
            elif value_hash(cols, rows) != value_hash(ocols, orows):
                problems.append(f"{name}: values differ from the oracle's")
        con.close()
        self.clock.take()
        self.expected = self.outputs()
        return problems

    def _build(self, ctx: Ctx) -> None:
        from peskas_timor_data_pipeline_spark.pipeline.corpus_pipeline import (
            build_corpus_pipeline,
            ingest_corpus,
        )

        fresh_dir(self.art)
        with ctx.tracer.span("llm.ingest"):
            ingest_corpus(ctx.spark, self.art, self.docs)
        build_corpus_pipeline(ctx.spark, self.art).run()

    def run_pass(self, ctx: Ctx) -> list[tuple[str, float]]:
        tr = ctx.tracer
        t0 = time.perf_counter()
        self._build(ctx)
        ops = self.clock.take()
        for name, fn, _sql in self.queries:
            t1 = time.perf_counter()
            with tr.span("harness.build"):
                df = fn(ctx.spark, self.docs_dir)
            with tr.span("harness.exec"):
                df.write.mode("overwrite").format("noop").save()
            ops.append((name, time.perf_counter() - t1))
        self.wall = time.perf_counter() - t0
        return ops

    def outputs(self) -> dict[str, int]:
        return {n: parquet_rows(latest(self.art, n))
                for n in ("corpus_raw",) + CORPUS_STAGES}

    def layer_metrics(self, ctx: Ctx) -> dict[str, float]:
        rows = self.outputs()
        return {"llm.near_dedup_ratio":
                rows["near_deduped"] / max(rows["exact_deduped"], 1)}

    def check(self, ctx: Ctx) -> list[str]:
        """Stage row counts must match the warm-up pass's, and planted
        duplicates must go: every exact copy at the exact stage and at
        least one near copy at the near stage."""
        if ctx.corrupt:
            drop_first_row(latest(self.art, "packed"))
        rows = self.outputs()
        problems = stable_outputs(self)
        if rows["corpus_raw"] != self.rows_in:
            problems.append(f"corpus_raw has {rows['corpus_raw']} docs, "
                            f"want {self.rows_in}")
        if rows["exact_deduped"] > rows["corpus_raw"] - self.n_base:
            problems.append("exact dedup kept a planted exact copy")
        if rows["near_deduped"] >= rows["exact_deduped"]:
            problems.append("near dedup removed no planted near copy")
        return problems


def stable_outputs(wl) -> list[str]:
    """Stage row counts of the last pass against those the warm-up
    established (``wl.expected``)."""
    got = wl.outputs()
    return [f"{n}: {got.get(n)} rows, expected {v}"
            for n, v in wl.expected.items() if got.get(n) != v]
