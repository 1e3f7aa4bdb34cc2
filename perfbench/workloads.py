"""The benchmark's workloads: one client, closed loop.

Each workload makes its inputs from the seed, sets up, then runs timed
passes through the package's public entry points. There is no discarded
warm-up: the first pass runs in a fresh JVM, as a CLI invocation does. A
pass is a fixed sequence of timed steps; each step starts only when the
previous one has returned and the JVM has settled.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq

import gen
from checks import Checks, day_sums_error, exact_topk, frames_error, planted_recall, recall_at_k

# billing_lake: a backfill of BACKFILL_DAYS, then LANDED_DAYS daily runs;
# one day is 1/(BACKFILL_DAYS + LANDED_DAYS) of raw_billing (~3.4%).
BACKFILL_DAYS = 28
LANDED_DAYS = 1
ROWS_PER_DAY = 500
# corpus_curate: the sf0.1 sizes. The PQ oracle's DuckDB run costs ~3.7 s
# per 1,000 vectors, and the time budget of a benchmark round has no room
# for more.
N_DOCS = 5_000
N_VECS = 2_000
TOPK = 5
QUERIES = ("minhash_neardup_pairs_portable", "embedding_pq_topk")


def _span(tracer, name: str, module: str):
    return tracer.span(name, module) if tracer is not None else nullcontext()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class BillingLake:
    """The ``run`` and ``stream`` CLI paths over a seeded Hive-partitioned
    CSV lake: backfill into a fresh warehouse, land days one at a time
    with a ``run`` after each, one ``run`` with nothing new, then an
    AvailableNow drain of the whole lake into a second warehouse."""

    name = "billing_lake"

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.appended: list[tuple[str, int, int]] = []  # (step, got, want)

    def make_inputs(self) -> dict:
        days = BACKFILL_DAYS + LANDED_DAYS
        self.model = gen.lake_rows(self.seed, days, ROWS_PER_DAY)
        self.bodies = [gen.render_day(self.model, i) for i in range(days)]
        self.expected = self.model.expected(days)
        day_rows = self.expected["appended"][-1]
        return {
            "lake_days": days,
            "lake_rows": self.model.rows_generated,
            "lake_bytes": sum(len(b) for b in self.bodies),
            "raw_billing_rows": self.expected["rows"],
            "one_day_share_of_raw_billing": day_rows / self.expected["rows"],
        }

    def setup(self, spark) -> None:
        pass

    def run_pass(self, spark, step, tracer=None) -> dict:
        from billing_data_pipeline_spark.pipeline import BillingPipeline
        from billing_data_pipeline_spark.streaming.ingest_stream import stream_ingest_csv

        model, bodies, n_backfill = self.model, self.bodies, BACKFILL_DAYS
        root = _fresh(os.path.join(self.work, "pass"))
        lake = os.path.join(root, "lake")
        for i in range(n_backfill):
            gen.write_day(lake, model.days[i], bodies[i])
        pipe = BillingPipeline(spark, os.path.join(root, "warehouse"))
        want = model.expected(len(bodies))["appended"]
        sample: dict = {"daily_s": []}
        with step("backfill") as t:
            m = pipe.run(lake, from_date=model.days[0], to_date=model.days[n_backfill - 1])
        sample["backfill_s"] = t.wall
        self.appended.append(("backfill", m["ingest"]["rows_appended"], sum(want[:n_backfill])))
        for i in range(n_backfill, len(bodies)):
            gen.write_day(lake, model.days[i], bodies[i])
            with step("daily") as t:
                m = pipe.run(lake)
            sample["daily_s"].append(t.wall)
            self.appended.append(("daily", m["ingest"]["rows_appended"], want[i]))
        with step("noop") as t:
            m = pipe.run(lake)
        sample["noop_s"] = t.wall
        self.appended.append(("noop", m["ingest"]["rows_appended"], 0))
        with step("stream") as t:
            with _span(tracer, "streaming.drain", "streaming"):
                query = stream_ingest_csv(
                    spark,
                    source_glob=f"{lake}/year=*/month=*/day=*",
                    table_path=os.path.join(root, "stream_warehouse", "raw_billing"),
                    checkpoint_dir=os.path.join(root, "checkpoint"),
                    available_now=True,
                )
                query.awaitTermination()
        sample["stream_s"] = t.wall
        sample["query"] = query
        backfill_rows = sum(len(f) for f in model.files[:n_backfill])
        sample["metrics"] = {
            "backfill_rows_per_s": backfill_rows / sample["backfill_s"],
            "daily_run_s": float(np.median(sample["daily_s"])),
            "noop_run_s": sample["noop_s"],
            "stream_rows_per_s": model.rows_generated / sample["stream_s"],
        }
        return sample

    def sizes(self) -> dict:
        """Sizes measured after a pass, for the run record and the trace."""
        from billing_data_pipeline_spark.session import dir_input_bytes

        path = os.path.join(self.work, "pass", "warehouse", "raw_billing")
        return {"sources.raw_billing_mb": dir_input_bytes(path) / 2**20}

    def check(self, spark, checks: Checks, layer: dict) -> None:
        from pyspark.sql import functions as F

        for name, got, want in self.appended:
            checks.equal(f"rows_appended[{name}]", got, want)
        want = self.expected
        for label, path in (
            ("raw_billing", os.path.join(self.work, "pass", "warehouse", "raw_billing")),
            ("stream raw_billing", os.path.join(self.work, "pass", "stream_warehouse", "raw_billing")),
        ):
            df = spark.read.parquet(path)
            checks.equal(f"{label} rows", df.count(), want["rows"])
            day = F.coalesce(F.date_format("timestamp", "yyyy-MM-dd"), F.lit(""))
            got = {
                r[0]: r[1]
                for r in df.groupBy(day.alias("d")).agg(F.sum("credit_usage")).collect()
            }
            checks.record(f"{label} per-day sums", day_sums_error(got, want["day_sums"]))


class CorpusCurate:
    """The ``curate`` CLI path plus two catalog queries through
    ``registry.load_catalog()``: MinHash near-duplicate pairs and PQ
    top-k, each built and then collected to the driver (``toPandas``); the
    checks reuse the collected results of the last pass."""

    name = "corpus_curate"

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.sf_dir = os.path.join(work, "tables")
        self.curated: list[tuple[int, int]] = []  # (chunks_written, docs_in)
        self.results: dict = {}

    def make_inputs(self) -> dict:
        self.model = gen.write_corpus(_fresh(self.sf_dir), self.seed, N_DOCS, N_VECS)
        return {
            "corpus_docs": self.model.n_docs,
            "planted_duplicate_share": self.model.planted_share,
            "embeddings_n": self.model.n_vecs,
            "embeddings_d": gen.EMBED_DIM,
        }

    def setup(self, spark) -> None:
        from billing_data_pipeline_spark.registry import load_catalog

        self.catalog = load_catalog()

    def run_pass(self, spark, step, tracer=None) -> dict:
        from billing_data_pipeline_spark.curate import curate_corpus

        out_dir = os.path.join(self.work, "curated")
        shutil.rmtree(out_dir, ignore_errors=True)
        sample: dict = {}
        with step("curate") as t:
            with _span(tracer, "curate.curate_corpus", "curate"):
                m = curate_corpus(
                    spark, spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet")), out_dir
                )
        sample["curate_s"] = t.wall
        sample["curate"] = m
        for q, layer, name in ((QUERIES[0], "dedup", "neardup"), (QUERIES[1], "similarity", "topk")):
            with step(name) as t, _span(tracer, f"plans.{q}", "plans"):
                with _span(tracer, f"{layer}.build", layer):
                    df = self.catalog[q].fn(spark, self.sf_dir)
                with _span(tracer, f"{layer}.exec", layer):
                    self.results[q] = df.toPandas()
            sample[f"{name}_s"] = t.wall
        self.curated.append((m["chunks_written"], m["docs_in"]))
        sample["metrics"] = {
            "curate_docs_per_s": self.model.n_docs / sample["curate_s"],
            "neardup_s": sample["neardup_s"],
            "topk_s": sample["topk_s"],
        }
        return sample

    def sizes(self) -> dict:
        return {}

    def distinct_chunks_sql(self) -> str:
        """DuckDB count of the distinct chunks curate_corpus must keep:
        PII scrub, English, non-empty, quality > 0.05, 32/24 chunks."""
        from billing_data_pipeline_spark.operators.curation import scrub_pii_sql
        from billing_data_pipeline_spark.operators.text import (
            chunk_tokens_oracle_sql,
            quality_score_sql,
        )

        return f"""
WITH scrubbed AS ({scrub_pii_sql("documents", "doc_id", "text")}),
kept AS (
    SELECT s.doc_id, s.clean_text AS text
    FROM scrubbed s JOIN documents d USING (doc_id)
    WHERE d.lang = 'en' AND length(s.clean_text) > 0
      AND {quality_score_sql("s.clean_text")} > 0.05
),
chunks AS ({chunk_tokens_oracle_sql("kept", "doc_id", "text", 32, 24)})
SELECT count(DISTINCT md5(chunk_text)) AS n FROM chunks
"""

    def check(self, spark, checks: Checks, layer: dict) -> None:
        from tests.oracle import duckdb_connect

        con = duckdb_connect(self.sf_dir)
        try:
            want_chunks = con.execute(self.distinct_chunks_sql()).fetchone()[0]
            expected = {q: con.execute(self.catalog[q].oracle).fetchdf() for q in QUERIES}
        finally:
            con.close()
        for chunks, docs_in in self.curated:
            checks.equal("curate distinct chunks", chunks, want_chunks)
            checks.equal("curate docs_in", docs_in, self.model.n_docs)
        for q in QUERIES:
            checks.record(f"{q} vs oracle", frames_error(self.results[q], expected[q]))

        pairs = self.results[QUERIES[0]]
        exact_recall = planted_recall(pairs, self.model.exact_pairs)
        checks.equal("planted exact duplicates found", exact_recall, 1.0)
        layer["dedup.pairs"] = len(pairs)
        layer["dedup.planted_recall"] = planted_recall(
            pairs, self.model.exact_pairs + self.model.near_pairs
        )
        emb = pq.read_table(os.path.join(self.sf_dir, "embeddings.parquet"))
        vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        query_ids = np.arange(0, len(vecs), 40)  # the catalog's query subset
        layer["similarity.recall_at_k"] = recall_at_k(
            self.results[QUERIES[1]], exact_topk(vecs, query_ids, TOPK), TOPK
        )


WORKLOADS = {w.name: w for w in (BillingLake, CorpusCurate)}

