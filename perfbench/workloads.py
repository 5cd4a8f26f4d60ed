"""The benchmark's workloads: what one pass runs, and how its outputs are
checked.

A pass is a fixed sequence of public calls into the program, made by a
single caller; the next call starts when the previous one returns. Each
call is one *operation*, as is each streaming epoch. ``Ops`` counts them,
and counts as failed every operation that raised or whose output did not
match its check.
"""

from __future__ import annotations

import contextlib
import gc
import math
import os
import re
import shutil
import sqlite3
from datetime import date, datetime

import duckdb
import pyarrow.parquet as pq

from sales_etl_pipeline_spark import plans
from sales_etl_pipeline_spark.operators.pipeline import AnalyticsPipeline
from sales_etl_pipeline_spark.plans import bpe, cdc, llmdata, pca, unigram, wordpiece
from sales_etl_pipeline_spark.sources.catalog import TableCatalog
from sales_etl_pipeline_spark.sources.readers import ALL_TABLES, normalize_event_ts
from sales_etl_pipeline_spark.streaming import jobs

# -- result comparison -------------------------------------------------


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return v


def multiset(columns, rows) -> list:
    """Rows as a sorted list of canonical tuples, columns in name order:
    exact values, order-insensitive."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


def oracle_rows(con, sql: str) -> list:
    cur = con.execute(sql)
    return multiset([d[0] for d in cur.description], cur.fetchall())


def spark_rows(df) -> list:
    return multiset(df.columns, [tuple(r) for r in df.collect()])


def duckdb_inputs(star_dir: str):
    con = duckdb.connect()
    for t in ALL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')")
    return con


# -- operations ----------------------------------------------------------


class Ops:
    """Operation counter; with a tracer, also spans the benchmark's own
    calls (registry plans and result materialisation)."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def call(self, fn, *args, span=None, **kwargs):
        self.attempted += 1
        try:
            if self.tracer is not None and span is not None:
                with self.tracer.span(*span):
                    return fn(*args, **kwargs)
            return fn(*args, **kwargs)
        except Exception as exc:
            self.fail(f"{getattr(fn, '__qualname__', fn)}: {exc!r}"[:500])
            raise

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def check(self, ok: bool, msg: str) -> None:
        """A mismatch found after the operation returned."""
        if not ok:
            self.fail(msg)


def reset_state(spark) -> None:
    """The same starting state for every pass: no memoized training, no
    pinned plan caches, no cached relations, and collected heaps in the
    driver's Python and the JVM, so that no pass inherits another's
    garbage."""
    bpe.clear_bpe_cache()
    unigram.clear_unigram_cache()
    wordpiece.clear_wordpiece_cache()
    pca.clear_pca_cache()
    llmdata.clear_centroid_cache()
    llmdata.release_plan_caches()
    llmdata.release_incremental_caches()
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


# -- sales_etl -----------------------------------------------------------

#: AnalyticsPipeline output table -> its registry oracle
ETL_ORACLES = {
    "transactions": "clean_transactions",
    "customer_summary": "customer_summary",
    "product_summary": "product_summary",
    "daily_sales": "daily_sales_moving_avg",
    "country_summary": "country_summary",
}


class SalesEtl:
    """The paper's pipeline on the sales star: extract, validate,
    transform, load to the default csv/parquet/sqlite sinks, summary."""

    name = "sales_etl"

    def __init__(self, spark, inputs: dict, work: str):
        self.spark = spark
        self.star = inputs["star"]
        self.out = os.path.join(work, "etl_out")
        oracles = plans.all_oracles()
        con = duckdb_inputs(self.star)
        self.want = {t: oracle_rows(con, oracles[q]) for t, q in ETL_ORACLES.items()}
        con.close()

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run_pass(self, ops: Ops) -> None:
        p = AnalyticsPipeline(self.spark, self.star, self.out)
        ops.call(p.extract)
        ops.call(p.validate)
        ops.call(p.transform)
        ops.call(p.load)
        counts = ops.call(p.get_summary)
        for table, rows in self.want.items():
            ops.check(counts.get(table) == len(rows),
                      f"get_summary[{table}]={counts.get(table)} oracle={len(rows)}")

    def verify(self, ops: Ops) -> None:
        """The last pass's sinks against the oracles: parquet exactly,
        csv and sqlite by row count."""
        con = duckdb.connect()
        for table, want in self.want.items():
            base = os.path.join(self.out, table)
            got = oracle_rows(con, f"SELECT * FROM read_parquet('{base}.parquet/*.parquet')")
            ops.check(got == want, f"parquet sink {table} differs from oracle")
            n_csv = con.execute(
                f"SELECT count(*) FROM read_csv('{base}.csv/*.csv', header=true, all_varchar=true)").fetchone()[0]
            ops.check(n_csv == len(want), f"csv sink {table}: {n_csv} rows, oracle {len(want)}")
        con.close()
        with contextlib.closing(sqlite3.connect(os.path.join(self.out, "sales_data.db"))) as db:
            for table, want in self.want.items():
                n = db.execute(f'SELECT count(*) FROM "{table}"').fetchone()[0]
                ops.check(n == len(want), f"sqlite sink {table}: {n} rows, oracle {len(want)}")


# -- curation_stream -----------------------------------------------------

#: registry plans of the curation pass; each has a DuckDB oracle
CURATION_PLANS = ("semantic_dedup_bucketed",)
BPE_MERGES = 80
BPE_BATCH = 64


def replay_bpe(word_freqs: dict, n_merges: int, batch_size: int):
    """Pure-Python replay of batched BPE training with subset admission:
    per round, admit count-ordered pairs that share no token with (or
    create) an earlier admitted pair, then apply each admitted merge as
    one left-to-right non-overlapping pass over every word."""
    seqs = {w: list(w) for w in word_freqs}
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        counts: dict = {}
        for w, f in word_freqs.items():
            t = seqs[w]
            for i in range(len(t) - 1):
                counts[(t[i], t[i + 1])] = counts.get((t[i], t[i + 1]), 0) + f
        if not counts:
            raise ValueError("corpus exhausted its mergeable pairs")
        want = min(batch_size, n_merges - len(merges))
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:want]
        admitted, used = [], set()
        for (lhs, rhs), _ in top:
            if admitted and (lhs in used or rhs in used or lhs + rhs in used):
                continue
            admitted.append((lhs, rhs))
            used.update((lhs, rhs, lhs + rhs))
        for lhs, rhs in admitted:
            for w, t in seqs.items():
                if lhs not in t:
                    continue
                out, i = [], 0
                while i < len(t):
                    if i + 1 < len(t) and t[i] == lhs and t[i + 1] == rhs:
                        out.append(lhs + rhs)
                        i += 2
                    else:
                        out.append(t[i])
                        i += 1
                seqs[w] = out
        merges.extend(admitted)
    return merges, seqs


class CurationStream:
    """The layers sales_etl bypasses: bucketed semantic dedup over the
    embeddings (Arrow UDFs in Python workers, shuffle), a cold batched BPE
    training loop (jobs fired while the plan is built), and the ``events``
    changelog folded into a table catalog by the CDC merge stream, one
    transaction per part file."""

    name = "curation_stream"

    def __init__(self, spark, inputs: dict, work: str):
        self.spark = spark
        self.star = inputs["star"]
        self.bpe_dir = inputs["bpe"]
        self.changelog = inputs["changelog"]
        self.epochs = len(os.listdir(self.changelog))
        self.catalog = os.path.join(work, "cdc_catalog")
        self.checkpoint = os.path.join(work, "cdc_checkpoint")
        queries = {**plans.all_queries(), **plans.library_queries()}
        oracles = {**plans.all_oracles(), **plans.library_oracles()}
        self.queries = {n: queries[n] for n in CURATION_PLANS}
        con = duckdb_inputs(self.star)
        self.want = {n: oracle_rows(con, oracles[n]) for n in CURATION_PLANS}
        con.close()
        freqs: dict = {}
        text = pq.read_table(os.path.join(self.bpe_dir, "documents.parquet"), columns=["text"])
        for t in text.column("text").to_pylist():
            for w in re.findall("[a-z]+", t.lower()):
                freqs[w] = freqs.get(w, 0) + 1
        self.want["bpe_merges"], self.want["bpe_seqs"] = replay_bpe(freqs, BPE_MERGES, BPE_BATCH)
        self.snapshot_want = None

    def reset(self) -> None:
        for d in (self.catalog, self.checkpoint):
            shutil.rmtree(d, ignore_errors=True)

    def run_pass(self, ops: Ops) -> None:
        for name, query in self.queries.items():
            df = ops.call(query, self.spark, self.star, span=("plans", name))
            rows = ops.call(spark_rows, df, span=("plans", f"exec.{name}", "exec"))
            ops.check(rows == self.want[name], f"{name} differs from its oracle")
        merges, seqs = ops.call(bpe.train_bpe, self.spark, self.bpe_dir, BPE_MERGES,
                                batch_size=BPE_BATCH, admission="subset")
        got = ops.call(lambda: {r.word: r.seq.strip("_").split("__") for r in seqs.collect()},
                       span=("plans", "exec.bpe_train", "exec"))
        ops.check(merges == self.want["bpe_merges"], "bpe merges differ from the replay")
        ops.check(got == self.want["bpe_seqs"], "bpe segmentations differ from the replay")
        raw = (self.spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(self.changelog))
        ops.attempted += self.epochs - 1  # one operation per epoch
        try:
            ops.call(jobs.run_cdc_merge_stream_catalog, normalize_event_ts(raw),
                     self.catalog, self.checkpoint)
        except Exception:
            ops.failed += self.epochs - 1
            raise
        txns = len(TableCatalog(self.spark, self.catalog).txns())
        ops.check(txns == self.epochs, f"catalog txns={txns} epochs={self.epochs}")

    def verify(self, ops: Ops) -> None:
        """The stream's final catalog snapshot against its batch twin."""
        cols = ["user_id", "last_event_id", "last_ts", "last_event_type", "last_value"]
        got = spark_rows(TableCatalog(self.spark, self.catalog).read("snapshot").select(cols))
        want = spark_rows(cdc.cdc_latest_snapshot(self.spark, self.star).select(cols))
        ops.check(got == want, "stream catalog snapshot differs from cdc_latest_snapshot")


WORKLOADS = {w.name: w for w in (SalesEtl, CurationStream)}
