"""End-to-end pipeline orchestrator — the engine's equivalent of the
reference's ``SalesETLPipeline`` class (reference etl.py:31-422): the same
extract → transform → load contract and ``get_summary()`` surface, over
lazy Spark DataFrames instead of eager pandas.

Key inversion vs the reference (SURVEY.md §3.4): ``transform()`` here is
FREE — it only composes logical plans. Work happens at ``load()``, whose
write actions compute each output plan once; each plan re-reads its own
sources (no cache is shared between them). The reference's four
independent summary builders (etl.py:251-254) run serially in pandas;
here the five output tables are written concurrently, and their row
counts ride those writes, so ``get_summary()`` after ``load()`` runs no
job.
"""

from __future__ import annotations

import logging
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..plans import parity
from ..sources.readers import load_star
from ..sources.writers import save_tables

#: Per-stage progress logging — the reference's only observability is
#: logger.info record counts at each stage (reference etl.py:52,63,85,104).
#: Stage *transitions* are always logged (free); record *counts* are
#: opt-in via ``AnalyticsPipeline(log_counts=True)`` because every count
#: is a Spark job — always-on counts double the work at 100 TB.
logger = logging.getLogger(__name__)


class AnalyticsPipeline:
    """extract → transform → load over the star schema.

    Mirrors the reference's stage surface (extract / transform / load /
    run / get_summary, etl.py:44,238,364,390,415) — each stage usable à la
    carte, state carried between stages, fail-fast preconditions.
    """

    def __init__(self, spark: SparkSession, source_dir: str, output_dir: str,
                 log_counts: bool = False):
        self.spark = spark
        self.source_dir = source_dir
        self.output_dir = output_dir
        self.log_counts = log_counts
        self.raw_tables: dict[str, DataFrame] | None = None
        self.transformed_data: dict[str, DataFrame] | None = None
        self._observations: dict = {}
        self._loaded = False

    def extract(self) -> dict[str, DataFrame]:
        """Load the source catalog (lazy scans; nothing materializes)."""
        self.raw_tables = load_star(self.spark, self.source_dir)
        logger.info("extract: registered %d source tables (lazy scans)",
                    len(self.raw_tables))
        if self.log_counts:
            # the reference logs "Extracted N records" (etl.py:52) — one
            # count job per source table when opted in
            for name, df in self.raw_tables.items():
                logger.info("extract: %s = %d records", name, df.count())
        return self.raw_tables

    def transform(self) -> dict[str, DataFrame]:
        """Build the five output tables (reference etl.py:238-260). Plans
        only — no jobs run until load()/get_summary()."""
        if self.raw_tables is None:
            raise RuntimeError("No data to transform. Run extract() first.")
        plans = {
            "customer_summary": parity.customer_summary(self.spark, self.source_dir),
            "product_summary": parity.product_summary(self.spark, self.source_dir),
            "daily_sales": parity.daily_sales_moving_avg(self.spark, self.source_dir),
            "country_summary": parity.country_summary(self.spark, self.source_dir),
            "transactions": parity.clean_transactions(self.spark, self.source_dir),
        }
        # The reference pays a full extra pass for every logged count
        # (pandas len() is free; Spark count() is a job — SURVEY §3.4).
        # df.observe() instead accumulates metrics DURING the next action
        # over the plan: load() writes the table and the row count falls
        # out of the same job. observed_counts() reads them afterwards.
        self._observations = {name: Observation(f"rows_{name}") for name in plans}
        self._loaded = False
        self.transformed_data = {
            name: df.observe(self._observations[name], F.count(F.lit(1)).alias("n"))
            for name, df in plans.items()
        }
        logger.info("transform: composed %d output plans (no jobs yet)",
                    len(self.transformed_data))
        if self.log_counts:
            # "Cleaned data: N records" / per-summary counts
            # (etl.py:63,85,104) — a count job per table when opted in
            for name, df in self.transformed_data.items():
                logger.info("transform: %s = %d records", name, df.count())
        return self.transformed_data

    #: referential integrity must hold before anything publishes; the
    #: row-level rules are reported but don't gate by default (the
    #: reference's own answer to bad rows is to DROP them in cleaning,
    #: not to abort the run — reference etl.py:62-104)
    DEFAULT_GATE_RULES = ("lineitem_orderkey_fk", "orders_custkey_fk")

    def validate(
        self, fail_on: tuple[str, ...] | None = None
    ) -> DataFrame:
        """Run the DQ constraint suite (plans/validation.dq_report) as a
        publish gate: logs every failing rule, raises if a rule in
        ``fail_on`` (default: the referential-integrity rules) failed.
        Returns the rule-grain report for sinking alongside the outputs —
        the engine's upgrade over the reference's log-and-drop
        observability."""
        from ..plans.validation import dq_report

        if fail_on is None:
            fail_on = self.DEFAULT_GATE_RULES
        report = dq_report(self.spark, self.source_dir)
        failed = {
            r.rule_name: r.violation_count
            for r in report.filter(~report.passed).collect()
        }
        for rule, n in failed.items():
            logger.warning("validate: rule %s FAILED (%d violations)", rule, n)
        gate_broken = sorted(set(fail_on) & set(failed))
        if gate_broken:
            raise ValueError(
                f"validation gate failed: {gate_broken} "
                f"(violations: {[failed[r] for r in gate_broken]})"
            )
        return report

    def load(
        self,
        formats: list[str] | None = None,
        versioned: bool = False,
        catalog: bool = False,
    ) -> dict[str, list[str]]:
        """Fan the catalog out to sinks (reference etl.py:364-386).

        ``versioned=True`` publishes each output table as a new COMMIT of
        a versioned snapshot table (``sources/table.VersionedTable``)
        instead of overwriting flat files: readers keep a consistent
        version mid-publish, every past run stays time-travelable until
        vacuumed, and a crashed publish is invisible (no manifest) — the
        upgrade over the reference's in-place file overwrite
        (etl.py:364-386), where a reader racing the rewrite sees a torn
        table.

        ``catalog=True`` goes one further: ALL output tables land in a
        single multi-table transaction (``sources/catalog.TableCatalog``)
        — a reader can never observe this run's customer summary next
        to last run's product summary, the cross-table torn read the
        per-table publish (and the reference's sequential file
        overwrites, etl.py:364-386) both allow."""
        if self.transformed_data is None:
            raise RuntimeError("No data to load. Run transform() first.")
        if catalog:
            from ..sources.catalog import TableCatalog

            cat = TableCatalog(
                self.spark, os.path.join(self.output_dir, "catalog")
            )
            seq = cat.commit(
                overwrites=dict(self.transformed_data),
                writer="analytics_pipeline",
            )
            self._loaded = True
            logger.info(
                "load: catalog txn %d → %d tables",
                seq,
                len(self.transformed_data),
            )
            return {
                "catalog": [
                    f"{name}@v{v}" for name, v in cat.snapshot(seq).items()
                ],
                "txn_seq": seq,
            }
        if versioned:
            from ..sources.table import VersionedTable

            published = []
            for name, df in self.transformed_data.items():
                t = VersionedTable(
                    self.spark, os.path.join(self.output_dir, "versioned", name)
                )
                v = t.commit_overwrite(
                    df, operation="publish", writer="analytics_pipeline"
                )
                published.append(f"{name}@v{v}")
            self._loaded = True
            logger.info("load: versioned → %d tables", len(published))
            return {"versioned": published}
        written = save_tables(self.transformed_data, self.output_dir, formats)
        self._loaded = True
        for fmt, paths in written.items():
            logger.info("load: %s → %d tables", fmt, len(paths))
        return written

    def run(
        self,
        output_formats: list[str] | None = None,
        validate_first: bool = False,
    ) -> dict:
        """Full E-T-L (reference etl.py:390-413), wall-clock timed; with
        ``validate_first`` the DQ gate runs before any transform job."""
        start = time.time()
        self.extract()
        if validate_first:
            self.validate()
        self.transform()
        written = self.load(output_formats)
        return {
            "elapsed_seconds": round(time.time() - start, 2),
            "written": written,
            **self.get_summary(),
        }

    def get_summary(self) -> dict:
        """Row counts per output table (reference etl.py:415-422). After
        load() they are the counts observed by its writes — zero jobs;
        before it, one count job per table."""
        if self.transformed_data is None:
            return {"status": "No data transformed yet"}
        observed = self.observed_counts()
        return {
            name: observed[name] if name in observed else df.count()
            for name, df in self.transformed_data.items()
        }

    def observed_counts(self) -> dict:
        """Row counts captured by the Observations during the last action
        over each plan (empty until an action — e.g. load() — ran).
        ``Observation.get`` blocks until its plan executed once, so
        nothing is read before load() has run."""
        if not self._observations or not self._loaded:
            return {}
        return {
            name: obs.get["n"]
            for name, obs in self._observations.items()
        }


class TrainingDataPipeline:
    """The 100-TB use case the LLM-data operators exist for, composed
    end-to-end: documents → language filter → quality filter → exact dedup
    → near-dup removal (MinHash survivors) → curated corpus + per-source
    stats, written partitioned.

    Every stage is one of the oracle-checked plan operators (plans/llmdata);
    the composition stays one lazy DAG until ``run`` writes, so Catalyst
    dedups shared subtrees and pushes the cheap filters below the expensive
    pairwise stages.
    """

    def __init__(self, spark: SparkSession, source_dir: str, output_dir: str,
                 min_quality: float = 0.5, lang: str = "en",
                 strip_spans: bool = False):
        self.spark = spark
        self.source_dir = source_dir
        self.output_dir = output_dir
        self.min_quality = min_quality
        self.lang = lang
        #: opt-in final rewrite: remove cross-document boilerplate spans
        #: from survivors (plans/curation.dedup_spans)
        self.strip_spans = strip_spans

    def curated(self) -> DataFrame:
        from pyspark.sql import functions as F

        from ..plans import llmdata
        from ..sources.readers import load_table

        docs = load_table(self.spark, self.source_dir, "documents")
        keep_lang = llmdata.lang_id(self.spark, self.source_dir).filter(
            F.col("predicted_lang") == self.lang
        ).select("doc_id")
        keep_quality = llmdata.text_quality(self.spark, self.source_dir).filter(
            F.col("quality_score") >= self.min_quality
        ).select("doc_id")
        # exact dedup: keep each content group's canonical (min) doc
        canonical = llmdata.exact_dedup(self.spark, self.source_dir).select("doc_id")
        # near-dup removal: of every MinHash-confirmed pair, drop the
        # higher doc_id (union-find-lite: the canonical survivor is the
        # smallest id in each near-dup chain's pair relation)
        dropped = (
            llmdata.minhash_near_dup(self.spark, self.source_dir)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        out = (
            docs.join(keep_lang, "doc_id", "left_semi")
            .join(keep_quality, "doc_id", "left_semi")
            .join(canonical, "doc_id", "left_semi")
            .join(dropped, "doc_id", "left_anti")
        )
        if self.strip_spans:
            # final rewrite stage: cut cross-document boilerplate spans
            # from the SURVIVORS' text (plans/curation.dedup_spans —
            # membership decided above on original text, so the span
            # threshold can't flip who survives, only what they carry).
            from ..plans.curation import dedup_spans

            from pyspark.sql import functions as F

            cleaned = dedup_spans(self.spark, self.source_dir).select(
                "doc_id", "clean_text"
            )
            out = (
                out.join(cleaned, "doc_id")
                .drop("text")
                .withColumnRenamed("clean_text", "text")
                # the rewrite changed the text — recompute the length
                # metadata so downstream length filters/stats don't run
                # on pre-strip values
                .withColumn("n_chars", F.length("text").cast("long"))
                .select(*docs.columns)
            )
        return out

    # ------------------------------------------------------------------
    # append-only ingest: the steady-state production loop

    _EMPTY_STATE_SCHEMA = "doc_id long, content_md5 string, dup_count long"

    def reset_ingest(self) -> None:
        """Drop all ingest state (fingerprints, canonical corpus, band
        index, near-dup tombstones) — start a fresh append-only run."""
        import shutil

        self._dedup_state: DataFrame | None = None
        self._corpus_canon: DataFrame | None = None
        self._band_index: DataFrame | None = None
        self._dropped: DataFrame | None = None
        self._ingest_epoch = 0
        #: replay high-watermark — see ingest_batch
        self._ingest_watermark = -1
        shutil.rmtree(f"{self.output_dir}/ingest_state", ignore_errors=True)

    def restore_ingest(self) -> dict:
        """Rebuild the ingest state from the parquet a previous process
        left in ``output_dir/ingest_state`` — the driver-crash recovery
        path (the in-memory handles die with the driver; the state
        relations never did).

        The commit epoch is the newest ``canonical/batch_N`` — the
        canonical rename is ingest_batch's LAST write, so anything newer
        (a fingerprint epoch, tombstone/band batch dirs, a staging
        canonical dir) is a torn attempt from the crash and is deleted
        here before the handles are rebuilt; the at-least-once
        redelivery of that batch then replays it in full. Restores: the
        commit epoch's fingerprint state, the canonical/tombstone/band
        logs, the epoch counter, and the replay high-watermark (= max
        canonical doc_id — a replayed exact-dup member above it is still
        collapsed by the fingerprint state, so the watermark only needs
        canonical grain). Returns restore stats.

        Safe to call instead of reset_ingest() when resuming; raises if
        no persisted state exists."""
        import re

        root = f"{self.output_dir}/ingest_state"

        def _epochs(dirpath: str, pat: str) -> dict[int, str]:
            if not os.path.isdir(dirpath):
                return {}
            out = {}
            for d in os.listdir(dirpath):
                m = re.match(pat, d)
                if m:
                    out[int(m.group(1))] = os.path.join(dirpath, d)
            return out

        canon = _epochs(f"{root}/canonical", r"batch_(\d+)$")
        if not canon:
            raise RuntimeError(f"no ingest state to restore under {root}")
        commit = max(canon)
        fps = _epochs(root, r"fingerprints_e(\d+)$")
        if commit not in fps:
            raise RuntimeError(
                f"no fingerprint state for commit epoch {commit} under {root}"
            )
        # torn-attempt cleanup: the crash may have left a newer
        # fingerprint epoch, tombstone/band batches, or a staged
        # canonical dir; superseded fingerprint epochs (< commit) are
        # also dead (full-replace state, only the latest is live)
        for e, p in fps.items():
            if e != commit:
                shutil.rmtree(p, ignore_errors=True)
        for d in os.listdir(root):
            if d.startswith("staging_canonical_e"):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        for sub in ("tombstones", "bands"):
            for e, p in _epochs(f"{root}/{sub}", r"batch_(\d+)$").items():
                if e > commit:
                    shutil.rmtree(p, ignore_errors=True)
        from pyspark.sql import functions as F

        self._ingest_epoch = commit
        self._dedup_state = self.spark.read.parquet(fps[commit])
        self._corpus_canon = self.spark.read.parquet(f"{root}/canonical/batch_*")
        self._band_index = self.spark.read.parquet(f"{root}/bands/batch_*")
        self._dropped = self.spark.read.parquet(f"{root}/tombstones/batch_*")
        self._ingest_watermark = (
            self._corpus_canon.agg(F.max("doc_id")).first()[0] or -1
        )
        return {
            "restored_epoch": self._ingest_epoch,
            "watermark": self._ingest_watermark,
        }

    def _materialize(
        self, df: DataFrame, name: str, append: bool, epoch: int
    ) -> DataFrame:
        """Write a state relation to parquet and read it back — state
        lives ON DISK between batches (exactly like the streaming CDC
        sink's snapshot), so each batch's lineage starts from a scan
        instead of replaying every earlier batch's jobs. Append-grain
        state (canonicals, band index, tombstones) lands in per-epoch
        subdirectories read as one relation; full-replace state (the
        fingerprint relation) gets an epoch-named directory. ``epoch`` is
        the ATTEMPT epoch passed by ingest_batch — not yet committed, so
        a failed attempt's dirs are overwritten by the retry."""
        spark = df.sparkSession
        root = f"{self.output_dir}/ingest_state/{name}"
        if append:
            # plain subdirectory (no key=value name: this is an append
            # log, not a partition column)
            df.write.mode("overwrite").parquet(f"{root}/batch_{epoch}")
            return spark.read.parquet(f"{root}/batch_*")
        path = f"{root}_e{epoch}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def ingest_batch(self, new_docs: DataFrame) -> dict:
        """Fold one document batch into the curated corpus — the
        steady-state shape of corpus maintenance at 100 TB, where the
        backfill ran once (``curated()``) and every later ingest must be
        DELTA-grain: the batch is hashed and merged into the fingerprint
        state (incremental_exact_dedup), the batch's new canonical
        documents are near-dup-checked against the persisted LSH band
        index (incremental_minhash_near_dup), the newer member of every
        confirmed pair is tombstoned, and the index grows by the batch's
        bands. Stateless per-document filters (lang/quality) compose in
        front of this trivially; the stateful dedup stages are what need
        the machinery.

        Append-only invariant (same as both incremental operators):
        batch doc_ids are larger than everything already ingested, so
        the newer member of a cross-batch pair is always ``doc_b`` and
        an old survivor is never evicted. Fold-equivalence with the
        batch-free computation is pinned in tests/test_operators.py.

        Returns per-batch stats; read the current corpus via
        ``ingested_survivors()``."""
        from pyspark.sql import functions as F

        from ..plans import llmdata

        spark = new_docs.sparkSession
        if getattr(self, "_dedup_state", None) is None and not hasattr(
            self, "_ingest_epoch"
        ):
            self.reset_ingest()
        # ATTEMPT epoch: self._ingest_epoch is consumed (assigned) only at
        # the commit point below. A failed attempt leaves the counter —
        # and the replay watermark — untouched, so an at-least-once
        # redelivery to the SAME pipeline object reprocesses the batch in
        # full at the same epoch number (overwriting the torn attempt's
        # dirs) instead of being swallowed by a watermark that advanced
        # for work that never committed. Mirrors how restore_ingest
        # derives both values from the committed canonical log.
        epoch = self._ingest_epoch + 1
        # At-least-once transports re-deliver batches. The append-only
        # invariant (ids strictly increase across batches) makes replay
        # detection a pure high-watermark filter: any row at or below the
        # max already-ingested doc_id is a replay and is dropped BEFORE it
        # can re-enter the canonical log (without this, a replayed batch
        # re-appends its canonicals and the corpus silently inflates —
        # caught by tests/test_operators.py::test_ingest_batch_replay).
        # Driver traffic is one scalar (the batch max) per ingest.
        new_docs = new_docs.filter(
            F.col("doc_id") > F.lit(self._ingest_watermark)
        )
        # one combined agg job for the replay watermark AND the batch_docs
        # stat (was two scans); the canonical/tombstone counts below ride
        # their own write jobs via Observation — net: the per-batch job
        # count is state I/O only, no dedicated count() passes
        agg_row = new_docs.agg(
            F.max("doc_id").alias("hi"), F.count(F.lit(1)).alias("n")
        ).first()
        batch_hi, n_new = agg_row.hi, agg_row.n
        prev_state = self._dedup_state or spark.createDataFrame(
            [], self._EMPTY_STATE_SCHEMA
        )
        state = self._materialize(
            llmdata.incremental_exact_dedup(prev_state, new_docs),
            "fingerprints",
            append=False,
            epoch=epoch,
        )
        delta_ids = new_docs.select("doc_id")
        # The epoch's COMMIT POINT is the canonical/batch_N rename at the
        # end: restore_ingest derives both the replay watermark and the
        # torn-attempt cleanup horizon from the canonical log, so every
        # derived relation (tombstones, bands) must hit disk BEFORE the
        # canonical dir appears. A crash anywhere earlier leaves the
        # commit epoch unchanged and the replayed batch redoes everything
        # (the code-review finding: canonical-first ordering made a crash
        # between the canonical and band writes unrecoverable — the
        # watermark swallowed the replay and the batch's near-dup
        # tombstones/bands were never created).
        from pyspark.sql import Observation

        root = f"{self.output_dir}/ingest_state"
        staging = f"{root}/staging_canonical_e{epoch}"
        obs_canon = Observation(f"ingest_canon_e{epoch}")
        new_docs.join(
            state.select("doc_id").join(
                F.broadcast(delta_ids), "doc_id", "left_semi"
            ),
            "doc_id",
            "left_semi",
        ).observe(obs_canon, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(staging)
        n_canon = obs_canon.get["n"]
        new_canon = spark.read.parquet(staging).join(
            F.broadcast(delta_ids), "doc_id", "left_semi"
        )
        base = self._corpus_canon
        if base is None:
            base = new_docs.filter(F.lit(False))  # empty, same schema
        pairs = llmdata.incremental_minhash_near_dup(
            base, new_canon, base_index=self._band_index
        )
        # the written tombstone batch is exactly this batch's drops (the
        # append-only invariant makes every pair's newer member doc_b a
        # delta doc), so the near_dup_dropped stat rides the write too
        obs_tomb = Observation(f"ingest_tomb_e{epoch}")
        self._materialize(
            pairs.select(F.col("doc_b").alias("doc_id"))
            .distinct()
            .observe(obs_tomb, F.count(F.lit(1)).alias("n")),
            "tombstones",
            append=True,
            epoch=epoch,
        )
        n_drop = obs_tomb.get["n"]
        new_bands = self._materialize(
            llmdata.minhash_index(new_canon), "bands", append=True,
            epoch=epoch,
        )
        # COMMIT: publish the canonical batch; only now are the epoch
        # counter and the replay watermark consumed (a crash anywhere
        # above leaves both untouched, so the redelivered batch replays
        # in full). Then prune the superseded fingerprint epoch
        # (full-replace state — only the latest is live; keeping every
        # epoch is O(batches × corpus) disk).
        os.makedirs(f"{root}/canonical", exist_ok=True)
        os.rename(staging, f"{root}/canonical/batch_{epoch}")
        self._ingest_epoch = epoch
        if batch_hi is not None:
            self._ingest_watermark = max(self._ingest_watermark, batch_hi)
        shutil.rmtree(
            f"{root}/fingerprints_e{epoch - 1}",
            ignore_errors=True,
        )
        # every derived relation is on disk now — drop the batch's pinned
        # caches so a long ingest loop holds at most one batch's worth
        llmdata.release_incremental_caches()
        self._dedup_state = state
        self._corpus_canon = spark.read.parquet(f"{root}/canonical/batch_*")
        self._band_index = new_bands  # read of the full bands dir
        self._dropped = spark.read.parquet(f"{root}/tombstones/batch_*")
        return {
            "batch_docs": n_new,
            "new_canonical": n_canon,
            "exact_dup_collapsed": n_new - n_canon,
            "near_dup_dropped": n_drop,
        }

    def ingested_survivors(self) -> DataFrame:
        """The curated corpus after the batches folded so far: canonical
        documents minus near-dup tombstones."""
        if getattr(self, "_corpus_canon", None) is None:
            raise RuntimeError("No batches ingested. Run ingest_batch() first.")
        return self._corpus_canon.join(self._dropped, "doc_id", "left_anti")

    def run(self) -> dict:
        import time

        from pyspark.sql import functions as F

        start = time.time()
        curated = self.curated()
        out_path = f"{self.output_dir}/curated_documents"
        curated.withColumn("part_source", F.col("source")).write.mode(
            "overwrite"
        ).partitionBy("part_source").parquet(out_path)
        written = self.spark.read.parquet(out_path)
        stats = (
            written.groupBy("source")
            .agg(F.count(F.lit(1)).alias("docs"), F.sum("n_chars").alias("chars"))
            .collect()
        )
        return {
            "elapsed_seconds": round(time.time() - start, 2),
            "curated_docs": written.count(),
            "sources": len(stats),
            "output": out_path,
        }
