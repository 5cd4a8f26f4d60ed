"""Multimodal plumbing + pipeline orchestrator + sink checks (rows-only
surfaces — no SQL oracle exists for these; assertions pin schema, shape,
and self-consistency instead)."""

from __future__ import annotations

import contextlib
import datetime
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sales_etl_pipeline_spark.operators import multimodal  # noqa: E402
from sales_etl_pipeline_spark.operators.pipeline import AnalyticsPipeline  # noqa: E402
from sales_etl_pipeline_spark.sources.readers import load_table  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_attach_media_contract(spark):
    docs = load_table(spark, SF, "documents")
    media = multimodal.attach_media(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    row = media.first()
    assert row.media.format == "fake-rgb8"
    assert row.media.n_bytes == len(row.payload) == 256  # md5 hex × 8


def test_image_features_batch_shape(spark):
    docs = load_table(spark, SF, "documents")
    feats = multimodal.image_features(multimodal.attach_media(docs))
    rows = feats.collect()
    assert len(rows) == docs.count()
    for r in rows[:10]:
        assert r.n_bytes == 256
        assert len(r.byte_histogram) == 16
        assert sum(r.byte_histogram) == r.n_bytes
        assert 0.0 <= r.byte_mean <= 255.0


def test_frame_sample(spark):
    docs = load_table(spark, SF, "documents")
    frames = multimodal.frame_sample(multimodal.attach_media(docs))
    per_doc = frames.groupBy("doc_id").count().collect()
    assert all(r["count"] == 256 // multimodal.FRAME_BYTES for r in per_doc)
    assert frames.select("frame_md5").first().frame_md5 is not None


def test_decode_media_stub_raises():
    with pytest.raises(NotImplementedError, match="codec"):
        multimodal.decode_media(b"\x00", "jpeg")


def test_pipeline_end_to_end(spark, tmp_path):
    pipe = AnalyticsPipeline(spark, SF, str(tmp_path))
    summary = pipe.run(output_formats=["csv", "parquet", "sqlite"])
    # all five reference output tables written and non-empty
    for table in (
        "customer_summary",
        "product_summary",
        "daily_sales",
        "country_summary",
        "transactions",
    ):
        assert summary[table] > 0
        assert os.path.exists(os.path.join(str(tmp_path), f"{table}.parquet"))
    # sqlite sink readable with matching counts
    import sqlite3

    with sqlite3.connect(os.path.join(str(tmp_path), "sales_data.db")) as conn:
        n = conn.execute("SELECT COUNT(*) FROM customer_summary").fetchone()[0]
    assert n == summary["customer_summary"]
    # re-loadable parquet round-trip
    back = spark.read.parquet(os.path.join(str(tmp_path), "country_summary.parquet"))
    assert back.count() == summary["country_summary"]


def test_transform_requires_extract(spark, tmp_path):
    pipe = AnalyticsPipeline(spark, SF, str(tmp_path))
    with pytest.raises(RuntimeError, match="extract"):
        pipe.transform()


def test_pipeline_stage_logging(spark, tmp_path, caplog):
    # reference etl.py:52,63 logs per-stage record counts — opt-in here
    # (each count is a Spark job), stage transitions always logged
    import logging

    pipe = AnalyticsPipeline(spark, SF, str(tmp_path), log_counts=True)
    with caplog.at_level(logging.INFO,
                         logger="sales_etl_pipeline_spark.operators.pipeline"):
        pipe.extract()
        pipe.transform()
    messages = [r.message for r in caplog.records]
    assert any("extract: registered" in m for m in messages)
    assert any(m.startswith("transform: transactions = ") for m in messages)


def test_excel_adapter_paths(spark, tmp_path):
    """Error hygiene only — the WORKING ingestion paths (pandas when
    openpyxl exists, the stdlib SpreadsheetML fallback otherwise) are
    exercised in tests/test_xlsx.py since r9 closed the env gate."""
    import zipfile

    from sales_etl_pipeline_spark.sources.readers import read_excel

    with pytest.raises(FileNotFoundError):
        read_excel(spark, str(tmp_path / "missing.xlsx"))
    # a corrupt non-zip "workbook" must fail loudly on either path
    fake = tmp_path / "wb.xlsx"
    fake.write_bytes(b"PK\x03\x04notreallyxlsx")
    with pytest.raises((zipfile.BadZipFile, Exception)):
        read_excel(spark, str(fake))


def test_cli_main(spark, tmp_path):
    """CLI lifecycle parity (reference etl.py:425-457) — run via main() with
    an injected session-reusing monkeypatch-free path: we call the module
    main in-process against sf0.001."""
    import sales_etl_pipeline_spark.__main__ as cli

    rc = cli.main(
        [
            "--source",
            SF,
            "--output",
            str(tmp_path / "cli"),
            "--formats",
            "parquet",
        ]
    )
    assert rc == 0
    assert os.path.exists(str(tmp_path / "cli" / "country_summary.parquet"))
    # versioned publishing mode: outputs land as table commits
    rc = cli.main(
        ["--source", SF, "--output", str(tmp_path / "cliv"), "--versioned"]
    )
    assert rc == 0
    assert os.path.exists(
        str(tmp_path / "cliv" / "versioned" / "country_summary" / "_log")
    )


def test_semantic_dedup_bucketed_recall(spark):
    """Bucketed SemDeDup can only MISS removals (candidates get the exact
    cosine, so every removal is a true near-dup): survivors must be a
    superset of the exact twin's, and removal recall must stay high."""
    from sales_etl_pipeline_spark.plans import llmdata

    exact = {r.vec_id for r in llmdata.semantic_dedup(spark, SF).collect()}
    bucketed = {
        r.vec_id for r in llmdata.semantic_dedup_bucketed(spark, SF).collect()
    }
    assert exact <= bucketed  # no false removals, ever
    total = llmdata._embeddings_double(spark, SF).count()
    removed_exact = total - len(exact)
    removed_bucketed = total - len(bucketed)
    if removed_exact:
        assert removed_bucketed / removed_exact >= 0.9


def test_precollapse_regime_dispatch_bit_identical(spark):
    """The exact-dup pre-collapse is regime-dispatched (VERDICT r8 item 3):
    on the provably-distinct driver corpus the probe skips the collapse
    machinery. Both forced branches must agree bit-for-bit there — the
    collapse is the identity on a duplicate-free corpus — mirroring the
    inverted≡pairloop pin on hashed_cosine_pairs."""
    from pyspark.sql import functions as F

    from sales_etl_pipeline_spark.plans import llmdata
    from sales_etl_pipeline_spark.sources.readers import load_table

    # probe direction on the distinct corpus
    docs = load_table(spark, SF, "documents")
    assert llmdata._all_distinct(docs, F.md5("text"))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    spark.catalog.clearCache()
    j_always = rows(llmdata.ngram_jaccard_pairs(spark, SF, collapse="always"))
    spark.catalog.clearCache()
    j_skip = rows(llmdata.ngram_jaccard_pairs(spark, SF, collapse="skip"))
    assert j_always == j_skip and j_always

    spark.catalog.clearCache()
    s_always = rows(
        llmdata.semantic_dedup_bucketed(spark, SF, collapse="always")
    )
    spark.catalog.clearCache()
    s_skip = rows(llmdata.semantic_dedup_bucketed(spark, SF, collapse="skip"))
    assert s_always == s_skip and s_always
    spark.catalog.clearCache()


def test_training_data_pipeline(spark, tmp_path):
    from sales_etl_pipeline_spark.operators.pipeline import TrainingDataPipeline
    from sales_etl_pipeline_spark.plans import llmdata

    pipe = TrainingDataPipeline(spark, SF, str(tmp_path), min_quality=0.5)
    result = pipe.run()
    assert result["curated_docs"] > 0
    total = load_table(spark, SF, "documents").count()
    assert result["curated_docs"] < total  # filters actually removed docs
    # near-dup survivors: no confirmed near-dup pair may remain intact
    curated_ids = {r.doc_id for r in pipe.curated().select("doc_id").collect()}
    pairs = llmdata.minhash_near_dup(spark, SF).collect()
    for p in pairs:
        assert not (p.doc_a in curated_ids and p.doc_b in curated_ids)
    # partitioned layout on disk
    parts = [d for d in os.listdir(result["output"]) if d.startswith("part_source=")]
    assert len(parts) == result["sources"]


def test_customer_summary_degenerate_quartiles(spark, tmp_path):
    """All-equal revenues tie every quartile edge. pandas qcut would raise
    (duplicates='raise', reference etl.py:139-143); the CASE reproduction
    must instead degrade deterministically: every customer lands in the
    lowest right-closed bin ("Bronze"). Pins the documented divergence."""
    from datetime import date

    from sales_etl_pipeline_spark.plans.parity import customer_summary

    d = str(tmp_path)
    spark.createDataFrame(
        [(k, k % 3, 100.0, date(1995, 1, 1 + k), "O") for k in range(9)],
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate date, o_orderstatus string",
    ).write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [(k, 1.0) for k in range(9)],
        "l_orderkey long, l_quantity double",
    ).write.parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(c, 0) for c in range(3)], "c_custkey long, c_nationkey long"
    ).write.parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        [(0, "NATION_0")], "n_nationkey long, n_name string"
    ).write.parquet(f"{d}/nation.parquet")

    rows = customer_summary(spark, d).collect()
    assert len(rows) == 3
    assert {r.segment for r in rows} == {"Bronze"}
    assert {r.total_revenue for r in rows} == {300.0}


def test_approx_distinct_stats_tracks_exact_twins(spark):
    """The approximate sketches are rows-only at the driver (engine sketch
    internals differ by design); THIS is their accuracy gate: HLL++ distinct
    counts within the configured 2% rsd (asserted at 10% for slack) and each
    quantile sketch within the bracketing exact percentiles."""
    from pyspark.sql import functions as F

    from sales_etl_pipeline_spark.plans.analytics import approx_distinct_stats

    approx = {
        r.o_orderpriority: r for r in approx_distinct_stats(spark, SF).collect()
    }
    exact = {
        r.o_orderpriority: r
        for r in (
            load_table(spark, SF, "orders")
            .groupBy("o_orderpriority")
            .agg(
                F.countDistinct("o_custkey").alias("nd"),
                F.expr("percentile(o_totalprice, 0.4)").alias("p40"),
                F.expr("percentile(o_totalprice, 0.6)").alias("p60"),
                F.expr("percentile(o_totalprice, 0.90)").alias("p90"),
                F.expr("percentile(o_totalprice, 0.97)").alias("p97"),
                F.max("o_totalprice").alias("mx"),
            )
            .collect()
        )
    }
    assert set(approx) == set(exact)
    for prio, a in approx.items():
        e = exact[prio]
        assert abs(a.approx_customers - e.nd) <= max(1, 0.1 * e.nd)
        assert e.p40 <= a.p50 <= e.p60
        assert e.p90 <= a.p95 <= e.mx
        assert e.p97 <= a.p99 <= e.mx


def test_normalize_event_ts_magnitude_branch(spark):
    """Regression gate for the round-6 stream-in-1970 bug: the SAME instant
    expressed as ns-epoch and µs-epoch longs must normalize to the SAME
    timestamp (the helper branches on magnitude; both reader paths use it)."""
    from sales_etl_pipeline_spark.sources.readers import normalize_event_ts

    instants_us = [
        1704067200_000_000,  # 2024-01-01T00:00:00Z
        1704067200_000_001,  # +1 µs — truncation must not round
        1999999999_999_999,  # far future, still µs magnitude
    ]
    ns_df = spark.createDataFrame(
        [(i, v * 1000) for i, v in enumerate(instants_us)], "id long, ts long"
    )
    us_df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(instants_us)], "id long, ts long"
    )
    got_ns = {r.id: r.ts for r in normalize_event_ts(ns_df).collect()}
    got_us = {r.id: r.ts for r in normalize_event_ts(us_df).collect()}
    assert got_ns == got_us
    assert got_ns[0].year == 2024  # not 1970: the double-division bug class


def test_normalize_event_ts_rejects_out_of_range(spark):
    """An ns-epoch instant before 1973-03 has magnitude <1e17 and would be
    misread as µs, landing ~1000× in the future — the helper must raise
    loudly instead of silently misparsing (documented contract)."""
    import pytest

    from sales_etl_pipeline_spark.sources.readers import normalize_event_ts

    # 5e16 ns = 1971-08; as µs it would be year ~3554
    bad = spark.createDataFrame(
        [(0, 50_000_000_000_000_000)], "id long, ts long"
    )
    with pytest.raises(Exception, match="2200"):
        normalize_event_ts(bad).collect()


def test_centroid_cache_fingerprint_invalidation(spark):
    """The trained-centroid memo must not survive a corpus regeneration:
    the count+max-vec_id fingerprint guards the hit, and
    clear_centroid_cache() empties the memo entirely."""
    import math

    from sales_etl_pipeline_spark.plans import llmdata

    def mk(n):
        rows = [
            (i, [float(i), 1.0], math.sqrt(float(i) ** 2 + 1.0))
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, v array<double>, nrm double"
        )

    key = "__test_centroid_cache__"
    llmdata._CENTROID_CACHE.pop(key, None)
    o1 = llmdata._train_centroids(mk(10), cache_key=key)
    o1b = llmdata._train_centroids(mk(10), cache_key=key)
    assert o1[1] is o1b[1]  # same corpus → memo hit (same ndarray object)
    o2 = llmdata._train_centroids(mk(12), cache_key=key)
    assert o2[1] is not o1[1]  # fingerprint changed → retrained
    llmdata.clear_centroid_cache()
    assert not llmdata._CENTROID_CACHE


def test_source_mix_sample_custom_weights(spark):
    """The mixing knobs are parameters, not package edits: a custom
    weight map — including 0.3333, the repeating-fraction case where a
    DECIMAL-typed oracle would disagree with IEEE doubles on the
    fractional-epoch ceil boundary — must still match the parameterized
    DuckDB oracle exactly."""
    from sales_etl_pipeline_spark.plans import assembly
    from tests.oracle_harness import compare, duckdb_connection

    weights = {"src0": 0.3333, "src1": 1.7, "src2": 3.0}
    df = assembly.source_mix_sample(
        spark, SF, mix_weights=weights, default_weight=0.9999
    )
    con = duckdb_connection(SF)
    try:
        problems = compare(
            df,
            con,
            assembly._source_mix_oracle_sql(weights, 0.9999),
            "source_mix_sample_custom",
        )
    finally:
        con.close()
    assert not problems, "\n".join(problems)


def test_near_dup_components_match_union_find(spark):
    """The iterative label-propagation CC has no SQL oracle; its exact gate
    is a union-find replay of the same MinHash pair relation."""
    from sales_etl_pipeline_spark.plans import llmdata

    pairs = [
        (r.doc_a, r.doc_b)
        for r in llmdata.minhash_near_dup(spark, SF).collect()
    ]
    assert pairs  # corpus must actually contain near-dup chains

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # root stays the component min

    want = {x: find(x) for x in parent}
    got = {
        r.doc_id: r.component
        for r in llmdata.near_dup_components(spark, SF).collect()
    }
    assert got == want
    # sanity: at least one transitive chain longer than a single pair
    from collections import Counter

    assert max(Counter(want.values()).values()) >= 3


def test_near_dup_components_nonconvergence_surfaces_partial_state(spark):
    """Hitting the round cap before fixpoint raises ComponentsNotConverged
    carrying the rounds run, the still-changing count, and the partial
    label relation — so a caller can retry with a higher max_iters (the
    code-review finding: the old raise discarded the partial labels)."""
    import pytest

    from sales_etl_pipeline_spark.plans import llmdata

    with pytest.raises(llmdata.ComponentsNotConverged) as ei:
        llmdata.near_dup_components(spark, SF, max_iters=1)
    e = ei.value
    assert e.rounds == 1 and e.still_changing > 0
    assert "max_iters" in str(e)
    partial = e.partial_labels
    assert set(partial.columns) == {"doc_id", "label"}
    full = llmdata.near_dup_components(spark, SF)  # default cap converges
    assert partial.count() == full.count()
    # partial labels are monotone upper approximations: every label is
    # ≥ the converged component (labels only decrease round over round)
    joined = partial.withColumnRenamed("label", "partial_label").join(
        full, "doc_id"
    )
    assert joined.filter("partial_label < component").count() == 0


def test_incremental_exact_dedup_equals_full_recompute(spark):
    """Folding the corpus through incremental_exact_dedup in batches must
    equal one-shot exact_dedup over everything — the incremental-ingest
    contract (state is fingerprint-grain; only deltas are rehashed)."""
    from pyspark.sql import functions as F

    from sales_etl_pipeline_spark.plans import llmdata

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    # batches in append-only ingest order; batch 3 re-ingests half the
    # corpus verbatim under new (higher) ids — cross-batch duplicates
    # whose canonical must remain the ORIGINAL id
    b1 = docs.filter(F.col("doc_id") % 10 < 5)
    b2 = docs.filter(F.col("doc_id") % 10 >= 5)
    b3 = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100000)
    )
    full = b1.unionByName(b2).unionByName(b3)
    state = (
        b1.groupBy(F.md5("text").alias("content_md5"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("doc_id", "content_md5", "dup_count")
    )
    state = llmdata.incremental_exact_dedup(state, b2)
    state = llmdata.incremental_exact_dedup(state, b3)
    got = {r.content_md5: (r.doc_id, r.dup_count) for r in state.collect()}
    want = {
        r.content_md5: (r.doc_id, r.dup_count)
        for r in (
            full.groupBy(F.md5("text").alias("content_md5"))
            .agg(
                F.min("doc_id").alias("doc_id"),
                F.count(F.lit(1)).alias("dup_count"),
            )
            .collect()
        )
    }
    assert got == want
    assert any(cnt > 1 for _, cnt in want.values())  # dup groups exist
    assert all(did < 100000 for did, cnt in want.values() if cnt > 1)


def test_json_orc_sinks_roundtrip(spark, tmp_path):
    """JSON-lines and ORC sinks: write → read back → identical rows."""
    from sales_etl_pipeline_spark.sources import writers

    df = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    writers.write_json(df, str(tmp_path / "n.json"))
    writers.write_orc(df, str(tmp_path / "n.orc"))
    want = sorted((r.n_nationkey, r.n_name) for r in df.collect())
    got_json = sorted(
        (r.n_nationkey, r.n_name)
        for r in spark.read.json(str(tmp_path / "n.json")).collect()
    )
    from sales_etl_pipeline_spark.sources.readers import read_orc

    got_orc = sorted(
        (r.n_nationkey, r.n_name)
        for r in read_orc(spark, str(tmp_path / "n.orc")).collect()
    )
    assert got_json == want
    assert got_orc == want


def test_save_tables_fans_out_every_format(spark, tmp_path):
    """save_tables returns {format: [path per table]} in formats and
    table order; json/orc written from the parquet read-back hold the
    plan's rows; an unknown format fails before any write."""
    from sales_etl_pipeline_spark.sources import writers

    nation = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    tables = {"low": nation.filter("n_nationkey < 10"), "high": nation.filter("n_nationkey >= 10")}
    out = str(tmp_path)
    written = writers.save_tables(tables, out, ["json", "parquet", "orc"])
    assert written == {
        fmt: [os.path.join(out, f"{name}.{fmt}") for name in tables]
        for fmt in ("json", "parquet", "orc")
    }
    for name, df in tables.items():
        want = sorted(map(tuple, df.collect()))
        for fmt in ("json", "orc"):
            back = spark.read.format(fmt).load(os.path.join(out, f"{name}.{fmt}"))
            assert sorted(map(tuple, back.select(*df.columns).collect())) == want
    with pytest.raises(ValueError, match="Unknown sink format"):
        writers.save_tables(tables, str(tmp_path / "none"), ["csv", "xlsx"])
    assert not os.path.exists(tmp_path / "none")


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Operational surface for corpus growth: a later ingest adds a column;
    mergeSchema reads must surface the union schema with NULLs for old
    files — the append-only-corpus schema-evolution contract."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "evolving")
    v1 = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    v1.write.parquet(f"{base}/batch=1")
    v2 = v1.withColumn("ingest_round", F.lit(2))
    v2.write.parquet(f"{base}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) >= {"n_nationkey", "n_name", "ingest_round"}
    assert merged.count() == v1.count() * 2
    assert merged.filter(F.col("ingest_round").isNull()).count() == v1.count()


def test_misra_gries_heavy_hitters_guarantee(spark):
    """Misra–Gries is deterministic-error, not probabilistic: against the
    exact term counts, every term with true frequency > n/(k+1) MUST be
    present in the merged sketch, and every estimate must lie in
    [true − n/(k+1), true]. Partition layout may change which low-count
    terms survive, but never these bounds — so the test holds under any
    parallelism."""
    from pyspark.sql import functions as F

    from sales_etl_pipeline_spark.functions.core import tokens
    from sales_etl_pipeline_spark.plans import llmdata

    sketch = {
        r.term: r.est_count
        for r in llmdata.approx_heavy_hitters(spark, SF).collect()
    }
    docs = load_table(spark, SF, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    exact = {r.term: r.cnt for r in tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    n = sum(exact.values())
    eps = n / (llmdata.HH_K + 1)
    heavy = {t for t, c in exact.items() if c > eps}
    assert heavy, "corpus has no heavy hitters — test data assumption broken"
    missing = heavy - set(sketch)
    assert not missing, f"MG containment violated: {sorted(missing)[:5]}"
    for t, est in sketch.items():
        true = exact.get(t, 0)
        assert true - eps <= est <= true, (t, est, true, eps)


def test_incremental_minhash_near_dup_equals_full(spark):
    """Fold-equivalence for the delta-only LSH path: pairs(all) must
    equal pairs(base) ∪ incremental(base, delta) for a doc_id split —
    every pair touching the delta comes from the incremental call, every
    base-only pair from the base run, with identical jaccard values."""
    from sales_etl_pipeline_spark.plans import llmdata

    docs = load_table(spark, SF, "documents")
    base = docs.filter("doc_id % 10 < 7")
    delta = docs.filter("doc_id % 10 >= 7")
    empty = spark.createDataFrame([], docs.schema)

    def pairs(df):
        return {
            (r.doc_a, r.doc_b): r.jaccard
            for r in df.collect()
        }

    full = pairs(llmdata.incremental_minhash_near_dup(empty, docs))
    base_only = pairs(llmdata.incremental_minhash_near_dup(empty, base))
    incr = pairs(llmdata.incremental_minhash_near_dup(base, delta))
    assert full, "corpus has no near-dup pairs — test assumption broken"
    assert incr, "delta touches no near-dup pairs — split assumption broken"
    merged = {**base_only, **incr}
    assert set(merged) == set(full)
    for k, v in merged.items():
        assert v == full[k]
    # the two contributions are disjoint: incr pairs all touch the delta
    delta_ids = {r.doc_id for r in delta.select("doc_id").collect()}
    assert all(a in delta_ids or b in delta_ids for a, b in incr)
    assert not any(a in delta_ids or b in delta_ids for a, b in base_only)
    # the production path — a precomputed persisted index — must give
    # byte-identical results to the self-contained recompute path
    incr_indexed = pairs(
        llmdata.incremental_minhash_near_dup(
            base, delta, base_index=llmdata.minhash_index(base)
        )
    )
    assert incr_indexed == incr


def test_ingest_batches_equal_batchfree_curation(spark, tmp_path):
    """Folding the corpus through TrainingDataPipeline.ingest_batch in
    id-ordered batches (the append-only invariant) must yield exactly
    the batch-free computation: exact-dedup canonicals minus the newer
    member of every uncapped near-dup pair among canonicals."""
    from pyspark.sql import functions as F

    from sales_etl_pipeline_spark.operators.pipeline import TrainingDataPipeline
    from sales_etl_pipeline_spark.plans import llmdata

    docs = load_table(spark, SF, "documents")
    pipe = TrainingDataPipeline(spark, SF, str(tmp_path))
    pipe.reset_ingest()
    stats = []
    for lo, hi in [(0, 150), (150, 350), (350, 10**9)]:
        batch = docs.filter(f"doc_id >= {lo} and doc_id < {hi}")
        stats.append(pipe.ingest_batch(batch))
    got = {r.doc_id for r in pipe.ingested_survivors().select("doc_id").collect()}

    canon_ids = llmdata.exact_dedup(spark, SF).select("doc_id")
    canon_docs = docs.join(canon_ids, "doc_id", "left_semi")
    empty = spark.createDataFrame([], docs.schema)
    full_pairs = llmdata.incremental_minhash_near_dup(empty, canon_docs)
    dropped = {r.doc_b for r in full_pairs.collect()}
    want = {r.doc_id for r in canon_ids.collect()} - dropped
    assert got == want
    assert sum(s["near_dup_dropped"] for s in stats) >= len(dropped)
    assert sum(s["batch_docs"] for s in stats) == docs.count()


def test_near_dup_apis_handle_empty_corpus(spark):
    """Edge hygiene: the incremental near-dup APIs must return empty
    relations (correct schemas, no crash) when either side — or both —
    is empty; the ingest loop must accept an empty first batch."""
    from sales_etl_pipeline_spark.operators.pipeline import TrainingDataPipeline
    from sales_etl_pipeline_spark.plans import llmdata

    docs = load_table(spark, SF, "documents")
    empty = spark.createDataFrame([], docs.schema)
    some = docs.limit(20)
    assert llmdata.incremental_minhash_near_dup(empty, empty).count() == 0
    assert llmdata.incremental_minhash_near_dup(some, empty).count() == 0
    assert llmdata.minhash_index(empty).count() == 0
    import tempfile

    pipe = TrainingDataPipeline(
        spark, SF, tempfile.mkdtemp(prefix="empty_ingest_")
    )
    pipe.reset_ingest()
    stats = pipe.ingest_batch(empty)
    assert stats == {
        "batch_docs": 0,
        "new_canonical": 0,
        "exact_dup_collapsed": 0,
        "near_dup_dropped": 0,
    }
    stats2 = pipe.ingest_batch(some)
    assert stats2["batch_docs"] == 20
    assert pipe.ingested_survivors().count() <= 20


def test_variant_surfaces(spark):
    """The VARIANT-only surfaces with no DuckDB twin (the extraction plan
    event_props_variant is library-oracle-checked): schema_of_variant
    reports the object shape, is_variant_null distinguishes JSON null
    from missing, and typed extraction round-trips the raw JSON."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [('{"k": 7, "tag": "x"}',), ('{"k": null}',), ("[1, 2]",)],
        "js string",
    ).select(F.parse_json("js").alias("v"), "js")
    rows = df.select(
        F.schema_of_variant("v").alias("sch"),
        F.is_variant_null(
            F.try_variant_get("v", "$.k", "variant")
        ).alias("k_is_json_null"),
        F.try_variant_get("v", "$.k", "int").alias("k"),
        F.try_variant_get("v", "$[0]", "int").alias("first_elem"),
    ).collect()
    assert rows[0].sch == "OBJECT<k: BIGINT, tag: STRING>"
    assert rows[0].k == 7 and not rows[0].k_is_json_null
    # JSON null is a present-but-null value: is_variant_null true
    assert rows[1].k_is_json_null and rows[1].k is None
    # arrays address by index; object paths on arrays miss quietly (try_)
    assert rows[2].first_elem == 1 and rows[2].k is None


def test_observed_counts_ride_the_write(spark, tmp_path):
    """Row counts come from Observations attached to the output plans —
    captured by the load() write jobs themselves, no count() jobs
    afterwards — and must equal the plain count() numbers."""
    from sales_etl_pipeline_spark.operators.pipeline import AnalyticsPipeline

    sf = "/root/testdata/sf0.001"
    pipe = AnalyticsPipeline(spark, sf, str(tmp_path / "out"))
    pipe.extract()
    pipe.transform()
    assert pipe.observed_counts() == {}  # nothing ran yet — must not block
    pipe.load(["parquet"])
    observed = pipe.observed_counts()
    plain = AnalyticsPipeline(spark, sf, str(tmp_path / "out2"))
    plain.extract()
    plain.transform()
    want = {name: df.count() for name, df in plain.transformed_data.items()}
    assert observed == want
    assert pipe.get_summary() == want


SINK_TABLES = (
    "customer_summary",
    "product_summary",
    "daily_sales",
    "country_summary",
    "transactions",
)


def _group_jobs(spark, group: str, action) -> int:
    """Run ``action`` under job group ``group``; return how many Spark
    jobs the group submitted (pool threads included, if they inherited
    the group)."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _transformed(spark, out: str) -> AnalyticsPipeline:
    pipe = AnalyticsPipeline(spark, SF, out)
    pipe.extract()
    pipe.transform()
    return pipe


def _sqlite_value(v):
    """A collected Spark value as sqlite3 hands it back (pandas.to_sql
    stores dates/timestamps as ISO text, booleans as 0/1, NaN as NULL)."""
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return str(v)
    return v


def test_sinks_hold_identical_rows(spark, tmp_path):
    """csv/sqlite are written from the parquet sink: sqlite holds the
    parquet rows exactly, csv the same header and row count."""
    import csv
    import glob
    import sqlite3
    from collections import Counter

    out = str(tmp_path)
    _transformed(spark, out).load(["csv", "parquet", "sqlite"])
    with contextlib.closing(sqlite3.connect(os.path.join(out, "sales_data.db"))) as db:
        for table in SINK_TABLES:
            parquet = spark.read.parquet(os.path.join(out, f"{table}.parquet"))
            want = Counter(tuple(map(_sqlite_value, r)) for r in parquet.collect())
            cur = db.execute(f'SELECT * FROM "{table}"')
            assert [c[0] for c in cur.description] == parquet.columns
            assert Counter(cur.fetchall()) == want, table
            (part,) = glob.glob(os.path.join(out, f"{table}.csv", "*.csv"))
            with open(part, newline="") as f:
                rows = list(csv.reader(f))
            assert rows[0] == parquet.columns
            assert len(rows) - 1 == sum(want.values())


def test_load_computes_each_table_once(spark, tmp_path):
    """Compute once: adding csv and sqlite to the parquet sink costs at
    most two jobs per table (each a write from the parquet file). The
    lower bound proves the job group reaches the fan-out threads: jobs
    that lost it would be missing from the counts."""
    _transformed(spark, str(tmp_path / "warm")).load(["parquet"])  # cold-session jobs
    only_parquet = _transformed(spark, str(tmp_path / "a"))
    n_parquet = _group_jobs(spark, f"parquet-{id(only_parquet)}", lambda: only_parquet.load(["parquet"]))
    pipe = _transformed(spark, str(tmp_path / "b"))
    n_all = _group_jobs(spark, f"all-{id(pipe)}", lambda: pipe.load(["csv", "parquet", "sqlite"]))
    assert n_parquet >= len(SINK_TABLES)
    assert n_parquet + len(SINK_TABLES) <= n_all <= n_parquet + 2 * len(SINK_TABLES)


def test_summary_after_load_runs_no_job(spark, tmp_path):
    pipe = _transformed(spark, str(tmp_path))
    pipe.load(["csv", "parquet", "sqlite"])
    counts = {}
    n = _group_jobs(spark, f"summary-{id(pipe)}", lambda: counts.update(pipe.get_summary()))
    assert n == 0
    assert set(counts) == set(SINK_TABLES) and all(v > 0 for v in counts.values())


def test_failing_sink_raises_from_load(spark, tmp_path):
    """A sink that cannot be written (a directory where the sqlite file
    must go) fails the load instead of hanging or passing, and every
    table's other writes still finish."""
    import concurrent.futures
    import sqlite3

    out = tmp_path / "out"
    (out / "sales_data.db").mkdir(parents=True)
    pipe = _transformed(spark, str(out))
    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        run = pool.submit(pipe.load, ["csv", "parquet", "sqlite"])
        with pytest.raises(sqlite3.OperationalError):
            run.result(timeout=300)
    for table in SINK_TABLES:
        assert os.path.isdir(out / f"{table}.csv")
        assert os.path.isdir(out / f"{table}.parquet")


def test_ingest_batch_replay_is_idempotent(spark, tmp_path):
    """At-least-once delivery: replaying an already-ingested batch (and a
    half-replayed overlap) must leave the survivor corpus IDENTICAL —
    the append-only high-watermark drops replayed rows before they can
    re-enter the canonical log."""
    from pyspark.sql import functions as F

    from sales_etl_pipeline_spark.operators.pipeline import TrainingDataPipeline

    docs = load_table(spark, SF, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0] + 1
    b1 = docs.filter(F.col("doc_id") < hi // 2)
    b2 = docs.filter(F.col("doc_id") >= hi // 2)

    pipe = TrainingDataPipeline(spark, SF, str(tmp_path))
    pipe.reset_ingest()
    pipe.ingest_batch(b1)
    pipe.ingest_batch(b2)
    before = sorted(
        r.doc_id for r in pipe.ingested_survivors().select("doc_id").collect()
    )
    stats = pipe.ingest_batch(b2)  # exact replay
    assert stats["batch_docs"] == 0  # fully dropped at the watermark
    overlap = docs.filter(F.col("doc_id") >= hi // 3)  # partial replay
    pipe.ingest_batch(overlap)
    after = sorted(
        r.doc_id for r in pipe.ingested_survivors().select("doc_id").collect()
    )
    assert after == before
    # the ingest loop must not accumulate pinned caches across batches
    # (code-review finding: 3 persists per batch with no unpersist)
    from sales_etl_pipeline_spark.plans import llmdata

    assert llmdata._INCR_CACHES == []


def test_ingest_batch_inprocess_retry_after_mid_epoch_failure(
    spark, tmp_path, monkeypatch
):
    """A Spark job failing INSIDE ingest_batch, before the canonical
    commit rename, must leave the epoch counter and replay watermark
    unconsumed — so an at-least-once redelivery to the SAME pipeline
    object reprocesses the batch in full (the code-review finding: the
    watermark used to advance up front, silently swallowing the retry
    as a replay even though nothing committed)."""
    import pytest
    from pyspark.sql import functions as F

    from sales_etl_pipeline_spark.operators.pipeline import TrainingDataPipeline
    from sales_etl_pipeline_spark.plans import llmdata

    docs = load_table(spark, SF, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0] + 1
    b1 = docs.filter(F.col("doc_id") < hi // 2)
    b2 = docs.filter(F.col("doc_id") >= hi // 2)

    ref = TrainingDataPipeline(spark, SF, str(tmp_path / "ref"))
    ref.reset_ingest()
    ref.ingest_batch(b1)
    ref.ingest_batch(b2)
    want = sorted(
        r.doc_id for r in ref.ingested_survivors().select("doc_id").collect()
    )

    pipe = TrainingDataPipeline(spark, SF, str(tmp_path / "crash"))
    pipe.reset_ingest()
    pipe.ingest_batch(b1)
    wm_before = pipe._ingest_watermark

    real_index = llmdata.minhash_index

    def _fail_once(*a, **kw):
        monkeypatch.setattr(llmdata, "minhash_index", real_index)
        raise RuntimeError("injected mid-epoch failure")

    monkeypatch.setattr(llmdata, "minhash_index", _fail_once)
    with pytest.raises(RuntimeError, match="injected"):
        pipe.ingest_batch(b2)
    # nothing consumed: same epoch, same watermark, state handle unchanged
    assert pipe._ingest_epoch == 1
    assert pipe._ingest_watermark == wm_before
    # redelivery of the SAME batch now replays in full (not dropped as a
    # replay) and converges to the uninterrupted fold
    stats = pipe.ingest_batch(b2)
    assert stats["batch_docs"] == b2.count()
    got = sorted(
        r.doc_id for r in pipe.ingested_survivors().select("doc_id").collect()
    )
    assert got == want
    assert pipe._ingest_epoch == 2


def test_ingest_restore_after_driver_restart(spark, tmp_path):
    """Crash recovery: a NEW pipeline object over the same output_dir
    restores epoch/watermark/state from parquet and continues the fold —
    final survivors must equal an uninterrupted 3-batch run, and a
    replayed batch after restore is still a no-op."""
    from pyspark.sql import functions as F

    from sales_etl_pipeline_spark.operators.pipeline import TrainingDataPipeline

    docs = load_table(spark, SF, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0] + 1
    batches = [
        docs.filter(
            (F.col("doc_id") >= i * hi // 3) & (F.col("doc_id") < (i + 1) * hi // 3)
        )
        for i in range(3)
    ]

    # uninterrupted reference fold
    ref = TrainingDataPipeline(spark, SF, str(tmp_path / "ref"))
    ref.reset_ingest()
    for b in batches:
        ref.ingest_batch(b)
    want = sorted(
        r.doc_id for r in ref.ingested_survivors().select("doc_id").collect()
    )

    # crash between batch 2 and 3: new object, restore, continue
    d = str(tmp_path / "crash")
    p1 = TrainingDataPipeline(spark, SF, d)
    p1.reset_ingest()
    p1.ingest_batch(batches[0])
    p1.ingest_batch(batches[1])
    p2 = TrainingDataPipeline(spark, SF, d)  # "restarted driver"
    stats = p2.restore_ingest()
    assert stats["restored_epoch"] == 2
    assert p2.ingest_batch(batches[1])["batch_docs"] == 0  # replay no-op
    p2.ingest_batch(batches[2])
    got = sorted(
        r.doc_id for r in p2.ingested_survivors().select("doc_id").collect()
    )
    assert got == want


def test_ingest_restore_cleans_torn_attempt(spark, tmp_path):
    """Crash INSIDE an epoch, after the fingerprint/tombstone/band writes
    but before the canonical commit rename (the code-review window):
    restore must roll back to the last committed epoch — deleting the
    torn fingerprint epoch, tombstone/band batch dirs, and the staged
    canonical — so the at-least-once redelivery replays the batch in
    full and the final corpus equals an uninterrupted run."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from sales_etl_pipeline_spark.operators.pipeline import TrainingDataPipeline

    docs = load_table(spark, SF, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0] + 1
    batches = [
        docs.filter(
            (F.col("doc_id") >= i * hi // 3) & (F.col("doc_id") < (i + 1) * hi // 3)
        )
        for i in range(3)
    ]

    ref = TrainingDataPipeline(spark, SF, str(tmp_path / "ref"))
    ref.reset_ingest()
    for b in batches:
        ref.ingest_batch(b)
    want = sorted(
        r.doc_id for r in ref.ingested_survivors().select("doc_id").collect()
    )

    d = str(tmp_path / "crash")
    p1 = TrainingDataPipeline(spark, SF, d)
    p1.reset_ingest()
    p1.ingest_batch(batches[0])
    p1.ingest_batch(batches[1])
    # fabricate the torn epoch-3 attempt from the epoch-2 state: every
    # pre-commit write present, the canonical commit rename missing
    root = f"{d}/ingest_state"
    shutil.copytree(f"{root}/fingerprints_e2", f"{root}/fingerprints_e3")
    shutil.copytree(f"{root}/tombstones/batch_2", f"{root}/tombstones/batch_3")
    shutil.copytree(f"{root}/bands/batch_2", f"{root}/bands/batch_3")
    shutil.copytree(f"{root}/canonical/batch_2", f"{root}/staging_canonical_e3")

    p2 = TrainingDataPipeline(spark, SF, d)  # "restarted driver"
    stats = p2.restore_ingest()
    assert stats["restored_epoch"] == 2
    for torn in (
        "fingerprints_e3",
        "tombstones/batch_3",
        "bands/batch_3",
        "staging_canonical_e3",
    ):
        assert not os.path.exists(f"{root}/{torn}"), torn
    p2.ingest_batch(batches[2])  # the redelivered batch replays in full
    got = sorted(
        r.doc_id for r in p2.ingested_survivors().select("doc_id").collect()
    )
    assert got == want
    # full-replace fingerprint state keeps only the live epoch on disk
    fps = [x for x in os.listdir(root) if x.startswith("fingerprints_e")]
    assert fps == ["fingerprints_e3"]


def test_curated_strip_spans_rewrites_without_changing_membership(spark, tmp_path):
    """strip_spans=True rewrites survivor text through dedup_spans but
    must NOT change WHO survives (membership is decided on original
    text), and rewritten docs keep their metadata columns."""
    from pyspark.sql import functions as F

    from sales_etl_pipeline_spark.operators.pipeline import TrainingDataPipeline
    from sales_etl_pipeline_spark.plans.curation import dedup_spans

    plain = TrainingDataPipeline(spark, SF, str(tmp_path / "a")).curated()
    stripped = TrainingDataPipeline(
        spark, SF, str(tmp_path / "b"), strip_spans=True
    ).curated()
    assert plain.columns == stripped.columns
    a = sorted(r.doc_id for r in plain.select("doc_id").collect())
    b = sorted(r.doc_id for r in stripped.select("doc_id").collect())
    assert a == b  # identical membership
    # the rewrite really happened where spans were cut
    cleaned = {r.doc_id: r.clean_text for r in dedup_spans(spark, SF).collect()}
    changed = 0
    for r in stripped.select("doc_id", "text", "n_chars").collect():
        assert r.text == cleaned[r.doc_id]
        # length metadata must track the REWRITTEN text, not the original
        assert r.n_chars == len(r.text)
        changed += r.text != ""
    assert changed > 0


def test_hashed_cosine_finds_exact_duplicates(spark):
    """Identical texts have identical hashed vectors — every exact-dup
    pair must surface in hashed_cosine_pairs with cosine == 1.0 (integer
    dot == product of norms), and nothing below threshold leaks. Runs on
    the skew corpus (the driver corpus has no byte-identical texts;
    the boilerplate families there do)."""
    from pyspark.sql import functions as F

    from scripts.make_skewdata import ensure_skew_corpus
    from sales_etl_pipeline_spark.plans import llmdata

    skew = ensure_skew_corpus("/tmp/sfskew")
    docs = spark.read.parquet(f"{skew}/documents.parquet")
    dup_groups = (
        docs.groupBy("text")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .collect()
    )
    want_pairs = set()
    for g in dup_groups:
        ids = sorted(g.ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                want_pairs.add((ids[i], ids[j]))
    assert want_pairs  # the corpus really has exact dups
    got = {
        (r.doc_a, r.doc_b): r.cosine
        for r in llmdata.hashed_cosine_pairs(spark, skew).collect()
    }
    for p in want_pairs:
        assert p in got and abs(got[p] - 1.0) < 1e-12
    assert all(c >= llmdata.HASHED_COS_THRESHOLD for c in got.values())


def test_hashed_cosine_pairloop_inverted_bit_parity(spark):
    """The two physical plans of hashed_cosine_pairs (inverted-index
    self-join vs map-probe pair loop) are the SAME operator: bit-identical
    pair sets and cosines. Also pins the auto regime choice — the driver
    corpus's 31-word vocabulary makes Σ_b n_b² ≈ 36× n²/2, so auto must
    NOT take the degenerate inverted path (measured 101 s vs 19 s at
    sf0.1 before this dispatch existed)."""
    from sales_etl_pipeline_spark.plans import llmdata

    sf = "/root/testdata/sf0.01"
    inv = sorted(
        map(tuple, llmdata.hashed_cosine_pairs(spark, sf, method="inverted").collect())
    )
    pl = sorted(
        map(tuple, llmdata.hashed_cosine_pairs(spark, sf, method="pairloop").collect())
    )
    auto = sorted(map(tuple, llmdata.hashed_cosine_pairs(spark, sf).collect()))
    assert inv and inv == pl == auto
    import pytest

    with pytest.raises(ValueError):
        llmdata.hashed_cosine_pairs(spark, sf, threshold=0.0)
    with pytest.raises(ValueError):
        llmdata.hashed_cosine_pairs(spark, sf, method="blas")


def test_media_headers_parse_real_containers(spark):
    """REAL WAV/PNG/JPEG container headers (built with the stdlib, no
    media library) parse to the right metadata through the Arrow
    kernel; damaged/unknown payloads surface as container IS NULL rows,
    never task failures."""
    import io
    import struct
    import wave
    import zlib

    # real WAV via the stdlib encoder: 2ch, 8kHz, 0.5s of silence
    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(2)
    w.setsampwidth(2)
    w.setframerate(8000)
    w.writeframes(b"\x00\x00\x00\x00" * 4000)
    w.close()
    wav = buf.getvalue()

    # real minimal PNG: signature + IHDR(37x19) + IEND
    def chunk(tag, body):
        raw = tag + body
        return struct.pack(">I", len(body)) + raw + struct.pack(
            ">I", zlib.crc32(raw)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 37, 19, 8, 2, 0, 0, 0))
        + chunk(b"IEND", b"")
    )

    # minimal JPEG: SOI, APP0 stub, SOF0 with 640x480, EOI
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
        + b"\xff\xc0" + struct.pack(">H", 11)
        + b"\x08" + struct.pack(">HH", 480, 640) + b"\x01\x11\x00"
        + b"\xff\xd9"
    )

    # spec-legal JPEG with 0xFF fill padding before the SOF marker
    jpeg_fill = (
        b"\xff\xd8" + b"\xff\xff\xff"
        + b"\xc0" + struct.pack(">H", 11)
        + b"\x08" + struct.pack(">HH", 32, 64) + b"\x01\x11\x00"
        + b"\xff\xd9"
    )
    # valid PNG magic + IHDR whose u32 width overflows int32: damage,
    # must yield a NULL row — not an Arrow range error killing the task
    png_overflow = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 0xFFFFFFFF, 19, 8, 2, 0, 0, 0))
    )
    rows = [
        (1, bytearray(wav)),
        (2, bytearray(png)),
        (3, bytearray(jpeg)),
        (4, bytearray(b"garbage bytes here")),
        (5, bytearray(b"\x89PNG\r\n\x1a\n trunc")),  # corrupt PNG
        (6, bytearray(jpeg_fill)),
        (7, bytearray(png_overflow)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r.doc_id: r for r in multimodal.media_headers(df).collect()
    }
    assert got[1].container == "wav"
    assert (got[1].channels, got[1].sample_rate) == (2, 8000)
    assert got[1].duration_ms == 500
    assert got[2].container == "png" and (got[2].width, got[2].height) == (37, 19)
    assert got[3].container == "jpeg" and (got[3].width, got[3].height) == (640, 480)
    assert got[4].container is None and got[4].n_bytes == 18
    assert got[5].container is None  # corrupt: routed, not raised
    assert got[6].container == "jpeg" and (got[6].width, got[6].height) == (64, 32)
    assert got[7].container is None  # u32 overflow: damage, not a crash
    # pure-Python twin: the kernel is parse_media_header row-wise
    for doc_id, payload in rows:
        want = multimodal.parse_media_header(bytes(payload))
        r = got[doc_id]
        assert (
            r.container, r.width, r.height, r.channels,
            r.sample_rate, r.duration_ms, r.n_bytes,
        ) == want


def test_parse_media_header_never_raises_property(spark):
    """Property: parse_media_header is total — ANY byte string returns a
    7-tuple with n_bytes = len(payload), never an exception. Fuzzes
    random bytes plus adversarial prefixes (valid magics followed by
    garbage), the corpus reality the NULL-row contract promises."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    magics = [
        b"RIFF",
        b"RIFF\x00\x00\x00\x00WAVE",
        b"\x89PNG\r\n\x1a\n",
        b"\xff\xd8",
        b"\xff\xd8\xff\xff\xff",
    ]

    @settings(max_examples=300, deadline=None)
    @given(
        prefix=st.sampled_from(magics + [b""]),
        tail=st.binary(max_size=64),
    )
    def check(prefix, tail):
        payload = prefix + tail
        out = multimodal.parse_media_header(payload)
        assert isinstance(out, tuple) and len(out) == 7
        assert out[6] == len(payload)
        # every populated numeric field must fit the Arrow schema
        for v in out[1:5]:
            assert v is None or 0 <= v < 2**31

    check()


def test_sql_key_literal_roundtrip_property(spark):
    """Property: for ANY printable string key, the generated literal
    parses in Spark SQL and selects exactly that key — the injection
    surface is closed for the whole input space, not just the fixtures."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sales_etl_pipeline_spark.streaming.jobs import _sql_key_literal

    @settings(max_examples=60, deadline=None)
    @given(
        key=st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), min_codepoint=1
            ),
            min_size=1,
            max_size=24,
        )
    )
    def check(key):
        df = spark.createDataFrame([(key,), (key + "_other",)], "k string")
        kept = [r.k for r in df.filter(f"k IN ({_sql_key_literal(key)})").collect()]
        assert kept == [key]

    check()


# ---------------------------------------------------------------------------
# incremental IVF maintenance (VERDICT r11 item 5)


def _exact_topk(vecs: dict, query_ids, top_k=5):
    """numpy brute-force cosine top-k over {vec_id: np.array} — the
    exact baseline for the folded-index recall gate."""
    import numpy as np

    ids = sorted(vecs)
    M = np.vstack([vecs[i] for i in ids])
    nrm = np.sqrt((M * M).sum(1))
    out = {}
    for q in query_ids:
        qi = ids.index(q)
        cos = (M @ M[qi]) / (nrm * nrm[qi])
        cos[qi] = -np.inf
        order = sorted(range(len(ids)), key=lambda j: (-cos[j], ids[j]))
        out[q] = [ids[j] for j in order[:top_k]]
    return out


def test_ivf_fold_equals_rebuild(spark):
    """fold_ivf_postings(postings(base), delta) must equal
    ivf_index_postings(base ∪ delta) EXACTLY — assignment against frozen
    centroids is row-local, so the fold is bit-equal, not a band."""
    from pyspark.sql import functions as F

    from sales_etl_pipeline_spark.plans import llmdata

    emb = llmdata._embeddings_normed(spark, SF)
    base = emb.filter(F.col("vec_id") < 300)
    d1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    d2 = emb.filter(F.col("vec_id") >= 400)
    cent_ids, cmat, cn = llmdata._train_centroids(base, cache_key=None)
    folded = llmdata.fold_ivf_postings(
        llmdata.fold_ivf_postings(
            llmdata.ivf_index_postings(base, cent_ids, cmat, cn),
            d1, cent_ids, cmat, cn,
        ),
        d2, cent_ids, cmat, cn,
    )
    rebuilt = llmdata.ivf_index_postings(emb, cent_ids, cmat, cn)
    got = {(r.vec_id, r.cluster) for r in folded.select("vec_id", "cluster").collect()}
    want = {(r.vec_id, r.cluster) for r in rebuilt.select("vec_id", "cluster").collect()}
    assert got == want and len(got) == emb.count()


def test_ivf_folded_index_recall_after_appends(spark):
    """The recall bound holds on an index grown by K=2 appends: top-5
    from the folded postings vs numpy exact top-5 over the full corpus,
    mean recall ≥ 0.9 (the ann_ivf_topk gate, applied to the
    incrementally-maintained index)."""
    import numpy as np
    from pyspark.sql import functions as F

    from sales_etl_pipeline_spark.plans import llmdata

    emb = llmdata._embeddings_normed(spark, SF)
    base = emb.filter(F.col("vec_id") < 300)
    d1 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    d2 = emb.filter(F.col("vec_id") >= 400)
    cent_ids, cmat, cn = llmdata._train_centroids(base, cache_key=None)
    folded = llmdata.fold_ivf_postings(
        llmdata.fold_ivf_postings(
            llmdata.ivf_index_postings(base, cent_ids, cmat, cn),
            d1, cent_ids, cmat, cn,
        ),
        d2, cent_ids, cmat, cn,
    )
    queries = emb.filter(F.col("vec_id") < 20)
    # k = ceil(300/50) = 6 trained cells; probe 5 — the sqrt rule is
    # calibrated for real k (hundreds+), not a 6-cell toy index
    got_rows = llmdata.ann_topk_over_postings(
        folded, queries, cent_ids, cmat, cn, nprobe=5, top_k=5
    ).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    vecs = {
        r.vec_id: np.array(list(r.v), dtype="float64")
        for r in emb.select("vec_id", "v").collect()
    }
    want = _exact_topk(vecs, sorted(got), top_k=5)
    recalls = [
        len(set(got[q]) & set(want[q])) / 5.0 for q in sorted(got)
    ]
    assert len(recalls) == 20
    assert sum(recalls) / len(recalls) >= 0.9, sum(recalls) / len(recalls)


def test_ivf_drift_stats_detect_shift(spark, tmp_path):
    """Retrain-trigger responsiveness, one corpus per failure mode the
    two signals exist to catch: vs an iid append stream, (a) a NEGATED
    append stream (maximally wrong direction for a cosine index) drops
    the delta assignment cosine hard, and (b) a HOT-SPOT append stream
    (every new vector a copy of one document — the crawl-replica shape)
    concentrates delta mass into one cell and drives the TV distance
    up. Either crossing its threshold is the retrain trigger."""
    import numpy as np

    from sales_etl_pipeline_spark.plans import llmdata

    # clustered corpus (drift statistics are about CLUSTERED data — on
    # near-uniform vectors every assignment cosine is equally mediocre
    # and no statistic can tell fit from misfit): 4 tight orthogonal
    # clusters; base = ids 0..399 (100/cluster), appends = ids 400..499
    rng = np.random.default_rng(31)
    dim, per = 16, 100
    centers = np.zeros((4, dim))
    for c in range(4):
        centers[c, c] = 10.0
    def _cluster_rows(start_id, ks):
        rows = []
        for i, k in enumerate(ks):
            v = centers[k] + rng.normal(0, 0.5, dim)
            rows.append((start_id + i, [float(x) for x in v]))
        return rows

    base_rows = _cluster_rows(0, [i % 4 for i in range(4 * per)])
    iid_rows = _cluster_rows(400, [i % 4 for i in range(per)])
    # shifted: a 5th direction the training never saw
    far = np.zeros(dim); far[5] = 10.0
    shift_rows = [
        (400 + i, [float(x) for x in far + rng.normal(0, 0.5, dim)])
        for i in range(per)
    ]
    # hot-spot: every append lands in cluster 0 (crawl-replica shape)
    hot_rows = _cluster_rows(400, [0] * per)

    def _mk(name, delta_rows):
        d = str(tmp_path / name)
        spark.createDataFrame(
            base_rows + delta_rows, "vec_id long, embedding array<float>"
        ).coalesce(2).write.mode("overwrite").parquet(
            os.path.join(d, "embeddings.parquet")
        )
        return d

    def _signals(d):
        rows = llmdata.ivf_drift_stats(spark, d).collect()
        tv = 0.5 * sum(r.share_drift for r in rows)
        with_cos = [r for r in rows if r.delta_mean_cos is not None]
        sz = sum(r.delta_size for r in with_cos)
        mean_cos = sum(r.delta_mean_cos * r.delta_size for r in with_cos) / sz
        return tv, mean_cos

    tv_iid, cos_iid = _signals(_mk("iid", iid_rows))
    _, cos_shift = _signals(_mk("shift", shift_rows))
    tv_hot, _ = _signals(_mk("hot", hot_rows))
    assert cos_iid > 0.9  # the trained index FITS its own distribution
    assert cos_shift < cos_iid - 0.3, (cos_iid, cos_shift)
    assert tv_hot > tv_iid + 0.2, (tv_iid, tv_hot)


# ---------------------------------------------------------------------------
# Count-Min sketch (r12)


def test_countmin_fold_is_bit_exact(spark):
    """Counts are linear, so merge_countmin(cm(b1), cm(b2)) must equal
    the batch-free sketch EXACTLY — the strongest fold contract in the
    sketch family (digests only give a band)."""
    from pyspark.sql import functions as F

    from sales_etl_pipeline_spark.plans import llmdata

    def _cm_of(docs):
        tok = docs.select(
            F.explode(llmdata.tokens(F.col("text"))).alias("tok")
        )
        return (
            tok.select(
                F.explode(
                    llmdata._cm_cells(F.col("tok"), llmdata.CM_W, llmdata.CM_D)
                ).alias("rc")
            )
            .select(F.col("rc.r").alias("r"), F.col("rc.cell").alias("cell"))
            .groupBy("r", "cell")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    docs = load_table(spark, SF, "documents")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 != 0)
    folded = {
        (r.r, r.cell): r.cnt
        for r in llmdata.merge_countmin(_cm_of(b1), _cm_of(b2)).collect()
    }
    full = {
        (r.r, r.cell): r.cnt
        for r in llmdata.countmin_sketch(spark, SF).collect()
    }
    assert folded == full


def test_countmin_estimates_guarantee(spark):
    """The CM guarantee on the real corpus: every estimate ≥ its true
    count (one-sided error), and the overcount respects the ε-δ bound —
    err ≤ 2N/w must hold for MOST queried terms (the bound fails per
    term with prob ≤ 2^-d per the min-over-rows argument; we assert ≤
    10% violations, far looser than 2^-4, plus a hard cap of 4N/w)."""
    from pyspark.sql import functions as F

    from sales_etl_pipeline_spark.plans import llmdata

    rows = llmdata.countmin_estimates(spark, SF).collect()
    assert rows
    docs = load_table(spark, SF, "documents")
    n_tokens = docs.select(
        F.explode(llmdata.tokens(F.col("text"))).alias("t")
    ).count()
    bound = 2.0 * n_tokens / llmdata.CM_W
    violations = 0
    for r in rows:
        assert r.cm_estimate >= r.true_count, (r.term, r.true_count, r.cm_estimate)
        err = r.cm_estimate - r.true_count
        assert err <= 2 * bound, (r.term, err, bound)
        if err > bound:
            violations += 1
    assert violations <= max(1, len(rows) // 10), (violations, len(rows))


def test_quality_aware_dedup_keeps_best_copy(spark):
    """Retention policy invariants: exactly ONE survivor per near-dup
    component, the survivor has the component's max quality score
    (doc_id tiebreak), and every un-clustered doc is kept."""
    from sales_etl_pipeline_spark.plans import llmdata

    sf = "/root/testdata/sf0.01"
    rows = llmdata.quality_aware_dedup(spark, sf).collect()
    comps: dict[int, list] = {}
    for r in rows:
        if r.component is None:
            assert r.kept  # singleton: always survives
        else:
            comps.setdefault(r.component, []).append(r)
    assert comps  # the corpus has near-dup clusters
    for cid, members in comps.items():
        kept = [r for r in members if r.kept]
        assert len(kept) == 1, cid
        best = max(members, key=lambda r: (r.quality_score, -r.doc_id))
        assert kept[0].doc_id == best.doc_id, cid
