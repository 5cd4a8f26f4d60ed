"""Sinks K1–K6 (SURVEY.md §2.9; reference etl.py:264-386).

All reference SQL sinks are full-replace (``if_exists='replace'``,
etl.py:300,329,358) → ``mode("overwrite")`` here. Summary outputs are small
(thousands of rows) so single-file coalesce(1) is safe; fact-table writes
keep their partitioning.
"""

from __future__ import annotations

import contextlib
import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pandas as pd  # module-scope: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, functions as F
from pyspark.util import inheritable_thread_target


def _lowercase_columns(df: DataFrame) -> DataFrame:
    # Reference lowercases column names at the PG/MySQL sinks (etl.py:328,354).
    return df.toDF(*[c.lower() for c in df.columns])


def _round_doubles(df: DataFrame, scale: int = 2) -> DataFrame:
    # Reference rounds float columns to 2 dp at the MySQL sink (etl.py:356-357).
    cols = [
        F.round(F.col(name), scale).alias(name) if dtype == "double" else F.col(name)
        for name, dtype in df.dtypes
    ]
    return df.select(*cols)


def write_csv(df: DataFrame, path: str, single_file: bool = True) -> None:
    """K1 (etl.py:264-274): header CSV, one file per table."""
    out = df.coalesce(1) if single_file else df
    out.write.option("header", "true").mode("overwrite").csv(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """K2 (etl.py:276-290). Spark schemas are explicit, so the reference's
    object→str workaround (etl.py:287-288) has no equivalent. Fact-scale
    writes should pass partition_by (e.g. a date column) for pruning."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_json(df: DataFrame, path: str, single_file: bool = True) -> None:
    """JSON-lines sink (read/write symmetry with readers.read_json) —
    the interchange format for downstream tokenizer/training jobs that
    consume line-delimited records rather than columnar files."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink — the other columnar format Spark supports natively
    (zero extra deps); same pushdown/pruning story as parquet for
    warehouses standardized on ORC."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


#: z-order quantization resolution per dimension (bits)
ZORDER_BITS = 16


def _zorder_numeric(dtypes: dict, c: str) -> F.Column:
    """Order-preserving numeric coercion shared by both z-order paths:
    timestamps (tz or ntz) and dates have no direct double cast; epoch
    seconds / days preserve order, which is all z-order needs."""
    t = dtypes[c]
    if t.startswith("timestamp"):
        return F.unix_timestamp(F.col(c)).cast("double")
    if t == "date":
        return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
    return F.col(c).cast("double")


def _zorder_interleave(quantized: list, bits: int) -> F.Column:
    """Morton bit-interleave over per-column quantized levels — the
    shift/and/or expression tree shared by both z-order paths."""
    ncols = len(quantized)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, q in enumerate(quantized):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(q, b).bitwiseAND(F.lit(1)), b * ncols + i
                )
            )
    return z


def zorder_column(df: DataFrame, cols: list[str], bits: int = ZORDER_BITS) -> F.Column:
    """Morton (z-order) key over 2+ numeric/date columns: each column is
    min/max-quantized to ``bits`` levels, and the bit-planes are
    interleaved so rows close in EVERY dimension get close keys. Built
    entirely from shift/and/or expressions — codegen'd, no UDF; the only
    pre-pass is one global min/max aggregate per column (a single
    scan-grain job whose result folds into the expression as literals).

    Min/max linear quantization is the simple default; a skewed column
    wastes levels — ``zorder_column_quantile`` below swaps in
    approx-quantile boundaries for that case (same interleave)."""
    dtypes = dict(df.dtypes)
    stats = df.agg(
        *[
            f(_zorder_numeric(dtypes, c)).alias(f"{n}_{c}")
            for c in cols
            for n, f in (("lo", F.min), ("hi", F.max))
        ]
    ).first()
    quantized = []
    for c in cols:
        lo, hi = stats[f"lo_{c}"], stats[f"hi_{c}"]
        span = (hi - lo) or 1.0
        q = F.least(
            F.lit((1 << bits) - 1),
            F.floor(
                (_zorder_numeric(dtypes, c) - F.lit(lo))
                / F.lit(span)
                * F.lit(float((1 << bits) - 1) + 0.9999)
            ).cast("long"),
        )
        quantized.append(q)
    return _zorder_interleave(quantized, bits)


def zorder_column_quantile(
    df: DataFrame, cols: list[str], bits: int = 8
) -> F.Column:
    """Skew-robust Morton key: quantize each column by its QUANTILES
    (equi-populated levels) instead of min/max (equi-width). On a
    power-law column, linear quantization parks nearly every row in
    level 0 and one outlier claims the rest — file stats then all span
    the hot range and nothing prunes; quantile boundaries give every
    level ~1/2^bits of the rows by construction
    (tests/test_scale_patterns.py demonstrates the difference on a
    Zipf-ish column).

    Mechanics: ``approxQuantile`` fetches 2^bits−1 cut points per column
    (driver traffic = cut-point grain, like the IVF centroid matrix),
    and an Arrow-batched ``searchsorted`` kernel maps values to levels —
    the one place the z-order family uses a UDF, because Catalyst has no
    binary-search-against-literal-array expression that stays
    vectorized; with bits ≤ 8 the LUT is ≤ 255 doubles. Interleave is
    shared with the linear path."""
    import numpy as np
    import pandas as pd  # noqa: F401 — resolved by the UDF's type hints
    from pyspark.sql.functions import pandas_udf

    dtypes = dict(df.dtypes)
    num = df.select(
        *[_zorder_numeric(dtypes, c).alias(f"_q_{c}") for c in cols]
    )
    n_levels = 1 << bits
    probs = [i / n_levels for i in range(1, n_levels)]
    all_cuts = num.approxQuantile(
        [f"_q_{c}" for c in cols], probs, 0.001
    )
    quantized = []
    for c, cuts in zip(cols, all_cuts):
        cut_arr = np.asarray(cuts, dtype=np.float64)

        def _make(cut_arr=cut_arr):
            @pandas_udf("long")
            def _level(x: pd.Series) -> pd.Series:
                v = x.to_numpy(dtype=np.float64)
                return pd.Series(np.searchsorted(cut_arr, v, side="right"))

            return _level

        quantized.append(_make()(_zorder_numeric(dtypes, c)))
    return _zorder_interleave(quantized, bits)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    files: int = 32,
    bits: int = ZORDER_BITS,
    quantile: bool = False,
) -> None:
    """Z-order-clustered parquet: range-partition and sort by the Morton
    key of ``cols`` so every file's min/max footer stats span a narrow
    range in ALL clustered dimensions — the multi-column data-skipping
    layout (Delta/Iceberg OPTIMIZE ZORDER; here as a plain-parquet
    write). A single-column sort gives perfect pruning on that column
    and none on the others; z-order trades a little per-column locality
    for pruning on every clustered column at once
    (tests/test_scale_patterns.py measures both effects on real footer
    stats). At 100 TB this is the difference between a needle query
    scanning one file and scanning a full partition. ``quantile=True``
    switches to equi-populated level boundaries (8-bit) for skewed
    columns — see zorder_column_quantile."""
    zcol = (
        zorder_column_quantile(df, cols)
        if quantile
        else zorder_column(df, cols, bits)
    )
    (
        df.withColumn("_z", zcol)
        .repartitionByRange(files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


#: compaction target: bytes per output file (128 MiB — one HDFS-ish block;
#: small enough to parallelize, large enough that footer/open overhead and
#: NameNode/listing pressure stay negligible)
COMPACT_TARGET_BYTES = 128 * 1024 * 1024


def compact_parquet(
    src: str,
    dest: str,
    target_bytes: int = COMPACT_TARGET_BYTES,
    spark=None,
) -> dict:
    """Compact a small-files parquet directory into ~``target_bytes``
    files — the operational fix for THE chronic large-pipeline problem
    (streaming sinks, per-epoch appends, and over-parallel writes leave
    thousands of KB-scale files; every later scan then pays per-file
    open/footer/listing cost and tiny row groups defeat pruning).

    Sizing comes from the source's actual on-disk bytes (filesystem
    listing, no data read), so the output file count adapts to the data:
    n_out = ceil(total_bytes / target_bytes). The rewrite is one
    round-robin repartition — no key assumption; use write_zordered /
    write_shuffled instead when the layout should also cluster or
    permute. Returns {files_in, files_out, bytes}."""
    import glob

    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    files = [
        f
        for f in glob.glob(os.path.join(src, "**", "*.parquet"), recursive=True)
        or glob.glob(os.path.join(src, "*.parquet"))
        if os.path.isfile(f)
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_bytes))
    df = spark.read.parquet(src)
    df.repartition(n_out).write.mode("overwrite").parquet(dest)
    n_written = len(glob.glob(os.path.join(dest, "*.parquet")))
    return {"files_in": len(files), "files_out": n_written, "bytes": total}


def write_shuffled(
    df: DataFrame,
    path: str,
    key_col: str,
    files: int = 32,
    seed: str = "epoch0",
) -> None:
    """Deterministic global shuffle — the 'randomize training order'
    step between curation and tokenization: rows are ordered by
    ``md5(key || seed)`` (a reproducible pseudo-random permutation; a
    different ``seed`` gives an independent order per epoch), range-
    partitioned into ``files`` sorted output files. Unlike
    ``orderBy(rand())`` the permutation is stable across retries and
    cluster sizes — rerunning a failed write yields byte-identical
    files, and two epochs' orders are decorrelated by the seed, not by
    RNG state. One range exchange, no driver involvement
    (tests/test_scale_patterns.py pins determinism, completeness, and
    inter-file order)."""
    from ..functions.core import md5_long

    shuffle_key = md5_long(
        F.concat(F.col(key_col).cast("string"), F.lit("#"), F.lit(seed))
    )
    (
        df.withColumn("_shuffle", shuffle_key)
        .repartitionByRange(files, "_shuffle")
        .sortWithinPartitions("_shuffle")
        .drop("_shuffle")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, buckets: int = 32
) -> None:
    """Bucketed managed table: pre-shuffles once at write time so every
    later equi-join or aggregation on ``bucket_col`` between tables
    bucketed the same way plans with NO exchange — the co-located-join
    pattern for fact⋈fact at 100 TB, where the per-query shuffle (not the
    scan) is the bottleneck. Sorted within buckets so sort-merge join
    skips its sort too. Verified shuffle-free in
    tests/test_scale_patterns.py::test_bucketed_join_avoids_shuffle."""
    (
        df.write.bucketBy(buckets, bucket_col)
        .sortBy(bucket_col)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


#: one writer at a time per process: sqlite allows a single writer per
#: database file, and save_tables fans tables out on threads that all
#: target the same ``.db``
_SQLITE_LOCK = threading.Lock()


def write_sqlite(df: DataFrame, db_path: str, table: str) -> None:
    """K3 (etl.py:292-303). Summary tables are driver-collectable by design
    (§4.3 invariant: sinks of this kind only receive aggregated relations);
    we go through Arrow→pandas→sqlite3 which are all in-container. The
    Spark collect runs unlocked; only the sqlite write holds the lock."""
    os.makedirs(os.path.dirname(db_path) or ".", exist_ok=True)
    import sqlite3

    pdf = df.toPandas()
    with _SQLITE_LOCK, contextlib.closing(sqlite3.connect(db_path)) as conn:
        pdf.to_sql(table, conn, if_exists="replace", index=False)
        conn.commit()


def write_jdbc(df: DataFrame, url: str, table: str, properties: dict | None = None, round_scale: int | None = None) -> None:
    """K4/K5 (etl.py:305-362): PostgreSQL/MySQL via Spark's JDBC writer.

    Distributed writes (each partition opens a connection) — unlike the
    reference's single SQLAlchemy connection. Requires the JDBC driver jar
    on the classpath; raises a clear error otherwise.
    """
    out = _lowercase_columns(df)
    if round_scale is not None:
        out = _round_doubles(out, round_scale)
    writer = out.write.format("jdbc").option("url", url).option("dbtable", table).mode("overwrite")
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


#: formats save_tables can write; every one but sqlite is a directory
#: ``<table>.<format>`` under the output dir
SINK_FORMATS = ("csv", "parquet", "sqlite", "json", "orc")


def _sink_path(output_dir: str, fmt: str, name: str) -> str:
    if fmt == "sqlite":
        return os.path.join(output_dir, "sales_data.db")
    return os.path.join(output_dir, f"{name}.{fmt}")


def _write_table(df: DataFrame, output_dir: str, name: str, formats: list[str]) -> None:
    """Every requested sink of one table, computing its plan once: the
    parquet sink is written first and every other format reads it back
    with the plan's schema (no inference job). Without parquet, each
    format writes from the plan."""
    if "parquet" in formats:
        path = _sink_path(output_dir, "parquet", name)
        write_parquet(df, path)
        df = df.sparkSession.read.schema(df.schema).parquet(path)
    for fmt in formats:
        path = _sink_path(output_dir, fmt, name)
        if fmt == "csv":
            write_csv(df, path)
        elif fmt == "sqlite":
            write_sqlite(df, path, name)
        elif fmt == "json":
            write_json(df, path)
        elif fmt == "orc":
            write_orc(df, path)


def save_tables(tables: dict[str, DataFrame], output_dir: str, formats: list[str] | None = None) -> dict[str, list[str]]:
    """K6 dispatcher (etl.py:364-386): fan a dict-catalog out to sinks.

    Default formats mirror the reference's ``['csv','parquet','sqlite']``.
    Each table's plan is computed once: its parquet sink is written
    first (when requested) and the other formats are written from that
    file. The tables fan out concurrently, one thread each; the threads
    inherit the caller's job group and local properties, and sqlite
    writes take turns on the shared ``sales_data.db``. Every started
    write finishes before the first failure (in table order) is raised.
    Returns {format: [written paths/tables]}, in ``formats`` and table
    order.
    """
    formats = formats or ["csv", "parquet", "sqlite"]
    for fmt in formats:
        if fmt not in SINK_FORMATS:
            raise ValueError(f"Unknown sink format: {fmt!r} (jdbc sinks go through write_jdbc)")
    os.makedirs(output_dir, exist_ok=True)
    with ThreadPoolExecutor(max_workers=max(1, len(tables))) as pool:
        futures = [
            pool.submit(inheritable_thread_target(df.sparkSession)(_write_table), df, output_dir, name, formats)
            for name, df in tables.items()
        ]
    for future in futures:
        future.result()
    return {fmt: [_sink_path(output_dir, fmt, name) for name in tables] for fmt in formats}


def write_epoch_shards(df: DataFrame, path: str, n_shards: int) -> None:
    """Materialize an epoch-shuffled corpus (plans/assembly.
    epoch_shuffle_assignment joined back to its rows) as ONE
    position-ordered parquet file per shard directory: repartition on
    the shard key so each shard lands wholly in one task, sort within
    partitions by (shard, pos), and partitionBy-write — parquet
    preserves within-file row order, so a trainer streaming a shard
    file reads the epoch order with no sort at load time. When two
    shard keys hash to the same task the partitionBy split still emits
    one file per shard, each internally ordered. Requires ``shard`` and
    ``pos`` columns; everything else is carried through."""
    (
        df.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
