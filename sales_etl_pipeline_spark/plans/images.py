"""Image-grain curation operators (r14): the documents treatment for the
image column — exact byte-hash dedup (+ its append-only incremental
fold), integer-exact perceptual fingerprints (aHash/dHash) with a
banded near-dup join, transitive dedup resolution over the perceptual
edges, a float pHash (DCT) scale-path twin, and decontamination in both
flavors (exact payload-hash and perceptual near-dup).

The corpus is the driver's deterministic synthetic payload
(operators/multimodal.attach_media: ``repeat(md5(text), 8)`` = 256 ASCII
bytes, read as a 16×16 byte grid) — real codec DECODE stays env-gated
behind operators/multimodal.decode_media (no pillow in this container),
but every operator here is codec-INDEPENDENT: it consumes raw decoded
bytes, which is exactly what a real pipeline feeds it after the decode
kernel. To give the near-dup join non-trivial work, the fingerprint
corpus is augmented with deterministic PERTURBED VARIANTS (one 2×2 block
forced to 255 for every ``doc_id % VARIANT_MOD == 0`` document — the
synthetic stand-in for a re-encoded/watermarked copy); the perturbation
is a pure byte-level CASE expression, so the DuckDB oracles replay it
exactly.

Fingerprint exactness contract: aHash bit b = (2×2 block-sum × 64 >
grid total) and dHash bit = (block-sum > right-neighbor block-sum) are
INTEGER comparisons — no float anywhere — so the Arrow kernel and the
relational DuckDB replay agree bit-for-bit, and the hex encodings hash-
match. pHash (DCT-II + median threshold) is float by nature → library
rows-only with pytest gates (tests/test_images.py), the same split the
ANN family uses.

Near-dup blocking completeness is the SymSpell/fuzzy theorem shape: the
64-bit aHash splits into 4 disjoint 16-bit bands, so hamming(a, b) ≤ 3
⟹ at least one band is untouched ⟹ the band equi-join finds the pair
(pigeonhole). The oracle is the NAIVE all-pairs hamming join at
distinct-fingerprint grain — the value hash therefore proves the banded
candidate generation COMPLETE and the verify filter exact, the same
documented-naive-oracle convention as fuzzy_word_pairs.

Scale (100 TB): fingerprinting is one Arrow scan, zero shuffle, output
one 30-byte row per image regardless of payload size (the multimodal
reduction every downstream op works at). Dedup/decontam run at
fingerprint grain (hash-partition window / broadcast manifest join).
The near-dup join runs at DISTINCT-fingerprint grain after an exact-dup
pre-collapse (the minhash_near_dup regime), emits 4 band keys per hash,
and band values concentrate only if fingerprints concentrate — which
the pre-collapse already removed; residual hot bands are
AQE-skew-splittable. The naive all-pairs oracle is the documented
semantics baseline, never a production path.

Reference scope note: the reference pipeline
(``/root/reference/data/etl.py``) has no multimodal surface; this
extends the engine's north-star LLM-data scope (SURVEY.md §2.11), where
the r13 verdict named the image column the one thin first-class area.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.multimodal import attach_media
from ..sources.readers import load_table

#: every doc_id % VARIANT_MOD == 0 document gets a perturbed twin
VARIANT_MOD = 5
#: variant img_id = doc_id + VARIANT_OFFSET (collision-free: the
#: synthetic corpora top out many orders of magnitude below this)
VARIANT_OFFSET = 1_000_000_000
#: every doc_id % DUP_MOD == 0 document gets an EXACT byte-identical
#: twin (the "re-upload" every real image corpus carries; the driver
#: corpus has zero exact text dups, so without these the dedup and
#: decontamination plans would be vacuously all-singleton)
DUP_MOD = 3
#: exact-twin img_id offset; ≡ 1 (mod EVAL_MOD), so a twin of an
#: eval-side image always lands on the training side — guaranteeing
#: real cross-split contamination at every SF
DUP_OFFSET = 2_000_000_001
#: near-dup verify radius; 4 disjoint 16-bit bands make the band join
#: COMPLETE for hamming ≤ 3 (pigeonhole: 3 differing bits cannot touch
#: all 4 bands)
HAM_MAX = 3
#: decontamination eval split: doc_id % EVAL_MOD == 0 (id-based, NOT
#: content-based — a content-hash split would put duplicate images on
#: the same side by construction and the check would be vacuous)
EVAL_MOD = 16

_HEXD = "0123456789abcdef"

FP_SCHEMA = StructType(
    [
        StructField("img_id", LongType()),
        StructField("ahash_hex", StringType()),
        StructField("dhash_hex", StringType()),
        StructField("phash_hex", StringType()),
    ]
)


# ---------------------------------------------------------------------------
# corpus + fingerprint kernel


def _raise_id_breach(dtype: str = "long") -> F.Column:
    """The executor-side error a breaching id surfaces as, cast to the
    guarded column's type so the guard branch can thread it through
    EVERY output column (id and payload alike)."""
    return F.raise_error(
        F.concat(
            F.lit("image id-space invariant violated: doc_id "),
            F.col("doc_id").cast("string"),
            F.lit(" >= VARIANT_OFFSET (1e9); twin ids would alias originals"),
        )
    ).cast(dtype)


def _id_space_guard(media: DataFrame, *cols: str) -> DataFrame:
    """EMPTY-by-invariant guard branch, unioned into every corpus: any
    ``doc_id ≥ VARIANT_OFFSET`` row fails LOUD (executor-side
    ``raise_error``) the moment a plan scans the corpus. The variant/
    re-upload offset arithmetic and the ``(img_id % VARIANT_OFFSET) %
    EVAL_MOD`` side derivation all assume ids live below VARIANT_OFFSET;
    a larger corpus would otherwise silently alias twin ids onto
    originals and mis-assign eval/train sides — so the bound is a
    CHECKED invariant, not an assumption.

    Shape matters: the first cut of this guard was a per-row
    CASE/raise_error wrapped around doc_id itself, and Catalyst's
    projection collapsing inlined that CASE into every downstream
    reference — the r15 100× sweep measured the pure-expression video
    fingerprint pass at 361 s vs 37 s unguarded (10×). As a separate
    union branch the hot path stays untouched and the guard costs one
    pushed-down ``doc_id ≥ bound`` predicate scan (parquet min/max
    stats skip whole row groups on a valid corpus); ``raise_error``
    only ever evaluates on a breaching row. ``cols`` names the
    corpus's payload-side columns; the breach expression is threaded
    through EVERY output column (typed casts of the same
    ``raise_error``), so a plan trips the guard by consuming ANY
    corpus column — img_id OR payload (r15 ADVICE: the first shape
    only guarded the img_id projection). Residual caveat, stated
    honestly: a consumer that reads NO columns at all (a bare
    ``count()``) prunes the whole projection and only pays the
    pushed-down filter scan, so it counts breaching rows without
    erroring — every real plan in this module consumes payload and/or
    img_id, and the pytest gate pins both column paths."""
    breach_cols = {
        "payload": _raise_id_breach("binary").alias("payload"),
        "perturb_block": _raise_id_breach("int").alias("perturb_block"),
    }
    return media.filter(F.col("doc_id") >= VARIANT_OFFSET).select(
        _raise_id_breach().alias("img_id"), *[breach_cols[c] for c in cols]
    )


#: memo for ``_spread_corpus``'s layout probe (r17): the probe's
#: ``.rdd.getNumPartitions()`` builds a full physical plan — measured
#: ~0.3 s per corpus construction even warm — and its answer is a pure
#: function of (the documents table's on-disk file layout, the builder's
#: branch count, the cluster width, the reader confs that split files
#: into scan partitions). Key = those (file names + sizes + mtimes) plus
#: the application id, so a rewritten corpus at the same path, or a
#: session with other reader confs or another SparkContext, re-probes;
#: value = the spread DECISION only (a bool — no data, no plan, nothing
#: the bench's clearCache contract could care about).
_SPREAD_MEMO: dict = {}


def _corpus_layout_key(spark: SparkSession, sf_dir: str, tag: str):
    """(tag, path, file listing, cluster width, scan-split reader confs,
    application id) — None when the listing is unavailable (caller then
    probes unconditionally)."""
    path = os.path.join(sf_dir, "documents.parquet")
    try:
        if os.path.isdir(path):
            files = tuple(
                sorted(
                    (e.name, e.stat().st_size, e.stat().st_mtime_ns)
                    for e in os.scandir(path)
                    if e.name.endswith(".parquet")
                )
            )
        else:
            st = os.stat(path)
            files = (("", st.st_size, st.st_mtime_ns),)
    except OSError:
        return None
    sc = spark.sparkContext
    readers = tuple(
        spark.conf.get(k)
        for k in ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    )
    return (tag, os.path.realpath(path), files, sc.defaultParallelism, readers, sc.applicationId)


def _spread_corpus(df: DataFrame, memo_key=None) -> DataFrame:
    """Input-skew guard for the media corpora (guide §2.5), r17: spread
    the UNIONED corpus once when its incoming layout is narrower than
    half the cluster, so the per-payload fingerprint kernels downstream
    never run near single-task on an under-split source (the bench
    parquet is ONE row group ⇒ ~1 effective scan task). Post-union
    placement on purpose — the r16 in-branch variant paid the shuffle
    once per union branch and measured SLOWER family-wide; this single
    post-union exchange measured FASTER on every media row in the r17
    same-JVM interleaved A/B (outputs identical): image_fingerprints
    1.88→0.76 s, audio_near_dup_energy 2.62→1.80 s,
    image_near_dup_ahash 1.97→1.86 s, image_phash_fixed_near_dup wash.
    No-op on a properly split source and on streaming inputs (.rdd
    raises on those; micro-batches are small anyway). The probe itself
    is memoized per input layout (``_SPREAD_MEMO``) — every media plan
    in a session pays the physical-plan build at most once per distinct
    (corpus files, builder, width)."""
    if df.isStreaming:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    needs = _SPREAD_MEMO.get(memo_key) if memo_key is not None else None
    if needs is None:
        needs = df.rdd.getNumPartitions() < max(2, par // 2)
        if memo_key is not None:
            _SPREAD_MEMO[memo_key] = needs
    return df.repartition(par) if needs else df


def _image_corpus_raw(
    spark: SparkSession, sf_dir: str, variants: bool = True
) -> DataFrame:
    """Unspread corpus union — callers that union FURTHER branches
    (``_image_corpus_full``) build on this so the spread runs once,
    after the FINAL union."""
    media = attach_media(load_table(spark, sf_dir, "documents"))
    base = media.select(
        F.col("doc_id").alias("img_id"),
        "payload",
        F.lit(None).cast("int").alias("perturb_block"),
    )
    guard = _id_space_guard(media, "payload", "perturb_block")
    if not variants:
        return base.unionByName(guard)
    twins = media.filter(F.col("doc_id") % VARIANT_MOD == 0).select(
        (F.col("doc_id") + VARIANT_OFFSET).alias("img_id"),
        "payload",
        (F.col("doc_id") % 64).cast("int").alias("perturb_block"),
    )
    return base.unionByName(twins).unionByName(guard)


def _image_corpus(
    spark: SparkSession, sf_dir: str, variants: bool = True
) -> DataFrame:
    """(img_id, payload, perturb_block) — originals plus, when
    ``variants``, one deterministically perturbed twin per
    ``doc_id % VARIANT_MOD == 0`` document (block ``doc_id % 64`` forced
    to 255 inside the kernel; replayed as a CASE in the oracles).
    Carries the `_id_space_guard` branch. Spread once post-union
    (``_spread_corpus``)."""
    return _spread_corpus(
        _image_corpus_raw(spark, sf_dir, variants),
        memo_key=_corpus_layout_key(
            spark, sf_dir, f"corpus:variants={variants}"
        ),
    )


def _image_corpus_with_reups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(img_id, payload) — originals plus byte-identical re-upload twins
    for every ``doc_id % DUP_MOD == 0`` document (see DUP_MOD note).
    Carries the `_id_space_guard` branch."""
    media = attach_media(load_table(spark, sf_dir, "documents"))
    base = media.select(F.col("doc_id").alias("img_id"), "payload")
    twins = media.filter(F.col("doc_id") % DUP_MOD == 0).select(
        (F.col("doc_id") + DUP_OFFSET).alias("img_id"), "payload"
    )
    return base.unionByName(twins).unionByName(
        _id_space_guard(media, "payload")
    )


def _image_corpus_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(img_id, payload, perturb_block) — originals + perturbed variants
    + byte-identical re-upload twins, the richest corpus: re-uploads
    guarantee exact-dup families (and, DUP_OFFSET ≡ 1 mod EVAL_MOD,
    guaranteed CROSS-SPLIT exact leakage), variants guarantee near-dup
    families. Used by the audio/video decontamination + fold twins."""
    media = attach_media(load_table(spark, sf_dir, "documents"))
    reups = media.filter(F.col("doc_id") % DUP_MOD == 0).select(
        (F.col("doc_id") + DUP_OFFSET).alias("img_id"),
        "payload",
        F.lit(None).cast("int").alias("perturb_block"),
    )
    # the invariant guard branch rides in via _image_corpus_raw; spread
    # AFTER the final union so the re-upload branch never rides as a
    # straggler partition next to an already-spread corpus
    return _spread_corpus(
        _image_corpus_raw(spark, sf_dir).unionByName(reups),
        memo_key=_corpus_layout_key(spark, sf_dir, "corpus_full"),
    )


def fingerprint_kernel(
    payloads: list, perturb_blocks: list
) -> tuple[list, list, list]:
    """Pure-numpy perceptual fingerprints for a batch of 256-byte grids:
    (ahash_hex[16], dhash_hex[14], phash_hex[16]) per payload. Exposed
    as a plain function so tests drive it without a SparkSession.

    aHash bit blk: block_sum*64 > grid_total (strict, integer).
    dHash bit (r,c): block_sum(r,c) > block_sum(r,c+1), c < 7 (56 bits).
    pHash: orthonormal DCT-II of the float grid, top-left 8×8
    coefficients, strict > median of the 63 AC coefficients (DC bit
    compared against the same median) — float, hence rows-only."""
    import numpy as np

    grids = np.stack(
        [np.frombuffer(p, dtype=np.uint8) for p in payloads]
    ).astype(np.int64)
    for i, pb in enumerate(perturb_blocks):
        if pb is not None and not pd.isna(pb):
            pb = int(pb)
            p0 = 32 * (pb // 8) + 2 * (pb % 8)
            grids[i, [p0, p0 + 1, p0 + 16, p0 + 17]] = 255
    n = grids.shape[0]
    g = grids.reshape(n, 16, 16)
    blocks = g.reshape(n, 8, 2, 8, 2).sum(axis=(2, 4))  # (n, 8, 8) int
    totals = blocks.sum(axis=(1, 2))  # (n,)
    abits = (blocks.reshape(n, 64) * 64) > totals[:, None]
    dbits = blocks[:, :, :7] > blocks[:, :, 1:]  # (n, 8, 7)
    # pHash: orthonormal 16-point DCT-II applied on both axes
    k = np.arange(16)
    M = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / 32) * np.sqrt(
        2.0 / 16
    )
    M[0] /= np.sqrt(2.0)
    D = M @ g.astype(np.float64) @ M.T  # (n, 16, 16)
    low = D[:, :8, :8].reshape(n, 64)
    med = np.median(low[:, 1:], axis=1)
    pbits = low > med[:, None]

    def _hex(bits: "np.ndarray") -> list:
        packed = np.packbits(bits, axis=1)
        return [row.tobytes().hex() for row in packed]

    return _hex(abits), _hex(dbits.reshape(n, 56)), _hex(pbits)


#: fixed-point DCT scale — products fit int64 with headroom:
#: 255 (byte) × 256 (positions) × PHASH_SCALE² ≈ 1.8e13 « 2^63
PHASH_SCALE = 1 << 14


def _phash_ctab() -> list[list[int]]:
    """The scaled-integer DCT-II cosine table C[u][n] =
    round(cos(π(2n+1)u/32) / (√2 if u==0 else 1) × PHASH_SCALE) for
    u in 0..7, n in 0..15 — the SINGLE source of truth shared by the
    Arrow kernel and the DuckDB oracle (the table is materialized once
    in Python, so no cross-engine transcendental evaluation is ever
    compared; the uniform orthonormal √(2/16) factor drops because the
    hash only compares coefficients against their own median)."""
    import math

    return [
        [
            round(
                math.cos(math.pi * (2 * n + 1) * u / 32)
                / (math.sqrt(2) if u == 0 else 1.0)
                * PHASH_SCALE
            )
            for n in range(16)
        ]
        for u in range(8)
    ]


_PHASH_CTAB = _phash_ctab()


def phash_fixed_kernel(payloads: list, perturb_blocks: list) -> list:
    """INTEGER-EXACT pHash (r15 — the VERDICT-r14 oracle-upgrade hunt):
    the float DCT replaced by the shared scaled-integer cosine table,
    making every step — 2-D transform, 63-AC-coefficient median
    (lower/middle order statistic of an odd count), strict > bits —
    exact integer arithmetic that a relational DuckDB replay reproduces
    bit-for-bit. Returns 16-char hex strings (64 bits, u-major)."""
    import numpy as np

    grids = np.stack(
        [np.frombuffer(p, dtype=np.uint8) for p in payloads]
    ).astype(np.int64)
    for i, pb in enumerate(perturb_blocks):
        if pb is not None and not pd.isna(pb):
            pb = int(pb)
            p0 = 32 * (pb // 8) + 2 * (pb % 8)
            grids[i, [p0, p0 + 1, p0 + 16, p0 + 17]] = 255
    n = grids.shape[0]
    g = grids.reshape(n, 16, 16)
    C = np.asarray(_PHASH_CTAB, dtype=np.int64)  # (8, 16)
    # D[u, v] = Σ_{y,x} C[u, y] · g[y, x] · C[v, x] — all int64
    D = np.einsum("uy,iyx,vx->iuv", C, g, C)
    low = D.reshape(n, 64)
    med = np.sort(low[:, 1:], axis=1)[:, 31]  # middle of 63, exact
    bits = low > med[:, None]
    packed = np.packbits(bits, axis=1)
    return [row.tobytes().hex() for row in packed]


def _fingerprints(corpus: DataFrame) -> DataFrame:
    """One Arrow-batched pass: payload grid → (ahash, dhash, phash) hex.
    Zero shuffle; the 256-byte payloads never leave executor batches."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ah, dh, ph = fingerprint_kernel(
                list(pdf["payload"]), list(pdf["perturb_block"])
            )
            yield pd.DataFrame(
                {
                    "img_id": pdf["img_id"].values,
                    "ahash_hex": ah,
                    "dhash_hex": dh,
                    "phash_hex": ph,
                }
            )

    return corpus.mapInPandas(_extract, FP_SCHEMA)


# ---------------------------------------------------------------------------
# plans


def image_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact perceptual fingerprints over the variant-augmented
    corpus — the image twin of doc_fingerprint. (pHash is rows-only by
    nature and lives in image_phash_near_dup; this oracle-checked plan
    carries the two integer-exact hashes.)"""
    return _fingerprints(_image_corpus(spark, sf_dir)).select(
        "img_id", "ahash_hex", "dhash_hex"
    )


def image_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact image dedup at payload-hash grain: md5 over the raw bytes,
    first-occurrence (min img_id) canonical per hash — the image twin of
    exact_dedup, over the re-upload-augmented corpus. One hash-partition
    window, no fact-grain state."""
    img = _image_corpus_with_reups(spark, sf_dir).select(
        "img_id", F.md5("payload").alias("payload_md5")
    )
    w = Window.partitionBy("payload_md5")
    return img.select(
        "img_id",
        "payload_md5",
        F.min("img_id").over(w).alias("canonical_id"),
        (F.col("img_id") != F.min("img_id").over(w)).alias("is_duplicate"),
    )


def incremental_image_dedup(
    state: DataFrame, new_images: DataFrame
) -> DataFrame:
    """Merge a NEW image batch into the running (img_id, payload_md5,
    dup_count) dedup state — the append-only ingest shape at image
    grain. This IS llmdata.incremental_exact_dedup re-keyed: the
    payload casts losslessly to its ASCII string (md5 agrees on both),
    so the text-grain merge is reused verbatim (delta collapsed
    batch-locally, full-outer merge on the hash, least-id canonical,
    summed counts) rather than re-implemented. Fold ≡ recompute is the
    registry plan's oracle below."""
    from .llmdata import incremental_exact_dedup

    s = state.select(
        F.col("img_id").alias("doc_id"),
        F.col("payload_md5").alias("content_md5"),
        "dup_count",
    )
    d = new_images.select(
        F.col("img_id").alias("doc_id"),
        F.col("payload").cast("string").alias("text"),
    )
    return incremental_exact_dedup(s, d).select(
        F.col("doc_id").alias("img_id"),
        F.col("content_md5").alias("payload_md5"),
        "dup_count",
    )


def incremental_image_dedup_fold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry exposure of the image-dedup fold: split the re-upload-
    augmented corpus into two deterministic batches (even/odd img_id),
    build the hash-grain state from batch 1, fold batch 2 through the
    delta merge. The oracle is the BATCH-FREE recompute (one GROUP BY
    over the whole corpus), so a green row proves fold ≡ recompute.
    Returns (img_id, payload_md5, dup_count) at distinct-payload
    grain."""
    corpus = _image_corpus_with_reups(spark, sf_dir)
    b1 = corpus.filter(F.col("img_id") % 2 == 0)
    b2 = corpus.filter(F.col("img_id") % 2 == 1)
    state = (
        b1.groupBy(F.md5("payload").alias("payload_md5"))
        .agg(
            F.min("img_id").alias("img_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("img_id", "payload_md5", "dup_count")
    )
    return incremental_image_dedup(state, b2)


def _band_cols(prefix: str = "") -> list:
    """The 4 disjoint 16-bit band integers of ahash_hex, via base-16
    conv on 4-hex-char substrings (≤ 65535 — no sign concerns)."""
    return [
        F.conv(F.substring(f"{prefix}ahash_hex", 4 * b + 1, 4), 16, 10)
        .cast("int")
        .alias(f"b{b}")
        for b in range(4)
    ]


def _banded_near_dup(fp: DataFrame) -> DataFrame:
    """Shared banded-LSH near-dup join over a (img_id, ahash_hex)
    relation: distinct-fingerprint grain (exact-dup pre-collapse),
    4×16-bit band equi-join for candidates, exact hamming verify
    (bit_count of per-band XOR), 1 ≤ hamming ≤ HAM_MAX. Complete for
    this radius (module docstring pigeonhole)."""
    from .llmdata import _pin

    hb = _pin(
        fp.groupBy("ahash_hex")
        .agg(F.min("img_id").alias("canon"))
        .select("canon", *_band_cols())
    )
    bands = hb.select(
        "canon",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
            "band_idx", "band_val"
        ),
    )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band_idx", "band_val"])
        .where(F.col("x.canon") < F.col("y.canon"))
        .select(
            F.col("x.canon").alias("doc_a"), F.col("y.canon").alias("doc_b")
        )
        .distinct()
    )
    a, b = hb.alias("a"), hb.alias("b")
    ham = sum(
        F.bit_count(
            F.col(f"a.b{k}").bitwiseXOR(F.col(f"b.b{k}")).cast("long")
        )
        for k in range(4)
    ).cast("int")
    return (
        cand.join(a, cand.doc_a == F.col("a.canon"))
        .join(b, cand.doc_b == F.col("b.canon"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .where((F.col("hamming") >= 1) & (F.col("hamming") <= HAM_MAX))
    )


def image_near_dup_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded perceptual near-dup join on the integer-exact aHash; the
    naive all-pairs oracle proves the banded candidate generation
    complete and the verify exact on every run."""
    return _banded_near_dup(
        _fingerprints(_image_corpus(spark, sf_dir)).select(
            "img_id", "ahash_hex"
        )
    )


def image_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pHash (DCT) banded near-dup — the float scale-path twin of
    image_near_dup_ahash (same banding, same radius, same completeness
    argument); rows-only by design (transcendental DCT basis), gated in
    tests/test_images.py (determinism, planted-variant recall, aHash
    cross-check)."""
    return _banded_near_dup(
        _fingerprints(_image_corpus(spark, sf_dir)).select(
            "img_id", F.col("phash_hex").alias("ahash_hex")
        )
    )


def _pfingerprints(corpus: DataFrame) -> DataFrame:
    """One Arrow pass: payload grid → fixed-point pHash hex
    (img_id, phash_hex). Zero shuffle."""
    schema = StructType(
        [
            StructField("img_id", LongType()),
            StructField("phash_hex", StringType()),
        ]
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "img_id": pdf["img_id"].values,
                    "phash_hex": phash_fixed_kernel(
                        list(pdf["payload"]), list(pdf["perturb_block"])
                    ),
                }
            )

    return corpus.mapInPandas(_extract, schema)


def image_phash_fixed_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fixed-point (integer-exact) pHash fingerprints — the
    oracle-upgrade twin of the float pHash: the shared scaled-integer
    cosine table makes the DCT, median and bits exactly replayable in
    SQL, so this plan joins the ORACLE tier the float variant never
    could (VERDICT r14 Next #5)."""
    return _pfingerprints(_image_corpus(spark, sf_dir))


def image_phash_fixed_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Banded near-dup join on the fixed-point pHash — same banding,
    radius and pigeonhole completeness as image_near_dup_ahash, proven
    by the same naive all-pairs oracle, now at DCT grain. The float
    image_phash_near_dup stays as the rows-only production variant; a
    pytest gate pins the two variants' bit-agreement so the float
    plan's semantics are anchored to this exact one."""
    return _banded_near_dup(
        _pfingerprints(_image_corpus(spark, sf_dir)).select(
            "img_id", F.col("phash_hex").alias("ahash_hex")
        )
    )


def image_dedup_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full perceptual-dedup pipeline in one plan — the image twin of
    quality_aware_dedup's cluster step: exact groups (identical aHash)
    collapse to their min-img_id canonical, canonicals link through the
    banded near-dup edges (hamming 1..HAM_MAX), transitive clusters come
    from the shared min-label-propagation loop
    (llmdata.components_from_edges), and every image inherits
    ``cluster_id`` = the min img_id of its whole cluster, with
    ``is_kept`` marking the one surviving copy. Oracle-EXACT: the DuckDB
    twin recomputes the fingerprints relationally, takes the NAIVE
    all-pairs edge relation, closes it with a recursive CTE, and
    MIN(label) per node is the converged labeling (the
    near_dup_components precedent at image grain).

    Scale: everything after the fingerprint scan runs at
    distinct-fingerprint / cluster grain — the iterative loop never
    touches image-grain rows."""
    from .llmdata import _pin, components_from_edges

    fp = _pin(
        _fingerprints(_image_corpus(spark, sf_dir)).select(
            "img_id", "ahash_hex"
        )
    )
    canon = _pin(
        fp.groupBy("ahash_hex").agg(F.min("img_id").alias("canon"))
    )
    edges = _banded_near_dup(fp).select("doc_a", "doc_b")
    comps = components_from_edges(edges)
    cluster = canon.join(
        comps.withColumnRenamed("doc_id", "canon"), "canon", "left"
    ).select(
        "ahash_hex",
        F.coalesce("component", "canon").alias("cluster_id"),
    )
    return fp.join(cluster, "ahash_hex").select(
        "img_id",
        "cluster_id",
        (F.col("img_id") == F.col("cluster_id")).alias("is_kept"),
    )


def image_text_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text pair decontamination: training images whose exact
    payload hash appears in the eval manifest (doc_id % EVAL_MOD == 0
    split) over the re-upload-augmented corpus (DUP_OFFSET ≡ 1 mod
    EVAL_MOD, so eval images' re-uploads always sit on the training
    side). Broadcast manifest semi-join with the match count carried —
    the contamination_check shape at image grain."""
    img = _image_corpus_with_reups(spark, sf_dir).select(
        "img_id", F.md5("payload").alias("payload_md5")
    )
    manifest = (
        img.filter(F.col("img_id") % EVAL_MOD == 0)
        .groupBy("payload_md5")
        .agg(F.count("*").alias("n_eval_matches"))
    )
    return img.filter(F.col("img_id") % EVAL_MOD != 0).join(
        F.broadcast(manifest), "payload_md5"
    ).select("img_id", "payload_md5", "n_eval_matches")


def image_decontamination_perceptual(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NEAR-DUP decontamination — the half exact hashes miss: training
    images whose aHash sits within hamming ≤ HAM_MAX of an EVAL image's
    aHash (re-encoded/watermarked eval leakage). Same id-based split as
    image_text_decontamination, over the variant-augmented corpus (a
    variant of an eval image is exactly the re-encode this operator
    exists to catch; variants inherit their original's split side via
    id arithmetic mod EVAL_MOD — VARIANT_OFFSET ≡ 0 mod EVAL_MOD, so a
    variant lands on its original's side and cross-split hits come from
    genuinely distinct documents' perturbed twins). Banded candidate
    join at distinct-(side, hash) grain, complete for the radius
    (pigeonhole); the oracle is the naive cross-split all-pairs hamming
    join. Returns (img_id, eval_img_id, hamming) — one row per
    (training image, matched eval image canonical) at canonical grain.
    """
    fp = _fingerprints(_image_corpus(spark, sf_dir)).select(
        "img_id", "ahash_hex"
    )
    return _banded_cross_split_decon(fp)


def _split_side(id_col: str = "img_id") -> F.Column:
    """'eval'/'train' side of an id: originals split on
    doc_id % EVAL_MOD; twins inherit via the % VARIANT_OFFSET
    reduction (VARIANT_OFFSET ≡ 0 mod EVAL_MOD keeps a variant on its
    original's side; DUP_OFFSET ≡ 1 flips a re-upload across)."""
    return F.when(
        (F.col(id_col) % VARIANT_OFFSET) % EVAL_MOD == 0, F.lit("eval")
    ).otherwise(F.lit("train"))


def _even_odd_fold(fp: DataFrame, id_col: str, hash_col: str) -> DataFrame:
    """Split any (id, fingerprint) relation into two deterministic
    batches (even/odd id), build hash-grain dedup state from batch 1,
    fold batch 2 through a full-outer delta merge — the
    llmdata.incremental_exact_dedup merge shape at arbitrary fingerprint
    grain (least-id canonical, summed counts), shared by the audio
    (energy-hash) and video (frame-signature) incremental folds. The
    oracle for every user is the BATCH-FREE recompute, so a green row
    proves fold ≡ recompute. Returns (id_col, hash_col, dup_count) at
    distinct-fingerprint grain."""

    def collapse(df: DataFrame) -> DataFrame:
        return df.groupBy(hash_col).agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )

    s = collapse(fp.filter(F.col(id_col) % 2 == 0)).select(
        hash_col,
        F.col(id_col).alias("s_id"),
        F.col("dup_count").alias("s_cnt"),
    )
    d = collapse(fp.filter(F.col(id_col) % 2 == 1)).select(
        hash_col,
        F.col(id_col).alias("d_id"),
        F.col("dup_count").alias("d_cnt"),
    )
    return s.join(d, hash_col, "full_outer").select(
        F.least(
            F.coalesce("s_id", "d_id"), F.coalesce("d_id", "s_id")
        ).alias(id_col),
        hash_col,
        (F.coalesce("s_cnt", F.lit(0)) + F.coalesce("d_cnt", F.lit(0))).alias(
            "dup_count"
        ),
    )


def _banded_cross_split_decon(fp: DataFrame) -> DataFrame:
    """Shared cross-split banded near-dup decontamination over any
    (img_id, ahash_hex) 64-bit-fingerprint relation — the
    image_decontamination_perceptual core, reused verbatim by the audio
    energy-hash twin (plans/audio.py). Distinct-(side, hash) grain,
    4×16-bit band candidates, exact hamming verify ≤ HAM_MAX; complete
    for the radius (module pigeonhole). Returns
    (img_id, eval_img_id, hamming) at canonical grain."""
    from .llmdata import _pin

    hb = _pin(
        fp.withColumn("side", _split_side())
        .groupBy("side", "ahash_hex")
        .agg(F.min("img_id").alias("canon"))
        .select("side", "canon", *_band_cols())
    )
    bands = hb.select(
        "side",
        "canon",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
            "band_idx", "band_val"
        ),
    )
    cand = (
        bands.where(F.col("side") == "train")
        .alias("x")
        .join(
            bands.where(F.col("side") == "eval").alias("y"),
            ["band_idx", "band_val"],
        )
        .select(
            F.col("x.canon").alias("img_id"),
            F.col("y.canon").alias("eval_img_id"),
        )
        .distinct()
    )
    a = hb.where(F.col("side") == "train").alias("a")
    b = hb.where(F.col("side") == "eval").alias("b")
    ham = sum(
        F.bit_count(
            F.col(f"a.b{k}").bitwiseXOR(F.col(f"b.b{k}")).cast("long")
        )
        for k in range(4)
    ).cast("int")
    return (
        cand.join(a, cand.img_id == F.col("a.canon"))
        .join(b, cand.eval_img_id == F.col("b.canon"))
        .select("img_id", "eval_img_id", ham.alias("hamming"))
        .where(F.col("hamming") <= HAM_MAX)
    )


# ---------------------------------------------------------------------------
# DuckDB oracles: replay the byte grid → block sums → bits → hex chain
# relationally (everything integer), incl. the variant perturbation CASE.

def _bytes_cte_sql(*, reups: bool = False) -> str:
    """The corpus → per-(img, pos) byte-value CTE chain; ``reups`` adds
    the byte-identical re-upload twins (pb NULL) so the audio/video
    decontamination + fold oracles replay `_image_corpus_full`."""
    reup_arm = (
        f"""
    UNION ALL
    SELECT doc_id + {DUP_OFFSET}, text, CAST(NULL AS INTEGER)
    FROM documents WHERE text IS NOT NULL AND doc_id % {DUP_MOD} = 0"""
        if reups
        else ""
    )
    return f"""
corpus AS (
    SELECT doc_id AS img_id, text, CAST(NULL AS INTEGER) AS pb
    FROM documents WHERE text IS NOT NULL
    UNION ALL
    SELECT doc_id + {VARIANT_OFFSET}, text, CAST(doc_id % 64 AS INTEGER)
    FROM documents WHERE text IS NOT NULL AND doc_id % {VARIANT_MOD} = 0{reup_arm}
),
bytes AS (
    SELECT img_id,
           CAST(t.i AS INTEGER) AS pos,
           CASE WHEN pb IS NOT NULL
                 AND CAST(t.i AS INTEGER) - (32*(pb//8) + 2*(pb%8))
                     IN (0, 1, 16, 17)
                THEN 255
                ELSE ascii(substring(repeat(md5(text), 8),
                                     CAST(t.i + 1 AS INTEGER), 1))
           END AS b
    FROM corpus, unnest(range(256)) AS t(i)
),
blocks AS (
    SELECT img_id, ((pos//16)//2)*8 + (pos%16)//2 AS blk, SUM(b) AS bsum
    FROM bytes GROUP BY 1, 2
),
tot AS (SELECT img_id, SUM(bsum) AS tsum FROM blocks GROUP BY 1),
abits AS (
    SELECT b.img_id, b.blk,
           CASE WHEN b.bsum*64 > t.tsum THEN 1 ELSE 0 END AS bit
    FROM blocks b JOIN tot t USING (img_id)
),
ahex AS (
    SELECT img_id,
           string_agg(substring('{_HEXD}', CAST(v + 1 AS INTEGER), 1), ''
                      ORDER BY n) AS ahash_hex
    FROM (
        SELECT img_id, blk // 4 AS n,
               SUM(bit * CASE blk % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                      WHEN 2 THEN 2 ELSE 1 END) AS v
        FROM abits GROUP BY img_id, blk // 4
    ) GROUP BY img_id
)
"""


#: corpus + per-(img, pos) byte value → aHash hex, variants included
_BYTES_CTE = _bytes_cte_sql()

#: dHash bits + hex (extends the shared chain)
_DHEX_CTE = f"""
dbits AS (
    SELECT a.img_id, (a.blk//8)*7 + (a.blk%8) AS idx,
           CASE WHEN a.bsum > b.bsum THEN 1 ELSE 0 END AS bit
    FROM blocks a JOIN blocks b
      ON a.img_id = b.img_id AND b.blk = a.blk + 1
    WHERE a.blk % 8 < 7
),
dhex AS (
    SELECT img_id,
           string_agg(substring('{_HEXD}', CAST(v + 1 AS INTEGER), 1), ''
                      ORDER BY n) AS dhash_hex
    FROM (
        SELECT img_id, idx // 4 AS n,
               SUM(bit * CASE idx % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                      WHEN 2 THEN 2 ELSE 1 END) AS v
        FROM dbits GROUP BY img_id, idx // 4
    ) GROUP BY img_id
)
"""


def _band_int_sql(b: int, col: str = "ahash_hex") -> str:
    """16-bit band integer from hex chars 4b+1..4b+4 (strpos lookup)."""
    terms = [
        f"{w}*(strpos('{_HEXD}', substring({col}, {4 * b + c + 1}, 1))-1)"
        for c, w in enumerate((4096, 256, 16, 1))
    ]
    return " + ".join(terms)


#: the fixed-point DCT chain: cosine VALUES table → integer 2-D DCT →
#: exact middle-of-63 median → strict bits → hex
_PHEX_FIXED_CTE = f"""
ctab(u, n, c) AS (
    VALUES {", ".join(
        f"({u}, {n}, {c})"
        for u, row in enumerate(_PHASH_CTAB)
        for n, c in enumerate(row)
    )}
),
coef AS (
    SELECT img_id, cu.u AS u, cv.u AS v,
           SUM(CAST(b AS BIGINT) * cu.c * cv.c) AS d
    FROM bytes
    JOIN ctab cu ON cu.n = pos // 16
    JOIN ctab cv ON cv.n = pos % 16
    GROUP BY 1, 2, 3
),
med AS (
    SELECT img_id, quantile_disc(d, 0.5) AS m
    FROM coef WHERE NOT (u = 0 AND v = 0) GROUP BY img_id
),
pbits AS (
    SELECT c.img_id, c.u * 8 + c.v AS idx,
           CASE WHEN c.d > m.m THEN 1 ELSE 0 END AS bit
    FROM coef c JOIN med m USING (img_id)
),
phex AS (
    SELECT img_id,
           string_agg(substring('{_HEXD}', CAST(v + 1 AS INTEGER), 1), ''
                      ORDER BY n) AS phash_hex
    FROM (
        SELECT img_id, idx // 4 AS n,
               SUM(bit * CASE idx % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                      WHEN 2 THEN 2 ELSE 1 END) AS v
        FROM pbits GROUP BY img_id, idx // 4
    ) GROUP BY img_id
)
"""

LIBRARY_QUERIES = {
    "image_fingerprints": image_fingerprints,
    "image_exact_dedup": image_exact_dedup,
    "image_phash_fixed_fingerprints": image_phash_fixed_fingerprints,
    "image_phash_fixed_near_dup": image_phash_fixed_near_dup,
    "image_near_dup_ahash": image_near_dup_ahash,
    "image_phash_near_dup": image_phash_near_dup,  # rows-only (float DCT)
    "image_dedup_resolution": image_dedup_resolution,
    "image_text_decontamination": image_text_decontamination,
    "image_decontamination_perceptual": image_decontamination_perceptual,
    "incremental_image_dedup_fold": incremental_image_dedup_fold,
}

LIBRARY_ORACLE = {
    "image_fingerprints": f"""
        WITH {_BYTES_CTE}, {_DHEX_CTE}
        SELECT a.img_id, a.ahash_hex, d.dhash_hex
        FROM ahex a JOIN dhex d USING (img_id)
    """,
    # bit-for-bit relational replay of the fixed-point DCT chain —
    # the shared cosine table is the single source of truth
    "image_phash_fixed_fingerprints": f"""
        WITH {_BYTES_CTE}, {_PHEX_FIXED_CTE}
        SELECT img_id, phash_hex FROM phex
    """,
    # naive all-pairs hamming at distinct-pHash grain — proves the
    # banding complete + verify exact at DCT grain
    "image_phash_fixed_near_dup": f"""
        WITH {_BYTES_CTE}, {_PHEX_FIXED_CTE},
        hb AS (
            SELECT CAST(MIN(img_id) AS BIGINT) AS canon,
                   CAST({_band_int_sql(0, "phash_hex")} AS INTEGER) AS b0,
                   CAST({_band_int_sql(1, "phash_hex")} AS INTEGER) AS b1,
                   CAST({_band_int_sql(2, "phash_hex")} AS INTEGER) AS b2,
                   CAST({_band_int_sql(3, "phash_hex")} AS INTEGER) AS b3
            FROM phex GROUP BY phash_hex
        ),
        pairs AS (
            SELECT a.canon AS doc_a, b.canon AS doc_b,
                   CAST(bit_count(xor(a.b0, b.b0))
                      + bit_count(xor(a.b1, b.b1))
                      + bit_count(xor(a.b2, b.b2))
                      + bit_count(xor(a.b3, b.b3)) AS INTEGER) AS hamming
            FROM hb a JOIN hb b ON a.canon < b.canon
        )
        SELECT doc_a, doc_b, hamming FROM pairs
        WHERE hamming BETWEEN 1 AND {HAM_MAX}
    """,
    "image_exact_dedup": f"""
        WITH img AS (
            SELECT doc_id AS img_id,
                   md5(repeat(md5(text), 8)) AS payload_md5
            FROM documents WHERE text IS NOT NULL
            UNION ALL
            SELECT doc_id + {DUP_OFFSET}, md5(repeat(md5(text), 8))
            FROM documents
            WHERE text IS NOT NULL AND doc_id % {DUP_MOD} = 0
        )
        SELECT img_id, payload_md5,
               MIN(img_id) OVER (PARTITION BY payload_md5) AS canonical_id,
               img_id <> MIN(img_id) OVER (PARTITION BY payload_md5)
                 AS is_duplicate
        FROM img
    """,
    # the NAIVE all-pairs hamming join at distinct-fingerprint grain —
    # the semantics baseline that proves the banded plan complete+exact
    "image_near_dup_ahash": f"""
        WITH {_BYTES_CTE},
        hb AS (
            SELECT CAST(MIN(img_id) AS BIGINT) AS canon,
                   CAST({_band_int_sql(0)} AS INTEGER) AS b0,
                   CAST({_band_int_sql(1)} AS INTEGER) AS b1,
                   CAST({_band_int_sql(2)} AS INTEGER) AS b2,
                   CAST({_band_int_sql(3)} AS INTEGER) AS b3
            FROM ahex GROUP BY ahash_hex
        ),
        pairs AS (
            SELECT a.canon AS doc_a, b.canon AS doc_b,
                   CAST(bit_count(xor(a.b0, b.b0))
                      + bit_count(xor(a.b1, b.b1))
                      + bit_count(xor(a.b2, b.b2))
                      + bit_count(xor(a.b3, b.b3)) AS INTEGER) AS hamming
            FROM hb a JOIN hb b ON a.canon < b.canon
        )
        SELECT doc_a, doc_b, hamming FROM pairs
        WHERE hamming BETWEEN 1 AND {HAM_MAX}
    """,
    # exact groups + naive near-dup edges + recursive-CTE transitive
    # closure; MIN(label) per node is the converged min-label fixpoint
    # (the near_dup_components oracle precedent at image grain)
    "image_dedup_resolution": f"""
        WITH RECURSIVE {_BYTES_CTE},
        hb AS (
            SELECT ahash_hex, CAST(MIN(img_id) AS BIGINT) AS canon,
                   CAST({_band_int_sql(0)} AS INTEGER) AS b0,
                   CAST({_band_int_sql(1)} AS INTEGER) AS b1,
                   CAST({_band_int_sql(2)} AS INTEGER) AS b2,
                   CAST({_band_int_sql(3)} AS INTEGER) AS b3
            FROM ahex GROUP BY ahash_hex
        ),
        nd AS (
            SELECT doc_a, doc_b FROM (
                SELECT a.canon AS doc_a, b.canon AS doc_b,
                       bit_count(xor(a.b0, b.b0))
                     + bit_count(xor(a.b1, b.b1))
                     + bit_count(xor(a.b2, b.b2))
                     + bit_count(xor(a.b3, b.b3)) AS hamming
                FROM hb a JOIN hb b ON a.canon < b.canon
            ) WHERE hamming BETWEEN 1 AND {HAM_MAX}
        ),
        sym_edges AS (
            SELECT doc_a AS a, doc_b AS b FROM nd
            UNION
            SELECT doc_b, doc_a FROM nd
        ),
        reach(node, lbl) AS (
            SELECT canon, canon FROM hb
            UNION
            SELECT e.b, r.lbl FROM reach r JOIN sym_edges e ON e.a = r.node
        ),
        labels AS (
            SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
        )
        SELECT m.img_id, l.cluster_id,
               m.img_id = l.cluster_id AS is_kept
        FROM ahex m
        JOIN hb USING (ahash_hex)
        JOIN labels l ON hb.canon = l.node
    """,
    # naive cross-split all-pairs hamming join — proves the banded
    # candidate generation complete and the verify exact
    "image_decontamination_perceptual": f"""
        WITH {_BYTES_CTE},
        sided AS (
            SELECT img_id, ahash_hex,
                   CASE WHEN (img_id % {VARIANT_OFFSET}) % {EVAL_MOD} = 0
                        THEN 'eval' ELSE 'train' END AS side
            FROM ahex
        ),
        hb AS (
            SELECT side, CAST(MIN(img_id) AS BIGINT) AS canon,
                   CAST({_band_int_sql(0)} AS INTEGER) AS b0,
                   CAST({_band_int_sql(1)} AS INTEGER) AS b1,
                   CAST({_band_int_sql(2)} AS INTEGER) AS b2,
                   CAST({_band_int_sql(3)} AS INTEGER) AS b3
            FROM sided GROUP BY side, ahash_hex
        ),
        pairs AS (
            SELECT a.canon AS img_id, b.canon AS eval_img_id,
                   CAST(bit_count(xor(a.b0, b.b0))
                      + bit_count(xor(a.b1, b.b1))
                      + bit_count(xor(a.b2, b.b2))
                      + bit_count(xor(a.b3, b.b3)) AS INTEGER) AS hamming
            FROM hb a JOIN hb b
              ON a.side = 'train' AND b.side = 'eval'
        )
        SELECT img_id, eval_img_id, hamming FROM pairs
        WHERE hamming <= {HAM_MAX}
    """,
    # batch-free recompute: a green row proves fold ≡ recompute
    "incremental_image_dedup_fold": f"""
        WITH img AS (
            SELECT doc_id AS img_id,
                   md5(repeat(md5(text), 8)) AS payload_md5
            FROM documents WHERE text IS NOT NULL
            UNION ALL
            SELECT doc_id + {DUP_OFFSET}, md5(repeat(md5(text), 8))
            FROM documents
            WHERE text IS NOT NULL AND doc_id % {DUP_MOD} = 0
        )
        SELECT MIN(img_id) AS img_id, payload_md5,
               CAST(COUNT(*) AS BIGINT) AS dup_count
        FROM img GROUP BY payload_md5
    """,
    "image_text_decontamination": f"""
        WITH img AS (
            SELECT doc_id AS img_id,
                   md5(repeat(md5(text), 8)) AS payload_md5
            FROM documents WHERE text IS NOT NULL
            UNION ALL
            SELECT doc_id + {DUP_OFFSET}, md5(repeat(md5(text), 8))
            FROM documents
            WHERE text IS NOT NULL AND doc_id % {DUP_MOD} = 0
        ),
        ev AS (
            SELECT payload_md5, COUNT(*) AS n_eval_matches
            FROM img WHERE img_id % {EVAL_MOD} = 0 GROUP BY 1
        )
        SELECT i.img_id, i.payload_md5, ev.n_eval_matches
        FROM img i JOIN ev USING (payload_md5)
        WHERE i.img_id % {EVAL_MOD} <> 0
    """,
}
