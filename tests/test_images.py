"""Gates for the image-grain curation operators (plans/images.py).

Oracle parity for the four integer-exact plans runs in
tests/test_library_parity.py like every library plan; these tests pin
the properties the oracles can't express — fingerprint invariances at
kernel grain (no SparkSession), banding completeness against a
brute-force sweep, planted-variant recall, and the pHash (float,
rows-only) determinism/consistency gates.
"""

from __future__ import annotations

import numpy as np
import pytest

from sales_etl_pipeline_spark.plans import images
from sales_etl_pipeline_spark.plans.images import (
    HAM_MAX,
    VARIANT_MOD,
    VARIANT_OFFSET,
    fingerprint_kernel,
)


def _hex_to_bits(h: str) -> np.ndarray:
    return np.unpackbits(np.frombuffer(bytes.fromhex(h), dtype=np.uint8))


def _ham(a: str, b: str) -> int:
    return int((_hex_to_bits(a) != _hex_to_bits(b)).sum())


def _grid(vals) -> bytes:
    return bytes(np.asarray(vals, dtype=np.uint8).reshape(256))


# ---------------------------------------------------------------------------
# kernel grain


def test_ahash_dhash_brightness_invariant():
    """+c to every byte shifts each block sum by 4c and the total by
    256c — both comparisons are exactly invariant (integer algebra, no
    rounding to hide behind)."""
    rng = np.random.RandomState(7)
    base = rng.randint(0, 200, size=256)
    a0, d0, _ = fingerprint_kernel([_grid(base)], [None])
    a1, d1, _ = fingerprint_kernel([_grid(base + 55)], [None])
    assert a0 == a1 and d0 == d1


def test_ahash_known_bit_pattern():
    """Uniform grid → no strict winner → all-zero aHash; perturbing one
    block (the kernel's variant path) sets exactly that block's bit."""
    uniform = _grid(np.full(256, 100))
    (a0,), (d0,), _ = fingerprint_kernel([uniform], [None])
    assert a0 == "0" * 16 and d0 == "0" * 14
    (a1,), _, _ = fingerprint_kernel([uniform], [17])
    bits = _hex_to_bits(a1)
    assert bits[17] == 1 and bits.sum() == 1


def test_dhash_gradient():
    """Column gradient: ascending → every left<right → all-zero dHash;
    descending → all-one."""
    asc = _grid(np.tile(np.arange(16) * 10, (16, 1)))
    desc = _grid(np.tile((15 - np.arange(16)) * 10, (16, 1)))
    _, (d_asc,), _ = fingerprint_kernel([asc], [None])
    _, (d_desc,), _ = fingerprint_kernel([desc], [None])
    assert d_asc == "0" * 14
    assert _hex_to_bits(d_desc)[:56].sum() == 56


def test_phash_deterministic_and_ac_brightness_invariant():
    """pHash is float (rows-only) but must be deterministic, and a
    uniform brightness shift moves ONLY the DC coefficient — bits 1..63
    (the AC plane) are invariant."""
    rng = np.random.RandomState(11)
    base = rng.randint(0, 200, size=256)
    _, _, (p0,) = fingerprint_kernel([_grid(base)], [None])
    _, _, (p0_again,) = fingerprint_kernel([_grid(base)], [None])
    assert p0 == p0_again
    _, _, (p1,) = fingerprint_kernel([_grid(base + 40)], [None])
    assert (_hex_to_bits(p0)[1:] == _hex_to_bits(p1)[1:]).all()


def test_kernel_perturbation_positions():
    """The variant path rewrites exactly the 4 bytes of the named 2×2
    block (row-major block index), matching the oracle's CASE."""
    base = np.zeros(256, dtype=np.uint8)
    ah, _, _ = fingerprint_kernel([_grid(base)], [9])  # block (1,1)
    # block 9 covers grid rows 2-3, cols 2-3 → positions 34,35,50,51
    manual = base.copy()
    manual[[34, 35, 50, 51]] = 255
    ah2, _, _ = fingerprint_kernel([_grid(manual)], [None])
    assert ah == ah2


# ---------------------------------------------------------------------------
# plan grain (sf0.001)


@pytest.fixture(scope="module")
def fingerprints(spark, sf_dir):
    fp = images._fingerprints(images._image_corpus(spark, sf_dir))
    rows = fp.collect()
    spark.catalog.clearCache()
    return rows


def test_banded_near_dup_complete_vs_brute_force(spark, sf_dir, fingerprints):
    """The banded plan's pairs ≡ the brute-force all-pairs sweep at
    distinct-aHash canonical grain — the pigeonhole completeness
    theorem, checked empirically on the full sf0.001 corpus."""
    canon: dict[str, int] = {}
    for r in fingerprints:
        canon[r.ahash_hex] = min(
            canon.get(r.ahash_hex, r.img_id), r.img_id
        )
    items = sorted(canon.items(), key=lambda kv: kv[1])
    expected = set()
    for i in range(len(items)):
        for j in range(i + 1, len(items)):
            h = _ham(items[i][0], items[j][0])
            if 1 <= h <= HAM_MAX:
                a, b = sorted((items[i][1], items[j][1]))
                expected.add((a, b, h))
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in images.image_near_dup_ahash(spark, sf_dir).collect()
    }
    spark.catalog.clearCache()
    assert got == expected and expected


def test_planted_variants_recovered(spark, sf_dir, fingerprints):
    """Every perturbed twin whose aHash moved by 1..HAM_MAX bits from
    its original must appear as a near-dup pair (and at least one such
    planted pair must exist, or the gate is vacuous)."""
    by_id = {r.img_id: r.ahash_hex for r in fingerprints}
    planted = set()
    for img_id, h in by_id.items():
        if img_id >= VARIANT_OFFSET:
            orig = by_id.get(img_id - VARIANT_OFFSET)
            if orig is None:
                continue
            d = _ham(orig, h)
            if 1 <= d <= HAM_MAX:
                planted.add(img_id - VARIANT_OFFSET)
    assert planted, "no planted near-dup variants at this SF — gate vacuous"
    pairs = images.image_near_dup_ahash(spark, sf_dir).collect()
    spark.catalog.clearCache()
    # pairs run at distinct-hash canonical grain; a planted original is
    # recovered if its canonical participates in any reported pair
    canon: dict[str, int] = {}
    for r in fingerprints:
        canon[r.ahash_hex] = min(canon.get(r.ahash_hex, r.img_id), r.img_id)
    touched = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    for doc in planted:
        assert canon[by_id[doc]] in touched or canon[
            by_id[doc + VARIANT_OFFSET]
        ] in touched


def test_phash_pairs_consistent_and_deterministic(spark, sf_dir, fingerprints):
    """The float pHash path: reported pairs must match the brute-force
    pHash hamming exactly (the banding added nothing and lost nothing at
    radius ≤ HAM_MAX), and two runs agree bit-for-bit."""
    by_hash: dict[str, int] = {}
    for r in fingerprints:
        by_hash[r.phash_hex] = min(by_hash.get(r.phash_hex, r.img_id), r.img_id)
    items = sorted(by_hash.items(), key=lambda kv: kv[1])
    expected = set()
    for i in range(len(items)):
        for j in range(i + 1, len(items)):
            h = _ham(items[i][0], items[j][0])
            if 1 <= h <= HAM_MAX:
                a, b = sorted((items[i][1], items[j][1]))
                expected.add((a, b, h))
    got1 = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in images.image_phash_near_dup(spark, sf_dir).collect()
    }
    spark.catalog.clearCache()
    got2 = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in images.image_phash_near_dup(spark, sf_dir).collect()
    }
    spark.catalog.clearCache()
    assert got1 == expected and got1 == got2


def test_dedup_resolution_matches_union_find(spark, sf_dir, fingerprints):
    """image_dedup_resolution ≡ an independent union-find replay over
    the same fingerprints: exact groups + hamming-≤3 edges between
    canonicals, cluster label = min img_id of the transitive cluster,
    exactly one kept image per cluster (the min)."""
    canon: dict[str, int] = {}
    for r in fingerprints:
        canon[r.ahash_hex] = min(canon.get(r.ahash_hex, r.img_id), r.img_id)
    parent: dict[int, int] = {c: c for c in canon.values()}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    items = list(canon.items())
    for i in range(len(items)):
        for j in range(i + 1, len(items)):
            if 1 <= _ham(items[i][0], items[j][0]) <= HAM_MAX:
                a, b = find(items[i][1]), find(items[j][1])
                if a != b:
                    parent[max(a, b)] = min(a, b)
    # min-label per root
    root_min: dict[int, int] = {}
    for c in canon.values():
        r = find(c)
        root_min[r] = min(root_min.get(r, c), c)
    expected = {
        row.img_id: root_min[find(canon[row.ahash_hex])]
        for row in fingerprints
    }
    got = images.image_dedup_resolution(spark, sf_dir).collect()
    spark.catalog.clearCache()
    assert len(got) == len(expected)
    kept_per_cluster: dict[int, int] = {}
    for r in got:
        assert expected[r.img_id] == r.cluster_id
        assert r.is_kept == (r.img_id == r.cluster_id)
        kept_per_cluster[r.cluster_id] = kept_per_cluster.get(
            r.cluster_id, 0
        ) + bool(r.is_kept)
    assert all(v == 1 for v in kept_per_cluster.values())
    assert any(v_id != c for v_id, c in expected.items()), "no clusters"


def test_exact_dedup_matches_payload_groups(spark, sf_dir):
    """Payload-hash groups = text-duplicate groups augmented with the
    deterministic re-upload twins (payload is a pure function of text),
    and canonical = min img_id per group."""
    from sales_etl_pipeline_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    out = {r.img_id: r for r in images.image_exact_dedup(spark, sf_dir).collect()}
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .collect()
    )
    by_text: dict[str, list[int]] = {}
    n_imgs = 0
    for d in docs:
        ids = [d.doc_id]
        if d.doc_id % images.DUP_MOD == 0:
            ids.append(d.doc_id + images.DUP_OFFSET)
        by_text.setdefault(d.text, []).extend(ids)
        n_imgs += len(ids)
    assert len(out) == n_imgs
    dup_groups = 0
    for ids in by_text.values():
        lead = min(ids)
        for i in ids:
            assert out[i].canonical_id == lead
            assert out[i].is_duplicate == (i != lead)
        dup_groups += len(ids) > 1
    assert dup_groups, "corpus has no exact image dups — gate vacuous"


def test_decontamination_crosses_split_only(spark, sf_dir):
    """Every reported row is a training-side image (id % EVAL_MOD != 0)
    whose payload hash has ≥1 eval-side holder; match counts are exact;
    and at least one contaminated row exists at this SF."""
    rows = images.image_text_decontamination(spark, sf_dir).collect()
    assert rows, "no contamination at this SF — gate vacuous"
    ded = images.image_exact_dedup(spark, sf_dir).collect()
    eval_counts: dict[str, int] = {}
    for r in ded:
        if r.img_id % images.EVAL_MOD == 0:
            eval_counts[r.payload_md5] = eval_counts.get(r.payload_md5, 0) + 1
    for r in rows:
        assert r.img_id % images.EVAL_MOD != 0
        assert eval_counts.get(r.payload_md5) == r.n_eval_matches


def test_incremental_image_dedup_fold_equals_recompute(spark, sf_dir):
    """Folding the re-upload corpus through incremental_image_dedup in
    2- and 3-way img_id splits equals the batch-free recompute exactly
    (canonical = global min img_id per payload hash, counts summed)."""
    from pyspark.sql import functions as F

    corpus = images._image_corpus_with_reups(spark, sf_dir)
    full = {
        (r.payload_md5): (r.img_id, r.dup_count)
        for r in corpus.groupBy(F.md5("payload").alias("payload_md5"))
        .agg(
            F.min("img_id").alias("img_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .collect()
    }
    for ways in (2, 3):
        state = None
        for i in range(ways):
            batch = corpus.filter(F.col("img_id") % ways == i)
            if state is None:
                state = batch.groupBy(
                    F.md5("payload").alias("payload_md5")
                ).agg(
                    F.min("img_id").alias("img_id"),
                    F.count(F.lit(1)).alias("dup_count"),
                ).select("img_id", "payload_md5", "dup_count")
            else:
                state = images.incremental_image_dedup(state, batch)
        got = {
            r.payload_md5: (r.img_id, r.dup_count) for r in state.collect()
        }
        spark.catalog.clearCache()
        assert got == full
    assert any(c > 1 for _, c in full.values())


def test_perceptual_decontamination_cross_split_and_complete(
    spark, sf_dir, fingerprints
):
    """Perceptual decontamination ≡ the brute-force cross-split sweep at
    canonical grain: every (train-canonical, eval-canonical) pair with
    hamming ≤ HAM_MAX appears (incl. hamming 0 — the exact leaks), and
    sides are derived from the ORIGINAL document id for variants."""
    from sales_etl_pipeline_spark.plans.images import EVAL_MOD

    by_side = {"train": {}, "eval": {}}
    for r in fingerprints:
        side = (
            "eval"
            if (r.img_id % VARIANT_OFFSET) % EVAL_MOD == 0
            else "train"
        )
        cur = by_side[side].get(r.ahash_hex)
        by_side[side][r.ahash_hex] = (
            r.img_id if cur is None else min(cur, r.img_id)
        )
    expected = set()
    for ht, ct in by_side["train"].items():
        for he, ce in by_side["eval"].items():
            h = _ham(ht, he)
            if h <= HAM_MAX:
                expected.add((ct, ce, h))
    got = {
        (r.img_id, r.eval_img_id, r.hamming)
        for r in images.image_decontamination_perceptual(
            spark, sf_dir
        ).collect()
    }
    spark.catalog.clearCache()
    assert got == expected and expected
    assert any(h == 0 for _, _, h in expected), "no exact leaks — vacuous"


def test_id_space_guard_fails_loud_on_overflow(spark, sf_dir, tmp_path):
    """The VARIANT_OFFSET id-space bound is a CHECKED invariant (r14
    ADVICE): a corpus whose doc_id breaches the bound raises
    executor-side THE MOMENT any plan scans it, instead of silently
    aliasing a twin id onto an original / mis-assigning the eval-train
    side; a valid corpus passes untouched (and the guard lives in an
    empty union branch, so the hot path pays nothing — the shape note
    on images._id_space_guard)."""
    from pyspark.sql import functions as F

    # valid corpus: guard branch empty, ids pass through
    mx = (
        images._image_corpus(spark, sf_dir)
        .agg(F.max("img_id").alias("m"))
        .collect()[0]
        .m
    )
    assert mx < images.VARIANT_OFFSET + images.DUP_OFFSET
    # breaching corpus: one doc_id at the bound → scan raises
    src = sf_dir.rstrip("/")
    bad_dir = str(tmp_path / "badsf")
    docs = spark.read.parquet(f"{src}/documents.parquet").limit(5)
    docs.withColumn(
        "doc_id",
        F.when(
            F.col("doc_id") == docs.agg(F.min("doc_id")).collect()[0][0],
            F.lit(images.VARIANT_OFFSET).cast("long"),
        ).otherwise(F.col("doc_id")),
    ).write.parquet(f"{bad_dir}/documents.parquet")
    # consume img_id like every real plan does (a bare count() would
    # column-prune the guard projection away)
    with pytest.raises(Exception, match="id-space invariant"):
        images._image_corpus(spark, bad_dir).agg(
            F.max("img_id")
        ).collect()
    with pytest.raises(Exception, match="id-space invariant"):
        images._image_corpus_with_reups(spark, bad_dir).agg(
            F.max("img_id")
        ).collect()
    # r15 ADVICE: the breach expression is threaded through EVERY
    # column, so a payload-only consumer (img_id pruned away) trips
    # the guard too
    with pytest.raises(Exception, match="id-space invariant"):
        images._image_corpus(spark, bad_dir).agg(
            F.max(F.length("payload"))
        ).collect()


def test_phash_fixed_agrees_with_float_variant(spark, sf_dir):
    """The float pHash (rows-only by design) is ANCHORED to the
    integer-exact fixed-point twin. On arbitrary grids the two agree
    bit-for-bit (the fixed table's relative error is ~1e-4); on THIS
    corpus the synthetic payloads (md5 hex repeated 8x) are vertically
    periodic, so many AC coefficients sit at/near ZERO — exactly at the
    median — and those borderline bits flip freely between the two
    arithmetics. The pin is therefore >= 80% bit agreement plus pair
    overlap, with the random-grid exact agreement pinned separately
    below (test_phash_fixed_exact_on_generic_grids)."""
    from sales_etl_pipeline_spark.plans.images import (
        _image_corpus,
        _fingerprints,
        _pfingerprints,
    )

    corpus = _image_corpus(spark, sf_dir)
    flt = {
        r.img_id: r.phash_hex
        for r in _fingerprints(corpus).select("img_id", "phash_hex").collect()
    }
    fxd = {
        r.img_id: r.phash_hex for r in _pfingerprints(corpus).collect()
    }
    spark.catalog.clearCache()
    assert flt.keys() == fxd.keys() and flt
    total_bits = 64 * len(flt)
    diff_bits = sum(_ham(flt[i], fxd[i]) for i in flt)
    agreement = 1 - diff_bits / total_bits
    assert agreement >= 0.80, agreement
    fpairs = {
        (r.doc_a, r.doc_b)
        for r in images.image_phash_near_dup(spark, sf_dir).collect()
    }
    xpairs = {
        (r.doc_a, r.doc_b)
        for r in images.image_phash_fixed_near_dup(spark, sf_dir).collect()
    }
    spark.catalog.clearCache()
    assert fpairs and xpairs
    # the fixed variant collapses the corpus's near-zero coefficient
    # ties deterministically, so it reports MORE pairs; the anchor is
    # one-way containment: most float-found pairs are fixed-found too
    containment = len(fpairs & xpairs) / len(fpairs)
    assert containment >= 0.7, (containment, len(fpairs), len(xpairs))


def test_phash_fixed_exact_on_generic_grids():
    """On generic (non-degenerate) grids the fixed-point pHash equals
    the float pHash bit-for-bit: away from the synthetic corpus's
    zero-coefficient ties, PHASH_SCALE rounding never reorders a
    coefficient across the median."""
    from sales_etl_pipeline_spark.plans.images import phash_fixed_kernel

    rng = np.random.RandomState(42)
    grids = [_grid(rng.randint(0, 256, size=256)) for _ in range(64)]
    _, _, flt = fingerprint_kernel(grids, [None] * 64)
    fxd = phash_fixed_kernel(grids, [None] * 64)
    agree = sum(a == b for a, b in zip(flt, fxd))
    assert agree >= 62, agree  # allow <=2 borderline-median grids


def test_spread_memo_key_tracks_reader_confs_and_session(spark, sf_dir):
    """The spread decision depends on how files split into scan
    partitions, so the memo key carries the split confs and the
    application: another maxPartitionBytes must re-probe."""
    conf = "spark.sql.files.maxPartitionBytes"
    key = images._corpus_layout_key(spark, sf_dir, "t")
    assert key is not None and spark.sparkContext.applicationId in key
    old = spark.conf.get(conf)
    spark.conf.set(conf, "1m")
    try:
        assert images._corpus_layout_key(spark, sf_dir, "t") != key
    finally:
        spark.conf.set(conf, old)
    assert images._corpus_layout_key(spark, sf_dir, "t") == key
