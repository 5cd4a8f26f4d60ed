"""Trained BPE tokenizer (plans/bpe.py): merge-application semantics,
train/apply consistency, and reconstruction invariants. The exact DuckDB
oracle parity of both registry plans (bpe_merges, bpe_token_stats) runs
in tests/test_oracle_parity.py like every driver-tier plan."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from sales_etl_pipeline_spark.plans import bpe  # noqa: E402
from sales_etl_pipeline_spark.sources.readers import load_table  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_merge_application_is_left_to_right_non_overlapping(spark):
    """The BPE convention: (a,a) on [a,a,a] yields [aa,a] — the first
    match wins and the scan resumes AFTER the replacement; and a merge
    never fires mid-token ([xa,b] is untouched by (a,b))."""
    df = spark.createDataFrame(
        [("aaa",), ("abab",), ("ab",)], "text string"
    )
    out = {
        r.text: list(r.bpe_tokens)
        for r in bpe.bpe_apply(df, "text", [("a", "a")]).collect()
    }
    assert out["aaa"] == ["aa", "a"]
    # (a,b) after tokens have merged: "xa" stays whole
    df2 = spark.createDataFrame([("xab",)], "text string")
    toks = bpe.bpe_apply(df2, "text", [("x", "a"), ("a", "b")]).first().bpe_tokens
    # round 1 merges (x,a) -> [xa, b]; round 2's (a,b) must NOT split xa
    assert list(toks) == ["xa", "b"]


def test_apply_reproduces_training_segmentation(spark):
    """bpe_apply with the trained merge list must segment every training
    word exactly as the training loop's final sequences do — train and
    apply share one semantics."""
    merges, seqs = bpe.train_bpe(spark, SF, 12)
    want = {
        r.word: r.seq.strip("_").split("__")
        for r in seqs.collect()
    }
    vocab = spark.createDataFrame(
        [(w,) for w in want], "text string"
    )
    got = {
        r.text: list(r.bpe_tokens)
        for r in bpe.bpe_apply(vocab, "text", merges).collect()
    }
    assert got == want


def test_apply_reconstruction_and_unseen_words(spark):
    """Tokens concatenate back to the pre-tokenized words (lossless within
    the [a-z]+ alphabet), for corpus docs AND unseen words."""
    merges, _ = bpe.train_bpe(spark, SF, 12)
    docs = load_table(spark, SF, "documents").limit(50)
    out = bpe.bpe_apply(docs, "text", merges)
    rows = out.select(
        F.concat_ws("", "bpe_tokens").alias("joined"),
        F.concat_ws(
            "", F.regexp_extract_all(F.lower("text"), F.lit("([a-z]+)"))
        ).alias("want"),
    ).collect()
    assert rows and all(r.joined == r.want for r in rows)
    unseen = spark.createDataFrame(
        [("zzzquixotic frobnicate",), ("Mixed CASE 42 chars!",)], "text string"
    )
    got = bpe.bpe_apply(unseen, "text", merges).collect()
    assert "".join(got[0].bpe_tokens) == "zzzquixoticfrobnicate"
    assert "".join(got[1].bpe_tokens) == "mixedcasechars"


def test_merge_table_shape_and_determinism(spark):
    """The merge table is rank-ordered, merged = lhs||rhs, and training
    twice gives the identical rule list (deterministic tie-breaks).
    The training memo is cleared between runs so the second call is a
    genuine retrain, not a cache hit."""
    bpe.clear_bpe_cache()
    m = bpe.bpe_merges(spark, SF).collect()
    assert [r.rank for r in m] == list(range(bpe.N_MERGES))
    assert all(r.merged == r.lhs + r.rhs for r in m)
    bpe.clear_bpe_cache()
    again = bpe.bpe_merges(spark, SF).collect()
    assert [tuple(r) for r in m] == [tuple(r) for r in again]
    # memo path: same fingerprint returns the identical objects
    first = bpe.train_bpe(spark, SF)
    assert bpe.train_bpe(spark, SF)[0] is first[0]


def test_token_stats_compression_bounds(spark):
    """BPE token count per doc is bounded by chars (no merges at all)
    below and words (everything merged) above; chars_per_token ≥ 1 and
    grows with merges (more merges ⇒ fewer, longer tokens)."""
    few = bpe.bpe_token_stats(spark, SF, n_merges=2)
    many = bpe.bpe_token_stats(spark, SF, n_merges=bpe.N_MERGES)
    j = (
        few.select("doc_id", F.col("n_bpe_tokens").alias("t_few"))
        .join(
            many.select(
                "doc_id", "n_words", "n_bpe_tokens", "chars_per_token"
            ),
            "doc_id",
        )
        .collect()
    )
    assert j
    for r in j:
        assert r.n_words <= r.n_bpe_tokens <= r.t_few
        assert r.chars_per_token >= 1.0


def test_encoding_is_invertible(spark):
    """bpe_encoded_docs ids decode back to the pre-tokenized text:
    ids → vocab tokens → concat == concat of the doc's [a-z]+ words —
    the losslessness contract a training pipeline needs before it
    trusts the ids. Also: n_tokens agrees with bpe_token_stats."""
    import re

    vocab = {
        r.token_id: r.token for r in bpe.bpe_vocab(spark, SF, 12).collect()
    }
    enc_rows = bpe.bpe_encoded_docs(spark, SF, 12).collect()
    stats = {
        r.doc_id: r.n_bpe_tokens
        for r in bpe.bpe_token_stats(spark, SF, 12).collect()
    }
    want_texts = {
        r.doc_id: "".join(re.findall("[a-z]+", r.text.lower()))
        for r in load_table(spark, SF, "documents").collect()
    }
    assert enc_rows
    for r in enc_rows:
        decoded = "".join(vocab[i] for i in r.token_ids)
        assert decoded == want_texts[r.doc_id]
        assert r.n_tokens == len(r.token_ids) == stats[r.doc_id]


def test_packed_windows_partition_the_id_stream(spark):
    """bpe_packed_windows: per source, every window except the tail is
    exactly PACK_WINDOW ids, and concatenating windows in window_id
    order reproduces the concatenation of the source's encoded docs in
    doc_id order — packing loses and reorders nothing."""
    import collections

    from sales_etl_pipeline_spark.sources.readers import load_table

    enc = {
        r.doc_id: list(r.token_ids)
        for r in bpe.bpe_encoded_docs(spark, SF, 12).collect()
    }
    src_of = {
        r.doc_id: r.source
        for r in load_table(spark, SF, "documents").collect()
    }
    want = collections.defaultdict(list)
    for doc_id in sorted(enc):
        want[src_of[doc_id]].extend(enc[doc_id])

    rows = bpe.bpe_packed_windows(spark, SF, 12).collect()
    got = collections.defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.source, r.window_id)):
        got[r.source].extend(r.token_ids)
        assert r.n_tokens == len(r.token_ids)
    assert dict(got) == dict(want)
    by_src = collections.defaultdict(list)
    for r in rows:
        by_src[r.source].append(r)
    for ws in by_src.values():
        ws.sort(key=lambda r: r.window_id)
        assert [r.window_id for r in ws] == list(range(len(ws)))
        assert all(r.n_tokens == bpe.PACK_WINDOW for r in ws[:-1])
        assert 1 <= ws[-1].n_tokens <= bpe.PACK_WINDOW


def test_train_raises_when_pairs_exhaust(spark, tmp_path):
    """Asking for more merges than the corpus supports must raise loudly
    (a silently shorter rule list would diverge from the fixed-depth
    oracle)."""
    tiny = spark.createDataFrame(
        [(1, "ab ab cab"), (2, "ab cab")], "doc_id long, text string"
    )
    tiny.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    # vocabulary {ab, cab} supports exactly 3 merges:
    # (a,b)->ab, (c,a)? counts: pairs a-b ×5, c-a ×2 → merge ab;
    # then cab = [c, ab] → (c,ab) ×2 → merge cab; then no pairs remain.
    merges, seqs = bpe.train_bpe(spark, str(tmp_path), 2)
    assert merges == [("a", "b"), ("c", "ab")]
    assert {r.word: r.seq for r in seqs.collect()} == {
        "ab": "_ab_",
        "cab": "_cab_",
    }
    with pytest.raises(ValueError, match="exhausted"):
        bpe.train_bpe(spark, str(tmp_path), 3)


# ---------------------------------------------------------------------------
# Batched merge selection (train_bpe(batch_size=m))


def _py_batched_bpe(word_freqs, n_merges, batch_size, admission="prefix", init=list):
    """Pure-Python replay oracle for the BATCHED training path: the same
    admission rule (non-interacting prefix or greedy subset of the
    count-sorted pairs, per ``admission``) and the same apply semantics
    (per admitted pair in order, one left-to-right non-overlapping pass
    over every word), implemented on plain lists with no Spark involved.
    ``init`` maps a word to its initial symbol list (default: characters;
    the byte-level replayer passes UTF-8 hex pairs)."""
    seqs = {w: init(w) for w in word_freqs}
    merges = []
    while len(merges) < n_merges:
        want = min(batch_size, n_merges - len(merges))
        counts = {}
        for w, f in word_freqs.items():
            t = seqs[w]
            for i in range(len(t) - 1):
                counts[(t[i], t[i + 1])] = counts.get((t[i], t[i + 1]), 0) + f
        if not counts:
            raise ValueError("exhausted")
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:want]
        admitted, used = [], set()
        for (l, r), _c in top:
            if admitted and (l in used or r in used or l + r in used):
                if admission == "prefix":
                    break
                continue
            admitted.append((l, r))
            used.update((l, r, l + r))
        for l, r in admitted:
            for w, t in seqs.items():
                out, i = [], 0
                while i < len(t):
                    if i + 1 < len(t) and t[i] == l and t[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(t[i])
                        i += 1
                seqs[w] = out
        merges.extend(admitted)
    return merges, seqs


@pytest.mark.parametrize("n_merges, batch_size", [(24, 8), (16, 1)])
def test_batched_matches_python_replay_oracle(spark, n_merges, batch_size):
    """The batched path's own exactness gate: Spark's batched training
    (admission + chained-replace application) must match the pure-Python
    replay bit-for-bit — merge list AND every word's final segmentation.

    (16, 1) is the focused gate for the INCREMENTAL pair-count
    maintenance in _train_rounds (counts_new = counts_old −
    pairs(changed, old) + pairs(changed, new)): the pure-Python oracle
    recounts EVERY pair from scratch each round, so bit-equality of the
    merge list and every final segmentation over a many-round sequential
    run is exactly the maintained-vs-recounted equivalence claim.
    Sequential mode (one merge per round) maximizes the number of
    maintenance steps the equality must survive; zero-drop and
    fresh-creation edges are additionally pinned by
    test_train_raises_when_pairs_exhaust."""
    import re

    from sales_etl_pipeline_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    freqs = {}
    for r in docs.select("text").collect():
        for w in re.findall("[a-z]+", r.text.lower()):
            freqs[w] = freqs.get(w, 0) + 1
    want_merges, want_seqs = _py_batched_bpe(freqs, n_merges, batch_size)
    got_merges, got_seqs = bpe.train_bpe(spark, SF, n_merges, batch_size=batch_size)
    assert got_merges == want_merges
    got = {r.word: r.seq.strip("_").split("__") for r in got_seqs.collect()}
    assert got == {w: t for w, t in want_seqs.items()}


def test_batched_equals_sequential_on_natural_corpus(spark):
    """On the sf0.01 corpus, batched(8) training selects exactly the
    sequential merge list — the natural-corpus regime where no pair
    created mid-batch outranks a later batch member. (Corpus-specific
    evidence, not a theorem: the deviation-regime test below constructs
    the counterexample.)"""
    seq, _ = bpe.train_bpe(spark, "/root/testdata/sf0.01", 24, batch_size=1)
    bat, _ = bpe.train_bpe(spark, "/root/testdata/sf0.01", 24, batch_size=8)
    assert bat == seq


def test_batched_deviation_regime(spark, tmp_path):
    """The documented divergence: a pair CREATED by the batch's first
    merge can outrank the batch's second pick, which sequential training
    would have taken first. Corpus: 'aaaa'×10 ('(a,a)'=30, creates
    '(aa,aa)'=10 when merged) + 'cd'×8. Sequential: (a,a) then (aa,aa);
    batched(2) admits (a,a),(c,d) in one round from pre-batch counts."""
    text = " ".join(["aaaa"] * 10 + ["cd"] * 8)
    spark.createDataFrame(
        [(1, text)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    seq, _ = bpe.train_bpe(spark, str(tmp_path), 2, batch_size=1)
    bat, _ = bpe.train_bpe(spark, str(tmp_path), 2, batch_size=2)
    assert seq == [("a", "a"), ("aa", "aa")]
    assert bat == [("a", "a"), ("c", "d")]
    # both remain internally exact: the Python replay reproduces the
    # batched choice under batched semantics
    assert _py_batched_bpe({"aaaa": 10, "cd": 8}, 2, 2)[0] == bat


def test_batched_admission_is_prefix_not_subset(spark, tmp_path):
    """Admission must stop AT the first interacting candidate, not skip
    it: with counts (a,b)=30 > (b,c)=20 > (d,e)=12, batched(3) may only
    take (a,b) — admitting (d,e) over the skipped, higher-ranked (b,c)
    could never happen sequentially."""
    text = " ".join(["ab"] * 30 + ["bc"] * 20 + ["de"] * 12)
    spark.createDataFrame(
        [(1, text)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    bat, _ = bpe.train_bpe(spark, str(tmp_path), 3, batch_size=3)
    # round 1 admits only (a,b); (b,c) interacts and stops the batch
    assert bat[0] == ("a", "b")
    assert bat[1] != ("d", "e")


def test_subset_admission_skips_conflicts(spark, tmp_path):
    """admission='subset' (the scalable-vocab mode): the interacting
    (b,c) is SKIPPED, not batch-terminating — (a,b) and (d,e) land in
    round 1, (b,c)'s merge happens next round from recounted state. The
    same corpus under the default prefix mode admits only (a,b) first."""
    text = " ".join(["ab"] * 30 + ["bc"] * 20 + ["de"] * 12)
    spark.createDataFrame(
        [(1, text)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    bat, _ = bpe.train_bpe(
        spark, str(tmp_path), 3, batch_size=3, admission="subset"
    )
    assert bat[:2] == [("a", "b"), ("d", "e")]
    # and it still matches the pure-Python subset replay bit-for-bit
    freqs = {"ab": 30, "bc": 20, "de": 12}
    assert _py_batched_bpe(freqs, 3, 3, admission="subset")[0] == bat


def test_subset_matches_python_replay_oracle(spark):
    """Subset admission's own exactness gate on the real corpus: merge
    list AND every word's final segmentation must match the pure-Python
    greedy-subset replay."""
    from sales_etl_pipeline_spark.sources.readers import load_table

    import re

    docs = load_table(spark, SF, "documents")
    freqs = {}
    for r in docs.select("text").collect():
        for w in re.findall("[a-z]+", r.text.lower()):
            freqs[w] = freqs.get(w, 0) + 1
    want_merges, want_seqs = _py_batched_bpe(freqs, 24, 8, admission="subset")
    got_merges, got_seqs = bpe.train_bpe(
        spark, SF, 24, batch_size=8, admission="subset"
    )
    assert got_merges == want_merges
    got = {r.word: r.seq.strip("_").split("__") for r in got_seqs.collect()}
    assert got == {w: t for w, t in want_seqs.items()}


def test_bench_corpus_supports_1k_merges(spark):
    """The high-entropy bench corpus (scripts/make_bpedata.py) must keep
    supporting the 1k-merge bench row: train a few hundred merges in
    subset mode and confirm no exhaustion plus replay-oracle exactness
    of the admission accounting (merge count only — the full 1k replay
    is the bench row's job)."""
    from scripts.make_bpedata import ensure_bpe_corpus

    corpus = ensure_bpe_corpus("/tmp/sfbpe")
    bpe.clear_bpe_cache()
    merges, _ = bpe.train_bpe(
        spark, corpus, 200, batch_size=128, admission="subset"
    )
    assert len(merges) == 200
    bpe.clear_bpe_cache()


def _hex_pairs(word: str) -> list:
    h = word.encode("utf-8").hex()
    return [h[i : i + 2] for i in range(0, len(h), 2)]


def _py_pretokens(text: str) -> list:
    import re

    return re.findall(bpe.BYTE_PRETOK_SQL, text)


def test_byte_level_matches_python_replay_oracle(spark):
    """VERDICT r11 item 4 gate: byte-level training (GPT-2-style
    pretokens, UTF-8-hex byte alphabet) is bit-matched by the pure-Python
    replayer — the same _py_batched_bpe kernel with pretoken freqs and a
    hex-pair init. Checked in sequential AND subset-batched modes, merge
    list and final segmentations both."""
    from collections import Counter

    docs = load_table(spark, SF, "documents")
    freqs = Counter()
    for r in docs.select("text").collect():
        freqs.update(_py_pretokens(r.text))
    for kwargs in ({"batch_size": 1}, {"batch_size": 8, "admission": "subset"}):
        bpe.clear_bpe_cache()
        merges, seqs = bpe.train_bpe_bytes(spark, SF, n_merges=16, **kwargs)
        want_merges, want_seqs = _py_batched_bpe(
            dict(freqs), 16, kwargs.get("batch_size", 1),
            kwargs.get("admission", "prefix"), init=_hex_pairs,
        )
        assert merges == want_merges
        got = {
            r.word: r.seq.strip("_").split("__") for r in seqs.collect()
        }
        assert got == want_seqs
    bpe.clear_bpe_cache()


def test_byte_apply_open_vocabulary(spark):
    """The open-vocab property the char-grain trainer lacks: text with
    uppercase, digits, punctuation, contractions and non-ASCII — none of
    it in the [a-z]+ char-grain universe — segments without error, every
    token decodes back to bytes, and concatenating the decoded tokens
    reproduces the original text exactly (losslessness)."""
    merges, _ = bpe.train_bpe_bytes(spark, SF, n_merges=16)
    weird = [
        (0, "Hello WORLD, it's 2026!"),
        (1, "café ± π — emoji: 🚀🚀"),
        (2, "x" * 3 + "\t tabs\nand newlines  "),
    ]
    df = spark.createDataFrame(weird, "doc_id long, text string")
    out = {r.doc_id: r.byte_tokens for r in bpe.bpe_apply_bytes(df, "text", merges).collect()}
    for doc_id, text in weird:
        toks = out[doc_id]
        assert toks, text
        decoded = bytes.fromhex("".join(toks)).decode("utf-8")
        assert decoded == text
    bpe.clear_bpe_cache()


def test_byte_token_stats_counts_pretokens(spark):
    """bpe_byte_token_stats invariants: n_byte_tokens between pretoken
    count (full merging) and byte count (no merging); bytes_per_token
    ≥ 1; every doc with at least one pretoken has a row."""
    stats = {r.doc_id: r for r in bpe.bpe_byte_token_stats(spark, SF).collect()}
    docs = load_table(spark, SF, "documents")
    n_docs = docs.filter(F.length("text") > 0).count()
    assert len(stats) == n_docs
    for r in stats.values():
        assert r.n_pretokens <= r.n_byte_tokens
        assert r.bytes_per_token >= 1.0
    bpe.clear_bpe_cache()
