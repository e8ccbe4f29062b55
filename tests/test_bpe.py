"""Pins for distributed BPE training/encoding (operators/bpe.py):
the Spark trainer must produce EXACTLY the merge list of a pure
Python reference implementation of Sennrich et al. 2016 (same greedy
scan order, same lexicographic tie-break), on hand corpora and on
real documents; encoding round-trips (concatenated tokens rebuild
the text) and respects merge ranks.
"""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from traffic_forecast_etl_spark.operators import bpe as B


# ---------------------------------------------------------------------------
# pure-Python reference (Sennrich et al. 2016, algorithm 1)
# ---------------------------------------------------------------------------

def _ref_word_freqs(texts):
    wf = collections.Counter()
    for t in texts:
        wf.update(t.split())
    return {tuple(list(w) + [B.END_OF_WORD]): c for w, c in wf.items()}


def _ref_pair_stats(wf):
    stats = collections.Counter()
    for syms, freq in wf.items():
        for i in range(len(syms) - 1):
            stats[(syms[i], syms[i + 1])] += freq
    return stats


def _ref_merge(wf, pair):
    a, b = pair
    out = {}
    for syms, freq in wf.items():
        new, i = [], 0
        for x in syms:  # greedy left-to-right, same as the engine fold
            if new and new[-1] == a and x == b:
                new[-1] = a + b
            else:
                new.append(x)
        out[tuple(new)] = out.get(tuple(new), 0) + freq
    return out


def _ref_train(texts, num_merges, min_pair_freq=2):
    wf = _ref_word_freqs(texts)
    merges = []
    for _ in range(num_merges):
        stats = _ref_pair_stats(wf)
        if not stats:
            break
        # max freq, lexicographic tie-break — the engine's argmax order
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if stats[best] < min_pair_freq:
            break
        merges.append(best)
        wf = _ref_merge(wf, best)
    return merges


# ---------------------------------------------------------------------------
# trainer pins
# ---------------------------------------------------------------------------

def test_train_matches_reference_on_classic_corpus(spark):
    """Sennrich's paper corpus shape: low/lower/newest/widest."""
    texts = (
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = B.train_bpe(df, "text", num_merges=10)
    want = _ref_train(texts, 10)
    assert got == want, (got, want)
    assert ("e", "s") in got  # "es" dominates (newest+widest = 9)


def test_train_matches_reference_on_real_documents(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    texts = [r.text for r in docs.select("text").collect()]
    got = B.train_bpe(docs, "text", num_merges=30, checkpoint_every=5)
    want = _ref_train(texts, 30)
    assert got == want


def test_train_is_layout_independent(spark):
    texts = ["the cat sat", "the cat ran", "a cat sat"] * 7
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    a = B.train_bpe(df, "text", num_merges=8)
    b = B.train_bpe(df.repartition(13), "text", num_merges=8)
    assert a == b


def test_train_stops_below_min_pair_freq(spark):
    df = spark.createDataFrame([("ab cd",)], "text string")
    # every pair occurs once -> nothing reaches min_pair_freq=2
    assert B.train_bpe(df, "text", num_merges=5) == []
    with pytest.raises(ValueError):
        B.train_bpe(df, "text", num_merges=0)


# ---------------------------------------------------------------------------
# encoder pins
# ---------------------------------------------------------------------------

def test_merges_df_roundtrip(spark):
    merges = [("a", "b"), ("ab", "c")]
    mdf = B.merges_df(spark, merges)
    back = [
        (r.a, r.b) for r in mdf.orderBy("rank").collect()
    ]
    assert back == merges


def test_pair_freqs_shuffles_pairs_not_words(spark):
    """Scale shape: the pair aggregate exchanges hash-partition on the
    (a, b) pair columns, never on the symbols array or raw text."""
    df = spark.createDataFrame([("aa bb aa",)] * 10, "text string")
    words = B.word_freqs(df, "text").select(
        B._to_symbols(F.col("word")).alias("symbols"), "freq"
    )
    plan = (
        B.pair_freqs(words)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)", plan):
        assert "symbols" not in ex and "text" not in ex, ex


def test_merge_fold_matches_python_on_random_sequences(spark):
    """The native F.aggregate fold vs the reference greedy scan on
    300 random symbol sequences over a tiny alphabet (maximizing
    adjacent/overlapping pair runs), for several target pairs —
    one Spark job per pair."""
    import random

    rng = random.Random(42)
    seqs = [
        [rng.choice("ab▁") for _ in range(rng.randint(0, 12))]
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(seqs)], "i long, symbols array<string>"
    )

    def py_merge(syms, a, b):
        out = []
        for x in syms:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        return out

    for a, b in [("a", "a"), ("a", "b"), ("b", "▁")]:
        got = {
            r.i: r.m
            for r in df.select(
                "i", B.merge_pair_column(F.col("symbols"), a, b).alias("m")
            ).collect()
        }
        for i, s in enumerate(seqs):
            assert got[i] == py_merge(s, a, b), (i, s, a, b, got[i])


# ---------------------------------------------------------------------------
# hybrid-path pins (r6): driver-side incremental trainer and the
# distributed batched trainer must BOTH reproduce the reference
# greedy merge order exactly
# ---------------------------------------------------------------------------

def test_driver_trainer_randomized_parity_no_spark():
    """The indexed incremental driver algorithm vs the naive
    recount-everything reference, on 60 random tie-heavy corpora
    (alphabet of 3 symbols maximizes count plateaus and stale-index
    churn). Pure Python — no Spark session in the loop."""
    import collections
    import random

    rng = random.Random(20260815)
    for trial in range(60):
        n_texts = rng.randint(1, 30)
        texts = [
            " ".join(
                "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(1, 8))
            )
            for _ in range(n_texts)
        ]
        nm = rng.randint(1, 15)
        mpf = rng.choice([1, 2, 3])
        wf = collections.Counter()
        for t in texts:
            wf.update(t.split())
        got = B._train_bpe_driver(wf.items(), nm, mpf)
        want = _ref_train(texts, nm, min_pair_freq=mpf)
        assert got == want, (trial, texts, nm, mpf, got, want)


def test_distributed_batched_trainer_randomized_parity(spark):
    """Forced-distributed path (driver_threshold=0): the safe-batch
    selection must not change the greedy order's outcome — random
    tie-heavy corpora exercise the singleton fallback, a steep-Zipf
    corpus exercises real batches."""
    import random

    rng = random.Random(7)
    corpora = [
        [
            " ".join(
                "".join(rng.choice("ab") for _ in range(rng.randint(1, 5)))
                for _ in range(rng.randint(1, 6))
            )
            for _ in range(rng.randint(2, 12))
        ]
        for _ in range(4)
    ]
    # steep-Zipf with symbol-disjoint top pairs: batches must engage
    # AND stay parity-exact
    corpora.append(
        ["xy"] * 512 + ["qr"] * 128 + ["mn"] * 32 + ["uv"] * 8 + ["ab"] * 2
    )
    for texts in corpora:
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        st = {}
        got = B.train_bpe(
            df, "text", num_merges=10, driver_threshold=0, stats=st
        )
        assert st["path"] == "distributed"
        want = _ref_train(texts, 10)
        assert got == want, (texts[:5], got, want)


def test_batching_engages_on_disjoint_zipf(spark):
    """On a corpus whose top pairs are symbol-disjoint with strict
    count gaps over their neighbours, one round must carry multiple
    merges (the per-merge driver round-trip amortization the
    distributed path exists for). Corpus shape: "aa<s>" spreads the
    (a,·) neighbour mass over 20 suffixes, so (a,a):500 and (b,b):400
    dominate every pair that interacts with them (<=25)."""
    suffixes = "cdefghijklmnopqrstuv"
    texts = ["aa" + s for s in suffixes] * 25 + ["bb" + s for s in suffixes] * 20
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    st = {}
    merges = B.train_bpe(df, "text", num_merges=4, driver_threshold=0, stats=st)
    assert len(merges) == 4
    assert merges[:2] == [("a", "a"), ("b", "b")]
    assert st["rounds"] < st["merges"], st
    # and the batched result is still the exact greedy list
    assert merges == _ref_train(texts, 4)


def test_hybrid_paths_agree_on_real_documents(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(150)
    st_drv, st_dist = {}, {}
    drv = B.train_bpe(docs, "text", num_merges=25, stats=st_drv)
    dist = B.train_bpe(
        docs, "text", num_merges=25, driver_threshold=0,
        checkpoint_every=8, stats=st_dist,
    )
    assert st_drv["path"] == "driver" and st_dist["path"] == "distributed"
    assert drv == dist
    texts = [r.text for r in docs.select("text").collect()]
    assert drv == _ref_train(texts, 25)


def test_driver_trainer_parity_deep_merges(spark, sf_dir):
    """Driver-path parity at depth: 100 merges on real documents must
    reproduce the naive-recount reference exactly (the incremental
    stats/index bookkeeping has 100 rounds to drift if wrong)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    texts = [r.text for r in docs.select("text").collect()]
    st = {}
    got = B.train_bpe(docs, "text", num_merges=100, min_pair_freq=1, stats=st)
    assert st["path"] == "driver"
    want = _ref_train(texts, 100, min_pair_freq=1)
    assert got == want


def test_byte_budget_routes_long_word_corpus_to_distributed(spark):
    """ADVICE r6: the driver-path guard must be byte-aware — a corpus
    of few-but-huge words (URLs, no-whitespace text) routes to the
    distributed loop even though the row count is tiny, and parity
    with the forced-driver path stays exact."""
    texts = [
        "aaaab" * 40 + f"tail{i % 3}" for i in range(30)
    ]  # ~210-char "words", 3 distinct
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    st_routed: dict = {}
    got = B.train_bpe(
        df, "text", num_merges=6, driver_byte_budget=100, stats=st_routed
    )
    assert st_routed["path"] == "distributed"
    st_driver: dict = {}
    want = B.train_bpe(df, "text", num_merges=6, stats=st_driver)
    assert st_driver["path"] == "driver"
    assert got == want
