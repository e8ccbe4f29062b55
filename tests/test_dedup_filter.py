"""Connected-components + near-dedup-filter semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from traffic_forecast_etl_spark.operators.dedup import (
    connected_components,
    near_dedup_filter,
)


def test_connected_components_chains_and_islands(spark):
    # components: {1,2,3,4} (chain), {10,11}, isolated nodes absent
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id1 long, id2 long"
    )
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_distributed_path(spark):
    """Force the label-propagation branch (driver_threshold=0) and
    assert it matches the union-find result."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (5, 6), (6, 7), (7, 8), (8, 9)],
        "id1 long, id2 long",
    )
    dist = {
        r.node: r.component
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    uf = {r.node: r.component for r in connected_components(pairs).collect()}
    assert dist == uf
    assert dist[4] == 1 and dist[9] == 5 and dist[11] == 10


def test_connected_components_deep_chain_converges_log_rounds(spark):
    """Pointer jumping doubles label reach per round, so a 40-node
    chain (diameter 39) must converge within ~log2(39)+2 rounds —
    plain min-label propagation would need 39 (the r01 silent-split
    failure mode)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "id1 long, id2 long"
    )
    comp = {
        r.node: r.component
        for r in connected_components(pairs, max_iter=8, driver_threshold=0).collect()
    }
    assert set(comp.values()) == {1}
    assert len(comp) == 40


def test_connected_components_auto_extends_past_max_iter(spark):
    """max_iter is a floor, not an abort trigger: a graph deeper than
    max_iter rounds auto-extends to the pointer-jumping bound
    ceil(log2(n_nodes)) + 4 and converges instead of killing the job
    (the r2-verdict operational-harshness fix). max_iter=1 on a
    40-node chain previously raised; now it must converge correctly."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "id1 long, id2 long"
    )
    comp = {
        r.node: r.component
        for r in connected_components(pairs, max_iter=1, driver_threshold=0).collect()
    }
    assert set(comp.values()) == {1}
    assert len(comp) == 40


def test_connected_components_2pow16_chain_converges(spark):
    """A 2^16-hop chain — deeper than any real near-dup cluster —
    converges on the distributed path without raising (needs ~17
    pointer-jumping rounds; the default max_iter=15 alone would have
    aborted before the auto-extend)."""
    n = 1 << 16
    pairs = spark.range(1, n).select(
        F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
    )
    labels = connected_components(pairs, driver_threshold=0)
    agg = labels.agg(
        F.countDistinct("component").alias("ncomp"), F.count("*").alias("n")
    ).collect()[0]
    assert (agg.ncomp, agg.n) == (1, n)


def test_near_dedup_filter_keeps_min_per_cluster(spark):
    text_a = "the quick brown fox jumps over the lazy dog again and again today"
    text_b = text_a + " ok"  # near-dup of A
    rows = [
        (1, text_a),
        (2, text_b),
        (3, "completely different content about spark query engines and shuffles"),
        (4, text_a),  # exact dup of A
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(
        r.doc_id for r in near_dedup_filter(df, "text", "doc_id", jaccard_threshold=0.5).collect()
    )
    assert kept == [1, 3]


def test_incremental_exact_dedup_semantics(spark):
    from traffic_forecast_etl_spark.operators.dedup import incremental_exact_dedup

    seen = spark.createDataFrame([(0, "Hello World")], ["doc_id", "text"])
    new = spark.createDataFrame(
        [
            (10, "hello, world!"),    # normalizes to a corpus duplicate
            (11, "fresh content"),
            (12, "Fresh   CONTENT"),  # within-batch dup of 11 -> min id kept
            (13, "unique"),
        ],
        ["doc_id", "text"],
    )
    kept = {
        r["doc_id"]
        for r in incremental_exact_dedup(new, seen, "text", "doc_id").collect()
    }
    assert kept == {11, 13}


def test_ngram_postings_cap_drops_stop_shingles_only(spark):
    from traffic_forecast_etl_spark.operators.dedup import ngram_jaccard_pairs

    filler = "lorem ipsum dolor sit amet"  # shared by ALL docs -> stop-shingles
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta epsilon {filler}"),
            (2, f"alpha beta gamma delta epsilon {filler}"),  # true dup of 1
            (3, f"completely different words here {filler}"),
            (4, f"another unrelated document text {filler}"),
        ],
        ["doc_id", "text"],
    )
    exact = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.1).collect()
    }
    capped = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.1, max_postings=2
        ).collect()
    }
    # the filler-only pairs (3,4 vs others) exist in exact but vanish
    # once ubiquitous shingles are dropped
    assert (3, 4) in exact and (3, 4) not in capped
    # the true duplicate pair survives the cap at jaccard 1.0
    assert capped[(1, 2)] == 1.0
    # a generous cap reproduces the exact result
    wide = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.1, max_postings=100
        ).collect()
    }
    assert wide == exact


def test_incremental_near_dup_against_signature_store(spark, tmp_path):
    """The continuous-ingestion LSH path: corpus text is reduced to a
    signature store once; a later batch finds its near-dups against
    the store alone (no corpus text involved)."""
    from traffic_forecast_etl_spark.operators.dedup import (
        incremental_near_dup_pairs,
        minhash_signatures,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while rain fell "
        "softly on the quiet village roofs and the river ran east"
    )
    seen = spark.createDataFrame(
        [(1, base), (2, "an entirely different document about spark plans")],
        ["doc_id", "text"],
    )
    store_path = str(tmp_path / "sigstore")
    minhash_signatures(seen, "text", "doc_id").write.parquet(store_path)
    store = spark.read.parquet(store_path)

    new = spark.createDataFrame(
        [
            (10, base.replace("lazy", "sleepy")),  # near-dup of doc 1
            (11, "completely novel content with no relatives at all"),
        ],
        ["doc_id", "text"],
    )
    pairs = incremental_near_dup_pairs(
        new, store, "text", "doc_id", jaccard_threshold=0.5
    ).collect()
    assert {(r["new_id"], r["seen_id"]) for r in pairs} == {(10, 1)}
    assert all(0.5 <= r["est_jaccard"] <= 1.0 for r in pairs)

    # determinism: a re-computed store yields identical signatures
    again = minhash_signatures(seen, "text", "doc_id").collect()
    stored = {r["doc_id"]: r["minhash_sig"] for r in store.collect()}
    assert all(stored[r["doc_id"]] == r["minhash_sig"] for r in again)


def test_segment_dedup_semantics(spark):
    """Segment dedup removes a cross-document repeated window from
    EVERY document containing it, keeps within-document-only repeats
    (df counts distinct docs), respects min_df, and rebuilds the
    cleaned text in original segment order."""
    from traffic_forecast_etl_spark.operators.dedup import segment_dedup

    boiler = "x" + " x" * 3  # 4-word boilerplate segment
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta gamma delta"),
            (2, f"{boiler} epsilon zeta eta theta"),
            # within-doc repeat only: segment appears twice in doc 3
            # but in no other doc -> df=1 -> kept
            (3, "r r r r r r r r iota kappa mu nu"),
            (4, "unique words only here nothing shared at all ok"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in segment_dedup(
            docs, "text", "doc_id", segment_words=4, min_df=2
        ).collect()
    }
    # boilerplate removed from both docs 1 and 2, suffixes kept intact
    assert out[1] == ("alpha beta gamma delta", 1)
    assert out[2] == ("epsilon zeta eta theta", 1)
    # doc 3: "r r r r" appears twice WITHIN the doc but df(distinct
    # docs)=1 -> kept whole
    assert out[3] == ("r r r r r r r r iota kappa mu nu", 0)
    assert out[4] == ("unique words only here nothing shared at all ok", 0)

    # min_df=3: nothing reaches 3 distinct docs -> no-op
    untouched = {
        r["doc_id"]: r["n_removed"]
        for r in segment_dedup(
            docs, "text", "doc_id", segment_words=4, min_df=3
        ).collect()
    }
    assert untouched == {1: 0, 2: 0, 3: 0, 4: 0}


def test_byte_agreement_expr_matches_per_byte_reference(spark):
    """The word-parallel byte-agreement expression (minhash_lsh_pairs'
    estimate-filter inner loop) must count agreeing bytes exactly —
    pinned against a per-byte Python reference over adversarial and
    random packed words (sign bits, 0x00/0xFF bytes, single-bit
    diffs)."""
    import random

    from pyspark.sql import functions as F

    from traffic_forecast_etl_spark.operators.dedup import byte_agreement_expr

    rnd = random.Random(7)

    def to_signed(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    cases = []
    for _ in range(200):
        a = [rnd.getrandbits(64) for _ in range(2)]
        b = []
        for w in a:
            # mutate a random subset of bytes, including single-bit flips
            out = w
            for byte in range(8):
                r = rnd.random()
                if r < 0.3:
                    out ^= 1 << (byte * 8 + rnd.randrange(8))
                elif r < 0.4:
                    out = (out & ~(0xFF << (byte * 8))) | (
                        rnd.getrandbits(8) << (byte * 8)
                    )
            b.append(out)
        expect = sum(
            1
            for wa, wb in zip(a, b)
            for k in range(8)
            if (wa >> (8 * k)) & 0xFF == (wb >> (8 * k)) & 0xFF
        )
        cases.append((*map(to_signed, a), *map(to_signed, b), expect))
    # edge rows: all-equal, all-different-in-every-byte
    cases.append((0, -1, 0, -1, 16))
    cases.append((0, 0, to_signed(0x0101010101010101), to_signed((1 << 64) - 1), 0))
    df = spark.createDataFrame(
        cases, "a0 long, a1 long, b0 long, b1 long, expect int"
    )
    got = df.select(
        "expect",
        F.expr(byte_agreement_expr(2, "a{}", "b{}")).alias("got"),
    ).collect()
    bad = [(r["expect"], r["got"]) for r in got if r["expect"] != r["got"]]
    assert not bad, f"mismatches: {bad[:5]}"


def test_segment_dedup_matches_python_reference(spark):
    """Random corpora (with planted cross-doc repeats): the operator
    must match an exact Python reference implementation of the
    semantics — segment by fixed word windows, remove every segment
    whose DISTINCT-document frequency reaches min_df, reassemble in
    order."""
    import math
    import random
    from collections import defaultdict

    from traffic_forecast_etl_spark.operators.dedup import segment_dedup

    rnd = random.Random(13)
    vocab = [f"w{i}" for i in range(30)]
    boiler = " ".join(rnd.choice(vocab) for _ in range(16))
    rows = []
    for i in range(40):
        body = " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(1, 60)))
        # plant the shared block at a word-aligned offset in some docs
        rows.append((i, f"{boiler} {body}" if i % 5 == 0 else body))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    for w, min_df in ((16, 2), (3, 2), (16, 3)):
        def segments(text):
            toks = text.split(" ")
            nseg = max(math.ceil(len(toks) / w), 1)
            return [" ".join(toks[k * w : (k + 1) * w]) for k in range(nseg)]

        df_count = defaultdict(set)
        for doc_id, text in rows:
            for seg in segments(text):
                df_count[seg].add(doc_id)
        dup = {s for s, d in df_count.items() if len(d) >= min_df}
        expected = {}
        for doc_id, text in rows:
            segs = segments(text)
            kept = [s for s in segs if s not in dup]
            expected[doc_id] = (" ".join(kept), len(segs) - len(kept))

        got = {
            r["doc_id"]: (r["clean_text"], r["n_removed"])
            for r in segment_dedup(
                docs, "text", "doc_id", segment_words=w, min_df=min_df
            ).collect()
        }
        assert got == expected, (w, min_df)
        if min_df == 2 and w == 16:
            # the planted boilerplate must actually have been removed
            assert all(got[i][1] >= 1 for i, _ in rows if i % 5 == 0)


def test_duplicate_spans_planted_passage_misaligned(spark):
    """A verbatim passage planted at offsets that do NOT agree modulo
    any stride must still surface as one merged span per doc (the
    content-defined-anchor property — a fixed-stride grid misses
    this case by construction); a doc without the passage reports
    nothing; a within-doc-only repeat does not count (df is distinct
    docs). Anchors are a deterministic function of the fixed texts,
    so this is not flaky."""
    import random

    from traffic_forecast_etl_spark.operators.dedup import duplicate_spans

    rnd = random.Random(3)

    def noise(n):
        return "".join(rnd.choice("abcdefghij ") for _ in range(n))

    passage = (
        "the quick brown fox jumps over the lazy dog while rain fell "
        "softly on the quiet village roofs and the river ran east past "
        "the old mill where children played on warm summer evenings ok"
    )  # ~185 chars: ~11 expected anchors, miss prob < 1e-3 per corpus
    d1 = noise(101) + passage + noise(50)  # passage at offset 102
    d2 = noise(38) + passage + noise(120)  # offset 39 — 102-39=63, coprime-ish
    d3 = noise(180)                        # unrelated
    block = noise(120)
    d4 = block + block                     # within-doc repeat only

    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)], ["doc_id", "text"]
    )
    for mode in ("xxhash64", "md5"):
        out = duplicate_spans(
            docs, "text", "doc_id", window_chars=48, anchor_every=16,
            anchor_gram=8, min_df=2, anchor_hash=mode,
        ).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(
                (r["span_start"], r["span_end"], r["n_windows"])
            )
        assert 3 not in by_doc and 4 not in by_doc, mode
        spans1 = sorted(by_doc.get(1, []))
        spans2 = sorted(by_doc.get(2, []))
        assert spans1 and spans2, mode
        # every span must lie inside the planted passage region
        for s, e, _ in spans1:
            assert 102 <= s and e <= 101 + len(passage), mode
        for s, e, _ in spans2:
            assert 39 <= s and e <= 38 + len(passage), mode
        # the content-defined property: the span structure, shifted to
        # in-passage coordinates, is IDENTICAL on both copies even
        # though the document offsets disagree mod every stride
        norm1 = [(s - 102, e - 102, nw) for s, e, nw in spans1]
        norm2 = [(s - 39, e - 39, nw) for s, e, nw in spans2]
        assert norm1 == norm2, mode
        # and detection is substantial: at least one full window
        assert max(e - s + 1 for s, e, _ in spans1) >= 48, mode


# ---------------------------------------------------------------------------
# round 4: band-extraction byte parity, r-unrestricted banding, and the
# exact-first pre-pass that keeps duplicate-heavy corpora from flooding
# an LSH band bucket into N²/2 candidates.


def _py_band_bytes(words: list[int], b0: int, r: int) -> bytes:
    allb = b"".join((w & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little") for w in words)
    return allb[b0 : b0 + r]


def test_band_val_exprs_match_byte_reference(spark):
    """Aligned AND word-straddling bands must extract exactly the
    band's r bytes from the packed sketch (ADVICE r3: the single-word
    form silently zeroed the straddling bytes)."""
    from traffic_forecast_etl_spark.operators.dedup import _band_val_exprs

    rows = [
        (-0x123456789ABCDF0, 0x0FEDCBA987654321),
        (0x1111111122222222, -0x7FFFFFFFFFFFFFF0),
        (0, -1),
    ]
    df = spark.createDataFrame(rows, "__w0 long, __w1 long")
    for bands, r in [(4, 4), (2, 8), (2, 6)]:  # (2,6): band 1 straddles
        exprs = _band_val_exprs(bands, r)
        got = df.select(
            *[F.expr(e).alias(f"b{i}") for i, e in enumerate(exprs)]
        ).collect()
        for row, (w0, w1) in zip(got, rows):
            for bi in range(bands):
                want = int.from_bytes(_py_band_bytes([w0, w1], bi * r, r), "little")
                if want >= 1 << 63:
                    want -= 1 << 64
                assert row[f"b{bi}"] == want, (bands, r, bi, w0, w1)


def test_band_val_exprs_wide_band_hash_identity(spark):
    """r > 8 bands hash their chunk words: equal band bytes → equal
    band_val even when OTHER bands differ; different band bytes →
    different band_val (w.h.p.)."""
    from traffic_forecast_etl_spark.operators.dedup import _band_val_exprs

    exprs = _band_val_exprs(bands=2, r=16)  # band 0 = words 0-1, band 1 = words 2-3
    rows = [
        (10, 20, 30, 40),
        (10, 20, 99, 98),  # band 0 equal, band 1 differs
        (11, 20, 30, 40),  # band 0 differs, band 1 equal
    ]
    df = spark.createDataFrame(rows, "__w0 long, __w1 long, __w2 long, __w3 long")
    got = df.select(
        *[F.expr(e).alias(f"b{i}") for i, e in enumerate(exprs)]
    ).collect()
    assert got[0]["b0"] == got[1]["b0"] and got[0]["b0"] != got[2]["b0"]
    assert got[0]["b1"] == got[2]["b1"] and got[0]["b1"] != got[1]["b1"]


def test_high_precision_banding_accepted_again(spark):
    """num_hashes/bands > 8 (r=16 here) is a legal config again
    (ADVICE r3: the r3 packed-word rework rejected it at plan time);
    an exact duplicate must collide on every band and surface."""
    from traffic_forecast_etl_spark.operators.dedup import minhash_lsh_pairs

    text = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(1, text), (2, text), (3, "entirely different content about engines")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = minhash_lsh_pairs(
        df, "text", "doc_id", num_hashes=64, bands=4, jaccard_threshold=0.9
    ).collect()
    assert [(r.id1, r.id2) for r in got] == [(1, 2)]
    assert got[0].jaccard == 1.0


def test_straddling_band_config_finds_pairs(spark):
    """A config whose bands straddle packed-word boundaries
    (num_hashes=48, bands=8 → r=6) still bands correctly."""
    from traffic_forecast_etl_spark.operators.dedup import minhash_lsh_pairs

    text = "pack my box with five dozen liquor jugs while the band plays on"
    rows = [(1, text), (2, text), (3, "unrelated text about parquet row groups")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = minhash_lsh_pairs(
        df, "text", "doc_id", num_hashes=48, bands=8, jaccard_threshold=0.9
    ).collect()
    assert [(r.id1, r.id2) for r in got] == [(1, 2)]


def test_exact_first_survivor_parity(spark):
    """exact_first=True must return EXACTLY the survivor set of the
    LSH-over-everything path on a corpus mixing exact-dup groups,
    near-dups, and distinct docs."""
    base_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    base_b = "one two three four five six seven eight nine ten eleven twelve"
    rows = [(i, base_a) for i in range(40)]  # exact-dup group, rep=0
    rows += [(100, base_a + " nu"), (101, base_b), (102, base_b + " ok")]
    rows += [(103, base_b), (104, "totally different text about spark shuffles")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(jaccard_threshold=0.5)
    fast = {r.doc_id for r in near_dedup_filter(df, "text", "doc_id", exact_first=True, **kw).collect()}
    slow = {r.doc_id for r in near_dedup_filter(df, "text", "doc_id", exact_first=False, **kw).collect()}
    assert fast == slow == {0, 101, 104}


def test_exact_first_collapses_bucket_flood(spark):
    """10k byte-identical copies + distinct docs: the pre-pass hands
    the band join only the distinct representatives, so candidate
    volume stays O(distinct²), not O(10k²) — and the survivor set is
    the min id per cluster, identical to the unguarded semantics."""
    from traffic_forecast_etl_spark.operators.dedup import minhash_lsh_pairs

    flood = "repeated boilerplate navigation header licensed under creative commons"
    distinct = [
        (100_000 + i, f"document number {i} holds words w{i}a w{i}b w{i}c w{i}d unique")
        for i in range(50)
    ]
    near = [(200_000, distinct[0][1] + " extra")]  # near-dup of 100000
    rows = [(i, flood) for i in range(10_000)] + distinct + near
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    pairs = minhash_lsh_pairs(df, "text", "doc_id", jaccard_threshold=0.5)
    # one (rep, member) edge per flood copy but the min-id rep
    edges = pairs.filter("exact_member")
    assert edges.count() == 9_999
    assert edges.agg(F.min("id1"), F.max("id1")).collect()[0] == (0, 0)
    # the band join's input is the 52 representatives (1 flood rep +
    # 50 distinct + 1 near-dup): LSH pairs are bounded by 52², three
    # orders below 10k²/2
    assert pairs.filter(~F.col("exact_member")).count() <= 52 * 51 // 2

    kept = {r.doc_id for r in near_dedup_filter(df, "text", "doc_id").collect()}
    expected = {0} | {i for i, _ in distinct}  # 200000 loses to 100000's cluster
    assert kept == expected


def test_max_band_width_cap_drops_flooded_buckets_only(spark):
    """The bucket-width backstop: pairs carried only by a flooded
    bucket disappear; pairs in narrow buckets survive."""
    from traffic_forecast_etl_spark.operators.dedup import minhash_lsh_pairs

    flood = "identical template content repeated across the entire crawl corpus"
    pair_text = "a genuinely distinct near duplicate pair lives happily here today"
    rows = [(i, flood) for i in range(50)]
    rows += [(1000, pair_text), (1001, pair_text + " yes")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # collapse_exact=False isolates the banding-stage cap (with the
    # default guard on, identical floods are collapsed into linear
    # membership edges before banding and never hit the cap)
    got = {
        (r.id1, r.id2)
        for r in minhash_lsh_pairs(
            df, "text", "doc_id", jaccard_threshold=0.5, max_band_width=5,
            collapse_exact=False,
        ).collect()
    }
    assert (1000, 1001) in got
    assert all(i1 >= 1000 for i1, _ in got)


def test_collapse_exact_default_makes_flood_output_linear(spark):
    """The standalone-d2 duplicate-flood guard (VERDICT r4 #3): N
    byte-identical docs produce N-1 (rep, member) edges — not N²/2
    pairs — and a genuine near-dup pair still surfaces as a rep-level
    LSH pair."""
    from traffic_forecast_etl_spark.operators.dedup import minhash_lsh_pairs

    flood = "identical template content repeated across the entire crawl corpus"
    pair_text = "a genuinely distinct near duplicate pair lives happily here today"
    rows = [(i, flood) for i in range(200)]
    rows += [(1000, pair_text), (1001, pair_text + " yes")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_lsh_pairs(df, "text", "doc_id", jaccard_threshold=0.5).collect()
    ex = {(r.id1, r.id2) for r in out if r.exact_member}
    lsh = {(r.id1, r.id2) for r in out if not r.exact_member}
    assert ex == {(0, i) for i in range(1, 200)}
    assert all(r.jaccard == 1.0 for r in out if r.exact_member)
    assert (1000, 1001) in lsh
    # nothing quadratic: no member ever enters a non-exact pair
    assert all(i1 in (0, 1000) for i1, _ in ex | lsh)
    assert len(out) == 199 + len(lsh)


def test_collapse_exact_expansion_equivalence(spark):
    """Pairs-semantics equivalence pin: expand_collapsed_pairs over
    the collapsed output reproduces EXACTLY (ids and jaccards) the
    collapse_exact=False pair set on a corpus mixing an exact group
    of 3, a 2-group, member-to-external near-dups, and distinct
    docs."""
    from traffic_forecast_etl_spark.operators.dedup import (
        expand_collapsed_pairs,
        minhash_lsh_pairs,
    )

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    b = "pack my box with five dozen liquor jugs while the band plays on"
    rows = [
        (1, a), (2, a), (3, a),            # exact group {1,2,3}
        (4, a + " extra"),                 # near-dup of the group
        (5, b), (6, b),                    # exact group {5,6}
        (7, b + " tonight"),               # near-dup of group {5,6}
        (8, "entirely different content about parquet row groups"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(jaccard_threshold=0.5)
    flat = {
        (r.id1, r.id2): r.jaccard
        for r in minhash_lsh_pairs(
            df, "text", "doc_id", collapse_exact=False, **kw
        ).collect()
    }
    collapsed = minhash_lsh_pairs(df, "text", "doc_id", **kw)
    expanded = {
        (r.id1, r.id2): r.jaccard
        for r in expand_collapsed_pairs(collapsed).collect()
    }
    assert {(1, 2), (1, 3), (2, 3), (5, 6)} <= set(flat)
    assert expanded == flat


def test_priority_dedup_keep_rule(spark):
    """Both branches of the survivor rule: priority wins over id
    (group A: id 10/prio 2 loses to id 20/prio 0), and equal
    priorities fall to min id (group B: 30 beats 40). Unique docs
    survive untouched with dup_count 1."""
    from traffic_forecast_etl_spark.operators.dedup import priority_dedup

    docs = spark.createDataFrame(
        [
            (10, "same text a", 2),
            (20, "same text a", 0),
            (25, "same text a", 1),
            (30, "same text b", 1),
            (40, "same text b", 1),
            (50, "unique", 9),
        ],
        "doc_id long, text string, priority int",
    )
    got = {
        r.doc_id: r.dup_count
        for r in priority_dedup(docs, "text", "doc_id", "priority").collect()
    }
    assert got == {20: 3, 30: 2, 50: 1}


def test_priority_dedup_constant_priority_is_exact_dedup(spark, sf_dir):
    """With a constant priority the keep rule degenerates to min-id —
    survivor ids must equal exact_dedup's on a corpus WITH real
    duplicate groups (documents unioned with a shifted copy)."""
    from traffic_forecast_etl_spark.operators.dedup import (
        exact_dedup,
        priority_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dup = docs.union(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    ).withColumn("priority", F.lit(0))
    exact = {(r.doc_id, r.dup_count) for r in exact_dedup(dup, "text", "doc_id").collect()}
    pri = {
        (r.doc_id, r.dup_count)
        for r in priority_dedup(dup, "text", "doc_id", "priority").collect()
    }
    assert pri == exact and all(c == 2 for _, c in pri)


def test_priority_dedup_filter_path_matches_counts_path(spark, sf_dir):
    """keep_counts=False (anti-join-the-losers, the 100 TB filter
    shape) must keep exactly the same rows as the counts path."""
    from traffic_forecast_etl_spark.operators.dedup import priority_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dup = docs.union(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    ).withColumn("priority", (F.col("doc_id") % 2).cast("int"))
    a = priority_dedup(dup, "text", "doc_id", "priority")
    b = priority_dedup(dup, "text", "doc_id", "priority", keep_counts=False)
    assert {r.doc_id for r in a.collect()} == {r.doc_id for r in b.collect()}


def test_priority_dedup_winner_election_text_never_keys_shuffles(spark, sf_dir):
    """d1's scale contract, inherited: every hash-partitioned
    exchange is keyed by the fingerprint or the id — never the text —
    and the min_by winner election partial-aggregates map-side."""
    import re

    from traffic_forecast_etl_spark.operators.dedup import priority_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", (F.col("doc_id") % 3).cast("int").alias("priority")
    )
    out = priority_dedup(docs, "text", "doc_id", "priority")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)", plan):
        assert "text" not in ex, ex
    assert "partial_min_by" in plan or "partial_minby" in plan.lower(), plan[:1500]


def test_leakage_safe_split_no_component_straddles(spark, sf_dir):
    """The operator's whole contract: for EVERY near-dup edge, both
    endpoints land on the same side. Corpus = documents unioned with
    a shifted copy so real cross-id duplicate groups exist."""
    from traffic_forecast_etl_spark.operators.dedup import (
        leakage_safe_split,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dup = docs.union(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    edges = ngram_jaccard_pairs(dup, "text", "doc_id", n=3, threshold=0.2).select(
        "id1", "id2"
    )
    out = leakage_safe_split(dup, edges, "doc_id")
    side = {r.doc_id: r.split for r in out.collect()}
    grp = {r.doc_id: r.group_id for r in out.collect()}
    straddled = [
        (r.id1, r.id2)
        for r in edges.collect()
        if side[r.id1] != side[r.id2]
    ]
    assert straddled == []
    # the shifted twin of every doc is a perfect duplicate -> same
    # group and same side as its original
    for r in docs.collect():
        assert grp[r.doc_id] == grp[r.doc_id + 100000]
        assert side[r.doc_id] == side[r.doc_id + 100000]


def test_leakage_safe_split_md5_rule_matches_python(spark, sf_dir):
    """The engine-portable split rule: first 16 md5 bits of the
    decimal group id, train iff < round(65536*f). Recomputed in pure
    Python per row."""
    import hashlib

    from traffic_forecast_etl_spark.operators.dedup import leakage_safe_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    empty_edges = spark.createDataFrame([], "id1 long, id2 long")
    out = leakage_safe_split(docs, empty_edges, "doc_id", train_fraction=0.8)
    rows = out.select("doc_id", "group_id", "split").collect()
    n_train = 0
    for r in rows:
        assert r.group_id == r.doc_id  # no edges -> all singletons
        bucket = int(hashlib.md5(str(r.group_id).encode()).hexdigest()[:4], 16)
        expect = "train" if bucket < 52429 else "eval"
        assert r.split == expect, (r.doc_id, bucket, r.split)
        n_train += r.split == "train"
    # binomial(500, 0.8) stays inside [0.7, 0.9] with margin
    assert 0.7 < n_train / len(rows) < 0.9


def test_leakage_safe_split_string_ids(spark):
    """String ids must hash as strings — the old long cast NULLed
    them and silently dumped every row on the eval side. Same md5
    rule, recomputed in Python; components still move as one unit."""
    import hashlib

    from traffic_forecast_etl_spark.operators.dedup import leakage_safe_split

    docs = spark.createDataFrame(
        [(f"doc-{i}", "x") for i in range(200)], "doc_id string, text string"
    )
    edges = spark.createDataFrame(
        [("doc-0", "doc-1"), ("doc-1", "doc-2")], "id1 string, id2 string"
    )
    rows = leakage_safe_split(docs, edges, "doc_id", 0.8).collect()
    by_id = {r.doc_id: r for r in rows}
    assert all(r.group_id is not None for r in rows)
    # the 3-node component shares one group and one side
    comp = [by_id[f"doc-{i}"] for i in range(3)]
    assert len({r.group_id for r in comp}) == 1
    assert len({r.split for r in comp}) == 1
    n_train = 0
    for r in rows:
        bucket = int(hashlib.md5(str(r.group_id).encode()).hexdigest()[:4], 16)
        expect = "train" if bucket < 52429 else "eval"
        assert r.split == expect, (r.doc_id, r.group_id, bucket, r.split)
        n_train += r.split == "train"
    assert 0 < n_train < len(rows)


def test_leakage_safe_split_fraction_bounds(spark):
    from traffic_forecast_etl_spark.operators.dedup import leakage_safe_split

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    edges = spark.createDataFrame([], "id1 long, id2 long")
    assert [
        r.split for r in leakage_safe_split(docs, edges, "doc_id", 1.0).collect()
    ] == ["train"]
    assert [
        r.split for r in leakage_safe_split(docs, edges, "doc_id", 0.0).collect()
    ] == ["eval"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        leakage_safe_split(docs, edges, "doc_id", 1.5)


def test_simhash_md5_mode_matches_xxhash_semantics(spark):
    """d3's oracle promotion (VERDICT r6 #8): the md5 60-bit sketch
    mode must find the same planted near-duplicates as the default
    xxhash64 mode, be layout-independent, and respect the Hamming
    bound; bad hash_fn raises."""
    import pytest as _pytest

    from traffic_forecast_etl_spark.operators.dedup import (
        simhash,
        simhash_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then runs "
        "far away into the quiet green forest before the sun sets"
    )
    rows = [
        (1, base),
        (2, base.replace("quiet", "silent")),  # near-dup of 1
        (3, "completely different content about spark manifests and "
            "segment pruning with nothing shared at all here"),
        (4, base),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fn in ("xxhash64", "md5"):
        got = {
            (r.id1, r.id2): r.hamming
            for r in simhash_pairs(
                df, "text", "doc_id", max_hamming=8, hash_fn=fn
            ).collect()
        }
        assert (1, 4) in got and got[(1, 4)] == 0, (fn, got)
        assert (1, 2) in got and got[(1, 2)] <= 8, (fn, got)
        assert all(h <= 8 for h in got.values())
        assert not any(3 in p for p in got), (fn, got)
    # md5-mode sketch fits 60 bits and is layout-independent
    sig_a = {r.doc_id: r.simhash for r in simhash(df, "text", "doc_id", hash_fn="md5").collect()}
    sig_b = {
        r.doc_id: r.simhash
        for r in simhash(df.repartition(7), "text", "doc_id", hash_fn="md5").collect()
    }
    assert sig_a == sig_b
    assert all(0 <= s < (1 << 60) for s in sig_a.values())
    with _pytest.raises(ValueError, match="hash_fn"):
        simhash(df, "text", "doc_id", hash_fn="sha1")


def test_trim_spans_surgery_pin(spark):
    """trim_spans (r7): exact span cutting with 1-based inclusive
    ranges — spans at the start/end, adjacent spans, defensive
    overlap clamping, no-span passthrough, and NULL text."""
    from traffic_forecast_etl_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [
            (1, "abcdefghij"),   # cut [3,5] and [8,9] -> "abfgj"
            (2, "abcdefghij"),   # cut [1,4] (start) -> "efghij"
            (3, "abcdefghij"),   # cut [8,10] (end) -> "abcdefg"
            (4, "abcdefghij"),   # overlapping [2,6],[4,8] -> "aij"
            (5, "untouched"),    # no spans
            (6, None),           # NULL text, no spans
        ],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [
            (1, 3, 5), (1, 8, 9),
            (2, 1, 4),
            (3, 8, 10),
            (4, 2, 6), (4, 4, 8),
        ],
        "doc_id long, span_start long, span_end long",
    )
    got = {
        r.doc_id: (r.text_trimmed, r.n_chars_removed)
        for r in DD.trim_spans(docs, "text", "doc_id", spans).collect()
    }
    assert got[1] == ("abfgj", 5)
    assert got[2] == ("efghij", 4)
    assert got[3] == ("abcdefg", 3)
    assert got[4] == ("aij", 7)
    assert got[5] == ("untouched", 0)
    assert got[6] == (None, 0)
    # composition: duplicate_spans -> trim_spans removes the planted
    # shared passage from both carriers
    boiler = "SHARED-BOILERPLATE-" * 8  # 152 chars, well past one window
    corpus = spark.createDataFrame(
        [
            (10, "intro text one " + boiler + " outro one"),
            (11, "different lead " + boiler + " different tail"),
            (12, "clean document with nothing repeated in it at all"),
        ],
        "doc_id long, text string",
    )
    sp = DD.duplicate_spans(corpus, "text", "doc_id")
    out = {
        r.doc_id: r.text_trimmed
        for r in DD.trim_spans(corpus, "text", "doc_id", sp).collect()
    }
    assert "SHARED-BOILERPLATE" not in out[10]
    assert "SHARED-BOILERPLATE" not in out[11]
    assert out[12] == "clean document with nothing repeated in it at all"
    assert out[10].startswith("intro text one")


def test_collapse_exact_parity_on_empty_and_subk_docs(spark):
    """Edge pin for the r10 light-fp collapse arm (VERDICT r10 item 7):
    the fp scan emits group structure for EVERY row while banding
    covers only rows that produce signatures — parity between the two
    arms rests on exploded_char_shingles' >=1-shingle guarantee
    (greatest(len-k+1, 1)), which must hold for EMPTY and sub-k-length
    normalized texts too. Pins collapse_exact=True vs False pair
    semantics and near_dedup_filter's survivor set on a corpus made of
    empty strings, punctuation-only strings (normalize to empty), and
    sub-k docs."""
    from traffic_forecast_etl_spark.operators.dedup import (
        expand_collapsed_pairs,
        minhash_lsh_pairs,
    )

    rows = [
        (1, ""), (2, ""),                  # empty group {1,2}
        (3, "!!! ..."),                    # punctuation-only -> normalizes empty
        (4, "ab"), (5, "ab"),              # sub-k (k=5) group {4,5}
        (6, "ab."),                        # normalizes to "ab" too -> same group
        (7, "xy"),                         # sub-k singleton
        (8, "a perfectly ordinary document with plenty of words inside"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(jaccard_threshold=0.5)
    flat = {
        (r.id1, r.id2): r.jaccard
        for r in minhash_lsh_pairs(
            df, "text", "doc_id", collapse_exact=False, **kw
        ).collect()
    }
    collapsed = minhash_lsh_pairs(df, "text", "doc_id", **kw)
    expanded = {
        (r.id1, r.id2): r.jaccard
        for r in expand_collapsed_pairs(collapsed).collect()
    }
    assert expanded == flat
    # the empty texts {1,2,3} form one exact group; "ab"-normalized
    # {4,5,6} another; both fully inside the pair set
    assert {(1, 2), (1, 3), (4, 5), (4, 6)} <= set(expanded)
    fast = {r.doc_id for r in near_dedup_filter(df, "text", "doc_id", exact_first=True, **kw).collect()}
    slow = {r.doc_id for r in near_dedup_filter(df, "text", "doc_id", exact_first=False, **kw).collect()}
    assert fast == slow
    assert {1, 4, 7, 8} <= fast and not {2, 3, 5, 6} & fast


def test_scan_gate_accepts_v2_parquet_relation(spark, tmp_path):
    """With the V1 source list emptied, a parquet read analyses to
    Filter/Project over DataSourceV2Relation; the spread gate must
    still treat it as a scan."""
    from traffic_forecast_etl_spark.operators.dedup import _is_scan_like

    path = str(tmp_path / "docs")
    spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string").write.parquet(path)
    key = "spark.sql.sources.useV1SourceList"
    old = spark.conf.get(key)
    spark.conf.set(key, "")
    try:
        df = spark.read.parquet(path).filter("doc_id > 0").select("doc_id", "text")
        leaf = df._jdf.queryExecution().analyzed()
        while leaf.children().size():
            leaf = leaf.children().apply(0)
        assert leaf.nodeName() == "DataSourceV2Relation"
        assert _is_scan_like(df)
    finally:
        spark.conf.set(key, old)


def test_packed_signatures_pack_low_bytes_of_minhash_signatures(spark):
    """Both signature forms read one min-hash aggregate: byte i of the
    packed words is element i of the store array, masked to its low
    byte."""
    from traffic_forecast_etl_spark.operators.dedup import (
        minhash_signatures,
        packed_signatures,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumped over a lazy dog"),
            (3, "tiny"),
            (4, "an entirely different document about spark plans"),
        ],
        "doc_id long, text string",
    )
    n = 24
    arrays = {r.doc_id: r.minhash_sig for r in minhash_signatures(df, "text", "doc_id", n).collect()}
    packed = {r["__id"]: r for r in packed_signatures(df, "text", "doc_id", n).collect()}
    assert arrays.keys() == packed.keys() == {1, 2, 3, 4}
    for doc_id, sig in arrays.items():
        words = packed[doc_id]
        for i in range(n):
            assert (words[f"__w{i // 8}"] >> (8 * (i % 8))) & 255 == sig[i] & 255
