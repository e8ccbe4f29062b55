"""Distributed BPE tokenizer training (Sennrich et al. 2016, the
merge-pair algorithm GPT-2's byte-level tokenizer popularized) —
Spark-first.

The scale insight every production BPE trainer uses: the corpus is
scanned ONCE into a (word, freq) table — vocabulary-sized, orders of
magnitude smaller than the token stream — and ALL merge iterations
run over that table. Re-expressed in Spark terms: one big
tokenize+groupBy job over 100 TB, then each merge round costs two
small jobs over the word-frequency table (a weighted pair count +
a map-only symbol rewrite), with ``localCheckpoint`` truncating the
iteration's lineage so round 1000's plan is as small as round 1's.
Nothing per-row ever reaches Python during training; the in-array
pair merge is a native ``F.aggregate`` fold (greedy left-to-right,
exactly the reference algorithm's scan order).

Reference anchor: the reference repo has no tokenizer plane
(reference: Traffic-Prediction-Modelling.ipynb is numeric-only); this
is LLM-pipeline extension surface, cited to the published algorithm.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens

END_OF_WORD = "▁"  # visible end-of-word marker (sentencepiece's)


def word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over whitespace tokens — the ONE corpus-sized job
    of BPE training. Case is preserved (byte/char fidelity is the
    point of BPE)."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _to_symbols(word: Column) -> Column:
    """Initial symbol sequence: characters, with the end-of-word
    marker appended as its own trailing symbol (Sennrich's '</w>'
    convention; the marker keeps "est"-as-suffix distinct from
    "est"-as-prefix)."""
    return F.concat(F.split(word, ""), F.array(F.lit(END_OF_WORD)))


def pair_freqs(words: DataFrame, symbols_col: str = "symbols") -> DataFrame:
    """Corpus-weighted adjacent-symbol-pair counts over the word
    table: (a, b, pair_freq). The relational form of the reference
    algorithm's get_stats(): explode each word's adjacent pairs,
    weight by the word's corpus frequency, aggregate. Pair rows are
    alphabet²-bounded in practice — tiny next to the word table."""
    sym = F.col(symbols_col)
    pairs = F.arrays_zip(
        F.slice(sym, 1, F.size(sym) - 1).alias("a"),
        F.slice(sym, 2, F.size(sym) - 1).alias("b"),
    )
    return (
        words.select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("pair_freq"))
    )


def merge_pair_column(symbols: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) into the single
    symbol a+b, as a native fold (no UDF): walk the array once,
    appending each symbol unless it completes the target pair with
    the accumulator's last element — the exact scan order of the
    reference implementation, so overlapping runs ("aaa" under
    ("a","a")) resolve identically: (aa)(a)."""
    merged = F.lit(a + b)
    return F.aggregate(
        symbols,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _select_batch(
    cands: list[tuple[str, str, int]],
    m_rest: int,
    min_pair_freq: int,
    max_batch: int,
) -> list[tuple[str, str]]:
    """Longest prefix of the greedy-ordered candidates whose BATCHED
    application provably reproduces the singleton greedy merge order
    (exact parity with Sennrich's algorithm, not an approximation).

    ``cands`` is the pair table ordered by (count desc, a, b) — the
    singleton greedy order; ``m_rest`` bounds the count of every pair
    NOT in ``cands`` (the K-th count when the collect truncated, 0
    when it captured the whole table).

    Batching beyond the first merge requires ``m_rest == 0`` — i.e.
    the snapshot saw the COMPLETE pair table. Every symbol appears in
    at least one pair (the end-of-word marker guarantees a partner),
    so a complete table makes the symbol universe known, and the
    output-collision break below is then airtight: each selected
    merge's output string is a genuinely NEW symbol. That closes the
    hole a truncated snapshot leaves open (an output colliding with a
    corpus symbol invisible to the window lets created pairs chain
    and compound past any fixed multiple of the observable bound).

    Soundness with a complete table: applying p_i only (a) zeroes
    p_i, (b) DECREASES counts of pairs sharing a symbol with p_i, and
    (c) CREATES pairs with the new symbol a_i+b_i as an element.
    Selected pairs are pairwise symbol-disjoint, so each p_j's own
    count is untouched, and the only threat to "greedy still picks
    p_j next" is a created pair outranking it. A created pair starts
    at 0 (its output element is new) and receives exactly ONE
    creation contribution (a pair (u, v) is creatable only by the
    merge whose output is u or v, and outputs are distinct and
    ordered in time), bounded by its source's count at application —
    and every source either shares a symbol with a selected pair
    (count <= ``base``) or is itself a created pair (<= ``base`` by
    induction). So every disruptor is <= base; requiring
    count(p_j) > 3*base keeps every p_j strictly on top with margin.
    Candidates either of whose elements EQUALS an earlier output
    string (not substring — adjacency pairs are whole symbols) have
    stale counts and stop the batch; with a complete table this
    cannot actually occur (elements come from ``all_symbols``,
    outputs are new by the collision guard), so the ``in outs``
    membership checks below are belt-and-braces, kept deliberately
    (ADVICE r6). The first pair needs no guard — it is the true
    greedy top regardless.
    """
    if m_rest > 0:
        # truncated snapshot: the symbol universe is unknown, so no
        # batch extension is provably order-safe — singleton round
        if cands and cands[0][2] >= min_pair_freq:
            return [(cands[0][0], cands[0][1])]
        return []
    all_symbols: set[str] = set()
    for a, b, _ in cands:
        all_symbols.add(a)
        all_symbols.add(b)
    selected: list[tuple[str, str]] = []
    sel_set: set[tuple[str, str]] = set()
    used: set[str] = set()
    outs: set[str] = set()
    base = m_rest
    for a, b, cnt in cands:
        if cnt < min_pair_freq:
            break
        if selected:
            if len(selected) >= max_batch:
                break
            # `in outs` arms are provably dead with a complete table
            # (see docstring) — kept as belt-and-braces
            if a in used or b in used or a in outs or b in outs:
                break
            if a + b in all_symbols or a + b in outs:
                break
            if cnt <= 3 * base:
                break
        selected.append((a, b))
        sel_set.add((a, b))
        used.update((a, b))
        outs.add(a + b)
        for x, y, c2 in cands:
            if (x, y) in sel_set:
                continue
            if x in used or y in used or x in outs or y in outs:
                base = max(base, c2)
    return selected


def _train_bpe_driver(
    rows, num_merges: int, min_pair_freq: int
) -> list[tuple[str, str]]:
    """Driver-side BPE merge loop over a collected (word, freq) table
    — the indexed incremental algorithm (subword-nmt's published
    improvement on Sennrich et al. 2016): pair→count stats plus a
    pair→word-ids inverted index, so each merge touches ONLY the
    words containing the merged pair, and the argmax is a lazy-
    deletion heap pop instead of a full stats scan. Per-merge cost is
    O(occurrences), microseconds deep into training — a 32k-merge
    production vocabulary is a single in-memory loop, zero Spark
    jobs.

    Semantics are EXACTLY the reference greedy: argmax by (count
    desc, pair lex asc), left-to-right in-word merge scan. The heap
    key (-count, pair) pops in that order; every count change pushes
    a fresh entry and stale entries are skipped on pop (entry valid
    iff it matches the current count). A merged (a,b) adjacency can
    never re-form (the output string a+b differs from both elements),
    so dropping the pair's stats/index after its round is safe.
    """
    import heapq
    from collections import Counter, defaultdict

    words: list[list[str]] = []
    freqs: list[int] = []
    for w, f in rows:
        words.append(list(w) + [END_OF_WORD])
        freqs.append(f)
    stats: Counter = Counter()
    index: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for i, syms in enumerate(words):
        f = freqs[i]
        for q in zip(syms, syms[1:]):
            stats[q] += f
            index[q].add(i)
    heap = [(-c, q) for q, c in stats.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < num_merges:
        best = None
        while heap:
            nc, q = heapq.heappop(heap)
            if stats.get(q, 0) == -nc:
                best = (q, -nc)
                break
        if best is None or best[1] < min_pair_freq:
            break
        (a, b), _ = best
        merges.append((a, b))
        merged = a + b
        changed: Counter = Counter()
        for i in index.pop((a, b), set()):
            syms = words[i]
            new: list[str] = []
            hit = False
            for x in syms:  # greedy left-to-right, the engine fold's order
                if new and new[-1] == a and x == b:
                    new[-1] = merged
                    hit = True
                else:
                    new.append(x)
            if not hit:  # stale index entry
                continue
            f = freqs[i]
            for q in zip(syms, syms[1:]):
                changed[q] -= f
            for q in zip(new, new[1:]):
                changed[q] += f
                index[q].add(i)
            words[i] = new
        for q, d in changed.items():
            if d == 0 or q == (a, b):
                continue
            stats[q] += d
            if stats[q] <= 0:
                stats.pop(q, None)
            else:
                heapq.heappush(heap, (-stats[q], q))
        stats.pop((a, b), None)
    return merges


def train_bpe(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    min_pair_freq: int = 2,
    checkpoint_every: int = 8,
    max_batch: int = 32,
    candidate_k: int = 8192,
    driver_threshold: int = 1_000_000,
    driver_byte_budget: int = 128 * 1024 * 1024,
    stats: dict | None = None,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus. Returns the
    ordered merge list [(a, b), ...] (rank = position) — EXACTLY the
    list singleton greedy training produces (pytest-pinned against a
    pure-Python Sennrich reference, including adversarial tie-heavy
    corpora, on both execution paths).

    Hybrid execution (the :func:`..dedup.connected_components`
    precedent): the corpus-sized work — tokenize + word-frequency
    aggregate — is ALWAYS distributed; the merge loop runs over the
    vocabulary-sized result. At or under ``driver_threshold``
    distinct words (~1 KB/word of driver memory), that table collects
    and the indexed incremental algorithm runs in-process
    (:func:`_train_bpe_driver`) — per-merge cost O(occurrences), so a
    production 32k-merge vocabulary costs one distributed scan plus
    an in-memory loop, not 65k sequential Spark jobs. This is how
    published trainers work: the word table of even a 100 TB corpus
    is vocabulary-bounded, and the iteration is driver-cheap once
    aggregated.

    The driver-path guard is row-count AND byte aware (ADVICE r6):
    ``driver_byte_budget`` caps ``sum(length(word))`` — measured in
    the SAME aggregate that counts the rows — so a long-token corpus
    (URLs, no-whitespace text, CJK run-ons) whose word table is few
    rows but many bytes routes to the distributed loop instead of
    collecting multi-GB of Row objects. The default 128 MiB of raw
    word bytes keeps worst-case driver residency (Row overhead plus
    the per-word symbol lists the incremental index builds, ~20-40x
    raw) comfortably inside a mid-size driver heap.

    Above the threshold, the distributed loop runs. Each ROUND:
    (1) one weighted pair-count aggregate over the word table,
    collecting the top ``candidate_k`` candidates (ties broken
    lexicographically, so training is layout-independent); (2) a
    driver-side selection of the longest provably-safe merge BATCH
    from that one snapshot (see :func:`_select_batch`; batches beyond
    one merge require the snapshot to have captured the complete pair
    table — size ``candidate_k`` generously, it is KB-sized rows) —
    amortizing one driver round-trip over up to ``max_batch`` merges,
    falling back to singleton rounds exactly where greedy order would
    be at risk; (3) one map-only symbol rewrite applying the whole
    batch.
    ``localCheckpoint`` after every ``checkpoint_every`` applied
    merges truncates lineage — without it the plan nests one fold per
    merge and Catalyst analysis, not data, becomes the wall. Stops
    early when no pair reaches ``min_pair_freq`` (merging singletons
    is noise).

    The distributed path's driver holds only the merge list and each
    round's ``candidate_k``-row snapshot — never the word table. Pass
    a dict as ``stats`` to receive {"path", "rounds", "merges"} (the
    telemetry the scaling harness records).
    """
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1: {num_merges}")
    wf = word_freqs(df, text_col)
    from pyspark import StorageLevel

    wf = wf.persist(StorageLevel.MEMORY_AND_DISK)
    sizing = wf.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("word")).alias("word_bytes"),
    ).collect()[0]
    n_words = sizing["n"]
    word_bytes = sizing["word_bytes"] or 0
    if n_words <= driver_threshold and word_bytes <= driver_byte_budget:
        rows = wf.collect()
        wf.unpersist()
        merges = _train_bpe_driver(
            ((r["word"], r["freq"]) for r in rows), num_merges, min_pair_freq
        )
        if stats is not None:
            stats.update({"path": "driver", "rounds": 0, "merges": len(merges)})
        return merges
    words = (
        wf.select(_to_symbols(F.col("word")).alias("symbols"), "freq")
        .localCheckpoint()
    )
    wf.unpersist()
    merges: list[tuple[str, str]] = []
    rounds = 0
    since_ckpt = 0
    while len(merges) < num_merges:
        top = (
            pair_freqs(words)
            .orderBy(F.desc("pair_freq"), F.asc("a"), F.asc("b"))
            .limit(candidate_k)
            .collect()
        )
        cands = [(r["a"], r["b"], r["pair_freq"]) for r in top]
        if not cands or cands[0][2] < min_pair_freq:
            break
        m_rest = cands[-1][2] if len(cands) >= candidate_k else 0
        batch = _select_batch(
            cands,
            m_rest,
            min_pair_freq,
            min(max_batch, num_merges - len(merges)),
        )
        merges.extend(batch)
        rounds += 1
        col = F.col("symbols")
        for a, b in batch:
            col = merge_pair_column(col, a, b)
        words = words.select(col.alias("symbols"), "freq")
        since_ckpt += len(batch)
        if since_ckpt >= checkpoint_every and len(merges) < num_merges:
            words = words.localCheckpoint()
            since_ckpt = 0
    if stats is not None:
        stats.update(
            {"path": "distributed", "rounds": rounds, "merges": len(merges)}
        )
    return merges


def merges_df(spark, merges: list[tuple[str, str]]) -> DataFrame:
    """The learned merges as a (rank, a, b) frame — the persistable
    model artifact."""
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, a string, b string",
    )
