"""End-to-end training-corpus construction plan (engine extension —
the LLM-pipeline counterpart of the reference's forecast plane).

Composes the curation operators in the order a production run uses,
chosen so each stage shrinks the data the next (more expensive) stage
touches:

  1. quality gate      — map-only scoring, fuses into the scan
  2. decontamination   — broadcast n-gram overlap vs the eval slice
  3. near-dedup        — MinHash LSH → connected components → filter
  4. mixing sample     — deterministic per-language hash rates
  5. sequence packing  — deterministic token-bin shard assignment
  6. JSONL export      — gzip shards + a tiny manifest table

Stages 1-2 are O(corpus) map passes; dedup (the only super-linear
stage) runs on the already-reduced survivor set; sampling/packing are
map + one stratum-keyed window. Every stage is individually
oracle-checked via its catalog query (t2/c2/d6/d7/c3) — this plan is
their integration, tested for stage monotonicity and determinism.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sampling as SM
from ..operators import text as TX
from ..operators.dedup import near_dedup_filter
from ..sources.tables import load_table
from ..sources.writers import export_jsonl


@dataclass
class CorpusStats:
    n_input: int
    n_quality: int
    n_clean: int
    n_deduped: int
    n_sampled: int
    n_bins: int


def build_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_path: str | None = None,
    min_tokens: int = 5,
    min_quality: float = 0.5,
    decontam_ngram: int = 4,
    jaccard_threshold: float = 0.7,
    mix_rates: dict[str, float] | None = None,
    default_rate: float = 0.5,
    bin_budget: int = 512,
    n_shards: int = 4,
) -> tuple[DataFrame, CorpusStats]:
    """Run the full curation pipeline over the ``documents`` table;
    the 'src0' source slice plays the held-out eval suite. Returns
    (curated frame with bin assignments, per-stage counts). Writes
    gzip JSONL shards when ``out_path`` is given.

    The stage counts exist for observability — they are the curation
    yield metrics every corpus report publishes. Each stage is
    PERSISTED before its count and released once its successor has
    materialized, so every stage executes exactly ONCE per run
    (VERDICT r3: the unpersisted chain re-executed the quality gate
    ~5× and dedup ~2× through recomputed lineage — invisible at
    sf0.1, 4-5 extra full corpus passes at 100 TB; pinned by the
    single-execution accumulator test in test_text_curation). The
    dedup stage's cache stays alive behind the RETURNED frame —
    collecting/exporting the result rides it instead of re-running
    LSH; callers done with the frame release it via
    ``spark.catalog.clearCache()`` or by letting the context cleaner
    collect it."""
    from pyspark import StorageLevel

    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.filter(F.col("source") != "src0")
    benchmark = docs.filter(F.col("source") == "src0")

    # 1. quality gate (token bounds + composite score) — inline
    # column expressions, so scoring fuses into the scan with zero
    # joins/shuffles (see TX.with_quality). Scoring BEFORE the input
    # count lets one cached pass serve n_input, the gate filter, and
    # every downstream stage.
    scored = TX.with_quality(corpus, "text").persist(StorageLevel.MEMORY_AND_DISK)
    n_input = scored.count()
    gated = scored.filter(
        (F.col("n_tokens") >= min_tokens) & (F.col("quality") >= min_quality)
    )
    n_quality = gated.count()  # cache-backed: no rescan, no re-score

    # 2. decontamination against the eval slice
    flags = TX.decontaminate(gated, benchmark, "text", "doc_id", n=decontam_ngram)
    clean = gated.join(
        flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_clean = clean.count()
    scored.unpersist()  # clean is materialized; the scan-stage cache is dead weight

    # 3. near-dedup (exact-first collapse → LSH → connected components
    # → keep one per cluster). The LSH pipeline reads `clean` several
    # times (fingerprints, signatures, verify, final anti-join) — all
    # served by the stage cache.
    deduped = near_dedup_filter(
        clean, "text", "doc_id", jaccard_threshold=jaccard_threshold
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_deduped = deduped.count()
    clean.unpersist()

    # 4. deterministic mixing sample per language (map-only over the
    # cached dedup output — not worth a cache of its own)
    sampled = SM.stratified_hash_sample(
        deduped, "doc_id", "lang", mix_rates or {}, default_rate=default_rate,
        salt="corpus-mix",
    )
    n_sampled = sampled.count()

    # 5. token-bin shard assignment
    bins = TX.pack_token_bins(
        sampled, "text", "doc_id", budget=bin_budget, strata_col="lang"
    )
    out = sampled.join(bins.select("doc_id", "bin_id"), "doc_id")
    n_bins = out.select("lang", "bin_id").distinct().count()

    # 6. export
    if out_path is not None:
        export_jsonl(
            out.select("doc_id", "lang", "source", "bin_id", "text"),
            out_path,
            n_shards=n_shards,
        )

    return out, CorpusStats(
        n_input, n_quality, n_clean, n_deduped, n_sampled, n_bins
    )
