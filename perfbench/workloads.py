"""The benchmark workloads.

Each workload generates its inputs once in ``prepare`` (untimed), builds
its state in ``setup`` (timed; called ``setup_reps`` times, each into a
fresh directory, and the last one stays live), then runs one op per ``op``
call. An op returns its timed samples: ``("op", seconds, rows)`` is the
end-to-end op; other kinds (``"append"``) are side operations timed on
their own. With a :class:`~perfbench.trace.Tracer`, ``op`` runs the same
engine calls with a span around each layer, every layer's output
materialised at its boundary.

Workloads only call the engine's public functions; the engine sees only
the generated inputs.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import shutil
import time
from contextlib import ExitStack, contextmanager, nullcontext
from inspect import signature
from statistics import median
from unittest import mock

from . import gen
from .trace import traced_calls

Sample = tuple[str, float, int]


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def _dir_bytes_files(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


class Workload:
    name = ""
    # set-ups per run; setup_s is their median. The first runs on a cold
    # JVM (for the training job and index build, ~15 s); a third would
    # not fit the run budget.
    setup_reps = 2
    min_ops = 2  # measured ops even when --seconds runs out first

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.errors: list[str] = []

    def prepare(self, d: str) -> None:
        """Generate the inputs (once per run, outside every timer)."""
        raise NotImplementedError

    def setup(self, d: str, tracer=None) -> None:
        raise NotImplementedError

    def op(self, i: int, tracer=None) -> list[Sample]:
        raise NotImplementedError

    def finish(self) -> dict[str, tuple[float, str]]:
        """Run the end-of-run output checks (appending to ``errors``)
        and return workload-specific metrics as name -> (value, unit)."""
        return {}

    def trace_counts(self) -> dict[str, float]:
        """Per-layer counts measured once, after the timed loop."""
        return {}

    def fail(self, msg: str) -> None:
        self.errors.append(msg)


# ------------------------------------------------------------------ forecast


class ForecastCycle(Workload):
    """The paper's two traffic planes in order. Set-up is the offline
    training job over raw detector and weather CSVs; its model then
    serves a closed loop with one client: one 12-hour payload per cycle
    through ``plans.forecast.run_forecast_plane`` against sinks
    pre-seeded with a year of weather history."""

    name = "forecast_cycle"
    n_payloads = 400
    model_kind = "dt"  # the shipped rf costs ~18 s per fit on 4 cores
    train_sizes = dict(n_days=24, n_detectors=40, readings_per_hour=4, n_files=12)

    def __init__(self, spark, seed: int):
        super().__init__(spark, seed)
        self.train_rows_per_s: list[float] = []  # one per set-up rep
        self.maes: list[float] = []

    def prepare(self, d: str) -> None:
        self.inputs = gen.forecast_inputs(self.seed, self.n_payloads)
        self.train_inp = gen.train_inputs(self.seed, os.path.join(d, "raw"), **self.train_sizes)
        # the sinks only serve the ops, which run after the last set-up
        self.weather = os.path.join(d, "weather")
        self.traffic = os.path.join(d, "traffic")
        gen.write_weather_history(self.inputs.history, self.weather)
        self.appended = [0, 0]
        self.replays = self.noop_replays = 0

    def setup(self, d: str, tracer=None) -> None:
        t0 = time.perf_counter()
        self.model, mae = training_pass(self, self.train_inp, d, self.model_kind, tracer)
        self.train_rows_per_s.append(self.train_inp.n_csv_rows / (time.perf_counter() - t0))
        self.maes.append(mae)

    def op(self, i: int, tracer=None) -> list[Sample]:
        from traffic_forecast_etl_spark.plans.forecast import run_forecast_plane

        if i >= self.n_payloads:
            raise RuntimeError(f"forecast_cycle ran out of payloads at cycle {i}")
        payload = self.inputs.payloads[i]
        t0 = time.perf_counter()
        with self._traced(tracer) if tracer is not None else nullcontext():
            n_w, n_t = run_forecast_plane(
                self.spark, payload, self.model, self.weather, self.traffic
            )
        seconds = time.perf_counter() - t0
        self.appended[0] += n_w
        self.appended[1] += n_t
        if self.inputs.replay[i]:
            self.replays += 1
            self.noop_replays += (n_w, n_t) == (0, 0)
            if (n_w, n_t) != (0, 0):
                self.fail(f"replayed payload {i} appended ({n_w}, {n_t}) rows")
        elif n_w == 0 or n_t == 0:
            self.fail(f"fresh payload {i} appended ({n_w}, {n_t}) rows")
        return [("op", seconds, gen.PAYLOAD_HOURS)]

    def _traced(self, tr):
        """``run_forecast_plane``'s callees, each in a span; the sink
        insert is named after the sink it writes."""
        from traffic_forecast_etl_spark.plans import forecast as plan

        sink = {self.weather: "sinks.weather_insert", self.traffic: "sinks.traffic_insert"}
        return traced_calls(tr, [
            (plan, "read_json_payload", "sources.json_payload.read"),
            (plan, "normalize_forecast", "plans.forecast.normalize"),
            (plan, "forecast_features", "plans.forecast.features"),
            (self.model, "transform", "ml.predict"),
            (plan, "insert_if_absent", lambda spark, batch, path, **kw: sink[path]),
        ])

    def finish(self) -> dict[str, tuple[float, str]]:
        from pyspark.sql import functions as F

        spark = self.spark
        if self.replays == 0:
            self.fail("no replayed payload ran; raise --seconds")
        traffic = spark.read.parquet(self.traffic)
        row = traffic.agg(
            F.count("*").alias("n"),
            F.count_if(F.col("date_id").isNull()).alias("null_ids"),
            F.count_if(~F.col("intensity").between(0, 10)).alias("out_of_range"),
        ).first()
        if row.null_ids:
            self.fail(f"{row.null_ids} traffic rows without a date_id")
        if row.out_of_range:
            self.fail(f"{row.out_of_range} traffic rows with intensity outside 0..10")
        if row.n != self.appended[1]:
            self.fail(f"traffic sink holds {row.n} rows, cycles appended {self.appended[1]}")
        n_weather = spark.read.parquet(self.weather).count()
        if n_weather != gen.HISTORY_HOURS + self.appended[0]:
            self.fail(f"weather sink holds {n_weather} rows, expected "
                      f"{gen.HISTORY_HOURS + self.appended[0]}")
        w_bytes, w_files = _dir_bytes_files(self.weather)
        t_bytes, t_files = _dir_bytes_files(self.traffic)
        self.sink_files = w_files + t_files
        if len(set(self.maes)) > 1:
            self.fail(f"model MAE differs between training passes over one input: {self.maes}")
        return {
            "sink_bytes_per_row": ((w_bytes + t_bytes) / (n_weather + row.n), "B"),
            "train_rows_per_s": (median(self.train_rows_per_s), "1/s"),
            "model_mae": (self.maes[-1], "1"),
        }

    def trace_counts(self) -> dict[str, float]:
        return {
            "sinks.files": float(self.sink_files),
            "sinks.noop_share": self.noop_replays / self.replays if self.replays else 0.0,
        }


# ------------------------------------------------------------------ train


def training_pass(wl: Workload, inp: gen.TrainInputs, d: str, model_kind: str, tracer=None):
    """The offline training job: raw detector CSVs -> prepared series
    (written as CSV, as the reference hands it over) -> training table
    joined with KNMI weather -> model fit -> held-out evaluation.
    Checks the series and join cardinalities and the target range
    against the generator's ground truth. Returns (model, MAE)."""
    from pyspark.sql import functions as F

    from traffic_forecast_etl_spark import ml
    from traffic_forecast_etl_spark.plans import detector_prep
    from traffic_forecast_etl_spark.plans.training import build_training_table
    from traffic_forecast_etl_spark.sources import csv as csv_source

    spark = wl.spark
    series_dir = os.path.join(d, "series")
    # both plans probe each CSV's delimiter; the probes nest in their spans
    probes = [(detector_prep, "probe_delimiter", "sources.csv.probe"),
              (csv_source, "probe_delimiter", "sources.csv.probe")]
    with traced_calls(tracer, probes) if tracer is not None else nullcontext():
        with _span(tracer, "plans.detector_prep.prepare"):
            series = detector_prep.prepare_detector_series(spark, inp.detector_glob)
            series.select(
                F.monotonically_increasing_id().alias("idx"),
                F.date_format("Date", "yyyy-MM-dd").alias("Date"),
                "Hour",
                F.col("Waarde").alias("Count"),
                "longitude",
                "latitude",
            ).coalesce(1).write.option("header", True).csv(series_dir)
        with _span(tracer, "plans.training.build"):
            table = build_training_table(
                spark, inp.weather_csv, os.path.join(series_dir, "part-*.csv")
            ).cache()
            st = table.agg(
                F.count("*").alias("n"), F.min("Count").alias("lo"), F.max("Count").alias("hi")
            ).first()
            train, test = table.randomSplit([0.8, 0.2], seed=wl.seed)
    with _span(tracer, "ml.fit"):
        model = ml.fit(train, model_kind)
    with _span(tracer, "ml.evaluate"):
        ev = ml.evaluate(model, test)
    table.unpersist()

    with open(glob.glob(os.path.join(series_dir, "part-*.csv"))[0]) as f:
        n_series = sum(1 for _ in f) - 1
    if n_series != inp.expected_series_rows:
        wl.fail(f"{n_series} series rows, expected {inp.expected_series_rows}")
    if st.n != inp.expected_join_rows:
        wl.fail(f"{st.n} training rows, expected {inp.expected_join_rows}")
    if not (0.0 <= st.lo <= st.hi <= 1.0):
        wl.fail(f"training Count outside [0, 1]: [{st.lo}, {st.hi}]")
    return model, ev.mae


# ------------------------------------------------------------------ corpus


class CorpusCurate(Workload):
    """Batch: ``plans.corpus.build_training_corpus`` with JSONL export,
    one full pass per op. Mixing rates are 1.0, so the survivor set is
    the dedup output and dedup quality can be read off it."""

    name = "corpus_curate"
    min_ops = 1  # one ~7 s pass after the warm-up; a second would not fit the run budget
    n_docs = 300

    def prepare(self, d: str) -> None:
        self.inputs = gen.corpus_inputs(self.seed, os.path.join(d, "raw"), self.n_docs)
        self.rates = {lang: 1.0 for lang in gen.LANGS}
        self.stats: list = []
        self.survivors: set[int] | None = None
        self.lsh_call = None  # the plan's last minhash_lsh_pairs call, traced ops only

    def setup(self, d: str, tracer=None) -> None:
        # ingest the raw dump into the documents table the plan loads
        self.dir = d
        self.sf_dir = os.path.join(d, "sf")
        self.spark.read.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        ).json(self.inputs.raw_jsonl).write.parquet(os.path.join(self.sf_dir, "documents.parquet"))

    def op(self, i: int, tracer=None) -> list[Sample]:
        from traffic_forecast_etl_spark.plans.corpus import build_training_corpus

        out_path = os.path.join(self.dir, f"jsonl_{i}")
        t0 = time.perf_counter()
        with self._traced(tracer) if tracer is not None else nullcontext():
            _, st = build_training_corpus(
                self.spark, self.sf_dir, out_path=out_path, mix_rates=self.rates
            )
        seconds = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        ids = set()
        for shard in glob.glob(os.path.join(out_path, "part-*.json.gz")):
            with gzip.open(shard, "rt") as f:
                ids.update(json.loads(line)["doc_id"] for line in f)
        shutil.rmtree(out_path, ignore_errors=True)
        stats = (st.n_input, st.n_quality, st.n_clean, st.n_deduped, st.n_sampled, st.n_bins)
        if list(stats[:5]) != sorted(stats[:5], reverse=True):
            self.fail(f"op {i}: stage counts increase: {stats}")
        if self.stats and stats != self.stats[0]:
            self.fail(f"op {i}: stage counts {stats} differ from the first pass {self.stats[0]}")
        if len(ids) != st.n_sampled:
            self.fail(f"op {i}: export holds {len(ids)} docs, the plan sampled {st.n_sampled}")
        if self.survivors is not None and ids != self.survivors:
            self.fail(f"op {i}: survivor set differs from the first pass")
        kept_exact = [d for d in self.inputs.exact_dups if d in ids]
        if kept_exact:
            self.fail(f"op {i}: {len(kept_exact)} planted exact duplicates survived")
        self.stats.append(stats)
        self.survivors = ids
        return [("op", seconds, self.inputs.n_docs)]

    @contextmanager
    def _traced(self, tr):
        """``build_training_corpus``'s callees, each in a span. The
        quality gate is inline column expressions with no callee to
        wrap; its span runs from ``load_table``'s return to the
        ``decontaminate`` call, which is exactly the plan's gate counts.
        The plan's LSH call is recorded for :meth:`trace_counts`."""
        from traffic_forecast_etl_spark.operators import dedup
        from traffic_forecast_etl_spark.operators import sampling as SM
        from traffic_forecast_etl_spark.operators import text as TX
        from traffic_forecast_etl_spark.plans import corpus as plan

        gate = ExitStack()
        with ExitStack() as stack:
            stack.enter_context(traced_calls(tr, [
                (TX, "decontaminate", "operators.text.decontaminate"),
                (plan, "near_dedup_filter", "operators.dedup.near_dedup_filter"),
                (SM, "stratified_hash_sample", "operators.sampling.sample"),
                (TX, "pack_token_bins", "operators.text.pack"),
                (plan, "export_jsonl", "sources.writers.export"),
            ]))
            load_table, decontaminate, lsh = plan.load_table, TX.decontaminate, dedup.minhash_lsh_pairs

            def load_then_gate(*args, **kwargs):
                docs = load_table(*args, **kwargs)
                gate.enter_context(tr.span("operators.text.quality"))
                return docs

            def end_gate_then_decontaminate(*args, **kwargs):
                gate.close()
                return decontaminate(*args, **kwargs)

            def recorded_lsh(*args, **kwargs):
                self.lsh_call = (args, kwargs)
                return lsh(*args, **kwargs)

            stack.enter_context(mock.patch.object(plan, "load_table", load_then_gate))
            stack.enter_context(mock.patch.object(TX, "decontaminate", end_gate_then_decontaminate))
            stack.enter_context(mock.patch.object(dedup, "minhash_lsh_pairs", recorded_lsh))
            stack.callback(gate.close)
            yield

    def finish(self) -> dict[str, tuple[float, str]]:
        inp = self.inputs
        planted = set(inp.exact_dups) | set(inp.near_dups)
        removed = planted - self.survivors
        n_removed = self.stats[0][2] - self.stats[0][3]  # n_clean - n_deduped
        return {
            "dedup_recall": (len(removed) / len(planted), "1"),
            "dedup_precision": (len(removed) / n_removed if n_removed else 0.0, "1"),
        }

    def trace_counts(self) -> dict[str, float]:
        """LSH banding yield of the plan's own ``minhash_lsh_pairs``
        call, replayed on its recorded arguments: verified pairs as
        called, candidate pairs with the Jaccard threshold at 0, which
        keeps every band collision through verification."""
        from traffic_forecast_etl_spark.operators.dedup import minhash_lsh_pairs

        call = signature(minhash_lsh_pairs).bind(*self.lsh_call[0], **self.lsh_call[1])
        call.arguments["persist_tracker"] = None
        verified = minhash_lsh_pairs(*call.args, **call.kwargs).count()
        call.arguments["jaccard_threshold"] = 0.0
        cand = minhash_lsh_pairs(*call.args, **call.kwargs).count()
        return {
            "operators.dedup.candidate_pairs": float(cand),
            "operators.dedup.verified_pairs": float(verified),
            "operators.dedup.pair_precision": verified / cand if cand else 0.0,
        }


# ------------------------------------------------------------------ ann


class AnnServe(Workload):
    """Closed loop, one client: ``ann_index_search`` query batches
    against an index built in set-up, with an ``ann_index_append``
    batch after every third search."""

    name = "ann_serve"
    k = 10
    sizes = dict(n_base=2500, dim=64, n_clusters=24, n_append_batches=60,
                 append_rows=100, n_query_batches=4, queries_per_batch=40)
    index = dict(n_centroids=16, m=8)
    append_every = 3

    def _frame(self, ids, vecs):
        import pandas as pd

        return self.spark.createDataFrame(
            pd.DataFrame({"vec_id": ids.astype("int64"), "embedding": list(vecs)})
        )

    def __init__(self, spark, seed: int):
        super().__init__(spark, seed)
        self.build_s: list[float] = []  # one per set-up rep

    def prepare(self, d: str) -> None:
        self.inputs = inp = gen.ann_inputs(self.seed, **self.sizes)
        self.base = self._frame(inp.base_ids, inp.base)
        self.queries = [self._frame(*q) for q in inp.query_batches]

    def setup(self, d: str, tracer=None) -> None:
        from traffic_forecast_etl_spark.operators import ann_index as AI

        self.path = os.path.join(d, "index")
        t0 = time.perf_counter()
        with _span(tracer, "operators.ann_index.build"):
            AI.ann_index_build(self.spark, self.base, self.path, **self.index)
        self.build_s.append(time.perf_counter() - t0)
        self.n_appended = 0

    def op(self, i: int, tracer=None) -> list[Sample]:
        from traffic_forecast_etl_spark.operators import ann_index as AI

        q = self.queries[i % len(self.queries)]
        nq = self.sizes["queries_per_batch"]
        t0 = time.perf_counter()
        with _span(tracer, "operators.ann_index.search"):
            rows = AI.ann_index_search(self.spark, q, self.path, k=self.k).collect()
        samples = [("op", time.perf_counter() - t0, nq)]
        self._check_search(i, rows, nq)
        self.last_search = (q, rows, self.n_appended)
        if i % self.append_every == self.append_every - 1:
            if self.n_appended >= len(self.inputs.append_batches):
                raise RuntimeError("ann_serve ran out of append batches")
            ids, vecs = self.inputs.append_batches[self.n_appended]
            new = self._frame(ids, vecs)
            t0 = time.perf_counter()
            with _span(tracer, "operators.ann_index.append"):
                AI.ann_index_append(self.spark, new, self.path)
            samples.append(("append", time.perf_counter() - t0, len(ids)))
            self.n_appended += 1
        return samples

    def _check_search(self, i: int, rows, nq: int) -> None:
        if len(rows) != nq * self.k:
            self.fail(f"search {i}: {len(rows)} rows, expected {nq} x {self.k}")
            return
        ranks: dict[int, list[int]] = {}
        for r in rows:
            ranks.setdefault(r["vec_id"], []).append(r["rank"])
        bad = [q for q, rs in ranks.items() if sorted(rs) != list(range(1, self.k + 1))]
        if len(ranks) != nq or bad:
            self.fail(f"search {i}: ranks are not 1..{self.k} for {len(bad)} queries")

    def finish(self) -> dict[str, tuple[float, str]]:
        """Recall@k of the last measured search against the exact top-k
        over the corpus it searched (base plus the batches appended
        before it)."""
        import numpy as np

        from traffic_forecast_etl_spark.operators.similarity import cosine_topk

        inp = self.inputs
        q, got, n_appended = self.last_search
        parts = [(inp.base_ids, inp.base)] + inp.append_batches[:n_appended]
        corpus = self._frame(
            np.concatenate([p[0] for p in parts]), np.concatenate([p[1] for p in parts])
        )
        exact = cosine_topk(corpus, q, "vec_id", "vec_id", k=self.k).collect()
        truth = {(r["vec_id"], r["neighbor_id"]) for r in exact}
        hits = len(truth & {(r["vec_id"], r["neighbor_id"]) for r in got})
        return {
            "index_build_s": (median(self.build_s), "s"),
            "recall_at_10": (hits / len(truth), "1"),
        }

    def trace_counts(self) -> dict[str, float]:
        from traffic_forecast_etl_spark import tablefmt as TF

        return {
            "tablefmt.snapshot_files": float(
                TF.snapshot_history(os.path.join(self.path, "codes"))[-1]["n_files"]
            )
        }


WORKLOADS = {w.name: w for w in (ForecastCycle, CorpusCurate, AnnServe)}
