"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and writes plain files; the same seed
gives byte-identical inputs. They run in the benchmark process alone
(no Spark), so the engine only ever sees the generated files or
payloads. Each returns the ground truth its workload's output checks
need.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------- forecast

FORECAST_START = dt.datetime(2025, 1, 1, 0, 0)  # first forecast hour (UTC)
PAYLOAD_HOURS = 12  # elements per AccuWeather 12-hour payload
HISTORY_HOURS = 365 * 24  # weather-sink rows seeded before the first cycle
REPLAY_EVERY = 4  # payloads 1, 5, 9, ... replay an earlier one
MALFORMED_PER_PAYLOAD = 1  # elements missing a nested field or the datetime


@dataclass
class ForecastInputs:
    payloads: list[str]
    replay: list[bool]  # payload i is a byte-identical replay
    history: list[tuple]  # (datetime, windspeed, temperature, precipitation)


def _element(rng: random.Random, t: dt.datetime, unit: str) -> dict:
    temp_c = rng.uniform(-5.0, 30.0)
    value = temp_c * 9 / 5 + 32 if unit == "F" else temp_c
    local = t + dt.timedelta(hours=1)
    return {
        "DateTime": local.strftime("%Y-%m-%dT%H:%M:%S") + "+01:00",
        "EpochDateTime": int(t.replace(tzinfo=dt.timezone.utc).timestamp()),
        "WeatherIcon": rng.randint(1, 44),
        "IconPhrase": rng.choice(["Sunny", "Cloudy", "Showers", "Fog"]),
        "HasPrecipitation": rng.random() < 0.3,
        "IsDaylight": 7 <= t.hour <= 18,
        "Temperature": {"Value": round(value, 1), "Unit": unit, "UnitType": 18 if unit == "F" else 17},
        "Wind": {"Speed": {"Value": round(rng.uniform(0, 60), 1), "Unit": "km/h"}},
        "PrecipitationProbability": rng.randint(0, 100),
    }


def _break(rng: random.Random, el: dict) -> None:
    """Make one element malformed the ways live feeds do. (An
    unparsable DateTime string is left out on purpose: the plane's
    ANSI ``to_timestamp`` raises on it instead of dropping the row.)"""
    kind = rng.randrange(3)
    if kind == 0:
        del el["Temperature"]
    elif kind == 1:
        el["Wind"] = {}
    else:
        del el["DateTime"]


def forecast_inputs(seed: int, n_payloads: int) -> ForecastInputs:
    """``n_payloads`` 12-element hourly payloads over consecutive
    12-hour windows. Units alternate F/C per payload with a few mixed
    payloads; every ``REPLAY_EVERY``-th payload repeats an earlier one
    byte for byte."""
    rng = random.Random(seed)
    payloads, replay = [], []
    fresh = 0
    for i in range(n_payloads):
        if i % REPLAY_EVERY == 1:
            payloads.append(payloads[rng.randrange(len(payloads))])
            replay.append(True)
            continue
        base = FORECAST_START + dt.timedelta(hours=12 * fresh)
        fresh += 1
        unit = rng.choice("FC")
        els = [
            _element(rng, base + dt.timedelta(hours=h), unit if rng.random() < 0.9 else "FC".replace(unit, ""))
            for h in range(PAYLOAD_HOURS)
        ]
        for j in rng.sample(range(PAYLOAD_HOURS), MALFORMED_PER_PAYLOAD):
            _break(rng, els[j])
        payloads.append(json.dumps(els))
        replay.append(False)

    history = []
    t0 = FORECAST_START - dt.timedelta(hours=HISTORY_HOURS)
    for h in range(HISTORY_HOURS):
        history.append(
            (t0 + dt.timedelta(hours=h), rng.randint(0, 60), rng.randint(-5, 30), rng.random() < 0.3)
        )

    return ForecastInputs(payloads, replay, history)


def write_weather_history(history: list[tuple], path: str) -> None:
    """Write the seeded history as the weather sink's first parquet
    file, in the schema the forecast plane appends (UTC timestamps)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*history))
    table = pa.table(
        {
            "datetime": pa.array(cols[0], pa.timestamp("us", tz="UTC")),
            "windspeed": pa.array(cols[1], pa.int32()),
            "temperature": pa.array(cols[2], pa.int32()),
            "precipitation": pa.array(cols[3], pa.bool_()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000-history.parquet"))


def _intensity(hour: int, weekday: int, temp: float, prec: float, rng: random.Random) -> float:
    """A traffic-count shape in [0, 1]: commute peaks, quiet weekends,
    a little weather sensitivity, plus noise."""
    peak = max(math.exp(-((hour - 8) ** 2) / 4.0), math.exp(-((hour - 17) ** 2) / 5.0))
    base = 0.15 + 0.7 * peak * (0.55 if weekday >= 5 else 1.0)
    val = base - 0.05 * prec + 0.002 * (temp - 12) + rng.gauss(0, 0.04)
    return min(max(val, 0.0), 1.0)


# ---------------------------------------------------------------- train

KEPT_DETECTOR = 1.2
DETECTOR_DELIMS = (",", ";", "\t")  # one per file, round-robin


@dataclass
class TrainInputs:
    detector_glob: str
    weather_csv: str
    n_csv_rows: int  # detector rows over all files (the throughput base)
    expected_series_rows: int  # (date, hour) groups of the kept detector
    expected_join_rows: int  # training-table cardinality


def train_inputs(
    seed: int,
    out_dir: str,
    n_days: int = 120,
    n_detectors: int = 60,
    readings_per_hour: int = 4,
    n_files: int = 12,
) -> TrainInputs:
    """Raw detector CSVs in three dialects plus a KNMI hourly weather
    CSV. Files split the days; each file has one delimiter and one date
    format (yyyy-MM-dd or dd-MM-yyyy), and ';'/tab files write
    coordinates with a decimal comma. About 3% of the kept detector's
    hours are missing (sensor outage) and the weather file misses
    other hours, so the join cardinality is not a product of the
    sizes; both are recorded exactly."""
    rng = random.Random(seed)
    nprng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    start = dt.date(2024, 1, 1)
    days = [start + dt.timedelta(days=d) for d in range(n_days)]
    detectors = [KEPT_DETECTOR] + [round(2.0 + 0.1 * i, 1) for i in range(n_detectors - 1)]
    kept_keys: set[tuple[dt.date, int]] = set()
    n_rows = 0
    per_file = -(-n_days // n_files)
    for fi in range(n_files):
        delim = DETECTOR_DELIMS[fi % len(DETECTOR_DELIMS)]
        iso = fi % 2 == 0
        comma = delim != ","
        fdays = days[fi * per_file : (fi + 1) * per_file]
        lines = [delim.join(["Detector", "Datum", "Uur", "Waarde", "Long", "Lat"])]
        for det in detectors:
            lon, lat = 4.0 + det / 10, 52.0 + det / 20
            slon, slat = f"{lon:.4f}", f"{lat:.4f}"
            if comma:
                slon, slat = slon.replace(".", ","), slat.replace(".", ",")
            for day in fdays:
                sday = day.isoformat() if iso else day.strftime("%d-%m-%Y")
                for hour in range(24):
                    if det == KEPT_DETECTOR:
                        if rng.random() < 0.03:
                            continue
                        kept_keys.add((day, hour))
                    level = 400 * _intensity(hour, day.weekday(), 12.0, 0.0, rng)
                    vals = nprng.normal(level, 25, readings_per_hour).clip(0).round().astype(int)
                    prefix = f"{det}{delim}{sday}{delim}{hour}{delim}"
                    suffix = f"{delim}{slon}{delim}{slat}"
                    lines.extend(f"{prefix}{v}{suffix}" for v in vals.tolist())
                    n_rows += readings_per_hour
        with open(os.path.join(out_dir, f"ind_{fi:03d}.csv"), "w") as f:
            f.write("\n".join(lines) + "\n")

    weather_keys: set[tuple[dt.date, int]] = set()
    w_lines = ["# STN,YYYYMMDD,H,FH,T,RH,R"]
    # weather spans a few days more than the detectors on each side
    for d in range(-5, n_days + 5):
        day = start + dt.timedelta(days=d)
        for h in range(1, 25):  # KNMI hours are 1..24; 24 folds to hour 0
            if rng.random() < 0.02:
                continue
            weather_keys.add((day, h % 24))
            rh = -1 if rng.random() < 0.1 else rng.randint(0, 30)
            w_lines.append(
                f"260,{day.strftime('%Y%m%d')},{h},{rng.randint(0, 120)},"
                f"{rng.randint(-80, 320)},{rh},{int(rh > 0)}"
            )
    weather_csv = os.path.join(out_dir, "knmi_hourly.csv")
    with open(weather_csv, "w") as f:
        f.write("\n".join(w_lines) + "\n")
    return TrainInputs(
        detector_glob=os.path.join(out_dir, "ind_*.csv"),
        weather_csv=weather_csv,
        n_csv_rows=n_rows,
        expected_series_rows=len(kept_keys),
        expected_join_rows=len(kept_keys & weather_keys),
    )


# ---------------------------------------------------------------- corpus

LANGS = ("en", "nl", "de", "fr", "es")
EXACT_DUP_RATE = 0.06  # share of corpus docs that copy another doc exactly
NEAR_DUP_RATE = 0.06  # ... that copy one with two words changed
BOILERPLATE_RATE = 0.15  # ... built on a Zipf-chosen shared template
LOW_QUALITY_RATE = 0.05  # ... that the quality gate must drop
CONTAMINATED_RATE = 0.02  # ... quoting a 12-word span of an eval doc
N_TEMPLATES = 20
EVAL_DOCS = 60


@dataclass
class CorpusInputs:
    raw_jsonl: str  # the raw document dump, one JSON object per line
    n_docs: int
    exact_dups: list[int] = field(default_factory=list)  # ids dedup must drop
    near_dups: list[int] = field(default_factory=list)
    contaminated: list[int] = field(default_factory=list)


def _vocab(rng: random.Random, lang: str, n: int = 1500) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add(lang + "".join(rng.choice(letters) for _ in range(rng.randint(3, 8))))
    return sorted(words)


def corpus_inputs(seed: int, out_dir: str, n_docs: int = 4000, words_per_doc: int = 60) -> CorpusInputs:
    """A multilingual corpus with planted exact duplicates,
    near-duplicates (two words substituted), Zipf-skewed boilerplate
    templates (template text is under half of each such doc, so
    template siblings are NOT near-duplicates), low-quality docs, and a
    ``src0`` eval slice some corpus docs quote from. Every planted
    duplicate and contaminated doc is high quality, so it reaches the
    stage that must remove it."""
    rng = random.Random(seed)
    vocab = {lang: _vocab(rng, lang) for lang in LANGS}
    stop = ["the", "and", "of", "to", "in"]

    def body(lang: str, n: int) -> list[str]:
        v = vocab[lang]
        return [rng.choice(stop) if rng.random() < 0.15 else rng.choice(v) for _ in range(n)]

    zipf_w = [1.0 / (r + 1) ** 1.1 for r in range(N_TEMPLATES)]
    templates = []
    for _ in range(N_TEMPLATES):
        t_lang = rng.choice(LANGS)
        templates.append((t_lang, body(t_lang, words_per_doc // 3)))
    rows: list[tuple] = []  # (doc_id, text, lang, source)
    for i in range(EVAL_DOCS):
        lang = rng.choice(LANGS)
        rows.append((i, " ".join(body(lang, words_per_doc)), lang, "src0"))
    eval_texts = [r[1] for r in rows]
    out = CorpusInputs(raw_jsonl=os.path.join(out_dir, "documents.jsonl"), n_docs=n_docs)
    originals: list[int] = []  # high-quality unique docs a dup may copy
    for doc_id in range(EVAL_DOCS, n_docs):
        src = f"src{1 + doc_id % 4}"
        u = rng.random()
        lang = rng.choice(LANGS)
        if originals and u < EXACT_DUP_RATE:
            o = rows[rng.choice(originals)]
            rows.append((doc_id, o[1], o[2], src))
            out.exact_dups.append(doc_id)
            continue
        u -= EXACT_DUP_RATE
        if originals and u < NEAR_DUP_RATE:
            o = rows[rng.choice(originals)]
            toks = o[1].split()
            for j in rng.sample(range(len(toks)), 2):
                toks[j] = rng.choice(vocab[o[2]])
            rows.append((doc_id, " ".join(toks), o[2], src))
            out.near_dups.append(doc_id)
            continue
        u -= NEAR_DUP_RATE
        if u < BOILERPLATE_RATE:
            t_lang, t_words = templates[rng.choices(range(N_TEMPLATES), zipf_w)[0]]
            text = " ".join(t_words + body(t_lang, words_per_doc - len(t_words)))
            rows.append((doc_id, text, t_lang, src))
            continue
        u -= BOILERPLATE_RATE
        if u < LOW_QUALITY_RATE:
            junk = " ".join(f"ID-{rng.randint(0, 99999)}!!;#{rng.randint(0, 9)}" for _ in range(12))
            rows.append((doc_id, junk.upper(), lang, src))
            continue
        u -= LOW_QUALITY_RATE
        if u < CONTAMINATED_RATE:
            ev = rng.choice(eval_texts).split()
            k = rng.randrange(len(ev) - 12)
            text = body(lang, words_per_doc - 12)
            text[20:20] = ev[k : k + 12]
            rows.append((doc_id, " ".join(text), lang, src))
            out.contaminated.append(doc_id)
            continue
        rows.append((doc_id, " ".join(body(lang, words_per_doc)), lang, src))
        originals.append(len(rows) - 1)

    os.makedirs(out_dir, exist_ok=True)
    with open(out.raw_jsonl, "w") as f:
        for doc_id, text, lang, source in rows:
            f.write(json.dumps(
                {"doc_id": doc_id, "text": text, "lang": lang, "source": source, "n_chars": len(text)}
            ) + "\n")
    return out


# ---------------------------------------------------------------- ann

QUERY_ID_BASE = 1 << 40  # query ids never collide with corpus ids


@dataclass
class AnnInputs:
    base_ids: np.ndarray
    base: np.ndarray  # (n, dim) float32
    append_batches: list[tuple[np.ndarray, np.ndarray]]
    query_batches: list[tuple[np.ndarray, np.ndarray]]


def ann_inputs(
    seed: int,
    n_base: int = 20000,
    dim: int = 64,
    n_clusters: int = 32,
    n_append_batches: int = 40,
    append_rows: int = 250,
    n_query_batches: int = 8,
    queries_per_batch: int = 50,
) -> AnnInputs:
    """Clustered embeddings: ``n_clusters`` Gaussian centres with
    skewed (Zipf-like) cluster sizes, unit-scale noise around each.
    Appended batches and queries come from the same mixture."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(n_clusters, dim)) * 3.0
    weights = 1.0 / np.arange(1, n_clusters + 1) ** 0.8
    weights /= weights.sum()

    def draw(n: int) -> np.ndarray:
        c = rng.choice(n_clusters, size=n, p=weights)
        return (centres[c] + rng.normal(size=(n, dim))).astype(np.float32)

    base = draw(n_base)
    appends, next_id = [], n_base
    for _ in range(n_append_batches):
        appends.append((np.arange(next_id, next_id + append_rows), draw(append_rows)))
        next_id += append_rows
    queries, qid = [], QUERY_ID_BASE
    for _ in range(n_query_batches):
        queries.append((np.arange(qid, qid + queries_per_batch), draw(queries_per_batch)))
        qid += queries_per_batch
    return AnnInputs(np.arange(n_base), base, appends, queries)
