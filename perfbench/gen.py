"""Seeded input generators for the lake benchmark.

Everything the program sees is built here from ``--seed``: the same seed
gives byte-identical inputs, a different seed gives different rows with
the same sizes and shares. Three families:

- ``write_lake_tables``: the TPC-H-ish star schema plus ``events`` that
  the registry queries read (same column names, types and value domains
  as the project's testdata tables), written as one parquet file each.
- ``IngestBatches``: raw NDJSON batches for the IoT and weather zones,
  with a stated share of corrupt lines and of late/corrected readings
  that re-send an earlier key with new values.
- ``write_corpus``: a documents + embeddings corpus with stated exact,
  near-duplicate and excerpt shares.

Generation is numpy + pyarrow in the benchmark process; sizes are small enough
that it takes well under a second per family.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ── lake tables (analyst_queries) ────────────────────────────────────────────

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_US_PER_DAY = 86_400 * 1_000_000


def _days_us(start: str, days: np.ndarray) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + days.astype(np.int64) * _US_PER_DAY


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(table: dict, path: str) -> int:
    pq.write_table(pa.table(table), path)
    return os.path.getsize(path)


def write_lake_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the star schema at scale factor ``sf`` (lineitem = 6M x sf
    rows). Returns {table: (rows, bytes)}."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(20, int(1_500_000 * sf))
    n_li = max(50, int(6_000_000 * sf))
    n_ev = max(50, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    sizes = {}

    def put(name: str, cols: dict) -> None:
        n = len(next(iter(cols.values())))
        sizes[name] = (n, _write(cols, os.path.join(out_dir, f"{name}.parquet")))

    put("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    put("part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
    })
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _ts(_days_us("1995-01-01", rng.integers(0, 2404, n_ord))),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(_days_us("1995-01-02", rng.integers(0, 2498, n_li))),
    })
    span_us = 30 * _US_PER_DAY
    ev_ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    put("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(20.0, n_ev) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    return sizes


# ── raw IoT + weather batches (lake_ingest) ──────────────────────────────────
#
# Traffic follows the reference deployment's documented dev operating
# point (BASELINE.md): 5 cities x 3 sensors each emit one reading every
# 5 minutes (SENSORS_PER_CITY=3, stream_generate Lambda), and the batch
# ingest Lambda fetches a 24-hour hourly forecast per city (120 weather
# rows). One batch is one day of that traffic: 5 x 3 x 288 = 4,320 IoT
# rows + 120 weather rows. The reference documents no corrupt or late
# traffic; CORRUPT_SHARE, LATE_SHARE and LATE_DAYS are stress
# assumptions that exercise the dead-letter and upsert paths, not
# observed rates.

CITIES = [
    ("New York", 40.71, -74.01), ("London", 51.51, -0.13), ("Tokyo", 35.68, 139.69),
    ("Sydney", -33.87, 151.21), ("Mumbai", 19.08, 72.88),
]


def sensor_id(city: str, idx: int) -> str:
    """Same id scheme as functions.core.mint_sensor_id."""
    seed = f"{city.lower().replace(' ', '_')}_{idx:03d}"
    return "sensor-" + hashlib.sha256(seed.encode()).hexdigest()[:12]


SENSORS_PER_CITY = 3
TICKS_PER_DAY = 288  # one reading every 5 minutes
WEATHER_HOURS = 24
CORRUPT_SHARE = 0.02  # stress assumption
LATE_SHARE = 0.05  # stress assumption
LATE_DAYS = 2  # stress assumption


@dataclass
class RawBatch:
    """One raw batch: NDJSON lines per zone plus the ground truth the
    correctness gate checks against."""

    seq: int
    iot_lines: list[str]
    weather_lines: list[str]
    n_corrupt: dict[str, int]
    n_late: dict[str, int]
    # zone -> {key: temperature_c} of every valid (not corrupted) row
    keys: dict[str, dict[tuple, float]] = field(default_factory=dict)

    @property
    def n_lines(self) -> int:
        return len(self.iot_lines) + len(self.weather_lines)

    @property
    def n_bytes(self) -> int:
        return sum(len(s) + 1 for s in self.iot_lines + self.weather_lines)


def _corrupt(line: str, rng: np.random.Generator) -> str:
    # a truncated record (Firehose partial write) or a type-broken field
    if rng.random() < 0.5:
        return line[: int(rng.integers(5, len(line) - 5))]
    return line.replace('"temperature_c": ', '"temperature_c": "n/a", "x": ', 1)


class IngestBatches:
    """Seeded stream of raw batches. Batch ``seq`` carries one day of
    readings (date = 2026-01-01 + seq) so each batch lands a new curated
    partition; a ``late_share`` of its rows re-send readings of the
    previous ``LATE_DAYS`` days with corrected values, which only
    ``merge_upsert`` may apply (so each upsert rewrites a bounded set of
    recent partitions, not the whole table).

    The generator is deterministic in (seed, seq) — batches can be
    regenerated in any order."""

    def __init__(
        self, seed: int, sensors_per_city: int = SENSORS_PER_CITY,
        ticks: int = TICKS_PER_DAY, weather_hours: int = WEATHER_HOURS,
        corrupt_share: float = CORRUPT_SHARE, late_share: float = LATE_SHARE,
    ):
        self.seed = seed
        self.sensors_per_city = sensors_per_city
        self.ticks = ticks
        self.weather_hours = weather_hours
        self.corrupt_share = corrupt_share
        self.late_share = late_share

    @property
    def iot_rows(self) -> int:
        return len(CITIES) * self.sensors_per_city * self.ticks

    def _iot_rows(self, rng, day: int, n: int, fresh: bool) -> list[dict]:
        city_i = rng.integers(0, len(CITIES), n)
        sens_i = rng.integers(0, self.sensors_per_city, n)
        if fresh:  # full grid for the day: every (city, sensor, tick) once
            grid = np.arange(self.iot_rows)
            city_i = grid % len(CITIES)
            sens_i = (grid // len(CITIES)) % self.sensors_per_city
            tick = grid // (len(CITIES) * self.sensors_per_city)
        else:
            tick = rng.integers(0, self.ticks, n)
        temp = np.round(15.0 + city_i * 3 + rng.normal(0, 3, n), 1)
        hum = np.round(rng.uniform(20, 95, n), 1)
        aqi = np.round(rng.uniform(0, 200, n), 1)
        batt = np.round(rng.uniform(15, 100, n), 1)
        base = np.datetime64("2026-01-01T00:00:00") + np.timedelta64(day, "D")
        rows = []
        for i in range(n):
            c = CITIES[city_i[i]][0]
            ts = base + np.timedelta64(int(tick[i]) * (86_400 // self.ticks), "s")
            rows.append({
                "sensor_id": sensor_id(c, int(sens_i[i])),
                "city": c,
                "timestamp": f"{ts}.000000+00:00",
                "temperature_c": float(temp[i]),
                "humidity_pct": float(hum[i]),
                "aqi": float(aqi[i]),
                "battery_level": float(batt[i]),
            })
        return rows

    def _weather_rows(self, rng, day: int, n: int, fresh: bool, seq: int) -> list[dict]:
        base = np.datetime64("2026-01-01T00:00") + np.timedelta64(day, "D")
        if fresh:
            grid = np.arange(len(CITIES) * self.weather_hours)
            city_i, hour = grid % len(CITIES), grid // len(CITIES)
        else:
            city_i = rng.integers(0, len(CITIES), n)
            hour = rng.integers(0, self.weather_hours, n)
        n = len(city_i)
        rows = []
        for i in range(n):
            name, lat, lon = CITIES[city_i[i]]
            rows.append({
                "ingestion_id": f"ing-{self.seed}-{seq}",
                "city": name,
                "latitude": lat,
                "longitude": lon,
                "timestamp": f"{base + np.timedelta64(int(hour[i]), 'h')}",
                "temperature_c": float(np.round(rng.uniform(-5, 35), 1)),
                "humidity_pct": float(np.round(rng.uniform(0, 100), 1)),
                "windspeed_kmh": float(np.round(rng.uniform(0, 60), 1)),
                "precipitation_mm": float(np.round(rng.uniform(0, 5), 2)),
                "ingested_at": f"2026-02-01T00:00:{seq % 60:02d}",
            })
        return rows

    def batch(self, seq: int) -> RawBatch:
        rng = np.random.default_rng([self.seed, 2, seq])
        out = {"iot": [], "weather": []}
        n_corrupt, n_late, keys = {}, {}, {}
        for zone in ("iot", "weather"):
            if zone == "iot":
                rows = self._iot_rows(rng, seq, self.iot_rows, fresh=True)
            else:
                rows = self._weather_rows(rng, seq, 0, fresh=True, seq=seq)
            n_l = int(round(len(rows) * self.late_share)) if seq > 0 else 0
            late: list[dict] = []
            if n_l:  # late readings arrive within LATE_DAYS of their day
                days = rng.integers(max(0, seq - LATE_DAYS), seq, n_l)
                for d in days:  # one corrected reading per draw, earlier day
                    if zone == "iot":
                        late += self._iot_rows(rng, int(d), 1, fresh=False)
                    else:
                        late += self._weather_rows(rng, int(d), 1, fresh=False, seq=seq)
                # a key re-sent twice in one batch would make the batch's
                # own winner ambiguous: keep the first draw per key
                seen, uniq = set(), []
                for r in late:
                    k = (r.get("sensor_id") or r["city"], r["timestamp"])
                    if k not in seen:
                        seen.add(k)
                        uniq.append(r)
                late = uniq
            valid = rows + late
            lines = [json.dumps(r) for r in valid]
            n_c = int(round(len(lines) * self.corrupt_share))
            bad = rng.choice(len(lines), n_c, replace=False) if n_c else []
            bad_set = set(int(i) for i in bad)
            for i in bad_set:
                lines[i] = _corrupt(lines[i], rng)
            keys[zone] = {
                (r.get("sensor_id") or r["city"], r["timestamp"]): r["temperature_c"]
                for i, r in enumerate(valid)
                if i not in bad_set
            }
            out[zone] = lines
            n_corrupt[zone] = n_c
            n_late[zone] = sum(1 for i in range(len(rows), len(valid)) if i not in bad_set)
        return RawBatch(seq, out["iot"], out["weather"], n_corrupt, n_late, keys)


# ── near-duplicate corpus (corpus_curation) ──────────────────────────────────

_SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su", "do", "ga", "hi", "ju"]
LANGS = ["en", "en", "es", "fr", "de", "zh"]


@dataclass
class CorpusInfo:
    n_docs: int
    n_exact: int
    n_near: int
    n_excerpt: int
    n_bytes: int


def write_corpus(
    out_dir: str, seed: int, n_base: int, exact_share: float = 0.08,
    near_share: float = 0.08, excerpt_share: float = 0.04, dim: int = 64,
) -> CorpusInfo:
    """``documents`` + ``embeddings`` parquet (doc_id-keyed). Base docs are
    random word sequences over a 2,000-word vocabulary; then
    ``exact_share`` byte-identical copies, ``near_share`` copies with ~5%
    of words replaced (Jaccard well above 0.8 on 3-shingles, embedding
    cosine ~0.99), and ``excerpt_share`` contiguous excerpts of 60-80% of
    a base doc. Doc ids are shuffled so duplicates are not adjacent."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array([
        _SYL[a] + _SYL[b] + _SYL[c]
        for a in range(len(_SYL)) for b in range(len(_SYL)) for c in range(len(_SYL))
    ][:2000])
    texts, embs, langs, srcs = [], [], [], []
    for _ in range(n_base):
        n_words = int(rng.integers(40, 120))
        words = vocab[rng.integers(0, len(vocab), n_words)]
        texts.append(" ".join(words) + ".")
        v = rng.normal(0, 1, dim)
        embs.append(v / np.linalg.norm(v))
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
        srcs.append(f"src{int(rng.integers(0, 20))}")
    n_exact = int(n_base * exact_share)
    n_near = int(n_base * near_share)
    n_excerpt = int(n_base * excerpt_share)
    for kind, n in (("exact", n_exact), ("near", n_near), ("excerpt", n_excerpt)):
        for src in rng.integers(0, n_base, n):
            words = texts[src].rstrip(".").split()
            v = embs[src]
            if kind == "near":
                for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                    words[j] = vocab[int(rng.integers(0, len(vocab)))]
                v = v + rng.normal(0, 0.01, dim)
            elif kind == "excerpt":
                keep = int(len(words) * rng.uniform(0.6, 0.8))
                start = int(rng.integers(0, len(words) - keep + 1))
                words = words[start:start + keep]
                v = v + rng.normal(0, 0.2, dim)
            texts.append(" ".join(words) + ".")
            embs.append(v / np.linalg.norm(v))
            langs.append(langs[src])
            srcs.append(srcs[src])
    n = len(texts)
    order = rng.permutation(n)
    ids = np.arange(n, dtype=np.int64)
    texts = [texts[i] for i in order]
    doc_cols = {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array([langs[i] for i in order]),
        "source": pa.array([srcs[i] for i in order]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }
    emb = np.stack([embs[i] for i in order]).astype(np.float32)
    emb_cols = {
        "doc_id": pa.array(ids),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
    }
    n_bytes = _write(doc_cols, os.path.join(out_dir, "documents.parquet"))
    n_bytes += _write(emb_cols, os.path.join(out_dir, "embeddings.parquet"))
    return CorpusInfo(n, n_exact, n_near, n_excerpt, n_bytes)
