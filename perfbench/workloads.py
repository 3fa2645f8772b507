"""The three benchmark workloads.

Each workload is a closed loop with one client. ``prepare`` generates
the seeded inputs and warms the JVM (it is what ``setup_s`` times);
``step`` runs one operation and returns its timing records; ``finish``
runs the checks that need the whole run. Every correctness check runs
outside the timed region.

A step with ``traced=True`` records spans and counts at each layer
boundary (see spans.py); untraced steps run the identical calls with a
disabled tracer. Traced runs alternate traced and untraced steps so
the tracing overhead is measured under the same conditions.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal

import gen
from spans import Tracer, patch_everywhere

PKG = "aws_datalake_platform_spark"


@dataclass
class Op:
    kind: str  # workload-defined: query | batch | compact | read | curate
    seconds: float
    items: int  # queries, raw lines or documents this op consumed
    ok: bool = True
    traced: bool = False


def _files(path: str, suffix: str = "") -> list[str]:
    """Data files under ``path`` (Spark's _SUCCESS / .crc markers excluded)."""
    out = []
    for root, _, names in os.walk(path):
        out += [
            os.path.join(root, n) for n in names
            if not n.startswith((".", "_")) and n.endswith(suffix)
        ]
    return out


def _du(path: str) -> int:
    return sum(os.path.getsize(f) for f in _files(path))


def _partition_files(path: str) -> dict[str, frozenset]:
    """{partition dir: its data files as (name, size, mtime)}: a partition
    whose entry changes between two listings was rewritten."""
    out: dict[str, set] = {}
    for f in _files(path, ".parquet"):
        st = os.stat(f)
        out.setdefault(os.path.dirname(f), set()).add(
            (os.path.basename(f), st.st_size, st.st_mtime_ns)
        )
    return {d: frozenset(fs) for d, fs in out.items()}


class Workload:
    name = ""
    # op kinds that make up the workload's primary operation, its
    # throughput, and its reads
    op_kinds: tuple[str, ...] = ()
    throughput_kinds: tuple[str, ...] = ()
    read_kinds: tuple[str, ...] = ()

    def __init__(self, seed: int, size: str, tracer: Tracer, work_dir: str):
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.work_dir = work_dir
        self.spark = None
        self.data_dir = ""
        self.layer = {}  # per-layer values the traced run reports directly

    def prepare(self, spark, data_dir: str) -> None:
        raise NotImplementedError

    def step(self, i: int, traced: bool) -> list[Op]:
        raise NotImplementedError

    def at_boundary(self, i: int) -> bool:
        """Whether the timed loop may stop after step ``i``."""
        return True

    def finish(self, ops: list[Op]) -> None:
        """Whole-run checks; may flip ``ok`` on recorded ops."""

    def inputs(self) -> dict:
        return {}

    def instrument(self) -> None:
        """Install span wrappers around the layer calls this workload
        makes (called once, before the timed loop, in traced runs)."""

    def traced_extra(self) -> list[Op]:
        """Traced operations a traced run adds after its timed loop, for
        layers the loop does not reach; they feed no end-to-end metric."""
        return []


# ── analyst_queries ──────────────────────────────────────────────────────────

# Read-only registry queries: scan-agg, joins (incl. TPC-H Q5 and the Q21
# adaptation), windows, rollup / grouping sets, JSON extract, time
# windows and sort-limit. No dedup / similarity family member.
ANALYST_MIX = (
    "q01_pricing_summary",
    "q05_join_agg",
    "q06_join_5way",
    "q10_window_topk",
    "q12_sort_limit",
    "q15_rollup",
    "q21_time_bucket",
    "q38_grouping_sets",
    "q41_json_extract",
    "q133_tpch_q5",
    "q186_tpch_q21_adapted",
)


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else f"{f + 0.0:.6f}"
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = datetime.fromtimestamp(v.timestamp(), tz=None).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, values
    normalized (floats to 6 decimals), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for r in canon:
        h.update(repr(r).encode())
    return h.hexdigest()


class AnalystQueries(Workload):
    name = "analyst_queries"
    op_kinds = throughput_kinds = read_kinds = ("query",)

    SF = {"full": 0.01, "tiny": 0.001}

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from aws_datalake_platform_spark.plans import QUERY_REGISTRY

        self.specs = {n: QUERY_REGISTRY[n] for n in ANALYST_MIX}
        self.order: list[str] = []
        self.hashes: list[tuple[Op, str, str]] = []  # (op, query, result hash)
        self.sizes = {}

    def inputs(self) -> dict:
        return {
            "sf": self.SF[self.size],
            "tables": {t: {"rows": r, "bytes": b} for t, (r, b) in self.sizes.items()},
            "mix": list(ANALYST_MIX),
        }

    def prepare(self, spark, data_dir: str) -> None:
        self.spark, self.data_dir = spark, data_dir
        self.sizes = gen.write_lake_tables(data_dir, self.seed, self.SF[self.size])
        for name in ANALYST_MIX:  # warm: codegen + JIT of every mix plan
            self.specs[name].fn(spark, data_dir).collect()

    def at_boundary(self, i: int) -> bool:
        # whole passes only: every run times the same multiset of queries
        return (i + 1) % len(ANALYST_MIX) == 0

    def _query(self, i: int) -> str:
        if i % len(ANALYST_MIX) == 0:  # new pass: seeded shuffle of the mix
            import random

            rng = random.Random(self.seed * 1_000_003 + i)
            self.order = list(ANALYST_MIX)
            rng.shuffle(self.order)
        return self.order[i % len(ANALYST_MIX)]

    def instrument(self) -> None:
        from aws_datalake_platform_spark import catalog

        def calls(_):
            self.tracer.count("catalog.load_table_calls", 1)

        # load_table_pk resolves load_table through the catalog module,
        # so patching load_table covers both entry points
        orig = catalog.load_table
        patch_everywhere(PKG, orig, self.tracer.wrap("catalog.load_table", orig, calls))

    def step(self, i: int, traced: bool) -> list[Op]:
        name = self._query(i)
        spec = self.specs[name]
        tr = self.tracer
        if traced:
            from aws_datalake_platform_spark.observability import MetricsCollector

            mc = MetricsCollector(self.spark)
            t0 = time.perf_counter()
            with tr.span("bench.query"):
                with tr.span("plans.build"):
                    b = mc.run(name + ":build", lambda: spec.fn(self.spark, self.data_dir))
                df = b["result"]
                with tr.span("plans.exec"):
                    e = mc.run(name + ":exec", df.collect)
            seconds = time.perf_counter() - t0
            rows = e["result"]
            for rec in (b, e):
                self.tracer.count("plans.jobs", rec["n_jobs"])
                self.tracer.count("plans.input_bytes", rec["input_bytes"])
                self.tracer.count("plans.shuffle_bytes", rec["shuffle_read_bytes"])
        else:
            t0 = time.perf_counter()
            df = spec.fn(self.spark, self.data_dir)
            rows = df.collect()
            seconds = time.perf_counter() - t0
        op = Op("query", seconds, 1, traced=traced)
        self.hashes.append((op, name, result_hash(df.columns, rows)))
        return [op]

    def finish(self, ops: list[Op]) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET ieee_floating_point_ops = false")
        except duckdb.Error:
            pass
        for t in self.sizes:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        oracle = {}
        for name in sorted({n for _, n, _ in self.hashes}):
            res = con.execute(self.specs[name].sql)
            oracle[name] = result_hash([d[0] for d in res.description], res.fetchall())
        con.close()
        for op, name, h in self.hashes:
            op.ok = op.ok and h == oracle[name]


# ── lake_ingest ──────────────────────────────────────────────────────────────

IOT_KEY = ["sensor_id_hash", "timestamp"]
WEATHER_KEY = ["city", "timestamp"]


class LakeIngest(Workload):
    name = "lake_ingest"
    op_kinds = ("batch",)
    throughput_kinds = ("batch", "compact")
    read_kinds = ("read",)

    # full: the reference's dev traffic (gen.py); tiny: the smoke test's
    SIZES = {"full": {}, "tiny": dict(sensors_per_city=1, ticks=24)}

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.gen = gen.IngestBatches(self.seed, **self.SIZES[self.size])
        # the measured lake lives for the whole run; set-ups warm up on
        # throwaway lakes of their own
        self.lake = _Lake(os.path.join(self.work_dir, "lake"))
        self.stored_bytes_per_raw_byte = None

    def inputs(self) -> dict:
        b = self.gen.batch(1)
        return {
            "iot_rows_per_batch": len(b.iot_lines),
            "weather_rows_per_batch": len(b.weather_lines),
            "bytes_per_batch": b.n_bytes,
            "corrupt_share": self.gen.corrupt_share,
            "late_share": self.gen.late_share,
            "partitions": "one date partition per batch per table",
            "compact_every_batches": 1,
        }

    def _p(self, *parts: str) -> str:
        return os.path.join(self.lake.root, *parts)

    def prepare(self, spark, data_dir: str) -> None:
        # warm every stage of the batch path on a throwaway lake (batch 1
        # carries late rows, so merge_upsert runs too)
        self.spark = spark
        measured, self.lake = self.lake, _Lake(data_dir, seq=1)
        try:
            self._batch(self.gen.batch(1), traced=False)
            self._reads(traced=False)
            self._compact(traced=False)
        finally:
            self.lake = measured
        shutil.rmtree(data_dir)

    def _produce(self, b: gen.RawBatch) -> None:
        """The producer side (not timed): one NDJSON file per zone in the
        stream's inbox."""
        for zone, lines in (("iot", b.iot_lines), ("weather", b.weather_lines)):
            inbox = self._p("inbox", zone)
            os.makedirs(inbox, exist_ok=True)
            with open(os.path.join(inbox, f"batch-{b.seq:05d}.json"), "w") as fh:
                fh.write("\n".join(lines) + "\n")

    def _land(self, zone: str, b: gen.RawBatch, traced: bool) -> None:
        """The Firehose-role availableNow stream lands the inbox's new
        file in the raw zone under an arrival-time year=/month=/day=
        partition."""
        from aws_datalake_platform_spark.streaming.ingest import stream_to_raw_zone
        from pyspark.sql import functions as F

        inbox = self._p("inbox", zone)
        arrival = f"{gen_day(b.seq)} 12:00:00"
        with self.tracer.span("streaming.land"):
            sdf = (
                self.spark.readStream.format("text").load(inbox)
                .withColumn("event_time", F.to_timestamp(F.lit(arrival)))
            )
            q = stream_to_raw_zone(
                sdf, self._p("raw", zone), self._p("checkpoints", zone), fmt="text",
            )
            q.awaitTermination()
        if traced:
            progress = [p for p in q.recentProgress if p.numInputRows]
            self.tracer.count("streaming.batches", len(progress))
            self.layer.setdefault("streaming.rows_per_s", []).extend(
                float(p.processedRowsPerSecond) for p in progress
            )

    def _zone(self, zone: str, b: gen.RawBatch, traced: bool) -> dict:
        """read -> dead-letter -> validate -> curate -> write fresh
        partition -> merge_upsert late readings. Returns per-step counts
        for the correctness gate (computed outside the timed region)."""
        from aws_datalake_platform_spark.catalog import RAW_IOT_SENSORS, RAW_WEATHER
        from aws_datalake_platform_spark.operators.maintenance import merge_upsert
        from aws_datalake_platform_spark.pipelines.iot import curate_iot, validate_iot
        from aws_datalake_platform_spark.pipelines.weather import curate_weather, validate_weather
        from aws_datalake_platform_spark.sources.io import read_ndjson, write_curated_parquet
        from pyspark.sql import functions as F

        iot = zone == "iot"
        schema = RAW_IOT_SENSORS if iot else RAW_WEATHER
        day = gen_day(b.seq)
        y, m, d = day.split("-")
        raw_path = self._p("raw", zone, f"year={y}", f"month={m}", f"day={d}")
        dl_path = self._p("dead-letter", zone, f"batch={b.seq:05d}")
        curated = self._p("curated", zone)
        tr = self.tracer
        with tr.span(f"pipelines.transform_{'iot' if iot else 'weather'}"):
            with tr.span("sources.read_ndjson"):
                raw = read_ndjson(self.spark, raw_path, schema=schema, bad_records_path=dl_path)
                raw = raw.select(*schema.fieldNames())
            with tr.span("validation.validate"):
                if traced:
                    from aws_datalake_platform_spark.observability import MetricsCollector

                    rec = MetricsCollector(self.spark).run(
                        "validate", lambda: (validate_iot if iot else validate_weather)(raw)
                    )
                    self.tracer.count("validation.jobs", rec["n_jobs"])
                    verdict = rec["result"]
                else:
                    verdict = (validate_iot if iot else validate_weather)(raw)
            out = (curate_iot if iot else curate_weather)(raw).withColumn(
                "batch_seq", F.lit(b.seq)
            )
            fresh = out.filter(F.col("date") == day)
            late = out.filter(F.col("date") != day)
            with tr.span("sources.write_curated"):
                before = len(_files(curated)) if traced else 0
                write_curated_parquet(fresh, curated, ["date"])
                if traced:
                    self.tracer.count("sources.files_written", len(_files(curated)) - before)
            if b.n_late[zone]:
                before = _partition_files(curated) if traced else {}
                with tr.span("operators.maintenance.merge_upsert"):
                    merge_upsert(
                        self.spark, curated, late, IOT_KEY if iot else WEATHER_KEY,
                        "batch_seq", ["date"],
                    )
                if traced:
                    after = _partition_files(curated)
                    self.tracer.count(
                        "operators.maintenance.partitions_rewritten",
                        sum(1 for d, fs in after.items() if before.get(d) != fs),
                    )
        return {"valid": verdict["success"], "dl_path": dl_path}

    def _batch(self, b: gen.RawBatch, traced: bool) -> tuple[float, list[dict]]:
        self._produce(b)
        t0 = time.perf_counter()
        with self.tracer.span("bench.batch"):
            for zone in ("iot", "weather"):
                self._land(zone, b, traced)
            res = [self._zone(zone, b, traced) for zone in ("iot", "weather")]
        seconds = time.perf_counter() - t0
        self.lake.raw_bytes += b.n_bytes
        for zone in ("iot", "weather"):
            self.lake.expected[zone].update(b.keys[zone])
        return seconds, res

    def _check_batch(self, b: gen.RawBatch, res: list[dict]) -> bool:
        """curated rows written + dead-letter rows == raw lines, and the
        curated table holds exactly one row per key, at the newest
        version's values."""
        ok = True
        for zone, r in zip(("iot", "weather"), res):
            n_dl = sum(
                sum(1 for line in open(f) if line.strip()) for f in _files(r["dl_path"])
            )
            self.tracer.count("sources.dead_letter_rows", n_dl)
            lines = len(b.iot_lines if zone == "iot" else b.weather_lines)
            table = self._curated_rows(zone)
            batch_rows = sum(1 for v in table.values() if v[1] == b.seq)
            ok &= r["valid"] and n_dl == b.n_corrupt[zone] and batch_rows + n_dl == lines
            ok &= len(table) == len(self.lake.expected[zone]) and all(
                table.get(k, (None,))[0] == temp for k, temp in self.lake.expected[zone].items()
            )
        return bool(ok)

    def _curated_rows(self, zone: str) -> dict:
        """{key: (temperature_c, batch_seq)} read with pyarrow; a
        duplicated key poisons its entry so the equality check fails."""
        import pyarrow.parquet as pq

        iot = zone == "iot"
        cols = (["sensor_id_hash"] if iot else ["city"]) + ["timestamp", "temperature_c", "batch_seq"]
        t = pq.read_table(self._p("curated", zone), columns=cols).to_pydict()
        ids = t[cols[0]]
        if iot:
            inv = {_sha(s): s for s in self._sensor_ids()}
            ids = [inv.get(h, h) for h in ids]
        out = {}
        for key, temp, seq in zip(zip(ids, t["timestamp"]), t["temperature_c"], t["batch_seq"]):
            out[key] = (None, -1) if key in out else (temp, seq)
        return out

    def _sensor_ids(self) -> list[str]:
        return [
            gen.sensor_id(c, i) for c, _, _ in gen.CITIES
            for i in range(self.gen.sensors_per_city)
        ]

    def _reads(self, traced: bool) -> Op:
        """Read-after-write probe of the fresh curated table: a point read
        (one sensor, today) then a range read (three days, per-city
        aggregate), timed together as one operation."""
        from pyspark.sql import functions as F

        seq = self.lake.seq
        day, lo = gen_day(seq), gen_day(max(0, seq - 2))
        sensor = self._sensor_ids()[seq % (len(gen.CITIES) * self.gen.sensors_per_city)]
        path = self._p("curated", "iot")
        t0 = time.perf_counter()
        with self.tracer.span("bench.read"):
            point = (
                self.spark.read.parquet(path)
                .filter((F.col("date") == day) & (F.col("sensor_id_hash") == _sha(sensor)))
                .select("timestamp", "temperature_c")
                .collect()
            )
            per_city = (
                self.spark.read.parquet(path)
                .filter(F.col("date").between(lo, day))
                .groupBy("city")
                .agg(F.count("*").alias("n"), F.avg("temperature_c").alias("avg_t"))
                .collect()
            )
        seconds = time.perf_counter() - t0
        exp_point = {
            (k[1], t) for k, t in self.lake.expected["iot"].items() if k[0] == sensor and k[1][:10] == day
        }
        exp_n = sum(1 for k in self.lake.expected["iot"] if lo <= k[1][:10] <= day)
        ok = (
            {(r["timestamp"], r["temperature_c"]) for r in point} == exp_point
            and sum(r["n"] for r in per_city) == exp_n
        )
        return Op("read", seconds, 1, ok=ok, traced=traced)

    def _compact(self, traced: bool) -> Op:
        from aws_datalake_platform_spark.operators.maintenance import compact_partitions

        path = self._p("curated", "iot")
        before = len(_files(path, ".parquet"))
        rows_before = self._curated_rows("iot")
        t0 = time.perf_counter()
        with self.tracer.span("operators.maintenance.compact"):
            compact_partitions(self.spark, path, ["date"])
        seconds = time.perf_counter() - t0
        after = len(_files(path, ".parquet"))
        if traced:
            self.tracer.count("operators.maintenance.files_before", before)
            self.tracer.count("operators.maintenance.files_after", after)
        ok = self._curated_rows("iot") == rows_before and after <= before
        return Op("compact", seconds, 0, ok=ok, traced=traced)

    def step(self, i: int, traced: bool) -> list[Op]:
        self.lake.seq += 1
        b = self.gen.batch(self.lake.seq)
        seconds, res = self._batch(b, traced)
        ops = [Op("batch", seconds, b.n_lines, ok=self._check_batch(b, res), traced=traced)]
        ops.append(self._reads(traced))
        # every batch, so traced and untraced batches of a traced run
        # see the same file layout
        ops.append(self._compact(traced))
        return ops

    def traced_extra(self) -> list[Op]:
        """One corpus curation (the corpus_curation workload's set-up and
        one traced step), so a traced run of this listed workload also
        measures the dedup, similarity, snapshot and corpus-pipeline
        layers. Runs after the timed loop on its own inputs."""
        corpus = CorpusCuration(self.seed, self.size, self.tracer, self.work_dir)
        corpus.layer = self.layer
        corpus.prepare(self.spark, os.path.join(self.work_dir, "corpus"))
        corpus.instrument()
        self.tracer.enabled = True
        return corpus.step(0, traced=True)

    def finish(self, ops: list[Op]) -> None:
        curated = _du(self._p("curated", "iot")) + _du(self._p("curated", "weather"))
        self.stored_bytes_per_raw_byte = curated / max(1, self.lake.raw_bytes)


@dataclass
class _Lake:
    """One lake directory and the ground truth of what was ingested."""

    root: str
    seq: int = 0  # last batch ingested
    raw_bytes: int = 0
    # zone -> key -> newest temperature_c
    expected: dict = field(default_factory=lambda: {"iot": {}, "weather": {}})


def gen_day(seq: int) -> str:
    import numpy as np

    return str(np.datetime64("2026-01-01") + np.timedelta64(seq, "D"))


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


# ── corpus_curation ──────────────────────────────────────────────────────────


class CorpusCuration(Workload):
    name = "corpus_curation"
    op_kinds = throughput_kinds = ("curate",)
    read_kinds = ("read",)

    N_BASE = {"full": 1500, "tiny": 150}
    # readers of each committed snapshot: one read is ~0.1 s, so a run
    # needs several for a steady read p50
    READS_PER_CURATE = 5
    NEAR_DUP = 0.7
    SEMANTIC = 0.97

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.info = None
        self.first_counts = None
        self.snap = ""

    def inputs(self) -> dict:
        i = self.info
        return {
            "docs": i.n_docs, "bytes": i.n_bytes,
            "exact_dup_share": round(i.n_exact / i.n_docs, 4),
            "near_dup_share": round(i.n_near / i.n_docs, 4),
            "excerpt_share": round(i.n_excerpt / i.n_docs, 4),
            "partitions": 1,
        }

    def prepare(self, spark, data_dir: str) -> None:
        self.spark, self.data_dir = spark, data_dir
        self.info = gen.write_corpus(data_dir, self.seed, self.N_BASE[self.size])
        self.docs = spark.read.parquet(os.path.join(data_dir, "documents.parquet"))
        self.emb = spark.read.parquet(os.path.join(data_dir, "embeddings.parquet"))
        self.snap = os.path.join(data_dir, "snapshots", "curated")
        # warm; its stage counts are the reference every timed repeat of
        # this seed must reproduce
        res = self._curate()
        self.first_counts = {k: v for k, v in res.items() if k.startswith("n_")}
        self.spark.catalog.clearCache()

    def _curate(self) -> dict:
        from aws_datalake_platform_spark.pipelines.corpus import curate_corpus

        # exact + MinHash near-dup stages on; the containment and semantic
        # stages are off (with them one op takes ~15 s on 4 cores instead
        # of ~5 s, leaving one op per run; semdedup is timed by the probe)
        return curate_corpus(
            self.spark, self.docs, out_path=self.snap, near_dup_threshold=self.NEAR_DUP,
        )

    def instrument(self) -> None:
        from aws_datalake_platform_spark.operators import dedup, snapshots

        for mod, layer, names in (
            (dedup, "operators.dedup", ("exact_dedup", "minhash_lsh_pairs",
                                        "connected_components")),
            (snapshots, "operators.snapshots", ("write_snapshot",)),
        ):
            for n in names:
                orig = getattr(mod, n)
                patch_everywhere(PKG, orig, self.tracer.wrap(f"{layer}.{n}", orig))

    def step(self, i: int, traced: bool) -> list[Op]:
        from aws_datalake_platform_spark.operators.snapshots import list_snapshots, read_snapshot

        t0 = time.perf_counter()
        with self.tracer.span("pipelines.corpus.curate"):
            res = self._curate()
        seconds = time.perf_counter() - t0
        counts = {k: v for k, v in res.items() if k.startswith("n_")}
        version = res["snapshot_version"]
        self.spark.catalog.clearCache()
        if traced:
            snap = next(s for s in list_snapshots(self.snap) if s["version"] == version)
            self.tracer.count("operators.snapshots.bytes_written",
                        sum(_du(os.path.join(self.snap, d)) for d in snap["data_dirs"]))
            self.tracer.enabled = False  # probes are not part of any span
            try:
                self._probe()
            finally:
                self.tracer.enabled = True
        ok = counts == self.first_counts and counts["n_after_dedup"] <= (
            self.info.n_docs - self.info.n_exact
        )
        ops = [Op("curate", seconds, res["n_raw"], ok=ok, traced=traced)]
        for _ in range(self.READS_PER_CURATE):
            t0 = time.perf_counter()
            n_back = read_snapshot(self.spark, self.snap, version).count()
            ops.append(Op("read", time.perf_counter() - t0, 1,
                          ok=n_back == counts["n_final"], traced=traced))
        return ops

    def _probe(self) -> None:
        """Materialize each dedup / similarity stage on its own (the
        pipeline's calls return lazy frames), outside the op's timing."""
        import numpy as np
        from aws_datalake_platform_spark.observability import MetricsCollector
        from aws_datalake_platform_spark.operators import dedup, similarity
        from pyspark.sql import functions as F

        def timed(key, fn):
            t0 = time.perf_counter()
            out = fn()
            keep(key, time.perf_counter() - t0)
            return out

        def keep(key, value):
            self.layer.setdefault(key, []).append(value)

        deduped = dedup.exact_dedup(self.docs, "doc_id", "text").persist()
        timed("operators.dedup.exact_s", deduped.count)
        pairs = dedup.minhash_lsh_pairs(deduped, "doc_id", "text", threshold=self.NEAR_DUP).persist()
        verified = timed("operators.dedup.minhash_pairs_s", pairs.count)
        candidates = dedup.capped_candidate_pairs(
            dedup.minhash_band_buckets(deduped, "doc_id", "text"), 512
        ).count()
        keep("operators.dedup.verified_pairs", verified)
        keep("operators.dedup.verify_yield", verified / candidates if candidates else 0.0)
        rec = timed(
            "operators.dedup.cc_s",
            lambda: MetricsCollector(self.spark).run(
                "cc", lambda: dedup.connected_components(pairs).count()
            ),
        )
        keep("operators.dedup.cc_jobs", rec["n_jobs"])
        emb = self.emb.select(F.col("doc_id").alias("vec_id"), "embedding")

        def sem():
            cents = similarity._centroid_matrix(emb, "vec_id", "embedding", 64)
            cdf = self.spark.createDataFrame(
                [(i, [float(x) for x in row]) for i, row in enumerate(np.asarray(cents))],
                "cid BIGINT, ce ARRAY<DOUBLE>",
            )
            return similarity.semdedup(
                emb, centroids=cdf, threshold=self.SEMANTIC, assign_strategy="vectorized"
            ).count()

        timed("operators.similarity.semdedup_s", sem)
        pairs.unpersist()
        deduped.unpersist()
        self.spark.catalog.clearCache()


WORKLOADS = {w.name: w for w in (AnalystQueries, LakeIngest, CorpusCuration)}
