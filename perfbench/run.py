#!/usr/bin/env python3
"""Lake benchmark runner: one workload per invocation.

    python3 perfbench/run.py --workload analyst_queries --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up (session start, seeded input
generation into a fresh directory, warmup) runs three times. Only the
first starts the session (launches the JVM through ``get_spark``);
later ones reattach to it. ``setup_s`` is that session start plus the
median of the three set-ups' input generation + warmup, so a change to
session start shows in it as well as work moved into set-up. The timed
loop then runs the workload's operations in whole groups (a pass of the
query mix, or one batch) for about ``--seconds``. Every operation's
output is checked outside the timed region. Human-readable
report lines start with ``#``; the last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones (untraced run); with
``--trace 1`` they are the per-layer ones from a traced run, which
alternates traced and untraced operations to measure tracing overhead.

All files (lake dirs, checkpoints, snapshots, Spark local dirs,
warehouse) live under ``.bench_tmp/`` in the root and are removed at
exit; only the span dump of a traced run is kept, under
``.bench_tmp/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "aws_datalake_platform_spark"
N_SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "items/s",
    "read_p50_s": "s",
}

LAYERS = [
    "bench", "catalog", "plans", "streaming", "sources", "validation", "pipelines",
    "operators.maintenance", "operators.dedup", "operators.similarity", "operators.snapshots",
]

# name, unit, source. Sources: ("span", s) median duration of span s per
# call; ("count", c, s) counter c divided by the number of s spans;
# ("layer", k) median of values the workload recorded under k; ("self",
# layer) the layer's self time per traced step that entered it; the rest
# are named in per_layer().
PER_LAYER = [
    ("session.start_s", "s", ("jvm_start",)),
    ("session.jvm_peak_rss_mb", "MB", ("jvm_rss",)),
    ("catalog.load_table_s", "s", ("span", "catalog.load_table")),
    ("catalog.load_table_calls", "count", ("count", "catalog.load_table_calls", "bench.query")),
    ("plans.build_s", "s", ("span", "plans.build")),
    ("plans.exec_s", "s", ("span", "plans.exec")),
    ("plans.jobs", "count", ("count", "plans.jobs", "bench.query")),
    ("plans.input_bytes", "bytes", ("count", "plans.input_bytes", "bench.query")),
    ("plans.shuffle_bytes", "bytes", ("count", "plans.shuffle_bytes", "bench.query")),
    ("streaming.land_s", "s", ("span", "streaming.land")),
    ("streaming.batches", "count", ("count", "streaming.batches", "streaming.land")),
    ("streaming.rows_per_s", "rows/s", ("layer", "streaming.rows_per_s")),
    ("sources.read_ndjson_s", "s", ("span", "sources.read_ndjson")),
    ("sources.dead_letter_rows", "count", ("count", "sources.dead_letter_rows", "bench.batch")),
    ("sources.write_curated_s", "s", ("span", "sources.write_curated")),
    ("sources.files_written", "count", ("count", "sources.files_written", "sources.write_curated")),
    ("validation.validate_s", "s", ("span", "validation.validate")),
    ("validation.jobs", "count", ("count", "validation.jobs", "validation.validate")),
    ("pipelines.transform_iot_s", "s", ("span", "pipelines.transform_iot")),
    ("pipelines.transform_weather_s", "s", ("span", "pipelines.transform_weather")),
    ("pipelines.corpus.curate_s", "s", ("span", "pipelines.corpus.curate")),
    ("operators.maintenance.merge_upsert_s", "s", ("span", "operators.maintenance.merge_upsert")),
    ("operators.maintenance.partitions_rewritten", "count",
     ("count", "operators.maintenance.partitions_rewritten", "operators.maintenance.merge_upsert")),
    ("operators.maintenance.compact_s", "s", ("span", "operators.maintenance.compact")),
    ("operators.maintenance.files_before", "count",
     ("count", "operators.maintenance.files_before", "operators.maintenance.compact")),
    ("operators.maintenance.files_after", "count",
     ("count", "operators.maintenance.files_after", "operators.maintenance.compact")),
    ("operators.dedup.exact_s", "s", ("layer", "operators.dedup.exact_s")),
    ("operators.dedup.minhash_pairs_s", "s", ("layer", "operators.dedup.minhash_pairs_s")),
    ("operators.dedup.verified_pairs", "count", ("layer", "operators.dedup.verified_pairs")),
    ("operators.dedup.verify_yield", "ratio", ("layer", "operators.dedup.verify_yield")),
    ("operators.dedup.cc_s", "s", ("layer", "operators.dedup.cc_s")),
    ("operators.dedup.cc_jobs", "count", ("layer", "operators.dedup.cc_jobs")),
    ("operators.similarity.semdedup_s", "s", ("layer", "operators.similarity.semdedup_s")),
    ("operators.snapshots.write_s", "s", ("span", "operators.snapshots.write_snapshot")),
    ("operators.snapshots.bytes_written", "bytes",
     ("count", "operators.snapshots.bytes_written", "pipelines.corpus.curate")),
] + [(f"{layer}.self_s", "s", ("self", layer)) for layer in LAYERS] + [
    ("trace.overhead_op_p50_s", "s", ("overhead",)),
    ("trace.overhead_share", "ratio", ("overhead_share",)),
    ("trace.spans", "count", ("spans",)),
]


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value): the highest of p99.9/p99/p95/p90/p75/p50 with
    at least ten samples beyond it; (None, None) when there are fewer
    than twenty samples."""
    for p in (99.9, 99, 95, 90, 75, 50):
        if len(xs) * (1 - p / 100) >= 10:
            s = sorted(xs)
            return p, s[min(len(s) - 1, math.ceil(p / 100 * len(s)) - 1)]
    return None, None


def med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input scale; tiny is for the smoke test")
    return ap.parse_args(argv)


def _steal_and_total() -> tuple[int, int]:
    """Host-wide (steal, total) CPU ticks, to report the share of CPU
    time the hypervisor gave to other guests while the loop ran."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def measure(wl, session, args, report) -> dict:
    """Set up N_SETUPS times, run the timed loop, run the whole-run
    checks. The loop starts only after the last set-up: interleaving it
    with the set-ups was tried and timed the first chunk on a JVM still
    warming up (~30% slower passes)."""
    from workloads import Op

    setups, starts = [], []
    for k in range(N_SETUPS):
        data_dir = os.path.join(wl.work_dir, f"setup{k}")
        t0 = time.perf_counter()
        spark = session.start()
        starts.append(time.perf_counter() - t0)
        wl.prepare(spark, data_dir)
        setups.append(time.perf_counter() - t0)
        if k < N_SETUPS - 1:
            shutil.rmtree(data_dir, ignore_errors=True)
    if args.trace:
        wl.instrument()
    ops: list[Op] = []
    steal0, total0 = _steal_and_total()
    t_start = time.perf_counter()
    t_end = t_start + args.seconds
    i = n_groups = 0
    while True:
        # traced runs alternate traced and untraced steps
        traced = bool(args.trace) and i % 2 == 1
        wl.tracer.enabled = traced
        wl.tracer.run_id = i
        try:
            ops += wl.step(i, traced)
        except Exception:  # noqa: BLE001 — a failed operation is a measured outcome
            traceback.print_exc(file=sys.stderr)
            ops.append(Op(wl.op_kinds[0], 0.0, 0, ok=False, traced=traced))
        i += 1
        if not wl.at_boundary(i - 1):
            continue
        # stop at the group boundary nearest to --seconds: when one more
        # group of the average length would end more than half a group
        # past it (a traced run needs one traced and one untraced step)
        now = time.perf_counter()
        n_groups += 1
        if now + (now - t_start) / n_groups / 2 > t_end and (not args.trace or i >= 2):
            break
    wl.tracer.enabled = False
    steal1, total1 = _steal_and_total()
    report(f"setups_s={[round(s, 3) for s in setups]} "
           f"session_starts_s={[round(s, 3) for s in starts]} "
           f"timed_loop_s={time.perf_counter() - t_start:.3f} "
           f"host_steal_share={(steal1 - steal0) / max(1, total1 - total0):.3f}")
    if args.trace:
        wl.tracer.run_id = i
        try:
            ops += wl.traced_extra()
        except Exception:  # noqa: BLE001 — a failed operation is a measured outcome
            traceback.print_exc(file=sys.stderr)
            ops.append(Op("extra", 0.0, 0, ok=False, traced=True))
        wl.tracer.enabled = False
    wl.finish(ops)
    return {"setups": setups, "starts": starts, "ops": ops}


def end_to_end(wl, res) -> dict:
    ops = [o for o in res["ops"] if not o.traced and o.ok]
    prim = [o.seconds for o in ops if o.kind in wl.op_kinds]
    thr = [o for o in ops if o.kind in wl.throughput_kinds]
    return {
        "setup_s": res["starts"][0] + med(s - t for s, t in zip(res["setups"], res["starts"])),
        "op_p50_s": med(prim),
        "items_per_s": sum(o.items for o in thr) / max(1e-9, sum(o.seconds for o in thr)),
        "read_p50_s": med(o.seconds for o in ops if o.kind in wl.read_kinds),
    }


def per_layer(wl, res, session) -> dict:
    tr = wl.tracer
    ops = res["ops"]
    prim_traced = [o.seconds for o in ops if o.kind in wl.op_kinds and o.traced and o.ok]
    prim_plain = [o.seconds for o in ops if o.kind in wl.op_kinds and not o.traced and o.ok]
    selfs = tr.self_times(LAYERS)
    overhead = med(prim_traced) - med(prim_plain)
    fixed = {
        "jvm_start": res["starts"][0],  # the JVM launch; later starts reattach
        "jvm_rss": session.jvm_peak_rss_mb(),
        "overhead": overhead,
        "overhead_share": overhead / med(prim_plain) if prim_plain else 0.0,
        "spans": float(len(tr.spans)),
    }
    out = {}
    for name, unit, src in PER_LAYER:
        kind = src[0]
        if kind == "span":
            v = med(tr.durations(src[1]))
        elif kind == "count":
            v = tr.counts.get(src[1], 0.0) / max(1, len(tr.durations(src[2])))
        elif kind == "layer":
            v = med(wl.layer.get(src[1], []))
        elif kind == "self":
            v = selfs.get(src[1], 0.0)
        else:
            v = fixed[kind]
        out[name] = {"value": v, "unit": unit}
    return out


def named_report(wl, res, report) -> None:
    """The workload's metrics under their workload-specific names, with
    sample counts (the gated JSON metrics use workload-neutral names)."""
    ops = [o for o in res["ops"] if not o.traced and o.ok]
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o.kind, []).append(o.seconds)
    e2e = end_to_end(wl, res)
    names = {
        "analyst_queries": {"query": "query"},
        "lake_ingest": {"batch": "ingest_batch", "read": "read_after_write", "compact": "compact"},
        "corpus_curation": {"curate": "curation", "read": "snapshot_read"},
    }[wl.name]
    report(f"metric setup_s {e2e['setup_s']:.4f} s n={len(res['setups'])}")
    for kind, xs in sorted(by_kind.items()):
        report(f"op_seconds {kind}={[round(x, 3) for x in xs]}")
        p, v = tail(xs)
        report(f"metric {names[kind]}_p50_s {med(xs):.4f} s n={len(xs)}")
        if p is not None:
            report(f"metric {names[kind]}_tail_s {v:.4f} s percentile=p{p:g} n={len(xs)}")
        else:
            report(f"metric {names[kind]}_tail_s n/a (fewer than 20 samples, n={len(xs)})")
    thr = {"analyst_queries": ("queries_per_s", "1/s"),
           "lake_ingest": ("ingest_rows_per_s", "rows/s"),
           "corpus_curation": ("curation_docs_per_s", "docs/s")}[wl.name]
    n_thr = sum(1 for o in ops if o.kind in wl.throughput_kinds)
    report(f"metric {thr[0]} {e2e['items_per_s']:.4f} {thr[1]} n={n_thr}")
    stored = getattr(wl, "stored_bytes_per_raw_byte", None)
    if stored is not None:
        report(f"metric stored_bytes_per_raw_byte {stored:.4f} ratio")
    failed = sum(1 for o in res["ops"] if not o.ok)
    report(f"metric failed_ops_ratio {failed / max(1, len(res['ops'])):.4f} ratio "
           f"n={len(res['ops'])}")


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"error: the program ({PKG}/) is not in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import host
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".bench_tmp")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    hp = host.profile()

    def report(line: str) -> None:
        print("# " + line, flush=True)

    report(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
           f"trace={args.trace} size={args.size} nproc={hp['nproc']} ram_mb={hp['ram_mb']} "
           f"driver_mem_mb={hp['driver_mem_mb']}")
    session = host.Session(host.pin_environment(work, hp))
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tracer = Tracer(False)
    try:
        wl = WORKLOADS[args.workload](args.seed, args.size, tracer, work)
        res = measure(wl, session, args, report)
        report("inputs " + json.dumps(wl.inputs(), sort_keys=True))
        named_report(wl, res, report)
        metrics = (
            per_layer(wl, res, session) if args.trace
            else {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end(wl, res).items()}
        )
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.dump(path)
            report(f"trace written to {os.path.relpath(path, ROOT)}")
    finally:
        session.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(1 for o in res["ops"] if not o.ok)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(res["ops"]),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
