"""Lake maintenance: partition-scoped upsert + small-file compaction.

The reference's write story is overwrite-everything (transform.py:180-185
truncates and rewrites the full curated tree each run). A lake that
ingests continuously needs two more primitives, both expressible with
plain parquet + dynamic partition overwrite (no table format required):

- **merge_upsert**: apply a batch of keyed updates/inserts by rewriting
  ONLY the partitions the batch touches. At 100 TB the touched set is
  typically a handful of recent date partitions — the rewrite cost is
  proportional to the update locality, not the table size.
- **compact_partitions**: streaming sinks and frequent small batches
  leave thousands of KB-sized files per partition; scan cost at 100 TB
  is dominated by file-open overhead long before bytes. Rewrite each
  partition into ~target_bytes files, preserving the partition layout.

Both rely on ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set
in session.get_spark): the write replaces exactly the partitions present
in the output DataFrame and leaves every other partition's files alone.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import visible_files


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
    partition_cols: list[str],
    max_collect_partitions: int = 1024,
) -> None:
    """Upsert ``updates`` into the parquet lake at ``path``: per key keep
    the row with the highest ``version_col`` (update wins over an equal-
    or-older existing row), writing back only the touched partitions.

    Plan shape — two-regime read pruning, never an unbounded collect:

    - **Sparse batch** (touched-partition count <= max_collect_partitions,
      the common case): the DISTINCT partition tuples — never row data —
      are collected and become a static OR-of-AND predicate that lands in
      the scan's PartitionFilters, so untouched partitions are not read.
      The collect is bounded by the cap, not by the table.
    - **Dense batch** (cap exceeded): fall back to a LEFT SEMI join
      against the distinct partition values. Spark's dynamic-partition-
      pruning rule does not fire here (an arbitrary update batch has no
      selective predicate for the rule's heuristic), so this regime scans
      the table — acceptable because a batch touching that many
      partitions REWRITES that many partitions; read cost stays
      proportional to the work the write must do anyway.

    The winner-per-key window runs over touched rows + updates only; the
    dynamic-overwrite write replaces exactly the partitions present in
    the output.
    """
    touched = updates.select(*partition_cols).distinct()
    head = touched.limit(max_collect_partitions + 1).collect()
    if not head:
        return
    out_cols = updates.columns
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        if len(head) <= max_collect_partitions:
            cond = F.lit(False)
            for row in head:
                match = F.lit(True)
                for col in partition_cols:
                    match = match & (F.col(col) == F.lit(row[col]))
                cond = cond | match
            pruned = existing.filter(cond)
        else:
            # No broadcast hint: an explicit broadcast would materialize the
            # full touched relation on the driver — the unbounded path this
            # cap exists to avoid. AQE broadcasts it only when small.
            pruned = existing.join(touched, partition_cols, "left_semi")
        merged = pruned.select(*out_cols).unionByName(updates)
    else:
        merged = updates
    w = Window.partitionBy(*key_cols).orderBy(F.col(version_col).desc())
    winners = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    winners.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def partition_file_stats(spark: SparkSession, path: str, partition_cols: list[str]) -> dict:
    """{partition_value_tuple: (n_files, total_bytes)} from a listing of
    the files Spark's file index would read (hidden ``_``/``.`` files and
    directories skipped). Local-FS implementation (os.walk + os.stat) —
    no Spark job; on a cluster the same numbers come from the Hadoop
    FileSystem listing. Raises FileNotFoundError unless ``path`` is a
    directory."""
    if not os.path.isdir(path):
        raise FileNotFoundError(f"not a table directory: {path}")
    stats: dict[tuple, list[int]] = {}
    for rel, st in visible_files(path):
        parts = []
        for seg in rel.split(os.sep)[:-1]:
            k, eq, v = seg.partition("=")
            if eq and k in partition_cols:
                parts.append(v)
        n_b = stats.setdefault(tuple(parts), [0, 0])
        n_b[0] += 1
        n_b[1] += st.st_size
    return {k: (v[0], v[1]) for k, v in stats.items()}


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    target_bytes: int = 128 << 20,
) -> dict:
    """Rewrite every multi-file partition into ceil(bytes/target_bytes)
    files. Returns the pre-compaction stats for auditability.

    Plan shape: a tiny (partition -> n_buckets) mapping joins broadcast
    onto the scan; rows get a bucket id from a hash mod n_buckets and the
    write repartitions on (partition_cols + bucket), so each task holds
    exactly one output file's rows — no global shuffle wider than the
    data being rewritten, and partitions already at target are skipped.
    """
    stats = partition_file_stats(spark, path, partition_cols)
    need = {
        k: max(1, math.ceil(b / target_bytes))
        for k, (n, b) in stats.items()
        if n > max(1, math.ceil(b / target_bytes))
    }
    if not need:
        return stats
    df = spark.read.parquet(path)
    mapping = spark.createDataFrame(
        [(*k, n) for k, n in need.items()], partition_cols + ["__nb"]
    )
    for c in partition_cols:  # partition values parse as strings; align types
        mapping = mapping.withColumn(c, F.col(c).cast(dict(df.dtypes)[c]))
    sub = df.join(F.broadcast(mapping), partition_cols, "inner")
    bucket = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.col("__nb"))
    out = (
        sub.withColumn("__bucket", bucket)
        .repartition(*[F.col(c) for c in partition_cols + ["__bucket"]])
        .drop("__nb", "__bucket")
    )
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    return stats


def expire_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    older_than: str,
    date_from_partition=None,
    dry_run: bool = False,
    archive_path: str | None = None,
    table: str | None = None,
) -> list[dict]:
    """Retention: drop (or move to ``archive_path``) every partition whose
    ENTIRE date range is strictly before ``older_than`` ('YYYY-MM-DD') —
    a coarse partition (year= or year=/month=) is kept while any part of
    its period reaches the cutoff, so a mid-month cutoff never deletes
    rows newer than itself.

    The engine-side analogue of the reference's S3 lifecycle rules
    (terraform/modules/s3/main.tf:90-106 — transition to IA at 30 d,
    expire at 365 d): ``archive_path`` is the IA transition, plain
    expiry is the deletion rule. Returns one dict per affected partition
    {values, date, n_files, bytes, action} — with ``dry_run=True`` the
    listing is returned and NOTHING is touched, the audit step a real
    lake runs before enabling a new retention policy.

    ``date_from_partition`` maps the partition-value tuple to an ISO date
    string; the default zero-pads and joins the values, which matches
    the year=/month=/day= layout Firehose-style ingest writes
    (streaming/ingest.py) for 1-3 partition columns.

    Scale shape: everything here is proportional to the PARTITION COUNT
    (a directory listing + per-partition stat), never row data — no jobs
    run at all. Directory removal per partition is how object-store
    lifecycle operates too (prefix delete). After a destructive change
    the catalog is re-synced (MSCK REPAIR) when ``table`` is given.
    """
    import shutil
    from datetime import date, timedelta

    if date_from_partition is None:

        def date_from_partition(vals: tuple) -> str:
            pads = (4, 2, 2)
            return "-".join(
                str(v).zfill(pads[i] if i < 3 else 0) for i, v in enumerate(vals)
            )

    def _upper_bound(pdate: str) -> str:
        # exclusive end of the period a (possibly partial) partition date
        # covers: '2024' -> 2025-01-01, '2024-01' -> 2024-02-01,
        # '2024-01-15' -> 2024-01-16. A coarse partition (year=/month=)
        # expires only when its WHOLE range is older than the cutoff —
        # comparing the partial string itself deletes a month that still
        # contains rows newer than a mid-month cutoff (r3 review finding,
        # test_expire_partitions_coarse_granularity_is_conservative).
        parts = [int(x) for x in pdate.split("-")]
        if len(parts) == 1:
            return f"{parts[0] + 1:04d}-01-01"
        if len(parts) == 2:
            y, m = parts
            return f"{y + (m == 12):04d}-{m % 12 + 1:02d}-01"
        return (date(*parts) + timedelta(days=1)).isoformat()

    stats = partition_file_stats(spark, path, partition_cols)
    report: list[dict] = []
    action = "archive" if archive_path else "delete"
    for vals, (n_files, n_bytes) in sorted(stats.items()):
        pdate = date_from_partition(vals)
        if _upper_bound(pdate) > older_than:
            continue
        report.append(
            {
                "values": vals,
                "date": pdate,
                "n_files": n_files,
                "bytes": n_bytes,
                "action": "dry_run:" + action if dry_run else action,
            }
        )
        if dry_run:
            continue
        rel = os.sep.join(f"{c}={v}" for c, v in zip(partition_cols, vals))
        src = os.path.join(path, rel)
        if archive_path:
            dst = os.path.join(archive_path, rel)
            if os.path.exists(dst):
                # shutil.move into an existing dir would NEST src inside it
                # (archive/.../day=30/day=30/...), corrupting partition
                # discovery on the archive — refuse loudly instead.
                raise FileExistsError(
                    f"archive destination already exists: {dst} — the "
                    "partition was archived before and re-created; merge or "
                    "remove the prior archive copy first"
                )
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(src, dst)
        else:
            shutil.rmtree(src)
        # prune now-empty parent partition dirs (year=/month=/ shells)
        parent = os.path.dirname(src)
        while parent != path.rstrip(os.sep) and not os.listdir(parent):
            os.rmdir(parent)
            parent = os.path.dirname(parent)
    if not dry_run and report and table is not None:
        spark.sql(f"MSCK REPAIR TABLE {table} DROP PARTITIONS")
    return report


def zorder_key(a, b, bits: int = 16):
    """32-bit Morton (Z-order) code interleaving the low ``bits`` bits of
    two integer columns: bit i of ``a`` lands at position 2i+1, bit i of
    ``b`` at 2i. Pure bitwise Column expressions (codegen'd, exact SQL
    mirror exists), no Python.

    Sorting or range-partitioning by this key co-locates rows that are
    close in BOTH dimensions, which tightens per-file min/max ranges for
    both columns at once — the multi-dimensional data-skipping trick
    single-column sorting cannot give you.
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    a = a.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    b = b.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    z = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(abit, 2 * i + 1)).bitwiseOR(F.shiftleft(bbit, 2 * i))
    return z


def cluster_by_zorder(
    df: DataFrame, path: str, cols: tuple[str, str], n_files: int, bits: int = 16
) -> None:
    """Rewrite ``df`` into ``n_files`` parquet files range-partitioned and
    sorted by the Z-order key of ``cols`` — the OPTIMIZE ZORDER BY of
    table formats, expressed with plain repartitionByRange + parquet.

    Each dimension is min-max scaled to the full ``bits`` width before
    interleaving: raw-bit interleave degenerates when ranges differ (a
    0-149 column only touches low bits, so the curve collapses to a sort
    on the wider column and that dimension's files stay full-span).
    Min-max scaling is one tiny pre-aggregate + map-side math; for
    heavily SKEWED dimensions substitute rank-based bucket ids.

    Scale: one range shuffle (sampled boundaries) + in-partition sort;
    downstream scans with predicates on EITHER column skip most files on
    parquet row-group min/max stats. Run it per partition after
    compaction; frequency amortizes against scan savings.
    """
    stats = df.agg(
        F.min(cols[0]).alias("lo0"), F.max(cols[0]).alias("hi0"),
        F.min(cols[1]).alias("lo1"), F.max(cols[1]).alias("hi1"),
    ).first()

    def scaled(c: str, lo, hi):
        span = max(int(hi) - int(lo), 0) + 1
        return F.floor((F.col(c).cast("long") - int(lo)) * (1 << bits) / span)

    z = zorder_key(
        scaled(cols[0], stats["lo0"], stats["hi0"]),
        scaled(cols[1], stats["lo1"], stats["hi1"]),
        bits,
    )
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def zone_maps(path: str, columns: list[str] | None = None) -> list[dict]:
    """Per-file min/max column statistics from parquet FOOTERS — the zone
    maps query engines use for file skipping, read with pyarrow and zero
    Spark jobs.

    Returns [{file, n_rows, stats: {col: (min, max)}}] for every data
    file under ``path`` (recursive, so partitioned lakes work). Columns
    without footer statistics are omitted from ``stats``. This is the
    observability half of cluster_by_zorder: run it before and after
    clustering to SEE the span tightening that makes skipping effective.

    Scale: footer reads are O(files) metadata fetches — the same listing
    a table format's manifest covers; at object-store scale you'd batch
    them, but no row data is ever read.
    """
    import glob as _glob

    import pyarrow.parquet as pq

    out: list[dict] = []
    for f in sorted(
        _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    ):
        md = pq.read_metadata(f)
        names = md.schema.names
        cols = [c for c in (columns or names) if c in names]
        stats: dict = {}
        for col in cols:
            idx = names.index(col)
            mins, maxs = [], []
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                if st is None or not st.has_min_max:
                    mins = []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if mins:
                stats[col] = (min(mins), max(maxs))
        out.append({"file": f, "n_rows": md.num_rows, "stats": stats})
    return out


def files_skipped_by_range(path: str, column: str, lo, hi) -> dict:
    """How much of the table a ``column BETWEEN lo AND hi`` predicate can
    skip on footer stats alone: a file is skippable iff its zone map is
    disjoint from [lo, hi].

    Returns {n_files, n_skippable, rows_total, rows_skippable,
    skip_fraction}. The effectiveness meter for layout decisions —
    cluster_by_zorder / sort-on-write exist precisely to push
    skip_fraction toward 1 for the predicates a workload actually runs.
    """
    maps = zone_maps(path, [column])
    n_files = len(maps)
    n_skip = rows_total = rows_skip = 0
    for m in maps:
        rows_total += m["n_rows"]
        if column not in m["stats"]:
            continue  # no stats -> must read
        mn, mx = m["stats"][column]
        # r3 advisor: comparing a bound of the wrong type against footer
        # stats (float vs str, str vs date, ...) either raises deep inside
        # the loop or silently mis-compares — surface a usable error.
        try:
            skip = mx < lo or mn > hi
        except TypeError as exc:
            raise TypeError(
                f"column '{column}' has {type(mn).__name__} footer stats but the "
                f"range bounds are {type(lo).__name__} — pass bounds of the "
                f"column's own type (e.g. a string for string columns)"
            ) from exc
        if skip:
            n_skip += 1
            rows_skip += m["n_rows"]
    return {
        "n_files": n_files,
        "n_skippable": n_skip,
        "rows_total": rows_total,
        "rows_skippable": rows_skip,
        "skip_fraction": round(n_skip / n_files, 4) if n_files else 0.0,
    }


def plan_backfill(
    path: str,
    partition_cols: list[str],
    start: str,
    end: str,
    date_to_partition=None,
) -> list[dict]:
    """Backfill planner: diff the DAILY partitions a lake SHOULD hold over
    ``[start, end]`` (inclusive ISO dates) against what exists on disk,
    and return one dict per expected day — ``{date, partition, status,
    n_files}`` with status ``present`` (has data files), ``empty``
    (directory exists but holds no data files — a crashed write), or
    ``missing``. The operational complement of expire_partitions: that
    one retires old partitions, this one tells a scheduler exactly which
    ingest runs to replay after an outage. Pure directory metadata — no
    Spark jobs, cost proportional to the day count.

    ``date_to_partition`` maps an ISO date to the relative partition dir;
    the default handles the two layouts this engine writes: one column
    (``date=YYYY-MM-DD``) and the Firehose-style three columns
    (``year=YYYY/month=MM/day=DD``, streaming/ingest.py).
    """
    from datetime import date, timedelta

    if date_to_partition is None:
        if len(partition_cols) == 1:

            def date_to_partition(d: str) -> str:
                return f"{partition_cols[0]}={d}"

        elif len(partition_cols) == 3:

            def date_to_partition(d: str) -> str:
                y, m, dd = d.split("-")
                return (
                    f"{partition_cols[0]}={y}/{partition_cols[1]}={m}/"
                    f"{partition_cols[2]}={dd}"
                )

        else:
            raise ValueError(
                "default layout supports 1 (date=) or 3 (y/m/d) partition "
                f"columns, got {len(partition_cols)}; pass date_to_partition"
            )

    def _n_data_files(p: str) -> int:
        if not os.path.isdir(p):
            return -1  # missing
        return sum(
            1
            for root, _dirs, files in os.walk(p)
            for f in files
            if not f.startswith((".", "_"))
        )

    d0 = date.fromisoformat(start)
    d1 = date.fromisoformat(end)
    if d1 < d0:
        raise ValueError(f"end {end} before start {start}")
    plan = []
    cur = d0
    while cur <= d1:
        rel = date_to_partition(cur.isoformat())
        n = _n_data_files(os.path.join(path, rel))
        plan.append(
            {
                "date": cur.isoformat(),
                "partition": rel,
                "status": "missing" if n < 0 else ("empty" if n == 0 else "present"),
                "n_files": max(n, 0),
            }
        )
        cur += timedelta(days=1)
    return plan
