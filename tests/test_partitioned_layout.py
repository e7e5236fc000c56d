"""Date-partitioned fact layout: pruning is visible in the plan, skips
excluded directories at planning time, and never changes results.

The 100 TB claim being pinned: a time-range query over a partitioned
fact touches only the matching date directories (PartitionFilters), so
a 3-day query over a multi-year table reads ~0.3% of the bytes —
partitioning is purely a storage-layout choice and results are
identical to the unpartitioned scan.
"""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from db_loader_spark.sinks.ddl import pruned_time_filter, write_partitioned
from db_loader_spark.tables import load_table

START, END = "2024-01-10", "2024-01-13"


def _fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def part_events(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("layout") / "events_by_date")
    e = load_table(spark, sf_dir, "events")
    write_partitioned(e, path, F.to_date("ts"), "event_date")
    return path


def test_partition_filters_in_plan(spark, part_events):
    df = spark.read.parquet(part_events)
    plan = _fmt(
        pruned_time_filter(df, "ts", START, END).groupBy("event_type").count()
    )
    assert "PartitionFilters" in plan
    pf = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "event_date" in pf  # bounds on the partition column made it in
    assert "[]" not in pf.replace(" ", "")


def test_pruning_skips_excluded_directories(spark, sf_dir, tmp_path):
    """Behavioral proof, not just plan text: poison a partition outside
    the queried range with a non-parquet file. The full scan dies on it;
    the pruned scan never lists that directory and succeeds."""
    path = str(tmp_path / "events_poison")
    write_partitioned(
        load_table(spark, sf_dir, "events"), path, F.to_date("ts"), "event_date"
    )
    poison_dir = os.path.join(path, "event_date=2024-01-25")
    assert os.path.isdir(poison_dir)  # testdata spans all of Jan 2024
    with open(os.path.join(poison_dir, "garbage.parquet"), "w") as fh:
        fh.write("this is not parquet")

    df = spark.read.parquet(path)
    pruned = pruned_time_filter(df, "ts", START, END)
    n = pruned.count()  # succeeds: 2024-01-25 dir never read
    assert n > 0
    with pytest.raises(Exception):
        df.groupBy("event_type").count().collect()  # full scan hits the poison


def test_partitioning_preserves_results(spark, sf_dir, part_events):
    plain = load_table(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit(START)) & (F.col("ts") < F.lit(END))
    )
    pruned = pruned_time_filter(spark.read.parquet(part_events), "ts", START, END)
    a = {
        (r["event_type"], r["n"])
        for r in plain.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    b = {
        (r["event_type"], r["n"])
        for r in pruned.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert a == b and a


def test_one_file_per_partition(spark, part_events):
    """Small-file discipline: repartition-before-write collapses each
    date dir to a single parquet file."""
    df = spark.read.parquet(part_events)
    files = df.select(F.input_file_name().alias("f")).distinct().collect()
    dirs = {r["f"].rsplit("/", 2)[1] for r in files}
    assert len(files) == len(dirs) == 30  # one file per event_date=... dir


def test_compact_parquet_reduces_files(spark, sf_dir, tmp_path):
    """Compaction: a deliberately shattered table (64 tiny files)
    rewrites to the byte-derived target count with identical contents."""
    from db_loader_spark.sinks.ddl import compact_parquet

    src = str(tmp_path / "shattered")
    dst = str(tmp_path / "compacted")
    e = load_table(spark, sf_dir, "events")
    e.repartition(64).write.parquet(src)
    n_src_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_src_files >= 32  # genuinely shattered

    n = compact_parquet(spark, src, dst, target_mb=128)
    out = spark.read.parquet(dst)
    n_dst_files = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    assert n_dst_files == n <= 2  # sf0.001 events ≪ 128 MB → one file
    assert out.count() == e.count()
    a = {tuple(r) for r in e.select("event_id", "user_id").collect()}
    b = {tuple(r) for r in out.select("event_id", "user_id").collect()}
    assert a == b


def test_compact_parquet_preserves_partitions(spark, sf_dir, tmp_path, part_events):
    """Partition-aware compaction keeps the hive layout, one file per
    date dir, and identical slice results."""
    from db_loader_spark.sinks.ddl import compact_parquet

    dst = str(tmp_path / "compacted_by_date")
    compact_parquet(spark, part_events, dst, part_col="event_date")
    out = spark.read.parquet(dst)
    files = out.select(F.input_file_name().alias("f")).distinct().collect()
    dirs = {r["f"].rsplit("/", 2)[1] for r in files}
    assert len(files) == len(dirs) == 30
    a = pruned_time_filter(out, "ts", START, END).count()
    b = pruned_time_filter(spark.read.parquet(part_events), "ts", START, END).count()
    assert a == b > 0


def test_compact_parquet_splits_oversized_partition(spark, tmp_path):
    """target_mb governs INSIDE a hive layout too: a partition larger
    than the target splits across ceil(bytes/target) salted files while
    small partitions still compact to one (ADVICE r4: the part_col
    branch used to ignore target_mb entirely)."""
    from db_loader_spark.sinks.ddl import compact_parquet

    src = str(tmp_path / "skewed_src")
    dst = str(tmp_path / "skewed_dst")
    big = spark.range(200_000).select(
        F.col("id"),
        F.lit("hot").alias("day"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    small = spark.range(200_000, 200_100).select(
        F.col("id"), F.lit("cold").alias("day"), F.lit("x").alias("payload")
    )
    big.unionByName(small).write.partitionBy("day").parquet(src)

    n = compact_parquet(spark, src, dst, target_mb=1, part_col="day")
    out = spark.read.parquet(dst)

    def files_in(day: str) -> int:
        d = os.path.join(dst, f"day={day}")
        return len([f for f in os.listdir(d) if f.endswith(".parquet")])

    assert files_in("hot") >= 2  # oversized partition genuinely split
    assert files_in("cold") == 1
    # n is the TARGET; actual ≤ n (salt groups sharing a task merge)
    assert files_in("hot") + files_in("cold") <= n
    assert out.count() == 200_100
    assert out.groupBy("day").count().where("day = 'hot'").first()["count"] == 200_000


def test_write_sorted_rowgroup_stats_are_disjoint(spark, sf_dir, tmp_path):
    """The clustering contract, read straight from the parquet footers:
    after write_sorted, row-group min/max ranges on the sort column are
    non-overlapping (each group covers a narrow slice — selective
    predicates skip the rest); the unsorted layout's groups all span
    ~the full domain and can never skip. Results identical."""
    import glob

    import pyarrow.parquet as pq

    from db_loader_spark.sinks.ddl import write_sorted

    # sf0.1 + 128 KB groups: the smaller tables fit one row group,
    # which can't demonstrate multi-group clustering
    e = load_table(spark, "/root/testdata/sf0.1", "events").select(
        "event_id", "user_id", "value"
    )
    s_path, u_path = str(tmp_path / "sorted"), str(tmp_path / "unsorted")
    write_sorted(e, s_path, "user_id", row_group_bytes=128 * 1024)
    e.write.option("parquet.block.size", 128 * 1024).parquet(u_path)

    def ranges(path):
        out = []
        for f in sorted(glob.glob(path + "/*.parquet")):
            md = pq.ParquetFile(f).metadata
            for g in range(md.num_row_groups):
                col = next(
                    md.row_group(g).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(g).column(i).path_in_schema == "user_id"
                )
                out.append((col.statistics.min, col.statistics.max))
        return out

    sr = sorted(ranges(s_path))
    assert len(sr) >= 3  # genuinely multiple row groups
    # disjoint (allow shared boundary value where a user spans groups)
    assert all(a[1] <= b[0] for a, b in zip(sr, sr[1:]))
    ur = ranges(u_path)
    domain = max(m for _, m in ur) - min(m for m, _ in ur)
    # unsorted groups each span (almost) the whole domain
    assert all((mx - mn) > 0.8 * domain for mn, mx in ur)
    # identical contents
    assert (
        spark.read.parquet(s_path).orderBy("event_id").collect()
        == spark.read.parquet(u_path).orderBy("event_id").collect()
    )


def test_compact_partitions_if_needed_touches_only_debris(spark, tmp_path):
    """The incremental maintenance loop: only the partition whose file
    count exceeds the threshold is rewritten; the healthy partition's
    files are byte-for-byte untouched (same names, same mtimes), and
    contents are preserved everywhere."""
    import os

    from db_loader_spark.sinks.ddl import compact_partitions_if_needed

    root = str(tmp_path / "layout")
    healthy = spark.range(1000).select(F.lit("a").alias("day"), F.col("id"))
    debris = spark.range(1000, 3000).select(F.lit("b").alias("day"), F.col("id"))
    healthy.coalesce(1).write.partitionBy("day").parquet(root)
    debris.repartition(20).write.mode("append").partitionBy("day").parquet(root)

    def snapshot(day):
        d = os.path.join(root, f"day={day}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_a, before_b = snapshot("a"), snapshot("b")
    assert len(before_b) >= 16  # genuinely shattered

    done = compact_partitions_if_needed(spark, root, "day", max_files=8)
    assert done == ["b"]
    assert snapshot("a") == before_a  # healthy partition untouched
    after_b = snapshot("b")
    assert len(after_b) == 1  # debris compacted to the byte-derived count
    out = spark.read.parquet(root)
    assert out.count() == 3000
    assert out.filter(F.col("day") == "b").count() == 2000
    # idempotent: a second pass finds nothing to do
    assert compact_partitions_if_needed(spark, root, "day", max_files=8) == []


def test_compact_crash_residue_is_invisible_and_recovered(spark, tmp_path):
    """Crash-safety of the compaction swap: residue lives only under the
    dot-prefixed .compact staging dir, so (1) partition discovery never
    parses it as a real partition (no resurrected duplicates, no
    corrupted partition values), and (2) the next invocation restores a
    partition whose swap was interrupted mid-way."""
    import os
    import shutil

    from db_loader_spark.sinks.ddl import compact_partitions_if_needed

    root = str(tmp_path / "layout")
    a = spark.range(2000).select(F.lit("a").alias("day"), F.col("id"))
    b = spark.range(2000, 2500).select(F.lit("b").alias("day"), F.col("id"))
    a.repartition(20).write.partitionBy("day").parquet(root)
    b.coalesce(1).write.mode("append").partitionBy("day").parquet(root)

    # Simulate the worst crash window: old moved aside, new not yet in
    # place — day=a is absent and residue sits in .compact.
    staging = os.path.join(root, ".compact")
    os.makedirs(staging)
    pdir = os.path.join(root, "day=a")
    os.rename(pdir, os.path.join(staging, "day=a.old"))
    shutil.copytree(
        os.path.join(staging, "day=a.old"), os.path.join(staging, "day=a.tmp")
    )

    # (1) discovery ignores the residue entirely: no phantom partitions,
    # no duplicate rows — only the healthy day=b is visible
    mid = spark.read.parquet(root)
    assert mid.count() == 500
    assert [r[0] for r in mid.select("day").distinct().collect()] == ["b"]

    # (2) recovery restores the moved-aside partition, then compacts it
    done = compact_partitions_if_needed(spark, root, "day", max_files=8)
    assert done == ["a"]
    assert not os.path.exists(staging)
    out = spark.read.parquet(root)
    assert out.count() == 2500
    assert out.filter(F.col("day") == "a").count() == 2000


def test_cache_tracking_is_thread_local(spark):
    """A concurrent wrapper's drain must not steal another thread's
    tracked frames: each thread sees only its own registry."""
    import threading

    from db_loader_spark import cache

    cache.release()
    main_frame = cache.track(spark.range(10))
    assert len(cache._tracked()) == 1
    seen = {}

    def other():
        seen["before"] = len(cache._tracked())
        cache.track(spark.range(5))
        seen["drained"] = len(cache.drain())

    t = threading.Thread(target=other)
    t.start()
    t.join()
    assert seen == {"before": 0, "drained": 1}
    # main thread's frame survived the other thread's drain
    assert cache._tracked() == [main_frame]
    assert cache.release() == 1


def test_write_partitioned_files_per_partition(spark, sf_dir, tmp_path):
    """The skewed-ingest escape hatch: files_per_partition=k spreads a
    partition over up to k salted writer tasks/files instead of
    serializing it into one."""
    path = str(tmp_path / "salted_layout")
    e = load_table(spark, sf_dir, "events")
    write_partitioned(e, path, F.to_date("ts"), "event_date", files_per_partition=3)
    out = spark.read.parquet(path)
    per_dir: dict[str, int] = {}
    for r in out.select(F.input_file_name().alias("f")).distinct().collect():
        d = r["f"].rsplit("/", 2)[1]
        per_dir[d] = per_dir.get(d, 0) + 1
    assert max(per_dir.values()) <= 3
    assert max(per_dir.values()) >= 2  # some day actually fanned out
    assert out.count() == e.count()


def test_dynamic_partition_pruning_fires_on_dim_join(spark, sf_dir, part_events):
    """Join-driven pruning over the partitioned layout: a star query
    whose selective predicate lives on the DIMENSION still prunes the
    fact's date directories — the scan carries a runtime
    dynamicpruningexpression PartitionFilter, and results equal the
    literal-bound pruned filter. This is what a literal-only partition
    layout can't do and a 100x scale-up needs."""
    from db_loader_spark.sinks.ddl import slice_tag_dim

    fact = spark.read.parquet(part_events)
    dim = slice_tag_dim(
        fact,
        F.col("event_date"),
        "event_date",
        (F.col("event_date") >= F.lit(START)) & (F.col("event_date") < F.lit(END)),
    )
    joined = (
        fact.join(dim.filter(F.col("tag") == "pick"), "event_date")
        .groupBy("event_type")
        .agg(F.round(F.sum("value"), 2).alias("v"))
    )
    plan = _fmt(joined)
    assert "dynamicpruning" in plan.lower(), plan
    static = (
        fact.filter((F.col("event_date") >= F.lit(START)) & (F.col("event_date") < F.lit(END)))
        .groupBy("event_type")
        .agg(F.round(F.sum("value"), 2).alias("v"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, static.collect()))


def test_bloom_runtime_filter_semi_filters_shuffle_join(spark, sf_dir):
    """Runtime bloom filter on a forced shuffle join: the selective dim
    predicate semi-filters the fact side BEFORE its exchange
    (might_contain appears on the fact scan's filter), and results are
    unchanged with the filter disabled. The shuffle-volume reducer for
    fact-to-dim joins too big to broadcast."""
    from db_loader_spark.session import scoped_conf
    from db_loader_spark.sinks.ddl import slice_tag_dim

    ev = load_table(spark, sf_dir, "events")
    dim = slice_tag_dim(ev, F.col("user_id"), "user_id", F.col("user_id") % 20 == 0)
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }

    def pick_join():
        return (
            ev.join(dim.filter(F.col("tag") == "pick"), "user_id")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )

    with scoped_conf(spark, confs):
        joined = pick_join()
        plan = _fmt(joined)
        assert "might_contain" in plan, plan
        with_bloom = sorted(map(tuple, joined.collect()))
        bloom_off = {"spark.sql.optimizer.runtime.bloomFilter.enabled": "false"}
        with scoped_conf(spark, bloom_off):
            joined_off = pick_join()
            plan_off = _fmt(joined_off)
            assert "might_contain" not in plan_off
            assert sorted(map(tuple, joined_off.collect())) == with_bloom


def test_write_zordered_tightens_both_dimensions(spark, tmp_path):
    """The 2-D clustering contract, read from the parquet footers: after
    write_zordered(user_id, value) every row group covers a small
    rectangle — average min/max coverage shrinks on BOTH columns —
    while the 1-D user_id sort leaves value spanning ~the full domain
    in every group (its stats can never skip). Contents identical."""
    import glob

    import pyarrow.parquet as pq

    from db_loader_spark.sinks.ddl import write_sorted, write_zordered

    e = load_table(spark, "/root/testdata/sf0.1", "events").select(
        "event_id", "user_id", "value"
    )
    z_path, s_path = str(tmp_path / "zordered"), str(tmp_path / "sorted1d")
    write_zordered(e, z_path, "user_id", "value", row_group_bytes=128 * 1024)
    write_sorted(e, s_path, "user_id", row_group_bytes=128 * 1024)

    def avg_coverage(path, col):
        spans = []
        for f in sorted(glob.glob(path + "/*.parquet")):
            md = pq.ParquetFile(f).metadata
            idx = next(
                i
                for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                spans.append((float(st.min), float(st.max)))
        lo = min(s[0] for s in spans)
        hi = max(s[1] for s in spans)
        return sum(s[1] - s[0] for s in spans) / len(spans) / ((hi - lo) or 1), len(
            spans
        )

    z_user, nz = avg_coverage(z_path, "user_id")
    z_val, _ = avg_coverage(z_path, "value")
    s_user, ns = avg_coverage(s_path, "user_id")
    s_val, _ = avg_coverage(s_path, "value")
    assert nz >= 3 and ns >= 3  # genuinely multiple row groups
    # Z-curve: BOTH dimensions well under half the domain per group
    # (measured ~0.22-0.27 at sf0.1)
    assert z_user < 0.5 and z_val < 0.5, (z_user, z_val)
    # 1-D sort: tightest possible on its own column, blind on the other
    assert s_user < z_user
    assert s_val > 0.6, s_val
    assert (
        spark.read.parquet(z_path).orderBy("event_id").collect()
        == spark.read.parquet(s_path).orderBy("event_id").collect()
    )
