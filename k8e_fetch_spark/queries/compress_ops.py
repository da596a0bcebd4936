"""Queries for the reference's Compress stage + projection/repair ops.

Models the dimensional decomposition of /root/reference/bin/fetcher.bash:124-169
(cfg /root/reference/bin/cfg.yaml:11-54) on the synthetic star schema:
``lineitem``/``orders`` play the wide fact snapshots, ``customer``/``supplier``
play the two heterogeneous sources feeding one shared component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from k8e_fetch_spark.io import load
from k8e_fetch_spark.operators.dedup import distinct_component, insert_ignore, multi_source_union
from k8e_fetch_spark.operators.projection import add_column, schema_clone
from k8e_fetch_spark.operators.repair import normalize_headers, quote_repair, quote_repair_sql
from k8e_fetch_spark.queries.registry import register


@register(
    "compress_distinct_status",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    tags=("op-distinct", "op-project"),
)
def compress_distinct_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-distinct + op-project: the Compress core — distinct projection
    of a status dimension out of the fact table (SELECT DISTINCT,
    fetcher.bash:159). Flagship minimum slice."""
    return distinct_component(load(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"])


@register(
    "compress_component_union",
    oracle="""
        SELECT DISTINCT c_name AS entity_name,
                        c_nationkey AS nation_key,
                        c_mktsegment AS segment,
                        'NA' AS cancellation_dt
        FROM customer
        UNION
        SELECT DISTINCT s_name, s_nationkey, 'NA', 'NA' FROM supplier
    """,
    tags=("op-multi-source-union", "op-rename", "op-const-default", "op-distinct"),
)
def compress_component_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-multi-source-union: two differently-shaped sources fill one
    component via subst (rename + constant default), like vr_snapshot_*
    and ncvoter_statewide both feeding c_voter (cfg.yaml:12-54)."""
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    columns = ["entity_name", "nation_key", "segment", "cancellation_dt"]
    return multi_source_union(
        [
            (
                customer,
                {
                    "entity_name": F.col("c_name"),
                    "nation_key": F.col("c_nationkey"),
                    "segment": F.col("c_mktsegment"),
                    "cancellation_dt": F.lit("NA"),
                },
            ),
            (
                supplier,
                {
                    "entity_name": F.col("s_name"),
                    "nation_key": F.col("s_nationkey"),
                    "segment": F.lit("NA"),
                    "cancellation_dt": F.lit("NA"),
                },
            ),
        ],
        columns,
    )


@register(
    "compress_concat_expr",
    oracle="""
        SELECT DISTINCT p_brand || p_type AS brand_type, p_size AS part_size
        FROM part
    """,
    tags=("op-concat-expr", "op-distinct"),
)
def compress_concat_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-concat-expr: string-concat substitution in the projection, like
    ``area_cd||phone_num as full_phone_number`` (cfg.yaml:26-27)."""
    part = load(spark, sf_dir, "part")
    return distinct_component(
        part,
        ["brand_type", "part_size"],
        {
            "brand_type": F.concat(F.col("p_brand"), F.col("p_type")),
            "part_size": F.col("p_size"),
        },
    )


@register(
    "compress_insert_ignore",
    oracle="SELECT DISTINCT p_brand AS brand, p_type AS type_name FROM part",
    tags=("op-insert-ignore", "op-unique-index"),
)
def compress_insert_ignore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-insert-ignore: idempotent merge. Seed the component from a
    subset (p_size < 25), then INSERT-OR-IGNORE the full table; the
    merged result must equal plain SELECT DISTINCT over everything
    (uniqueness enforced by the left-anti join, cf. the unique index at
    fetcher.bash:158)."""
    part = load(spark, sf_dir, "part")
    subst = {"brand": F.col("p_brand"), "type_name": F.col("p_type")}
    existing = distinct_component(part.filter(F.col("p_size") < 25), ["brand", "type_name"], subst)
    incoming = distinct_component(part, ["brand", "type_name"], subst)
    return insert_ignore(existing, incoming)


@register(
    "compress_schema_clone",
    oracle="""
        SELECT c_name AS entity_name, c_nationkey AS nation_key FROM customer WHERE FALSE
    """,
    tags=("op-schema-clone",),
)
def compress_schema_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-schema-clone: ``CREATE TABLE … AS SELECT <cols> LIMIT 0``
    (fetcher.bash:157) — schema-only, zero rows."""
    customer = load(spark, sf_dir, "customer")
    return schema_clone(
        customer,
        ["entity_name", "nation_key"],
        {"entity_name": F.col("c_name"), "nation_key": F.col("c_nationkey")},
    )


@register(
    "compress_add_column",
    oracle="""
        SELECT o_orderkey, o_orderstatus, CAST(NULL AS VARCHAR) AS priority
        FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01'
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_orderpriority AS priority
        FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    """,
    tags=("op-add-column",),
)
def compress_add_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-add-column: schema evolution across file vintages — the older
    vintage lacks a column; ``ALTER TABLE … ADD COLUMN`` equivalent
    (fetcher.bash:103) aligns it before the union."""
    orders = load(spark, sf_dir, "orders")
    cutoff = F.lit("1995-01-01").cast("timestamp")
    old_vintage = orders.filter(F.col("o_orderdate") < cutoff).select("o_orderkey", "o_orderstatus")
    new_vintage = orders.filter(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", "o_orderstatus", F.col("o_orderpriority").alias("priority")
    )
    return add_column(old_vintage, "priority").unionByName(new_vintage)


_NICKNAME_RAW_SQL = "'JOHN \"' || c_name || '\" SMITH'"
_CAPS_RAW_SQL = "'O\"' || upper(c_name)"
_REPAIR_ORACLE = (
    "SELECT c_custkey, "
    + quote_repair_sql(_NICKNAME_RAW_SQL)
    + " AS nickname_fixed, "
    + quote_repair_sql(_CAPS_RAW_SQL)
    + " AS caps_fixed FROM customer"
)


@register(
    "repair_quote_malformed",
    oracle=_REPAIR_ORACLE,
    tags=("op-quote-repair",),
)
def repair_quote_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-quote-repair: the two sed repairs from bin/quotequote:3-4 as a
    JVM-side regexp_replace chain, applied to synthesized pathological
    strings (nickname quotes; stray quote between capitals)."""
    customer = load(spark, sf_dir, "customer")
    nickname_raw = F.concat(F.lit('JOHN "'), F.col("c_name"), F.lit('" SMITH'))
    caps_raw = F.concat(F.lit('O"'), F.upper(F.col("c_name")))
    return customer.select(
        "c_custkey",
        quote_repair(nickname_raw).alias("nickname_fixed"),
        quote_repair(caps_raw).alias("caps_fixed"),
    )


@register(
    "repair_header_norm",
    oracle="SELECT doc_id, lang, n_chars FROM documents",
    tags=("op-header-norm", "op-lower-tablename"),
)
def repair_header_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-header-norm: spaced/uppercase headers normalized to
    lower_snake (quotequote:5-6, header_fix:1-2). Simulated by renaming
    to the pathological form then normalizing back — a metadata-only op."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    pathological = docs.toDF("Doc Id", "LANG", "N Chars")
    return normalize_headers(pathological)


@register(
    "compress_insert_ignore_tx",
    # The oracle is the PLAIN relational answer — two overlapping batch
    # definitions merged with set semantics. The declared side computes
    # it through the full transactional machinery (two snapshot merges,
    # a torn third write, a vacuum); equality proves readers resolved
    # the published pointer and never the orphan (whose poison rows
    # would hash-fail loudly).
    oracle="""
        SELECT DISTINCT o_custkey AS cust_key, o_orderstatus AS status
        FROM orders WHERE o_orderkey % 4 IN (0, 1)
        UNION
        SELECT DISTINCT o_custkey AS cust_key, o_orderstatus AS status
        FROM orders WHERE o_orderkey % 4 IN (1, 2)
    """,
    tags=("op-insert-ignore", "op-table-sink", "transactional"),
)
def compress_insert_ignore_tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-insert-ignore, TRANSACTIONAL form (VERDICT r10 #4): the
    reference's one transactional behavior — ``INSERT OR IGNORE`` into
    SQLite, which is atomic per statement (fetcher.bash:157-159) —
    re-expressed with the snapshot-pointer table (plans/snapshots.py):
    every merge writes a complete new snapshot and atomically flips a
    ``_CURRENT`` pointer; a crash mid-write leaves an orphan directory,
    never a torn table.

    The declared scenario runs the whole lifecycle against a fresh
    ephemeral table dir (mkdtemp + atexit cleanup — the same pattern
    the real-stream queries use for their sinks; nothing persists
    across sessions):

    1. merge batch A (orders o_orderkey%4 in {0,1} -> distinct
       (cust_key, status)) -> snap-000001 published;
    2. merge overlapping batch B (%4 in {1,2}) -> snap-000002
       published (the left-anti keeps A∪B set semantics);
    3. SIMULATED TORN WRITE: a snap-000003 directory appears with
       fully-written POISON rows (status='TORN', cust_key=-1..-5) but
       the writer "crashes" BEFORE the pointer flip;
    4. ``vacuum(keep=1)`` removes both the superseded snap-000001 and
       the higher-numbered orphan (the keep window is anchored at the
       LIVE snapshot, not the lexical max — the crash-orphan hazard
       its docstring records);
    5. the declared output is ``read_table`` — resolved through the
       pointer.

    The oracle is plain ``SELECT DISTINCT … UNION …``: if any reader
    step had observed the orphan, five TORN rows would appear and the
    driver hash would fail. Scale: each merge is one keyed left-anti
    shuffle + a full rewrite of a dimension-sized component table —
    the snapshot pattern's documented cost, with Delta/Iceberg as the
    manifest-based drop-in once tables outgrow it."""
    import atexit
    import shutil
    import tempfile

    from k8e_fetch_spark.plans import snapshots as snap

    orders = load(spark, sf_dir, "orders")

    def batch(mods):
        return (
            orders.filter((F.col("o_orderkey") % 4).isin(*mods))
            .select(
                F.col("o_custkey").alias("cust_key"),
                F.col("o_orderstatus").alias("status"),
            )
            .distinct()
        )

    table_dir = tempfile.mkdtemp(prefix="k8e_tx_table_")
    atexit.register(shutil.rmtree, table_dir, ignore_errors=True)
    snap.merge_insert_ignore(spark, table_dir, batch([0, 1]))
    live = snap.merge_insert_ignore(spark, table_dir, batch([1, 2]))
    # torn write: a complete-looking snapshot directory whose writer
    # died before the pointer flip — the pointer still names `live`
    poison = spark.createDataFrame(
        [(-i, "TORN") for i in range(1, 6)], "cust_key bigint, status string"
    )
    poison.write.mode("overwrite").parquet(f"{table_dir}/snap-000003")
    assert snap.current_snapshot(table_dir) == live  # crash != publish
    removed = snap.vacuum(table_dir, keep=1)
    assert "snap-000003" in removed and "snap-000001" in removed
    return snap.read_table(spark, table_dir)


@register(
    "compress_insert_ignore_manifest",
    # Same oracle CLASS as compress_insert_ignore_tx: the plain
    # relational answer to three overlapping batch merges. The declared
    # side computes it through the INCREMENTAL manifest machinery —
    # per-merge delta writes, a torn delta + torn manifest, a
    # checkpoint rewrite, a vacuum — so hash equality proves the
    # incremental path's readers resolve only published manifests and
    # the checkpoint/vacuum cycle is content-preserving.
    oracle="""
        SELECT DISTINCT o_custkey AS cust_key, o_orderstatus AS status
        FROM orders WHERE o_orderkey % 6 IN (0, 1)
        UNION
        SELECT DISTINCT o_custkey AS cust_key, o_orderstatus AS status
        FROM orders WHERE o_orderkey % 6 IN (1, 2)
        UNION
        SELECT DISTINCT o_custkey AS cust_key, o_orderstatus AS status
        FROM orders WHERE o_orderkey % 6 IN (2, 3)
    """,
    tags=("op-insert-ignore", "op-table-sink", "transactional", "manifest"),
)
def compress_insert_ignore_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-insert-ignore, INCREMENTAL manifest form (r12): the snapshot-
    pointer table (compress_insert_ignore_tx) rewrites the FULL table
    per merge — the honest cost this form removes. A manifest table's
    merge writes ONLY ``new ∖ current`` as a delta directory plus a
    small JSON manifest naming every live directory; the atomic
    pointer flip is unchanged. Write volume per merge drops from
    O(table) to O(delta) — at 100 TB this is the difference between a
    table you can merge into hourly and one you cannot; it is exactly
    the file-manifest mechanism Delta/Iceberg generalize
    (plans/snapshots.py:merge_insert_ignore_incremental).

    Declared lifecycle against an ephemeral dir (mkdtemp + atexit, the
    tx query's pattern):

    1. three OVERLAPPING batches merge incrementally (o_orderkey%6
       selectors {0,1}/{1,2}/{2,3} — each delta is a proper subset of
       its batch, so the anti-join is doing real work);
    2. an idempotency probe re-merges batch 2 (a fully-contained
       batch publishes NOTHING — asserted on the manifest name);
    3. SIMULATED TORN WRITE: a complete-looking poison delta AND a
       torn higher-numbered manifest appear, pointer never flipped;
    4. ``checkpoint`` rewrites the live set into one base dir
       (coalesce — narrow, the compaction path) and ``vacuum_manifest``
       reclaims the superseded deltas AND the torn garbage;
    5. the declared output reads through the final manifest.

    The oracle is the plain three-way DISTINCT UNION: poison rows or a
    content-mangling checkpoint hash-fail loudly."""
    import atexit
    import shutil
    import tempfile
    from pathlib import Path

    from k8e_fetch_spark.plans import snapshots as snap

    orders = load(spark, sf_dir, "orders")

    def batch(mods):
        return (
            orders.filter((F.col("o_orderkey") % 6).isin(*mods))
            .select(
                F.col("o_custkey").alias("cust_key"),
                F.col("o_orderstatus").alias("status"),
            )
            .distinct()
        )

    table_dir = tempfile.mkdtemp(prefix="k8e_manifest_table_")
    atexit.register(shutil.rmtree, table_dir, ignore_errors=True)
    snap.merge_insert_ignore_incremental(spark, table_dir, batch([0, 1]))
    m2 = snap.merge_insert_ignore_incremental(spark, table_dir, batch([1, 2]))
    m3 = snap.merge_insert_ignore_incremental(spark, table_dir, batch([2, 3]))
    # idempotency: a contained batch publishes nothing
    assert snap.merge_insert_ignore_incremental(spark, table_dir, batch([1, 2])) == m3
    # torn write: poison delta + torn manifest, pointer still names m3
    poison = spark.createDataFrame(
        [(-i, "TORN") for i in range(1, 6)], "cust_key bigint, status string"
    )
    poison.write.parquet(f"{table_dir}/delta-000099")
    Path(f"{table_dir}/manifest-000099.json").write_text('{"dirs": ["delta-000099"]}')
    assert snap.current_manifest(table_dir) == m3  # crash != publish
    snap.checkpoint(spark, table_dir, n_files=1)
    removed = snap.vacuum_manifest(table_dir)
    assert "delta-000099" in removed and "manifest-000099.json" in removed
    assert m2 in removed
    return snap.read_manifest_table(spark, table_dir)


@register(
    "compress_insert_ignore_occ",
    # Same oracle CLASS as the tx/manifest forms: the plain relational
    # answer to three overlapping batch merges (%7 selectors so this
    # row's content is distinct from its siblings'). The declared side
    # computes it through the OCC commit protocol — version-claim CAS,
    # a rejected stale commit, checkpoint, vacuum — so hash equality
    # proves the concurrent-writer path is content-preserving.
    oracle="""
        SELECT DISTINCT o_custkey AS cust_key, o_orderstatus AS status
        FROM orders WHERE o_orderkey % 7 IN (0, 1)
        UNION
        SELECT DISTINCT o_custkey AS cust_key, o_orderstatus AS status
        FROM orders WHERE o_orderkey % 7 IN (1, 2)
        UNION
        SELECT DISTINCT o_custkey AS cust_key, o_orderstatus AS status
        FROM orders WHERE o_orderkey % 7 IN (2, 3)
    """,
    tags=("op-insert-ignore", "op-table-sink", "transactional", "occ"),
)
def compress_insert_ignore_occ(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op-insert-ignore under CONCURRENT writers (r13): the manifest
    table's one remaining single-writer assumption removed. Two racing
    merges on the pointer protocol can compute the same next version —
    the second delta write clobbers the first's data directory and
    last-pointer-wins drops a committed merge. The OCC form
    (plans/snapshots.py:merge_insert_ignore_occ) makes the VERSION
    NUMBER the compare-and-swap token: a commit claims
    ``manifest-{N+1}`` atomically (os.link from a fully-written temp —
    the conditional-PUT / catalog-CAS move Delta-on-S3 and Iceberg
    use), delta dirs carry writer-unique names, and a lost race
    recomputes against the winner's table and retries. Losers leave
    unreachable garbage for vacuum, never corruption.

    Declared lifecycle against an ephemeral dir:

    1. three OVERLAPPING batches merge via the OCC path (proper-subset
       deltas, so every anti-join does real work);
    2. idempotency probe: a contained batch publishes NOTHING;
    3. a STALE COMMIT for an already-claimed version is attempted
       directly and must be REJECTED (ManifestConflictError) — the CAS
       doing its job end to end, asserted in the declared query;
    4. no pointer file exists (the version chain is the commit log);
    5. ``checkpoint`` + ``vacuum_manifest`` run through the OCC
       dispatch; the declared output reads the final state.

    The oracle is the plain three-way DISTINCT UNION: a dropped merge,
    a clobbered delta, or a content-mangling checkpoint hash-fails."""
    import atexit
    import json
    import shutil
    import tempfile
    from pathlib import Path

    from k8e_fetch_spark.plans import snapshots as snap

    orders = load(spark, sf_dir, "orders")

    def batch(mods):
        return (
            orders.filter((F.col("o_orderkey") % 7).isin(*mods))
            .select(
                F.col("o_custkey").alias("cust_key"),
                F.col("o_orderstatus").alias("status"),
            )
            .distinct()
        )

    table_dir = tempfile.mkdtemp(prefix="k8e_occ_table_")
    atexit.register(shutil.rmtree, table_dir, ignore_errors=True)
    snap.merge_insert_ignore_occ(spark, table_dir, batch([0, 1]))
    snap.merge_insert_ignore_occ(spark, table_dir, batch([1, 2]))
    m3 = snap.merge_insert_ignore_occ(spark, table_dir, batch([2, 3]))
    # idempotency: a contained batch publishes nothing
    assert snap.merge_insert_ignore_occ(spark, table_dir, batch([1, 2])) == m3
    # a stale commit for the claimed version must lose the CAS
    try:
        snap._commit_manifest_cas(Path(table_dir), m3, json.dumps({"dirs": []}))
        raise AssertionError("stale commit must conflict")
    except snap.ManifestConflictError:
        pass
    # OCC tables have no pointer — the version chain is authoritative
    assert not (Path(table_dir) / "_CURRENT_MANIFEST").exists()
    snap.checkpoint(spark, table_dir, n_files=1)
    snap.vacuum_manifest(table_dir)
    return snap.read_manifest_table(spark, table_dir)
