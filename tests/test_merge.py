"""M3 — MERGE upsert + ManagedTable + schema evolution (SURVEY.md §2.6, §4.3)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_pipeline_spark import schemas
from data_ingestion_pipeline_spark.pipeline import run_pipeline
from data_ingestion_pipeline_spark.plans.merge import (
    dedupe_last_wins,
    merge_upsert,
    split_updates_inserts,
)
from data_ingestion_pipeline_spark.plans.schema_evolution import (
    conform_to_schema,
    diff_schema,
    sync_table_schema,
)
from data_ingestion_pipeline_spark.plans.table import ManagedTable
from tests.fixtures import write_fixture_csvs


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k string, v long, ts timestamp")


def test_dedupe_last_wins(spark):
    import datetime as dt

    b = _batch(
        spark,
        [
            ("a", 1, dt.datetime(2023, 1, 1)),
            ("a", 2, dt.datetime(2023, 1, 3)),
            ("a", 3, dt.datetime(2023, 1, 2)),
            ("b", 9, dt.datetime(2023, 1, 1)),
        ],
    )
    out = {r.k: r.v for r in dedupe_last_wins(b, ["k"], "ts").collect()}
    assert out == {"a": 2, "b": 9}


def test_split_updates_inserts(spark):
    import datetime as dt

    stored = _batch(spark, [("a", 1, dt.datetime(2023, 1, 1))])
    batch = _batch(
        spark, [("a", 5, dt.datetime(2023, 2, 1)), ("c", 7, dt.datetime(2023, 2, 1))]
    )
    upd, ins = split_updates_inserts(batch, stored, ["k"])
    assert [r.k for r in upd.collect()] == ["a"]
    assert [r.k for r in ins.collect()] == ["c"]


def test_merge_idempotent_and_last_wins(spark, tmp_path):
    import datetime as dt

    t = ManagedTable(spark, str(tmp_path / "t"))
    b1 = _batch(
        spark,
        [
            ("a", 1, dt.datetime(2023, 1, 1)),
            ("a", 2, dt.datetime(2023, 1, 5)),  # same key, later ts → wins
            ("b", 3, dt.datetime(2023, 1, 1)),
        ],
    )
    merge_upsert(t, b1, ["k"], "ts")
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {"a": 2, "b": 3}

    # run-twice == run-once (idempotency; deviation from reference documented
    # in SURVEY.md §2.6)
    merge_upsert(t, b1, ["k"], "ts")
    assert {r.k: r.v for r in t.read().collect()} == {"a": 2, "b": 3}

    # update existing + insert new
    b2 = _batch(
        spark, [("a", 10, dt.datetime(2023, 2, 1)), ("c", 4, dt.datetime(2023, 1, 1))]
    )
    merge_upsert(t, b2, ["k"], "ts")
    assert {r.k: r.v for r in t.read().collect()} == {"a": 10, "b": 3, "c": 4}


def test_managed_table_versions_and_vacuum(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"), keep_versions=2)
    for i in range(4):
        t.overwrite(spark.range(i + 1).withColumnRenamed("id", "x"))
    assert t.read().count() == 4
    versions = [d for d in os.listdir(t.root) if d.startswith("v")]
    assert len(versions) <= 2  # vacuumed
    assert t.current_version() == "v00000004"


def test_schema_evolution_add_drop_cast(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([("p1", 1, "junk")], "product_id string, quantity int, legacy string")
    )
    declared = T.StructType(
        [
            T.StructField("product_id", T.StringType()),
            T.StructField("quantity", T.LongType()),  # cast int→long
            T.StructField("name", T.StringType()),  # add
            # 'legacy' dropped
        ]
    )
    d = diff_schema(t.read().schema, declared, protected=["product_id"])
    assert d == {"add": ["name"], "drop": ["legacy"], "cast": ["quantity"]}
    v = sync_table_schema(t, declared, protected=["product_id"])
    assert v is not None
    out = t.read()
    assert [f.name for f in out.schema.fields] == ["product_id", "quantity", "name"]
    assert dict((f.name, f.dataType.simpleString()) for f in out.schema.fields)["quantity"] == "bigint"
    assert out.collect()[0].name is None
    # already in sync → no-op
    assert sync_table_schema(t, declared, protected=["product_id"]) is None


def test_protected_key_never_dropped(spark):
    df = spark.createDataFrame([("k1", 1)], "product_id string, quantity long")
    declared = T.StructType([T.StructField("quantity", T.LongType())])
    out = conform_to_schema(df, declared, protected=["product_id"])
    assert "product_id" in out.columns  # reference never drops PKs (schema_sync.py:141-150)


def test_full_pipeline_reference_shape(spark, tmp_path):
    """End-to-end: reference-quirk CSVs → normalize → merge → query surface."""
    orders_csv, inv_csv = write_fixture_csvs(str(tmp_path / "csv"))
    tables = run_pipeline(spark, orders_csv, inv_csv, str(tmp_path / "wh"))
    orders, inv = tables["orders"], tables["inventories"]

    # merged orders: one row per (order_id, product_id) natural key
    assert orders.count() == orders.select("order_id", "product_id").distinct().count()
    # all product ids resolve in inventory (FK shape preserved by fixture)
    unresolved = orders.join(inv, "product_id", "left_anti").count()
    assert unresolved == 0
    # idempotency at the pipeline level
    n1 = orders.count()
    tables2 = run_pipeline(spark, orders_csv, inv_csv, str(tmp_path / "wh"))
    assert tables2["orders"].count() == n1

    # the six report queries run against the ingested pair via SQL views
    spark.sql(
        """
        SELECT i.product_id, i.name, SUM(o.quantity * o.amount) AS total_revenue
        FROM ref_orders o JOIN ref_inventories i ON o.product_id = i.product_id
        GROUP BY i.product_id, i.name ORDER BY total_revenue DESC
        """
    ).collect()
    low = spark.sql("SELECT * FROM ref_inventories WHERE quantity < 10").count()
    assert low > 0


def test_merge_upsert_evolves_schema(spark, tmp_path):
    """evolve_schema=True: a batch with a NEW column widens the table (old
    rows get typed NULLs); without the flag the widening batch is rejected
    (silent drift stays opt-in)."""
    import pytest
    from pyspark.sql import functions as F

    from data_ingestion_pipeline_spark.plans.merge import merge_upsert
    from data_ingestion_pipeline_spark.plans.table import ManagedTable

    table = ManagedTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, s string, ord long"
    )
    merge_upsert(table, base, keys=["k"], order_col="ord")

    widened = spark.createDataFrame(
        [(2, "b2", 21, 0.5), (3, "c", 30, 0.7)],
        "k long, s string, ord long, score double",
    )
    with pytest.raises(Exception):
        merge_upsert(table, widened, keys=["k"], order_col="ord")
    merge_upsert(table, widened, keys=["k"], order_col="ord", evolve_schema=True)
    got = {r.k: (r.s, r.score) for r in table.read().collect()}
    assert got == {1: ("a", None), 2: ("b2", 0.5), 3: ("c", 0.7)}

    # and the inverse: a NARROW batch merges into the widened table, its
    # rows carrying NULL for the column it lacks
    narrow = spark.createDataFrame([(4, "d", 40)], "k long, s string, ord long")
    merge_upsert(table, narrow, keys=["k"], order_col="ord", evolve_schema=True)
    assert table.read().filter(F.col("k") == 4).collect()[0].score is None


# -- keyed partial rewrites (round-9 verdict ask #5) -------------------------


def _mk_batch(spark, pairs):
    import datetime as dt

    return _batch(
        spark, [(k, v, dt.datetime(2023, 1, d)) for k, v, d in pairs]
    )


def _inodes(root, version):
    """{bucket dir: {parquet file: inode}} of one version."""
    vdir = os.path.join(root, version)
    return {
        entry: {
            f: os.stat(os.path.join(vdir, entry, f)).st_ino
            for f in os.listdir(os.path.join(vdir, entry))
            if f.endswith(".parquet")
        }
        for entry in os.listdir(vdir)
        if entry.startswith("__bucket=")
    }


def _linked_buckets(root, v1, v2):
    """Bucket dirs of v1 whose files v2 shares by inode (hard-linked)."""
    old, new = _inodes(root, v1), _inodes(root, v2)
    return {b for b, files in old.items() if files and files == new.get(b)}


def test_partial_merge_matches_full_merge(spark, tmp_path):
    """The keyed-partial path must be semantically invisible: same final
    contents as the full-rewrite path on identical inputs. The same plain
    merge_upsert call runs on both tables; only the declared layout
    differs."""
    full = ManagedTable(spark, str(tmp_path / "full"))
    part = ManagedTable(spark, str(tmp_path / "part"))
    b0 = _mk_batch(spark, [("a", 1, 1), ("b", 2, 1), ("c", 3, 1), ("d", 4, 1)])
    b1 = _mk_batch(spark, [("b", 20, 2), ("e", 50, 2), ("b", 21, 3)])
    part.overwrite_bucketed(b0.limit(0), ["k"], 8)
    for t in (full, part):
        merge_upsert(t, b0, ["k"], "ts")
        merge_upsert(t, b1, ["k"], "ts")
    want = sorted((r.k, r.v) for r in full.read().collect())
    got = sorted((r.k, r.v) for r in part.read().collect())
    assert got == want == [("a", 1), ("b", 21), ("c", 3), ("d", 4), ("e", 50)]
    assert full.bucket_spec() is None
    assert part.bucket_spec() == (["k"], 8, part.default_bucket_sql(["k"], 8))
    # layout is internal: the read schema carries no bucket column
    assert "__bucket" not in part.read().columns


def test_partial_merge_hardlinks_untouched_buckets(spark, tmp_path):
    """A plain merge on a table declared with overwrite_bucketed takes the
    partial path: untouched bucket dirs are hard links of the base
    version's files (same inode — no data copied, no rewrite), and the
    stored scan partition-prunes to the touched buckets only."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    big = spark.range(400).selectExpr(
        "CAST(id AS STRING) AS k", "id AS v", "timestamp('2023-01-01') AS ts"
    )
    t.overwrite_bucketed(big, ["k"], 16)
    v1 = t.current_version()
    batch = _mk_batch(spark, [("7", 700, 2)])
    touched = F.expr(t.default_bucket_sql(["k"], 16))
    (tb,) = (
        batch.select(touched.alias("b")).distinct().collect()
    )
    # pruned scan reads only the touched bucket dir (PartitionFilters on
    # the layout column — inputFiles() would ignore pushdown)
    pruned = t.read_buckets(v1, [tb["b"]])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PartitionFilters" in scan_line and "__bucket" in scan_line.split(
        "PartitionFilters"
    )[1].split("]")[0]
    merge_upsert(t, batch, ["k"], "ts")
    v2 = t.current_version()
    assert v2 != v1
    root = str(tmp_path / "t")
    old, new = _inodes(root, v1), _inodes(root, v2)
    touched_dir = f"__bucket={tb['b']}"
    # touched bucket: rewritten, so no shared inodes
    assert not (set(old[touched_dir].values()) & set(new[touched_dir].values()))
    linked = _linked_buckets(root, v1, v2)
    assert linked == set(old) - {touched_dir} and len(linked) >= 10
    # contents correct after the partial commit
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows["7"] == 700 and len(rows) == 400


def _ids(spark, n):
    return spark.range(n).selectExpr(
        "CAST(id AS STRING) AS k", "id AS v", "timestamp('2023-01-01') AS ts"
    )


def test_partial_merge_rebuckets_unbucketed_table(spark, tmp_path):
    """overwrite_bucketed(t.read(), ...) re-lays out a plain table in one
    full rewrite; the next plain merge then goes partial."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    merge_upsert(t, _ids(spark, 40), ["k"], "ts")
    assert t.bucket_spec() is None
    t.overwrite_bucketed(t.read(), ["k"], 4)
    assert t.bucket_spec() == (["k"], 4, t.default_bucket_sql(["k"], 4))
    v1 = t.current_version()
    merge_upsert(t, _mk_batch(spark, [("3", 30, 2)]), ["k"], "ts")
    assert t.bucket_spec() == (["k"], 4, t.default_bucket_sql(["k"], 4))
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows["3"] == 30 and rows["4"] == 4 and len(rows) == 40
    # only the bucket holding "3" was rewritten; the other 3 are linked
    assert len(_linked_buckets(str(tmp_path / "t"), v1, t.current_version())) == 3


def test_partial_merge_folds_pending_sidecars_via_full_path(spark, tmp_path):
    """Pending equality deletes force the full fold path (deletes are
    global key predicates; hard-linking buckets would fork the fold), and
    the committed version carries no sidecars."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.overwrite_bucketed(
        _mk_batch(spark, [("a", 1, 1), ("b", 2, 1), ("c", 3, 1)]), ["k"], 4
    )
    t.equality_delete(spark.createDataFrame([("b",)], "k string"), ["k"])
    v1 = t.current_version()
    merge_upsert(t, _mk_batch(spark, [("d", 4, 2)]), ["k"], "ts")
    assert t._delete_sidecars(t.current_version()) == []
    # full rewrite: no bucket dir shares files with the base
    assert not _linked_buckets(str(tmp_path / "t"), v1, t.current_version())
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows == {"a": 1, "c": 3, "d": 4}
    # and the layout survived the fold, so the NEXT merge is partial again
    assert t.bucket_spec() == (["k"], 4, t.default_bucket_sql(["k"], 4))


def test_partial_merge_idempotent(spark, tmp_path):
    """Merging the same batch twice equals merging it once; an empty batch
    (and an empty layout declaration) commits a readable, mergeable
    version."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    b = _mk_batch(spark, [("a", 1, 1), ("b", 2, 1)])
    t.overwrite_bucketed(b.limit(0), ["k"], 4)
    assert t.read().count() == 0
    merge_upsert(t, b.limit(0), ["k"], "ts")
    assert t.read().count() == 0 and t.bucket_spec() is not None
    merge_upsert(t, b, ["k"], "ts")
    once = sorted((r.k, r.v) for r in t.read().collect())
    assert once == [("a", 1), ("b", 2)]
    merge_upsert(t, b, ["k"], "ts")
    assert sorted((r.k, r.v) for r in t.read().collect()) == once
    merge_upsert(t, b.limit(0), ["k"], "ts")
    assert sorted((r.k, r.v) for r in t.read().collect()) == once


def test_partial_merge_custom_locality_bucketing(spark, tmp_path):
    """A caller-supplied bucket expression that matches the ingest's key
    locality (ascending numeric ids, range-bucketed) makes a key-local
    batch touch exactly ONE bucket — the flat-latency shape at any table
    size."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    bucket_sql = "cast(pmod(cast(k as bigint) div 100, 8) as int)"
    base = spark.range(800).selectExpr(
        "CAST(id AS STRING) AS k", "id AS v", "timestamp('2023-01-01') AS ts"
    )
    t.overwrite_bucketed(base, ["k"], 8, bucket_sql)
    assert t.bucket_spec() == (["k"], 8, bucket_sql)
    # key-local batch: ids 100-149 -> all in bucket pmod(1, 8) = 1
    local = spark.range(100, 150).selectExpr(
        "CAST(id AS STRING) AS k", "id + 9000 AS v", "timestamp('2023-01-02') AS ts"
    )
    v1 = t.current_version()
    merge_upsert(t, local, ["k"], "ts")
    # 7 of 8 buckets hard-linked; only bucket 1 rewritten
    linked = _linked_buckets(str(tmp_path / "t"), v1, t.current_version())
    assert len(linked) == 7 and "__bucket=1" not in linked
    rows = {int(r.k): r.v for r in t.read().collect()}
    assert rows[120] == 9120 and rows[50] == 50 and len(rows) == 800


def test_merge_on_other_keys_rewrites_in_declared_layout(spark, tmp_path):
    """A merge whose keys differ from the layout's does one full rewrite,
    and the rewrite keeps the declared layout."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.overwrite_bucketed(_mk_batch(spark, [("a", 1, 1), ("b", 2, 1)]), ["k"], 4)
    spec = t.bucket_spec()
    v1 = t.current_version()
    merge_upsert(t, _mk_batch(spark, [("c", 2, 2)]), ["v"], "ts")
    assert t.bucket_spec() == spec
    assert not _linked_buckets(str(tmp_path / "t"), v1, t.current_version())
    assert sorted((r.k, r.v) for r in t.read().collect()) == [("a", 1), ("c", 2)]


def test_compact_preserves_bucketed_layout(spark, tmp_path):
    """Every commit derived from a key-bucketed base (compact, delete_where,
    rewrite_deletes, sync_table_schema) keeps the layout and its spec, so
    the NEXT merge stays partial, and none changes contents beyond its
    own edit."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    root = str(tmp_path / "t")
    t.overwrite_bucketed(_ids(spark, 40), ["k"], 4)
    merge_upsert(t, _mk_batch(spark, [("c", 3, 2)]), ["k"], "ts")
    spec = t.bucket_spec()
    want = {str(i): i for i in range(40)} | {"c": 3}

    def add_column():
        declared = T.StructType(
            t.read().schema.fields + [T.StructField("note", T.StringType())]
        )
        return sync_table_schema(t, declared, protected=["k"])

    def equality_delete_then_fold():
        t.equality_delete(spark.createDataFrame([("7",)], "k string"), ["k"])
        want.pop("7")
        return t.rewrite_deletes()

    def delete_where():
        want.pop("5")
        return t.delete_where(F.col("k") == "5")

    for step, derive in (
        ("compact", t.compact),
        ("delete_where", delete_where),
        ("rewrite_deletes", equality_delete_then_fold),
        ("sync_table_schema", add_column),
    ):
        derive()
        assert t.bucket_spec() == spec, step
        assert {r.k: r.v for r in t.read().collect()} == want, step
        # next merge is still partial: untouched bucket dirs hard-link
        v1 = t.current_version()
        batch = _mk_batch(spark, [("1", 10, 3)])
        if "note" in t.read().columns:
            batch = batch.withColumn("note", F.lit(None).cast("string"))
        merge_upsert(t, batch, ["k"], "ts")
        want["1"] = 10
        assert len(_linked_buckets(root, v1, t.current_version())) == 3, (
            f"merge after {step} degraded to a full rewrite"
        )
    assert "note" in t.read().columns
