"""MERGE upsert — the reference's most distinctive operator, made set-based.

The reference upserts row-at-a-time: build a dict of existing keys (one SQL
disjunct per incoming row, ``flows/data_ingestion.py:41-48``), then loop —
UPDATE if the key exists, INSERT otherwise (``:99-154``, ``:157-216``). Its
duplicate handling is an artifact of dict construction order and is not
idempotent (SURVEY.md §2.6).

This plan implements the *intent* — upsert-by-key, last-writer-wins — with
deterministic, distributed semantics:

1. **Dedup the batch** to one row per key: ``row_number() OVER (PARTITION BY
   keys ORDER BY order_col DESC)`` = 1. Last-wins is defined by the ordering
   column (the reference's duplicates differ only in their timestamp).
2. **Split** against the store with a single anti-join (kept stored rows) —
   the reference's per-row membership test (F5/J3/J4) collapses into one
   set-based join that Catalyst executes as broadcast/shuffled hash.
3. **Rewrite**: ``stored ▷ batch  ∪  batch_deduped`` committed atomically via
   ManagedTable's write-new-then-swap.

Deviation from the reference, documented per SURVEY.md §2.6: duplicate keys
within a first-run batch are collapsed (the reference inserts them all and
later orphans the extras). Idempotent: merging the same batch twice equals
merging it once (tested in tests/test_merge.py).

Scale: the batch dedup shuffles only the batch (micro-batch sized); the
anti-join shuffles store+batch on the key — at 100 TB you bound this by
laying the store out in key buckets once (``ManagedTable.overwrite_bucketed``)
so that each merge rewrites only the buckets its batch touches; the table's
layout, not a per-call option, selects that path. With a Delta/Iceberg
backend the same plan becomes ``MERGE INTO`` with file-level pruning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.plans.table import ManagedTable

__all__ = ["dedupe_last_wins", "split_updates_inserts", "merge_upsert"]


def dedupe_last_wins(
    batch: DataFrame, keys: Sequence[str], order_col: str
) -> DataFrame:
    """One row per key: the one with the greatest ``order_col`` (ties broken
    deterministically by the remaining columns via a stable struct compare).

    U1/U2 semantics (reference ``flows/data_ingestion.py:99-154``): within a
    batch, later rows overwrite earlier ones for the same key — here "later"
    is defined by the event-time column instead of file order, which is the
    only distribution-safe definition (file order does not exist after a
    shuffle).
    """
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc_nulls_last(),
        # deterministic tiebreak so re-runs pick the same survivor
        F.struct(*[c for c in batch.columns if c not in keys]).desc(),
    )
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def split_updates_inserts(
    batch: DataFrame, stored: DataFrame, keys: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """J3/J4 — the update/insert split as semi/anti joins (reference does this
    with a per-row dict membership test, ``flows/data_ingestion.py:116-122``)."""
    updates = batch.join(stored.select(*keys), list(keys), "left_semi")
    inserts = batch.join(stored.select(*keys), list(keys), "left_anti")
    return updates, inserts


def merge_upsert(
    table: ManagedTable,
    batch: DataFrame,
    keys: Sequence[str],
    order_col: str,
    evolve_schema: bool = False,
) -> str:
    """Upsert ``batch`` into ``table`` by ``keys`` with last-wins semantics.

    Returns the committed version name. First run bootstraps the table.

    ``evolve_schema=True`` composes the reference's two flows in one commit
    (schema sync THEN ingest, ``main.py:9-26``): columns new in the batch
    are added to kept stored rows as typed NULLs, and columns the batch
    lacks are carried as NULLs on its rows — Delta's
    ``mergeSchema``/auto-evolution semantics on the versioned parquet
    table. Off by default: an unexpected column drifting in silently is
    usually a bug, so widening is opt-in per pipeline.

    The table's layout picks how many bytes move. When the base version
    is key-bucketed on exactly ``keys`` (declared once with
    ``ManagedTable.overwrite_bucketed``), no equality-delete sidecars are
    pending and the schema is not evolving, the merge is a keyed PARTIAL
    rewrite: the stored scan partition-prunes to the buckets the batch
    touches and untouched buckets are hard-linked into the new version,
    so per-merge cost is O(touched buckets), independent of table size
    (BASELINE.md §streaming). Otherwise it is one full rewrite in the
    base's layout (deletes are global key predicates — folding them
    per-bucket while hard-linking other buckets would fork the fold
    state; evolution changes untouched rows' schema). Both paths have
    the same last-wins, idempotency and OCC semantics.
    """
    deduped = dedupe_last_wins(batch, keys, order_col)
    # read-modify-write: declare the base version so a concurrent commit
    # between our read and our swap aborts (ConcurrentWriteError) instead
    # of being silently overwritten — the caller re-reads and retries.
    base = table.current_version()
    if base is None:
        return table.overwrite(deduped, expected_base=None)
    # deduped feeds BOTH the anti-join (kept) and the union below (and the
    # touched-bucket collect of a partial rewrite); without a pin the
    # commit plan scans + window-dedups the batch source TWICE per merge
    # (tools/stream_bench.py caught numInputRows at exactly 2x the file
    # rows per micro-batch). The batch is micro-batch/ingest sized —
    # bounded — so one lazy localCheckpoint halves the source work (both
    # consumers share the RDD inside the one commit action, so it
    # computes once; lazy skips the extra eager job); blocks are
    # RDD-level and GC-reclaimed after the commit.
    deduped = deduped.localCheckpoint(eager=False)
    # capture the sidecar listing read() will fold BEFORE constructing the
    # read: a concurrent equality delete then aborts this merge instead of
    # being silently folded away by a stale snapshot
    sidecars = table.sidecar_listing(base)
    spec = table.bucket_spec(base)
    partial = (
        spec is not None
        and spec[0] == list(keys)
        and not sidecars
        and not evolve_schema
    )
    if partial:
        # bounded collect: at most n_buckets ids (micro-batches touch far
        # fewer)
        touched = sorted(
            r[0] for r in deduped.select(F.expr(spec[2])).distinct().collect()
        )
        stored = table.read_buckets(base, touched)
    else:
        stored = table.read(version=base)
    kept = stored.join(deduped.select(*keys), list(keys), "left_anti")
    merged = kept.unionByName(deduped, allowMissingColumns=evolve_schema)
    if partial:
        return table.replace_buckets(
            merged, touched, expected_base=base, expected_sidecars=sidecars
        )
    return table.overwrite(
        merged, expected_base=base, expected_sidecars=sidecars
    )
