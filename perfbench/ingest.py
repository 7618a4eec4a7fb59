"""The write-path workload ``ingest``.

Closed loop, one client. Each iteration commits two orders micro-batches
into one pre-seeded versioned table, each followed by a read-your-writes
report over the just-committed version:

1. a CSV batch through ``pipeline.ingest_orders`` (scan with DROPMALFORMED,
   normalize, conform, last-wins MERGE);
2. a CSV file dropped into a watched directory and drained by one
   ``availableNow`` run of ``streaming.ingest.stream_orders_csv`` (the same
   MERGE inside ``foreachBatch``, plus the streaming layer's per-trigger
   file listing, offset and commit logs).

A Python model of the last-wins table checks every report and the final
table."""

from __future__ import annotations

import os
import random
import statistics
import time

from pyspark.sql import functions as F

from data_ingestion_pipeline_spark import pipeline, schemas
from data_ingestion_pipeline_spark.plans.merge import (
    dedupe_last_wins,
    merge_upsert,
    split_updates_inserts,
)
from data_ingestion_pipeline_spark.plans.schema_evolution import conform_to_schema
from data_ingestion_pipeline_spark.plans.table import ManagedTable
from data_ingestion_pipeline_spark.sources.csv_reader import read_orders_csv
from data_ingestion_pipeline_spark.streaming import ingest as streaming_ingest
from gen import OrdersGen, expected_report, write_inventory
from harness import data_bytes, noop_write, percentile
from tools.check_oracle import value_hash

N_PRODUCTS = 1135  # inventory size of the reference data
ORDERED_SHARE = 0.28  # share of products that receive orders (FIXTURES.md §1.2)
SEED_ROWS = 48_000  # pre-seed CSV rows (~30k distinct keys, ~50x a batch)
BATCH_ROWS = 600  # well-formed rows per micro-batch
WARMUP_ITERATIONS = 2  # the first commits of a fresh JVM run 20-50% slow

_STREAM_PHASES = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.get_batch_s": "getBatch",
    "streaming.latest_offset_s": "latestOffset",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
}
_COUNTS = (
    "sources.csv_rows_in",
    "sources.csv_rows_dropped",
    "plans.merge.rows_in",
    "plans.merge.rows_deduped",
    "plans.merge.updates",
    "plans.merge.inserts",
    "plans.table.bytes_written",
    "plans.table.files_written",
    "plans.table.write_amp",
    "plans.table.live_files",
    "plans.table.disk_bytes_per_live_byte",
)


def revenue_report(orders, inventories):
    """Read-your-writes probe: per product, order count and revenue in
    integer thousandths (quantity x amount), joined with the inventory."""
    return (
        orders.join(inventories.select("product_id", "name", "category"), "product_id")
        .groupBy("product_id", "name", "category")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("quantity") * F.round(F.col("amount") * 1000).cast("long")).alias(
                "revenue_mills"
            ),
        )
    )


class Ingest:
    name = "ingest"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.wh = os.path.join(ctx.work, "warehouse")
        self.inputs = os.path.join(ctx.work, "inputs")
        self.watch = os.path.join(ctx.work, "watch")
        self.checkpoint = os.path.join(ctx.work, "checkpoint")
        os.makedirs(self.inputs)
        os.makedirs(self.watch)
        self.table = ManagedTable(self.spark, os.path.join(self.wh, "orders"))
        self.n_batches = 0
        self.drain_s = 0.0
        self.progress: list = []

    def setup(self) -> None:
        """Ingest the inventory and pre-seed the orders table."""
        rng = random.Random(self.ctx.seed)
        inv_csv = os.path.join(self.inputs, "inventory.csv")
        self.inventory = write_inventory(inv_csv, rng, N_PRODUCTS)
        pipeline.ingest_inventory(self.spark, inv_csv, self.wh)
        self.inv_table = ManagedTable(self.spark, os.path.join(self.wh, "inventories"))
        products = [p for p, _, _ in self.inventory[: int(N_PRODUCTS * ORDERED_SHARE)]]
        self.gen = OrdersGen(self.ctx.seed, products)
        seed_csv = os.path.join(self.inputs, "seed.csv")
        self.gen.write_batch(seed_csv, SEED_ROWS, malformed=False)
        pipeline.ingest_orders(self.spark, seed_csv, self.wh)
        self.state = dict(self.gen.state)

    def _next_batch(self, malformed: bool) -> tuple[str, int, int, dict]:
        """Write the next batch; spans from here on belong to its commit."""
        self.ctx.tracer.op = self.n_batches
        path = os.path.join(self.inputs, f"batch{self.n_batches:05d}.csv")
        self.n_batches += 1
        n_lines, good, latest = self.gen.write_batch(path, BATCH_ROWS, malformed)
        return path, n_lines, good, latest

    # ---- the two commit paths ----------------------------------------------

    def batch_op(self, traced: bool) -> None:
        ctx = self.ctx
        path, n_lines, good, latest = self._next_batch(malformed=True)
        self.state.update(latest)
        if traced:
            self.probe_batch_layers(path, n_lines)
            before = self.live_inodes()
        t0 = time.perf_counter()
        try:
            pipeline.ingest_orders(self.spark, path, self.wh)
            ok, why = True, ""
        except Exception as e:  # noqa: BLE001 — a failed op is recorded, not fatal
            ok, why = False, repr(e)[:300]
        ctx.rec.add("primary", "batch_merge", time.perf_counter() - t0, ok, good, why)
        if traced:
            self.probe_table_layers(before, os.path.getsize(path))

    def stream_op(self, traced: bool) -> None:
        """Drop one file into the watched directory and drain it. Stream
        files carry no malformed lines: the streaming reader has no
        DROPMALFORMED, so it would commit them as null-filled rows, which
        the batch reader drops."""
        ctx = self.ctx
        path, n_lines, _good, latest = self._next_batch(malformed=False)
        if traced:
            self.probe_batch_layers(path, n_lines)
            before = self.live_inodes()
        dropped = os.path.join(self.watch, os.path.basename(path))
        os.rename(path, dropped)
        t0 = time.perf_counter()
        why, batches = "", []
        try:
            q = streaming_ingest.stream_orders_csv(
                self.spark, self.watch, self.table, self.checkpoint, max_files_per_trigger=1
            )
            streaming_ingest.run_stream_to_completion(q, timeout_s=120)
            err = q.exception()
            batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
            if err is not None:
                why = f"stream failed: {err}"[:300]
            elif len(batches) != 1:
                why = f"{len(batches)} micro-batches for one file"
            elif batches[0]["numInputRows"] != n_lines:
                why = f"numInputRows {batches[0]['numInputRows']} != {n_lines} rows written"
        except Exception as e:  # noqa: BLE001
            why = repr(e)[:300]
        drain = time.perf_counter() - t0
        if batches and not why:
            self.state.update(latest)
            self.drain_s += drain
            self.progress.append(batches[0])
            ctx.rec.add("primary", "stream_trigger",
                        batches[0]["durationMs"]["triggerExecution"] / 1000, True, n_lines)
        else:
            ctx.rec.add("primary", "stream_trigger", drain, False, why=why)
        if traced:
            self.probe_table_layers(before, os.path.getsize(dropped))

    def read_probe(self) -> None:
        """Run the report over the just-committed version and check it."""
        rec = self.ctx.rec
        t0 = time.perf_counter()
        try:
            rows = revenue_report(self.table.read(), self.inv_table.read()).collect()
        except Exception as e:  # noqa: BLE001
            rec.add("read", "revenue_report", time.perf_counter() - t0, False, why=repr(e)[:300])
            return
        dt_s = time.perf_counter() - t0
        ok = {tuple(r) for r in rows} == expected_report(self.state, self.inventory)
        rec.add("read", "revenue_report", dt_s, ok, len(rows), "report differs from the model")

    def iteration(self, traced: bool) -> None:
        self.batch_op(traced)
        self.read_probe()
        self.stream_op(traced)
        self.read_probe()

    def warmup(self) -> None:
        for _ in range(WARMUP_ITERATIONS):
            self.iteration(traced=False)
        self.ctx.rec.end_warmup()
        self.drain_s = 0.0
        self.progress.clear()

    def run(self, seconds: float, traced: bool) -> list[float]:
        """Iterations until ``seconds`` have passed; per-iteration wall
        times. When traced, the merges of both commit paths are spanned by
        wrapping ``merge_upsert`` where the pipeline and the streaming
        module look it up, for the run."""
        tr = self.ctx.tracer
        orig = merge_upsert
        if traced:
            def spanned_merge(*a, **kw):
                with tr.span("plans.merge.upsert"):
                    return orig(*a, **kw)

            pipeline.merge_upsert = streaming_ingest.merge_upsert = spanned_merge
        lat = []
        try:
            t_end = time.perf_counter() + seconds
            while time.perf_counter() < t_end:
                t0 = time.perf_counter()
                self.iteration(traced)
                lat.append(time.perf_counter() - t0)
        finally:
            pipeline.merge_upsert = streaming_ingest.merge_upsert = orig
        return lat

    def finish(self) -> None:
        """The committed table must equal the model row for row."""
        rec = self.ctx.rec
        t0 = time.perf_counter()
        try:
            df = self.table.read()
            got = value_hash([tuple(r) for r in df.collect()], df.columns)
        except Exception as e:  # noqa: BLE001
            rec.add("check", "final_table", time.perf_counter() - t0, False, why=repr(e)[:300])
            return
        want = value_hash(list(self.state.values()), schemas.ORDERS.fieldNames())
        rec.add("check", "final_table", time.perf_counter() - t0, got == want, len(self.state),
                f"table hash {got} != expected {want}")

    def metrics(self) -> dict[str, float]:
        """Primary ops are commits of either path: a batch merge's wall
        time, or a stream trigger's ``triggerExecution``. rows_per_s counts
        committed rows over merge time plus whole stream drain time (query
        start included)."""
        rec = self.ctx.rec
        commits = rec.seconds("primary")
        reads = rec.seconds("read")
        merge_s = sum(rec.seconds("primary", {"batch_merge"}))
        return {
            "ops_per_s": len(commits) / sum(commits),
            "latency_p50_s": percentile(commits, 50),
            "latency_p75_s": percentile(commits, 75),
            "rows_per_s": rec.rows("primary") / (merge_s + self.drain_s),
            "read_latency_p50_s": percentile(reads, 50),
            "read_latency_p75_s": percentile(reads, 75),
        }

    # ---- traced-run probes -------------------------------------------------

    def probe_batch_layers(self, path: str, n_lines: int) -> None:
        """Per-layer spans and counts for one CSV batch, against the table
        as it stands: scan, normalize, conform, dedupe, update/insert split.
        Each lazy call is materialized with a noop sink inside its span."""
        tr, spark = self.ctx.tracer, self.spark
        with tr.span("sources.csv_read"):
            raw = read_orders_csv(spark, path, normalized=False)
            noop_write(raw)
        with tr.span("sources.csv_read_normalized"):
            batch = read_orders_csv(spark, path)
            noop_write(batch)
        with tr.span("plans.schema_evolution.conform"):
            conformed = conform_to_schema(batch, schemas.ORDERS, protected=schemas.ORDERS_KEY)
        with tr.span("plans.merge.dedupe"):
            deduped = dedupe_last_wins(conformed, schemas.ORDERS_KEY, "date_time")
            noop_write(deduped)
        tr.count("sources.csv_rows_in", n_lines)
        tr.count("sources.csv_rows_dropped", n_lines - raw.count())
        tr.count("plans.merge.rows_in", conformed.count())
        tr.count("plans.merge.rows_deduped", deduped.count())
        updates, inserts = split_updates_inserts(deduped, self.table.read(), schemas.ORDERS_KEY)
        tr.count("plans.merge.updates", updates.count())
        tr.count("plans.merge.inserts", inserts.count())

    def live_inodes(self) -> set[int]:
        root = os.path.join(self.table.root, self.table.current_version())
        return {os.stat(os.path.join(d, n)).st_ino for d, _, ns in os.walk(root) for n in ns}

    def probe_table_layers(self, before: set[int], csv_bytes: int) -> None:
        """Filesystem counts of the last commit (files not present in the
        previous version count as written) and a timed full scan."""
        tr = self.ctx.tracer
        version_dir = os.path.join(self.table.root, self.table.current_version())
        new_bytes = new_files = live_bytes = live_files = 0
        for d, _, names in os.walk(version_dir):
            for n in names:
                if n.startswith((".", "_")):
                    continue
                st = os.stat(os.path.join(d, n))
                live_bytes += st.st_size
                live_files += 1
                if st.st_ino not in before:
                    new_bytes += st.st_size
                    new_files += 1
        tr.count("plans.table.bytes_written", new_bytes)
        tr.count("plans.table.files_written", new_files)
        tr.count("plans.table.write_amp", new_bytes / csv_bytes)
        tr.count("plans.table.live_files", live_files)
        tr.count("plans.table.disk_bytes_per_live_byte", data_bytes(self.table.root) / live_bytes)
        with tr.span("plans.table.read"):
            noop_write(self.table.read())

    def layer_metrics(self) -> dict[str, float]:
        tr, ps = self.ctx.tracer, self.progress
        out = {
            "sources.csv_read_s": tr.median("sources.csv_read"),
            "functions.normalize_s": tr.median("sources.csv_read_normalized")
            - tr.median("sources.csv_read"),
            "plans.schema_evolution.conform_s": tr.median("plans.schema_evolution.conform"),
            "plans.merge.dedupe_s": tr.median("plans.merge.dedupe"),
            "plans.merge.upsert_s": tr.median("plans.merge.upsert"),
            "plans.table.read_s": tr.median("plans.table.read"),
        }
        out.update({name: tr.median_count(name) for name in _COUNTS})
        for metric, key in _STREAM_PHASES.items():
            out[metric] = percentile([p["durationMs"].get(key, 0) / 1000 for p in ps], 50)
        out["streaming.overhead_s"] = percentile(
            [(p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)) / 1000
             for p in ps], 50)
        out["streaming.input_rows_per_batch"] = (
            statistics.median(p["numInputRows"] for p in ps) if ps else 0.0
        )
        return out
