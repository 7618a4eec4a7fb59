"""The read-only workload ``analytics``: the reference reports in both query
surfaces, TPC-H shapes over the star catalog, and the near-duplicate and
similarity jobs over documents and embeddings.

It runs whole rounds: every round issues each operation of the mix once, in
a seeded order, and a run measures the whole number of rounds nearest to
its time, so every run measures the same mix. Every result is collected to the
client and compared with the registry's DuckDB oracle."""

from __future__ import annotations

import inspect
import os
import random
import time
from contextlib import ExitStack, contextmanager, nullcontext

import duckdb

from data_ingestion_pipeline_spark import registry
from data_ingestion_pipeline_spark.dedup import minhash
from data_ingestion_pipeline_spark.operators import llm_data, reports, sql_surface, tpch_queries
from data_ingestion_pipeline_spark.similarity import lsh
from gen import N_DOCS, N_VECS, write_catalog
from harness import percentile
from tools.check_oracle import value_hash

REPORTS = (
    "revenue_per_product",
    "low_stock",
    "orders_per_product_month",
    "revenue_per_category",
    "inventory_status",
    "most_sold_per_category",
)
# tpch_q3_shipping_priority and tpch_q9_shaped_product_type_profit are left
# out: they sum in double before rounding to cents, and on cent-valued
# prices a group's exact sum can land on a half cent, where they and their
# oracles (exact decimal sums) round apart.
TPCH = (
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "tpch_q18_large_volume_customers",
)
# corpus job -> span / per-layer metric stem
CORPUS = {
    "exact_dedup_documents": "dedup.exact",
    "minhash_verified_near_dup_documents": "dedup.minhash",
    "near_dup_clusters_documents": "dedup.clusters",
    "cosine_topk_embeddings": "similarity.brute_force",
    "ann_lsh_topk_embeddings": "similarity.lsh",
    "ann_ivf_topk_embeddings": "similarity.ivf",
}
# per-layer counts recorded once per MinHash or LSH job
_COUNTED = (
    "dedup.minhash.candidates",
    "dedup.minhash.verified",
    "dedup.minhash.precision",
    "similarity.lsh.recall_at_10",
    "similarity.lsh.scored_frac",
)
SIMILARITY = {"cosine_topk_embeddings", "ann_lsh_topk_embeddings", "ann_ivf_topk_embeddings"}
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "documents", "embeddings",
)
_LOADER_MODULES = (reports, sql_surface, tpch_queries, llm_data)


def _report_sql(report: str):
    return lambda spark, sf_dir: sql_surface.run_report_sql(spark, sf_dir, report)


class Analytics:
    """Closed loop, one client, whole seeded rounds of the mix."""

    name = "analytics"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.catalog = os.path.join(ctx.work, "catalog")
        self.rng = random.Random(ctx.seed)
        # what the traced hooks saw during the current op
        self.captured: dict = {}
        self._n_round = 0
        q = registry.queries()
        # op name -> (query fn, oracle name, input rows; 0 = count result rows)
        self.ops = {r: (q[r], r, 0) for r in REPORTS}
        self.ops.update({f"{r}_sql": (_report_sql(r), r, 0) for r in REPORTS})
        self.ops.update({t: (q[t], t, 0) for t in TPCH})
        self.ops.update({j: (q[j], j, N_VECS if j in SIMILARITY else N_DOCS) for j in CORPUS})

    def setup(self) -> None:
        write_catalog(self.catalog, self.ctx.seed)
        oracles = registry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.catalog, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.expected = {}
            for name, (_fn, oracle, _n) in self.ops.items():
                res = con.execute(oracles[oracle])
                cols = [d[0] for d in res.description]
                self.expected[name] = (sorted(cols), value_hash(res.fetchall(), cols))
        finally:
            con.close()

    def warmup(self) -> None:
        """One whole round over the timed catalog, checked but not timed.
        It pays JIT and code generation for every plan of the mix, class
        loading and Python-worker start: the first round of a fresh JVM
        runs ~30% slower than the next, the rounds after it within ~5% of
        each other."""
        for name in self.rng.sample(list(self.ops), len(self.ops)):
            self.op(name)
        self.ctx.rec.end_warmup()

    def op(self, name: str) -> float:
        fn, _oracle, n_in = self.ops[name]
        tr, spark, rec = self.ctx.tracer, self.spark, self.ctx.rec
        build, execute = self.span_names(name)
        self.captured.clear()
        t0 = time.perf_counter()
        try:
            with tr.span(build):
                df = fn(spark, self.catalog)
            with tr.span(execute):
                rows = df.collect()
            dt_s = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 — a failed op is recorded, not fatal
            dt_s = time.perf_counter() - t0
            rec.add("primary", name, dt_s, False, why=repr(e)[:300])
            return dt_s
        finally:
            # some operators cache or checkpoint; keep ops independent
            spark.catalog.clearCache()
        got = (sorted(df.columns), value_hash([tuple(r) for r in rows], df.columns))
        tr.count(f"{name}.rows_out", len(rows))
        if name == "minhash_verified_near_dup_documents" and "candidates" in self.captured:
            self._count_minhash(len(rows))
        if name == "ann_lsh_topk_embeddings" and "band_buckets" in self.captured:
            self._count_lsh(rows)
        rec.add("primary", name, dt_s, got == self.expected[name], n_in or len(rows),
                f"result {got} != oracle {self.expected[name]}")
        return dt_s

    @staticmethod
    def span_names(name: str) -> tuple[str, str]:
        if name in CORPUS:
            return CORPUS[name], CORPUS[name]
        return f"operators.{name}.build", f"operators.{name}.exec"

    @contextmanager
    def _patched(self, modules, name: str, wrap):
        """Replace ``name`` in each of ``modules`` by ``wrap(original)``."""
        orig = getattr(modules[0], name)
        for m in modules:
            setattr(m, name, wrap(orig))
        try:
            yield
        finally:
            for m in modules:
                setattr(m, name, orig)

    def _traced_hooks(self) -> ExitStack:
        """Span every ``catalog.load_table`` call the operators make, and
        keep the MinHash job's candidate pairs and the arguments of the LSH
        job's bucketing, as the engine builds them, for the per-layer
        counts."""
        tr, captured = self.ctx.tracer, self.captured

        def spanned(orig):
            def load(*a, **kw):
                with tr.span("sources.catalog.load"):
                    return orig(*a, **kw)
            return load

        def keep_candidates(orig):
            def candidates(*a, **kw):
                captured["candidates"] = orig(*a, **kw)
                return captured["candidates"]
            return candidates

        def keep_bucketing(orig):
            sig = inspect.signature(orig)

            def buckets(*a, **kw):
                bound = sig.bind(*a, **kw)
                bound.apply_defaults()
                captured["band_buckets"] = bound.arguments
                return orig(*a, **kw)
            return buckets

        stack = ExitStack()
        stack.enter_context(self._patched(_LOADER_MODULES, "load_table", spanned))
        stack.enter_context(self._patched([minhash], "lsh_candidate_pairs", keep_candidates))
        stack.enter_context(self._patched([lsh], "band_buckets", keep_bucketing))
        return stack

    def run(self, seconds: float, traced: bool) -> list[float]:
        """The whole number of rounds nearest to ``seconds`` (at least one):
        a new round starts only while more than half a round's time is
        left. Returns per-op wall times."""
        lat: list[float] = []
        t_end = time.perf_counter() + seconds
        with self._traced_hooks() if traced else nullcontext():
            while True:
                t0 = time.perf_counter()
                for name in self.rng.sample(list(self.ops), len(self.ops)):
                    self.ctx.tracer.op = (self._n_round, name)
                    lat.append(self.op(name))
                self._n_round += 1
                now = time.perf_counter()
                if t_end - now <= (now - t0) / 2:
                    return lat

    def finish(self) -> None:
        pass

    def metrics(self) -> dict[str, float]:
        """latency_* over the whole mix; read_latency_* over the report and
        TPC-H queries only, so a corpus-only change moves the first pair and
        not the second."""
        rec = self.ctx.rec
        lat = rec.seconds("primary")
        reads = rec.seconds("primary", set(REPORTS) | {f"{r}_sql" for r in REPORTS} | set(TPCH))
        return {
            "ops_per_s": len(lat) / sum(lat),
            "latency_p50_s": percentile(lat, 50),
            "latency_p75_s": percentile(lat, 75),
            "rows_per_s": rec.rows("primary") / sum(lat),
            "read_latency_p50_s": percentile(reads, 50),
            "read_latency_p75_s": percentile(reads, 75),
        }

    def layer_metrics(self) -> dict[str, float]:
        tr = self.ctx.tracer
        out = {"sources.catalog_load_s": tr.median("sources.catalog.load")}
        for name in self.ops:
            if name in CORPUS:
                out[f"{CORPUS[name]}_s"] = tr.median(CORPUS[name])
            else:
                out[f"operators.{name}.build_s"] = tr.median(f"operators.{name}.build")
                out[f"operators.{name}.exec_s"] = tr.median(f"operators.{name}.exec")
                out[f"operators.{name}.rows_out"] = tr.median_count(f"{name}.rows_out")
        for k in _COUNTED:
            out[k] = tr.median_count(k)
        return out

    def _count_minhash(self, verified: int) -> None:
        """Candidate pairs the MinHash job's banded index proposed, against
        the pairs that verified (the job's answer)."""
        tr = self.ctx.tracer
        cands = self.captured["candidates"].count()
        tr.count("dedup.minhash.candidates", cands)
        tr.count("dedup.minhash.verified", verified)
        tr.count("dedup.minhash.precision", verified / cands if cands else 0.0)

    def _count_lsh(self, rows: list) -> None:
        """Recall@10 of the LSH job's answer against exact cosine, and the
        share of the corpus its bucketing makes it score per query (vectors
        colliding with the query in any table), with the tables, planes and
        seeds the job passed to ``band_buckets``."""
        import numpy as np
        import pyarrow.parquet as pq

        bb = self.captured["band_buckets"]
        t = pq.read_table(os.path.join(self.catalog, "embeddings.parquet"))
        ids = t.column("vec_id").to_numpy()
        x = np.vstack(t.column("embedding").to_pylist()).astype(np.float64)
        unit = x / np.linalg.norm(x, axis=1, keepdims=True)
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        weights = 1 << np.arange(bb["planes_per_band"])
        codes = [
            ((x @ np.array(lsh.hyperplanes(bb["dim"], bb["planes_per_band"],
                                           seed=bb["seed_base"] + b)).T) >= 0) @ weights
            for b in range(bb["n_bands"])
        ]
        recalls, scored = [], []
        for qid, found in got.items():
            qi = int(np.flatnonzero(ids == qid)[0])
            exact = set(ids[np.argsort(-(unit @ unit[qi]), kind="stable")[:10]].tolist())
            recalls.append(len(exact & found) / 10)
            scored.append(np.logical_or.reduce([c == c[qi] for c in codes]).mean())
        tr = self.ctx.tracer
        tr.count("similarity.lsh.recall_at_10", float(np.mean(recalls)))
        tr.count("similarity.lsh.scored_frac", float(np.mean(scored)))
