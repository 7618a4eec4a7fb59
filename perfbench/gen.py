"""Seeded input generators for the benchmark workloads.

Two families:

- ``OrdersGen``: reference-shaped orders CSV micro-batches (the quirk rules
  of ``tests/fixtures.py``: composite product ids, quoted-empty campaigns,
  ~1% minute-precision timestamps, within-batch duplicates identical except
  ``dateTime``) plus replays of stored keys and a few malformed lines. It
  keeps the expected last-wins table state in Python, so the benchmark can
  check the engine's table and every read probe without asking the engine.
- ``write_catalog``: a star-schema parquet catalog with the column names,
  types and value domains of the test data of FIXTURES.md §2, plus
  documents and embeddings.

Everything derives from one ``random.Random``/``numpy`` seed: the same seed
gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from collections.abc import Iterable

from tests.fixtures import (
    CAMPAIGNS,
    CATEGORIES,
    CHANNELS,
    GROUPS,
    INVENTORY_HEADER,
    ORDERS_HEADER,
    SUBCATS,
    product_id,
)

_EPOCH = dt.datetime(2023, 2, 1)
# Share of rows whose timestamp is written with minute precision only.
_MINUTE_SHARE = 0.01
# How many times a fresh key is written within its batch (drawn uniformly).
_DUP_MULTIPLICITY = (1, 1, 1, 2, 3)
# Share of the keys drawn for a batch that replay a stored key.
_UPDATE_SHARE = 0.2
# Malformed lines appended to a batch that carries them.
_MALFORMED_PER_BATCH = 3


def write_inventory(path: str, rng: random.Random, n_products: int) -> list[tuple]:
    """Inventory CSV (FIXTURES.md §1.2); returns the normalized rows
    ``(product_id, name, category)`` the read probe joins against."""
    rows = []
    with open(path, "w") as f:
        f.write(INVENTORY_HEADER + "\n")
        for i in range(n_products):
            pid = product_id(rng)
            qty = rng.randint(0, 9) if rng.random() < 0.8 else rng.randint(10, 525)
            cat = rng.choice(CATEGORIES)
            f.write(f"{pid},Product {i},{qty},{cat},{rng.choice(SUBCATS)}\n")
            rows.append((pid, f"Product {i}", cat))
    return rows


class OrdersGen:
    """Orders CSV batches with a Python model of the last-wins table.

    Every row gets a timestamp strictly later than every row before it, so
    "latest ``dateTime`` wins" (the merge's within-batch rule) and "latest
    batch wins" (its cross-batch rule) pick the same survivor, and the model
    needs no tiebreak.
    """

    def __init__(self, seed: int, products: list[str]) -> None:
        self.rng = random.Random(seed)
        self.products = products
        self.state: dict[tuple[str, str], tuple] = {}
        self._keys: list[tuple[str, str]] = []
        self._clock = 0  # seconds after _EPOCH of the last timestamp issued

    def _timestamp(self) -> tuple[str, dt.datetime]:
        rng = self.rng
        if rng.random() < _MINUTE_SHARE:
            self._clock = (self._clock // 60 + 1) * 60
            t = _EPOCH + dt.timedelta(seconds=self._clock)
            text = t.strftime("%Y-%m-%dT%H:%MZ")
        else:
            self._clock += rng.randint(1, 90)
            t = _EPOCH + dt.timedelta(seconds=self._clock)
            text = t.strftime("%Y-%m-%dT%H:%M:%SZ")
        return text, t

    def _values(self) -> tuple:
        rng = self.rng
        ship = round(rng.uniform(0, 2200), 2) if rng.random() > 0.5 else 0
        campaign = rng.choice(CAMPAIGNS) if rng.random() > 0.65 else ""
        return (
            rng.randint(1, 3),
            ship,
            round(rng.uniform(179, 25252), 3),
            rng.choice(CHANNELS),
            rng.choice(GROUPS),
            campaign,
        )

    def _fresh_key(self) -> tuple[str, str]:
        r = self.rng
        oid = f"{r.getrandbits(32):08x}-{r.getrandbits(16):04x}-{r.getrandbits(16):04x}-{r.getrandbits(16):04x}-{r.getrandbits(48):012x}"
        return oid, self.rng.choice(self.products)

    def _malformed(self) -> str:
        oid, pid = self._fresh_key()
        kind = self.rng.randrange(3)
        if kind == 0:  # unparseable quantity
            return f'{oid},{pid},SEK,many,0,199.5,direct,sem,"",2023-02-01T06:16:00Z'
        if kind == 1:  # unparseable amount
            return f'{oid},{pid},SEK,1,0,n/a,direct,sem,"",2023-02-01T06:16:00Z'
        return f"{oid},{pid},SEK,2,0,oops,bing"  # unparseable amount, truncated

    def batch(self, n_rows: int, malformed: bool = True) -> tuple[list[str], int, dict]:
        """One batch: ``(csv lines without header, well-formed row count,
        {key: surviving normalized row})``.

        Applies the batch to the model. About ``_UPDATE_SHARE`` of the keys
        drawn replay a stored key once (new values, later timestamp); the
        rest are fresh keys, some written 2-3 times with increasing
        timestamps."""
        rng = self.rng
        lines: list[str] = []
        latest: dict[tuple[str, str], tuple] = {}
        while len(lines) < n_rows:
            if self._keys and rng.random() < _UPDATE_SHARE:
                key = rng.choice(self._keys)
                copies = 1
            else:
                key = self._fresh_key()
                copies = rng.choice(_DUP_MULTIPLICITY)
            vals = self._values()
            for _ in range(copies):
                text, t = self._timestamp()
                q, ship, amount, chan, grp, camp = vals
                lines.append(
                    f'{key[0]},{key[1]},SEK,{q},{ship},{amount},{chan},{grp},"{camp}",{text}'
                )
                latest[key] = (
                    key[0], key[1], "SEK", q, float(ship), amount, chan, grp,
                    camp or None, t,
                )
        good = len(lines)
        if malformed:
            lines.extend(self._malformed() for _ in range(_MALFORMED_PER_BATCH))
        rng.shuffle(lines)
        for key, row in latest.items():
            if key not in self.state:
                self._keys.append(key)
            self.state[key] = row
        return lines, good, latest

    def write_batch(self, path: str, n_rows: int, malformed: bool = True) -> tuple[int, int, dict]:
        """Write one batch as CSV; ``(data lines, well-formed rows, survivors)``."""
        lines, good, latest = self.batch(n_rows, malformed)
        write_csv(path, ORDERS_HEADER, lines)
        return len(lines), good, latest


def expected_report(state: dict, inventory: Iterable[tuple]) -> set[tuple]:
    """Expected answer of the read-your-writes report over a last-wins
    state: per product, ``(product_id, name, category, n_orders,
    revenue_mills)`` with revenue in integer thousandths."""
    agg: dict[str, list[int]] = {}
    for row in state.values():
        a = agg.setdefault(row[1], [0, 0])
        a[0] += 1
        a[1] += row[3] * round(row[5] * 1000)
    names = {pid: (name, cat) for pid, name, cat in inventory}
    return {(pid, *names[pid], n, rev) for pid, (n, rev) in agg.items()}


def write_csv(path: str, header: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write(header + "\n")
        f.write("\n".join(lines) + "\n")


# --------------------------------------------------------------------------
# star-schema catalog (FIXTURES.md §2 shapes)
# --------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = (
    "a the data spark table query row column key value hash join merge sort "
    "scan filter group agg window stream batch vector part order customer "
    "line big small fast slow"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
# TPC-H scale of the star tables (1.0 = 6M lineitems, so 0.01 = 60k) and
# corpus sizes.
CATALOG_SCALE = 0.01
N_DOCS = 1000
N_VECS = 500


def write_catalog(out_dir: str, seed: int) -> None:
    """Write region..lineitem at TPC-H-like scale ``CATALOG_SCALE`` plus
    ``N_DOCS`` documents and ``N_VECS`` 64-d unit embeddings."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict[str, pa.Array]) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def names(prefix: str, n: int) -> list[str]:
        return [f"{prefix}#{i:09d}" for i in range(n)]

    n_cust = int(150_000 * CATALOG_SCALE)
    n_supp = int(10_000 * CATALOG_SCALE)
    n_part = int(200_000 * CATALOG_SCALE)
    n_ord = int(1_500_000 * CATALOG_SCALE)
    n_li = 4 * n_ord
    day = np.timedelta64(1, "D")
    start = np.datetime64("1995-01-01T00:00:00", "us")

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
    put(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    put(
        "customer",
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)].tolist(),
        },
    )
    put(
        "supplier",
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
    )
    adj = np.array(_PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, 8, n_part)]
    put(
        "part",
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun).tolist(),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)].tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        },
    )
    put(
        "orders",
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": pa.array(start + rng.integers(0, 2404, n_ord) * day, pa.timestamp("us")),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)].tolist(),
        },
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put(
        "lineitem",
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
            "l_shipdate": pa.array(start + rng.integers(1, 2499, n_li) * day, pa.timestamp("us")),
        },
    )

    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]) for _ in range(N_DOCS)]
    # planted near-duplicates ("... dup") and a few exact copies
    for i in rng.choice(N_DOCS, N_DOCS // 20, replace=False):
        texts[i] = texts[rng.integers(0, N_DOCS)] + " dup"
    for i in rng.choice(N_DOCS, max(1, N_DOCS // 600), replace=False):
        texts[i] = texts[rng.integers(0, N_DOCS)]
    put(
        "documents",
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, 5, N_DOCS)].tolist(),
            "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
    )
    vecs = rng.standard_normal((N_VECS, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put(
        "embeddings",
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
        },
    )
