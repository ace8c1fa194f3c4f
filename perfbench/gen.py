"""Seeded input generators: payment files for the stream workloads and
the parquet tables the batch queries read.

Everything here is a pure function of the seed, so the same seed gives
the same inputs. Nothing imports Spark.
"""

from __future__ import annotations

import json
import os
import random
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RAILS_FOO = "BANK_RAILS_FOO"
RAILS_BAR = "BANK_RAILS_BAR"
RAILS_XXX = "BANK_RAILS_XXX"

# The dropped shares exercise the rails filter (BANK_RAILS_XXX) and the
# currency branch (EUR matches neither GBP nor USD), FIXTURES.md section 4.
RAILS_MIX = [(RAILS_FOO, 0.475), (RAILS_BAR, 0.475), (RAILS_XXX, 0.05)]
CURRENCY_MIX = [("GBP", 0.60), ("USD", 0.35), ("EUR", 0.05)]


class PaymentGen:
    """Payments after FIXTURES.md section 1: amounts uniform in
    10..10000, senders drawn Zipf-skewed from a fixed pool (so one heavy
    key exists), receivers uniform over a disjoint pool (they never send,
    so a lookup for one must return None)."""

    def __init__(self, seed: int, accounts: int, zipf_s: float):
        self._rng = random.Random(seed)
        self.senders = [f"ACC-{i:04d}" for i in range(accounts)]
        self.receivers = [f"DEF-{i:04d}" for i in range(accounts)]
        weights = [1.0 / (i + 1) ** zipf_s for i in range(accounts)]
        total = sum(weights)
        self._cum = np.cumsum([w / total for w in weights]).tolist()

    def _pick(self, mix):
        u = self._rng.random()
        acc = 0.0
        for value, share in mix:
            acc += share
            if u < acc:
                return value
        return mix[-1][0]

    def sender(self) -> str:
        u = self._rng.random()
        idx = int(np.searchsorted(self._cum, u, side="right"))
        return self.senders[min(idx, len(self.senders) - 1)]

    def payments(self, n: int) -> list[dict]:
        rng = self._rng
        out = []
        for _ in range(n):
            out.append(
                {
                    "paymentId": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
                    "amount": rng.randint(10, 10000),
                    "currency": self._pick(CURRENCY_MIX),
                    "toAccount": rng.choice(self.receivers),
                    "fromAccount": self.sender(),
                    "rails": self._pick(RAILS_MIX),
                }
            )
        return out


def publish(directory: str, name: str, payments: list[dict]) -> str:
    """Write one JSON-lines file atomically: the file source skips names
    that start with '.', so it never sees the file half written."""
    return publish_many(directory, [(name, payments)])[0]


def publish_many(directory: str, files: list[tuple[str, list[dict]]]) -> list[str]:
    """Publish several files at once: all are written under hidden names
    first and renamed together, so one listing of the source sees them
    all (a backlog, not a trickle)."""
    moves = []
    for name, payments in files:
        tmp = os.path.join(directory, "." + name + ".tmp")
        with open(tmp, "w") as f:
            f.write("".join(json.dumps(p, separators=(",", ":")) + "\n" for p in payments))
        moves.append((tmp, os.path.join(directory, name)))
    for tmp, final in moves:
        os.rename(tmp, final)
    return [final for _, final in moves]


# ---------------------------------------------------------------------------
# batch tables (the schemas of the TPC-H-ish testdata in TESTDATA.md)
# ---------------------------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = [("en", 0.44), ("zh", 0.15), ("de", 0.14), ("es", 0.14), ("fr", 0.13)]
PART_WORDS = (["small", "red", "blue", "hot", "old", "large"],
              ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"])
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _dates(rng, n, start="1995-01-01", days=2400):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def batch_tables(seed: int, scale: dict) -> dict[str, pa.Table]:
    """The ten testdata tables at the row counts in ``scale``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = scale["customer"], scale["supplier"], scale["part"]
    n_ord, n_line, n_ev = scale["orders"], scale["lineitem"], scale["events"]
    n_doc, n_emb = scale["documents"], scale["embeddings"]
    i32 = pa.int32()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(PART_WORDS[0])} {rng.choice(PART_WORDS[1])}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()})
    orderkey = np.sort(rng.integers(0, n_ord, n_line))
    # line numbers restart at 1 within each order
    starts = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    linenumber = np.arange(n_line) - np.repeat(starts, np.diff(np.r_[starts, n_line])) + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(linenumber, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": _dates(rng, n_line, days=2500)})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101))) for _ in range(n_doc)]
    # a few exact duplicates, as in the testdata corpus, and a few near
    # duplicates (two words replaced) so the fuzzy-dedup queries find pairs;
    # the copy lands 20 rows on, in the same source, because some queries
    # only pair documents within a source
    picks = rng.choice(n_doc - 20, 2 * max(1, n_doc // 100), replace=False)
    for k, j in enumerate(picks):
        words = texts[j].split(" ")
        if k % 2:
            for pos in rng.integers(0, len(words), 2):
                words[pos] = rng.choice(VOCAB)
        texts[j + 20] = " ".join(words)
    lang_p = np.array([p for _, p in LANGS])
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice([l for l, _ in LANGS], n_doc, p=lang_p / lang_p.sum()).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = np.clip(rng.normal(0.0, 0.15, (n_emb, 64)), -0.5, 0.5).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, emb.size + 1, 64, dtype=np.int32)), pa.array(emb.ravel())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return t


def write_tables(tables: dict[str, pa.Table], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
