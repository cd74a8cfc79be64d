"""Seeded input generators owned by the benchmark.

* ``write_corpus`` — the ten fixture tables the registry queries read
  (TPC-H-shaped star schema, ``events``, ``documents``, ``embeddings``),
  one ``<table>.parquet`` file each, with the shapes and value domains of
  the fixtures described in FIXTURES.md §3.
* ``transactions_table`` — the 31-column ``TRANSACTION_SCHEMA`` plus
  ``event_date``, vectorized in NumPy, with the reference seeder's
  weights from ``tests/factories.py``.
* ``FileStreamGenerator`` — an open-loop file source: it publishes one
  parquet file per tick by atomic rename, stamping each event's creation
  time (the tick's due time) into ``event_timestamp``.

The same seed gives the same rows; the program only ever sees the files.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tests import factories as ref

# ---------------------------------------------------------------------------
# Query corpus
# ---------------------------------------------------------------------------

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_W = [0.412, 0.151, 0.149, 0.148, 0.140]
PART_WORDS = ["blue", "red", "green", "small", "large", "shiny", "steel", "copper"]
PART_NOUNS = ["anvil", "widget", "gear", "bolt", "spring", "valve", "lever", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1_000_000).astype("timedelta64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def corpus_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The fixture tables at scale ``sf`` (sf0.01 ≈ 60k lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 200)
    n_line = 4 * n_ord
    n_evt = max(int(1_000_000 * sf), 500)
    n_users = max(int(15_000 * sf), 20)
    n_docs = max(int(50_000 * sf), 100)
    n_vec = max(int(50_000 * sf), 100)

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_NOUNS[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
    })
    order_days = rng.integers(0, 2404, n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts("1995-01-01", order_days * 86_400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    l_order = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(
            "1995-01-02", (order_days[l_order] + rng.integers(0, 95, n_line)) * 86_400),
    })
    events = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86_400, n_evt))),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(60, n_evt) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = [
        " ".join(rng.choice(VOCAB, int(k)))
        for k in rng.integers(10, 101, n_docs)
    ]
    for i in range(1, n_docs):  # 5% near-dups and 0.16% exact dups
        roll = rng.random()
        if roll < 0.0016:
            texts[i] = texts[int(rng.integers(0, i))]
        elif roll < 0.0516:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_W),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_corpus(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in corpus_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Transactions
# ---------------------------------------------------------------------------


def _take(pool, idx: np.ndarray) -> pa.Array:
    return pa.array(pool, pa.string()).take(pa.array(idx))


def _draw(rng: np.random.Generator, labels, weights, n: int) -> pa.Array:
    w = np.asarray(weights, dtype=float)
    return _take(labels, rng.choice(len(labels), n, p=w / w.sum()))


def _fmt(prefix: str, values: np.ndarray, width: int = 0) -> pa.Array:
    digits = pc.cast(pa.array(values), pa.string())
    if width:
        digits = pc.utf8_lpad(digits, width, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def transactions_table(n: int, seed: int, days: int, end_date: str) -> pa.Table:
    """``n`` rows of the 31-column ``TRANSACTION_SCHEMA`` plus
    ``event_date``, spread over ``days`` days before ``end_date``, drawn
    with the reference seeder's weights (``tests/factories.py``):
    electronics 20%, grocery 22%, west 28%, mobile_app 35%, credit_card
    30%, gold 15%, fraud 2%, completed 92%. Vectorized: strings come from
    small pools by index, never from a per-row Python loop."""
    rng = np.random.default_rng(seed)
    cats = list(ref.CATEGORIES)
    cat_i = rng.choice(len(cats), n, p=[ref.CATEGORIES[c]["weight"] for c in cats])
    lo = np.array([ref.CATEGORIES[c]["price_range"][0] for c in cats])[cat_i]
    hi = np.array([ref.CATEGORIES[c]["price_range"][1] for c in cats])[cat_i]
    unit_price = np.round(lo + rng.random(n) * (hi - lo), 2)
    u = rng.random(n)
    quantity = np.where(u < 0.7, 1, np.where(u < 0.9, 2, rng.integers(3, 6, n))).astype(np.int32)
    u = rng.random(n)
    discount = np.where(u < 0.6, 0.0, np.where(
        u < 0.9, np.round(rng.uniform(5, 15, n), 1), np.round(rng.uniform(20, 50, n), 1)))
    total = np.round(quantity * unit_price * (1 - discount / 100), 2)
    # Product pool: 50 products per category, each with a fixed
    # sub-category and brand.
    products = []
    for c in cats:
        spec = ref.CATEGORIES[c]
        for k in range(50):
            sub = spec["sub_cats"][k % len(spec["sub_cats"])]
            brand = ref.BRANDS[c][k % len(ref.BRANDS[c])]
            products.append((f"SKU-{c[:3].upper()}-{k:05d}",
                             f"{brand} {sub.replace('_', ' ').title()} #{k}", c, sub, brand))
    prod_i = cat_i * 50 + rng.integers(0, 50, n)
    product_cols = [_take([p[j] for p in products], prod_i) for j in range(5)]
    regions = list(ref.REGIONS)
    reg_i = rng.choice(len(regions), n, p=[ref.REGIONS[r]["weight"] for r in regions])
    city_i = reg_i * 4 + rng.integers(0, 4, n)
    cities = [c for r in regions for c in ref.REGIONS[r]["cities"]]
    states = [s for r in regions for s in ref.REGIONS[r]["states"]]
    stores = [f"STORE-{c[:3].upper()}-{k:03d}" for c in cities for k in range(50)]
    ch_w = np.asarray(ref.CHANNEL_WEIGHTS) / sum(ref.CHANNEL_WEIGHTS)
    ch_i = rng.choice(len(ref.CHANNELS), n, p=ch_w)
    digital = np.isin(np.asarray(ref.CHANNELS)[ch_i], ref.DIGITAL)
    pm_w = np.asarray(ref.PAYMENT_WEIGHTS) / sum(ref.PAYMENT_WEIGHTS)
    pm_i = rng.choice(len(ref.PAYMENT_METHODS), n, p=pm_w)
    card = np.isin(np.asarray(ref.PAYMENT_METHODS)[pm_i], ["credit_card", "debit_card"])
    fraud = rng.random(n) < ref.FRAUD_RATE
    fraud_score = np.round(np.where(fraud, rng.uniform(0.7, 1.0, n), rng.uniform(0, 0.15, n)), 4)
    hour = np.where(rng.random(n) < 0.8, rng.integers(8, 22, n), rng.integers(0, 24, n))
    end = dt.datetime.fromisoformat(end_date)
    start = np.datetime64(end - dt.timedelta(days=days), "s")
    secs = rng.integers(0, days, n) * 86_400 + hour * 3600 + rng.integers(0, 3600, n)
    event_ts = pa.array((start + secs.astype("timedelta64[s]")).astype("datetime64[us]"),
                        pa.timestamp("us", tz="UTC"))
    ids = np.arange(n)

    def only(mask: np.ndarray, values: pa.Array) -> pa.Array:
        return pc.if_else(pa.array(mask), values, pa.scalar(None, pa.string()))

    return pa.table({
        "transaction_id": _fmt(f"txn-{seed}-", ids, 10),
        "event_timestamp": event_ts,
        "processing_timestamp": event_ts,
        "customer_id": _fmt("CUST-", rng.integers(0, 5000, n), 8),
        "customer_tier": _draw(rng, ref.CUSTOMER_TIERS, ref.TIER_WEIGHTS, n),
        "product_id": product_cols[0],
        "product_name": product_cols[1],
        "category": product_cols[2],
        "sub_category": product_cols[3],
        "brand": product_cols[4],
        "quantity": quantity,
        "unit_price": unit_price,
        "discount_percent": discount,
        "total_amount": total,
        "tax_amount": np.round(total * 0.09, 2),
        "currency": _take(["USD"], np.zeros(n, dtype=np.int64)),
        "payment_method": _take(ref.PAYMENT_METHODS, pm_i),
        "card_network": only(card, _draw(rng, ref.CARD_NETWORKS, ref.CARD_WEIGHTS, n)),
        "transaction_status": _draw(rng, ref.STATUSES, ref.STATUS_WEIGHTS, n),
        "channel": _take(ref.CHANNELS, ch_i),
        "store_id": only(~digital, _take(stores, city_i * 50 + rng.integers(0, 50, n))),
        "region": _take(regions, reg_i),
        "city": _take(cities, city_i),
        "state": _take(states, city_i),
        "postal_code": _fmt("", rng.integers(100_000, 1_000_000, n)),
        "device_type": only(digital, _draw(
            rng, ["android", "ios", "desktop", "tablet"], [4, 3, 2, 1], n)),
        "session_id": only(digital, _fmt("sess-", ids * 7919 + seed, 12)),
        "ip_address": _fmt("10.0.", ids % 256),
        "is_fraudulent": fraud,
        "fraud_score": fraud_score,
        "batch_id": pa.nulls(n, pa.string()),
        "event_date": pc.cast(event_ts, pa.date32()),
    })


def write_transactions(out_dir: str, n: int, seed: int, days: int, end_date: str) -> None:
    """``event_date``-partitioned parquet (hive layout, one file per day)."""
    import pyarrow.dataset as ds

    ds.write_dataset(
        transactions_table(n, seed, days, end_date), out_dir, format="parquet",
        partitioning=ds.partitioning(pa.schema([("event_date", pa.date32())]), flavor="hive"),
        existing_data_behavior="overwrite_or_ignore")


# ---------------------------------------------------------------------------
# Open-loop stream source
# ---------------------------------------------------------------------------


class FileStreamGenerator:
    """Publishes ``rows_per_tick`` rows every ``tick_s`` seconds into
    ``out_dir`` on a fixed schedule that does not slow when the system
    slows. Rows come from ``pool`` (an Arrow table without
    ``event_timestamp``) in order; each file's events are stamped with
    the tick's due time, so latency counts from when the file was due.

    ``late_ms`` records, per tick, how late the publish finished after
    its due time — large values mean the generator, not the system,
    set the pace and the run is invalid.
    """

    def __init__(self, out_dir: str, pool: pa.Table, rows_per_tick: int,
                 tick_s: float) -> None:
        self.out_dir = out_dir
        self.pool = pool
        self.rows_per_tick = rows_per_tick
        self.tick_s = tick_s
        self.rows_published = 0
        self.files = 0
        self.late_ms: list[float] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._tmp = os.path.join(out_dir, "_tmp")
        os.makedirs(self._tmp, exist_ok=True)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, name="loadgen", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=30)
            if self._thread.is_alive():
                raise RuntimeError("load generator did not stop")

    def _loop(self) -> None:
        t0 = time.time()
        tick = 0
        while not self._stop.is_set():
            due = t0 + tick * self.tick_s
            delay = due - time.time()
            if delay > 0 and self._stop.wait(delay):
                break
            lo = (tick * self.rows_per_tick) % self.pool.num_rows
            rows = self.pool.slice(lo, self.rows_per_tick)
            if rows.num_rows < self.rows_per_tick:  # wrap around the pool
                rows = pa.concat_tables(
                    [rows, self.pool.slice(0, self.rows_per_tick - rows.num_rows)])
            # Unique ids per tick: the pool repeats, the stream must not.
            ids = pa.array([f"ev-{tick}-{i}" for i in range(rows.num_rows)])
            rows = rows.set_column(
                rows.schema.get_field_index("transaction_id"), "transaction_id", ids)
            stamp = pa.array(
                np.full(rows.num_rows, int(due * 1_000_000), dtype="datetime64[us]"),
                pa.timestamp("us", tz="UTC"))
            rows = rows.set_column(
                rows.schema.get_field_index("event_timestamp"), "event_timestamp", stamp)
            name = f"part-{tick:06d}.parquet"
            tmp = os.path.join(self._tmp, name)
            pq.write_table(rows, tmp)
            os.rename(tmp, os.path.join(self.out_dir, name))
            self.late_ms.append((time.time() - due) * 1000.0)
            self.rows_published += rows.num_rows
            self.files += 1
            tick += 1
