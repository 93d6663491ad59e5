"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same parquet files, byte for byte.

* ``ticks``: a single-symbol EUR/USD stream at one tick per minute
  (1,440 ticks/day), a random-walk price, ~1 % duplicate ticks and a few
  late ticks per landed day whose timestamps fall below the silver
  watermark.  The history lands as one ``events.parquet`` directory; every
  later day lands as its own directory, as a daily extract would.
* ``tables``: the star-schema tables the query modules read (``events``,
  ``lineitem``, ``orders``, ``customer``, ``supplier``, ``part``,
  ``nation``, ``region``, ``documents``, ``embeddings``), with the same
  columns, types and value domains as the project's test data.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
TICKS_PER_DAY = 1440
DUP_FRACTION = 0.01
LATE_PER_DAY = 5

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def day_start(day: int) -> dt.datetime:
    return EPOCH + dt.timedelta(days=day)


def day_date(day: int) -> str:
    return day_start(day).date().isoformat()


class TickStream:
    """Canonical ticks per day (one per minute) plus the noise a real feed
    adds on landing: exact duplicates under a new event id, and late ticks
    stamped on the previous day between two minutes."""

    def __init__(self, seed: int, days: int):
        rng = np.random.default_rng(seed)
        n = days * TICKS_PER_DAY
        steps = rng.normal(0.0, 0.0002, n)
        self.price = np.round(1.08 + np.cumsum(steps), 5)
        self.rng = rng
        self.next_id = 0

    def canonical(self, day: int):
        """(ts as µs since epoch, price) of the day's distinct ticks."""
        base = int(day_start(day).replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
        ts = base + np.arange(TICKS_PER_DAY, dtype=np.int64) * 60_000_000
        lo = day * TICKS_PER_DAY
        return ts, self.price[lo:lo + TICKS_PER_DAY]

    def landing(self, days, late: bool) -> pa.Table:
        """One extract covering ``days``: canonical ticks, ~1 % duplicates,
        and (if ``late``) late ticks stamped on the day before each day."""
        ts_parts, px_parts = [], []
        for d in days:
            ts, px = self.canonical(d)
            dup = self.rng.random(len(ts)) < DUP_FRACTION
            ts_parts += [ts, ts[dup]]
            px_parts += [px, px[dup]]
            if late:
                prev_ts, prev_px = self.canonical(d - 1)
                # strictly below the previous day's last tick, the silver watermark
                pick = self.rng.choice(len(prev_ts) - 1, LATE_PER_DAY, replace=False)
                ts_parts.append(prev_ts[pick] + 30_000_000)
                px_parts.append(np.round(prev_px[pick] + 0.00005, 5))
        ts = np.concatenate(ts_parts)
        px = np.concatenate(px_parts)
        order = np.argsort(ts, kind="stable")
        n = len(ts)
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return pa.table({
            "event_id": ids,
            "ts": pa.array(ts[order], pa.timestamp("us")),
            "user_id": np.zeros(n, dtype=np.int64),
            "event_type": pa.array(["EUR/USD"] * n),
            "value": px[order],
            "props": pa.array(['{"k": 0}'] * n),
        }, schema=EVENTS_SCHEMA)


def ticks(out: str, seed: int, history_days: int, daily: int):
    """Write the pipeline inputs under ``out`` and return the schedule.

    Layout: ``history/events.parquet`` holds days ``[0, history_days)``;
    ``daily_<k>/events.parquet`` lands day ``history_days + k``;
    ``backfill_<k>/events.parquet`` re-lands one recent historical day.
    The returned plan lists ``(kind, dir, date)`` in landing order: each
    daily run follows one backfill of a day drawn from the 30 days before
    the newest landed day, so the plan ends with a daily run.
    """
    stream = TickStream(seed, history_days + daily)
    _write(stream.landing(range(history_days), late=False),
           os.path.join(out, "history", "events.parquet"))
    plan = []
    for k in range(daily):
        d = history_days + k - 1 - 2 - int(stream.rng.integers(0, 28))
        rel = f"backfill_{k}"
        _write(stream.landing([d], late=False), os.path.join(out, rel, "events.parquet"))
        plan.append(("backfill", rel, day_date(d)))
        rel = f"daily_{k}"
        _write(stream.landing([history_days + k], late=True),
               os.path.join(out, rel, "events.parquet"))
        plan.append(("daily", rel, day_date(history_days + k)))
    return stream, plan


def expected_silver(stream: TickStream, landed_days: int):
    """Distinct canonical ticks of every landed day: the silver table a
    correct run must hold (late ticks are below the watermark and dropped;
    duplicates collapse onto their key)."""
    ts, px = zip(*(stream.canonical(d) for d in range(landed_days)))
    return np.concatenate(ts), np.concatenate(px)


# ------------------------------------------------------------------ tables

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]


def _dates(rng, n, lo: dt.datetime, hi: dt.datetime):
    days = (hi - lo).days
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist())


def tables(out: str, seed: int, scale: float = 0.01) -> None:
    """Write the query modules' tables for ``scale`` (0.01 ≈ 60k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc = n_emb = 500

    def w(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    os.makedirs(out, exist_ok=True)
    w("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    w("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    w("customer", {"c_custkey": np.arange(n_cust, dtype=np.int64),
                   "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                   "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                   "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                   "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    w("supplier", {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                   "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                   "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                   "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = [f"{ADJ[a]} {NOUN[b]}" for a, b in
             zip(rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    w("part", {"p_partkey": np.arange(n_part, dtype=np.int64), "p_name": names,
               "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
               "p_type": _pick(rng, PTYPES, n_part),
               "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
               "p_retailprice": retail})
    w("orders", {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                 "o_custkey": rng.integers(0, n_cust, n_ord),
                 "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                 "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
                 "o_orderdate": pa.array(_dates(rng, n_ord, dt.datetime(1995, 1, 1),
                                                dt.datetime(2001, 8, 1)), pa.timestamp("us")),
                 "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    w("lineitem", {"l_orderkey": rng.integers(0, n_ord, n_li),
                   "l_partkey": partkey,
                   "l_suppkey": rng.integers(0, n_supp, n_li),
                   "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                   "l_quantity": qty,
                   "l_extendedprice": np.round(qty * retail[partkey], 2),
                   "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
                   "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
                   "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                   "l_linestatus": _pick(rng, ["F", "O"], n_li),
                   "l_shipdate": pa.array(_dates(rng, n_li, dt.datetime(1995, 1, 2),
                                                 dt.datetime(2001, 11, 4)), pa.timestamp("us"))})
    ev_ts = np.sort(np.datetime64(EPOCH, "us")
                    + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]"))
    w("events", {"event_id": np.arange(n_ev, dtype=np.int64),
                 "ts": pa.array(ev_ts, pa.timestamp("us")),
                 "user_id": rng.integers(0, max(150, n_ev // 66), n_ev),
                 "event_type": _pick(rng, EVENT_TYPES, n_ev),
                 "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
                 "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.15:
            # near-duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            words.append(WORDS[int(rng.integers(0, len(WORDS)))])
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    w("documents", {"doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
                    "lang": _pick(rng, LANGS, n_doc),
                    "source": [f"src{i % 20}" for i in range(n_doc)],
                    "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    w("embeddings", {"vec_id": np.arange(n_emb, dtype=np.int64),
                     "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
                     "label": pa.array(labels, pa.int32())})
