"""Seeded parquet tables for the ``registry`` workload.

The registry rows read ten tables (``TABLES``) through
``sources.readers.load_table``.  This module writes them from a seed with
the column names, types and value domains of the TPC-H-like test tables the
rows were written against (region/nation names, part types, date ranges,
64-dimensional embeddings with ten labels), at the sizes in ``SIZES``.
A share of the documents are near-copies of earlier ones so the
near-duplicate rows have pairs to find.  Same seed, same bytes.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
SIZES = {"customer": 750, "supplier": 50, "part": 1000, "orders": 7500,
         "lineitem": 30000, "events": 5000, "documents": 300, "embeddings": 300}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENT_USERS = 150
EVENT_DAYS = 30
LANGS = (["en"] * 3) + ["de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EMB_DIM, EMB_LABELS = 64, 10
NEAR_DUP_SHARE = 0.1     # documents that copy an earlier one with edits


def _day(base: dt.datetime, rng: random.Random, days: int) -> dt.datetime:
    return base + dt.timedelta(days=rng.randrange(days))


def build(seed: int) -> dict:
    """Every table as a ``pyarrow.Table``."""
    import pyarrow as pa

    rng = random.Random(seed)
    n = SIZES
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(NATIONS)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array([rng.randrange(NATIONS) for _ in range(n["customer"])],
                                pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n["customer"])],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n["customer"])]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array([rng.randrange(NATIONS) for _ in range(n["supplier"])],
                                pa.int32()),
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n["supplier"])]})
    colors, nouns = ["red", "blue", "green", "small", "large"], ["bolt", "ring", "widget", "gear"]
    prices = [round(900.0 + (i % 2000) / 10.0, 2) for i in range(n["part"])]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{rng.choice(colors)} {rng.choice(nouns)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n["part"])],
        "p_type": [rng.choice(PART_TYPES) for _ in range(n["part"])],
        "p_size": pa.array([rng.randrange(1, 51) for _ in range(n["part"])], pa.int32()),
        "p_retailprice": prices})
    d0 = dt.datetime(1995, 1, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n["customer"]) for _ in range(n["orders"])],
                              pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": [round(rng.uniform(1000.0, 500000.0), 2) for _ in range(n["orders"])],
        "o_orderdate": pa.array([_day(d0, rng, 2404) for _ in range(n["orders"])],
                                pa.timestamp("us")),
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n["orders"])]})
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate")}
    for _ in range(n["lineitem"]):
        part = rng.randrange(n["part"])
        qty = float(rng.randrange(1, 51))
        li["l_orderkey"].append(rng.randrange(n["orders"]))
        li["l_partkey"].append(part)
        li["l_suppkey"].append(rng.randrange(n["supplier"]))
        li["l_linenumber"].append(rng.randrange(1, 8))
        li["l_quantity"].append(qty)
        li["l_extendedprice"].append(round(qty * prices[part], 2))
        li["l_discount"].append(rng.randrange(11) / 100.0)
        li["l_tax"].append(rng.randrange(9) / 100.0)
        li["l_returnflag"].append(rng.choice("ANR"))
        li["l_linestatus"].append(rng.choice("FO"))
        li["l_shipdate"].append(_day(dt.datetime(1995, 1, 2), rng, 2498))
    t["lineitem"] = pa.table({
        **li,
        "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(li["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        "l_shipdate": pa.array(li["l_shipdate"], pa.timestamp("us"))})
    e0 = dt.datetime(2024, 1, 1)
    span_us = EVENT_DAYS * 86400 * 10**6
    ts = sorted(rng.randrange(span_us) for _ in range(n["events"]))
    t["events"] = pa.table({
        "event_id": pa.array(range(n["events"]), pa.int64()),
        "ts": pa.array([e0 + dt.timedelta(microseconds=x) for x in ts], pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(EVENT_USERS) for _ in ts], pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in ts],
        "value": [round(min(490.0, 0.01 + rng.expovariate(1 / 20.0)), 2) for _ in ts],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in ts]})
    texts: list[str] = []
    for i in range(n["documents"]):
        if texts and rng.random() < NEAR_DUP_SHARE:
            words = rng.choice(texts).split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randrange(8, 90))]
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in texts],
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    centers = [[rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)] for _ in range(EMB_LABELS)]
    vecs, labels = [], []
    for _ in range(n["embeddings"]):
        lab = rng.randrange(EMB_LABELS)
        v = [c + rng.gauss(0.0, 1.2) for c in centers[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(lab)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(seed: int, out_dir: str) -> int:
    """Write ``<table>.parquet`` for every table; returns total rows."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, tab in build(seed).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
        rows += tab.num_rows
    return rows
