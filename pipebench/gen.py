"""Seeded input generators for the pipeline benchmark.

Two families of inputs, both pure numpy/pyarrow (no Spark at generation):

- ``write_pipeline_sources``: the three DeepBook sources the 7-model DAG
  reads (``sui.events``, ``sui.objects``, ``prices.day``), with the column
  layout of ``tests/fixtures.py``. Each source is a directory holding one
  parquet file per day, sorted on ``timestamp_ms``, so a tick adds one file
  and a watermark filter can skip whole files on their footer min/max.
  Every amount is an integer-valued double, so sums are exact in any
  summation order and an incremental build can be hash-compared with a
  full refresh.
- ``write_query_tables``: the star schema (``region`` … ``lineitem``), the
  ``events`` stream, ``documents`` and ``embeddings`` that the
  operator-library queries read, in the column layout and value domains
  of the repository's scale-factor test data.

The same ``seed`` always yields byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PACKAGE = "0x97d9473771b01f77b0940c589484184b49f6444627ec121314fae6a6d36fb86b"
DAY_MS = 86_400_000
# day 0 of every generated history starts here (2026-01-01T00:00:00Z)
EPOCH_MS = 1_767_225_600_000

EVENT_TYPES = {
    "borrow": "margin_manager::LoanBorrowedEvent",
    "repay": "margin_manager::LoanRepaidEvent",
    "deposit": "margin_manager::DepositCollateralEvent",
    "supply": "margin_pool::AssetSupplied",
    "withdraw": "margin_pool::AssetWithdrawn",
}
# model name → event type suffix (the 5 event models of models_deepbook)
EVENT_MODELS = {
    "deepbook_margin_loan_borrowed": EVENT_TYPES["borrow"],
    "deepbook_margin_loan_repaid": EVENT_TYPES["repay"],
    "deepbook_margin_deposit_collateral": EVENT_TYPES["deposit"],
    "deepbook_margin_pool_asset_supplied": EVENT_TYPES["supply"],
    "deepbook_margin_pool_asset_withdrawn": EVENT_TYPES["withdraw"],
}
OTHER_TYPES = [
    "0x2::coin::CoinCreated",
    "0xdee9::clob_v2::OrderPlaced",
    "0xdee9::clob_v2::OrderFilled",
    "0x3::validator::StakingRequestEvent",
]
POOLS = [
    ("0xpool_sui", "0x2::sui::SUI"),
    ("0xpool_usdc", "0xdba34672e30cb065b1f93e3ab55318768fd6fef66c15942c9f7cb846e2f900e7::usdc::USDC"),
    ("0xpool_deep", "0xdeeb7a4662eec9f2f3def03fb937a663dddaa2e215b8078a284d026b7946c270::deep::DEEP"),
    ("0xpool_wusdc", "0x5d4b302506645c37ff133b98c4b50a5ae14841659738d6d733d59d0d217a93bf::coin::COIN"),
    ("0xpool_mystery", "0xmystery::coin::MYST"),
]
POOL_TYPE_PREFIX = f"{PACKAGE}::margin_pool::MarginPool<"

EVENTS_SCHEMA = pa.schema([
    ("transaction_digest", pa.string()),
    ("event_index", pa.int64()),
    ("timestamp_ms", pa.int64()),
    ("sender", pa.string()),
    ("event_type", pa.string()),
    ("event_json", pa.string()),
])
OBJECTS_SCHEMA = pa.schema([
    ("object_id", pa.string()),
    ("version", pa.int64()),
    ("type_", pa.string()),
    ("object_status", pa.string()),
    ("object_json", pa.string()),
    ("timestamp_ms", pa.int64()),
])
PRICES_SCHEMA = pa.schema([
    ("timestamp", pa.timestamp("us")),
    ("symbol", pa.string()),
    ("price", pa.float64()),
    ("blockchain", pa.string()),
])
SOURCE_DIRS = {"sui.events": "sui_events", "sui.objects": "sui_objects", "prices.day": "prices_day"}


def _day_rng(seed: int, table: int, day: int) -> np.random.Generator:
    # one independent stream per (table, day): a day's file does not depend
    # on how many days were generated before it
    return np.random.default_rng([seed, table, day])


def _event_payload(kind: str, amount: int, shares: int, pool: str, asset: str,
                   manager: int, cap: int, dec: int, price: int, ts: int) -> str:
    if kind == "borrow":
        return (f'{{"loan_amount": "{amount}", "loan_shares": "{shares}", '
                f'"margin_manager_id": "0xmgr{manager}", "margin_pool_id": "{pool}", '
                f'"timestamp": "{ts}"}}')
    if kind == "repay":
        return (f'{{"margin_manager_id": "0xmgr{manager}", "margin_pool_id": "{pool}", '
                f'"repay_amount": "{amount}", "repay_shares": "{shares}", '
                f'"timestamp": "{ts}"}}')
    if kind == "deposit":
        return (f'{{"amount": "{amount}", "asset": {{"name": "{asset}"}}, '
                f'"margin_manager_id": "0xmgr{manager}", "pyth_decimals": "{dec}", '
                f'"pyth_price": "{price}", "timestamp": "{ts}"}}')
    verb = "supply" if kind == "supply" else "withdraw"
    return (f'{{"margin_pool_id": "{pool}", "supplier_cap_id": "0xcap{cap}", '
            f'"asset_type": {{"name": "{asset}"}}, "{verb}_amount": "{amount}", '
            f'"{verb}_shares": "{shares}", "timestamp": "{ts}"}}')


def events_day(seed: int, day: int, n: int, margin_frac: float) -> pa.Table:
    """One day of ``sui.events``: ``n`` events, ``margin_frac`` of them
    spread over the 5 margin event types (a few with a malformed amount),
    the rest unrelated types. Two events per transaction digest."""
    rng = _day_rng(seed, 0, day)
    ts = np.sort(EPOCH_MS + day * DAY_MS + rng.integers(0, DAY_MS, n))
    is_margin = rng.random(n) < margin_frac
    kinds = rng.integers(0, len(EVENT_TYPES), n)
    pools = rng.integers(0, len(POOLS), n)
    amounts = rng.integers(1_000_000, 5_000_000_000, n)
    shares = amounts - rng.integers(0, 1_000_000, n)
    managers = rng.integers(0, 64, n)
    caps = rng.integers(0, 16, n)
    decs = rng.choice([6, 8, 9], n)
    prices = rng.integers(5_000, 50_000, n)
    senders = rng.integers(0, 500, n)
    others = rng.integers(0, len(OTHER_TYPES), n)
    malformed = rng.random(n) < 0.002
    kind_names = list(EVENT_TYPES)
    etype, payload = [], []
    for i in range(n):
        if is_margin[i]:
            k = kind_names[kinds[i]]
            pool, asset = POOLS[pools[i]]
            etype.append(f"{PACKAGE}::{EVENT_TYPES[k]}")
            if malformed[i]:
                payload.append(f'{{"loan_amount": "not-a-number", "margin_pool_id": "{pool}"}}')
            else:
                payload.append(_event_payload(
                    k, int(amounts[i]), int(shares[i]), pool, asset, int(managers[i]),
                    int(caps[i]), int(decs[i]), int(prices[i]), int(ts[i])))
        else:
            etype.append(OTHER_TYPES[others[i]])
            payload.append(f'{{"x": {int(amounts[i]) % 1000}}}')
    idx = np.arange(n)
    return pa.table({
        "transaction_digest": [f"0x{seed:x}d{day}t{j}" for j in idx // 2],
        "event_index": idx % 2,
        "timestamp_ms": ts,
        "sender": [f"0xsender{s}" for s in senders],
        "event_type": etype,
        "event_json": payload,
    }, schema=EVENTS_SCHEMA)


def objects_day(seed: int, day: int, n: int) -> pa.Table:
    """One day of ``sui.objects``: ``n`` versioned MarginPool<T> blobs
    round-robin over the pools (several versions per pool and day, so the
    fact model's latest-state dedup has work), plus unrelated objects."""
    rng = _day_rng(seed, 1, day)
    ts = np.sort(EPOCH_MS + day * DAY_MS + rng.integers(0, DAY_MS, n))
    supply = rng.integers(0, 10**13, n)
    borrow = (supply * rng.random(n) * 0.9).astype(np.int64)
    zero_shares = rng.random(n) < 0.05
    misc = rng.integers(0, 10**6, (n, 4))
    flags = rng.integers(0, 2, (n, 2))
    rows = {c: [] for c in OBJECTS_SCHEMA.names}
    for i in range(n):
        ts_i = int(ts[i])
        if i % 10 == 9:  # an unrelated object type (filtered by the LIKE prefix)
            oid, typ, blob = f"0xnoise{i}", "0xother::module::Whatever<T>", f'{{"id": {{"id": "0xnoise{i}"}}}}'
        else:
            oid, asset = POOLS[i % len(POOLS)]
            typ = f"{POOL_TYPE_PREFIX}{asset}>"
            s, b = int(supply[i]), int(borrow[i])
            ss = 0 if zero_shares[i] else s - s // 50
            tf = ("true", "false")
            blob = (
                f'{{"id": {{"id": "{oid}"}}, "state": {{"total_borrow": "{b}", '
                f'"total_supply": "{s}", "borrow_shares": "{b - b // 40}", '
                f'"supply_shares": "{ss}", "last_update_timestamp": "{ts_i}"}}, '
                f'"vault": "{s - b}", "protocol_fees": {{"fees_per_share": "{misc[i, 0]}", '
                f'"maintainer_fees": "{misc[i, 1]}", "protocol_fees": "{misc[i, 2]}", '
                f'"total_shares": "{ss}", "referrals": {{"size": "{misc[i, 3] % 50}"}}}}, '
                f'"positions": {{"positions": {{"size": "{misc[i, 3] % 200}", "id": {{"id": "0xtbl{oid}"}}}}}}, '
                f'"config": {{"interest_config": {{"base_rate": "50000000", "base_slope": "100000000", '
                f'"excess_slope": "2000000000", "optimal_utilization": "800000000"}}, '
                f'"margin_pool_config": {{"max_utilization_rate": "950000000", "min_borrow": "1000000", '
                f'"protocol_spread": "100000000", "supply_cap": "1000000000000000", '
                f'"rate_limit_enabled": "{tf[flags[i, 0]]}", "rate_limit_capacity": "1000000000000"}}}}, '
                f'"rate_limiter": {{"available": "{misc[i, 0] * 1000}", "capacity": "1000000000000", '
                f'"enabled": "{tf[flags[i, 1]]}", "last_updated_ms": "{ts_i}"}}, '
                f'"allowed_deepbook_pools": {{"contents": ["0xdb0", "0xdb1", "0xdb2"]}}}}'
            )
        rows["object_id"].append(oid)
        rows["version"].append((day * n + i) + 1000)
        rows["type_"].append(typ)
        rows["object_status"].append("Exists")
        rows["object_json"].append(blob)
        rows["timestamp_ms"].append(ts_i)
    return pa.table(rows, schema=OBJECTS_SCHEMA)


def prices_day(seed: int, day: int) -> pa.Table:
    """One day of ``prices.day``: intraday duplicate prices per symbol
    (incl. a mixed-case symbol and stablecoins off 1.0), a missing DEEP
    price every fifth day, and one wrong-chain row."""
    rng = _day_rng(seed, 2, day)
    start_us = (EPOCH_MS + day * DAY_MS) * 1000
    ts, sym, price, chain = [], [], [], []
    for s, base in (("SUI", 3.5), ("USDC", 1.0002), ("DEEP", 0.15), ("Sui", 3.4)):
        if s == "DEEP" and day % 5 == 0:
            continue
        for hour in (0, 12, 23):
            ts.append(start_us + hour * 3_600_000_000)
            sym.append(s)
            price.append(round(base * float(rng.uniform(0.95, 1.05)), 6))
            chain.append("sui")
    ts.append(start_us)
    sym.append("SUI")
    price.append(99.9)
    chain.append("ethereum")
    return pa.table({"timestamp": ts, "symbol": sym, "price": price, "blockchain": chain},
                    schema=PRICES_SCHEMA)


def source_file(root: str, key: str, day: int) -> str:
    return os.path.join(root, SOURCE_DIRS[key], f"day-{day:04d}.parquet")


def write_pipeline_sources(root: str, seed: int, days: int, events_per_day: int,
                           margin_frac: float = 0.2, objects_per_day: int = 200) -> dict[str, str]:
    """Write ``days`` days of the three sources under ``root`` (one file
    per source and day); returns the ``{source key: directory}`` mapping
    a ``Runner`` takes."""
    for key in SOURCE_DIRS:
        os.makedirs(os.path.join(root, SOURCE_DIRS[key]), exist_ok=True)
    for day in range(days):
        pq.write_table(events_day(seed, day, events_per_day, margin_frac),
                       source_file(root, "sui.events", day))
        pq.write_table(objects_day(seed, day, objects_per_day), source_file(root, "sui.objects", day))
        pq.write_table(prices_day(seed, day), source_file(root, "prices.day", day))
    return {key: os.path.join(root, d) for key, d in SOURCE_DIRS.items()}


# ------------------------------------------------------------ query tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "small", "large", "hot", "old", "green", "bright"]
PART_NOUN = ["anvil", "widget", "plate", "ring", "rod", "bolt", "gear", "spring"]
STREAM_EVENTS = ["click", "view", "purchase", "signup", "error"]
ORDER_DAY0 = np.datetime64("1995-01-01", "us")
US_PER_DAY = 86_400_000_000


def query_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star schema, the ``events`` stream, ``documents`` (with planted
    near-duplicates) and clustered unit ``embeddings`` at scale factor
    ``sf`` (sf 0.01 ≈ 60k lineitems, 10k events, 500 documents),
    deterministic in ``seed``."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
    })
    odate = ORDER_DAY0 + rng.integers(0, 2404, n_ord) * np.timedelta64(US_PER_DAY, "us")
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    li_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    li_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n_li), 2)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * np.timedelta64(US_PER_DAY, "us")
    li_price = pa.table({"o": li_order, "p": price}).group_by("o").aggregate([("p", "sum")])
    totals = np.zeros(n_ord)
    totals[li_price["o"].to_numpy()] = li_price["p_sum"].to_numpy()
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(totals, 2),
        "o_orderdate": odate,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": li_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": li_num,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ship,
    })
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * US_PER_DAY, n_ev)) * np.timedelta64(1, "us")
    n_doc = max(200, int(50_000 * sf))
    words = [f"w{i}" for i in range(400)]
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier document
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, 400))]
        else:
            toks = [words[w] for w in rng.zipf(1.3, int(rng.integers(8, 90))) % 400]
        texts.append(" ".join(toks))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n_doc)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
            pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(150, n_ev // 60), n_ev),
        "event_type": np.array(STREAM_EVENTS)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(10, 100, n_ev)],
    })
    return t


def write_query_tables(root: str, seed: int, sf: float) -> str:
    """Write the query tables as ``<root>/<table>.parquet``; returns ``root``."""
    os.makedirs(root, exist_ok=True)
    for name, table in query_tables(seed, sf).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root
