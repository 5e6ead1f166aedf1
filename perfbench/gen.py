"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of ``seed`` (numpy ``default_rng``
streams keyed by ``[seed, <purpose>]``), so the same seed always yields
byte-identical inputs.  Nothing here imports Spark: inputs are written with
pyarrow / plain text before the engine starts.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- retail

#: Walmart-shaped triplet, scaled so one warm plan run stays near a second
#: at local[4]: sales = STORES x DEPTS x WEEKS rows.
RETAIL_STORES = 120
RETAIL_DEPTS = 12
RETAIL_WEEKS = 52
RETAIL_NA_SHARE = 0.02
_RETAIL_BASE = dt.date(2010, 2, 5)  # a Friday, as in the reference data


def retail_rows() -> dict[str, int]:
    """Input rows each plan run loads, per table."""
    return {
        "sales": RETAIL_STORES * RETAIL_DEPTS * RETAIL_WEEKS,
        "features": RETAIL_STORES * RETAIL_WEEKS,
        "stores": RETAIL_STORES,
    }


def _mdy(dates: list[dt.date]) -> np.ndarray:
    return np.array([d.strftime("%m/%d/%Y") for d in dates], dtype=object)


def _write_csv(path: str, header: list[str], cols: list[np.ndarray]) -> None:
    lines = [",".join(header)]
    lines.extend(",".join(row) for row in zip(*cols))
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100), n)
    return np.array([f"{c / 100:.2f}" for c in cents], dtype=object)


def make_retail(out_dir: str, seed: int) -> dict[str, str]:
    """Write sales/features/stores CSVs (header row, ``NA`` nulls,
    ``MM/DD/YYYY`` dates, ``TRUE``/``FALSE`` booleans); return their paths."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    weeks = [_RETAIL_BASE + dt.timedelta(weeks=k) for k in range(RETAIL_WEEKS)]
    week_str = _mdy(weeks)
    holiday = np.array(["TRUE" if k % 13 == 1 else "FALSE" for k in range(RETAIL_WEEKS)])
    stores = np.arange(1, RETAIL_STORES + 1)

    # sales: one row per (Store, Dept, week), rows in a seeded order
    s_idx, d_idx, w_idx = np.meshgrid(
        stores, np.arange(1, RETAIL_DEPTS + 1), np.arange(RETAIL_WEEKS), indexing="ij"
    )
    order = rng.permutation(s_idx.size)
    s_idx, d_idx, w_idx = (a.ravel()[order] for a in (s_idx, d_idx, w_idx))
    n = s_idx.size
    sales = _money(rng, -50.0, 60000.0, n)
    sales[rng.random(n) < RETAIL_NA_SHARE] = "NA"
    paths = {k: os.path.join(out_dir, f"{k}.csv") for k in ("sales", "features", "stores")}
    _write_csv(
        paths["sales"],
        ["Store", "Dept", "Date", "Weekly_Sales", "IsHoliday"],
        [s_idx.astype(str), d_idx.astype(str), week_str[w_idx], sales, holiday[w_idx]],
    )

    # features: one row per (Store, week)
    fs, fw = (a.ravel() for a in np.meshgrid(stores, np.arange(RETAIL_WEEKS), indexing="ij"))
    m = fs.size
    temp = _money(rng, -10.0, 100.0, m)
    temp[rng.random(m) < 0.01] = "NA"
    markdown = [_money(rng, 0.0, 9000.0, m) for _ in range(5)]
    for md in markdown:
        md[rng.random(m) < 0.7] = "NA"
    _write_csv(
        paths["features"],
        ["Store", "Date", "Temperature", "Fuel_Price"]
        + [f"MarkDown{i}" for i in range(1, 6)]
        + ["CPI", "Unemployment", "IsHoliday"],
        [fs.astype(str), week_str[fw], temp, _money(rng, 2.5, 4.5, m)]
        + markdown
        + [_money(rng, 126.0, 228.0, m), _money(rng, 3.5, 14.5, m), holiday[fw]],
    )

    _write_csv(
        paths["stores"],
        ["Store", "Type", "Size"],
        [
            stores.astype(str),
            np.array(["A", "B", "C"])[rng.integers(0, 3, RETAIL_STORES)],
            rng.integers(30000, 220000, RETAIL_STORES).astype(str),
        ],
    )
    return paths


# ---------------------------------------------------------------- upsert

#: Rows per increment and the share of them that update recent keys.
TICK_ROWS = 5000
TICK_UPDATE_SHARE = 0.10
TICK_REPEAT_SHARE = 0.02  # keys repeated inside one increment
TICKS_PER_DAY = 4  # each tick covers six hours of event time
_TICK_EPOCH = dt.datetime(2024, 3, 1)
_TICK_SPAN_US = 6 * 3600 * 1_000_000

UPSERT_SCHEMA = pa.schema(
    [
        ("key", pa.int64()),
        ("day", pa.date32()),
        ("ts", pa.timestamp("us")),
        ("amount_cents", pa.int64()),
        ("status", pa.string()),
    ]
)
_STATUS = np.array(["new", "paid", "shipped", "returned"], dtype=object)


def _new_keys(tick: int) -> np.ndarray:
    n_new = TICK_ROWS - int(TICK_ROWS * TICK_UPDATE_SHARE)
    return np.arange(tick * n_new, (tick + 1) * n_new, dtype=np.int64)


def make_increment(seed: int, tick: int) -> pa.Table:
    """Increment ``tick`` (0-based): fresh keys created in this tick's six
    hours, ~10% updates to keys created in the last eight ticks, and a few
    keys repeated inside the increment.  Event times strictly increase
    across ticks and are distinct inside one, so "latest row per key" is
    well defined.  A key's partition column ``day`` is its creation day
    and never changes."""
    rng = np.random.default_rng([seed, 2, tick])
    fresh = _new_keys(tick)
    n_upd = TICK_ROWS - fresh.size
    if tick == 0:
        upd = rng.choice(fresh, n_upd, replace=False)
    else:
        lo = max(0, tick - 8)
        recent = np.concatenate([_new_keys(t) for t in range(lo, tick)])
        upd = rng.choice(recent, n_upd, replace=False)
    keys = np.concatenate([fresh, upd])
    n_rep = int(TICK_ROWS * TICK_REPEAT_SHARE)
    keys[rng.choice(keys.size, n_rep, replace=False)] = rng.choice(keys, n_rep)
    keys = keys[rng.permutation(keys.size)]
    start = tick * _TICK_SPAN_US
    offs = np.sort(rng.choice(_TICK_SPAN_US, keys.size, replace=False))
    ts_us = start + offs
    create_tick = keys // fresh.size
    epoch_days = (_TICK_EPOCH - dt.datetime(1970, 1, 1)).days
    day = epoch_days + create_tick // TICKS_PER_DAY
    epoch_us = int((_TICK_EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.table(
        {
            "key": pa.array(keys, pa.int64()),
            "day": pa.array(day.astype(np.int32), pa.date32()),
            "ts": pa.array(ts_us + epoch_us, pa.timestamp("us")),
            "amount_cents": pa.array(rng.integers(100, 1_000_000, keys.size), pa.int64()),
            "status": pa.array(_STATUS[rng.integers(0, 4, keys.size)], pa.string()),
        },
        schema=UPSERT_SCHEMA,
    )


def write_increment(src_dir: str, seed: int, tick: int) -> pa.Table:
    os.makedirs(src_dir, exist_ok=True)
    t = make_increment(seed, tick)
    # write-then-rename: a reader never sees a half-written part file
    tmp = os.path.join(src_dir, f".tick-{tick:05d}.parquet")
    pq.write_table(t, tmp)
    os.rename(tmp, os.path.join(src_dir, f"tick-{tick:05d}.parquet"))
    return t


# ---------------------------------------------------------------- battery

#: Star-schema tables for the battery entries (the shapes and value domains
#: of the engine's synthetic TPC-H-ish fixtures, at their smallest scale).
BATTERY_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}
_VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
_PART_WORDS = ("small red blue green large steel brass copper").split()
_PART_NOUNS = ("ring widget bolt nut gear spring pipe valve").split()


def _ts_col(rng, n, start: dt.datetime, days: int, whole_days: bool) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    if whole_days:
        us = rng.integers(0, days, n) * 86_400_000_000
    else:
        us = np.sort(rng.choice(days * 86_400_000_000, n, replace=False))
    return pa.array(base + us, pa.timestamp("us"))


def make_battery(out_dir: str, seed: int) -> str:
    """Write one parquet file per table into ``out_dir``; return it."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    R = BATTERY_ROWS
    nations = 25

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def cents(lo: float, hi: float, n: int) -> np.ndarray:
        return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(nations), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(nations)],
        "n_regionkey": pa.array(np.arange(nations) % 5, pa.int32()),
    })
    nc = R["customer"]
    put("customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, nations, nc), pa.int32()),
        "c_acctbal": cents(-999.99, 9999.99, nc),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, nc)],
    })
    ns = R["supplier"]
    put("supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, nations, ns), pa.int32()),
        "s_acctbal": cents(-999.99, 9999.99, ns),
    })
    np_ = R["part"]
    put("part", {
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [
            f"{_PART_WORDS[a]} {_PART_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
            rng.integers(0, 6, np_)
        ],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
    })
    no = R["orders"]
    put("orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": cents(1000.0, 500000.0, no),
        "o_orderdate": _ts_col(rng, no, dt.datetime(1995, 1, 1), 2400, True),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, no)],
    })
    nl = R["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    partkey = rng.integers(0, np_, nl)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * cents(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_col(rng, nl, dt.datetime(1995, 1, 2), 2500, True),
    })
    ne = R["events"]
    put("events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts_col(rng, ne, dt.datetime(2024, 1, 1), 30, False),
        "user_id": pa.array(rng.integers(0, max(15, ne // 66), ne), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, ne)
        ],
        "value": cents(0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = R["documents"]
    texts = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.06:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(np.array(_VOCAB)[rng.integers(0, len(_VOCAB), k)]))
    put("documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "en", "fr", "es", "zh", "de"])[rng.integers(0, 6, nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = R["embeddings"]
    dim = 64
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, nv)
    emb = centers[label] + rng.normal(scale=1.5, size=(nv, dim))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return out_dir
