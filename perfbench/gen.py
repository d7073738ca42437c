"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (workload, seed): the same seed writes
byte-identical parquet. Sizes are fixed here and quoted in README.md.

etl_days     manufacturing source tables in the hive layout the pipeline
             reads (`raw/job_name=<table>/date=<yyyyMMdd>/`), one warm-up
             day plus DAYS timed days, and the `cfg_item_master` dimension.
registry_mix the star schema + events + documents tables the registered
             queries read.
"""
import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes
ETL_DAYS = 2
ETL_LOTS_PER_DAY = 400_000
ETL_WARMUP_LOTS = 20_000
ETL_PARTS = 8                            # parquet files per table and day
ETL_FIRST_DAY = dt.date(2024, 3, 1)      # the warm-up day; timed days follow
ETL_STATUSES = ["WAIT", "RUN", "HOLD", "DONE", "SCRAP", "SHIPPED"]
ETL_STATUS_P = [0.30, 0.25, 0.10, 0.25, 0.05, 0.05]
ETL_PRIORITIES = ["HIGH", "NORMAL", "LOW"]
ETL_PRIORITY_P = [0.15, 0.70, 0.15]
ETL_EVENT_TYPES = ["RUN", "IDLE", "DOWN", "PM"]
ETL_EVENT_P = [0.50, 0.30, 0.12, 0.08]
ETL_ITEMS = 400
ETL_STEPS = 40
ETL_EQUIPMENT = 600

REGISTRY_SCALE = 1.0       # lineitem rows = 60_000 * scale

VOCAB = ("key agg row scan slow fast table value part hash a the line sort "
         "window merge batch spark data column join small customer query "
         "order group filter stream big vector").split()
LANG_MARKERS = {"en": ["the", "a"], "fr": ["table", "row"],
                "es": ["data", "value"], "de": ["join", "group"],
                "zh": ["spark", "stream"]}
LANGS = list(LANG_MARKERS)
LANG_P = [0.55, 0.12, 0.12, 0.12, 0.09]


def _rng(seed, salt):
    return np.random.Generator(np.random.PCG64([int(seed), salt]))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _write_parts(table, d, parts):
    """One table as `parts` files of about equal row counts, the way a daily
    extract lands, so a scan splits into that many tasks."""
    step = -(-table.num_rows // parts)
    for i in range(parts):
        _write(table.slice(i * step, step), f"{d}/part-{i}.parquet")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(micros):
    return pa.array(np.asarray(micros, dtype=np.int64), type=pa.timestamp("us"))


def _day_us(day):
    return (day - dt.date(1970, 1, 1)).days * 86_400_000_000


def etl_days(root, seed):
    """Writes the tables and `days.txt`: the warm-up day, then the timed days."""
    days = [ETL_FIRST_DAY + dt.timedelta(days=i) for i in range(ETL_DAYS + 1)]
    rng = _rng(seed, 1)
    items = np.array([f"P{i:04d}" for i in range(ETL_ITEMS)])
    steps = np.array([f"STEP_{i:02d}" for i in range(ETL_STEPS)])
    # about one item in eight is inactive, so the master gate drops rows
    active = np.where(rng.random(ETL_ITEMS) < 0.125, "N", "Y")
    _write(pa.table({
        "item_code": items,
        "item_name": np.array([f"item {i}" for i in range(ETL_ITEMS)]),
        "item_group": np.array([f"G{i % 12:02d}" for i in range(ETL_ITEMS)]),
        "active_flag": active,
        "unit_cost": _money(rng, 1, 900, ETL_ITEMS),
    }), f"{root}/raw/job_name=cfg_item_master/latest/part-0.parquet")
    lot_base = 0
    for i, day in enumerate(days):
        n = ETL_WARMUP_LOTS if i == 0 else ETL_LOTS_PER_DAY
        part = f"date={day.strftime('%Y%m%d')}"
        d0 = _day_us(day)
        pool = max(1, n // 3)
        lot_ids = lot_base + rng.integers(0, pool, n)
        track_in = d0 + rng.integers(0, 86_400_000_000, n)
        qty = _money(rng, 1, 500, n)
        # a sliver of out-of-range quantities for the range rule to catch
        bad = rng.random(n) < 0.002
        qty[bad] = -qty[bad]
        step_idx = rng.integers(0, ETL_STEPS, n)
        _write_parts(pa.table({
            "event_id": np.arange(n, dtype=np.int64) + i * 10_000_000,
            "lot_id": lot_ids.astype(np.int64),
            "process_step": steps[step_idx],
            "product_code": items[rng.integers(0, ETL_ITEMS, n)],
            "status": rng.choice(ETL_STATUSES, n, p=ETL_STATUS_P),
            "priority": rng.choice(ETL_PRIORITIES, n, p=ETL_PRIORITY_P),
            "quantity": qty,
            "track_in": _ts(track_in),
        }), f"{root}/raw/job_name=lot_history/{part}", ETL_PARTS)
        m = n // 2
        _write_parts(pa.table({
            "lot_id": (lot_base + rng.integers(0, pool, m)).astype(np.int64),
            "process_step": steps[rng.integers(0, ETL_STEPS, m)],
            "measured_at": _ts(d0 + rng.integers(0, 6 * 86_400_000_000, m)),
            "value": _money(rng, 0, 100, m),
        }), f"{root}/raw/job_name=process_result/{part}", ETL_PARTS)
        e = n // 5
        _write_parts(pa.table({
            "equipment_id": rng.integers(0, ETL_EQUIPMENT, e).astype(np.int64),
            "event_type": rng.choice(ETL_EVENT_TYPES, e, p=ETL_EVENT_P),
            "duration_min": _money(rng, 0.5, 240, e),
            "event_time": _ts(d0 + rng.integers(0, 86_400_000_000, e)),
        }), f"{root}/raw/job_name=equipment_event/{part}", ETL_PARTS)
        lot_base += pool
    with open(f"{root}/days.txt", "w") as f:
        f.write("\n".join(d.isoformat() for d in days) + "\n")


def _doc_texts(rng, n):
    """Texts in the shape of the repo's synthetic corpus: space-joined words
    from a small vocabulary, marker words for the claimed language, a tail of
    short and stopword-heavy documents so both quality gates bite."""
    langs = rng.choice(LANGS, n, p=LANG_P)
    lens = rng.integers(20, 90, n)
    short = rng.random(n) < 0.08
    lens[short] = rng.integers(5, 20, short.sum())
    heavy = rng.random(n) < 0.08
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        words = vocab[rng.integers(0, len(vocab), lens[i])]
        markers = LANG_MARKERS[langs[i]]
        mark = rng.random(lens[i]) < (0.35 if heavy[i] else 0.12)
        words[mark] = rng.choice(["the", "a", "data", "value"] if heavy[i]
                                 else markers, mark.sum())
        texts.append(" ".join(words))
    return texts, langs


def _documents(rng, n):
    texts, langs = _doc_texts(rng, n)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": np.array([f"src{i}" for i in rng.integers(0, 20, n)]),
    }


def _star(rng, out, scale):
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_li, n_ev, n_doc = int(15000 * scale), int(60000 * scale), int(10000 * scale), max(50, int(500 * scale))
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")
    adj = np.array(["small", "red", "blue", "large", "green", "steel"])
    noun = np.array(["ring", "widget", "bolt", "gear", "panel", "valve"])
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "MEDIUM",
                              "LARGE", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    }), f"{out}/part.parquet")
    day0 = (dt.date(1995, 1, 1) - dt.date(1970, 1, 1)).days
    o_days = day0 + rng.integers(0, 2404, n_ord)
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 900, 500000, n_ord),
        "o_orderdate": _ts(o_days * 86_400_000_000),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), f"{out}/orders.parquet")
    l_ord = rng.integers(0, n_ord, n_li)
    _write(pa.table({
        "l_orderkey": l_ord.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts((o_days[l_ord] + rng.integers(1, 122, n_li)) * 86_400_000_000),
    }), f"{out}/lineitem.parquet")
    ev0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * 86_400_000_000
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev0 + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_ev),
        "value": _money(rng, 0.01, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")
    docs = _documents(rng, n_doc)
    docs["n_chars"] = np.array([len(t) for t in docs["text"]], dtype=np.int64)
    _write(pa.table(docs), f"{out}/documents.parquet")
    emb = rng.normal(0, 0.12, (n_doc, 64)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, n_doc), pa.int32()),
    }), f"{out}/embeddings.parquet")


def registry_mix(root, seed):
    _star(_rng(seed, 3), f"{root}/sf", REGISTRY_SCALE)


GENERATORS = {"etl_days": etl_days, "registry_mix": registry_mix}


def generate(workload, seed, root):
    """Write the workload's inputs under `root` once per (workload, seed)
    and version of this file; later calls reuse them."""
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()
    stamp = f"{root}/.done"
    if not os.path.exists(stamp) or open(stamp).read() != version:
        shutil.rmtree(root, ignore_errors=True)
        GENERATORS[workload](root, seed)
        with open(stamp, "w") as f:
            f.write(version)
    return root
