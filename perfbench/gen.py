"""Seeded input generator. Runs outside the engine (pyarrow and numpy
only): the engine under test receives nothing but the files written
here.

The shapes follow the repository's sf0.1 test tables (``events``,
``orders``, ``documents``), synthesised from the seed alone so a run
needs nothing outside its checkout.

    python3 perfbench/gen.py --workload lake_cdc_maintain --seed 1 --out DIR

writes the inputs under DIR and prints their properties as JSON.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes
INGEST_BATCH_ROWS = 4000
INGEST_BAD_SHARE = 0.05  # out-of-range `value` rows per batch
INGEST_VALUE_RANGE = (0.0, 1000.0)
EVENT_TYPES = ["view", "click", "purchase", "error", "login"]
INGEST_BRANCH_A = ("view", "click")  # the other types go to branch b

LAKE_BASE_ROWS = 10000
LAKE_UPSERT_ROWS = 400
LAKE_UPSERT_UPDATE_SHARE = 0.5  # upserted keys that already exist
LAKE_EQ_DELETE_ROWS = 200
LAKE_POS_DELETE_ROWS = 100
LAKE_APPEND_ROWS = 400
ORDER_STATUS = ["F", "O", "P"]
ORDER_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                  "5-LOW"]

CURATE_DOCS = 1500
CURATE_FILES = 4  # the corpus arrives as this many parquet files
CURATE_EXACT_DUP_SHARE = 0.10
CURATE_NEAR_DUP_SHARE = 0.10
CURATE_LOW_QUALITY_SHARE = 0.10
# words of the sf0.1 documents table, widened so unrelated docs share
# few 3-shingles
VOCAB = ("a agg batch big column data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream "
         "table value vector window").split()
VOCAB = VOCAB + [f"{w}{i}" for w in VOCAB for i in range(6)]
LANGS = ["en", "de", "fr", "zh", "es"]

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])
ORDER_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.date32()), ("o_orderpriority", pa.string())])
DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string())])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


# --------------------------------------------------------------- ingest
def ingest_batch(seed: int, i: int) -> tuple[pa.Table, dict]:
    """Batch *i*: INGEST_BATCH_ROWS events, an exact INGEST_BAD_SHARE of
    them with `value` outside INGEST_VALUE_RANGE."""
    r = _rng(seed, 1000 + i)
    n = INGEST_BATCH_ROWS
    lo, hi = INGEST_VALUE_RANGE
    value = np.round(r.uniform(lo, hi, n), 2)
    bad = r.choice(n, int(round(n * INGEST_BAD_SHARE)), replace=False)
    value[bad] = np.where(r.random(bad.size) < 0.5,
                          -np.round(r.uniform(1, 100, bad.size), 2),
                          np.round(r.uniform(hi + 1, 2 * hi, bad.size), 2))
    etype = np.array(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), n)]
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + np.timedelta64(i * 60, "s")
          + r.integers(0, 60_000_000, n).astype("timedelta64[us]"))
    t = pa.table({
        "event_id": np.arange(i * n, (i + 1) * n, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, 5000, n),
        "event_type": etype,
        "value": value,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    }, schema=EVENT_SCHEMA)
    ok = (value >= lo) & (value <= hi)
    in_a = np.isin(etype, INGEST_BRANCH_A)
    expect = {"rows": n, "quarantined": int((~ok).sum()),
              "a": int((ok & in_a).sum()), "b": int((ok & ~in_a).sum())}
    return t, expect


def gen_ingest(seed: int, out: str, batches: int) -> dict:
    os.makedirs(out, exist_ok=True)
    expect = []
    for i in range(batches):
        t, e = ingest_batch(seed, i)
        pq.write_table(t, os.path.join(out, f"batch-{i:05d}.parquet"))
        expect.append(e)
    return {"batches": batches, "batch_rows": INGEST_BATCH_ROWS,
            "out_of_range_share": INGEST_BAD_SHARE, "expect": expect}


# ----------------------------------------------------------------- lake
def _orders(r: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = keys.size
    return pa.table({
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": r.integers(1, 15000, n),
        "o_orderstatus": np.array(ORDER_STATUS)[r.integers(0, 3, n)],
        "o_totalprice": np.round(r.uniform(800, 500000, n), 2),
        "o_orderdate": (np.datetime64("1992-01-01")
                        + r.integers(0, 2400, n).astype("timedelta64[D]")),
        "o_orderpriority": np.array(ORDER_PRIORITY)[r.integers(0, 5, n)],
    }, schema=ORDER_SCHEMA)


def gen_lake(seed: int, out: str, cycles: int) -> dict:
    """A base table plus *cycles* change sets. Each cycle upserts
    (updates and inserts), equality-deletes, position-deletes and
    appends; the keys a cycle updates or deletes are live and distinct,
    so the expected table is a plain replay."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 1)
    next_key = 1
    base_keys = np.arange(next_key, next_key + LAKE_BASE_ROWS)
    next_key += LAKE_BASE_ROWS
    pq.write_table(_orders(r, base_keys), os.path.join(out, "base.parquet"))
    live = set(base_keys.tolist())
    touched: set[int] = set()  # keys an upsert rewrote
    windows = []
    n_upd = int(round(LAKE_UPSERT_ROWS * LAKE_UPSERT_UPDATE_SHARE))
    for c in range(cycles):
        rc = _rng(seed, 100 + c)
        # position deletes address a row by (file, row index): they
        # pick keys never upserted, whose one row sits in one file
        pos = rc.choice(np.array(sorted(live - touched)),
                        LAKE_POS_DELETE_ROWS, replace=False)
        pool = np.array(sorted(live.difference(pos.tolist())))
        picked = rc.choice(pool, n_upd + LAKE_EQ_DELETE_ROWS, replace=False)
        upd = picked[:n_upd]
        eq = picked[n_upd:]
        new = np.arange(next_key, next_key + LAKE_UPSERT_ROWS - n_upd)
        next_key += new.size
        app = np.arange(next_key, next_key + LAKE_APPEND_ROWS)
        next_key += app.size
        d = os.path.join(out, f"cycle-{c:05d}")
        os.makedirs(d)
        pq.write_table(_orders(rc, np.concatenate([upd, new])),
                       os.path.join(d, "upsert.parquet"))
        pq.write_table(pa.table({"o_orderkey": eq.astype(np.int64)}),
                       os.path.join(d, "eq_delete.parquet"))
        pq.write_table(pa.table({"o_orderkey": pos.astype(np.int64)}),
                       os.path.join(d, "pos_delete.parquet"))
        pq.write_table(_orders(rc, app), os.path.join(d, "append.parquet"))
        touched.update(upd.tolist())
        live.difference_update(eq.tolist())
        live.difference_update(pos.tolist())
        live.update(new.tolist())
        live.update(app.tolist())
        windows.append({"insert": LAKE_UPSERT_ROWS + LAKE_APPEND_ROWS,
                        "delete": n_upd + LAKE_EQ_DELETE_ROWS
                        + LAKE_POS_DELETE_ROWS})
    return {"cycles": cycles, "base_rows": LAKE_BASE_ROWS,
            "upsert_rows": LAKE_UPSERT_ROWS,
            "upsert_update_share": LAKE_UPSERT_UPDATE_SHARE,
            "eq_delete_rows": LAKE_EQ_DELETE_ROWS,
            "pos_delete_rows": LAKE_POS_DELETE_ROWS,
            "append_rows": LAKE_APPEND_ROWS, "windows": windows}


# --------------------------------------------------------------- curate
def _doc_text(r: np.random.Generator) -> list[str]:
    return list(np.array(VOCAB)[r.integers(0, len(VOCAB),
                                           int(r.integers(40, 120)))])


def gen_curate(seed: int, out: str) -> dict:
    """CURATE_DOCS documents: originals, exact copies of originals,
    near copies (two words changed) and low-quality docs (mostly
    punctuation and digits). Rows are shuffled."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 2)
    n = CURATE_DOCS
    n_exact = int(round(n * CURATE_EXACT_DUP_SHARE))
    n_near = int(round(n * CURATE_NEAR_DUP_SHARE))
    n_low = int(round(n * CURATE_LOW_QUALITY_SHARE))
    n_orig = n - n_exact - n_near - n_low
    originals = [_doc_text(r) for _ in range(n_orig)]
    texts = [" ".join(w) for w in originals]
    for j in r.integers(0, n_orig, n_exact):
        texts.append(texts[j])
    for j in r.integers(0, n_orig, n_near):
        words = list(originals[j])
        for p in r.choice(len(words), 2, replace=False):
            words[p] = VOCAB[int(r.integers(0, len(VOCAB)))]
        texts.append(" ".join(words))
    for _ in range(n_low):
        k = int(r.integers(4, 12))
        texts.append(" ".join(
            "".join(r.choice(list("#!?;:%&*0123456789"), 4)) if i % 3
            else VOCAB[int(r.integers(0, len(VOCAB)))] for i in range(k)))
    order = r.permutation(n)
    t = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": [texts[i] for i in order],
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), n)],
        "source": [f"src{k}" for k in r.integers(0, 8, n)],
    }, schema=DOC_SCHEMA)
    path = os.path.join(out, "documents")
    os.makedirs(path)
    step = -(-n // CURATE_FILES)
    for i in range(CURATE_FILES):
        pq.write_table(t.slice(i * step, step),
                       os.path.join(path, f"part-{i}.parquet"))
    return {"docs": n, "files": CURATE_FILES, "exact_dup_share": CURATE_EXACT_DUP_SHARE,
            "near_dup_share": CURATE_NEAR_DUP_SHARE,
            "low_quality_share": CURATE_LOW_QUALITY_SHARE,
            "corpus_bytes": sum(e.stat().st_size for e in os.scandir(path)),
            "text_bytes": sum(len(s) for s in texts)}


def generate(workload: str, seed: int, out: str, count: int) -> dict:
    """Write *workload*'s inputs under *out*; *count* sizes the pool of
    ingest batches or lake change cycles."""
    if workload == "ingest_small_batches":
        props = gen_ingest(seed, out, count)
    elif workload == "lake_cdc_maintain":
        props = gen_lake(seed, out, count)
    elif workload == "corpus_curate":
        props = gen_curate(seed, out)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    props.update(workload=workload, seed=seed)
    with open(os.path.join(out, "props.json"), "w") as f:
        json.dump(props, f)
    return props


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--count", type=int, default=40)
    a = ap.parse_args()
    p = generate(a.workload, a.seed, a.out, a.count)
    p.pop("expect", None)
    p.pop("windows", None)
    print(json.dumps(p))
