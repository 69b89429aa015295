"""Seeded input generator for the graft benchmark.

Every input a workload reads is made here from one integer seed, so the
same seed always gives byte-identical parquet files. The engine under
test only ever receives the directories written here.

Shapes follow the engine's canonical tables (`graft.core.Tables`):

* ``sync``: a pool of nightly order-mirror snapshots. Each snapshot is
  its own directory with ``orders``, ``lineitem``, ``customer`` and
  ``nation``. A snapshot differs from the base order set by its own
  seeded drop set (orders missing that night), drift set (orders whose
  price moved) and a slice of monotone new order keys.
* ``curate``: one document corpus with a fixed share of near-duplicates
  (a copy of an earlier original plus one marker token). The seed picks
  the words; the corpus's shape is fixed (see ``gen_curate``).
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
STOPWORDS = ["the", "a"]
# content words a seed draws the corpus vocabulary from
WORD_POOL = np.array(sorted({
    a + b for a in ("b", "c", "d", "f", "g", "l", "m", "p", "r", "s", "t", "v")
    for b in ("al", "an", "ar", "en", "er", "in", "on", "or", "um", "us")}))
LANGS = np.array(["en", "fr", "zh", "de", "es"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]

# Sizes. Every iteration's cost is dominated by the engine's fixed
# per-job floor rather than by data volume, so these stay small enough
# that one run fits the benchmark's time budget with several samples.
SYNC_ORDERS = 30_000
SYNC_CUSTOMERS = 3_000
SYNC_SNAPSHOTS = 8
SYNC_DROP_SHARE = 0.08
SYNC_DRIFT_SHARE = 0.10
SYNC_NEW_PER_SNAPSHOT = 600
CURATE_DOCS = 1_000
CURATE_DUP_SHARE = 0.05

_WORKLOAD_TAG = {"sync": 1, "curate": 2}


def rng_for(seed, workload, *extra):
    """One independent stream per (seed, workload, part)."""
    return np.random.default_rng([int(seed), _WORKLOAD_TAG[workload], *extra])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(days):
    """Day offsets from 1992-01-01 as timestamp[us]."""
    base = np.datetime64("1992-01-01T00:00:00", "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _base_orders(seed):
    """The order universe every snapshot is cut from."""
    r = rng_for(seed, "sync", 0)
    n = SYNC_ORDERS + SYNC_SNAPSHOTS * SYNC_NEW_PER_SNAPSHOT
    keys = np.arange(n, dtype=np.int64)
    orders = {
        "o_orderkey": keys,
        "o_custkey": r.integers(0, SYNC_CUSTOMERS, n, dtype=np.int64),
        "o_orderstatus": r.choice(np.array(["O", "F", "P"]), n),
        "o_totalprice": np.round(r.uniform(1_000, 400_000, n), 2),
        "o_orderdate": r.integers(0, 3_650, n),
        "o_orderpriority": r.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n),
    }
    lines_per = r.integers(1, 8, n)
    lk = np.repeat(keys, lines_per)
    m = len(lk)
    lineitem = {
        "l_orderkey": lk,
        "l_partkey": r.integers(0, 20_000, m, dtype=np.int64),
        "l_suppkey": r.integers(0, 1_000, m, dtype=np.int64),
        "l_linenumber": (np.arange(m) - np.repeat(np.cumsum(lines_per) - lines_per,
                                                  lines_per) + 1).astype(np.int32),
        "l_quantity": r.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 105_000, m), 2),
        "l_discount": np.round(r.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": r.choice(np.array(["A", "N", "R"]), m),
        "l_linestatus": r.choice(np.array(["O", "F"]), m),
        "l_shipdate": r.integers(0, 3_650, m),
    }
    cust = {
        "c_custkey": np.arange(SYNC_CUSTOMERS, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(SYNC_CUSTOMERS)]),
        "c_nationkey": r.integers(0, len(NATIONS), SYNC_CUSTOMERS).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999, 9_999, SYNC_CUSTOMERS), 2),
        "c_mktsegment": r.choice(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
            SYNC_CUSTOMERS),
    }
    return orders, lineitem, cust


def _snapshot(seed, s, orders, lineitem, cust, out):
    r = rng_for(seed, "sync", 1, s)
    keys = orders["o_orderkey"]
    present = keys < SYNC_ORDERS + (s + 1) * SYNC_NEW_PER_SNAPSHOT
    present &= r.random(len(keys)) >= SYNC_DROP_SHARE
    drift = r.random(len(keys)) < SYNC_DRIFT_SHARE
    price = np.where(drift, np.round(orders["o_totalprice"] *
                                     r.uniform(0.9, 1.1, len(keys)), 2),
                     orders["o_totalprice"])
    o = pa.table({
        "o_orderkey": keys[present],
        "o_custkey": orders["o_custkey"][present],
        "o_orderstatus": orders["o_orderstatus"][present],
        "o_totalprice": price[present],
        "o_orderdate": _ts(orders["o_orderdate"][present]),
        "o_orderpriority": orders["o_orderpriority"][present],
    })
    lsel = present[lineitem["l_orderkey"]]
    ldrift = drift[lineitem["l_orderkey"]][lsel]
    eprice = lineitem["l_extendedprice"][lsel]
    cols = {k: (v[lsel] if k != "l_shipdate" else _ts(v[lsel]))
            for k, v in lineitem.items()}
    cols["l_extendedprice"] = np.where(ldrift, np.round(eprice * 1.01, 2), eprice)
    li = pa.table(cols)
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(len(NATIONS), dtype=np.int32)),
        "n_name": NATIONS,
        "n_regionkey": pa.array(np.arange(len(NATIONS), dtype=np.int32) % 5),
    })
    os.makedirs(out, exist_ok=True)
    _write(o, f"{out}/orders.parquet")
    _write(li, f"{out}/lineitem.parquet")
    _write(pa.table(cust), f"{out}/customer.parquet")
    _write(nation, f"{out}/nation.parquet")


def gen_sync(seed, out):
    """Write the snapshot pool under ``out/snap-NNN``; returns the dirs."""
    orders, lineitem, cust = _base_orders(seed)
    dirs = []
    for s in range(SYNC_SNAPSHOTS):
        d = f"{out}/snap-{s:03d}"
        _snapshot(seed, s, orders, lineitem, cust, d)
        dirs.append(d)
    return dirs


def gen_curate(seed, out):
    """Write ``out/documents.parquet``; returns ``out``.

    The corpus's shape (document lengths, token positions, which
    documents are near-duplicates of which, languages) is the same for
    every seed; the seed picks the content words. Renaming words keeps
    every Jaccard similarity, bigram statistic and document frequency,
    so every seed runs the same jobs: the dedup chain's label rounds
    follow the similarity graph, and a seed-dependent graph would make
    the job count, and with it the iteration time, vary by seed.
    """
    shape = rng_for(0, "curate", 0)
    n = CURATE_DOCS
    lengths = shape.integers(10, 101, n)
    words = shape.integers(0, len(VOCAB), lengths.sum())
    cuts = np.cumsum(lengths)[:-1]
    # near-duplicates copy an earlier original and add one marker token
    is_dup = np.zeros(n, dtype=bool)
    is_dup[shape.choice(np.arange(1, n), round(n * CURATE_DUP_SHARE),
                        replace=False)] = True
    originals = np.flatnonzero(~is_dup)
    copies = {int(i): int(originals[originals < i][shape.integers(0, (originals < i).sum())])
              for i in np.flatnonzero(is_dup)}
    langs = shape.choice(LANGS, n, p=LANG_P)

    r = rng_for(seed, "curate", 1)
    vocab = VOCAB.copy()
    content = ~np.isin(VOCAB, STOPWORDS)
    vocab[content] = r.choice(WORD_POOL, content.sum(), replace=False)
    texts = [" ".join(vocab[w]) for w in np.split(words, cuts)]
    for i, src in copies.items():
        texts[i] = texts[src] + " dup"
    docs = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": np.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    os.makedirs(out, exist_ok=True)
    _write(docs, f"{out}/documents.parquet")
    return out


GENERATORS = {"sync_index": ("sync", gen_sync), "curate": ("curate", gen_curate)}


def generate(workload, seed, root):
    """Generate one workload's inputs under ``root``."""
    sub, fn = GENERATORS[workload]
    return fn(seed, f"{root}/{sub}")


def input_sizes(root):
    """Rows and bytes of every parquet file under ``root``."""
    rows = size = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                rows += pq.ParquetFile(p).metadata.num_rows
                size += os.path.getsize(p)
    return rows, size
