"""Seeded input generator for the CAWD benchmark workloads.

Every workload's inputs are a pure function of (workload, seed): the same seed
writes byte-identical files, a different seed different ones. The tables are
TPC-H-like (lineitem, orders, customer, nation) plus a documents table, drawn
from a numpy Generator; the mutations come from the same generator.

Each generated set carries a ``manifest.json`` with the file list (in arrival
order), the byte total and the measured shared-byte share: the fraction of
bytes that lie in content-defined chunks (~4 KiB average, rolling polynomial
hash) already seen earlier in arrival order. The measure knows nothing of ORC
or Parquet structure, so claims about how much work the inputs share can cite
it independently of the engine's own traffic numbers.
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.orc as orc
import pyarrow.parquet as pq

# Bump when the generated bytes change for a given seed; cached sets with
# another version are regenerated.
GEN_VERSION = 3

WORKLOADS = ("orc_versions", "stream_waves", "pack_mix")

# orc_versions: version k of the lineitem/orders pair. A version either
# re-sends the previous one unchanged (None) or changes a seeded share of
# rows in the named columns of one table. The schedule is fixed and only the
# rows and values are seeded, so the dedup result moves little across seeds.
ORC_PLAN = (
    None,
    ("lineitem", ("l_discount",)),
    None,
    ("orders", ("o_orderstatus", "o_totalprice")),
    ("lineitem", ("l_tax", "l_returnflag")),
    None,
)
ORC_LINEITEM_ROWS = 600_000
ORC_ORDERS_ROWS = 150_000
ORC_STRIPE_BYTES = 128 << 10
ORC_MUTATED_SHARE = 0.02

# stream_waves: each wave stages one new slice, an exact resend of the
# previous wave's slice and a modified resend of the one before. The schedule
# is fixed and only the rows and values are seeded, so every seed asks the
# same work of each wave. Small pages give each slice ~100
# page chunks, so the signature store grows by hundreds of files per wave.
WAVES = 24
WAVE_SLICE_ROWS = 3_000
WAVE_PAGE_BYTES = 1024
WAVE_MUTATED_ROWS = 12

# pack_mix: one corpus directory the mix queries read (`<table>.parquet`).
# Only queries that persist nothing outside that directory are in the mix.
MIX_QUERIES = ("d11_tfidf_terms", "m05_modality_balance", "q04_revenue_by_nation")
MIX_LINEITEM_ROWS = 300_000
MIX_CUSTOMERS = 7_500
MIX_DOCS = 5_000
NATIONS = ("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
           "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
           "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM",
           "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
WORDS = ("spark", "column", "batch", "scan", "sort", "hash", "join", "group", "filter",
         "window", "stream", "query", "table", "value", "key", "order", "part", "line",
         "vector", "data", "agg", "fast", "slow", "big", "small", "the", "a", "customer",
         "chunk", "stripe", "page", "footer", "store", "probe", "dedup", "signature")


def rng_for(workload, seed):
    return np.random.default_rng([WORKLOADS.index(workload), int(seed)])


def lineitem(rng, n, key0=0):
    orderkey = key0 + np.sort(rng.integers(0, max(1, n // 4), n))
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(rng.integers(8_000, 10_600, n).astype(np.int32),
                               pa.int32()).cast(pa.date32()),
    })


def orders(rng, n, key0=0, customers=15_000):
    return pa.table({
        "o_orderkey": pa.array(key0 + np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, customers + 1, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(850, 550_000, n), 2)),
        "o_orderdate": pa.array(rng.integers(8_000, 10_600, n).astype(np.int32),
                                pa.int32()).cast(pa.date32()),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)),
    })


def mutate(rng, table, column, rows):
    """Replace `rows` (indices) of `column` with values drawn like the original."""
    arr = table.column(column).to_numpy(zero_copy_only=False).copy()
    if arr.dtype == object:
        arr[rows] = rng.choice(np.unique(arr), len(rows))
    else:
        arr[rows] = arr[rows] + rng.integers(1, 5, len(rows)) / 100.0
    idx = table.schema.get_field_index(column)
    return table.set_column(idx, column, pa.array(arr, table.schema.field(column).type))


def shared_byte_share(paths, avg_bits=12, window=48, block=4 << 20):
    """Share of bytes in content-defined chunks whose SHA-1 appeared earlier.

    A boundary follows every position where the polynomial hash of the last
    `window` bytes has its low `avg_bits` bits zero (~2**avg_bits byte
    chunks). The hashes are vectorised with prefix sums mod 2**64: with
    S(i) = sum_{j<i} b_j p^(n-1-j), the window hash ending at i is
    (S(i) - S(i-w)) * p^-(n-i). Files are scanned in blocks overlapping by
    `window` bytes so no boundary is lost.
    """
    prime = 0x100000001B3
    inverse = pow(prime, -1, 1 << 64)
    mask = np.uint64((1 << avg_bits) - 1)

    def powers(base, n):
        return np.concatenate([np.ones(1, np.uint64),
                               np.cumprod(np.full(n, base, dtype=np.uint64))])

    pw, inv = powers(prime, block + window), powers(inverse, block + window)
    seen, shared, total = set(), 0, 0
    for path in paths:
        data = np.fromfile(path, dtype=np.uint8)
        cuts = []
        for lo in range(0, len(data), block):
            base = max(0, lo - window)
            seg = data[base:lo + block].astype(np.uint64)
            n = len(seg)
            if n < window:
                continue
            i = np.arange(window, n + 1)
            with np.errstate(over="ignore"):
                pref = np.concatenate([np.zeros(1, np.uint64),
                                       np.cumsum(seg * pw[:n][::-1])])
                h = (pref[i] - pref[i - window]) * inv[n - i]
            ends = i[(h & mask) == 0] + base
            cuts.extend(ends[(ends >= lo) & (ends < lo + block)].tolist())
        start = 0
        for end in cuts + [len(data)]:
            if end > start:
                sig = hashlib.sha1(data[start:end].tobytes()).digest()
                if sig in seen:
                    shared += end - start
                seen.add(sig)
                start = end
        total += len(data)
    return shared / total if total else 0.0


def gen_orc_versions(rng, out):
    tables = {"lineitem": lineitem(rng, ORC_LINEITEM_ROWS),
              "orders": orders(rng, ORC_ORDERS_ROWS)}
    files, latest = [], {}
    for v, change in enumerate(ORC_PLAN):
        if change is not None:
            name, cols = change
            t = tables[name]
            rows = rng.choice(t.num_rows, int(t.num_rows * ORC_MUTATED_SHARE), replace=False)
            for c in cols:
                t = mutate(rng, t, c, rows)
            tables[name] = t
            latest.pop(name)
        for name in ("lineitem", "orders"):
            path = os.path.join(out, f"v{v}_{name}.orc")
            # the writer is deterministic: an unchanged table is a copy
            if name in latest:
                shutil.copyfile(latest[name], path)
            else:
                orc.write_table(tables[name], path, stripe_size=ORC_STRIPE_BYTES,
                                compression="zlib")
            latest[name] = path
            files.append(path)
    return files, {"plan": [list(c) if c else "resend" for c in ORC_PLAN]}


def gen_stream_waves(rng, out):
    files, slices, kinds = [], [], []
    for w in range(WAVES):
        wave_dir = os.path.join(out, f"w{w:03d}")
        os.makedirs(wave_dir)
        new = lineitem(rng, WAVE_SLICE_ROWS, key0=w * WAVE_SLICE_ROWS)
        staged = [("a_new", new)]
        if slices:
            staged.append(("b_resend", slices[-1]))
            old = slices[max(0, len(slices) - 2)]
            rows = rng.choice(old.num_rows, WAVE_MUTATED_ROWS, replace=False)
            staged.append(("c_modified", mutate(rng, old, "l_discount", rows)))
        slices.append(new)
        for tag, table in staged:
            path = os.path.join(wave_dir, f"w{w:03d}_{tag}.parquet")
            pq.write_table(table, path, compression="snappy",
                           data_page_size=WAVE_PAGE_BYTES, write_batch_size=64)
            files.append(path)
        kinds.append([tag for tag, _ in staged])
    return files, {"waves": WAVES, "wave_files": kinds}


def customer(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(1, n + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n + 1)]),
        "c_nationkey": pa.array(rng.integers(0, len(NATIONS), n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9_999, n), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n)),
    })


def nation():
    return pa.table({
        "n_nationkey": pa.array(np.arange(len(NATIONS), dtype=np.int32)),
        "n_name": pa.array(list(NATIONS)),
        "n_regionkey": pa.array((np.arange(len(NATIONS)) % 5).astype(np.int32)),
    })


def documents(rng, n):
    lengths = rng.integers(8, 60, n)
    words = rng.integers(0, len(WORDS), int(lengths.sum()))
    trailing = rng.random(n) < 0.3
    texts, at = [], 0
    for i, k in enumerate(lengths):
        text = " ".join(WORDS[w] for w in words[at:at + k])
        texts.append(text + " " if trailing[i] else text)
        at += k
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "fr", "es", "zh"], n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def mix_expected_rows(tables):
    """Row count each mix query must return, derived from the tables alone."""
    orderkeys = np.unique(tables["lineitem"].column("l_orderkey").to_numpy())
    custkeys = tables["orders"].column("o_custkey").to_numpy()[orderkeys]
    nations = tables["customer"].column("c_nationkey").to_numpy()[custkeys - 1]
    texts = tables["documents"].column("text").to_pylist()
    docs = len(texts)
    return {
        # one row per nation that has revenue
        "q04_revenue_by_nation": int(len(np.unique(nations))),
        # top 3 terms per document (`split(text, ' ')` keeps a trailing "")
        "d11_tfidf_terms": sum(min(3, len(set(t.split(" ")))) for t in texts),
        # k = rows of the smallest modality (doc_id % 3), k per modality
        "m05_modality_balance": 3 * (docs // 3),
    }


def gen_pack_mix(rng, out):
    orders_rows = MIX_LINEITEM_ROWS // 4
    tables = {
        "lineitem": lineitem(rng, MIX_LINEITEM_ROWS),
        "orders": orders(rng, orders_rows, customers=MIX_CUSTOMERS),
        "customer": customer(rng, MIX_CUSTOMERS),
        "nation": nation(),
        "documents": documents(rng, MIX_DOCS),
    }
    files = []
    for name, table in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        files.append(path)
    return files, {"queries": list(MIX_QUERIES),
                   "expected_rows": mix_expected_rows(tables)}


GENERATORS = {"orc_versions": gen_orc_versions, "stream_waves": gen_stream_waves,
              "pack_mix": gen_pack_mix}


def generate(workload, seed, out):
    """Write the workload's inputs under `out` and return the manifest."""
    os.makedirs(out)
    files, info = GENERATORS[workload](rng_for(workload, seed), out)
    manifest = {
        "version": GEN_VERSION, "workload": workload, "seed": int(seed),
        "files": [os.path.relpath(f, out) for f in files],
        "bytes": sum(os.path.getsize(f) for f in files),
        "shared_byte_share": round(shared_byte_share(files), 6),
        "info": info,
    }
    text = json.dumps(manifest, indent=1, sort_keys=True)
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        fh.write(text)
    return json.loads(text)


def cached(workload, seed, cache_root, keep=10):
    """Inputs for (workload, seed) under `cache_root`, generated on first use.

    A set is published by renaming a finished directory, so an interrupted
    generation never leaves a half-written set behind. Only the `keep` most
    recently used sets per workload stay on disk.
    """
    root = os.path.join(cache_root, workload)
    final = os.path.join(root, f"seed-{int(seed)}")
    mpath = os.path.join(final, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as fh:
            manifest = json.load(fh)
        if manifest.get("version") == GEN_VERSION:
            os.utime(final)
            return final, manifest
        shutil.rmtree(final)
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = generate(workload, seed, tmp)
    os.rename(tmp, final)
    sets = sorted((os.path.getmtime(os.path.join(root, d)), d) for d in os.listdir(root)
                  if d.startswith("seed-") and ".tmp-" not in d)
    for _, d in sets[:-keep]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return final, manifest
