"""Seeded input generator for the benchmark workloads.

Every table is a synthetic twin of the bench fixture's schema (column
names, arrow types, value domains), drawn from numpy's PCG64 seeded by
``--seed``: the same seed always writes byte-identical parquet files.

- ``events``: one month (2024-01) of trip-like rows. ``event_id`` is a
  dense disjoint range, so a full-row ``dropDuplicates`` keeps every row,
  exactly as in a month of real trips.
- ``documents``: a bag-of-words corpus over the fixture's 30-word
  vocabulary with 5% planted near-duplicates (a copy of another document
  plus one word), replicated on ScaleCurve's disjoint-shingle model:
  replica ``k`` re-keys ``doc_id`` by ``k * 1_000_000`` and passes the
  text through a seeded per-replica permutation of ``[a-zA-Z0-9]``, so
  near-dup pairs recur inside every replica and never across replicas.
- ``nation``: the fixture's 25-row dimension, which plays the zone lookup.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REPLICA_SPAN = 1_000_000
ALNUM = ("abcdefghijklmnopqrstuvwxyz" "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
         "0123456789")

# table name -> stream id, so adding a table never shifts another's draws
_STREAM = {"events": 1, "documents": 2}


def _rng(seed, table):
    return np.random.default_rng([seed, _STREAM[table]])


def _us(y, m, d):
    epoch = dt.datetime(1970, 1, 1)
    return int((dt.datetime(y, m, d) - epoch).total_seconds() * 1_000_000)


def events(seed, n, users=1500):
    r = _rng(seed, "events")
    t0, t1 = _us(2024, 1, 1), _us(2024, 1, 31)
    ts = np.sort(r.integers(t0, t1, size=n))
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, size=n, dtype=np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES, dtype=object)[r.integers(0, 5, size=n)]),
        "value": pa.array(np.round(r.exponential(50.0, size=n), 2)),
        "props": pa.array(props[r.integers(0, 100, size=n)]),
    })


def nation():
    return pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })


def replica_permutation(k):
    """Seeded per-class shuffle of [a-zA-Z0-9]; replica 0 is the identity."""
    if k == 0:
        return ALNUM
    r = np.random.default_rng([k, 7919])
    out = []
    for lo, hi in ((0, 26), (26, 52), (52, 62)):
        cls = list(ALNUM[lo:hi])
        out.extend(cls[i] for i in r.permutation(len(cls)))
    return "".join(out)


def base_documents(seed, n, dup_frac=0.05):
    r = _rng(seed, "documents")
    vocab = np.array(VOCAB, dtype=object)
    # lengths 10..99 words in equal shares, dealt out by the seed: every
    # seed gets the same total text volume, so work does not vary by seed
    lens = r.permutation(10 + (np.arange(n) * 90) // n)
    texts = [" ".join(vocab[r.integers(0, len(VOCAB), size=m)]) for m in lens]
    n_dup = int(round(n * dup_frac))
    dups = r.choice(n, size=n_dup, replace=False)
    for d in dups:
        src = int(r.integers(0, n - 1))
        src += src >= d  # any document but itself
        texts[d] = texts[src] + " dup"
    langs = np.array(LANGS, dtype=object)[r.choice(5, size=n, p=LANG_P)]
    return texts, langs


def documents(seed, n_base, replicas=1):
    texts, langs = base_documents(seed, n_base)
    ids, out_text, out_lang, src = [], [], [], []
    for k in range(replicas):
        table = str.maketrans(ALNUM, replica_permutation(k))
        for i, t in enumerate(texts):
            ids.append(k * REPLICA_SPAN + i)
            out_text.append(t.translate(table))
            out_lang.append(langs[i])
            src.append(f"src{i % 20}")
    return pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(out_text),
        "lang": pa.array(out_lang),
        "source": pa.array(src),
        "n_chars": pa.array([len(t) for t in out_text], type=pa.int64()),
    })


def build_table(name, seed, spec):
    """One table from its size spec (see workloads.WORKLOADS)."""
    if name == "events":
        return events(seed, spec["rows"])
    if name == "nation":
        return nation()
    if name == "documents":
        return documents(seed, spec["base_rows"], spec.get("replicas", 1))
    raise ValueError(f"no generator for table {name}")


def ensure_inputs(data_dir, seed, tables):
    """Write every table of a workload into ``data_dir`` unless a previous
    run with the same seed, sizes and generator code already did; returns
    {table: {rows, bytes}}."""
    manifest = os.path.join(data_dir, "manifest.json")
    with open(__file__, "rb") as f:
        code = hashlib.sha256(f.read()).hexdigest()
    want = {"seed": seed, "tables": tables, "generator": code}
    if os.path.exists(manifest):
        with open(manifest) as f:
            have = json.load(f)
        if have.get("spec") == want:
            return have["sizes"]
    os.makedirs(data_dir, exist_ok=True)
    sizes = {}
    for name, spec in sorted(tables.items()):
        path = os.path.join(data_dir, f"{name}.parquet")
        t = build_table(name, seed, spec)
        pq.write_table(t, path, compression="snappy",
                       row_group_size=max(t.num_rows, 1))
        sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    with open(manifest, "w") as f:
        json.dump({"spec": want, "sizes": sizes}, f)
    return sizes
