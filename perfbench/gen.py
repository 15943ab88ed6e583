"""Seeded input generation for the benchmark workloads.

Every table has the schema of the fixture catalog the engine reads
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) and comparable value distributions, drawn from
``numpy.random.default_rng(seed)``.  Files are written with fixed
pyarrow settings, so one seed always gives byte-identical parquet.

Each workload gets its own directory:

- ``catalog``: every table at a scale factor (sf 0.1 = 600,000
  lineitem rows), used by ``plot_dense`` and ``query_mix``;
- ``scan``: lineitem grown xN from the sf 0.1 base with key-shifted
  copies (as ``tools/scale_probe.py`` builds them) and seeded price
  jitter, one parquet file per copy;
- ``corpus``: documents grown xN with per-copy word mutation, plus a
  seeded share of planted exact and near duplicates, next to sf 0.1
  embeddings with planted near-duplicate vectors.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: base table sizes at sf 0.1 (scaled linearly; the two dims are fixed)
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: lineitem keys of copy i are shifted by i * SHIFT (tools/scale_probe.py)
SHIFT = 100_000_000
EMB_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(table: pa.Table, path: str) -> None:
    """One row group, snappy, no pandas metadata: the same seed gives
    the same bytes."""
    pq.write_table(
        table, path, row_group_size=max(1, table.num_rows),
        compression="snappy", write_statistics=True,
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def lineitem(rng, n: int, n_orders: int, n_part: int, n_supp: int) -> dict[str, np.ndarray]:
    """Columns of the MAIN-table stand-in as numpy arrays (the scan
    workload jitters and copies them before writing)."""
    return {
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": rng.integers(0, 3, n),
        "l_linestatus": rng.integers(0, 2, n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    }


def lineitem_table(cols: dict[str, np.ndarray]) -> pa.Table:
    flag = pa.array(["A", "N", "R"])
    status = pa.array(["F", "O"])
    return pa.table({
        **{k: cols[k] for k in (
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax",
        )},
        "l_returnflag": flag.take(pa.array(cols["l_returnflag"])),
        "l_linestatus": status.take(pa.array(cols["l_linestatus"])),
        "l_shipdate": _ts(cols["l_shipdate"]),
    })


def _doc_texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[w] for w in words[pos:pos + k]))
        pos += k
    return out


def _docs_table(texts: list[str], langs: pa.Array) -> pa.Table:
    n = len(texts)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": langs,
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def documents(rng, n: int) -> pa.Table:
    """Word-salad documents; 5% end in a planted ``dup`` marker and copy
    an earlier document's text (exact-duplicate material)."""
    texts = _doc_texts(rng, n)
    for i in np.flatnonzero(rng.random(n) < 0.05):
        src = int(rng.integers(0, n))
        texts[i] = texts[src].removesuffix(" dup") + " dup"
    return _docs_table(texts, _pick(rng, LANGS, n, LANG_P))


def _unit_rows(rng, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def embeddings(rng, n: int, near_dup_frac: float = 0.0) -> pa.Table:
    vecs = _unit_rows(rng, n)
    for i in np.flatnonzero(rng.random(n) < near_dup_frac):
        src = int(rng.integers(0, n))
        v = vecs[src] + 0.05 * rng.standard_normal(EMB_DIM).astype(np.float32)
        vecs[i] = v / np.linalg.norm(v)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM).cast(pa.list_(pa.float32()))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def catalog(rng, sf: float) -> dict[str, pa.Table]:
    """Every fixture table at scale factor ``sf``."""
    size = {k: max(10, int(round(v * sf / 0.1))) for k, v in SF01_ROWS.items()}
    nc, ns, npart, no = size["customer"], size["supplier"], size["part"], size["orders"]
    pid = np.arange(npart, dtype=np.int64)
    n_ev = size["events"]
    ev_ts = np.sort(rng.integers(_EPOCH_2024, _EPOCH_2024 + 30 * _DAY_US, n_ev))
    return {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }),
        "part": pa.table({
            "p_partkey": pid,
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pid % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", no)),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }),
        "lineitem": lineitem_table(lineitem(rng, size["lineitem"], no, npart, ns)),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(10, int(1500 * sf / 0.1)), n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "documents": documents(rng, size["documents"]),
        "embeddings": embeddings(rng, size["embeddings"]),
    }


def write_catalog(out: str, seed: int, sf: float) -> dict[str, int]:
    rng = np.random.default_rng([seed, 1])
    rows = {}
    for name, table in catalog(rng, sf).items():
        _write(table, os.path.join(out, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def write_scan(out: str, seed: int, copies: int) -> dict[str, int]:
    """lineitem xN: copy i shifts l_orderkey by i * SHIFT and jitters
    l_extendedprice by a seeded factor in [0.98, 1.02]; one file per
    copy, so the scan has N input splits."""
    rng = np.random.default_rng([seed, 2])
    n = SF01_ROWS["lineitem"]
    base = lineitem(rng, n, SF01_ROWS["orders"], SF01_ROWS["part"], SF01_ROWS["supplier"])
    d = os.path.join(out, "lineitem.parquet")
    os.makedirs(d)
    for i in range(copies):
        cols = dict(base)
        cols["l_orderkey"] = base["l_orderkey"] + i * SHIFT
        if i:
            cols["l_extendedprice"] = np.round(
                base["l_extendedprice"] * rng.uniform(0.98, 1.02, n), 2
            )
        _write(lineitem_table(cols), os.path.join(d, f"part-{i:05d}.parquet"))
    return {"lineitem": n * copies}


def write_corpus(out: str, seed: int, copies: int, dup_frac: float = 0.1) -> dict[str, int]:
    if not 1 <= copies <= 27:
        raise ValueError("copies must be 1..27")
    """documents xN with per-copy word mutation (as ``tools/scale_probe.py
    --dedup`` does, but copy i suffixes every word with the letters
    ``z`` + the i-th letter instead of ``_i``: an underscore is a symbol
    to the quality gate, which would reject every copy), then a
    seeded ``dup_frac`` of extra rows that duplicate a corpus document:
    half exact copies, half with one word replaced (near duplicates).
    Embeddings are sf 0.1 sized, 5% planted near-duplicate vectors."""
    rng = np.random.default_rng([seed, 3])
    base = _doc_texts(rng, SF01_ROWS["documents"])
    texts = list(base)
    for i in range(1, copies):
        tag = "z" + chr(ord("a") + i - 1)
        texts += [" ".join(w + tag for w in t.split(" ")) for t in base]
    n_dup = int(len(texts) * dup_frac)
    for k, src in enumerate(rng.integers(0, len(texts), n_dup)):
        words = texts[src].split(" ")
        if k % 2:
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts.append(" ".join(words))
    docs = _docs_table(texts, _pick(rng, LANGS, len(texts), LANG_P))
    emb = embeddings(rng, SF01_ROWS["embeddings"], near_dup_frac=0.05)
    _write(docs, os.path.join(out, "documents.parquet"))
    _write(emb, os.path.join(out, "embeddings.parquet"))
    return {"documents": docs.num_rows, "embeddings": emb.num_rows}


def ensure(cache: str, kind: str, seed: int, writer, *args) -> dict:
    """Generate ``kind`` for ``seed`` once; later runs with the same
    seed reuse the files.  Returns the manifest: rows per table, bytes
    and a sha256 over every generated file."""
    d = os.path.join(cache, f"{kind}-{seed}")
    manifest_path = os.path.join(d, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return json.load(fh)
    tmp = d + ".tmp"
    _rmtree(tmp)
    os.makedirs(tmp)
    rows = writer(tmp, seed, *args)
    digest, size = hashlib.sha256(), 0
    for root, dirs, files in os.walk(tmp):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                data = fh.read()
            digest.update(os.path.relpath(p, tmp).encode() + b"\0" + data)
            size += len(data)
    manifest = {"dir": d, "rows": rows, "bytes": size, "sha256": digest.hexdigest()}
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    _rmtree(d)
    os.rename(tmp, d)
    _prune(cache, kind, keep=d)
    return manifest


def _prune(cache: str, kind: str, keep: str, max_kept: int = 3) -> None:
    """Keep the newest few seeds per kind so a long series of seeded
    runs does not fill the disk."""
    dirs = [
        os.path.join(cache, e) for e in os.listdir(cache)
        if e.startswith(kind + "-") and not e.endswith(".tmp")
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[max_kept:]:
        if d != keep:
            _rmtree(d)


def _rmtree(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)
