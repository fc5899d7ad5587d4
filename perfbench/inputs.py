"""Seeded inputs and oracle expectations for the benchmark workloads.

Everything here is benchmark-side: the engine only ever sees the files
written under the run's work directory. Inputs are a pure function of
(workload sizes, seed) and are cached per seed, together with the oracle's
expected state, so a repeated seed skips generation.

The expected state comes from the repository's sequential oracle
(``canal_spark.oracle.apply_events_py``, the fold behind
``oracle_final_state``). Token arrays enter that fold already reduced to
their md5 (the fold treats them as opaque values), which keeps the oracle
cost a few seconds per run instead of a token-by-token Python comparison.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import pickle
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


DDL_ADD = "ALTER TABLE train.tokseq ADD COLUMN quality_tier STRING"

# MultiJoinedView dims for the fanout workload: source -> kind/weight, and
# an n_tok band (the generator draws n_tok in [4, 64])
DIM_SOURCE = [
    ("web", "crawl", 0.5),
    ("books", "curated", 1.0),
    ("code", "curated", 0.8),
    ("wiki", "curated", 1.0),
    ("forums", "crawl", 0.3),
]
DIM_BAND = [(i, "even" if i % 2 == 0 else "odd") for i in range(256)]
VIEW_COLS = ["doc_id", "n_tok", "source", "src_kind", "src_weight", "ntok_band"]


def tokens_md5(tokens) -> list:
    """md5 hex of each row's int32 token array (little-endian bytes); None
    for a null array. Shared by the oracle side and the engine side."""
    if isinstance(tokens, pa.ChunkedArray):
        tokens = (tokens.combine_chunks() if tokens.num_chunks
                  else pa.array([], tokens.type))
    offs = tokens.offsets.to_numpy()
    vals = tokens.values.to_numpy(zero_copy_only=False).astype("<i4")
    buf = memoryview(vals.tobytes())
    valid = tokens.is_valid().to_numpy(zero_copy_only=False)
    md5 = hashlib.md5
    return [md5(buf[4 * int(offs[i]):4 * int(offs[i + 1])]).hexdigest()
            if valid[i] else None for i in range(len(tokens))]


def _images(col: pa.ChunkedArray) -> list:
    """Struct image column -> list of dicts (tokens as md5) or None."""
    arr = col.combine_chunks()
    if not isinstance(arr, pa.StructArray):
        return [None] * len(arr)
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    names = [f.name for f in arr.type]
    children = arr.flatten()
    cols = [tokens_md5(c) if n == "tokens" else c.to_pylist()
            for n, c in zip(names, children)]
    rows = [dict(zip(names, vals)) for vals in zip(*cols)]
    return [r if v else None for r, v in zip(rows, valid)]


def read_events(log_dir: str, files: list[str] | None = None) -> list[dict]:
    """Typed log segments -> event dicts in LSN order (oracle input)."""
    names = files or sorted(os.path.basename(p) for p in glob.glob(
        os.path.join(log_dir, "mysql-bin.*.parquet")))
    events: list[dict] = []
    keep = ["entry_type", "event_type", "gtid_seq", "binlog_file",
            "binlog_pos", "schema_name", "table_name", "is_ddl", "sql"]
    for name in names:
        t = pq.read_table(os.path.join(log_dir, name))
        cols = {c: t.column(c).to_pylist() for c in keep}
        cols["before"] = _images(t.column("before"))
        cols["after"] = _images(t.column("after"))
        ks = list(cols)
        events.extend(dict(zip(ks, vals)) for vals in zip(*cols.values()))
    events.sort(key=lambda r: (r["gtid_seq"], r["binlog_file"], r["binlog_pos"]))
    return events


def base_rows(base: pa.Table) -> dict[str, dict]:
    toks = tokens_md5(base.column("tokens"))
    ids = base.column("doc_id").to_pylist()
    ntok = base.column("n_tok").to_pylist()
    src = base.column("source").to_pylist()
    return {d: {"doc_id": d, "tokens": t, "n_tok": n, "source": s}
            for d, t, n, s in zip(ids, toks, ntok, src)}


def state_rows(state: dict[str, dict], cols: list[str]) -> dict[str, tuple]:
    """Oracle state -> {doc_id: row tuple in ``cols`` order}."""
    return {k: tuple(r.get(c) for c in cols) for k, r in state.items()}


def arrow_rows(t: pa.Table, cols: list[str]) -> dict[str, tuple]:
    """Engine rows (Arrow) -> {doc_id: row tuple in ``cols`` order}."""
    vals = [tokens_md5(t.column(c)) if c == "tokens" else t.column(c).to_pylist()
            for c in cols]
    return {r[0]: r for r in zip(*vals)}


def mismatches(actual: dict, expected: dict) -> int:
    """Number of keys whose row differs, is missing or is extra."""
    keys = actual.keys() | expected.keys()
    return sum(1 for k in keys if actual.get(k) != expected.get(k))


def view_rows(state: dict[str, dict]) -> dict[str, tuple]:
    """Expected MultiJoinedView rows: oracle state joined to both dims."""
    d1 = {s: (k, w) for s, k, w in DIM_SOURCE}
    d2 = dict(DIM_BAND)
    out = {}
    for doc_id, r in state.items():
        kind, weight = d1.get(r.get("source"), (None, None))
        out[doc_id] = (doc_id, r.get("n_tok"), r.get("source"), kind, weight,
                       d2.get(r.get("n_tok")))
    return out


def write_wire(typed_dir: str, wire_dir: str) -> list[str]:
    """Typed segments -> wire segments (images as JSON strings plus native
    pk columns), one file per segment under the same name — the shape the
    streaming source reads (canal_spark.operators.decode.to_wire)."""
    os.makedirs(wire_dir, exist_ok=True)
    names = sorted(os.path.basename(p) for p in glob.glob(
        os.path.join(typed_dir, "mysql-bin.*.parquet")))
    for name in names:
        t = pq.read_table(os.path.join(typed_dir, name))
        cols = {c: t.column(c) for c in t.column_names
                if c not in ("before", "after")}
        for img in ("before", "after"):
            rows = t.column(img).to_pylist()
            cols[img] = pa.array(
                [None if r is None else json.dumps(r, separators=(",", ":"))
                 for r in rows], pa.string())
            cols[f"pk_{img}"] = pa.array(
                [None if r is None else r["doc_id"] for r in rows], pa.string())
        pq.write_table(pa.table(cols), os.path.join(wire_dir, name),
                       compression="zstd")
    return names


def lookup_keys(seed: int, salt: int, pool: list[str]) -> list[str]:
    """50 seeded draws from ``pool`` (duplicates collapse)."""
    rng = np.random.default_rng([seed, salt])
    return sorted({pool[i] for i in rng.integers(0, len(pool), size=50)})


class Inputs:
    """Generated files + expected state for one (workload, seed)."""

    def __init__(self, root: str, meta: dict, expected: dict):
        self.root = root
        self.meta = meta
        self.expected = expected

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


def cached(work: str, key: str, build) -> Inputs:
    """Return the cached inputs under ``work/inputs/key`` or build them with
    ``build(root) -> (meta, expected)``."""
    root = os.path.join(work, "inputs", key)
    done = os.path.join(root, "expected.pkl")
    if os.path.exists(done):
        with open(done, "rb") as f:
            meta, expected = pickle.load(f)
        return Inputs(root, meta, expected)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    meta, expected = build(root)
    with open(done + ".tmp", "wb") as f:
        pickle.dump((meta, expected), f)
    os.replace(done + ".tmp", done)
    return Inputs(root, meta, expected)


def dml_changes(events: list[dict]) -> int:
    """Change rows the collapse receives for these events: one per
    subscribed DML event, plus the delete half of each primary-key change."""
    n = 0
    for ev in events:
        if (ev["entry_type"] != "ROWDATA" or ev["is_ddl"]
                or (ev["schema_name"], ev["table_name"]) != ("train", "tokseq")):
            continue
        n += 1
        if (ev["event_type"] == "UPDATE"
                and ev["before"]["doc_id"] != ev["after"]["doc_id"]):
            n += 1
    return n


def segment_events(log_dir: str, names: list[str]) -> list[int]:
    """Subscribed-table DML events per segment file."""
    out = []
    for name in names:
        t = pq.read_table(os.path.join(log_dir, name), columns=[
            "entry_type", "is_ddl", "schema_name", "table_name"]).to_pydict()
        out.append(sum(1 for e, d, s, n in zip(*t.values())
                       if e == "ROWDATA" and not d
                       and (s, n) == ("train", "tokseq")))
    return out

