"""Seeded change-log generator and Spark-free oracle for the benchmark.

Every column of an event is a pure function of its row id. A seed selects
a window of row ids, so the same seed always yields the same log and two
seeds yield different keys, contents and operations. Nothing here imports
Spark: the engine only ever sees the parquet files written by
``write_file``, and the oracle side reads them back with pyarrow.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyorchdb_spark.oracle import expected_final_state

_EXTS = np.array([".py", ".md", ".rs", ".ts", ".java"])
_LANGS = np.array(["python", "markdown", "rust", "typescript", "java"])
_DIRS = np.array(["src", "lib", "core", "util", "api", "cli", "tests", "docs"])
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_TS0 = 1_700_000_000
# seed windows are this many row ids apart, so logs of different seeds
# never share a row id
_WINDOW = 1 << 32

SCHEMA = pa.schema(
    [
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("seq", pa.int64()),
        ("op", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
        ("batch_id", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("lang_variant", pa.string()),
    ]
)


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer of ``x + salt * golden`` (wrapping uint64)."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + np.uint64(salt) * _GOLDEN
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _unit(x: np.ndarray, salt: int) -> np.ndarray:
    return (_mix(x, salt) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def first_row_id(seed: int) -> int:
    return int(seed) * _WINDOW


def events(
    row_ids: np.ndarray,
    *,
    n_keys: int,
    batch_size: int,
    first_row: int,
    content_max_reps: int,
    hot_share: float = 0.0,
    tombstone_pct: int = 10,
    duplicate_mod: int = 50,
    n_repos: int = 200,
) -> pd.DataFrame:
    """The change events for ``row_ids`` (seq = row id).

    Keys are uniform over ``n_keys`` key ids; a ``hot_share`` fraction of
    events collapses onto key id 0. About 1/``duplicate_mod`` of the rows
    are delivered twice, ``tombstone_pct`` percent are deletes, and one key
    in twenty carries a ``./`` path prefix the engine must normalize.
    ``batch_id`` numbers batches of ``batch_size`` ids from ``first_row``.
    """
    ids = np.asarray(row_ids, dtype=np.int64)
    uid = ids.astype(np.uint64)
    key = (_mix(uid, 1) % np.uint64(n_keys)).astype(np.int64)
    if hot_share > 0.0:
        key = np.where(_unit(uid, 2) < hot_share, 0, key)
    ukey = key.astype(np.uint64)
    repo_id = np.floor(_unit(ukey, 3) ** 3.0 * n_repos).astype(np.int64)
    ext_i = (_mix(ukey, 4) % np.uint64(len(_EXTS))).astype(np.int64)
    d1 = _DIRS[(_mix(ukey, 5) % np.uint64(len(_DIRS))).astype(np.int64)]
    d2 = _DIRS[(_mix(ukey, 6) % np.uint64(len(_DIRS))).astype(np.int64)]
    noisy = (_mix(ukey, 7) % np.uint64(20)) == 0
    is_del = (_mix(uid, 8) % np.uint64(100)) < np.uint64(tombstone_pct)
    reps = (_mix(uid, 9) % np.uint64(content_max_reps)).astype(np.int64) + 1
    exts = _EXTS[ext_i]

    repo = [f"repo_{r}" for r in repo_id.tolist()]
    path = [
        f"{'./' if n else ''}{a}/{b}/mod_{k}{e}"
        for n, a, b, k, e in zip(noisy.tolist(), d1.tolist(), d2.tolist(), key.tolist(), exts.tolist())
    ]
    seqs = ids.tolist()
    commit = [
        hashlib.sha1(f"{r}|{p}|{s}".encode()).hexdigest() for r, p, s in zip(repo, path, seqs)
    ]
    content = [
        f"def f_{k}():\n    return '{hashlib.sha512(f'{k}#{s}'.encode()).hexdigest() * n}'\n"
        for k, s, n in zip(key.tolist(), seqs, reps.tolist())
    ]
    batch_no = (ids - first_row) // batch_size
    df = pd.DataFrame(
        {
            "repo": repo,
            "path": path,
            "commit": commit,
            "seq": ids,
            "op": np.where(is_del, "delete", "upsert"),
            "lang": _LANGS[ext_i],
            "content": content,
            "batch_id": [f"b{b:06d}" for b in batch_no.tolist()],
            "ts": pd.to_datetime(ids - first_row + _TS0, unit="s", utc=True),
            "lang_variant": pd.Series([None] * len(ids), dtype=object),
        }
    )
    dup = (_mix(uid, 10) % np.uint64(duplicate_mod)) == 0
    return pd.concat([df, df[dup]], ignore_index=True)


def to_table(df: pd.DataFrame) -> pa.Table:
    return pa.Table.from_pandas(df, schema=SCHEMA, preserve_index=False)


def write_file(df: pd.DataFrame, path: str, row_groups: int = 1, partitioned: bool = False) -> None:
    """One parquet file with ``row_groups`` row groups, so Spark can split
    it. ``partitioned``: leave ``batch_id`` out of the file, because it is
    encoded in a ``batch_id=`` directory name."""
    tbl = to_table(df)
    if partitioned:
        tbl = tbl.drop_columns(["batch_id"])
    rg = max(1, -(-len(df) // max(1, row_groups)))
    pq.write_table(tbl, path, row_group_size=rg)


def read_log(paths: list[str]) -> pd.DataFrame:
    """The written log as pandas, via pyarrow only."""
    return pd.concat([pq.read_table(p).to_pandas() for p in paths], ignore_index=True)


def canonical_paths(df: pd.DataFrame) -> pd.DataFrame:
    """The oracle's own path canonicalization (leading ``./`` runs stripped);
    written independently of the engine's ``normalize_path``."""
    out = df.copy()
    out["path"] = out["path"].str.replace(r"^(\./)+", "", regex=True)
    return out


def _raw_bytes(df: pd.DataFrame) -> pd.Series:
    """UTF-8 bytes of a row's string columns plus 8 each for seq and ts."""
    total = pd.Series(16, index=df.index)
    for c in ("repo", "path", "commit", "op", "lang", "content", "content_sha256"):
        total = total + df[c].fillna("").str.len()
    return total


def live_state(events_df: pd.DataFrame) -> pd.DataFrame:
    """Expected live rows after applying ``events_df``: the repo's pandas
    oracle on canonical paths, reduced to the compared columns plus the
    row's raw size."""
    st = expected_final_state(canonical_paths(events_df))
    st["raw_bytes"] = _raw_bytes(st)
    return st[["repo", "path", "lang", "seq", "content_sha256", "raw_bytes"]].reset_index(drop=True)


def batch_changes(events_df: pd.DataFrame) -> pd.DataFrame:
    """Per-key last writer of one batch, tombstones included: what
    ``changes_since`` must return for it, and how it moves live state."""
    df = canonical_paths(events_df).sort_values(
        ["seq", "commit", "op"], ascending=False, kind="mergesort"
    ).drop_duplicates(subset=["repo", "path"], keep="first")
    df["content_sha256"] = [
        None if op == "delete" else hashlib.sha256(c.encode()).hexdigest()
        for op, c in zip(df["op"].tolist(), df["content"].tolist())
    ]
    df["raw_bytes"] = _raw_bytes(df)
    return df[["repo", "path", "lang", "op", "seq", "content_sha256", "raw_bytes"]].reset_index(drop=True)


def digest(rows: pd.DataFrame, cols=("repo", "path", "content_sha256")) -> str:
    """sha256 over the rows sorted by ``cols``: an order-insensitive state id."""
    df = rows[list(cols)].fillna("<null>").astype(str).sort_values(list(cols), kind="mergesort")
    h = hashlib.sha256()
    for t in df.itertuples(index=False, name=None):
        h.update("\x1f".join(t).encode())
        h.update(b"\x1e")
    return h.hexdigest()
