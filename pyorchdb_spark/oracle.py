"""Pure-pandas oracle for the replay invariant (FIXTURES.md F2).

Independent of every Spark code path: given the raw change log as a
pandas DataFrame, computes the expected final table state under the same
LWW + tombstone semantics, with per-row content sha256. Used by pytest to
verify the engine end-to-end (BASELINE.json:6,15).
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyorchdb_spark.functions.udfs import _norm_one

KEYS = ["repo", "path"]


def curated_log(events: pd.DataFrame) -> pd.DataFrame:
    """The raw log with paths normalized in Python (``_norm_one``) — the
    oracle's input, independent of the engine's curation projection."""
    out = events.copy()
    out["path"] = out["path"].map(_norm_one)
    return out


def expected_final_state(events: pd.DataFrame) -> pd.DataFrame:
    """LWW winners per (repo, path), tombstone winners dropped."""
    df = events.sort_values(
        ["seq", "commit", "op"], ascending=[False, False, False], kind="mergesort"
    ).drop_duplicates(subset=KEYS, keep="first")
    df = df[df["op"] != "delete"].copy()
    df["content_sha256"] = df["content"].map(
        lambda v: None if v is None else hashlib.sha256(v.encode("utf-8")).hexdigest()
    )
    return df.sort_values(KEYS).reset_index(drop=True)


def state_signature(df: pd.DataFrame, extra_cols: list[str] | None = None) -> set[tuple]:
    """Order-insensitive comparable signature: {(repo, path, sha256, ...)}."""
    cols = KEYS + ["content_sha256"] + (extra_cols or [])
    return set(map(tuple, df[cols].fillna("<null>").itertuples(index=False, name=None)))
