"""Untimed correctness checks: the expected store, the DuckDB oracle, row comparisons.

The oracle is the repo's own `oracle.search_sql`, with its transcripts CTE
(which derives the table from documents.parquet) swapped for a view over the
rows the store is expected to hold.
"""

from __future__ import annotations

import datetime as dt
import tempfile

import duckdb
import pandas as pd

from elasticsearch_spark import oracle
from inputs import DOC_COLS

SCORE_TOL = 1e-4  # both sides round scores to 4 decimals
_LIVE_CTE = "WITH transcripts AS (SELECT conv_id, turn_idx, role, text, tool, ts FROM held)"
_DEAD = "~dead"  # conv_id suffix of row versions a delete file hides
KEYS = ["conv_id", "turn_idx"]


class StoreModel:
    """Every row version each live segment holds, and which one is live.

    The engine scores with Lucene's collection statistics: a row replaced by
    an update still counts in n_docs, avgdl and df until a merge purges it.
    So the oracle scores over every version the live segments hold and drops
    the dead ones from the ranking.
    """

    def __init__(self, table: pd.DataFrame):
        self.rows = table[DOC_COLS].reset_index(drop=True).assign(seg=0, live=True)
        self.n_segs = 1

    def live(self) -> pd.DataFrame:
        out = self.rows[self.rows["live"]][DOC_COLS]
        return out.set_index(KEYS, drop=False).sort_index()

    def held(self) -> tuple[pd.DataFrame, int]:
        """(every held version, dead ones marked in conv_id; number dead)."""
        dead = ~self.rows["live"]
        held = self.rows[DOC_COLS].copy()
        held.loc[dead, "conv_id"] = held.loc[dead, "conv_id"] + _DEAD
        return held, int(dead.sum())

    def update(self, batch: pd.DataFrame) -> int:
        """Partial-doc update (a null column keeps the old value) into a new
        segment; returns the new segment's number."""
        idx = pd.MultiIndex.from_frame(batch[KEYS])
        new = self.live().loc[idx].reset_index(drop=True)
        new["text"] = batch["text"].to_numpy()
        has_role = batch["role"].notna().to_numpy()
        new.loc[has_role, "role"] = batch["role"].to_numpy()[has_role]
        hit = pd.MultiIndex.from_frame(self.rows[KEYS]).isin(idx) & self.rows["live"]
        self.rows.loc[hit, "live"] = False
        seg = self.n_segs
        self.n_segs += 1
        self.rows = pd.concat([self.rows, new.assign(seg=seg, live=True)], ignore_index=True)
        return seg

    def merge(self, segs: list[int]) -> int:
        """Merge segments: their dead versions are purged."""
        into = self.rows["seg"].isin(segs)
        self.rows = self.rows[~into | self.rows["live"]].reset_index(drop=True)
        seg = self.n_segs
        self.n_segs += 1
        self.rows.loc[self.rows["seg"].isin(segs), "seg"] = seg
        return seg


class Oracle:
    """Expected top-k per (store state, query), memoised."""

    def __init__(self):
        self.con = duckdb.connect(config={"temp_directory": tempfile.gettempdir()})
        self.version = None
        self.memo: dict[tuple, list[tuple]] = {}

    def close(self) -> None:
        self.con.close()

    def use(self, version, model: StoreModel) -> None:
        """Score against `model`'s current rows from now on."""
        if version != self.version:
            held, self.n_dead = model.held()
            self.con.register("held", held)
            self.version = version

    def search(self, name: str, query: dict, k: int) -> list[tuple]:
        key = (self.version, name)
        if key not in self.memo:
            sql = oracle.search_sql(query, k + self.n_dead)
            if not sql.startswith(oracle.TRANSCRIPTS_CTE):
                raise RuntimeError("oracle SQL no longer starts with TRANSCRIPTS_CTE")
            sql = _LIVE_CTE + sql[len(oracle.TRANSCRIPTS_CTE):]
            rows = self.con.execute(sql).fetchall()
            self.memo[key] = [
                (c, int(t), float(s)) for c, t, s in rows if not c.endswith(_DEAD)
            ][:k]
        return self.memo[key]


def same_hits(got: list[tuple], want: list[tuple], k: int) -> bool:
    """Exactly k rows, same keys in the same order, scores within rounding."""
    return (
        len(got) == k
        and len(want) == k
        and all(
            g[0] == w[0] and int(g[1]) == w[1] and abs(float(g[2]) - w[2]) <= SCORE_TOL
            for g, w in zip(got, want)
        )
    )


def _norm(v):
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return pd.Timestamp(v).tz_localize(None) if pd.Timestamp(v).tzinfo else pd.Timestamp(v)
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return None
    return v


def rows_of(table: pd.DataFrame, cols: list[str]) -> list[tuple]:
    return [tuple(_norm(v) for v in r) for r in table[cols].itertuples(index=False)]


def same_rows(got, want: list[tuple]) -> bool:
    """Collected Spark rows equal the expected tuples, in order."""
    return len(got) == len(want) and all(
        tuple(_norm(v) for v in g) == w for g, w in zip(got, want)
    )
