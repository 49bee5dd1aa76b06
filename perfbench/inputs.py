"""Seeded inputs: corpus, query mix and update batches, all functions of the seed.

The corpus is the engine's own synthetic generator (`generate_transcripts`),
materialised as parquet. Query terms and update text are drawn from that
corpus's measured vocabulary (DuckDB over the parquet, independent of the
engine), so "hot", "mid" and "rare" are measured document frequencies.
"""

from __future__ import annotations

import os
import tempfile

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from elasticsearch_spark.sources.transcripts import ROLES, generate_transcripts

N_TURNS = 5_000  # ~0.65 MB of corpus parquet; per-call Spark overhead dominates
K = 10  # top-k of every search
UPDATE_SHARE = 0.01  # rows per update batch, as a share of the corpus
DOC_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

# the engine's standard analyzer as DuckDB SQL (RE2 twin of analysis.tokens)
_TERM_DF_SQL = r"""
SELECT term, count(*) AS df FROM (
  SELECT DISTINCT conv_id, turn_idx,
         unnest(regexp_extract_all(lower(text), '[\pL\pN]+')) AS term
  FROM read_parquet('{glob}'))
GROUP BY term ORDER BY df DESC, term
"""


def write_corpus(spark, path: str, seed: int) -> None:
    generate_transcripts(spark, N_TURNS, seed=seed).write.mode("overwrite").parquet(path)


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(base, f))
        for base, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def term_dfs(corpus_path: str) -> list[tuple[str, int]]:
    """(term, df) over the corpus text, highest df first."""
    with duckdb.connect(config={"temp_directory": tempfile.gettempdir()}) as con:
        return con.execute(_TERM_DF_SQL.format(glob=f"{corpus_path}/*.parquet")).fetchall()


def read_table(corpus_path: str) -> pd.DataFrame:
    """The corpus as a pandas frame keyed by (conv_id, turn_idx)."""
    df = pq.read_table(corpus_path).to_pandas()[DOC_COLS]
    return df.set_index(["conv_id", "turn_idx"], drop=False).sort_index()


def query_mix(dfs: list[tuple[str, int]], seed: int) -> list[dict]:
    """The search mix. Each entry: name, ES query dict, and its terms' df.

    Terms are picked by df rank, so every seed gets the same shape of work:
    rank 0 is the hottest term, the mid OR sits around rank 20-80, and the
    rare term is the lowest-df term that still has 3k matching docs.
    """
    ranked = [t for t, _ in dfs]
    df_of = dict(dfs)
    rare = next(t for t, d in reversed(dfs) if d >= 3 * K)
    rng = np.random.default_rng([seed, 1])
    lo = int(rng.integers(0, 17))

    def text(*terms):
        return " ".join(terms)

    t = ranked
    mix = [
        ("hot_term", {"match": {"text": t[0]}}, [t[0]]),
        ("mid_or3", {"match": {"text": text(t[20], t[40], t[80])}}, [t[20], t[40], t[80]]),
        ("rare_term", {"match": {"text": rare}}, [rare]),
        ("and3", {"match": {"text": {"query": text(*t[1:4]), "operator": "and"}}}, t[1:4]),
        (
            "msm3of4",
            {"match": {"text": {"query": text(*t[4:8]), "minimum_should_match": 3}}},
            t[4:8],
        ),
        ("phrase_hot2", {"match_phrase": {"text": text(t[0], t[1])}}, t[0:2]),
        (
            "bool_filter_role",
            {
                "bool": {
                    "must": [{"match": {"text": t[2]}}],
                    "filter": [{"term": {"role": ROLES[seed % len(ROLES)]}}],
                }
            },
            [t[2]],
        ),
        (
            "bool_must_not_tool",
            {
                "bool": {
                    "must": [{"match": {"text": text(t[3], t[8])}}],
                    "must_not": [{"term": {"tool": "code"}}],
                }
            },
            [t[3], t[8]],
        ),
        ("range_turn_idx", {"range": {"turn_idx": {"gte": lo, "lte": lo + 2}}}, []),
    ]
    return [
        {"name": n, "query": q, "df": {term: df_of[term] for term in terms}}
        for n, q, terms in mix
    ]


class UpdateBatches:
    """Round r's partial-doc update batch, a pure function of (seed, r).

    Every batch replaces `text` with words drawn from the corpus vocabulary
    (weights = measured df, i.e. the corpus's own zipf law), sets `role` on
    half the rows and leaves `tool`/`ts` null, so the engine must coalesce
    them from the pre-image.
    """

    def __init__(self, table: pd.DataFrame, dfs: list[tuple[str, int]], seed: int):
        self.keys = table.index.to_numpy()
        self.terms = np.array([t for t, _ in dfs])
        w = np.array([d for _, d in dfs], dtype=float)
        self.p = w / w.sum()
        self.seed = seed
        self.size = max(1, int(len(self.keys) * UPDATE_SHARE))

    def batch(self, r: int) -> pd.DataFrame:
        rng = np.random.default_rng([self.seed, 2, r])
        keys = self.keys[rng.choice(len(self.keys), self.size, replace=False)]
        n_tok = np.floor(np.power(200.0, rng.random(self.size))).astype(int) + 1
        texts = [" ".join(rng.choice(self.terms, n, p=self.p)) for n in n_tok]
        roles = [
            ROLES[int(i)] if set_role else None
            for i, set_role in zip(rng.integers(0, len(ROLES), self.size), rng.random(self.size) < 0.5)
        ]
        return pd.DataFrame(
            {
                "conv_id": [k[0] for k in keys],
                "turn_idx": [int(k[1]) for k in keys],
                "role": roles,
                "text": texts,
            }
        )
