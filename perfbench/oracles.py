"""Independent answers for every checked benchmark operation.

Facade checks use NumPy and pandas over the same Python inputs the
benchmark handed to `VectorDatabase.add`:
- BM25Okapi (k1=1.5, b=0.75, idf floored to 0.25 x mean idf) for
  `query_text`, ties broken by highest `doc_id` first;
- max-normalised BM25 fused with 1/(1+squared L2) for `hybrid_search`,
  zero scores dropped, ties broken by lowest `doc_id` first;
- a pandas filter for `query_metadata`;
- exact squared-L2 top-k for `query_vector`, which an approximate index
  only has to reach to a recall floor.

Batch entries are checked like the repository's correctness script: an
order-insensitive hash of the Spark result against the entry's DuckDB
`oracle_sql()` twin over the same parquet.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import numpy as np
import pandas as pd

K1, B, EPSILON = 1.5, 0.75, 0.25
SCORE_TOL = 2e-6  # both sides round to 6 decimals


class Corpus:
    """The documents the facade holds, in insertion (doc_id) order."""

    def __init__(self) -> None:
        self.texts: list[str] = []
        self.metas: list[dict] = []
        self.vectors = np.zeros((0, 0), dtype=np.float64)

    def extend(self, texts, vectors: np.ndarray, metas) -> None:
        self.texts.extend(texts)
        self.metas.extend(metas)
        v = np.asarray(vectors, dtype=np.float32).astype(np.float64)
        self.vectors = v if len(self.vectors) == 0 else np.vstack([self.vectors, v])

    def __len__(self) -> int:
        return len(self.texts)

    def bm25(self, query: str) -> np.ndarray:
        toks = [t.split() for t in self.texts]
        n = len(toks)
        dl = np.array([len(t) for t in toks], dtype=np.float64)
        avgdl = dl.mean()
        df = Counter(w for t in toks for w in set(t))
        raw = {w: math.log((n - f + 0.5) / (f + 0.5)) for w, f in df.items()}
        avg_idf = sum(raw.values()) / len(raw)
        idf = {w: (EPSILON * avg_idf if v < 0 else v) for w, v in raw.items()}
        scores = np.zeros(n)
        for q, qtf in Counter(query.split()).items():
            if q not in idf:
                continue
            tf = np.array([t.count(q) for t in toks], dtype=np.float64)
            scores += qtf * idf[q] * tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))
        return scores

    def sq_l2(self, q) -> np.ndarray:
        d = self.vectors - np.asarray(q, dtype=np.float64)
        return (d * d).sum(axis=1)

    def text_topk(self, query: str, k: int) -> list[tuple[int, float]]:
        s = np.round(self.bm25(query), 6)
        order = sorted(range(len(s)), key=lambda i: (-s[i], -i))[:k]
        return [(i, float(s[i])) for i in order]

    def hybrid_topk(self, query: str, vec, k: int, w: float) -> list[tuple[int, float]]:
        vs = 1.0 / (1.0 + self.sq_l2(vec))
        ts = self.bm25(query)
        vn = vs / vs.max() if vs.max() > 0 else vs
        tn = ts / ts.max() if ts.max() > 0 else ts
        raw = w * vn + (1.0 - w) * tn
        s = np.round(raw, 6)
        keep = [i for i in range(len(s)) if raw[i] > 0]
        order = sorted(keep, key=lambda i: (-s[i], i))[:k]
        return [(i, float(s[i])) for i in order]

    def metadata_ids(self, conditions: dict, k: int) -> list[int]:
        frame = pd.DataFrame(self.metas)
        mask = np.ones(len(frame), dtype=bool)
        for key, val in conditions.items():
            mask &= (frame[key] == val).to_numpy()
        return [int(i) for i in np.flatnonzero(mask)[:k]]

    def exact_knn(self, vec, k: int) -> list[int]:
        d = self.sq_l2(vec)
        return [int(i) for i in np.lexsort((np.arange(len(d)), d))[:k]]


def ranked_match(got: list[tuple[int, float]], want: list[tuple[int, float]],
                 all_scores: dict[int, float] | None = None) -> bool:
    """Same length and, rank by rank, the same score; an id may differ only
    where the oracle holds a tie at that score."""
    if len(got) != len(want):
        return False
    for (gid, gs), (wid, ws) in zip(got, want):
        if abs(gs - ws) > SCORE_TOL:
            return False
        if gid != wid and (all_scores is None or abs(all_scores.get(gid, -1.0) - ws) > SCORE_TOL):
            return False
    return True


# ------------------------------------------------------------- batch twin
def _norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> tuple[int, list[str], str]:
    """(rows, sorted columns, order-insensitive hash) of a result frame."""
    n = _norm_frame(df)
    digest = hashlib.sha256(n.to_csv(index=False, float_format="%.6f").encode())
    return len(n), list(n.columns), digest.hexdigest()[:16]


class DuckOracle:
    """Registry oracle SQL over the benchmark's parquet files."""

    def __init__(self, sf_dir: str, tables: list[str]) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def digest(self, sql: str):
        return value_hash(self.con.execute(sql).df())

    def close(self) -> None:
        self.con.close()
