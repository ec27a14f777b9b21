"""`VectorDatabase` facade — the reference's class shape on Spark.

Mirrors the public API of the reference's `local_db.py:11` (`add`,
`query_text`, `query_vector`, `query_metadata`, `hybrid_search`,
`get_document`, `get_metadata`, `save`, `load`, `__len__`) so reference
users can port call sites 1:1, while every method compiles to a declarative
DataFrame plan.

State: one `documents` DataFrame (doc_id, text, embedding, meta columns)
plus derived BM25 stats — the Spark analogue of the reference's parallel
lists (local_db.py:35-38). `add` is unionByName + stats invalidation instead
of the reference's full-rebuild-per-add (README.md:152); appended rows
enter as Arrow record batches, so scans of the corpus never re-run Python.
Persistence is parquet + a JSON manifest instead of pickle sniffing
(local_db.py:210-265).

index_type picks the vector index in one place, as the reference's
constructor does (local_db.py:41-54); `_TIERS` maps each type to its
operator module:
- 'flat' → exact brute-force (default; the only hash-checkable path,
  mirroring test_local_db.py:155-157's "flat is exact" stance);
- 'nsw' (the graph tier behind the reference's 'hnsw' spelling) → nsw.py;
- 'lsh' (random-projection buckets) and 'ivf' (coarse cells) → ann.py;
- 'ivfpq' → pq.py, the residual-encoded IVF-PQ tier (faiss IndexIVFPQ
  parity: ADC shortlist over probed cells, exact rerank);
- 'sq8' / 'bq' / 'ivfbq' → sq.py / bq.py (compressed shortlist → exact
  rerank; ivfbq adds coarse-cell scan pruning);
- 'opq' / 'ivfopq' → opq.py (FAISS OPQMatrix rotation ahead of the PQ
  kernel, and the OPQ{m}+IVF{nlist},PQ{m} stack; exact original-frame
  rerank).
"""

from __future__ import annotations

import dataclasses
import importlib
import json
import os
from typing import Any, Callable, Mapping, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from homemade_vector_db_spark.operators import bm25, hybrid, knn


def _clamp_m(pq_code_size: int, dim: int) -> int:
    """The shared PQ subspace-count law for the opq/ivfopq/ivfpq facade
    tiers: m = pq_code_size clamped to a divisor of dim (faiss would
    throw on a non-divisor — we degrade gracefully), validated ≥ 1."""
    if pq_code_size < 1:
        raise ValueError(f"pq_code_size must be >= 1, got {pq_code_size}")
    m = min(pq_code_size, dim)
    while dim % m != 0:
        m -= 1
    return m


# index_type → (operator module, function stem). Each tier's operators are
# named uniformly — `build_<stem>`, `<stem>_add`, `<stem>_delete`,
# `save_<stem>`, `load_<stem>` — and are looked up on the module at call
# time (`_tier_op`), so wrappers installed on the module apply. A tier
# without `<stem>_add` / `<stem>_delete` rebuilds lazily after a mutation.
_TIERS = {
    "flat": None,
    "lsh": ("ann", "lsh"),
    "ivf": ("ann", "ivf"),
    "ivfpq": ("pq", "ivfpq"),
    "nsw": ("nsw", "nsw"),
    "sq8": ("sq", "sq"),
    "bq": ("bq", "bq"),
    "ivfbq": ("bq", "ivfbq"),
    "opq": ("opq", "opq"),
    "ivfopq": ("opq", "ivfopq"),
}
_INDEX_TYPES = tuple(_TIERS)
# Reference spellings (local_db.py:24: 'hnsw' | 'flat' | 'ivfpq') map onto
# the Spark-native tier that fills the same role, so reference call sites
# port 1:1: "hnsw" is the sharded NSW graph tier, where M / ef_construction
# / ef_search are live.
_INDEX_ALIASES = {"hnsw": "nsw"}
# The code tiers store per-row codes against FROZEN trained geometry, so a
# delete is an exact filter of these code relations (dotted field paths):
# search results equal a from-scratch rebuild minus the rows.
_CODE_RELATIONS = {
    "ivf": ("assignments",),
    "ivfpq": ("pq.codes", "codes_with_cluster"),
    "sq8": ("codes",),
    "bq": ("codes",),
    "opq": ("pq_index.codes",),
    "ivfopq": ("ivfpq.pq.codes", "ivfpq.codes_with_cluster"),
}


def _filter_relation(index, path: str, cond: Column):
    """`index` with the DataFrame at dotted field `path` filtered by
    `cond`, rebuilding each enclosing dataclass with `replace`."""
    head, _, rest = path.partition(".")
    value = getattr(index, head)
    value = _filter_relation(value, rest, cond) if rest else value.where(cond)
    return dataclasses.replace(index, **{head: value})


class VectorDatabase:
    def __init__(
        self,
        spark: SparkSession,
        dim: int,
        index_type: str = "flat",
        id_col: str = "doc_id",
        text_col: str = "text",
        vec_col: str = "embedding",
        ef_construction: int = 200,
        M: int = 16,
        ivf_clusters: int = 100,
        pq_code_size: int = 16,
        ef_search: int = 50,
        init_index: bool = True,
    ):
        """Reference constructor shape (local_db.py:21-54) ports 1:1.

        Tuning-kwarg mapping onto the Spark tiers:
        - `M` / `ef_construction` → the graph tier's build degree and
          construction beam ('hnsw' / 'nsw'), as in hnswlib;
        - `ef_search` → the graph tier's search beam; on the IVF tiers it
          sets the probe width, nprobe = ef_search // 10 (the reference
          default 50 → 5 ≈ FAISS's nlist // 10);
        - `ivf_clusters` → IVF nlist (same meaning as FAISS nlist);
        - `pq_code_size` → the PQ subspace count m of 'ivfpq' / 'opq' /
          'ivfopq', clamped to a divisor of dim;
        - `init_index` is inert: all derived state here is lazy.
        """
        # parity: reject unknown index types (local_db.py:53-54);
        # reference spellings alias to their Spark-native tier
        index_type = _INDEX_ALIASES.get(index_type, index_type)
        if index_type not in _INDEX_TYPES:
            raise ValueError(
                f"index_type must be one of {_INDEX_TYPES} "
                f"(or reference aliases {tuple(_INDEX_ALIASES)}), got {index_type!r}"
            )
        self.spark = spark
        self.dim = dim
        self.index_type = index_type
        self.id_col, self.text_col, self.vec_col = id_col, text_col, vec_col
        self.ef_construction, self.M, self.ef_search = ef_construction, M, ef_search
        self.ivf_clusters, self.pq_code_size = ivf_clusters, pq_code_size
        self.init_index = init_index
        self._df: DataFrame | None = None
        self._stats: bm25.BM25Stats | None = None
        self._ann_index = None  # the tier's index dataclass, built lazily
        self._n = 0
        # high-water mark for id assignment: bumped by add, never reduced
        # by delete, so deleted ids are never reissued to new documents
        # (id reuse would silently alias two docs in BM25/knn results).
        # None = unknown (attached/loaded df) → computed lazily as max(id)+1.
        self._next_id: int | None = 0
        # graph-tier build target; small values let tests exercise the
        # add-stream rebalance trigger without thousands of rows
        self._nsw_rows_per_shard = 2000

    def _tier_op(self, name: str):
        """This tier's operator `name.format(stem)` (e.g. "{}_add"), read
        from its module at call time; None if the tier has none."""
        module, stem = _TIERS[self.index_type]
        module = importlib.import_module(
            f"homemade_vector_db_spark.operators.{module}"
        )
        return getattr(module, name.format(stem), None)

    # ------------------------------------------------------------------ ingest
    def _rows_df(
        self,
        ids: Sequence[int],
        docs: Sequence[str],
        vectors: Sequence[Sequence[float]],
        metas: Sequence[Mapping[str, str]],
    ) -> DataFrame:
        """One appended row block as a DataFrame read from Arrow record
        batches, the one builder for `add` and `update`. The JVM owns the
        rows from here on, so no scan of the corpus re-enters Python.
        The block is sliced into up to `defaultParallelism` batches: Spark
        keeps a small block as a local relation scanned over that many
        partitions, and gives a block above
        `spark.sql.execution.arrow.localRelationThreshold` one partition
        per batch, so a large block keeps its scan parallelism either way.
        Vectors are rounded to float32 once, with NumPy (round to nearest,
        the same value Spark's double→float cast gives)."""
        for v in vectors:
            if len(v) != self.dim:
                raise ValueError(f"vector dim {len(v)} != {self.dim}")
        n = len(ids)
        vecs = np.asarray(vectors)
        if vecs.dtype == object:  # NumPy would turn a None into NaN
            raise TypeError("vectors must hold numbers only")
        flat = vecs.astype(np.float32).reshape(n * self.dim)
        offsets = np.arange(0, (n + 1) * self.dim, self.dim, dtype=np.int32)
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array(ids, pa.int64()),
                pa.array(docs, pa.string()),
                pa.ListArray.from_arrays(offsets, flat),
                pa.array(metas, pa.map_(pa.string(), pa.string())),
            ],
            names=[self.id_col, self.text_col, self.vec_col, "meta"],
        )
        # no empty slice: Spark's Arrow reader stops at a zero-row batch
        # and silently drops every row after it
        parts = max(1, min(n, self.spark.sparkContext.defaultParallelism))
        bounds = [n * i // parts for i in range(parts + 1)]
        table = pa.Table.from_batches(
            [batch.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])],
            batch.schema,
        )
        schema = T.StructType(
            [
                T.StructField(self.id_col, T.LongType()),
                T.StructField(self.text_col, T.StringType()),
                T.StructField(self.vec_col, T.ArrayType(T.FloatType())),
                T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
            ]
        )
        return self.spark.createDataFrame(table, schema)

    def add(
        self,
        docs: Sequence[str],
        vectors: Sequence[Sequence[float]],
        metas: Sequence[Mapping[str, Any]] | None = None,
    ) -> None:
        """Append rows with dense insertion-ordered ids (local_db.py:56-80).

        The block enters as Arrow record batches (`_rows_df`): vectors are
        converted to float32 once, with NumPy, and meta values are
        stringified. Unlike the reference, BM25 stats are invalidated
        lazily, not rebuilt eagerly per batch.
        """
        if len(docs) != len(vectors):
            raise ValueError("docs and vectors must have equal length")
        metas = list(metas) if metas is not None else [{} for _ in docs]
        if len(metas) != len(docs):
            raise ValueError("docs and metas must have equal length")
        start = self._ensure_next_id()
        ids = range(start, start + len(docs))
        new = self._rows_df(
            ids, docs, vectors, [{k: str(v) for k, v in m.items()} for m in metas]
        )
        self._df = new if self._df is None else self._df.unionByName(new)
        self._n += len(ids)
        self._next_id = ids.stop
        self._stats = None  # derived state invalidated, rebuilt lazily
        self._maintain_index_on_append(new)

    def _maintain_index_on_append(self, new: DataFrame) -> None:
        """Incremental index maintenance for an appended row block (shared
        by add, merge and update) through the tier's `<stem>_add`: the
        code tiers encode with frozen trained geometry, the graph tier
        inserts incrementally (hnswlib add_items parity, local_db.py:78-80)
        and auto-rebalances; tiers without one rebuild lazily."""
        idx = self._ann_index
        add = idx is not None and self._tier_op("{}_add")
        if not add:
            self._ann_index = None
            return
        from homemade_vector_db_spark.operators import nsw

        graph = self.index_type == "nsw"
        if graph and idx.n_shards <= 0:
            # legacy manifest (shard count unknown): rebalance here instead
            # of surfacing nsw_add's operator-level ValueError — the hard
            # error stays for direct operator use
            idx = nsw.nsw_rebalance(idx, rows_per_shard=self._nsw_rows_per_shard)
        idx = add(idx, new)
        # hnswlib resize analogue (local_db.py:45 max_elements): the shard
        # count is index identity, so a long add stream fattens shards
        # until the per-shard sequential insert/beam dominates. At 4x the
        # build-time target, re-shard offline — recall is preserved
        # (levels are an id-hash law; links re-prune under the same
        # discipline), only shard membership changes.
        if graph and self._n >= 4 * idx.rows_per_shard * idx.shard_count():
            idx = nsw.nsw_rebalance(idx, rows_per_shard=idx.rows_per_shard)
        self._ann_index = idx

    def _maintain_index_on_delete(
        self, id_list: "list[int]", for_update: bool = False
    ) -> None:
        """Incremental maintenance for a deleted id block: the code tiers
        filter their code relations (`_CODE_RELATIONS`); the graph tier
        mark-deletes through `nsw_delete` (the hnswlib mark_deleted
        analogue: tombstones stay for routing, search excludes them,
        rebalance GCs them). For an UPDATE the graph tier instead rebuilds
        lazily — the replacement row would collide with its own tombstone
        in the per-shard insertion state, and hnswlib's in-place replace
        has the same repair caveat."""
        idx = self._ann_index
        if idx is None:
            return
        paths = _CODE_RELATIONS.get(self.index_type)
        if paths:
            cond = ~F.col(self.id_col).isin(id_list)
            for path in paths:
                idx = _filter_relation(idx, path, cond)
            self._ann_index = idx
            return
        delete = None if for_update else self._tier_op("{}_delete")
        self._ann_index = delete(idx, id_list) if delete else None

    def merge(self, other: "VectorDatabase") -> None:
        """Absorb another database into this one — the capability a
        pipeline needs when two corpora were ingested independently
        (per-region crawls, per-tenant shards) and must serve as one.
        The reference has no analogue (one corpus per instance,
        local_db.py:21-54); this is the columnar-native union:

        - id law: every id from `other` shifts by THIS db's id
          high-water mark (new_id = other_id + offset) — O(1) per row,
          no global sort or re-densification, and ids stay unique and
          stable: results keyed on self's existing ids are unaffected.
          The high-water mark advances past the shifted block, so later
          `add` calls never collide.
        - column names are remapped from other's (id/text/vec) onto
          self's; dims must match exactly.
        - derived state: BM25 stats invalidate (rebuilt lazily over the
          union); the ANN tier takes the shifted block through the SAME
          add-after-train maintenance as `add` (frozen-geometry encode
          for IVF/SQ/BQ, incremental graph insert + auto-rebalance for
          the graph tier), so a trained index never silently drops the
          merged rows.
        `other` is not mutated. Self-merge is rejected (the id remap
        would double-count the high-water mark mid-plan)."""
        if other is self:
            raise ValueError("cannot merge a database into itself")
        if other.dim != self.dim:
            raise ValueError(
                f"dim mismatch: self={self.dim}, other={other.dim}"
            )
        odf = other._require_df()
        offset = self._ensure_next_id()
        meta_col = (
            F.col("meta")
            if "meta" in odf.columns
            else F.create_map().cast("map<string,string>")
        )
        new = odf.select(
            (F.col(other.id_col).cast("long") + offset).alias(self.id_col),
            F.col(other.text_col).alias(self.text_col),
            F.col(other.vec_col).alias(self.vec_col),
            meta_col.alias("meta"),
        )
        self._df = new if self._df is None else self._df.unionByName(new)
        n_other = len(other)
        self._n += n_other
        self._next_id = offset + other._ensure_next_id()
        self._stats = None
        self._maintain_index_on_append(new)

    def delete(self, ids: Sequence[int]) -> int:
        """Delete documents by id — a capability the reference explicitly
        lacks (its README:140 'no update/delete'); append-only storage
        plus an anti-join tombstone is the standard columnar answer.
        BM25 stats are invalidated and rebuilt lazily; the ANN index is
        maintained incrementally (`_maintain_index_on_delete`). Ids of
        remaining docs are unchanged (no re-densification — result
        contracts key on stable ids), and the id high-water mark is NOT
        lowered: a later `add` continues from the pre-delete counter, so
        a deleted id is never reassigned to a new document.
        Returns the number of rows removed."""
        df = self._require_df()
        id_list = [int(i) for i in ids]
        kept = df.where(~F.col(self.id_col).isin(id_list))
        n_kept = kept.count()
        removed = self._n - n_kept
        self._df = kept
        self._n = n_kept
        self._stats = None
        self._maintain_index_on_delete(id_list)
        return removed

    def update(
        self,
        ids: Sequence[int],
        docs: Sequence[str] | None = None,
        vectors: Sequence[Sequence[float]] | None = None,
        metas: Sequence[Mapping[str, Any]] | None = None,
    ) -> int:
        """In-place update by id — like delete, a capability the reference
        explicitly lacks (README.md:140). Ids stay STABLE: the row keeps
        its doc_id (unlike delete+add, which would assign fresh ids).
        Implemented as anti-join tombstone + union of replacement rows;
        None fields keep the current value. The ANN index takes an
        incremental delete of the old rows plus an add-after-train
        encode of the replacements. Returns the number of rows replaced;
        unknown ids raise."""
        df = self._require_df()
        id_list = [int(i) for i in ids]
        if len(set(id_list)) != len(id_list):
            raise ValueError("duplicate ids in update")
        current = {
            r[self.id_col]: r
            for r in df.where(F.col(self.id_col).isin(id_list)).collect()
        }
        missing = [i for i in id_list if i not in current]
        if missing:
            raise IndexError(f"doc_ids not found: {missing}")

        cur = [current[i] for i in id_list]
        replacement = self._rows_df(
            id_list,
            docs if docs is not None else [r[self.text_col] for r in cur],
            vectors if vectors is not None else [r[self.vec_col] for r in cur],
            [{k: str(v) for k, v in m.items()} for m in metas]
            if metas is not None
            else [dict(r["meta"] or {}) for r in cur],
        )
        kept = df.where(~F.col(self.id_col).isin(id_list))
        self._df = kept.unionByName(replacement)
        self._stats = None
        self._maintain_index_on_delete(id_list, for_update=True)
        self._maintain_index_on_append(replacement)
        return len(id_list)

    def attach(self, df: DataFrame, n: int | None = None) -> "VectorDatabase":
        """Wrap an existing documents DataFrame (bulk path — preferred at scale)."""
        self._df = df
        self._n = n if n is not None else df.count()
        self._stats = None
        self._ann_index = None
        self._next_id = None  # unknown ids in attached df; computed on demand
        return self

    def _ensure_next_id(self) -> int:
        if self._next_id is None:
            if self._df is None or self._n == 0:
                self._next_id = 0
            else:
                row = self._df.agg(F.max(self.id_col).alias("m")).first()
                self._next_id = int(row["m"]) + 1 if row["m"] is not None else 0
        return self._next_id

    # ------------------------------------------------------------------ queries
    def _require_df(self) -> DataFrame:
        if self._df is None or self._n == 0:
            raise RuntimeError("database is empty")
        return self._df

    def _bm25_stats(self) -> bm25.BM25Stats:
        if self._stats is None:
            self._stats = bm25.build_bm25_stats(
                self._require_df(), self.id_col, self.text_col
            ).cache()
        return self._stats

    def query_text(self, query: str, top_k: int = 5, return_scores: bool = False):
        """BM25 top-k (local_db.py:115-135). Raises on empty corpus (parity)."""
        df = self._require_df()  # parity: RuntimeError on empty (local_db.py:127)
        res = bm25.query_text(
            self.spark, df, query, top_k, self.id_col, self.text_col,
            stats=self._bm25_stats(),
        ).collect()
        if return_scores:
            return [(r.doc_id, r.score) for r in res]
        return [r.doc_id for r in res]

    def query_vector(
        self,
        vector: Sequence[float],
        top_k: int = 5,
        pre_filter: Column | Callable[[dict], bool] | None = None,
        post_filter: Column | Callable[[dict], bool] | None = None,
        return_scores: bool = False,
    ):
        """k-NN (local_db.py:137-200). Empty db returns [] (parity :159-160).

        Filters may be Column predicates (fast path, pushdown-eligible) or
        Python callables over the meta dict (reference parity, slow path).
        """
        if self._df is None or self._n == 0:
            return []
        df = self._df
        pre = self._compile_filter(pre_filter)
        post = self._compile_filter(post_filter)
        if self.index_type == "flat" or pre is not None:
            # filters always take the exact path: a true pre-filter must see
            # the un-pruned corpus (SURVEY.md §2.3 D2), which ANN cells/
            # buckets cannot guarantee
            res_df = knn.knn_exact(
                df, list(vector), id_col=self.id_col, vec_col=self.vec_col,
                k=top_k, pre_filter=pre, post_filter=post, dim=self.dim,
            )
        else:
            if self._ann_index is None:
                self._ann_index = self._build_index()
            res_df = self._ann_search(list(vector), top_k)
            if post is not None:
                ids = res_df.select(self.id_col)
                res_df = (
                    df.join(F.broadcast(ids), self.id_col)
                    .where(post)
                    .join(res_df, self.id_col)
                    .select(self.id_col, "score")
                    .orderBy(F.desc("score"), F.asc(self.id_col))
                )
        res = res_df.collect()
        if return_scores:
            return [(r[self.id_col], r.score) for r in res]
        return [r[self.id_col] for r in res]

    def _build_index(self):
        from homemade_vector_db_spark.operators import ann, bq, nsw, opq, pq

        t, df = self.index_type, self._df
        cols = {"id_col": self.id_col, "vec_col": self.vec_col}
        if t == "lsh":
            return ann.build_lsh(df, **cols)
        if t == "nsw":
            # reference hnsw kwargs map 1:1 (local_db.py:41-47)
            return nsw.build_nsw(
                df, **cols, m=self.M, ef_construction=self.ef_construction,
                rows_per_shard=self._nsw_rows_per_shard,
            )
        if t in ("sq8", "bq"):
            return self._tier_op("build_{}")(df, **cols, dim=self.dim)
        # the IVF tiers share one nlist law; the PQ tiers one code law
        nlist = min(self.ivf_clusters, max(1, self._n // 2))
        if t == "ivf":
            return ann.build_ivf(df, **cols, nlist=nlist)
        if t == "ivfbq":
            return bq.build_ivfbq(ann.build_ivf(df, **cols, nlist=nlist), dim=self.dim)
        codes = {
            "m": _clamp_m(self.pq_code_size, self.dim),
            "codebook_size": 256,
            "dim": self.dim,
        }
        if t == "ivfpq":
            return pq.build_ivfpq(ann.build_ivf(df, **cols, nlist=nlist), **codes)
        if t == "opq":
            return opq.build_opq(df, **cols, **codes)
        return opq.build_ivfopq(df, **cols, nlist=nlist, **codes)

    def _ann_search(self, vector: list[float], top_k: int):
        from homemade_vector_db_spark.operators import ann, bq, nsw, opq, pq

        t, idx, df = self.index_type, self._ann_index, self._df
        # compressed tiers shortlist the reference hybrid's widened pool
        # (max(top_k·10, 100), local_db.py:362) before the exact rerank;
        # the PQ tiers take it as a multiple of top_k
        pool = max(top_k * 10, 100)
        overfetch = max(10, -(-100 // top_k))

        def nprobe(centroids) -> int:
            # ef_search plays the IVF probe-width role (recall/cost knob)
            return max(1, min(len(centroids), self.ef_search // 10))

        if t == "lsh":
            return ann.lsh_search(idx, vector, k=top_k)
        if t == "nsw":
            return nsw.nsw_search(idx, vector, k=top_k, ef_search=self.ef_search)
        if t == "ivf":
            return ann.ivf_search(idx, vector, k=top_k, nprobe=nprobe(idx.centroids))
        if t == "ivfbq":
            return bq.ivfbq_search(
                idx, df, vector, k=top_k, nprobe=nprobe(idx.centroids), pool=pool,
            )
        if t == "ivfpq":
            return pq.ivfpq_rerank_search(
                idx, df, vector, k=top_k, nprobe=nprobe(idx.centroids),
                overfetch=overfetch,
            )
        if t == "ivfopq":
            return opq.ivfopq_rerank_search(
                idx, df, vector, k=top_k, nprobe=nprobe(idx.ivfpq.centroids),
                overfetch=overfetch,
            )
        if t == "opq":
            return opq.opq_rerank_search(idx, df, vector, k=top_k, overfetch=overfetch)
        return self._tier_op("{}_rerank_search")(idx, df, vector, k=top_k, pool=pool)

    def _compile_filter(self, flt):
        if flt is None or isinstance(flt, Column):
            return flt
        # Python callable over the meta dict → UDF (documented slow path)
        udf = F.udf(lambda m: bool(flt(m or {})), T.BooleanType())
        return udf(F.col("meta"))

    # query_metadata returns a driver-side id LIST for reference parity
    # (local_db.py:313-315 returns all ids too). That is fine at the
    # reference's scale and lethal at 100 TB, so an un-limited collect is
    # capped: above the cap the call raises and points at the
    # `as_dataframe=True` escape hatch, which returns the (distributed)
    # id DataFrame instead of collecting anything.
    UNBOUNDED_COLLECT_CAP = 10_000_000

    def query_metadata(
        self,
        filter_func: Callable[[dict], bool] | None = None,
        conditions: Mapping[str, Any] | None = None,
        top_k: int | None = None,
        as_dataframe: bool = False,
    ) -> list[int] | DataFrame:
        """local_db.py:276-321 incl. conditions-shadows-filter_func and
        positional top_k. Empty db → []. With ``as_dataframe=True``
        returns the sorted id DataFrame without collecting (the
        billion-row-safe form); the default list form refuses to collect
        more than UNBOUNDED_COLLECT_CAP ids."""
        if self._df is None or self._n == 0:
            return self.spark.createDataFrame(
                [], f"{self.id_col} long"
            ) if as_dataframe else []
        df = self._df
        if conditions:
            # conditions over the meta map (stringified values, parity with
            # meta.get(k)==v); promoted columns used when present
            pred = F.lit(True)
            for k, v in conditions.items():
                if k in df.columns:
                    pred = pred & (F.col(k) == F.lit(v))
                else:
                    pred = pred & (F.col("meta").getItem(k) == F.lit(str(v)))
        else:
            pred = self._compile_filter(filter_func)
        if pred is not None:
            df = df.where(pred)
        out = df.select(self.id_col).orderBy(F.asc(self.id_col))
        if top_k is not None and 0 < top_k:
            out = out.limit(top_k)
        if as_dataframe:
            return out
        if (top_k is None or top_k <= 0) and self._n > self.UNBOUNDED_COLLECT_CAP:
            raise ValueError(
                f"query_metadata would collect up to {self._n} ids to the "
                f"driver (cap {self.UNBOUNDED_COLLECT_CAP}); pass top_k or "
                "as_dataframe=True for the distributed form"
            )
        return [r[self.id_col] for r in out.collect()]

    def hybrid_search(
        self,
        query_text: str,
        query_vector: Sequence[float],
        top_k: int = 5,
        vector_weight: float = 0.5,
        filter_func: Column | Callable[[dict], bool] | None = None,
        return_scores: bool = False,
    ):
        """local_db.py:323-401 (squared-L2 everywhere per SURVEY §2.3-1)."""
        if self._df is None or self._n == 0:
            return []
        res = hybrid.hybrid_search(
            self.spark,
            self._df,
            query_text,
            list(query_vector),
            top_k=top_k,
            vector_weight=vector_weight,
            filter_pred=self._compile_filter(filter_func),
            id_col=self.id_col,
            text_col=self.text_col,
            vec_col=self.vec_col,
            stats=self._bm25_stats(),
        ).collect()
        if return_scores:
            return [(r.doc_id, r.score) for r in res]
        return [r.doc_id for r in res]

    # ------------------------------------------------------------------ lookup
    def get_document(self, idx: int) -> str:
        row = self._require_df().where(F.col(self.id_col) == idx).first()
        if row is None:
            raise IndexError(f"doc_id {idx} not found")
        return row[self.text_col]

    def get_metadata(self, idx: int) -> dict:
        row = self._require_df().where(F.col(self.id_col) == idx).first()
        if row is None:
            raise IndexError(f"doc_id {idx} not found")
        return dict(row["meta"] or {})

    # ------------------------------------------------------------------ persist
    def save(self, folder_path: str, include_index: bool = True) -> None:
        """Parquet + JSON manifest (vs pickle sniffing, local_db.py:210-222).

        include_index=True also persists the derived BM25 relations
        (postings / term_stats / corpus_stats) so `load` skips the
        re-tokenize the reference performs on every load
        (local_db.py:257), and the ANN index through the tier's
        `save_<stem>` — cluster-partitioned parquet / MLWriter instead of
        the reference's opaque hnsw.idx / faiss.idx blobs
        (local_db.py:218-221). Index-type discovery comes from the
        manifest, not file sniffing (cleaner than local_db.py:233-248).
        """
        df = self._require_df()
        df.write.mode("overwrite").parquet(os.path.join(folder_path, "documents"))
        has_stats = include_index and self._stats is not None
        if has_stats:
            for name in ("postings", "term_stats", "corpus_stats"):
                getattr(self._stats, name).write.mode("overwrite").parquet(
                    os.path.join(folder_path, "bm25", name)
                )
        has_ann = (
            include_index
            and self._ann_index is not None
            and _TIERS[self.index_type] is not None
        )
        if has_ann:
            save = self._tier_op("save_{}")
            save(self._ann_index, os.path.join(folder_path, "ann"))
        manifest = {
            "dim": self.dim,
            "index_type": self.index_type,
            "n": self._n,
            "id_col": self.id_col,
            "text_col": self.text_col,
            "vec_col": self.vec_col,
            "has_bm25_stats": has_stats,
            "has_ann_index": has_ann,
            "next_id": self._ensure_next_id(),
            "format_version": 2,
        }
        with open(os.path.join(folder_path, "manifest.json"), "w") as f:
            json.dump(manifest, f)

    @classmethod
    def load(cls, spark: SparkSession, folder_path: str) -> "VectorDatabase":
        with open(os.path.join(folder_path, "manifest.json")) as f:
            m = json.load(f)
        db = cls(
            spark, m["dim"], m["index_type"],
            id_col=m["id_col"], text_col=m["text_col"], vec_col=m["vec_col"],
        )
        df = spark.read.parquet(os.path.join(folder_path, "documents"))
        db.attach(df, m["n"])
        if m.get("next_id") is not None:
            db._next_id = int(m["next_id"])
        if m.get("has_bm25_stats"):
            p = os.path.join(folder_path, "bm25")
            postings = spark.read.parquet(os.path.join(p, "postings"))
            db._stats = bm25.BM25Stats(
                postings=postings,
                doc_len=postings.select("doc_id", "dl").distinct(),
                term_stats=spark.read.parquet(os.path.join(p, "term_stats")),
                corpus_stats=spark.read.parquet(os.path.join(p, "corpus_stats")),
            )
        if m.get("has_ann_index"):
            load = db._tier_op("load_{}")
            # the LSH model re-hashes the documents on load
            extra = (df,) if db.index_type == "lsh" else ()
            db._ann_index = load(spark, os.path.join(folder_path, "ann"), *extra)
        return db

    @classmethod
    def import_reference(
        cls,
        spark: SparkSession,
        folder_path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        vec_col: str = "embedding",
    ) -> "VectorDatabase":
        """Import a folder saved by the REFERENCE engine's save():
        `data.pkl` (docs+metas pickle) + `vectors.npy` + a native index
        file (local_db.py:210-222) — the first thing a migrating user
        does with an existing database.

        Type detection mirrors the reference's load() sniffing
        (local_db.py:233-248): `hnsw.idx` present → the graph tier;
        `faiss.idx` sniffed for the IVFPQ signature — the reference needs
        `faiss.read_index` + `isinstance` for this, but the same
        information is in the file's leading fourcc (FAISS index_write
        serialization: IndexIVFPQ writes "IwPQ", IndexFlat writes
        "IxF2"/"IxFI"/"IxFl"), readable without the library; anything
        unrecognized → 'flat', the reference's own default. Index
        CONTENTS are native hnswlib/FAISS serializations only those
        libraries can deserialize — derived state is rebuilt here,
        exactly as the reference's load() already rebuilds BM25 from
        scratch (local_db.py:257).

        Security: `data.pkl` is loaded through a RESTRICTED unpickler.
        Plain builtins (dict/list/tuple/set/str/bytes/int/float/bool/
        None) need no globals and always pass; beyond those, only a
        fixed allowlist of inert data constructors is admitted —
        datetime date/datetime/time/timedelta/timezone and the numpy
        scalar/array reconstructors (dtype, scalar, _reconstruct,
        ndarray) — because real reference exports carry metadata values
        like `{'added': datetime.now(), 'score': np.float32(...)}`
        (ADVICE r4: the builtins-only round-3 gate rejected legitimate
        folders). These constructors build values, never run user code;
        any OTHER global (the arbitrary-code-execution vector, e.g.
        os.system or object.__reduce__ payloads) raises UnpicklingError
        instead of executing. Still stricter than the reference's own
        load(), which trusts the folder outright (ADVICE r3).
        """
        import pickle

        import numpy as np

        _SAFE_GLOBALS = {
            ("datetime", "date"),
            ("datetime", "datetime"),
            ("datetime", "time"),
            ("datetime", "timedelta"),
            ("datetime", "timezone"),
            ("numpy", "dtype"),
            ("numpy", "ndarray"),
            # numpy moved multiarray into _core in 2.x; exports written
            # by either lineage must load under both spellings
            ("numpy.core.multiarray", "scalar"),
            ("numpy._core.multiarray", "scalar"),
            ("numpy.core.multiarray", "_reconstruct"),
            ("numpy._core.multiarray", "_reconstruct"),
        }

        class _RestrictedUnpickler(pickle.Unpickler):
            def find_class(self, module, name):
                if (module, name) in _SAFE_GLOBALS:
                    import importlib

                    return getattr(importlib.import_module(module), name)
                raise pickle.UnpicklingError(
                    f"refusing to unpickle global {module}.{name}: the "
                    "reference data.pkl layout contains only plain "
                    "builtins plus datetime/numpy scalar values; this "
                    "folder is not a trustworthy reference export"
                )

        with open(os.path.join(folder_path, "data.pkl"), "rb") as f:
            data = _RestrictedUnpickler(f).load()
        docs = list(data["docs"])
        metas = list(data["metas"])
        vectors = np.asarray(np.load(os.path.join(folder_path, "vectors.npy")))
        if vectors.ndim != 2:
            raise ValueError(f"vectors.npy must be 2-D, got {vectors.shape}")
        if len(docs) != vectors.shape[0] or len(metas) != len(docs):
            raise ValueError(
                f"inconsistent reference folder: {len(docs)} docs, "
                f"{len(metas)} metas, {vectors.shape[0]} vectors"
            )
        index_type = "flat"
        if os.path.exists(os.path.join(folder_path, "hnsw.idx")):
            index_type = "hnsw"
        elif os.path.exists(os.path.join(folder_path, "faiss.idx")):
            with open(os.path.join(folder_path, "faiss.idx"), "rb") as f:
                fourcc = f.read(4)
            index_type = "ivfpq" if fourcc == b"IwPQ" else "flat"
        db = cls(
            spark,
            dim=int(vectors.shape[1]),
            index_type=index_type,
            id_col=id_col,
            text_col=text_col,
            vec_col=vec_col,
        )
        db.add(docs, vectors, metas)
        return db

    # ------------------------------------------------------------------ misc
    def __len__(self) -> int:
        return self._n

    def __repr__(self) -> str:
        return (
            f"VectorDatabase(n={self._n}, dim={self.dim}, "
            f"index_type={self.index_type!r}, engine=pyspark)"
        )
