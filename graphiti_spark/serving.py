"""Point-lookup serving layer — interactive-latency twin of the
composite ``search()`` (SURVEY.md §2.9 Q9; reference ``README.md:97``).

The reference answers hybrid search "typically sub-second" because
``add_episode`` materializes the graph into an INDEXED point-lookup
store (Neo4j + Lucene) and ``search()`` probes those indexes. The Spark
engine here is the *builder*: at 100 TB the pipeline distills the corpus
into layer tables (edges/nodes/episodes/communities) that are tiny
relative to the input — a 10¹²-turn corpus yields a graph measured in
GBs per group, not TBs. Interactive serving should never pay Spark's
per-query scheduling floor (measured: p50 13.6 s/query on a served
sf0.1 graph, BENCH_SEARCH.json — structural, not a plan problem).

This module is the missing half of that story, in-repo and tested:

* :func:`export_search_artifacts` — the Spark-side export job: snapshot
  the layer tables as parquet (the point-lookup store's load format).
* :class:`ServedGraph` — loads one graph's artifacts into memory
  (inverted token index, L2 row norms + float64 embedding matrix,
  group → row-index map, symmetric adjacency) and answers the SAME
  composite ``search()`` — same methods, rerankers, presets, filters,
  tie-breaks — in milliseconds. Ranking runs on numpy ``(uuid, score)``
  arrays ordered by :func:`_top_k`; pandas is touched once per layer per
  query, for the positional take of the hydrated rows, whose score
  column is preallocated and filled in place.

Cost model per query and layer: bm25 reads the postings of the query's
tokens; cosine folds the embedding matrix's columns at the query
vector's nonzero coordinates, O(rows × nonzeros). The feature-hash
embedder (E7) gives a 2-4 word query at most 4 nonzeros out of 1,024,
so neither method scales with the embedding width.

Equivalence is the contract, not an aspiration: ``tests/test_serving.py``
replays every composite preset through both engines and asserts
identical uuid orderings with score agreement to float tolerance, and
the ``served_search`` driver query answers the SAME DuckDB oracle as
``composite_search``.

Scale story: serving memory is O(graph), not O(corpus); shard by
``group_id`` (each ServedGraph holds one shard — the export is
partitioned by group) and route queries to shards. The Spark engine
remains the only writer; serving snapshots are immutable exports, so
there is no dual-write consistency problem.

Reference parity map: search/search.py:66-162 (fan-out),
search/search_utils.py:188-296 (methods), :875-1006 (rerankers),
search/search_filters.py:40-184 (filter compiler).
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

from graphiti_spark.functions.text import tokenize
from graphiti_spark.operators.composite_search import (
    _LAYER_COLS,
    CompositeSearchConfig,
)
from graphiti_spark.operators.search import SearchFilters, _mmr_greedy

_ARTIFACTS = ("edges", "nodes", "episodes", "communities",
              "episodic_edges")


def _query_tokens(query: str) -> list[str]:
    """Query-side tokenizer — MUST match ``bm25_lite_search`` /
    ``cross_encoder_rank`` in operators/search.py (per-char isalnum →
    lower → split), which is deliberately looser than the corpus-side
    ``tokenize`` on non-ASCII alnum."""
    return [t for t in
            "".join(c.lower() if c.isalnum() else " " for c in query)
            .split() if t]


_EMPTY = (np.array([], dtype=object), np.array([], dtype=np.float64))
_NO_POSTINGS = (np.array([], dtype=np.int64), _EMPTY[1])


def _top_k(uuids, scores, k: int | None = None):
    """``(uuid, score)`` arrays of the top ``k`` rows (all rows when ``k``
    is None) in (score DESC, uuid ASC) order — the ordering every Spark
    search plan emits (hash-stable tie-break). Exact under ties:
    ``argpartition`` bounds the candidates at the k-th score, every row
    tied with it stays in, and ``lexsort`` settles the boundary by uuid."""
    uuids = np.asarray(uuids, dtype=object)
    scores = np.asarray(scores, dtype=np.float64)
    if k is not None and k < len(scores):
        if k <= 0:
            return _EMPTY
        kth = scores[np.argpartition(-scores, k - 1)[k - 1]]
        keep = scores >= kth
        uuids, scores = uuids[keep], scores[keep]
    order = np.lexsort((uuids, -scores))[:k]
    return uuids[order], scores[order]


class _Layer:
    """One layer table prepared for point lookups: positional rows (with a
    NaN ``score`` column for hydration to fill), an inverted token index
    (token → (row idx array, tf array)), doc lengths, the float64
    embedding matrix + norms, and — built on the first scoped query — a
    group_id → row-index map. Methods return ``(uuid, score)`` arrays in
    :func:`_top_k` order.

    The matrix stays row-major: cosine reads a few of its columns per
    query, while MMR gathers whole rows (``emb[idx]``), which a
    column-major copy would make ~15× slower."""

    def __init__(self, pdf: pd.DataFrame, text_col: str,
                 emb_col: str | None):
        self.rows = pdf.reset_index(drop=True)
        # the hydrated frames' score column, allocated once: a query
        # writes its scores into the taken rows' copy by position, where
        # inserting a new column costs more than the take itself. A table
        # that has a score column keeps it, at its position, as float64.
        self.rows["score"] = np.nan
        self.uuid = self.rows["uuid"].to_numpy(dtype=object)
        texts = self.rows[text_col] if text_col in self.rows else \
            pd.Series([""] * len(self.rows))
        self.toks = [tokenize(t if isinstance(t, str) else "")
                     for t in texts]
        self.tok_sets = [set(t) for t in self.toks]
        self.dl = np.array([len(t) for t in self.toks], dtype=np.float64)
        index: dict[str, list[tuple[int, int]]] = {}
        for i, ts in enumerate(self.toks):
            for t, n in Counter(ts).items():
                index.setdefault(t, []).append((i, n))
        self.index = {
            t: (np.array([i for i, _ in post], dtype=np.int64),
                np.array([n for _, n in post], dtype=np.float64))
            for t, post in index.items()}
        self.has_emb = emb_col is not None and emb_col in self.rows
        if self.has_emb:
            vecs = [np.asarray(v, dtype=np.float64)
                    for v in self.rows[emb_col]]
            # a 0-row layer (no communities yet, empty group shard) must
            # still build a 2-D matrix — np.array([]) is 1-D and breaks
            # the einsum and the matmul in cosine()
            self.emb = (np.vstack(vecs) if vecs
                        else np.zeros((0, 0), dtype=np.float64))
            # same formula as cosine_col: norm from the element squares,
            # rows with zero norm score 0
            self.norm = np.sqrt(np.einsum("ij,ij->i", self.emb, self.emb))
        self._uuid_to_idx = {u: i for i, u in enumerate(self.uuid)}
        self._group_rows: dict | None = None

    def scope(self, group_ids) -> np.ndarray:
        """Row mask of ``group_ids`` (the ``isin`` of compile_filters)."""
        if self._group_rows is None:
            self._group_rows = self.rows.groupby("group_id",
                                                 sort=False).indices
        mask = np.zeros(len(self.rows), dtype=bool)
        for g in group_ids:
            mask[self._group_rows.get(g, [])] = True
        return mask

    # -- methods ----------------------------------------------------------

    def bm25(self, mask: np.ndarray | None, query: str, limit: int,
             k1: float = 1.2, b: float = 0.75):
        """Twin of ``bm25_lite_search``: full BM25, idf from the scoped
        corpus itself, (score DESC, uuid) top-``limit``. Per-term weights
        add up in query-term order, as Spark's sum does."""
        uniq = list(dict.fromkeys(_query_tokens(query)))
        if not uniq:
            return _EMPTY
        dl = self.dl if mask is None else self.dl[mask]
        n_docs, avgdl = float(len(dl)), float(dl.mean()) if len(dl) else 1.0
        rows, weights = [], []
        for t in uniq:
            idx, tf = self.index.get(t, _NO_POSTINGS)
            if mask is not None:
                keep = mask[idx]
                idx, tf = idx[keep], tf[keep]
            df_t = float(len(idx))
            idf = np.log((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
            norm = (1.0 - b) + b * self.dl[idx] / max(avgdl, 1e-9)
            rows.append(idx)
            weights.append(idf * (tf * (k1 + 1.0)) / (tf + k1 * norm))
        # bincount adds the term-ordered postings one by one into a zeroed
        # bin: the same float additions, in the same order, as a dict loop
        sums = np.bincount(np.concatenate(rows),
                           weights=np.concatenate(weights))
        hit = np.flatnonzero(sums > 0)
        return _top_k(self.uuid[hit], sums[hit], limit)

    def cosine(self, mask: np.ndarray | None, query_vec, min_score: float,
               limit: int):
        """Twin of ``similarity_search``: cosine > min_score (strict),
        (score DESC, uuid) top-``limit``; zero-norm rows score 0.

        The dot product is ``cosine_col``'s left fold of ``e[k] * q[k]`` in
        index order, restricted to the query's nonzero coordinates: where
        ``q[k] == 0`` the fold adds ±0, which changes no sum. So every row
        gets Spark's dot, bit for bit, in O(rows × nonzeros of the query)
        — a hashed 2-4 word query has at most 4 — instead of O(rows × dim).
        The fold runs over all rows; the scope mask applies after it."""
        q = np.asarray(query_vec, dtype=np.float64)
        qn = float(np.sqrt((q * q).sum())) or 1.0
        if self.emb.shape[0] == 0:
            # empty layer: the (0, 0) placeholder matrix has no columns to
            # fold, and there is nothing to score anyway
            return _EMPTY
        dots = np.zeros(len(self.emb))
        for j in np.flatnonzero(q):
            dots += self.emb[:, j] * q[j]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(self.norm > 0, dots / (self.norm * qn), 0.0)
        keep = cos > min_score
        if mask is not None:
            keep &= mask
        return _top_k(self.uuid[keep], cos[keep], limit)


@dataclass
class ServedResults:
    """Hydrated rows per layer (pandas), score DESC — the serving twin of
    :class:`~graphiti_spark.operators.composite_search.SearchResults`."""

    edges: pd.DataFrame | None = None
    nodes: pd.DataFrame | None = None
    episodes: pd.DataFrame | None = None
    communities: pd.DataFrame | None = None


class ServedGraph:
    """One graph snapshot loaded for interactive search.

    Construction: :meth:`from_spark` (collect the pipeline's layer
    DataFrames), :meth:`load` (read a directory written by
    :func:`export_search_artifacts`), or pass pandas frames directly.
    """

    def __init__(self, edges: pd.DataFrame | None = None,
                 nodes: pd.DataFrame | None = None,
                 episodes: pd.DataFrame | None = None,
                 communities: pd.DataFrame | None = None,
                 episodic_edges: pd.DataFrame | None = None):
        self._tables = {"edge": edges, "node": nodes,
                        "episode": episodes, "community": communities}
        self.episodic_edges = episodic_edges
        self._layers: dict[str, _Layer | None] = {}
        self._adj: dict | None = None
        self._mention_counts: dict | None = None

    # -- construction ------------------------------------------------------

    @classmethod
    def from_spark(cls, edges=None, nodes=None, episodes=None,
                   communities=None, episodic_edges=None) -> "ServedGraph":
        return cls(*(None if df is None else df.toPandas() for df in
                     (edges, nodes, episodes, communities, episodic_edges)))

    @classmethod
    def load(cls, artifacts_dir: str) -> "ServedGraph":
        # _ARTIFACTS lists the tables in constructor order
        paths = [os.path.join(artifacts_dir, name) for name in _ARTIFACTS]
        return cls(*(pd.read_parquet(p) if os.path.isdir(p) else None
                     for p in paths))

    def _layer(self, kind: str) -> _Layer | None:
        if kind not in self._layers:
            pdf = self._tables[kind]
            self._layers[kind] = None if pdf is None else \
                _Layer(pdf, *_LAYER_COLS[kind])
        return self._layers[kind]

    # -- graph-method state (built lazily, cached for the unscoped case) ---

    def _adjacency(self, group_ids: list[str] | None):
        layer = self._layer("edge")
        if layer is None:
            return {}
        if group_ids is None and self._adj is not None:
            return self._adj
        rows = layer.rows
        pos = (np.arange(len(rows)) if group_ids is None
               else np.flatnonzero(layer.scope(group_ids)))
        adj: dict = {}
        for s, t, u in zip(rows["source_node_uuid"].to_numpy()[pos],
                           rows["target_node_uuid"].to_numpy()[pos],
                           layer.uuid[pos]):
            adj.setdefault(s, []).append((t, u))
            adj.setdefault(t, []).append((s, u))
        if group_ids is None:
            self._adj = adj
        return adj

    def _bfs(self, origin_uuids, depth: int, group_ids):
        """Twin of ``bfs_search``: edge uuids within ``depth`` hops of the
        origins (symmetric), score 1/min hop per edge."""
        adj = self._adjacency(group_ids)
        hops: dict = {}
        frontier = set(origin_uuids)
        seen = set(origin_uuids)
        for hop in range(1, depth + 1):
            nxt: set = set()
            for n in frontier:
                for dst, eu in adj.get(n, ()):
                    if eu not in hops:
                        hops[eu] = hop
                    nxt.add(dst)
            frontier = nxt - seen
            seen |= frontier
            if not frontier:
                break
        return _top_k(list(hops), [1.0 / h for h in hops.values()])

    def _mentions(self) -> dict:
        """Twin of ``episode_mentions_reranker``'s count: episodic-edge
        rows per target entity (``salted_count`` is a plain row count —
        edge uuid is the table's PK, so rows == mentions), UNSCOPED —
        matching the composite fan-out, which passes episodic_edges
        through un-sliced."""
        if self._mention_counts is None:
            ee = self.episodic_edges
            self._mention_counts = {} if ee is None else (
                ee.groupby("target_node_uuid").size()
                .astype(float).to_dict())
        return self._mention_counts

    # -- filter compiler (twin of compile_filters) --------------------------

    def _mask(self, kind: str, group_ids, filters: SearchFilters | None
              ) -> np.ndarray | None:
        layer = self._layer(kind)
        rows = layer.rows
        mask = None if group_ids is None else layer.scope(group_ids)
        if filters is None:
            return mask
        cond = np.ones(len(rows), dtype=bool)
        if kind == "node" and filters.node_labels:
            for lab in filters.node_labels:
                cond &= np.array(
                    [isinstance(ls, (list, np.ndarray)) and lab in list(ls)
                     for ls in rows.get("labels", [None] * len(rows))])
        if kind == "edge" and filters.edge_types:
            cond &= rows["name"].isin(filters.edge_types).to_numpy() \
                if "name" in rows else np.zeros(len(rows), dtype=bool)
        if filters.date_groups:
            outer = np.zeros(len(rows), dtype=bool)
            for group in filters.date_groups:
                inner = np.ones(len(rows), dtype=bool)
                for f in group:
                    col = pd.to_datetime(rows[f.field]) \
                        if f.field in rows else \
                        pd.Series([pd.NaT] * len(rows))
                    if f.op == "is_null":
                        c = col.isna().to_numpy()
                    elif f.op == "is_not_null":
                        c = col.notna().to_numpy()
                    elif f.value is None:
                        # Spark: comparison with NULL literal → null → false
                        c = np.zeros(len(rows), dtype=bool)
                    else:
                        val = pd.Timestamp(f.value)
                        if col.dt.tz is None and val.tz is not None:
                            col = col.dt.tz_localize("UTC")
                        ops = {"=": col == val, "<>": col != val,
                               ">": col > val, "<": col < val,
                               ">=": col >= val, "<=": col <= val}
                        c = ops[f.op].fillna(False).to_numpy()
                    inner &= c
                outer |= inner
            cond &= outer
        return cond if mask is None else (mask & cond)

    # -- the composite search (twin of composite_search.search) -------------

    def search(self, query: str, query_vec,
               config: CompositeSearchConfig,
               group_ids: list[str] | None = None,
               filters: SearchFilters | None = None,
               center_node_uuid: str | None = None,
               bfs_origin_node_uuids: list[str] | None = None
               ) -> ServedResults:
        if not (query or "").strip():
            return ServedResults()
        group_ids = [g for g in (group_ids or []) if g] or None
        return ServedResults(*(self._one_layer(
            kind, getattr(config, f"{kind}_config"), query, query_vec,
            config.limit, config.reranker_min_score, group_ids, filters,
            center_node_uuid, bfs_origin_node_uuids)
            for kind in ("edge", "node", "episode", "community")))

    def _one_layer(self, kind, layer_cfg, query, query_vec, limit,
                   reranker_min_score, group_ids, filters, center_uuid,
                   origin_uuids) -> pd.DataFrame | None:
        layer = self._layer(kind)
        if layer is None or layer_cfg is None:
            return None
        methods = list(layer_cfg.methods)
        reranker = layer_cfg.reranker
        if not layer.has_emb:
            methods = [m for m in methods if m != "cosine"]
            if reranker == "mmr":
                reranker = "rrf"   # same degradation as _one_layer
        if not methods:
            return None
        mask = self._mask(kind, group_ids, filters)
        results = []
        if "bm25" in methods:
            results.append(layer.bm25(mask, query, 2 * limit))
        if "cosine" in methods:
            results.append(layer.cosine(mask, query_vec,
                                        layer_cfg.sim_min_score, 2 * limit))
        if "bfs" in methods and self._tables["edge"] is not None \
                and origin_uuids:
            results.append(self._bfs(origin_uuids,
                                     layer_cfg.bfs_max_depth, group_ids))
        uuids, scores = self._rerank(layer, reranker, results, query,
                                     query_vec, layer_cfg.mmr_lambda, limit,
                                     center_uuid, group_ids)
        if reranker_min_score:
            keep = scores >= reranker_min_score
            uuids, scores = uuids[keep], scores[keep]
        # hydrate: positional take of the ≤limit fused rows (uuids not in
        # the layer table — e.g. bfs edge uuids fused into a node layer —
        # drop after taking their slots, exactly like the Spark
        # broadcast-join hydration; a full merge would hash the whole
        # layer table per query)
        uuids, scores = uuids[:limit], scores[:limit]
        present = [u in layer._uuid_to_idx for u in uuids]
        uuids, scores = _top_k(uuids[present], scores[present])
        hyd = layer.rows.take(np.array(
            [layer._uuid_to_idx[u] for u in uuids], dtype=np.intp))
        hyd.index = pd.RangeIndex(len(hyd))
        hyd.isetitem(hyd.columns.get_loc("score"), scores)
        return hyd

    def _rerank(self, layer, reranker, results, query, query_vec,
                mmr_lambda, limit, center_uuid, group_ids):
        """Fused ``(uuid, score)`` arrays: the top ``limit`` in
        :func:`_top_k` order, or MMR's selection order."""
        cand, inv = np.unique(np.concatenate(
            [_EMPTY[0]] + [u for u, _ in results]), return_inverse=True)
        if reranker == "rrf":
            # each method's uuids come in rank order; bincount sums the
            # 1/rank parts per uuid in method order, as a dict loop would
            ranks = [1.0 / np.arange(1, len(u) + 1) for u, _ in results]
            return _top_k(cand, np.bincount(
                inv, weights=np.concatenate([_EMPTY[1]] + ranks),
                minlength=len(cand)), limit)
        if reranker == "mmr":
            # inner join with the layer table, sorted by uuid — the same
            # deterministic tie-break order as mmr_rerank
            present = cand[[u in layer._uuid_to_idx for u in cand]]
            if not len(present):
                return _EMPTY
            idx = [layer._uuid_to_idx[u] for u in present]
            sel, scores = _mmr_greedy(layer.emb[idx], query_vec,
                                      mmr_lambda, limit)
            return present[sel], np.asarray(scores, dtype=np.float64)
        if reranker == "episode_mentions":
            counts = self._mentions()
            return _top_k(cand, [counts.get(u, 0.0) for u in cand], limit)
        if reranker == "node_distance":
            adj = self._adjacency(group_ids)
            neigh = {dst for dst, _eu in adj.get(center_uuid, ())}
            return _top_k(cand, [10.0 if u == center_uuid
                                 else (1.0 if u in neigh else 0.0)
                                 for u in cand], limit)
        if reranker == "cross_encoder":
            q_set = set(_query_tokens(query))
            if not q_set:
                return _EMPTY
            present = [u for u in cand if u in layer._uuid_to_idx]
            scores = [len(layer.tok_sets[layer._uuid_to_idx[u]] & q_set)
                      / float(len(q_set)) for u in present]
            return _top_k(present, scores, limit)
        raise ValueError(f"unknown reranker {reranker}")


def export_search_artifacts(out_dir: str, edges=None, nodes=None,
                            episodes=None, communities=None,
                            episodic_edges=None) -> str:
    """Spark-side export job: snapshot the layer tables as parquet under
    ``out_dir`` (one subdirectory per table — the point-lookup store's
    load format; at scale, partition the writes by ``group_id`` and load
    one shard per ServedGraph)."""
    for name, df in zip(_ARTIFACTS,
                        (edges, nodes, episodes, communities,
                         episodic_edges)):
        if df is not None:
            df.write.mode("overwrite").parquet(
                os.path.join(out_dir, name))
    return out_dir
