"""Top-level facade — the reference's ``Graphiti`` class surface over the
Spark-native engine.

The reference's primary UX is one object with add/search/maintain methods
(``graphiti_core/graphiti.py``: add_episode, add_episode_bulk, search,
search_, retrieve_episodes, build_communities, add_triplet,
remove_episode, get_nodes_and_edges_by_episode, ...). The engine's
operators are all built and tested individually; this module is the thin
composition layer so a reference user can hold ONE handle and call the
same verbs. Every method delegates to the tested operator — no logic of
its own beyond table bookkeeping — and each docstring cites the
reference method it mirrors.

State model (the Spark-native translation of "a graph database"):
the graph IS four DataFrames (episodes, entities, edges, episodic_edges)
plus the transcripts they are built from and optional communities, all
keyed by ``group_id`` (= ``conv_id``). Every write takes one
touched-group path: it names the conversations it touches,
``build_graph`` rebuilds them from their surviving turns,
``operators/maintenance.replace_groups`` folds their manual
(``add_triplet``) edges and those edges' entities back in, and the handle
swaps the touched groups' rows for the result (anti-join + union),
cutting lineage with ``localCheckpoint``. Untouched groups carry over, so
the handle always equals a fresh build over the surviving turns plus the
surviving manual triplets, and a write costs O(touched conversations),
not O(graph) — the reference's per-episode incremental shape.
Communities are derived state: every write drops them (``None``) until
``build_communities`` runs again.

The streaming writer (``streaming/ingest``) runs this same write per
micro-batch on a handle over the touched groups' stored rows.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphiti_spark.operators import maintenance as MT
from graphiti_spark.plans.pipeline import RUN_TS, build_graph
from graphiti_spark.sources.tables import (drop_store_table, read_store_table,
                                           write_store_table)

__all__ = ["GraphitiSpark"]

_TRANSCRIPT_SCHEMA = ("conv_id string, turn_idx int, role string, "
                      "text string, tool string, ts timestamp")


def _join_groups(df: DataFrame | None, groups: DataFrame, how: str):
    """``df``'s rows in (``left_semi``) or outside (``left_anti``) the
    ``group_id``s of ``groups``; None stays None."""
    return None if df is None else df.join(F.broadcast(groups), "group_id",
                                           how)


class GraphitiSpark:
    """One handle over the KG tables with the reference's verbs.

    ``with_embeddings=True`` (default) materializes name/fact embedding
    columns during builds so ``search``'s cosine layers work out of the
    box; pass False for extract-only pipelines to keep the embedding
    Arrow traffic out of the build (the core triples never depend on
    it).
    """

    def __init__(self, spark: SparkSession, run_ts: datetime = RUN_TS,
                 ontology=None, with_embeddings: bool = True):
        self.spark = spark
        self.run_ts = run_ts
        self.ontology = ontology
        self.with_embeddings = with_embeddings
        self.transcripts: DataFrame | None = None
        self.episodes: DataFrame | None = None
        self.entities: DataFrame | None = None
        self.edges: DataFrame | None = None
        self.episodic_edges: DataFrame | None = None
        self.communities: DataFrame | None = None
        self.community_edges: DataFrame | None = None

    # -- write path --------------------------------------------------------

    def add_episode_bulk(self, transcripts: DataFrame) -> "GraphitiSpark":
        """``Graphiti.add_episode_bulk`` (graphiti.py, bulk path): ingest
        turn rows ``(conv_id, turn_idx, role, text, tool, ts)`` and
        rebuild the conversations they touch. A re-supplied
        ``(conv_id, turn_idx)`` takes the NEW text. A NULL ``conv_id``
        or ``turn_idx``, or a key the batch repeats, raises
        ``ValueError`` (``maintenance.merge_turns``). The streaming
        writer runs this method once per micro-batch."""
        return self._rebuild(MT.merge_turns(self.transcripts, transcripts),
                             transcripts.select("conv_id").distinct())

    def add_episode(self, group_id: str, body: str, role: str = "user",
                    reference_time: datetime | None = None,
                    tool: str | None = None) -> "GraphitiSpark":
        """``Graphiti.add_episode`` (single-episode write path): one turn
        appended to ``group_id``'s conversation at the next turn index,
        then the touched-group rebuild."""
        nxt = 0
        if self.transcripts is not None:
            row = (self.transcripts.where(F.col("conv_id") == group_id)
                   .agg(F.max("turn_idx")).head()[0])
            nxt = 0 if row is None else row + 1
        ts = MT.utc_naive(reference_time or self.run_ts)
        one = self.spark.createDataFrame(
            [(group_id, nxt, role, body, tool, ts)], _TRANSCRIPT_SCHEMA)
        return self.add_episode_bulk(one)

    def add_triplet(self, group_id: str, subj: str, pred: str, obj: str,
                    fact: str, valid_at: datetime | None = None
                    ) -> "GraphitiSpark":
        """``Graphiti.add_triplet`` (graphiti.py:979-1017): insert an
        arbitrary (subj, pred, obj) edge (``maintenance.add_triplet``
        validates and builds it) and resolve it against the group's
        EXISTING edges through the same dedupe + temporal versioning as
        extracted ones; its two entities are upserted."""
        edge = MT.add_triplet(self.spark, group_id, subj, pred, obj, fact,
                              self.run_ts, valid_at)
        ends = [edge.select(F.col(u).alias("uuid"), F.col(n).alias("name"),
                            "group_id", "created_at")
                for u, n in (("source_node_uuid", "subj"),
                             ("target_node_uuid", "obj"))]
        ents = ends[0].unionByName(ends[1])
        if (self.with_embeddings or
                (self.entities is not None
                 and "name_embedding" in self.entities.columns)):
            # the reference embeds names on insert — without this the
            # node cosine layer never scores a manually-added entity
            from graphiti_spark.operators.extract import embed_udf
            ents = ents.withColumn("name_embedding", embed_udf(F.col("name")))
        groups = self.spark.createDataFrame([(group_id,)], "group_id string")
        edges, entities = MT.replace_groups(
            _join_groups(self.edges, groups, "left_semi"),
            _join_groups(self.entities, groups, "left_semi"),
            edge, ents, self.run_ts, ontology=self.ontology)
        return self._apply(groups, edges=edges, entities=entities)

    def remove_episode(self, episode_uuids: list[str]) -> "GraphitiSpark":
        """``Graphiti.remove_episode`` (graphiti.py:1019-1052): drop the
        episodes' turns from the transcripts and rebuild their groups, so
        edges and entities only they supported go too (manual triplets
        stay)."""
        if self.episodes is None:
            return self
        gone = (self.episodes.where(F.col("uuid").isin(list(episode_uuids)))
                .select(F.col("group_id").alias("conv_id"), "turn_idx")
                .collect())
        if not gone:
            return self
        gone = self.spark.createDataFrame(gone, "conv_id string, turn_idx int")
        kept = self.transcripts.join(F.broadcast(gone), MT.TURN_KEY,
                                     "left_anti")
        return self._rebuild(kept, gone.select("conv_id").distinct())

    def _rebuild(self, transcripts: DataFrame,
                 touched: DataFrame) -> "GraphitiSpark":
        """The one write path: ``transcripts`` is the whole transcript
        table after the write, ``touched`` the ``conv_id``s it changed.
        Rebuilds those conversations, folds their manual edges back in
        (``maintenance.replace_groups``) and swaps them into the handle."""
        transcripts = transcripts.localCheckpoint(eager=True)
        src = transcripts
        if self.transcripts is not None:
            # cached, not checkpointed: unpersist releases it once the
            # tables that read it are checkpointed
            touched = touched.cache()
            src = transcripts.join(F.broadcast(touched), "conv_id",
                                   "left_semi")
        g = self._build(src)
        groups = touched.select(F.col("conv_id").alias("group_id"))
        edges, entities = MT.replace_groups(
            g.edges, g.entities,
            _join_groups(self.edges, groups, "left_semi"),
            _join_groups(self.entities, groups, "left_semi"),
            self.run_ts, ontology=self.ontology)
        self.transcripts = transcripts
        self._apply(groups, edges=edges, entities=entities,
                    episodes=g.episodes, episodic_edges=g.episodic_edges)
        # every table is checkpointed: nothing reads the kernel output or
        # the touched keys again
        g.release()
        touched.unpersist()
        return self

    def _apply(self, groups: DataFrame, **tables: DataFrame
               ) -> "GraphitiSpark":
        """Replace the ``groups``' rows of each named table with the new
        rows (anti-join + union), cut lineage so plans stay flat across
        writes, and drop the now-stale communities."""
        for name, new in tables.items():
            kept = _join_groups(getattr(self, name), groups, "left_anti")
            if kept is not None:
                new = kept.unionByName(new, allowMissingColumns=True)
            setattr(self, name, new.localCheckpoint(eager=True))
        self.communities = self.community_edges = None
        return self

    # -- read path ---------------------------------------------------------

    def retrieve_episodes(self, reference_time: datetime,
                          last_n: int = 10,
                          group_ids: list[str] | None = None) -> DataFrame:
        """``Graphiti.retrieve_episodes`` (S3): last-n episodes at or
        before ``reference_time`` per group, chronological."""
        from graphiti_spark.operators.episodes import retrieve_episodes
        return retrieve_episodes(self.episodes, reference_time,
                                 last_n=last_n, group_ids=group_ids)

    def get_nodes_and_edges_by_episode(self, episode_uuids: list[str]):
        """``Graphiti.get_nodes_and_edges_by_episode``
        (graphiti.py:965-977)."""
        from graphiti_spark.operators.maintenance import (
            get_nodes_and_edges_by_episode)
        return get_nodes_and_edges_by_episode(
            self.episodic_edges, self.entities, self.edges, episode_uuids)

    def get_entity_edge(self, uuid: str) -> DataFrame:
        """``Graphiti.get_entity_edge`` point lookup (S7)."""
        from graphiti_spark.operators.maintenance import get_by_uuids
        return get_by_uuids(self.edges, [uuid])

    def search(self, query: str, num_results: int = 10,
               group_ids: list[str] | None = None,
               center_node_uuid: str | None = None) -> DataFrame:
        """``Graphiti.search`` — the edge-RRF shortcut (graphiti.py:
        hybrid bm25+cosine over facts, RRF fused; node-distance rerank
        when ``center_node_uuid`` is given). Returns edge rows."""
        from graphiti_spark.operators.composite_search import (
            EDGE_HYBRID_SEARCH_NODE_DISTANCE, EDGE_HYBRID_SEARCH_RRF)
        cfg = (EDGE_HYBRID_SEARCH_NODE_DISTANCE if center_node_uuid
               else EDGE_HYBRID_SEARCH_RRF)
        res = self.search_(query, cfg, group_ids=group_ids,
                           center_node_uuid=center_node_uuid)
        return res.edges.limit(num_results)

    def search_(self, query: str, config, filters=None,
                group_ids: list[str] | None = None,
                center_node_uuid: str | None = None,
                bfs_origin_node_uuids: list[str] | None = None):
        """``Graphiti.search_`` — the full composite fan-out
        (search/search.py): ``config`` is a CompositeSearchConfig or a
        preset name from COMPOSITE_RECIPES. Returns SearchResults."""
        from graphiti_spark.functions.text import embed_text
        from graphiti_spark.operators import composite_search as CS
        if isinstance(config, str):
            config = CS.COMPOSITE_RECIPES[config]
        qvec = [float(x) for x in embed_text(query)]
        return CS.search(
            query, qvec, config,
            edges=self.edges, nodes=self.entities,
            episodes=self.episodes, communities=self.communities,
            episodic_edges=self.episodic_edges, filters=filters,
            group_ids=group_ids, center_node_uuid=center_node_uuid,
            bfs_origin_node_uuids=bfs_origin_node_uuids)

    # -- maintenance -------------------------------------------------------

    def build_communities(self, mode: str = "monotone") -> DataFrame:
        """``Graphiti.build_communities`` (A4/A5): label propagation +
        summarization over the current graph; result cached on the
        handle so the community search layer is live."""
        from graphiti_spark.operators.communities import build_communities
        comms, ce = build_communities(self.entities, self.edges,
                                      self.run_ts, mode=mode)
        self.communities = comms.localCheckpoint(eager=True)
        self.community_edges = ce.localCheckpoint(eager=True)
        return self.communities

    def _build(self, transcripts: DataFrame):
        return build_graph(self.spark, transcripts, run_ts=self.run_ts,
                           with_embeddings=self.with_embeddings,
                           ontology=self.ontology)

    # -- persistence -------------------------------------------------------

    _TABLES = ("transcripts", "episodes", "entities", "edges",
               "episodic_edges", "communities", "community_edges")

    def save(self, root: str) -> "GraphitiSpark":
        """Persist every populated table under ``root``, partitioned by
        the incremental unit (``conv_id``/``group_id``) so a later
        micro-batch update rewrites only touched partition dirs — the
        same layout the streaming writer uses (S4; the parquet stand-in
        for the Iceberg tables of the brief)."""
        for name in self._TABLES:
            df = getattr(self, name)
            if df is None:
                # a table the handle dropped (communities after a write)
                # must not come back stale from an earlier save
                drop_store_table(root, name)
                continue
            # cut lineage BEFORE overwrite: a load()ed table's plan still
            # reads the very directory this write replaces — Spark
            # rejects overwrite-while-reading, and a partial failure
            # would leave the on-disk graph half-replaced
            df = df.localCheckpoint(eager=True)
            setattr(self, name, df)
            write_store_table(df, root, name)
        return self

    @classmethod
    def load(cls, spark: SparkSession, root: str,
             run_ts: datetime = RUN_TS, ontology=None,
             with_embeddings: bool = True) -> "GraphitiSpark":
        """Re-open a saved graph: the handle resumes incremental updates
        and searches from the on-disk tables (restart-safety lives in
        the files, not in driver state)."""
        if "://" in root:
            raise NotImplementedError(
                "load() probes the local filesystem; for a remote or "
                "cataloged store use sources.tables.TableStore")
        g = cls(spark, run_ts=run_ts, ontology=ontology,
                with_embeddings=with_embeddings)
        found = False
        for name in cls._TABLES:
            df = read_store_table(spark, root, name)
            found = found or df is not None
            setattr(g, name, df)
        if not found:
            # a typo'd root must not silently hand back an empty graph
            # that a later save() would happily write somewhere new
            raise FileNotFoundError(f"no saved graph tables under {root}")
        return g
