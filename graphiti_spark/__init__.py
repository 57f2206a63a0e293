"""graphiti_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the capabilities of oncallai/graphiti.

Pipeline shape (SURVEY.md §3.2, modeled on the reference's bulk path
``graphiti_core/graphiti.py:554-831`` but re-expressed as one Spark DAG;
stages in ``plans/pipeline.py``):

    transcripts (conv_id, turn_idx, role, text, tool, ts)
      → clustered once by conv_id, sorted by turn_idx
      → episodes                  (one per turn, a projection)
      → group kernel              (one mapInPandas per conversation:
                                   previous-turn context, rule extraction,
                                   in-group union-find → canonical endpoints)
      → entity merge, edge dedup + temporal versioning
                                  (Spark operators, T1/T2 semantics)
      → entities/edges/episodes/episodic_edges tables

Everything before versioning is local to one conversation; the kernel's
output is the one persisted intermediate, and every table is a
projection or aggregate of it.
"""

__version__ = "0.1.0"
