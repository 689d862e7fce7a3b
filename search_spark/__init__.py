"""search_spark — a from-scratch, PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of BlueBrain/Search (text extraction, sentence
segmentation, NER mention detection, relation extraction, ontology entity
linking, canonicalization, triple materialization, semantic top-k search) as
declarative Spark DataFrame dataflow over Common-Crawl-style web pages.

Design principles (see SURVEY.md §7):
  * DataFrame/SQL first — Catalyst does pushdown/pruning/join planning.
  * Heavy NLP stages are Arrow-batched pandas UDFs (``mapInPandas``) with
    per-executor lazy model init — never per-row Python.
  * Deterministic composite keys ``(url, ppos, spos)`` instead of
    autoincrement ids (reference: entrypoint/database/schemas.py:66-71).
  * Output is a salted, url-hash-bucketed ``triples(subj, pred, obj, prov)``
    table with per-partition lineage rows and snapshot-based resume.
"""

__version__ = "0.1.0"

from search_spark import zipimport_gate

zipimport_gate.install()
