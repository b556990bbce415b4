"""PySpark-native knowledge-graph construction engine.

A from-scratch rebuild of the *capabilities* of
zhaozw1984/legal-knowledge-graph (reference snapshot at /root/reference),
re-expressed Spark-first over a source-code corpus table
``(repo, path, commit, lang, content)`` per BASELINE.json input_hint.

Pipeline stages (see SURVEY.md §7.1):

    st0 ingest    content_sha + deterministic doc keys
    st1 segment   file -> typed blocks            (ref: src/document_parser/parser.py:46-72)
    st2 mentions  block -> entity mentions        (ref: src/langgraph_agents/ner_agent.py:97-394)
    st3 canon     dictionary + purged token blocking + connected
                  components -> nodes             (ref: src/normalization/normalizer.py:38-310)
    st4 triples   block -> (s, p, o) raw triples  (ref: src/langgraph_agents/relation_agent.py:99-407)
    st5 edgenorm  predicate alias + schema check  (ref: src/langgraph_agents/relation_norm_agent.py:87-298)
    st6 coref     BFS endpoint resolution         (ref: src/langgraph_agents/coref_agent.py:25-396)
    st7 metrics   QA metrics tables               (ref: src/langgraph_agents/qa_agent.py:102-150)
    st8 graph     replace-snapshot node/edge write (ref: src/neo4j/client.py:47-194)

Everything is DataFrame/SQL + Arrow-batched pandas UDFs; no per-row
Python, no RDDs, no driver-side loops over data.
"""

__version__ = "0.1.0"
