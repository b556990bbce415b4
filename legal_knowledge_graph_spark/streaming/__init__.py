"""Incremental KG construction (Structured Streaming).

The reference is strictly batch (SURVEY §2.8 — no streaming anywhere in
its tree), and so is the north_rule. This package holds the
production-shaped incremental path: `run_full_incremental` drains new
corpus files landing in a directory as a Structured Streaming query. Per
micro-batch (foreachBatch), the stateless stages (st0 ingest -> st1/st2
extraction) upsert the batch's mentions into a mention ledger, and the
stateful stages (st3 canonicalization's global clustering through st6
coref) rebuild the graph over the whole ledger through the same suffix
the batch pipeline runs.
"""

from .incremental import run_full_incremental  # noqa: F401
