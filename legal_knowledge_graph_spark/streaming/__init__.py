"""Incremental ingest (Structured Streaming).

The reference is strictly batch (SURVEY §2.8 — no streaming anywhere in
its tree), and so is the north_rule. This module exists for the
production-shaped incremental path: new corpus files landing in a
directory flow through the STATELESS stages (st0 ingest -> st1/st2
extraction, which are per-row mapInPandas and streaming-safe) as a
Structured Streaming query; the STATEFUL stages (canonicalization's
global clustering, coref) are batch by nature and run per micro-batch via
foreachBatch against the accumulated stage tables — equivalently, a
scheduled batch re-run from the checkpointed mention table.
"""

from .incremental import (  # noqa: F401
    incremental_mentions, run_full_incremental, run_incremental,
)
