"""Corpus generator contracts (FIXTURES.md §4 determinism + §1 skew)."""

import os
import statistics

import pytest

from legal_knowledge_graph_spark.corpus import (
    corpus_df, corpus_df_distributed, generate_corpus, repo_layout, MEGA_REPO,
)


def test_seed_determinism():
    a = generate_corpus(150, seed=42)
    b = generate_corpus(150, seed=42)
    assert a == b  # rows, golden triples, golden nodes — byte-identical
    c = generate_corpus(150, seed=7)
    assert c[0] != a[0]


def test_driver_and_distributed_generation_identical(spark):
    drv = sorted(map(tuple, corpus_df(spark, 120, seed=42).collect()))
    dist = sorted(map(tuple, corpus_df_distributed(
        spark, 120, seed=42, partitions=16).collect()))
    assert drv == dist


def test_mega_repo_skew_fixture():
    names, bounds = repo_layout(5000, seed=42)
    sizes = [bounds[0]] + [bounds[i] - bounds[i - 1] for i in range(1, len(bounds))]
    assert names[0] == MEGA_REPO
    median = statistics.median(sizes[1:])
    assert sizes[0] >= 50 * median  # ~100x median at scale (FIXTURES §1)


def test_edge_rows_present():
    rows, _, _ = generate_corpus(303, seed=42)
    contents = [r[4] for r in rows]
    assert "" in contents                      # empty file
    assert "hello world" in contents           # single line
    assert any(c.startswith("TODO:") for c in contents)  # unstructured prose
    langs = {r[3] for r in rows}
    assert {"python", "javascript", "go", "markdown", "text"} <= langs


def test_goldens_cover_all_predicates():
    from legal_knowledge_graph_spark.schema import RELATION_TYPES

    _, gt, _ = generate_corpus(300, seed=42)
    assert {p for _, p, _ in gt} == set(RELATION_TYPES)


def test_corpus_size_per_sf():
    """The driver's KG queries size their corpus from the sf directory, and
    kg_pipeline_pr scores it against the goldens `_golden_dir` picks; the
    two must describe the same corpus (sf1.0 has no goldens and falls back
    to sf0.01's). An sf with no size fails loudly instead of running some
    other size."""
    import pyarrow.parquet as pq

    from __spark_entry__ import _corpus_size, _golden_dir

    for sf in ("sf0.001", "sf0.01", "sf0.1", "sf1.0"):
        sf_dir = f"/data/{sf}/"
        path = os.path.join(_golden_dir(sf_dir), "golden_nodes.parquet")
        types = pq.read_table(path, columns=["entity_type"]).column(
            "entity_type").to_pylist()
        assert _corpus_size(sf_dir) == types.count("File"), sf
    with pytest.raises(ValueError, match="sf0.001, sf0.01, sf0.1, sf1.0"):
        _corpus_size("/data/sf2.0")


def test_every_driver_query_has_an_oracle():
    """The driver contract pairs each queries() entry with an oracle_sql()
    entry; removing a query family must remove both halves."""
    import __spark_entry__ as E

    assert set(E.queries()) == set(E.oracle_sql())
