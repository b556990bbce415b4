"""Physical-plan assertions: the plans we want, not just plans that pass.

Checks (via .explain formatted output) that:
- small tables join via BroadcastHashJoin (the doc-KG dictionary);
- the KG triple-emission stage contains NO python UDF (pure Catalyst).

Parquet filter pushdown on the KG read path is asserted in
tests/test_graph_query.py::test_graph_readback.

Run: python tools/explain_check.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from legal_knowledge_graph_spark.session import build_session
    import __spark_entry__ as E

    spark = build_session(shuffle_partitions=8)
    failures = []

    def check(name, plan, must_contain=(), must_not=()):
        for frag in must_contain:
            if frag not in plan:
                failures.append(f"{name}: missing {frag!r}")
        for frag in must_not:
            if frag in plan:
                failures.append(f"{name}: unexpected {frag!r}")
        print(f"[{name}] "
              + " ".join(f"{frag}={'Y' if frag in plan else 'N'}"
                         for frag in must_contain + must_not))

    # doc-KG dictionary join is broadcast (J1)
    p = plan_of(E.kg_doc_mentions(spark, sf_dir))
    check("kg_doc_mentions broadcast", p, must_contain=("BroadcastHashJoin",))

    # triple emission: pure Catalyst — no python evaluation nodes
    from legal_knowledge_graph_spark.corpus import corpus_df
    from legal_knowledge_graph_spark.operators.ingest import ingest
    from legal_knowledge_graph_spark.operators.mentions import mentions_from_files
    from legal_knowledge_graph_spark.operators.triples import emit_triples

    mentions = mentions_from_files(ingest(corpus_df(spark, 20, 42)))
    p = plan_of(emit_triples(mentions))
    check("emit_triples JVM-only", p,
          must_contain=("Generate",),  # the explode
          must_not=("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"))

    print("FAILURES:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
