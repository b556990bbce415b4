"""Materialize the BPE-merge golden parquet: learn_bpe's merge loop is
not SQL-expressible in DuckDB, so its CORRECTNESS row checks against a
committed golden learned by THIS independent dict-based implementation,
as the KG goldens come from tools/make_goldens.py rather than from the
operator they check. The recurrence is deterministic and
parallelism-invariant (global argmax with a total-order tiebreak), which
`--check` verifies by re-running the Spark operator at local[2] and
local[32] and diffing against the golden.

Writes golden/{sf}/golden_bpe.parquet for every testdata sf dir.
Usage: python tools/make_bpe_golden.py [--check]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "golden")
SF_DIRS = ["sf0.001", "sf0.01", "sf0.1"]
N_MERGES = 30
MIN_COUNT = 2
END = "</w>"


def learn_reference(texts: list[str]) -> list[tuple[int, str, str, int]]:
    """Sennrich-style BPE over the word-frequency dict: python loops and
    dicts only — shares no code with the Spark operator."""
    wf = Counter()
    for t in texts:
        for w in (t or "").lower().split():
            wf[w] += 1
    syms = {w: tuple(w) + (END,) for w in wf}
    merges = []
    for rank in range(1, N_MERGES + 1):
        pc = Counter()
        for w, n in wf.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        if cnt < MIN_COUNT:
            break
        merges.append((rank, a, b, cnt))
        for w in wf:
            s = syms[w]
            out = [s[0]]
            for x in s[1:]:
                if out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[w] = tuple(out)
    return merges


def main() -> None:
    con = duckdb.connect()
    for sf in SF_DIRS:
        src = f"/root/testdata/{sf}/documents.parquet"
        texts = [r[0] for r in con.execute(
            f"SELECT text FROM read_parquet('{src}') ORDER BY doc_id"
        ).fetchall()]
        merges = learn_reference(texts)
        out = os.path.join(ROOT, sf)
        os.makedirs(out, exist_ok=True)
        table = pa.table({
            "rank": pa.array([m[0] for m in merges], pa.int32()),
            "left": pa.array([m[1] for m in merges], pa.string()),
            "right": pa.array([m[2] for m in merges], pa.string()),
            "pair_count": pa.array([m[3] for m in merges], pa.int64()),
        })
        pq.write_table(table, os.path.join(out, "golden_bpe.parquet"))
        print(f"{sf}: {len(merges)} merges -> {out}/golden_bpe.parquet")

        # application golden: per-doc word/token counts under the learned
        # merges — the final `syms` state of an independent dict applier
        # (re-derived here from scratch so it shares nothing with Spark)
        syms = {}
        rows = con.execute(
            f"SELECT doc_id, text FROM read_parquet('{src}') ORDER BY doc_id"
        ).fetchall()
        mset = [(m[1], m[2]) for m in merges]

        def apply_word(w):
            if w not in syms:
                s = list(w) + [END]
                for a, b in mset:
                    out_s = [s[0]]
                    for x in s[1:]:
                        if out_s[-1] == a and x == b:
                            out_s[-1] = a + b
                        else:
                            out_s.append(x)
                    s = out_s
                syms[w] = s
            return syms[w]

        tok_rows = []
        for doc_id, text in rows:
            words = [w for w in (text or "").lower().split() if w]
            if not words:
                continue
            tok_rows.append((doc_id, len(words),
                             sum(len(apply_word(w)) for w in words)))
        ttable = pa.table({
            "doc_id": pa.array([r[0] for r in tok_rows], pa.int64()),
            "n_words": pa.array([r[1] for r in tok_rows], pa.int64()),
            "n_tokens": pa.array([r[2] for r in tok_rows], pa.int64()),
        })
        pq.write_table(ttable, os.path.join(out, "golden_bpe_tokens.parquet"))
        print(f"{sf}: {len(tok_rows)} docs -> {out}/golden_bpe_tokens.parquet")

    if "--check" in sys.argv:
        sys.path.insert(0, os.path.dirname(ROOT))
        from legal_knowledge_graph_spark.operators.bpe import learn_bpe
        from legal_knowledge_graph_spark.session import build_session
        for master in ("local[2]", "local[32]"):
            spark = build_session(app_name="bpe-golden-check", master=master,
                                  shuffle_partitions=8)
            for sf in SF_DIRS:
                docs = spark.read.parquet(
                    f"/root/testdata/{sf}/documents.parquet")
                got = sorted(
                    (r["rank"], r.left, r.right, r.pair_count)
                    for r in learn_bpe(docs, n_merges=N_MERGES,
                                       min_count=MIN_COUNT).collect())
                want = sorted(
                    (int(r[0]), r[1], r[2], int(r[3])) for r in con.execute(
                        f'SELECT rank, "left", "right", pair_count FROM '
                        f"read_parquet('{ROOT}/{sf}/golden_bpe.parquet')"
                    ).fetchall())
                assert got == want, (master, sf, got[:3], want[:3])
                print(f"{master} {sf}: {len(got)} merges MATCH")
            spark.stop()


if __name__ == "__main__":
    main()
