"""st1 — document segmentation: file content -> typed blocks.

The code-corpus analog of the reference's section parser
(/root/reference/src/document_parser/parser.py:46-72,156-208 and
rules.py:106-140): per-line first-match-wins section typing against the
closed pattern table (schema.SECTION_PATTERNS), adjacent same-type merging
for mergeable types, hierarchy levels from schema.HIERARCHY_PATTERNS, and
stack-based parenting (nearest preceding block with smaller level,
parser.py:181-203).

Text cleaning mirrors parser.py:74-91 (collapse >=3 newlines to 2) but
only rstrips lines — leading whitespace is syntax in code.

Executed as ``mapInPandas`` over Arrow batches: one UDTF-shaped pass
emitting N block rows per file row (SURVEY §2.9). Regexes compile once
per executor at module import. block_id is content-derived
(sha2(doc_key:ordinal)) — deterministic at any parallelism (SURVEY §1.3).
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..schema import BLOCKS_SCHEMA, HIERARCHY_PATTERNS, SECTION_PATTERNS

# types where consecutive matching lines extend the block instead of
# starting a new one (an import section is one block; each def is its own)
_MERGEABLE = {"LICENSE", "HEADER", "IMPORTS", "DOC", "CONFIG", "COMMENT", "OTHER"}

_COLLAPSE_RE = re.compile(r"\n{3,}")


def clean_text(content: str) -> str:
    """Collapse >=3 newlines to 2 and rstrip each line (parser.py:74-91
    analog; indentation preserved — it is syntax here)."""
    if not content:
        return ""
    lines = [ln.rstrip() for ln in content.split("\n")]
    return _COLLAPSE_RE.sub("\n\n", "\n".join(lines))


# The ordered pattern table compiled into ONE alternation: .match() tries
# alternatives left-to-right at position 0, so the first table entry that
# matches wins — identical first-match-wins semantics (rules.py:106-123)
# at one C-level call per line instead of len(table). None of the table
# patterns contain capturing groups, so each alternative's own group is
# sequential and m.lastindex IS the matched table index; per-pattern
# IGNORECASE is scoped inline with (?i:...).
#
# The LICENSE and COMMENT alternatives open with `^\s*(?:prefix)?\s*`,
# which splits a line's leading whitespace between the two runs in O(n^2)
# ways before failing on an indented code line. Both runs are compiled
# possessive (`\s*+`, Python >= 3.11): the token after each run (a comment
# prefix, a keyword or \S) never matches whitespace, so giving whitespace
# back could never produce a match. SECTION_PATTERNS stays the spec;
# equivalence is pinned in tests/test_segment.py.
_POSSESSIVE_WS = {"LICENSE", "COMMENT"}


def _hot_pattern(btype: str, pat: re.Pattern) -> str:
    src = pat.pattern
    if btype in _POSSESSIVE_WS:
        src = src.replace(r"\s*", r"\s*+")
    return "((?i:{}))".format(src) if (pat.flags & re.IGNORECASE) \
        else "((?:{}))".format(src)


_COMBINED_SECTION_RE = re.compile("|".join(
    _hot_pattern(t, pat) for t, pat in SECTION_PATTERNS))
_SECTION_TYPES = [t for t, _p in SECTION_PATTERNS]


def _line_type(line: str) -> str | None:
    """First-match-wins over the ordered pattern table (rules.py:106-123)."""
    m = _COMBINED_SECTION_RE.match(line)
    return _SECTION_TYPES[m.lastindex - 1] if m else None


def _level(line: str) -> int:
    for i, pat in enumerate(HIERARCHY_PATTERNS):
        if pat.match(line):
            return i + 1
    return 0


def segment_text(doc_key: str, content: str) -> list[dict]:
    """Pure segmentation kernel. Returns block dicts in document order."""
    text = clean_text(content)
    if not text.strip():
        return []

    blocks: list[dict] = []
    cur: dict | None = None
    offset = 0
    for line in text.split("\n"):
        line_end = offset + len(line)
        btype = _line_type(line)
        if btype is None:
            starts_new = cur is None  # continuation line
        else:
            starts_new = (
                cur is None
                or btype != cur["block_type"]
                or btype not in _MERGEABLE
            )
        if starts_new:
            if cur is not None:
                blocks.append(cur)
            cur = {
                "block_type": btype or "OTHER",
                "title": line.strip()[:120] or None,
                "start_pos": offset,
                "end_pos": line_end,
                "level": _level(line),
            }
        else:
            cur["end_pos"] = line_end
        offset = line_end + 1
    if cur is not None:
        blocks.append(cur)

    # parenting: nearest preceding block with smaller (nonzero) level
    stack: list[tuple[int, int]] = []  # (level, block index)
    for i, b in enumerate(blocks):
        ordinal = i
        b["block_ordinal"] = ordinal
        b["block_id"] = hashlib.sha256(f"{doc_key}:{ordinal}".encode()).hexdigest()
        lvl = b["level"]
        parent = None
        if lvl > 0:
            while stack and stack[-1][0] >= lvl:
                stack.pop()
            if stack:
                parent = blocks[stack[-1][1]]["block_id"]
            stack.append((lvl, i))
        b["parent_id"] = parent
        b["content"] = text[b["start_pos"]: b["end_pos"]]
    return blocks


def segment(ingested: DataFrame) -> DataFrame:
    """files(+doc_key,content_sha) -> blocks DataFrame."""

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in BLOCKS_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                for b in segment_text(r.doc_key, r.content or ""):
                    rows.append((
                        r.doc_key, r.repo, r.path, r.commit, r.lang,
                        r.content_sha, b["block_id"], b["block_ordinal"],
                        b["block_type"], b["title"], b["content"],
                        b["start_pos"], b["end_pos"], b["level"], b["parent_id"],
                    ))
            yield pd.DataFrame(rows, columns=cols)

    # block_type is a SECTION_PATTERNS key or "OTHER", both BLOCK_TYPES
    # members (tests/test_type_norm.py holds that), so it needs no projection
    return ingested.mapInPandas(run, schema=BLOCKS_SCHEMA)
