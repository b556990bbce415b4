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

# "\n\n\n" is the literal prefix `re` jumps between; r"\n{3,}" has none
# and is tried at every newline (10x slower on code)
_COLLAPSE_RE = re.compile(r"\n\n\n+")


def clean_text(content: str) -> str:
    """Collapse >=3 newlines to 2 and rstrip each line (parser.py:74-91
    analog; indentation preserved — it is syntax here)."""
    if not content:
        return ""
    lines = [ln.rstrip() for ln in content.split("\n")]
    return _COLLAPSE_RE.sub("\n\n", "\n".join(lines))


# The ordered pattern table compiled into ONE alternation: a match tries
# alternatives left-to-right, so the first table entry that matches a line
# wins — identical first-match-wins semantics (rules.py:106-123). None of
# the table patterns contain capturing groups, so each alternative's own
# group is sequential and m.lastindex IS the matched table index;
# per-pattern IGNORECASE is scoped inline with (?i:...).
#
# The alternation scans a whole file at once, candidate-then-confirm as in
# operators/mentions.py: one .match at 0, then a twin behind a literal
# "\n", which `re` jumps between, so only line starts are tried. Every \s
# is narrowed to a horizontal blank ([^\S\n]) and ^/$ hold at line bounds
# (MULTILINE), so each match stays inside its line and equals the
# per-line match of the table.
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
    src = src.replace(r"\s", r"[^\S\n]")
    return "((?i:{}))".format(src) if (pat.flags & re.IGNORECASE) \
        else "((?:{}))".format(src)


_SECTIONS = "|".join(_hot_pattern(t, pat) for t, pat in SECTION_PATTERNS)
# The twin tries the alternation only where a table entry can match: a
# non-blank first character, or blanks then what the two entries that
# open with \s* need next, a comment-prefix character or the first two
# letters of a LICENSE keyword (inside (?i:), so they fold as the keywords
# do). Most code lines are indented, and this rejects them in one pass
# over their indentation.
_LINE_GUARD = r"(?=\S|[^\S\n]++(?:[-#/*]|(?i:co|sp|li|mi|ap|bs|gp|mp|lg)))"
_SECTION_AT_0 = re.compile(_SECTIONS, re.MULTILINE)
_SECTION_LINES = re.compile(r"\n" + _LINE_GUARD + "(?:" + _SECTIONS + ")",
                            re.MULTILINE)
_SECTION_TYPES = [t for t, _p in SECTION_PATTERNS]


def line_matches(at0: re.Pattern, twin: re.Pattern,
                 text: str) -> Iterator[tuple[int, re.Match]]:
    """(line start, match) of every match of the ^-anchored `at0`, in
    finditer order: one .match at 0, then `twin` (`at0` behind a literal
    "\\n") from there on, so only line starts are tried. No match may end
    in "\\n"; then the twin's next "\\n" is never inside the previous match."""
    m = at0.match(text)
    if m:
        yield 0, m
    for t in twin.finditer(text, m.end() if m else 0):
        yield t.start() + 1, t


def _typed_lines(text: str) -> Iterator[tuple[int, str]]:
    """(line start, block type) of every line the table types, in order."""
    for start, m in line_matches(_SECTION_AT_0, _SECTION_LINES, text):
        yield start, _SECTION_TYPES[m.lastindex - 1]


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

    # block-opening lines: the first line (OTHER when untyped), then each
    # typed line unless it merges into the open block (same mergeable
    # type); untyped lines continue the open block
    typed = list(_typed_lines(text))
    opens = [] if typed and typed[0][0] == 0 else [(0, "OTHER")]
    for start, btype in typed:
        if not opens or btype != opens[-1][1] or btype not in _MERGEABLE:
            opens.append((start, btype))

    blocks: list[dict] = []
    for i, (start, btype) in enumerate(opens):
        end = opens[i + 1][0] - 1 if i + 1 < len(opens) else len(text)
        line_end = text.find("\n", start, end)
        line = text[start:end if line_end == -1 else line_end]
        blocks.append({
            "block_type": btype,
            "title": line.strip()[:120] or None,
            "start_pos": start,
            "end_pos": end,
            "level": _level(line),
        })

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
