"""st2 — entity-mention detection over blocks (the NER stage).

Deterministic vectorized replacement for the reference's per-block LLM NER
(/root/reference/src/langgraph_agents/ner_agent.py:97-394): a closed,
lang-keyed regex rule table finds the 9 entity types, validates positions
by construction (we extract *from* the text, ner_agent.py:358-371's repair
loop is unnecessary), emits only closed-enum types by construction (so the
alias projection of ner_agent.py:350-356, type_norm.py, is left to external
mention sources), and flags pronoun-like references (ner_agent.py:277-312).

Semantics of the pronoun analog (documented contract):
- tokens in schema.PRONOUNS are NOISE: never emitted at all;
- call references with text length <= 2 (e.g. ``pc``) are emitted with
  ``is_reference=True`` — excluded from entity canonicalization, kept as
  triple endpoints so the coref stage can resolve them (mirrors the
  reference flow where pronouns are filtered from entities but relations
  may still reference them -> need_coref,
  relation_norm_agent.py:300-326).

Executed as ``mapInPandas``; regexes compile once per executor at import.
A fused files->mentions path avoids materializing block content through a
shuffle/stage boundary at scale.
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..schema import DICTIONARY, MENTIONS_SCHEMA, PRONOUNS
from .segment import line_matches, segment_text

# --------------------------------------------------------------------------
# Pattern tables (compiled once per executor)
# --------------------------------------------------------------------------
_license_terms: list[str] = []
for _canonical, _aliases, _etype, _conf in DICTIONARY:
    if _etype == "License":
        _license_terms.append(_canonical)
        _license_terms.extend(_aliases)
_license_terms.sort(key=len, reverse=True)
LICENSE_RE = re.compile(
    r"(?<![\w-])(?:" + "|".join(re.escape(t) for t in _license_terms) + r")(?![\w-])",
    re.IGNORECASE,
)

COPYRIGHT_RE = re.compile(
    r"Copyright\s*(?:\(c\)|©)?\s*(\d{4})(?:\s*[-–]\s*\d{4})?,?\s+([^\n]+?)\s*$"
)
AT_AUTHOR_RE = re.compile(r"@author:?\s+(.+?)\s*$")
DATE_RE = re.compile(r"(?<![\d-])(\d{4}-\d{2}-\d{2})(?![\d-])")
VER_REQUIRES_RE = re.compile(r"requires\s+version\s*>=\s*v?(\d+(?:\.\d+)+)", re.IGNORECASE)
VER_DUNDER_RE = re.compile(r"__version__\s*=\s*[\"'](\d+(?:\.\d+)+)[\"']")
VER_WORD_RE = re.compile(r"\bversion\s+v?(\d+(?:\.\d+)+)\b", re.IGNORECASE)


MODULE_PATTERNS: dict[str, list[re.Pattern]] = {
    "python": [
        re.compile(r"^\s*import\s+([A-Za-z_][\w.]*)(?:\s+as\s+\w+)?", re.MULTILINE),
        re.compile(r"^\s*from\s+([A-Za-z_][\w.]*)\s+import\b", re.MULTILINE),
    ],
    "javascript": [
        re.compile(r"require\(\s*['\"]([^'\"]+)['\"]"),
        re.compile(r"^\s*import\s+[\w{},*\s]+?\s+from\s+['\"]([^'\"]+)['\"]", re.MULTILINE),
    ],
    "go": [
        re.compile(r"^\s*import\s+\"([\w/.-]+)\"", re.MULTILINE),
    ],
}
GO_IMPORT_LINE_RE = re.compile(r"^\s*\"([\w/.-]+)\",?\s*$")

DEF_RE = re.compile(
    r"^(?:def|func)\s+([A-Za-z_]\w*)\s*\(|"
    r"^(?:export\s+)?(?:async\s+)?function\s+([A-Za-z_]\w*)\s*\("
)
METHOD_RE = re.compile(r"^\s+def\s+([A-Za-z_]\w*)\s*\(")
CLASS_RE = re.compile(
    r"^class\s+([A-Za-z_]\w*)\s*(?:\(\s*([A-Za-z_][\w.]*)\s*\))?\s*:|"
    r"^class\s+([A-Za-z_]\w*)(?:\s+extends\s+([A-Za-z_][\w.]*))?\s*\{"
)
CALL_RE = re.compile(r"([A-Za-z_][\w.]*)\s*\(")

# identifier-shaped words that precede "(" but are never call mentions
CALL_KEYWORDS = frozenset({
    "if", "for", "while", "return", "print", "assert", "require", "import",
    "def", "func", "function", "class", "with", "except", "raise", "switch",
    "catch", "new", "typeof", "len", "range", "str", "int", "float", "list",
    "dict", "set", "tuple", "type", "isinstance", "append", "join", "split",
    "get", "items", "keys", "values", "format", "open", "enumerate", "zip",
    "map", "filter", "sorted", "min", "max", "sum", "abs", "copyright",
    "describe", "main",
})

_CALL_BLOCKS = {"CLASS", "FUNCTION", "TEST"}


# The patterns above are the spec. The hot path finds exactly their
# matches, in finditer order, without letting `re` try a match at every
# character (~25-30 ns a position). Every scan is candidate-then-confirm:
# - a C-speed literal search (str.find, or a regex whose first item is a
#   literal, which `re` jumps between) yields a superset of the positions
#   where the pattern can start a match;
# - each candidate is confirmed left to right with pattern.match(content,
#   pos), skipping candidates before the previous match's end, which is
#   finditer's leftmost, non-overlapping order. Lookbehinds and \b still
#   see the characters before pos.
# Case-insensitive heads are found in a case-folded copy of the block. The
# fold (_FOLD) maps one character to one, so positions carry over, and it
# is used only to find candidates: ASCII A-Z to a-z plus the four other
# code points IGNORECASE matches to [a-z] (U+0130, U+0131 -> i, U+017F -> s,
# U+212A -> k). A plain str.lower() would not do: it lengthens U+0130 and
# misses the other three.
# Per-line spec patterns scan whole blocks through twins (_twin): every \s
# narrowed to a horizontal blank, so no match spans a newline and each
# equals the per-line match. Equivalence is pinned in tests/test_mentions.py.
_HS = r"[^\S\n]"
_FOLD = str.maketrans({**{chr(c): chr(c + 32) for c in range(65, 91)},
                       "\u0130": "i", "\u0131": "i", "\u017f": "s",
                       "\u212a": "k"})
_LICENSE_HEADS = sorted({t[:3].lower() for t in _license_terms})
# the date starts 4 characters before the "-" this twin of DATE_RE matches
_DATE_DASH = re.compile(r"-(?<=(?<![\d-])\d\d\d\d-)\d\d-\d\d(?![\d-])")
# "(" and the run before it, read backwards: the call name starts at the
# first [A-Za-z_] of the [\w.] run before the blanks before "(". Exact
# because "(" is neither an identifier character nor a blank.
_CALL_BACK = re.compile(r"\(" + _HS + r"*+[\w.]*[A-Za-z_]")


def _twin(pat: re.Pattern) -> re.Pattern:
    """Whole-block twin of a per-line spec pattern (^ and $ at line bounds)."""
    return re.compile(pat.pattern.replace(r"\s", _HS), pat.flags | re.MULTILINE)


def _line_led(pat: re.Pattern) -> tuple[re.Pattern, re.Pattern | None]:
    """`pat` and, when it opens with ^ (MULTILINE), its twin behind a
    literal "\\n". Every alternative must then open with ^, as in each
    pattern here."""
    if not pat.pattern.startswith("^"):
        return pat, None
    return pat, re.compile(r"\n(?:" + pat.pattern + ")", pat.flags)


COPYRIGHT_ML, AT_AUTHOR_ML, VER_REQUIRES_ML, VER_DUNDER_ML, VER_WORD_ML, \
    CALL_ML = map(_twin, (COPYRIGHT_RE, AT_AUTHOR_RE, VER_REQUIRES_RE,
                          VER_DUNDER_RE, VER_WORD_RE, CALL_RE))
CLASS_LINES, DEF_LINES, METHOD_LINES, GO_IMPORT_LINES = (
    _line_led(_twin(p)) for p in (CLASS_RE, DEF_RE, METHOD_RE,
                                  GO_IMPORT_LINE_RE))
MODULE_SCANS = {lang: [_line_led(p) for p in pats]
                for lang, pats in MODULE_PATTERNS.items()}


def _finds(hay: str, needle: str) -> Iterator[int]:
    """Every index of `needle` in `hay`, ascending."""
    i = hay.find(needle)
    while i != -1:
        yield i
        i = hay.find(needle, i + 1)


def _confirmed(pat: re.Pattern, content: str,
               starts: Iterable[int]) -> Iterator[re.Match]:
    """pat.finditer(content), given ascending candidate starts that include
    every position where pat can start a match."""
    end = 0
    for pos in starts:
        if pos >= end:
            m = pat.match(content, pos)
            if m:
                end = m.end()
                yield m


def _scan(led, content: str) -> Iterator[tuple[int, re.Match]]:
    """(match start, match) for every match of led[0], in finditer order;
    a ^-anchored pattern tries only line starts (segment.line_matches)."""
    pat, twin = led
    if twin is None:
        return ((m.start(), m) for m in pat.finditer(content))
    return line_matches(pat, twin, content)


def _licenses(content: str, low: str) -> Iterator[re.Match]:
    starts = sorted(i for h in _LICENSE_HEADS for i in _finds(low, h))
    return _confirmed(LICENSE_RE, content, starts)


def _requires(content: str, low: str) -> Iterator[re.Match]:
    return _confirmed(VER_REQUIRES_ML, content, _finds(low, "requires"))


def _version_words(content: str, low: str) -> Iterator[re.Match]:
    return _confirmed(VER_WORD_ML, content, _finds(low, "version"))


def _dates(content: str) -> Iterator[re.Match]:
    return _confirmed(DATE_RE, content,
                      [d.start() - 4 for d in _DATE_DASH.finditer(content)])


def _calls(content: str) -> Iterator[re.Match]:
    n = len(content)
    starts = [n - m.end() for m in _CALL_BACK.finditer(content[::-1])]
    return _confirmed(CALL_ML, content, starts[::-1])


def _mention(etype, text, start, end, conf, is_ref=False, evidence=None, **attrs):
    return {
        "entity_type": etype, "text": text, "start_pos": start, "end_pos": end,
        "confidence": conf, "is_reference": is_ref, "evidence": evidence,
        "attributes": {k: v for k, v in attrs.items() if v is not None},
    }


def detect_mentions(block_type: str, lang: str, content: str) -> list[dict]:
    """Pure detection kernel for one block. Positions are offsets into the
    block content (reference positions are per-block, ner_agent.py:358)."""
    out: list[dict] = []
    if not content:
        return out

    # one scan per pattern over the whole block; matches are line-confined
    # by construction (see _twin), so each is exactly what the former
    # per-line loop produced. _line() reconstructs the enclosing line only
    # per MATCH (rare), not per line.
    def _line(pos: int) -> str:
        ls = content.rfind("\n", 0, pos) + 1
        le = content.find("\n", pos)
        return content[ls:] if le == -1 else content[ls:le]

    # --- licenses / authors / dates / versions: scanned in any block ----
    low = content.translate(_FOLD)
    for m in _licenses(content, low):
        out.append(_mention("License", m.group(0), m.start(), m.end(), 0.9,
                            evidence=_line(m.start()).strip()[:200]))
    for cm in COPYRIGHT_ML.finditer(content):
        line = _line(cm.start())
        out.append(_mention("Date", cm.group(1), cm.start(1), cm.end(1), 0.9,
                            ctx="copyright", evidence=line.strip()[:200]))
        author = cm.group(2).rstrip(",;")
        if author and len(author) <= 60 and not author[0].isdigit():
            out.append(_mention("Author", author, cm.start(2),
                                cm.start(2) + len(author), 0.9,
                                evidence=line.strip()[:200]))
    for am in AT_AUTHOR_ML.finditer(content):
        out.append(_mention("Author", am.group(1), am.start(1), am.end(1),
                            0.9, evidence=_line(am.start()).strip()[:200]))
    for dm in _dates(content):
        line = _line(dm.start())
        lowered = line.lower()
        ctx = ("modified" if ("last modified" in lowered or "updated" in lowered)
               else None)
        out.append(_mention("Date", dm.group(1), dm.start(1), dm.end(1), 0.9,
                            ctx=ctx, evidence=line.strip()[:200]))
    # versions keep the original PER-LINE precedence: first requires-match
    # per line wins the line; else first __version__; else first word-form
    # unless the line names a license ("Apache License, Version 2.0" is not
    # a file version). finditer is left-to-right, so first-seen per
    # line-start == the per-line search()'s leftmost match.
    ver_lines: dict[int, object] = {}
    for rm in _requires(content, low):
        ls = content.rfind("\n", 0, rm.start()) + 1
        if ls not in ver_lines:
            ver_lines[ls] = rm
            out.append(_mention("Version", rm.group(1), rm.start(1),
                                rm.end(1), 0.9, ctx="requires",
                                evidence=_line(rm.start()).strip()[:200]))
    for vm in VER_DUNDER_ML.finditer(content):
        ls = content.rfind("\n", 0, vm.start()) + 1
        if ls not in ver_lines:
            ver_lines[ls] = vm
            out.append(_mention("Version", vm.group(1), vm.start(1),
                                vm.end(1), 0.9, ctx="has",
                                evidence=_line(vm.start()).strip()[:200]))
    for vm in _version_words(content, low):
        ls = content.rfind("\n", 0, vm.start()) + 1
        if ls in ver_lines:
            continue
        ver_lines[ls] = None  # line handled either way (emit or suppress)
        line = _line(vm.start())
        if not LICENSE_RE.search(line):
            out.append(_mention("Version", vm.group(1), vm.start(1),
                                vm.end(1), 0.9, ctx="has",
                                evidence=line.strip()[:200]))

    # --- modules --------------------------------------------------------
    for led in MODULE_SCANS.get(lang, MODULE_SCANS["python"]):
        for _start, m in _scan(led, content):
            out.append(_mention("Module", m.group(1), m.start(1), m.end(1),
                                0.95, role="import"))
    if lang == "go" and block_type == "IMPORTS":
        for _ls, gm in _scan(GO_IMPORT_LINES, content):
            out.append(_mention("Module", gm.group(1), gm.start(1),
                                gm.end(1), 0.95, role="import"))

    # --- defs / classes / calls (code blocks only) -----------------------
    # One C-level scan per pattern, then a single position-ordered walk
    # replays the former per-line state machine exactly: a decl (always
    # anchored at its line start) updates cls/encl BEFORE the calls on its
    # own line (their positions start past the keyword), an indented `def`
    # outside a class is NOT a decl (it neither updates state nor
    # suppresses its own call-shaped match — the original's
    # `METHOD_RE if cls is not None` semantics), and a call is skipped as
    # "the declaration itself" iff its name starts exactly at a decl's
    # name position (absolute positions are unique, so the cumulative set
    # is equivalent to the per-line decl_span check).
    if block_type in _CALL_BLOCKS:
        events: list[tuple[int, int, str, re.Match]] = []
        for kind, led in (("class", CLASS_LINES), ("def", DEF_LINES),
                          ("method", METHOD_LINES)):
            for ls, m in _scan(led, content):
                events.append((ls, 0, kind, m))
        for m in _calls(content):
            events.append((m.start(1), 1, "call", m))
        events.sort(key=lambda e: (e[0], e[1]))
        encl: str | None = None
        cls: str | None = None
        decl_starts: set[int] = set()
        for pos, _, kind, m in events:
            if kind == "class":
                name = m.group(1) or m.group(3)
                base = m.group(2) or m.group(4)
                gi = 1 if m.group(1) else 3
                cls, encl = name, None
                out.append(_mention("Class", name, m.start(gi), m.end(gi),
                                    0.95, role="def",
                                    evidence=_line(pos).strip()[:200]))
                if base:
                    bi = 2 if m.group(2) else 4
                    out.append(_mention("Class", base, m.start(bi), m.end(bi),
                                        0.95, role="base", cls=name))
                decl_starts.add(m.start(gi))
            elif kind == "def":
                name = m.group(1) or m.group(2)
                gi = 1 if m.group(1) else 2
                encl, cls = name, None
                out.append(_mention("Function", name, m.start(gi), m.end(gi),
                                    0.95, role="def",
                                    evidence=_line(pos).strip()[:200]))
                decl_starts.add(m.start(gi))
            elif kind == "method":
                if cls is None:
                    continue  # indented def outside a class: not a decl
                name = m.group(1)
                encl = name
                out.append(_mention("Function", name, m.start(1), m.end(1),
                                    0.95, role="method", cls=cls,
                                    evidence=_line(pos).strip()[:200]))
                decl_starts.add(m.start(1))
            else:
                name = m.group(1)
                if m.start(1) in decl_starts:
                    continue  # the declaration itself
                if name.lower() in CALL_KEYWORDS:
                    continue
                head = name.split(".", 1)[0].lower()
                if head in PRONOUNS or name.lower() in PRONOUNS:
                    continue  # noise, never emitted (pronoun filter)
                out.append(_mention(
                    "Function", name, m.start(1), m.end(1), 0.85,
                    is_ref=len(name) <= 2, role="call", encl=encl,
                    evidence=_line(m.start(1)).strip()[:200]))
    return out


# --------------------------------------------------------------------------
# Spark operators
# --------------------------------------------------------------------------
_M_COLS = [f.name for f in MENTIONS_SCHEMA.fields]


def _rows_for_block(r, block_type, block_id, content, rows):
    for m in detect_mentions(block_type, r.lang, content):
        # composite id: unique by construction (one mention per
        # (block, type, start)), no per-mention hashing on the hot path
        mid = f"{block_id}:{m['entity_type']}:{m['start_pos']}"
        rows.append((
            r.doc_key, r.repo, r.path, r.content_sha, block_id, block_type,
            mid, m["entity_type"], m["text"], m["start_pos"], m["end_pos"],
            m["confidence"], m["is_reference"], m["evidence"], m["attributes"],
        ))


def _structural_rows(r, rows):
    """File and Repo are structural entities (identity = their name);
    emitted once per document against a pseudo-block."""
    fb = f"{r.doc_key}#file"
    fname = f"{r.repo}/{r.path}"
    for etype, text in (("File", fname), ("Repo", r.repo)):
        mid = f"{fb}:{etype}:0"
        rows.append((
            r.doc_key, r.repo, r.path, r.content_sha, fb, "FILE",
            mid, etype, text, 0, len(text), 1.0, False, None, {},
        ))


def mentions_from_files(ingested: DataFrame) -> DataFrame:
    """Fused st1+st2: files -> mentions without materializing blocks.
    Preferred at scale — block content never crosses a stage boundary."""

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for r in pdf.itertuples(index=False):
                _structural_rows(r, rows)
                for b in segment_text(r.doc_key, r.content or ""):
                    _rows_for_block(r, b["block_type"], b["block_id"],
                                    b["content"], rows)
            yield pd.DataFrame(rows, columns=_M_COLS)

    return ingested.mapInPandas(run, schema=MENTIONS_SCHEMA)


def filter_pronouns(mentions: DataFrame) -> DataFrame:
    """F5 (ner_agent.py:277-312): drop pronoun/noise mentions and short
    unresolved references from the ENTITY stream. Triple emission (st4)
    uses the unfiltered stream so reference-like endpoints survive into
    need_coref."""
    return mentions.filter(
        (~F.lower(F.col("text")).isin(list(PRONOUNS))) & (~F.col("is_reference"))
    )
