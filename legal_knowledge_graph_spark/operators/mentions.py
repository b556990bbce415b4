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
from .segment import segment_text

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


# The patterns above are the spec; the hot path scans with forms derived
# from them that find exactly the same matches in linear time. Rules
# (the possessive `*+` needs Python >= 3.11):
# - a first-character lookahead guard, compiled inside the pattern's own
#   flags so it case-folds exactly as the pattern's first literal does
#   (never a str.lower() prefilter: its folding differs from IGNORECASE).
#   It lets the scan reject a start position with one class test instead
#   of a lookbehind plus a 30-way alternation;
# - a run is made possessive only where the token after it can never
#   match a character the run would give back (whitespace before a
#   non-space token, [\w.] before whitespace or "("), so backtracking into
#   it could never produce a match.
# Equivalence is pinned in tests/test_mentions.py, old against new.
def _guarded(pat: re.Pattern, first: str) -> re.Pattern:
    """`pat` behind a lookahead for the class its matches start with."""
    return re.compile(f"(?={first})" + pat.pattern, pat.flags)


LICENSE_ML = _guarded(LICENSE_RE, "[{}]".format(
    "".join(sorted({re.escape(t[0]) for t in _license_terms}))))
DATE_ML = _guarded(DATE_RE, r"\d")

# Whole-content MULTILINE twins of the metadata patterns above. The hot
# path scans each block ONCE per pattern (C-level) instead of once per
# line per pattern — profiling showed the per-line loop at ~5 regex
# invocations x ~1k lines/file was the top Python cost of the dominant
# extraction stage. Every `\s` is narrowed to horizontal whitespace
# ([^\S\n]) so a match can never absorb a newline and couple two lines —
# semantics stay exactly line-local, asserted equal to the per-line
# originals in tests/test_mentions.py. VER_WORD_ML is guarded and CALL_ML
# possessive by the rules above.
_HS = r"[^\S\n]"
COPYRIGHT_ML = re.compile(
    r"Copyright" + _HS + r"*(?:\(c\)|©)?" + _HS + r"*(\d{4})"
    r"(?:" + _HS + r"*[-–]" + _HS + r"*\d{4})?,?" + _HS + r"+([^\n]+?)"
    + _HS + r"*$", re.MULTILINE)
AT_AUTHOR_ML = re.compile(
    r"@author:?" + _HS + r"+(.+?)" + _HS + r"*$", re.MULTILINE)
VER_REQUIRES_ML = re.compile(
    r"requires" + _HS + r"+version" + _HS + r"*>=" + _HS
    + r"*v?(\d+(?:\.\d+)+)", re.IGNORECASE)
VER_DUNDER_ML = re.compile(
    r"__version__" + _HS + r"*=" + _HS + r"*[\"'](\d+(?:\.\d+)+)[\"']")
VER_WORD_ML = _guarded(re.compile(
    r"\bversion" + _HS + r"+v?(\d+(?:\.\d+)+)\b", re.IGNORECASE), "v")
GO_IMPORT_ML = re.compile(r"^" + _HS + r"*\"([\w/.-]+)\",?" + _HS + r"*$",
                          re.MULTILINE)
CLASS_ML = re.compile(
    r"^class" + _HS + r"+([A-Za-z_]\w*)" + _HS
    + r"*(?:\(" + _HS + r"*([A-Za-z_][\w.]*)" + _HS + r"*\))?" + _HS + r"*:|"
    r"^class" + _HS + r"+([A-Za-z_]\w*)"
    r"(?:" + _HS + r"+extends" + _HS + r"+([A-Za-z_][\w.]*))?"
    + _HS + r"*\{", re.MULTILINE)
DEF_ML = re.compile(
    r"^(?:def|func)" + _HS + r"+([A-Za-z_]\w*)" + _HS + r"*\(|"
    r"^(?:export" + _HS + r"+)?(?:async" + _HS + r"+)?function"
    + _HS + r"+([A-Za-z_]\w*)" + _HS + r"*\(", re.MULTILINE)
METHOD_ML = re.compile(
    r"^" + _HS + r"+def" + _HS + r"+([A-Za-z_]\w*)" + _HS + r"*\(",
    re.MULTILINE)
CALL_ML = re.compile(r"([A-Za-z_][\w.]*+)" + _HS + r"*+\(")

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

    # --- licenses / authors / dates / versions: scanned in any block ----
    for m in LICENSE_ML.finditer(content):
        line = content[content.rfind("\n", 0, m.start()) + 1:]
        line = line[: line.find("\n")] if "\n" in line else line
        out.append(_mention("License", m.group(0), m.start(), m.end(), 0.9,
                            evidence=line.strip()[:200]))
    # one C-level scan per pattern over the whole block; matches are
    # line-confined by construction (see the _ML pattern definitions), so
    # each is exactly what the former per-line loop produced. _line()
    # reconstructs the enclosing line only per MATCH (rare), not per line.
    def _line(pos: int) -> str:
        ls = content.rfind("\n", 0, pos) + 1
        le = content.find("\n", pos)
        return content[ls:] if le == -1 else content[ls:le]

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
    for dm in DATE_ML.finditer(content):
        line = _line(dm.start())
        low = line.lower()
        ctx = "modified" if ("last modified" in low or "updated" in low) else None
        out.append(_mention("Date", dm.group(1), dm.start(1), dm.end(1), 0.9,
                            ctx=ctx, evidence=line.strip()[:200]))
    # versions keep the original PER-LINE precedence: first requires-match
    # per line wins the line; else first __version__; else first word-form
    # unless the line names a license ("Apache License, Version 2.0" is not
    # a file version). finditer is left-to-right, so first-seen per
    # line-start == the per-line search()'s leftmost match.
    ver_lines: dict[int, object] = {}
    for rm in VER_REQUIRES_ML.finditer(content):
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
    for vm in VER_WORD_ML.finditer(content):
        ls = content.rfind("\n", 0, vm.start()) + 1
        if ls in ver_lines:
            continue
        ver_lines[ls] = None  # line handled either way (emit or suppress)
        line = _line(vm.start())
        if not LICENSE_ML.search(line):
            out.append(_mention("Version", vm.group(1), vm.start(1),
                                vm.end(1), 0.9, ctx="has",
                                evidence=line.strip()[:200]))

    # --- modules --------------------------------------------------------
    for pat in MODULE_PATTERNS.get(lang, MODULE_PATTERNS["python"]):
        for m in pat.finditer(content):
            out.append(_mention("Module", m.group(1), m.start(1), m.end(1),
                                0.95, role="import"))
    if lang == "go" and block_type == "IMPORTS":
        for gm in GO_IMPORT_ML.finditer(content):
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
        for cm in CLASS_ML.finditer(content):
            events.append((cm.start(), 0, "class", cm))
        for dm in DEF_ML.finditer(content):
            events.append((dm.start(), 0, "def", dm))
        for mm in METHOD_ML.finditer(content):
            events.append((mm.start(), 0, "method", mm))
        for m in CALL_ML.finditer(content):
            events.append((m.start(1), 1, "call", m))
        events.sort(key=lambda e: (e[0], e[1]))
        encl: str | None = None
        cls: str | None = None
        decl_starts: set[int] = set()
        for _pos, _, kind, m in events:
            if kind == "class":
                name = m.group(1) or m.group(3)
                base = m.group(2) or m.group(4)
                gi = 1 if m.group(1) else 3
                cls, encl = name, None
                out.append(_mention("Class", name, m.start(gi), m.end(gi),
                                    0.95, role="def",
                                    evidence=_line(m.start()).strip()[:200]))
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
                                    evidence=_line(m.start()).strip()[:200]))
                decl_starts.add(m.start(gi))
            elif kind == "method":
                if cls is None:
                    continue  # indented def outside a class: not a decl
                name = m.group(1)
                encl = name
                out.append(_mention("Function", name, m.start(1), m.end(1),
                                    0.95, role="method", cls=cls,
                                    evidence=_line(m.start()).strip()[:200]))
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
