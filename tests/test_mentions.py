"""st2 unit tests: detector rules, pronoun/reference filtering."""

import re

import pytest

from legal_knowledge_graph_spark.operators import mentions as mn
from legal_knowledge_graph_spark.operators.mentions import detect_mentions

# Inputs where a guarded or possessive rewrite of a pattern would first
# differ from its spec form: long blank runs, identifiers glued to
# digits, dots and blanks before "(", license terms glued to "-" or \w,
# dates touching digits or "-", and the case folds of the IGNORECASE
# patterns (dotted/dotless i, Kelvin sign, long s).
ADVERSARIAL = [
    "1abc( .foo( a.b  ( a.b\t\t( ab.( x.y.z   (1)\nfoo\n(bar)\n",
    "call" + " " * 400 + "x" + "\t" * 300 + "(\n" + "a" * 2000 + "\n",
    "a.b.c" * 300 + "\n" + "." * 500 + "(\n",
    "ſelf.run() Kelvin() İnit() ıdent() é.ü(x) _x(y) __z__ (w)\n",
    "-MIT MIT- xMIT MITx _MIT MIT_ 2MIT MIT2 (MIT) MIT, mit-license\n",
    "Apache-2.0-only Apache-2.0. GPLv3x gpl-3.0-or-later- BSD-3-Clause\n",
    "the mit license; THE MIT LICENSE! Modified BSD License/ASL 2.0\n",
    "ıSC License İSC Licence ISC Iſc iſc BſD-3-Clause GPL-3.0 MPL 2.0\n",
    "Apache License, Version 2.0 and version 3.1 \u212aelvin\n",
    "2024-01-15 12024-01-15 2024-01-151 -2024-01-15 2024-01-15- "
    "x2024-01-15 2024-01-15x 2024-1-15 \u0662\u0660\u0662\u0664-"
    "\u0660\u0661-\u0661\u0665\n",
    "Last modified 2023-01-02\n2023-01-03-2023-01-04 2023-01-05\n",
    "Version 1.2 VERSION v2.0.1 version  1 xversion 1.0 versions 1.0\n"
    "version\n1.0 version 1.2.x \u1d5bersion 1.0 version 4.5_6\n",
    " " * 300 + "def f(): g()\n" + "\t" * 300 + "# Copyright 2020 X\n",
]


def _by_type(ms, t):
    return [m for m in ms if m["entity_type"] == t]


def _lines(content):
    """(line, offset) pairs: the per-line walk the spec scans."""
    off = 0
    for line in content.split("\n"):
        yield line, off
        off += len(line) + 1


def test_license_author_date():
    ms = detect_mentions(
        "LICENSE", "python",
        "# Copyright (c) 2024 John A. Smith\n# Licensed under the Apache-2.0.")
    lic = _by_type(ms, "License")
    assert [m["text"] for m in lic] == ["Apache-2.0"]
    assert [m["text"] for m in _by_type(ms, "Author")] == ["John A. Smith"]
    dates = _by_type(ms, "Date")
    assert dates[0]["text"] == "2024"
    assert dates[0]["attributes"]["ctx"] == "copyright"


def test_license_version_not_file_version():
    ms = detect_mentions(
        "LICENSE", "python", "# Licensed under the Apache License, Version 2.0.")
    assert not _by_type(ms, "Version")


def test_modules_by_lang():
    py = detect_mentions("IMPORTS", "python",
                         "import numpy as np\nfrom os import path")
    assert sorted(m["text"] for m in _by_type(py, "Module")) == ["numpy", "os"]
    js = detect_mentions(
        "IMPORTS", "javascript",
        "const m = require('lodash');\nimport helper from 'axios';")
    assert sorted(m["text"] for m in _by_type(js, "Module")) == ["axios", "lodash"]
    # python import pattern must NOT fire on js default imports
    assert "helper" not in [m["text"] for m in _by_type(js, "Module")]
    go = detect_mentions("IMPORTS", "go", 'import (\n    "fmt"\n    "strings"\n)')
    assert sorted(m["text"] for m in _by_type(go, "Module")) == ["fmt", "strings"]


def test_defs_methods_calls():
    ms = detect_mentions(
        "CLASS", "python",
        "class FastLoader(AbstractLoader):\n"
        "    def load_data(self, x):\n"
        "        self.cache = {}\n"
        "        return parse_config(x)\n")
    cls = _by_type(ms, "Class")
    assert {(m["text"], m["attributes"].get("role")) for m in cls} == {
        ("FastLoader", "def"), ("AbstractLoader", "base")}
    fns = _by_type(ms, "Function")
    roles = {(m["text"], m["attributes"].get("role")) for m in fns}
    assert ("load_data", "method") in roles
    assert ("parse_config", "call") in roles
    call = [m for m in fns if m["attributes"].get("role") == "call"][0]
    assert call["attributes"]["encl"] == "load_data"
    method = [m for m in fns if m["attributes"].get("role") == "method"][0]
    assert method["attributes"]["cls"] == "FastLoader"


def test_pronouns_never_emitted_and_short_refs_flagged():
    ms = detect_mentions(
        "FUNCTION", "python",
        "def caller(x):\n    a = it(x)\n    b = self.helper(x)\n    return pc(x)\n")
    fns = _by_type(ms, "Function")
    texts = {m["text"] for m in fns}
    assert "it" not in texts            # pronoun: dropped entirely
    assert "self.helper" not in texts   # pronoun-qualified: dropped
    pc = [m for m in fns if m["text"] == "pc"][0]
    assert pc["is_reference"] is True   # short ref: kept, flagged


def test_position_validity():
    content = "def parse_config(data):\n    return fetch_data(data)\n"
    ms = detect_mentions("FUNCTION", "python", content)
    for m in ms:
        assert content[m["start_pos"]: m["end_pos"]] == m["text"]


def test_no_calls_outside_code_blocks():
    ms = detect_mentions("LICENSE", "python", "# Copyright (c) 2024 Acme Corp.")
    assert not [m for m in ms if m["attributes"].get("role") == "call"]


def test_version_contexts():
    ms = detect_mentions(
        "CONFIG", "python",
        '__version__ = "1.2.3"\n# requires version >= 3.8\n# version 2.0.0 shipped')
    vs = {(m["text"], m["attributes"]["ctx"]) for m in _by_type(ms, "Version")}
    assert ("1.2.3", "has") in vs
    assert ("3.8", "requires") in vs
    assert ("2.0.0", "has") in vs


def test_date_modified_ctx():
    ms = detect_mentions("COMMENT", "python", "# Last modified: 2024-01-15")
    d = _by_type(ms, "Date")[0]
    assert d["attributes"]["ctx"] == "modified"


def test_vectorized_scan_matches_per_line_spec():
    """The whole-content MULTILINE scans (one C-level pass per pattern)
    must reproduce the per-line reference semantics exactly: matches are
    line-confined (horizontal-whitespace-only patterns), version
    precedence is per-line (requires > __version__ > word-form, license
    lines suppress word-form), and the code walk replays the cls/encl
    state machine. This reference implementation IS the spec the
    vectorized path is pinned to; it scans with the spec patterns, the
    kernel with their guarded and possessive hot-path forms."""
    from legal_knowledge_graph_spark.corpus import generate_corpus
    from legal_knowledge_graph_spark.operators.mentions import (
        AT_AUTHOR_RE, CALL_KEYWORDS, CALL_RE, CLASS_RE, COPYRIGHT_RE,
        DATE_RE, DEF_RE, LICENSE_RE, METHOD_RE, VER_DUNDER_RE,
        VER_REQUIRES_RE, VER_WORD_RE, _mention,
    )
    from legal_knowledge_graph_spark.operators.segment import segment_text
    from legal_knowledge_graph_spark.schema import PRONOUNS

    def spec(block_type, content):
        out = []
        for line, off in _lines(content):
            # no license term spans a newline, and the lookarounds treat
            # a line boundary like a string boundary: per-line == whole
            for lm in LICENSE_RE.finditer(line):
                out.append(_mention("License", lm.group(0), off + lm.start(),
                                    off + lm.end(), 0.9,
                                    evidence=line.strip()[:200]))
            cm = COPYRIGHT_RE.search(line)
            if cm:
                out.append(_mention("Date", cm.group(1), off + cm.start(1),
                                    off + cm.end(1), 0.9, ctx="copyright",
                                    evidence=line.strip()[:200]))
                author = cm.group(2).rstrip(",;")
                if author and len(author) <= 60 and not author[0].isdigit():
                    out.append(_mention(
                        "Author", author, off + cm.start(2),
                        off + cm.start(2) + len(author), 0.9,
                        evidence=line.strip()[:200]))
            am = AT_AUTHOR_RE.search(line)
            if am:
                out.append(_mention("Author", am.group(1), off + am.start(1),
                                    off + am.end(1), 0.9,
                                    evidence=line.strip()[:200]))
            low = line.lower()
            ctx = ("modified"
                   if ("last modified" in low or "updated" in low) else None)
            for dm in DATE_RE.finditer(line):
                out.append(_mention("Date", dm.group(1), off + dm.start(1),
                                    off + dm.end(1), 0.9, ctx=ctx,
                                    evidence=line.strip()[:200]))
            rm = VER_REQUIRES_RE.search(line)
            if rm:
                out.append(_mention("Version", rm.group(1), off + rm.start(1),
                                    off + rm.end(1), 0.9, ctx="requires",
                                    evidence=line.strip()[:200]))
            else:
                vm = VER_DUNDER_RE.search(line) or (
                    None if LICENSE_RE.search(line)
                    else VER_WORD_RE.search(line))
                if vm:
                    out.append(_mention(
                        "Version", vm.group(1), off + vm.start(1),
                        off + vm.end(1), 0.9, ctx="has",
                        evidence=line.strip()[:200]))
        if block_type in {"CLASS", "FUNCTION", "TEST"}:
            encl = cls = None
            for line, off in _lines(content):
                decl_span = None
                cm = CLASS_RE.match(line)
                dm = DEF_RE.match(line)
                mm = METHOD_RE.match(line) if cls is not None else None
                if cm:
                    name = cm.group(1) or cm.group(3)
                    base = cm.group(2) or cm.group(4)
                    gi = 1 if cm.group(1) else 3
                    cls, encl = name, None
                    out.append(_mention("Class", name, off + cm.start(gi),
                                        off + cm.end(gi), 0.95, role="def",
                                        evidence=line.strip()[:200]))
                    if base:
                        bi = 2 if cm.group(2) else 4
                        out.append(_mention("Class", base, off + cm.start(bi),
                                            off + cm.end(bi), 0.95,
                                            role="base", cls=name))
                    decl_span = (cm.start(gi), cm.end(gi))
                elif dm:
                    name = dm.group(1) or dm.group(2)
                    gi = 1 if dm.group(1) else 2
                    encl, cls = name, None
                    out.append(_mention("Function", name, off + dm.start(gi),
                                        off + dm.end(gi), 0.95, role="def",
                                        evidence=line.strip()[:200]))
                    decl_span = (dm.start(gi), dm.end(gi))
                elif mm:
                    name = mm.group(1)
                    encl = name
                    out.append(_mention("Function", name, off + mm.start(1),
                                        off + mm.end(1), 0.95, role="method",
                                        cls=cls, evidence=line.strip()[:200]))
                    decl_span = (mm.start(1), mm.end(1))
                for m in CALL_RE.finditer(line):
                    name = m.group(1)
                    if decl_span and m.start(1) == decl_span[0]:
                        continue
                    if name.lower() in CALL_KEYWORDS:
                        continue
                    head = name.split(".", 1)[0].lower()
                    if head in PRONOUNS or name.lower() in PRONOUNS:
                        continue
                    out.append(_mention(
                        "Function", name, off + m.start(1), off + m.end(1),
                        0.85, is_ref=len(name) <= 2, role="call", encl=encl,
                        evidence=line.strip()[:200]))
        return out

    def key(m):
        return (m["entity_type"], m["text"], m["start_pos"], m["end_pos"],
                m["confidence"], m["is_reference"], m["evidence"],
                tuple(sorted((m["attributes"] or {}).items())))

    fixtures = [
        "class A:\n    def m(self):\n        x(1)\n\ndef top():\n    y(2)\n"
        "    def inner():\n        z(3)\n",
        "def f(\n  a, b):\n  g()\n",
        "x = call(\n)\nfoo\n(bar)\n",
        "class B(Base):\n    pass\nclass C extends D {\n  method(1)\n}\n",
        "  def orphan(self):\n    helper()\n",
        "def dup(): dup()\n",
        "Copyright (c) 2022\nBob Jones\n",
        "@author:\nCarol\n",
        "requires\nversion >= 1.2\n",
        "requires version >= 1.2 and requires version >= 3.4\n",
        "__version__ = '1.0' __version__ = '2.0'\n",
        "Apache License, Version 2.0\n",
        "version 5.5 then version 6.6\n",
        "requires version >= 9.9 __version__ = '8.8' version 7.7\n",
        "Last modified: 2023-01-02 and 2023-01-03\nupdated 2020-05-05\n",
        "Copyright (c) 2022-2023, Acme Corp   \n",
        "class E:\n  def m1(s): m2()\n  def m2(s): m1()\n",
        "",
    ] + ADVERSARIAL
    # blocks of large (content_scale 32) corpus files
    fixtures += [b["content"] for r in generate_corpus(3, 3, 32)[0]
                 for b in segment_text("d", r[4])]
    # metadata patterns are scanned in every block type; Module patterns
    # differ by lang and are already covered by dedicated tests — pin the
    # python path here
    for content in fixtures:
        for bt in ("FUNCTION", "COMMENT"):
            got = [m for m in detect_mentions(bt, "python", content)
                   if m["attributes"].get("role") != "import"]
            want = spec(bt, content)
            assert sorted(map(key, got)) == sorted(map(key, want)), (
                bt, content)


def _twin(pat):
    """The whole-content twin of a per-line spec pattern, built as the
    twins are: every `\\s` narrowed to horizontal whitespace."""
    return re.compile(pat.pattern.replace(r"\s", mn._HS), pat.flags)


# (spec form, hot-path form) of every pattern the hot path rewrites
SPEC_PAIRS = {
    "LICENSE": (mn.LICENSE_RE, mn.LICENSE_ML),
    "DATE": (mn.DATE_RE, mn.DATE_ML),
    "VER_WORD": (_twin(mn.VER_WORD_RE), mn.VER_WORD_ML),
    "CALL": (_twin(mn.CALL_RE), mn.CALL_ML),
}


@pytest.mark.parametrize("name", sorted(SPEC_PAIRS))
def test_hot_patterns_match_spec_forms(name):
    """Every match (span and groups) of a hot-path pattern equals its spec
    form's, on large corpus files and on the adversarial fixtures."""
    from legal_knowledge_graph_spark.corpus import generate_corpus

    spec, hot = SPEC_PAIRS[name]
    texts = [r[4] for r in generate_corpus(4, 7, 32)[0]] + ADVERSARIAL

    def found(pat):
        return [(m.span(), m.groups()) for t in texts for m in pat.finditer(t)]

    want = found(spec)
    assert want, name  # the inputs exercise the pattern
    assert found(hot) == want


def _all_chars() -> str:
    return "".join(map(chr, (*range(0xD800), *range(0xE000, 0x110000))))


def test_license_guard_accepts_every_case_fold():
    """Each license term, with its first character replaced by every code
    point IGNORECASE folds onto it (e.g. dotless i, Kelvin sign), is found
    by the guarded pattern exactly as by the spec."""
    chars = _all_chars()
    probes = []
    for term in mn._license_terms:
        folds = re.findall(re.escape(term[0]), chars, re.IGNORECASE)
        assert term[0] in folds
        probes += [f"{c}{term[1:]} and ({c}{term[1:]})" for c in folds]
    assert any(not p[0].isascii() for p in probes)  # folds exist
    for p in probes:
        want = [m.span() for m in mn.LICENSE_RE.finditer(p)]
        assert [m.span() for m in mn.LICENSE_ML.finditer(p)] == want, p
        assert want, p


def test_possessive_runs_never_give_back_a_match():
    """The premise of CALL_ML's possessive runs: no code point is both an
    identifier character and a horizontal blank or "(", so giving one back
    could never let the rest of the pattern match."""
    assert not re.findall(r"(?=[\w.])[^\S\n]|(?=[\w.])\(", _all_chars())
