"""st2 unit tests: detector rules, pronoun/reference filtering."""

import re

import pytest
from hypothesis import given, settings, strategies as st

import kernel_spec
from legal_knowledge_graph_spark.operators import mentions as mn
from legal_knowledge_graph_spark.operators.mentions import detect_mentions

# Inputs where a candidate-then-confirm scan would first differ from its
# spec form: long blank runs, identifiers glued to digits, dots and
# blanks before "(", "(" at a block or line start, license terms glued to
# "-" or \w, dates touching digits or "-" or the block bounds, candidate
# heads inside words, keywords at position 0, and the case folds of the
# IGNORECASE patterns (dotted/dotless i, Kelvin sign, long s).
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
    "(a) b(c)\n(d)\n  (e) 9x( 12( ._a.b( ..( a1.2( 1_( .( x.\n(y)\n",
    "f\u3000(x) g\xa0\u2003(y) h\u2028(z) i\x0b\x0c(w) j\u205f\u3000 (v)\n",
    "2024-01-15 starts and ends 2024-01-16",
    "submit mitigate theme newline isclose conversion 1.0 subversion 2.0 "
    "prerequires version >= 1.0 gplx ascl mozzarella apachee\n",
    "İSC ıSC BſD-3-Clause verſion 1.0 versİon 2.0 versıon 3.0 "
    "requıres version >= 4.0 requireſ verſion >= 5.0 \u212a\n",
    "class A:\n  def m(s): pass\n",
    "def f(x): return g(x)\n",
    "import os\nfrom a.b import c\n",
    "requires version >= 1.0 then version 2.0",
    "version 1.2",
    "MIT",
    "\n\n   import x\n\n\n  from y import z\n",
    "\nimport a as b\nclass B(C):\n    def m(self): d()\n",
    "import helper from 'axios';\n  import {a, b}\nfrom \"x\"\nimport * as y from 'z'\n",
    'import "fmt"\nimport (\n    "strings",\n\t"os/exec"\n)\n  import "a/b"\n',
]


def _by_type(ms, t):
    return [m for m in ms if m["entity_type"] == t]


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


# block types x langs that reach every branch of the kernel: the code
# walk, metadata only, go import lines, the javascript module patterns
_KINDS = (("FUNCTION", "python"), ("COMMENT", "python"), ("IMPORTS", "go"),
          ("CLASS", "javascript"))


def _assert_kernel_matches_spec(content, kinds=_KINDS):
    for bt, lang in kinds:
        got = detect_mentions(bt, lang, content)
        want = kernel_spec.mentions(bt, lang, content)
        assert sorted(map(kernel_spec.mention_key, got)) == \
            sorted(map(kernel_spec.mention_key, want)), (bt, lang, content)


def test_vectorized_scan_matches_per_line_spec():
    """The whole-block scans must reproduce the per-line reference
    semantics exactly (tests/kernel_spec.py): matches are line-confined,
    version precedence is per-line (requires > __version__ > word-form,
    license lines suppress word-form), and the code walk replays the
    cls/encl state machine. The reference scans with the spec patterns,
    the kernel with its candidate-then-confirm scans."""
    from legal_knowledge_graph_spark.corpus import generate_corpus
    from legal_knowledge_graph_spark.operators.segment import segment_text

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
    for content in fixtures:
        _assert_kernel_matches_spec(content)


# pieces of the inputs each scan's candidate rule reasons about
_TOKENS = [
    "(", ")", " ", "\t", "\n", "\u3000", "\xa0", "a", "Z", "_", ".", "1",
    "-", ":", "#", "=", ">=", "'", "\"", "{", "\u0130", "\u0131", "\u017f",
    "\u212a", "x(", "def ", "class ", "import ", "from ", "function ",
    "    ", "extends ", "version ", "VERSION ", "requires ", "MIT", "mit",
    "Apache-2.0", "BSD", "License", "the ", "2024-01-15", "2.0", "v1.2",
    "Copyright ", "@author ", "__version__ = '1.0'", "updated ",
]


@given(st.lists(st.sampled_from(_TOKENS), max_size=40).map("".join))
@settings(max_examples=300, deadline=None)
def test_kernel_matches_spec_on_random_text(content):
    _assert_kernel_matches_spec(content)


def _stdlib_slice(cap_chars=5_000_000):
    """The installed stdlib's .py files without site-packages or test
    directories, sorted by path, taken in order until `cap_chars`."""
    import os
    import sysconfig

    root = sysconfig.get_paths()["stdlib"]
    skip = {"site-packages", "dist-packages", "test", "tests", "idle_test"}
    paths = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in skip]
        paths += [os.path.relpath(os.path.join(d, f), root)
                  for f in files if f.endswith(".py")]
    out, total = [], 0
    for rel in sorted(paths):
        with open(os.path.join(root, rel), encoding="utf-8",
                  errors="replace") as fh:
            content = fh.read()
        out.append((rel, content))
        total += len(content)
        if total >= cap_chars:
            break
    return out


def test_stdlib_slice_matches_per_line_spec():
    """Real code the generator never wrote: segmentation and mentions of
    a sorted, size-capped slice of the installed stdlib equal the per-line
    reference, row for row (the slice varies with the host's Python, so
    rows are compared, never counts)."""
    from legal_knowledge_graph_spark.operators.segment import segment_text

    files = _stdlib_slice()
    assert files
    for rel, content in files:
        blocks = segment_text(rel, content)
        assert blocks == kernel_spec.segment(rel, content), rel
        for b in blocks:
            _assert_kernel_matches_spec(
                b["content"], kinds=((b["block_type"], "python"),))


def _twin(pat):
    """The whole-content twin of a per-line spec pattern: every `\\s`
    narrowed to horizontal whitespace, ^ and $ at line bounds."""
    return re.compile(pat.pattern.replace(r"\s", mn._HS),
                      pat.flags | re.MULTILINE)


def _starts(ms):
    return [(m.start(), m) for m in ms]


def _low(t):
    return t.translate(mn._FOLD)


def _lines_of(led):
    return lambda t: list(mn._scan(led, t))


_PY, _JS, _GO = (mn.MODULE_PATTERNS[k] for k in ("python", "javascript", "go"))
_PYS, _JSS, _GOS = (mn.MODULE_SCANS[k] for k in ("python", "javascript", "go"))

# (spec form, hot scan as (match start, match) pairs) of every scan the
# kernel runs in a candidate-then-confirm form
SPEC_PAIRS = {
    "LICENSE": (mn.LICENSE_RE, lambda t: _starts(mn._licenses(t, _low(t)))),
    "DATE": (mn.DATE_RE, lambda t: _starts(mn._dates(t))),
    "VER_WORD": (_twin(mn.VER_WORD_RE),
                 lambda t: _starts(mn._version_words(t, _low(t)))),
    "VER_REQUIRES": (_twin(mn.VER_REQUIRES_RE),
                     lambda t: _starts(mn._requires(t, _low(t)))),
    "CALL": (_twin(mn.CALL_RE), lambda t: _starts(mn._calls(t))),
    "CLASS": (_twin(mn.CLASS_RE), _lines_of(mn.CLASS_LINES)),
    "DEF": (_twin(mn.DEF_RE), _lines_of(mn.DEF_LINES)),
    "METHOD": (_twin(mn.METHOD_RE), _lines_of(mn.METHOD_LINES)),
    "GO_IMPORT_LINE": (_twin(mn.GO_IMPORT_LINE_RE),
                       _lines_of(mn.GO_IMPORT_LINES)),
    "MODULE_PY_IMPORT": (_PY[0], _lines_of(_PYS[0])),
    "MODULE_PY_FROM": (_PY[1], _lines_of(_PYS[1])),
    "MODULE_JS_IMPORT": (_JS[1], _lines_of(_JSS[1])),
    "MODULE_GO_IMPORT": (_GO[0], _lines_of(_GOS[0])),
}


@pytest.mark.parametrize("name", sorted(SPEC_PAIRS))
def test_hot_patterns_match_spec_forms(name):
    """Every match (start, end, group spans and groups) of a hot scan
    equals its spec form's finditer, on large corpus files and on the
    adversarial fixtures."""
    from legal_knowledge_graph_spark.corpus import generate_corpus

    spec, hot = SPEC_PAIRS[name]
    texts = [r[4] for r in generate_corpus(4, 7, 32)[0]] + ADVERSARIAL

    def found(pairs):
        return [(s, m.end(), m.regs[1:], m.groups()) for s, m in pairs]

    want = found((m.start(), m) for t in texts for m in spec.finditer(t))
    assert want, name  # the inputs exercise the pattern
    assert found(p for t in texts for p in hot(t)) == want


def _all_chars() -> str:
    return "".join(map(chr, (*range(0xD800), *range(0xE000, 0x110000))))


def test_fold_table_is_every_ignorecase_fold_onto_a_to_z():
    """_FOLD maps one character to one, and exactly the code points
    IGNORECASE matches to [a-z] (besides a-z itself) onto the letter they
    match, so a head's candidates in the folded block are a superset of
    where the IGNORECASE pattern can start."""
    import string

    hits = set(re.findall("[a-z]", _all_chars(), re.IGNORECASE))
    assert {chr(k) for k in mn._FOLD} | set(string.ascii_lowercase) == hits
    for c in hits:
        f = c.translate(mn._FOLD)
        assert f in string.ascii_lowercase and re.fullmatch(f, c, re.I), c


def test_license_guard_accepts_every_case_fold():
    """Each license term, with each character of its head (the first
    three, which the scan finds in the folded block) replaced by every
    code point IGNORECASE folds onto it (e.g. dotless i, long s), is found
    by the kernel's license scan exactly as by the spec."""
    chars = _all_chars()
    folds: dict[str, list[str]] = {}
    probes = []
    for term in mn._license_terms:
        for k in range(3):
            ch = term[k]
            if ch not in folds:
                folds[ch] = re.findall(re.escape(ch), chars, re.IGNORECASE)
            assert ch in folds[ch]
            probes += [f"{term[:k]}{c}{term[k + 1:]} and "
                       f"({term[:k]}{c}{term[k + 1:]})" for c in folds[ch]]
    assert any(not p.isascii() for p in probes)  # folds exist
    for p in probes:
        want = [m.span() for m in mn.LICENSE_RE.finditer(p)]
        assert [m.span() for m in mn._licenses(p, _low(p))] == want, p
        assert want, p


def test_possessive_runs_never_give_back_a_match():
    """The premise of the CALL scan, read backwards from each "(": no code
    point is both an identifier character and a horizontal blank or "(",
    so the blanks and the [\\w.] run before a "(" are found exactly, and
    a walk back from one "(" never passes the previous one."""
    assert not re.findall(r"(?=[\w.])[^\S\n]|(?=[\w.])\(", _all_chars())
    assert not re.findall(r"(?=[^\S\n])\(", _all_chars())
