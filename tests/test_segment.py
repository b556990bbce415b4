"""st1 unit tests: hand-written expected blocks (mirrors the reference's
embedded structured test text, test_7_step_pipeline.py:25-65)."""

import kernel_spec
from legal_knowledge_graph_spark.operators.segment import clean_text, segment_text

SAMPLE = """# Copyright (c) 2024 John Smith
# Licensed under the MIT License.

import os
import sys

class FastLoader(AbstractLoader):
    def load_data(self, x):
        return x

def parse_config(data):
    return data

__version__ = "1.2.3"
# Last modified: 2024-01-15
"""


def test_block_types_and_order():
    blocks = segment_text("d", SAMPLE)
    types = [b["block_type"] for b in blocks]
    assert types == ["LICENSE", "IMPORTS", "CLASS", "FUNCTION", "CONFIG", "COMMENT"]
    ordinals = [b["block_ordinal"] for b in blocks]
    assert ordinals == list(range(6))


def test_adjacent_same_type_merges():
    blocks = segment_text("d", SAMPLE)
    imports = [b for b in blocks if b["block_type"] == "IMPORTS"][0]
    assert "import os" in imports["content"] and "import sys" in imports["content"]


def test_each_def_is_own_block():
    blocks = segment_text("d", "def a(x):\n    return x\n\ndef b(x):\n    return x\n")
    assert [b["block_type"] for b in blocks] == ["FUNCTION", "FUNCTION"]
    assert blocks[0]["title"].startswith("def a")
    assert blocks[1]["title"].startswith("def b")


def test_levels_and_parenting():
    blocks = segment_text("d", SAMPLE)
    cls = [b for b in blocks if b["block_type"] == "CLASS"][0]
    fn = [b for b in blocks if b["block_type"] == "FUNCTION"][0]
    assert cls["level"] == 1 and fn["level"] == 2
    # nearest preceding smaller level (parser.py:181-203 analog)
    assert fn["parent_id"] == cls["block_id"]


def test_positions_slice_back():
    blocks = segment_text("d", SAMPLE)
    text = clean_text(SAMPLE)
    for b in blocks:
        assert text[b["start_pos"]: b["end_pos"]] == b["content"]


def test_empty_and_unstructured():
    assert segment_text("d", "") == []
    assert segment_text("d", "   \n\n  ") == []
    blocks = segment_text("d", "hello world")
    assert len(blocks) == 1 and blocks[0]["block_type"] == "OTHER"


def test_clean_text_collapses_newlines():
    assert clean_text("a\n\n\n\nb") == "a\n\nb"
    # indentation preserved (it is syntax), trailing stripped
    assert clean_text("    def f():   \n") == "    def f():\n"


def test_block_ids_deterministic():
    a = segment_text("dock", SAMPLE)
    b = segment_text("dock", SAMPLE)
    assert [x["block_id"] for x in a] == [y["block_id"] for y in b]


def _section_fixture_lines():
    """Corpus lines, the lines of large (content_scale 32) files, and
    adversarial lines for the section classifier."""
    from legal_knowledge_graph_spark.corpus import generate_corpus

    files, _gt, _gn = generate_corpus(120, seed=42)
    files += generate_corpus(4, seed=3, content_scale=32)[0]
    lines = []
    for _repo, _path, _sha, _lang, content in files:
        lines.extend((content or "").split("\n"))
    lines += [
        "  Copyright 2020 X", "\tdef test_a():", "class Foo:", "DEF X()",
        "licence: MIT", "LICENSED UNDER APACHE", "#comment", "## doc",
        "x = 1", "[section]", 'key: "v"', "import os", "   ", "", "\r",
        "COPYRIGHT (C) 2024", "// copyright 2020", "const f = async (",
        'it("works")', "describe(", "using System;", "#include <x>",
        "=====", '"""doc', "def test_x():", "func TestY(", "type T struct{",
        "===== \t", "[a.b-c]  ", "x\x0b", "\x0c# c", "\x1c// c",
    ]
    # long blank runs (ASCII and Unicode) before text that is, or only
    # almost is, a comment prefix or a license keyword
    keywords = ["Copyright 1", "SPDX-License-Identifier: X", "Licensed under",
                "MIT License", "Apache Licence", "BSD License", "GPL License",
                "MPL License", "LGPL License", "License: X", "licen", "mi",
                "co", "sp", "lg", "apache", "self.x = 1", "cls()", "ſpdx-license",
                "Lİcense:", "lıcensed under", "\u212a", "-- x", "/* x", "* x"]
    for ws in (" " * 500, "\t" * 300, " \t" * 150, "\u3000\xa0\u2003" * 100,
               " ", "\t", "\u3000", "\x0b", "\u2028"):
        lines += [ws + tail for tail in keywords + [
            "x = 1", "return f(x)", "#", "# ", "#  x", "##", "//", "/*", "*",
            "--", "-", "/", "# Copyright 2020", "* license: MIT",
            "--  MIT and more License", "//" + ws + "Copyright", "/*" + ws,
            "# " + ws + "SPDX-License-Identifier: MIT", "", "copyrigh",
        ]]
    # IGNORECASE folds: dotted/dotless i, Kelvin sign, long s
    lines += ["Lİcense:", "Lıcense:", "LICENſE:", "\u212a", "# İ", "SPDX-Lıcense",
              "  ſpdx-license-identifier", "mıt x license", "copyrıght 1"]
    return lines


def test_combined_section_pattern_equals_table_scan():
    """The whole-text line classifier (one alternation, its possessive
    leading-whitespace runs, the "\\n"-led twin and its line guard) must
    type every line as a sequential first-match-wins scan of
    SECTION_PATTERNS does (the spec it is pinned to), alone and inside
    one text."""
    from legal_knowledge_graph_spark.operators.segment import _typed_lines

    lines = _section_fixture_lines()
    for ln in lines:
        assert dict(_typed_lines(ln)).get(0) == kernel_spec.line_type(ln), \
            repr(ln)
    text = "\n".join(lines)
    want = {off: kernel_spec.line_type(ln) for ln, off in kernel_spec.lines(text)}
    assert dict(_typed_lines(text)) == {k: v for k, v in want.items() if v}


def test_segment_text_equals_per_line_walk():
    """Whole-file segmentation equals the per-line walk (clean, type each
    line with the spec table, merge, parent) on corpus files, large
    files, the classifier's fixture lines and edge layouts."""
    from legal_knowledge_graph_spark.corpus import generate_corpus

    files = generate_corpus(120, seed=42)[0]
    files += generate_corpus(4, seed=3, content_scale=32)[0]
    texts = [r[4] or "" for r in files]
    lines = _section_fixture_lines()[-400:]
    texts += ["\n".join(lines), "\n".join(reversed(lines))]
    texts += [
        "", "\n", " \n\t\n", "x", "\nclass A:\n    pass", "import a\nimport b",
        "\n\n\n\nimport a\n\n\n\n\nimport b\n\n\n", "# c\n# d\nx\n# e",
        "class A:\n  def f(): pass\ndef g(): pass\n    def h(): pass\n",
        "hello  \t\n\n\n\nworld \u3000\n", "def a():\n\n\n\ndef b():",
        "x \n" * 5, "\u2028import a\n\x0cimport b",
    ]
    for t in texts:
        assert segment_text("d", t) == kernel_spec.segment("d", t), repr(t[:200])
