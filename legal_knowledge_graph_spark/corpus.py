"""Deterministic synthetic source-code corpus + golden KG outputs.

Implements FIXTURES.md: a `files(repo, path, commit, lang, content)` table
(exactly the BASELINE.json input_hint shape) generated from a single seed,
with every extractable structure planted on purpose so golden nodes and
golden (subject, predicate, object) triples are computable at generation
time — the P/R ≥ 0.95 gate compares the pipeline's output to these.

Mirrors the reference's fixture strategy (embedded structured test text,
/root/reference/test_7_step_pipeline.py:25-65) scaled out: Zipf-ish repo
sizes with ONE mega-repo (~100x median, the skew fixture), planted alias
variants (dictionary exercise), pronoun-like noise (filter exercise),
short-alias callees (coref exercise), and edge rows (empty / single-line /
unstructured prose -> OTHER fallback).

Determinism: every random draw comes from md5(seed, salt) — never Python's
process-salted hash() — so regeneration is byte-identical across runs,
processes, and executors. The same `file_spec(i)` is used by the
driver-side generator (tests) and the distributed generator (bench).
"""

from __future__ import annotations

import bisect
import hashlib
import random
from dataclasses import dataclass, field

from .functions.tokenize import (
    SIMILARITY_THRESHOLD, TOKEN_DF_CAP, pair_score, token_set,
)
from .schema import SIMILARITY_TYPES, dictionary_rows

# ---------------------------------------------------------------------------
# Pools. Within each entity type, no planted name's token set may be a
# subset of another's unless the merge is intended (asserted in tests) —
# token-subset containment merges clusters (tokenize.py spec).
# ---------------------------------------------------------------------------
_VERBS = ["parse", "load", "build", "merge", "fetch", "write", "scan", "emit", "check", "trace"]
_NOUNS = ["config", "data", "index", "graph", "record", "schema", "buffer", "token", "batch", "report"]
FUNCTION_POOL = [f"{v}_{n}" for v in _VERBS for n in _NOUNS]  # 100, all 2-token

_CLS_ADJ = ["Fast", "Lazy", "Safe", "Core", "Meta", "Dual", "Flat", "Prime"]
_CLS_NOUN = ["Loader", "Handler", "Manager", "Router", "Encoder", "Planner", "Worker", "Mapper"]
CLASS_POOL = [f"{a}{n}" for a in _CLS_ADJ for n in _CLS_NOUN]  # 64
BASE_POOL = [f"Abstract{n}" for n in _CLS_NOUN]  # 8; {abstract,noun} never subsets {adj,noun}

PLAIN_MODULES = [
    "os", "sys", "json", "math", "logging", "typing", "itertools", "functools",
    "datetime", "pathlib", "subprocess", "hashlib", "collections", "asyncio",
]
# dict-covered module spellings (schema.DICTIONARY): alias -> canonical
DICT_MODULE_SPELLINGS = ["numpy", "numpy.core", "numpy.linalg", "pandas", "requests"]
JS_MODULES = ["express", "lodash", "axios", "moment"]
GO_MODULES = ["fmt", "strings", "errors", "sort", "bufio"]

# author groups: (spellings...) — dict groups resolve via schema.DICTIONARY,
# non-dict groups merge via token containment and take the longest spelling.
AUTHOR_SPELLINGS = [
    # dictionary-covered
    "John Smith", "J. Smith", "John A. Smith",
    "Jane Doe", "J. Doe", "Jane B. Doe",
    "Wei Zhang", "Zhang Wei", "W. Zhang",
    "Acme Corporation", "Acme Corp.", "Acme Inc.",
    "Globex Industries", "Globex Industries LLC",
    # non-dict, containment-merged variants
    "Alice Johnson", "Dr. Alice Johnson",
    "Bob Lee", "Bob Lee Jr.",
    "Carol White", "Carol White PhD",
]

LICENSE_SPELLINGS = [
    "MIT License", "MIT", "The MIT License", "MIT Licence",
    "Apache License 2.0", "Apache-2.0", "Apache License, Version 2.0", "Apache 2.0",
    "GNU General Public License v3.0", "GPL-3.0", "GPLv3",
    "BSD 3-Clause License", "BSD-3-Clause", "New BSD License",
    "Mozilla Public License 2.0", "MPL-2.0",
    "ISC License", "ISC",
]

DATE_POOL = [f"{y}-{m:02d}-{d:02d}" for y in (2019, 2021, 2023, 2024)
             for m in (1, 3, 6, 11) for d in (2, 15, 28)]
YEAR_POOL = ["2018", "2020", "2022", "2024"]
VERSION_POOL = ["0.9.1", "1.0.0", "1.2.3", "2.0.0", "2.4.1", "3.1.4", "4.0.2"]
REQ_VERSION_POOL = ["3.8", "3.9", "3.10", "1.21", "2.0"]

MEGA_REPO = "megacorp/monorepo"

# predicate names used in golden triples (must equal schema.RELATION_TYPES keys)
P = dict(
    in_repo="file_in_repo", imports="file_imports_module",
    deffn="file_defines_function", defcls="file_defines_class",
    method="function_in_class", extends="class_extends_class",
    calls="function_calls_function", haslic="file_has_license",
    liccov="license_covers_repo", author="file_authored_by",
    contrib="author_contributed_to", cpdate="file_copyright_date",
    moddate="file_modified_date", hasver="file_has_version",
    reqver="file_requires_version",
)


def _md5int(*parts: object) -> int:
    h = hashlib.md5(":".join(str(p) for p in parts).encode()).hexdigest()
    return int(h, 16)


def _rng(seed: int, *salt: object) -> random.Random:
    return random.Random(_md5int(seed, *salt))


def _commit(seed: int, repo: str) -> str:
    a = hashlib.md5(f"{seed}:commit:{repo}".encode()).hexdigest()
    b = hashlib.md5(f"{seed}:commit2:{repo}".encode()).hexdigest()
    return (a + b)[:40]


# ---------------------------------------------------------------------------
# Repo layout: repo 0 is the mega-repo; the rest draw 5–15 files each.
# ---------------------------------------------------------------------------
def repo_layout(n_files: int, seed: int,
                mega_files: int | None = None) -> tuple[list[str], list[int]]:
    """Returns (repo_names, cumulative_end_index) covering n_files.

    `mega_files` overrides the mega-repo's size (default: n_files//5
    capped at 1000 — already ~100x the 5-15-file median). The scaling
    harness's skew rep passes a third of the corpus here to measure the
    salted-repartition/salted-agg story on an extreme hot key
    (VERDICT r4 #5)."""
    mega = mega_files if mega_files else max(20, min(1000, n_files // 5))
    rng = _rng(seed, "repos")
    names = [MEGA_REPO]
    bounds = [min(mega, n_files)]
    j = 0
    while bounds[-1] < n_files:
        size = rng.randint(5, 15)
        names.append(f"org{j % 7}/repo{j}")
        bounds.append(min(bounds[-1] + size, n_files))
        j += 1
    return names, bounds


@dataclass
class FileSpec:
    index: int
    repo: str
    path: str
    commit: str
    lang: str
    kind: str  # normal | coref | empty | oneline | prose
    year: str = ""
    author: str = ""
    license: str = ""
    modules: list[str] = field(default_factory=list)
    cls: str = ""
    base: str = ""
    method: str = ""
    method_callee: str = ""
    funcs: list[str] = field(default_factory=list)
    callees: list[str] = field(default_factory=list)  # one per func ("" = none)
    test_fn: str = ""          # unique test name, calls funcs[0]
    version: str = ""
    mod_date: str = ""
    req_version: str = ""
    coref_caller: str = ""
    coref_target: str = ""
    filler: int = 0  # non-extractable body lines per function (realism)


def file_spec(i: int, seed: int, repo: str, idx_in_repo: int,
              content_scale: int = 1) -> FileSpec:
    """content_scale > 1 multiplies the functions/imports per normal file
    (bench realism: real source files are 1-50 KB, FIXTURES §1; goldens
    remain correct at any scale — spec_raw_triples iterates the spec)."""
    rng = _rng(seed, "file", i)
    kind = "normal"
    if i % 101 == 7:
        kind = "empty"
    elif i % 101 == 8:
        kind = "oneline"
    elif i % 101 == 9:
        kind = "prose"
    elif i % 37 == 5:
        kind = "coref"

    if kind == "coref":
        lang = "python"
    elif kind in ("empty", "oneline", "prose"):
        lang = "text"
    else:
        r = rng.randint(0, 99)
        lang = "python" if r < 78 else "javascript" if r < 88 else "go" if r < 93 else "markdown"

    ext = {"python": "py", "javascript": "js", "go": "go", "markdown": "md", "text": "txt"}[lang]
    spec = FileSpec(
        index=i, repo=repo, path=f"src/mod_{idx_in_repo:05d}.{ext}",
        commit=_commit(seed, repo), lang=lang, kind=kind,
    )
    if kind in ("empty", "oneline", "prose"):
        return spec

    spec.filler = 2 * (content_scale - 1)
    spec.year = rng.choice(YEAR_POOL)
    spec.author = rng.choice(AUTHOR_SPELLINGS)
    spec.license = rng.choice(LICENSE_SPELLINGS)

    if kind == "coref":
        spec.coref_caller = f"caller_{i:06d}"
        spec.coref_target = f"target_{i:06d}"
        return spec

    if lang == "python":
        mods = rng.sample(PLAIN_MODULES,
                          min(rng.randint(1, 3) * min(content_scale, 4),
                              len(PLAIN_MODULES)))
        if rng.random() < 0.4:
            mods.append(rng.choice(DICT_MODULE_SPELLINGS))
        spec.modules = mods
        if rng.random() < 0.6:
            spec.cls = rng.choice(CLASS_POOL)
            spec.base = rng.choice(BASE_POOL)
            spec.method = rng.choice(FUNCTION_POOL)
            spec.method_callee = rng.choice(FUNCTION_POOL)
        n_fn = min(rng.randint(1, 3) * content_scale, len(FUNCTION_POOL))
        spec.funcs = rng.sample(FUNCTION_POOL, n_fn)
        spec.callees = [
            rng.choice(FUNCTION_POOL) if rng.random() < 0.7 else "" for _ in spec.funcs
        ]
        if rng.random() < 0.2:
            spec.test_fn = f"test_case_{i:06d}"
        if rng.random() < 0.7:
            spec.version = rng.choice(VERSION_POOL)
            spec.mod_date = rng.choice(DATE_POOL)
            spec.req_version = rng.choice(REQ_VERSION_POOL)
    elif lang == "javascript":
        spec.modules = rng.sample(JS_MODULES, 2)
        spec.funcs = rng.sample(FUNCTION_POOL, 1)
        spec.callees = [rng.choice(FUNCTION_POOL)]
        spec.cls = rng.choice(CLASS_POOL)
        spec.base = rng.choice(BASE_POOL)
        spec.version = rng.choice(VERSION_POOL)
    elif lang == "go":
        spec.modules = rng.sample(GO_MODULES, 2)
        spec.funcs = [rng.choice(FUNCTION_POOL)]
        spec.callees = [rng.choice(FUNCTION_POOL)]
    else:  # markdown
        spec.version = rng.choice(VERSION_POOL)
        spec.mod_date = rng.choice(DATE_POOL)
    return spec


def _go_camel(snake: str) -> str:
    return "".join(w.capitalize() for w in snake.split("_"))


def render(spec: FileSpec) -> str:
    """Render file content. Every planted structure matches exactly one
    detector rule; noise lines exercise the pronoun filter."""
    if spec.kind == "empty":
        return ""
    if spec.kind == "oneline":
        return "hello world"
    if spec.kind == "prose":
        return ("TODO: refactor this module later.\n"
                "It should be split into smaller parts so that we can test them.\n")

    L: list[str] = []
    c = {"python": "#", "javascript": "//", "go": "//", "markdown": ""}[spec.lang]
    if spec.lang == "markdown":
        L.append("## Overview")
        L.append(f"Licensed under the {spec.license}.")
        L.append(f"Copyright (c) {spec.year} {spec.author}")
        L.append("## Usage")
        L.append(f"Install version {spec.version} released {spec.mod_date}.")
        return "\n".join(L) + "\n"

    L.append(f"{c} Copyright (c) {spec.year} {spec.author}")
    L.append(f"{c} Licensed under the {spec.license}.")
    L.append("")

    if spec.kind == "coref":
        # exactly two functions; `pc` is a short-alias reference the
        # pipeline must resolve via graph BFS (coref stage).
        L += [
            f"def {spec.coref_target}(x):",
            "    return x * 2",
            "",
            f"def {spec.coref_caller}(x):",
            "    return pc(x)",
            "",
        ]
        return "\n".join(L) + "\n"

    if spec.lang == "python":
        for k, m in enumerate(spec.modules):
            if k == 0 and m in ("numpy", "pandas"):
                L.append(f"import {m} as {m[:2]}")
            elif k % 3 == 2:
                L.append(f"from {m} import core_api")
            else:
                L.append(f"import {m}")
        L.append("")
        if spec.cls:
            L += [
                f"class {spec.cls}({spec.base}):",
                f"    def {spec.method}(self, x):",
                "        self.cache = {}",
                f"        return {spec.method_callee}(x)",
                "",
            ]
        for fn, callee in zip(spec.funcs, spec.callees):
            L.append(f"def {fn}(data):")
            for j in range(spec.filler):
                L.append(f"    acc_{j} = data + {j} * 3 - {j % 7}")
            if callee:
                L.append(f"    value = {callee}(data)")
                L.append("    return value")
            else:
                L.append("    return data")
            L.append("")
        if spec.test_fn:
            L += [
                f"def {spec.test_fn}():",
                f"    assert {spec.funcs[0]}(1) is not None",
                "    result = it(1)",  # pronoun-like callee: must be dropped
                "",
            ]
        if spec.version:
            L.append(f'__version__ = "{spec.version}"')
            L.append(f"{c} Last modified: {spec.mod_date}")
            L.append(f"{c} requires version >= {spec.req_version}")
    elif spec.lang == "javascript":
        L.append(f"const m0 = require('{spec.modules[0]}');")
        L.append(f"import helper from '{spec.modules[1]}';")
        L.append("")
        L += [
            f"function {spec.funcs[0]}(x) {{",
            f"  return {spec.callees[0]}(x);",
            "}",
            "",
            f"class {spec.cls} extends {spec.base} {{",
            "}",
            f"// version {spec.version}",
        ]
    elif spec.lang == "go":
        L.append("package lib")
        L.append("")
        L.append("import (")
        for m in spec.modules:
            L.append(f'    "{m}"')
        L.append(")")
        L.append("")
        L += [
            f"func {_go_camel(spec.funcs[0])}(x int) int {{",
            f"    return {_go_camel(spec.callees[0])}(x)",
            "}",
        ]
    return "\n".join(L) + "\n"


# ---------------------------------------------------------------------------
# Golden computation
# ---------------------------------------------------------------------------
_SIMILARITY_TYPES = SIMILARITY_TYPES


def _dict_lookup() -> dict[tuple[str, str], str]:
    return {(etype, alias): canonical for alias, canonical, etype, _ in dictionary_rows()}


def canonicalize_spellings(
    spellings_by_type: dict[str, set[str]],
) -> dict[tuple[str, str], str]:
    """Spec-level canonicalizer: st3's merge contract (stated in
    operators/canonicalize.py) in plain Python. Within each similarity
    type, candidates come from an inverted index over tokens of df <=
    TOKEN_DF_CAP, candidates with pair_score >= 0.6 merge, union-find
    closes the merges, and the representative is the lexicographically-
    least dict canonical in the cluster, else the longest text (ties ->
    lexicographically greatest). Node identity is then (type, canonical) —
    clusters that share a dict canonical unify by name even if pairwise
    unmerged (mirrors reference representative selection,
    normalizer.py:257-277).
    """
    dic = _dict_lookup()
    out: dict[tuple[str, str], str] = {}
    for etype, spellings in spellings_by_type.items():
        items = sorted(spellings)
        if etype not in _SIMILARITY_TYPES:
            for s in items:
                out[(etype, s)] = s
            continue
        canon = {s: dic.get((etype, s.lower())) for s in items}
        parent = list(range(len(items)))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        postings: dict[str, list[int]] = {}
        for i, s in enumerate(items):
            for tok in token_set(s):
                postings.setdefault(tok, []).append(i)
        for ids in postings.values():
            if len(ids) > TOKEN_DF_CAP:
                continue
            for k, i in enumerate(ids):
                for j in ids[k + 1:]:
                    ri, rj = find(i), find(j)
                    if ri != rj and pair_score(
                        items[i], items[j], canon[items[i]], canon[items[j]]
                    ) >= SIMILARITY_THRESHOLD:
                        parent[max(ri, rj)] = min(ri, rj)
        clusters: dict[int, list[str]] = {}
        for k in range(len(items)):
            clusters.setdefault(find(k), []).append(items[k])
        for members in clusters.values():
            dc = sorted(c for m in members if (c := canon[m]) is not None)
            if dc:
                rep = dc[0]
            else:
                rep = max(members, key=lambda t: (len(t), t))
            for m in members:
                out[(etype, m)] = rep
    return out


def spec_raw_triples(spec: FileSpec) -> list[tuple[str, str, str, str, str]]:
    """(subject_text, subject_type, predicate, object_text, object_type)
    with surface spellings — canonicalization applied later."""
    F = f"{spec.repo}/{spec.path}"
    t: list[tuple[str, str, str, str, str]] = [(F, "File", P["in_repo"], spec.repo, "Repo")]
    if spec.kind in ("empty", "oneline", "prose"):
        return t
    t += [
        (F, "File", P["haslic"], spec.license, "License"),
        (spec.license, "License", P["liccov"], spec.repo, "Repo"),
        (F, "File", P["author"], spec.author, "Author"),
        (spec.author, "Author", P["contrib"], spec.repo, "Repo"),
        (F, "File", P["cpdate"], spec.year, "Date"),
    ]
    if spec.kind == "coref":
        t += [
            (F, "File", P["deffn"], spec.coref_target, "Function"),
            (F, "File", P["deffn"], spec.coref_caller, "Function"),
            (spec.coref_caller, "Function", P["calls"], spec.coref_target, "Function"),
        ]
        return t
    camel = spec.lang == "go"

    def fname(s: str) -> str:
        return _go_camel(s) if camel else s

    for m in spec.modules:
        t.append((F, "File", P["imports"], m, "Module"))
    for fn, callee in zip(spec.funcs, spec.callees):
        t.append((F, "File", P["deffn"], fname(fn), "Function"))
        if callee:
            t.append((fname(fn), "Function", P["calls"], fname(callee), "Function"))
    if spec.test_fn:
        t.append((F, "File", P["deffn"], spec.test_fn, "Function"))
        t.append((spec.test_fn, "Function", P["calls"], spec.funcs[0], "Function"))
    if spec.cls:
        t.append((F, "File", P["defcls"], spec.cls, "Class"))
        t.append((spec.cls, "Class", P["extends"], spec.base, "Class"))
        if spec.method:  # python only
            t.append((spec.method, "Function", P["method"], spec.cls, "Class"))
            t.append((spec.method, "Function", P["calls"], spec.method_callee, "Function"))
    if spec.version:
        t.append((F, "File", P["hasver"], spec.version, "Version"))
    if spec.mod_date and spec.lang != "markdown":
        t.append((F, "File", P["moddate"], spec.mod_date, "Date"))
    if spec.req_version:
        t.append((F, "File", P["reqver"], spec.req_version, "Version"))
    return t


def generate_corpus(n_files: int, seed: int = 42, content_scale: int = 1):
    """Driver-side generation. Returns (file_rows, golden_triples,
    golden_nodes) where file_rows are (repo, path, commit, lang, content),
    golden_triples are distinct (subject_canonical, predicate,
    object_canonical), golden_nodes distinct (entity_type, canonical_name).
    """
    names, bounds = repo_layout(n_files, seed)
    specs: list[FileSpec] = []
    for i in range(n_files):
        r = bisect.bisect_right(bounds, i)
        start = 0 if r == 0 else bounds[r - 1]
        specs.append(file_spec(i, seed, names[r], i - start, content_scale))

    rows = [(s.repo, s.path, s.commit, s.lang, render(s)) for s in specs]

    spell: dict[str, set[str]] = {}
    raw: list[tuple[str, str, str, str, str]] = []
    for s in specs:
        for st, sty, p, ot, oty in spec_raw_triples(s):
            raw.append((st, sty, p, ot, oty))
            spell.setdefault(sty, set()).add(st)
            spell.setdefault(oty, set()).add(ot)
        # bare planted mentions with no triple (markdown release date)
        if s.kind == "normal" and s.lang == "markdown" and s.mod_date:
            spell.setdefault("Date", set()).add(s.mod_date)

    canon = canonicalize_spellings(spell)
    golden_triples = sorted({
        (canon[(sty, st)], p, canon[(oty, ot)]) for st, sty, p, ot, oty in raw
    })
    golden_nodes = sorted({(ty, c) for (ty, _), c in canon.items()})
    return rows, golden_triples, golden_nodes


def corpus_df(spark, n_files: int, seed: int = 42):
    """files DataFrame via driver-side generation (test scale)."""
    from .schema import FILES_SCHEMA

    rows, _, _ = generate_corpus(n_files, seed)
    return spark.createDataFrame(rows, FILES_SCHEMA)


def corpus_df_distributed(spark, n_files: int, seed: int = 42,
                          partitions: int = 64, content_scale: int = 1,
                          mega_files: int | None = None):
    """files DataFrame rendered on executors (bench scale): spark.range over
    file indices -> mapInPandas render. Identical bytes to corpus_df."""
    import pandas as pd

    from .schema import FILES_SCHEMA

    names, bounds = repo_layout(n_files, seed, mega_files)

    def gen(batches):
        for pdf in batches:
            out = {"repo": [], "path": [], "commit": [], "lang": [], "content": []}
            for i in pdf["id"].astype(int):
                r = bisect.bisect_right(bounds, i)
                start = 0 if r == 0 else bounds[r - 1]
                s = file_spec(int(i), seed, names[r], int(i) - start,
                              content_scale)
                out["repo"].append(s.repo)
                out["path"].append(s.path)
                out["commit"].append(s.commit)
                out["lang"].append(s.lang)
                out["content"].append(render(s))
            yield pd.DataFrame(out)

    return (
        spark.range(0, n_files, numPartitions=partitions)
        .mapInPandas(gen, schema=FILES_SCHEMA)
    )
