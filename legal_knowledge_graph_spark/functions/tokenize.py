r"""Deterministic identifier/text tokenization shared by the clustering
stage (st3), the similarity spec, and the golden-corpus generator.

It exists in two forms that must agree on every input: `split_tokens`
(Python, used by the golden generator and the spec functions below) and
`TOKEN_PATTERN`, the one-pass Java regex st3 evaluates inside the JVM as
`array_sort(array_distinct(transform(regexp_extract_all(text,
TOKEN_PATTERN), lower)))`. For every string t that expression equals
`sorted(set(split_tokens(t)))` (tests/test_tokenize.py holds this). The
pattern is `_CAMEL_RE` on letter runs plus `_TOKEN_RE`'s numeric runs,
with `\p{Nd}` for Python's Unicode `\d` (Java's `\d` is ASCII-only);
both forms lowercase only ASCII letters, so the two case mappings agree.
`\p{Nd}` and `\d` read the Unicode tables of their runtimes, so digits
one table knows and the other does not split differently: Java 17
(Unicode 13) has no Tangsa digits (U+16AC0-U+16AC9, Unicode 14), which
Python 3.11 keeps as a numeric token and the JVM form drops.

This replaces the reference's pkuseg Chinese segmentation
(/root/reference/src/normalization/segmenter.py:29-87) with a code-aware
tokenizer: snake_case / camelCase / dotted-path splitting, with numeric
runs (dates `2024-06-01`, versions `1.2.3`) kept as single tokens so a
year never token-subsets a full date and `3.8` never subsets `1.3.8`.

The similarity *spec* (used both here and in golden generation):
  score(a, b) = 0.9  if token_set(a) ⊆ token_set(b) or ⊇   [containment]
              = 0.95 if both dict-matched to the same canonical
              = jaccard(token_set(a), token_set(b)) otherwise
  merge iff score >= 0.6
Only pairs sharing a token whose per-type document frequency over
distinct forms is <= TOKEN_DF_CAP are scored at all (block purging; the
merge contract is stated in full in operators/canonicalize.py).
(reference: /root/reference/src/normalization/normalizer.py:144,168-199 —
containment 0.9, same-canonical 0.95, else keyword jaccard; raw-substring
containment is deliberately strengthened to token-boundary containment,
because at code scale `os in collections` would merge unrelated modules.)
"""

from __future__ import annotations

import re

# letters runs OR digit runs glued by . or - (dates/versions stay whole)
_TOKEN_RE = re.compile(r"[A-Za-z]+|\d+(?:[.-]\d+)*")
_CAMEL_RE = re.compile(r"[A-Z]+(?=[A-Z][a-z])|[A-Z]?[a-z]+|[A-Z]+")
# the JVM form of split_tokens (java.util.regex; see the module docstring)
TOKEN_PATTERN = r"[A-Z]+(?=[A-Z][a-z])|[A-Z]?[a-z]+|[A-Z]+|\p{Nd}+(?:[.-]\p{Nd}+)*"

SIMILARITY_THRESHOLD = 0.6
CONTAINMENT_SCORE = 0.9
SAME_CANONICAL_SCORE = 0.95
# block purging: a token carried by more distinct forms of one type than
# this is too common to make two forms candidates on its own
TOKEN_DF_CAP = 1000


def split_tokens(text: str) -> list[str]:
    """Lowercased token list: splits snake/camel/dotted, keeps numeric
    runs (versions, dates) as single tokens."""
    out: list[str] = []
    for m in _TOKEN_RE.finditer(text or ""):
        piece = m.group(0)
        if piece[0].isdigit():
            out.append(piece)
        else:
            out.extend(w.lower() for w in _CAMEL_RE.findall(piece))
    return out


def token_set(text: str) -> frozenset[str]:
    return frozenset(split_tokens(text))


def jaccard(a: frozenset[str], b: frozenset[str]) -> float:
    if not a or not b:
        return 0.0
    inter = len(a & b)
    if inter == 0:
        return 0.0
    return inter / len(a | b)


def is_token_subset(a: frozenset[str], b: frozenset[str]) -> bool:
    """Token-boundary containment (either direction handled by caller)."""
    return bool(a) and bool(b) and (a <= b or b <= a)


def pair_score(
    text_a: str,
    text_b: str,
    canonical_a: str | None = None,
    canonical_b: str | None = None,
) -> float:
    """The full pair-similarity spec (see module docstring)."""
    ta, tb = token_set(text_a), token_set(text_b)
    if is_token_subset(ta, tb):
        return CONTAINMENT_SCORE
    if (
        canonical_a is not None
        and canonical_a == canonical_b
        and canonical_a != text_a
        and canonical_a != text_b
    ):
        return SAME_CANONICAL_SCORE
    return jaccard(ta, tb)
