"""Reference forms of the st1+st2 kernel, for the tests to pin it against.

They scan line by line with the spec patterns (`schema.SECTION_PATTERNS`
and the `*_RE` patterns of `operators/mentions.py`), the way the kernel
worked before its whole-block scans: slow, and obviously the contract.
"""

import re

from legal_knowledge_graph_spark.operators.mentions import (
    AT_AUTHOR_RE, CALL_KEYWORDS, CALL_RE, CLASS_RE, COPYRIGHT_RE, DATE_RE,
    DEF_RE, GO_IMPORT_LINE_RE, LICENSE_RE, METHOD_RE, MODULE_PATTERNS,
    VER_DUNDER_RE, VER_REQUIRES_RE, VER_WORD_RE, _mention,
)
from legal_knowledge_graph_spark.schema import (
    HIERARCHY_PATTERNS, PRONOUNS, SECTION_PATTERNS,
)

_MERGEABLE = {"LICENSE", "HEADER", "IMPORTS", "DOC", "CONFIG", "COMMENT", "OTHER"}


def lines(content):
    """(line, offset) pairs of the per-line walk."""
    off = 0
    for line in content.split("\n"):
        yield line, off
        off += len(line) + 1


def line_type(line):
    """Sequential first-match-wins scan of SECTION_PATTERNS."""
    for btype, pat in SECTION_PATTERNS:
        if pat.match(line):
            return btype
    return None


def segment(doc_key, content):
    """Per-line segmentation: clean, type each line, merge, parent."""
    import hashlib

    text = re.sub(r"\n{3,}", "\n\n",
                  "\n".join(ln.rstrip() for ln in content.split("\n")))
    if not text.strip():
        return []
    blocks, cur = [], None
    for line, offset in lines(text):
        btype = line_type(line)
        if btype is None:
            starts_new = cur is None
        else:
            starts_new = (cur is None or btype != cur["block_type"]
                          or btype not in _MERGEABLE)
        if starts_new:
            if cur is not None:
                blocks.append(cur)
            level = next((i + 1 for i, p in enumerate(HIERARCHY_PATTERNS)
                          if p.match(line)), 0)
            cur = {"block_type": btype or "OTHER",
                   "title": line.strip()[:120] or None,
                   "start_pos": offset, "end_pos": offset + len(line),
                   "level": level}
        else:
            cur["end_pos"] = offset + len(line)
    blocks.append(cur)
    stack = []
    for i, b in enumerate(blocks):
        b["block_ordinal"] = i
        b["block_id"] = hashlib.sha256(f"{doc_key}:{i}".encode()).hexdigest()
        parent = None
        if b["level"] > 0:
            while stack and stack[-1][0] >= b["level"]:
                stack.pop()
            if stack:
                parent = blocks[stack[-1][1]]["block_id"]
            stack.append((b["level"], i))
        b["parent_id"] = parent
        b["content"] = text[b["start_pos"]: b["end_pos"]]
    return blocks


def mentions(block_type, lang, content):
    """Per-line detection: metadata patterns searched in each line with
    per-line version precedence (requires > __version__ > word form,
    license lines suppress the word form), the module patterns over the
    block, and the code walk's cls/encl state machine."""
    out = []
    if not content:
        return out
    for line, off in lines(content):
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
    for pat in MODULE_PATTERNS.get(lang, MODULE_PATTERNS["python"]):
        for m in pat.finditer(content):
            out.append(_mention("Module", m.group(1), m.start(1), m.end(1),
                                0.95, role="import"))
    if lang == "go" and block_type == "IMPORTS":
        for line, off in lines(content):
            gm = GO_IMPORT_LINE_RE.match(line)
            if gm:
                out.append(_mention("Module", gm.group(1), off + gm.start(1),
                                    off + gm.end(1), 0.95, role="import"))
    if block_type in {"CLASS", "FUNCTION", "TEST"}:
        encl = cls = None
        for line, off in lines(content):
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


def mention_key(m):
    return (m["entity_type"], m["text"], m["start_pos"], m["end_pos"],
            m["confidence"], m["is_reference"], m["evidence"],
            tuple(sorted((m["attributes"] or {}).items())))
