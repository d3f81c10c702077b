#!/usr/bin/env python3
"""List public operators that only the specs reach.

Usage: python3 tools/unreached.py [repoRoot]

Scans the public `def` and `object` names defined under
src/main/scala/graft/{operators,streaming,multimodal,model,sources,pipeline}
and prints, one `Owner.name` per line (sorted), each one that nothing
outside src/test references apart from its own definition. The reference
corpus is every Scala file under src/main and gazebench/src, with comments
and string literals stripped (a scaladoc link or an error message is not a
caller). A member of an object counts as referenced from another file only
as `Owner.name` (a line break may split it) or through an import of `Owner`'s members; inside its own
file a bare name counts. An unreferenced object is printed once, without
its members.

Exit status 1 when it prints a name outside KEEP, else 0.
"""
import os
import re
import sys

TIERS = ["operators", "streaming", "multimodal", "model", "sources",
         "pipeline"]

DEF_RE = re.compile(r"^(\s*)((?:[a-z]+\s+)*)(def|object|class|trait)\s+"
                    r"([A-Za-z_][A-Za-z0-9_]*)")
HIDDEN = {"private", "protected", "override"}

# The names only the specs reach on purpose:
#  - SURVEY §2 gaze operators, to be wired into a query with an oracle
#    row, not deleted;
#  - the index monitors, to be surfaced as a queryable record;
#  - spec references that pin a reached operator (the searchAuto kernels,
#    the gated n-gram Jaccard, the native shingle/minhash kernels, the
#    fused resize-luminance, multi-chunk mp4 decoder inputs).
KEEP = {
    "BlinkStream", "ClusterOps.bimodalitySplit",
    "EllipseGeometry.nearestEllipse", "EllipseGeometry.opencvEllipse",
    "GazeModelIO.load", "GazeModelIO.save", "ManualEpochs.splitByFrames",
    "MarkerParsing.filterAndClusterCheckerboard", "OdometryOps.mph",
    "SplineOps", "StreamingOps", "TimeSeriesOps.medfiltDetrend",
    "TimeSeriesOps.sessionDurationFilter", "VedbPipeline.manualStages",
    "AnnIndexIO.occupancyStats", "AnnIndexIO.quantDrift",
    "VectorOps.ivfPqTopK", "VectorOps.ivfPqHierTopK",
    "TextOps.ngramJaccardPairs", "TextOps.shingles",
    "MultimodalOps.resizeHalfVideo", "Mp4Codec.encodeChunked",
}


def strip_code(text):
    """Blank out comments and string literals, keeping line breaks."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("\n" * text.count("\n", i, j))
            i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append('""' + "\n" * text.count("\n", i, j))
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            out.append('""')
            i = j + 1
        elif text[i] == "'" and i + 2 < n and text[i + 2] == "'":
            out.append("' '")
            i += 3
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def scala_files(root, rel):
    for d, _, fs in os.walk(os.path.join(root, rel)):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def definitions(path, code):
    """(owner, kind, name, line_no) for every public definition, where
    owner is the enclosing object/class (None at top level)."""
    stack, depth = [], 0          # (name, kind, brace depth inside it)
    for no, line in enumerate(code.split("\n")):
        m = DEF_RE.match(line)
        if m:
            mods = set(m.group(2).split())
            kind, name = m.group(3), m.group(4)
            # instance members are called through values, not the owner's
            # name: match them like top-level names
            owner = stack[-1][0] if stack and stack[-1][1] == "object" \
                else None
            if not (mods & HIDDEN) and kind in ("def", "object"):
                yield owner, kind, name, no
            if kind in ("object", "class", "trait") and "{" in line:
                stack.append((name, kind, depth + 1))
        depth += line.count("{") - line.count("}")
        while stack and depth < stack[-1][2]:
            stack.pop()


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    corpus = {}
    for rel in ("src/main", "gazebench/src"):
        for p in scala_files(root, rel):
            with open(p, encoding="utf-8") as fh:
                corpus[p] = strip_code(fh.read())
    lines = {p: c.split("\n") for p, c in corpus.items()}

    def imports_members(code, owner, name):
        pat = (r"import\s+[\w.]*\b%s\.(_|\*|%s\b|\{[^}]*\b(%s|_)\b[^}]*\})"
               % (owner, name, name))
        return re.search(pat, code) is not None

    def referenced(path, owner, name, def_no):
        word = re.compile(r"\b%s\b" % re.escape(name))
        for p, ls in lines.items():
            code = corpus[p]
            if p == path:
                if any(word.search(l) for i, l in enumerate(ls)
                       if i != def_no):
                    return True
            elif owner is None:
                if word.search(code):
                    return True
            elif re.search(r"\b%s\s*\.\s*%s\b" % (owner, re.escape(name)),
                           code) \
                    or (word.search(code)
                        and imports_members(code, owner, name)):
                return True
        return False

    found = []
    for tier in TIERS:
        for p in scala_files(root, os.path.join("src/main/scala/graft", tier)):
            dead_objects = set()
            for owner, kind, name, no in definitions(p, corpus[p]):
                if owner in dead_objects:
                    continue
                # an object is referenced by its own name anywhere;
                # its members by the rules in the module docstring
                if kind == "object":
                    if not referenced(p, None, name, no):
                        dead_objects.add(name)
                        found.append(name)
                elif not referenced(p, owner, name, no):
                    found.append("%s.%s" % (owner, name) if owner else name)
    for name in sorted(set(found)):
        print(name)
    return 1 if set(found) - KEEP else 0


if __name__ == "__main__":
    sys.exit(main())
