#!/usr/bin/env python3
"""List the members of src/main that nothing outside their own file names.

A member is a `def`, `val` or `object` declared directly in a class, trait
or object body (not inside a method or block) that is public or
`private[graft]`, inside no private enclosing template. Overrides and `main`
entry points are skipped. A member is

  uncalled   when no other Scala file under src/main, src/test or
             perfbench/src names it, and
  test-only  when only files under src/test name it.

Names are matched as whole identifiers in code with comments removed. A
member of an `object` counts as named in another file only where that file
writes `Owner.name` or imports it (`Owner._`, `Owner.{..., name, ...}`,
`Owner.name`); members of classes and traits, whose instance calls carry no
owner, and top-level declarations count wherever their name appears. So a
class member that shares its name with another file's identifier counts as
named: the lists can miss dead code, but what they list is unreferenced.

Usage: python3 tools/uncalled_defs.py [repo_root]
Exits 1 when it lists a member that its list's exemptions below (UNCALLED_OK,
TEST_ONLY_OK) do not name, else 0.
"""
import os
import re
import sys

# Why members the lists name stay.
STEP = "a superstep fragment the plan and loop specs compile and audit on its own"
KERNEL = "one of the two triangle kernels TriangleSpec checks against each other"
# (file stem, member name) -> why it stays although nothing names it.
UNCALLED_OK = {
    ("SparkEntry", "entry"): "driver contract: the flagship slice an external driver calls by name",
    ("Media", "features"): "the MediaCodec seam each codec implements",
    ("ResultOps", "sortByValue"): "reference AlgorithmResult.sort_by_value; the top-k members call it",
}
# (file stem, member name) -> why it stays although only tests name it.
TEST_ONLY_OK = {
    ("ResultOps", "ResultOps"): "the reference AlgorithmResult surface; AlgoSpec covers it",
    ("ResultOps", "sortByNode"): "reference AlgorithmResult.sort_by_node; AlgoSpec covers it",
    ("ResultOps", "minBy"): "reference AlgorithmResult.min; AlgoSpec covers it",
    ("ResultOps", "groupByValue"): "reference AlgorithmResult.group_by; AlgoSpec covers it",
    ("ResultOps", "topK"): "reference AlgorithmResult.top_k; AlgoSpec covers it",
    ("ResultOps", "median"): "reference AlgorithmResult.median; AlgoSpec covers it",
    ("Louvain", "modularity"): "the modularity Louvain maximises (community_detection/modularity.rs); LouvainSpec covers it",
    ("Bench", "stdoutLine"): "Bench's capped stdout line, split out so BenchSpec can check the cap",
    ("BipartiteProjection", "projectByNames"): "library API over names; AlgoSpec covers it",
    ("Metrics", "globalClusteringCoefficient"): "reference global_clustering_coefficient; AlgoSpec covers it",
    ("RichClub", "temporalRichClub"): "reference temporal_rich_club_coefficient; AlgoSpec covers it",
    ("TemporalMotifs", "localCounts"): "reference local_temporal_three_node_motifs; MotifSpec covers it",
    ("Hits", "scatterRows"): STEP,
    ("Lpa", "lpaPhase"): STEP,
    ("PageRank", "initState"): STEP,
    ("Pathing", "frontierStep"): STEP,
    ("KCore", "peelProgram"): STEP,
    ("Hits", "dfProgram"): STEP,
    ("Lpa", "dfProgram"): STEP,
    ("PageRank", "superstep"): STEP,
    ("Pathing", "deltaRelax"): STEP,
    ("Pathing", "reachScatter"): STEP,
    ("Wcc", "hashMinProgram"): STEP,
    ("Wcc", "hashMinInit"): STEP,
    ("Wcc", "hashMinStep"): STEP,
    ("Triangles", "countCsr"): KERNEL,
    ("Triangles", "triangleCountOf"): KERNEL,
    ("CatalogRunContext", "flushMetrics"): "forces the metrics append CkptSpec reads back",
    ("Procedures", "catalogue"): "the CALL registry's listing; CypherSpec checks it",
    ("Procedures", "louvainSeed"): "the seed CALL louvain uses, which CypherSpec's parity case needs",
    ("Dedup", "exactGroups"): "training-data dedup API; PipelineOpsSpec covers it",
    ("Dedup", "minhashNearDups"): "training-data dedup API; PipelineOpsSpec covers it",
    ("Dedup", "dupClusters"): "training-data dedup API; PipelineOpsSpec covers it",
    ("Dedup", "simhashNearDups"): "training-data dedup API; PipelineOpsSpec covers it",
    ("LinkGraph", "withNodeProps"): "reference node properties; CypherSpec and PersistentGraphSpec cover it",
    ("LinkGraph", "propertyHistory"): "reference TemporalPropertyView history; ViewSpec covers it",
    ("LinkGraph", "propertyLatest"): "reference TemporalPropertyView latest; ViewSpec covers it",
    ("LinkGraph", "edgePropertyHistory"): "reference edge property history; ViewSpec covers it",
    ("LinkGraph", "fromEdgeList"): "graph from a named edge list, the fixtures' entry",
    ("LinkGraph", "fromNumericEdgeList"): "graph from a numeric edge list, the fixtures' entry",
    ("PersistentGraph", "eventGraph"): "reference PersistentGraph event view; PersistentGraphSpec covers it",
    ("PersistentGraph", "fromTuples"): "PersistentGraph from update tuples, the fixtures' entry",
    ("Corpus", "renderHtml"): "the corpus page template CorpusSpec checks",
    ("Corpus", "page"): "one corpus page, the fixtures' entry",
    ("Html", "removeDotSegments"): "RFC 3986 5.2.4; HtmlSpec checks it against the RFC's examples",
    ("Ingest", "edgeEvents"): "pages to edge events without minting; Ingest, Corpus and Streaming specs use it",
    ("Media", "FeatureDim"): "the media feature width; PipelineOpsSpec checks it",
    ("Media", "decode"): "the MediaCodec seam each codec implements",
    ("Media", "StubCodec"): "the deterministic codec MediaCodecSpec checks",
    ("Media", "sampleFrames"): "media frame sampling API; MediaCodecSpec covers it",
    ("Media", "resizePlan"): "media resize API; MediaCodecSpec covers it",
    ("Ann", "bruteForceTopK"): "the exact top-k that ANN recall is measured against",
    ("Ann", "lshTableBuckets"): "LSH bucketing API; PipelineOpsSpec covers it",
    ("Ann", "ivfAssignments"): "IVF cell assignment API; PipelineOpsSpec covers it",
    ("StreamIngest", "startEdgeIngest"): "streaming ingest API; StreamingSpec covers it",
    ("StreamIngest", "rollingEdgeCounts"): "streaming window API; StreamingSpec covers it",
    ("StreamIngest", "liveSourceTotals"): "streaming aggregate API; StreamingSpec covers it",
    ("Search", "writeIndex"): "inverted-index search API; SearchSpec covers it",
    ("Search", "searchIndexed"): "inverted-index search API; SearchSpec covers it",
    ("Search", "searchNodes"): "reference search_nodes; SearchSpec covers it",
    ("Search", "searchEdges"): "reference search_edges; SearchSpec covers it",
    ("TextOps", "tokenCount"): "text quality API; PipelineOpsSpec and PlanSpec cover it",
    ("TextOps", "qualityColumns"): "text quality API; PipelineOpsSpec covers it",
    ("TextOps", "withLangGuess"): "text quality API; PipelineOpsSpec covers it",
    ("Vectors", "embed"): "the Embedder seam a model-backed embedder replaces",
    ("Vectors", "documentsBySimilarity"): "reference documents_by_similarity; VectorsSpec covers it",
    ("Vectors", "edgesBySimilarity"): "reference edges_by_similarity; VectorsSpec covers it",
}

SEARCH_DIRS = ("src/main", "src/test", "perfbench/src")
MODIFIERS = r"(?:(?:private|protected)(?:\[\w+\])?|final|override|implicit|lazy|sealed|case|abstract)"
DECL = re.compile(r"^\s*((?:" + MODIFIERS + r"\s+)*)(def|val|var|object)\s+([A-Za-z_]\w*)")
TEMPLATE_KW = re.compile(r"\b(object|class|trait|def|val|var|new)\b")
TEMPLATE_NAME = re.compile(r"\b(?:object|class|trait)\s+([A-Za-z_]\w*)")
VISIBILITY = re.compile(r"\b(private|protected)(?:\[(\w+)\])?")


def strip_comments(src):
    """`src` with comments blanked and string/char literals kept; newlines stay."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif c == "'" and re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4]):
            j = src.index("'", i + 2 if src[i + 1] == "\\" else i + 1) + 1
            out.append(src[i:j])
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def blank_strings(code):
    """Comment-free `code` with string and char literals blanked too."""
    return re.sub(r'"""[\s\S]*?"""+|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\\\'\n])\'',
                  lambda m: re.sub(r"[^\n]", " ", m.group(0)), code)


def drop_parens(text):
    """`text` without its (possibly nested) parenthesised parts."""
    prev = None
    while prev != text:
        prev, text = text, re.sub(r"\([^()]*\)", " ", text)
    return text


def members(code):
    """(name, line, owner) of each listed member declared in one file's
    `code`; owner is the enclosing object's name, or None in a class, trait
    or at the top level."""
    found, entry_points = [], set()
    # per open brace: (is_template, hidden, line of the object it opens,
    # the object's name)
    stack, header, object_line = [], [], None
    for idx, ln in enumerate(code.split("\n")):
        in_template = not stack or stack[-1][0]
        hidden = any(h for _, h, _, _ in stack)
        in_params = "".join(header).count("(") > "".join(header).count(")")
        m = DECL.match(ln)
        if m and in_template and not in_params:
            mods, kind, name = m.groups()
            if kind == "object":
                object_line = idx + 1
            vis = VISIBILITY.search(mods)
            public = vis is None or vis.group(2) == "graft"
            if name == "main" and stack:
                entry_points.add(stack[-1][2])
            elif public and not hidden and "override" not in mods:
                found.append((name, idx + 1, stack[-1][3] if stack else None))
        for ch in ln + "\n":
            if ch == "{":
                head = drop_parens("".join(header))
                kws = TEMPLATE_KW.findall(head)
                is_template = bool(kws) and kws[-1] in ("object", "class", "trait")
                vis = VISIBILITY.search(head) if is_template else None
                is_object = is_template and kws[-1] == "object"
                stack.append((is_template, vis is not None and vis.group(2) != "graft",
                              object_line if is_object else None,
                              TEMPLATE_NAME.findall(head)[-1] if is_object else None))
                header = []
            elif ch in "};":
                if ch == "}" and stack:
                    stack.pop()
                header = []
            else:
                header.append(ch)
    # an object that declares `main` is an entry point, run by name
    return [(n, line, owner) for n, line, owner in found if line not in entry_points]


def names_member(code, owner, name):
    """Whether `code` writes `owner.name` or imports `name` from `owner`."""
    o, n = re.escape(owner), re.escape(name)
    if re.search(r"\b%s\s*\.\s*%s\b" % (o, n), code) or \
            re.search(r"\bimport\s[^\n;]*\b%s\s*\.\s*_(?!\w)" % o, code):
        return True
    return any(name in re.findall(r"[A-Za-z_]\w*", sel)
               for sel in re.findall(r"\bimport\s[^\n;]*\b%s\s*\.\s*\{([^}]*)\}" % o, code))


def scala_files(root):
    for d in SEARCH_DIRS:
        for dirpath, _, files in os.walk(os.path.join(root, d)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(dirpath, f)


def main(argv):
    root = os.path.abspath(argv[1] if len(argv) > 1 else
                           os.path.join(os.path.dirname(__file__), ".."))
    code = {}
    for path in scala_files(root):
        with open(path, encoding="utf-8") as fh:
            code[os.path.relpath(path, root)] = strip_comments(fh.read())
    # identifiers named by each file
    names = {p: set(re.findall(r"[A-Za-z_]\w*", c)) for p, c in code.items()}
    uncalled, test_only = [], []
    for path in sorted(code):
        if not path.startswith("src/main/"):
            continue
        for name, line, owner in members(blank_strings(code[path])):
            users = [p for p in code if p != path and name in names[p]
                     and (owner is None or names_member(code[p], owner, name))]
            entry = (path, line, name)
            if not users:
                uncalled.append(entry)
            elif all(p.startswith("src/test/") for p in users):
                test_only.append(entry)
    failed = False
    for title, entries, exempt in (("uncalled", uncalled, UNCALLED_OK),
                                   ("named only by src/test", test_only, TEST_ONLY_OK)):
        print(f"{title}: {len(entries)}")
        for path, line, name in entries:
            why = exempt.get((os.path.splitext(os.path.basename(path))[0], name))
            failed |= why is None
            print(f"  {path}:{line} {name}" + (f"  [exempt: {why}]" if why else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
