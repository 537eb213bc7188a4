#!/usr/bin/env python3
"""Reach scan: the src/main code that no other main code references.

Usage: python3 tools/unreached.py [repoRoot]

For each top-level type and each public member `def` under
src/main/scala, prints the ones whose name appears in no other
src/main/scala or perfbench/scala code, together with the spec files
(src/test/scala) that do name them. A type counts as referenced when its
name occurs outside its own declaration block; a def when its name occurs
outside its own body. Comments are ignored, string literals are not (a
class named in a conf string is a real reference).

The match is by bare name, with one exception: a member of an `object`
whose bare name another main type also declares as a def counts only
`Owner.name` references (or bare uses in a file that imports the
owner's members) and any use inside the owner's own file. So
`Queries.embeddingNearDups` no longer hides a `Dedup.embeddingNearDups`
that only specs call. Any other name shared with another symbol still
counts as referenced: the scan can miss an unreached entry, not invent
one.
The scan is one level deep: code reached only from a listed entry shows
up once that entry is gone. `SparkEntry`, `Bench` and `Verify` are the
roots the driver runs and are never listed, nor are `main` and the Scala
protocol methods.

Every listed entry that is kept on purpose carries its reason from KEEP:
a reference feature it stands in for (with the SURVEY.md line), the
reference implementation a test compares against, a dev entry point run
through tools/run_main.sh, a helper inside a case whose subject is
reached code, or a deferral with the spec cases its deletion takes. An
entry without a reason is a deletion candidate.
"""
import os
import re
import sys

ROOTS = {"graft.SparkEntry", "graft.Bench", "graft.Verify"}
SKIP_DEFS = {"main", "apply", "unapply", "toString", "equals", "hashCode"}

ENTRY = "dev entry point (tools/run_main.sh)"
DIRECTION_D = ("out of scope: ROADMAP direction D adjudicates it against "
               "aggregatedJoined by benchmark")


def deferred(cases):
    return (f"deferred to ROADMAP direction G: fails the keep rule; deleting "
            f"it takes {cases}")


def inside(case):
    return (f"exercised inside a case of reached code ({case}); deleting it "
            f"would edit that case's assertions")


KEEP = {
    # analogs of reference features, with the SURVEY.md line naming them
    "graft.model.MoodRecord":
        "analog: the reference's mood row schema (SURVEY.md:114-115)",
    "graft.model.MoodSummary":
        "analog: the reference's mood_summary row schema (SURVEY.md:114-115)",
    "graft.model.Vocab.weatherLabel":
        "analog: S5 WEATHER_CODE_MAP.get(code, 'unknown') (SURVEY.md:1342)",
    "graft.ops.Validate.dropAnyNull":
        "analog: P11 na.drop() before the Mongo insert (SURVEY.md:1370)",
    "graft.ops.Validate.requireNonEmpty":
        "analog: A6 count_documents == 0 fail-gate (SURVEY.md:1384)",
    "graft.streaming.MoodStream.startToParquet":
        "analog: the mood query's append writeStream, with the checkpoint "
        "the reference lacks (SURVEY.md:1466,1468)",
    "graft.pipeline.PipelineRunner.moodExportDag":
        "analog: the mongo_to_storage DAG graph (SURVEY.md:1510)",
    "graft.pipeline.QualityCheck.gateAndExport":
        "analog: the mood_quality_check DAG gates + export trigger "
        "(SURVEY.md:1541-1542)",
    "graft.pipeline.Scheduler":
        "analog: the DAGs' cron schedules (SURVEY.md:1533)",
    "graft.functions.GraftFunctions":
        "analog: the U1/U2 UDF registrations (SURVEY.md:1450-1451)",
    "graft.io.JdbcSink": "analog: K3 JDBC append write (SURVEY.md:1351)",
    "graft.io.Sinks.streamInto":
        "analog: K1 foreachBatch sink (SURVEY.md:1349)",
    "graft.io.Sinks.console": "analog: K2 console sink (SURVEY.md:1350)",
    "graft.io.JsonFileSource":
        "analog: S1's file-stream stand-in for Kafka (SURVEY.md:1338)",
    "graft.io.KafkaEventSource":
        "analog: S1 Kafka streaming scan (SURVEY.md:1338)",
    "graft.io.JdbcSource": "analog: S3 JDBC batch scan (SURVEY.md:1340)",
    # reference implementations a surviving test compares against
    "graft.operators.Bpe.encodeCounts":
        "reference implementation: BpeSpec 'encodeCountsScalable == "
        "encodeCounts under the trained-table invariant'",
    "graft.functions.VectorFunctions.dotFold":
        "reference implementation: VectorFunctionsSpec 'codegen ArrayDot is "
        "bit-identical to the HOF fold on real embeddings'",
    "graft.operators.Retrieval.saveIndex":
        "reference implementation: RetrievalSpec 'incremental postings' "
        "compares the folded segments against it",
    # dev entry points
    "graft.tools.Explain": ENTRY,
    "graft.tools.JobProfile": ENTRY,
    "graft.tools.ScaleData": ENTRY,
    "graft.tools.Smoke": ENTRY,
    # the two mood-stream strategies left to a benchmark-only change
    "graft.streaming.MinuteAgg": DIRECTION_D,
    "graft.streaming.MoodStream.foreachBatchAligned": DIRECTION_D,
    # helpers inside cases whose subject is reached code
    "graft.util.OperatorCaches.registeredCount":
        inside("DedupSpec 'allPairsJaccard equals the brute-force exact "
               "join', q124"),
    "graft.functions.TextFunctions.shingleHashes":
        inside("TextFunctionsSpec 'winnowing fingerprints', q48"),
    "graft.functions.VectorFunctions.l2sq":
        inside("VectorFunctionsSpec 'dot / norm / cosine on known vectors'"),
    "graft.operators.Layout.zOrderWrite":
        inside("CurationSpec 'zOrder2 interleaves bits', q58"),
    "graft.operators.Dedup.FingerprintStore.currentGenTable":
        inside("DedupSpec 'FingerprintStore.compact folds segments into a "
               "bucketed generation', q64"),
    "graft.util.OperatorCaches.release":
        inside("BoilerplateSpec 'remove at threshold: every occurrence, "
               "order kept, one row per doc', q148"),
    # spec-only code that fails the rule, left for a follow-up change
    "graft.streaming.BudgetStream.admissions":
        deferred("2 BudgetStreamSpec cases"),
    "graft.operators.ClusterStore.ingestEpoch":
        deferred("ClusterStoreSpec 'epoch protocol' and the epoch branch "
                 "of ingestCore"),
    "graft.operators.Boilerplate.lineDocFrequency":
        deferred("1 BoilerplateSpec case"),
    "graft.operators.Multimodal.resize":
        deferred("2 MultimodalSpec cases and 1 QualityCheckSpec case, "
                 "with sampleFrames"),
    "graft.operators.Multimodal.sampleFrames":
        deferred("the same 3 cases as resize"),
    "graft.operators.Skew.saltedJoin": deferred("1 SkewAndSqlSpec case"),
    "graft.pipeline.SummaryPipeline.fullSummary":
        deferred("1 SummaryPipelineSpec case"),
    # the self-maintaining foreachBatch adapters around reached staged
    # cores: named only by specs once shared bare names stopped counting
    "graft.streaming.BudgetStream.sink": deferred("1 BudgetStreamSpec case"),
    "graft.streaming.FrontierStream.sink":
        deferred("1 FrontierStreamSpec case"),
    "graft.streaming.DriftStream.monitor":
        deferred("2 DriftStreamSpec cases"),
    "graft.streaming.QualityStream.monitor":
        deferred("2 QualityStreamSpec cases"),
    "graft.operators.ClusterStore.purgeSuperseded":
        deferred("ClusterStoreSpec 'purgeSuperseded: crash debris…' and "
                 "the purge step of SegmentStoreSpec 'relative store dir…'"),
}

TYPE_RE = re.compile(
    r"^(\s*)((?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*)"
    r"(object|class|trait)\s+(\w+)")
DEF_RE = re.compile(
    r"^(\s*)((?:(?:final|implicit|override|private(?:\[\w+\])?|"
    r"protected(?:\[\w+\])?|@\w+)\s+)*)def\s+([\w$]+|`[^`]+`)")
PKG_RE = re.compile(r"^package\s+([\w.]+)", re.M)


def strip(src, keep_strings):
    """Drop comments; blank string contents too unless keep_strings.
    Newlines are preserved so line numbers stay valid."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    if src[i] == "\n":
                        out.append("\n")
                    i += 1
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            body = src[i:j]
            out.append(body if keep_strings else
                       '""' + "".join(ch for ch in body if ch == "\n"))
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1] if keep_strings else '""')
            i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2 if src[i + 1] == "\\" else i + 1)
            out.append(src[i:j + 1] if keep_strings else "' '")
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def indent(line):
    return len(line) - len(line.lstrip(" "))


def block_end(lines, start):
    """Index past the block opened by lines[start]: the next non-blank
    line at the same or a smaller indent that is not a lone closer."""
    ind = indent(lines[start])
    for k in range(start + 1, len(lines)):
        s = lines[k].strip()
        if s and indent(lines[k]) <= ind:
            return k + 1 if s[0] in "})" else k
    return len(lines)


def scala_files(root, sub):
    base = os.path.join(root, sub)
    for d, _, fs in os.walk(base):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


class Source:
    def __init__(self, root, path):
        self.rel = os.path.relpath(path, root)
        raw = open(path, encoding="utf-8").read()
        self.code = strip(raw, keep_strings=True).split("\n")
        self.skel = strip(raw, keep_strings=False).split("\n")
        m = PKG_RE.search("\n".join(self.code))
        self.pkg = m.group(1) if m else ""

    def names(self, name, skip):
        """Lines (0-based) outside `skip` whose code names `name`."""
        pat = re.compile(r"(?<![\w$])" + re.escape(name) + r"(?![\w$])")
        return [k for k, l in enumerate(self.code)
                if k not in skip and pat.search(l)]

    def names_member(self, owner, name):
        """Whether this file names `owner.name`, qualified or through an
        import of the owner's members."""
        text = "\n".join(self.code)
        o, n = re.escape(owner), re.escape(name)
        if re.search(r"(?<![\w$])" + o + r"\s*\.\s*" + n + r"(?![\w$])", text):
            return True
        imported = re.search(
            r"import\s+[\w.]*(?<![\w$])" + o + r"\.(_|\{[^}]*(?<![\w$])"
            + n + r"(?![\w$])[^}]*\})", text)
        return bool(imported) and bool(self.names(name, set()))


def declarations(src):
    """(kind, qualified name, bare name, line, skip range, owner) for
    every top-level type and every public member def of a public type
    (`owner` is the simple name of a def's enclosing `object`, else
    None), and the (owner, bare name) of every member def of any type."""
    out, members, stack = [], set(), []  # stack: (indent, qn, public, object?)
    lines = src.skel
    for k, line in enumerate(lines):
        if not line.strip():
            continue
        ind = indent(line)
        while stack and stack[-1][0] >= ind:
            stack.pop()
        t = TYPE_RE.match(line)
        if t and "new " not in line[:line.find(t.group(3))]:
            owner = stack[-1][1] if stack else src.pkg
            qn = f"{owner}.{t.group(4)}"
            public = "private" not in t.group(2) and (not stack or stack[-1][2])
            if not stack:
                out.append(("type", qn, t.group(4), k,
                            range(k, block_end(lines, k)), None))
            stack.append((ind, qn, public, t.group(3) == "object"))
            continue
        d = DEF_RE.match(line)
        if d and stack and stack[-1][0] == ind - 2:
            mods, name = d.group(2), d.group(3)
            members.add((stack[-1][1], name))
            if (not stack[-1][2] or "private" in mods or "protected" in mods
                    or "override" in mods or name in SKIP_DEFS):
                continue
            owner = stack[-1][1].rsplit(".", 1)[1] if stack[-1][3] else None
            out.append(("def", f"{stack[-1][1]}.{name}", name, k,
                        range(k, block_end(lines, k)), owner))
    return out, members


def scan(root):
    mains = [Source(root, p) for p in scala_files(root, "src/main/scala")]
    bench = [Source(root, p) for p in scala_files(root, "perfbench/scala")]
    specs = [Source(root, p) for p in scala_files(root, "src/test/scala")]
    decls, members = [], set()
    for src in mains:
        ds, ms = declarations(src)
        decls += [(src, d) for d in ds]
        members |= ms
    # companions share a name: a type's own block is every block of it
    own = {}
    for src, (kind, qn, _, _, rng, _) in decls:
        if kind == "type":
            own.setdefault((src.rel, qn), set()).update(rng)
    unreached_types, rows = set(), []
    for src, (kind, qn, name, line, rng, owner) in decls:
        if qn in ROOTS or (kind == "def" and any(
                qn.startswith(t + ".") for t in unreached_types)):
            continue
        skip = own[(src.rel, qn)] if kind == "type" else set(rng)
        owner_qn = qn.rsplit(".", 1)[0]
        shared = owner is not None and any(
            m == name and o != owner_qn for o, m in members)
        others = [o for o in mains + bench if o is not src]
        reached = bool(src.names(name, skip)) or any(
            o.names_member(owner, name) if shared else o.names(name, set())
            for o in others)
        if reached:
            continue
        if kind == "type":
            unreached_types.add(qn)
        hits = sorted({os.path.basename(o.rel) for o in specs
                       if o.names(name, set())})
        rows.append((kind, qn, f"{src.rel}:{line + 1}", hits))
    return rows


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rows = scan(root)
    seen = set()  # a class and its companion object are one entry
    for kind, qn, where, hits in rows:
        if qn in seen:
            continue
        seen.add(qn)
        reason = KEEP.get(qn)
        print(f"{kind:4} {qn}  {where}  specs: {', '.join(hits) or '-'}"
              + (f"  keep: {reason}" if reason else ""))


if __name__ == "__main__":
    main()
