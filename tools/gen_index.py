#!/usr/bin/env python3
"""Generate queries_index.json — the machine-readable coverage index.

Usage: python3 tools/gen_index.py [--probe <scaleprobe8.log> ...]
                                  [--probe64 <scaleprobe64.log> ...]
                                  [--probe-shifted <scaleprobe.log> ...]
                                  [--probe-shifted64 <scaleprobe.log> ...]
                                  [--probe-split64 <scaleprobe.log> ...]
                                  [--probe-stream <scaleprobe.log> ...]
                                  [--probe-stream64 <scaleprobe.log> ...]
                                  [--fresh]

--probe-split64 files `[scale-split] q_x:phase ...` rows as flat
probe_ratio_64x_shifted_<phase> keys on the query's row (the r16
copurchase adjudication: which PHASE carries a shifted ratio's excess).
--probe-stream/--probe-stream64 file `[scale-ss-w] w_x ...` rows into a
top-level `stream_probes` object — wall-clock probes of non-registry
surfaces (the streamed substring ingest), merged like query fields.

One row per SparkEntry.queries entry:
    {"q_x": {"entry": "src/main/scala/graft/SparkEntry.scala:244",
             "impl": "src/main/scala/graft/ops/Analytics.scala:333",
             "oracle": "src/main/scala/graft/Oracle.scala:87",
             "spec": "src/test/scala/graft/ops/AnalyticsSpec.scala",
             "probe_ratio_8x": 1.2,
             "probe_ratio_64x": 2.1,          # top-50 covered set only
             "probe_ratio_8x_shifted": 1.3}}  # graph family + q_order_gaps

probe_ratio_64x (r14 verdict task 3) comes from `ScaleProbe 64 only ...`
logs over the most expensive plans; it is emitted ONLY for queries the 64x
runs covered — never null (QueriesIndexSpec pins coverage size and
no-null). probe_ratio_8x_shifted (task 7) carries the shifted-builder
adjudications — the [scale-part] graph-family rows and the [scale-cust]
q_order_gaps row — so the densification-artifact-vs-plan verdicts travel
with the index instead of living in prose.

Probe fields MERGE with the committed index: a regeneration without probe
logs (mid-round, after adding a query) keeps the previous round's measured
ratios instead of nulling total coverage; logs passed on the command line
always win. `--fresh` disables the merge entirely — every probe field is
rebuilt from the logs on THIS command line only, which is how a stale
committed ratio (e.g. after a query's implementation changed) is cleared
without hand-editing queries_index.json.

With `--round N`, every ratio measured from THIS command line's logs is
stamped `probe_round_<tier>: N` (flat keys beside the ratio); merged
ratios keep their previous stamp. A ratio whose stamp predates the query
implementation's last change is the stale-adjudication smell the r15
advice named — visible now instead of inferable.

Exactness baselines carry a `scale_twin` field (SCALE_TWINS below): the
six queries that are deliberate quadratic/full-corpus monitors name their
bounded production sibling, so an index reader separates "production
path" from "exactness baseline" mechanically instead of via
ARCHITECTURE prose. `probe_ratio_64x_shifted` rows (from
--probe-shifted64 logs) carry the key-shifted adjudications at the 64x
tier for the densification-artifact families.

- entry: the registration line in SparkEntry.scala (always present).
- impl: the definition site of the first graft method the entry's lambda
  calls (resolved by scanning main sources for `def`/`val` declarations);
  falls back to the entry line for inline compositions.
- oracle: the `"q_x" ->` line in Oracle.scala.
- spec: the first test source mentioning the impl method (or query name).
- probe_ratio_8x: cross-run MIN of the query's ratio over the `[scale]`
  lines of the probe logs passed via --probe (null when no log given).

QueriesIndexSpec pins the key set to SparkEntry.queries, so adding a
query without regenerating the index is a red build.
"""
import json, os, re, subprocess, sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Queries deliberately carrying NO probe ratio, each with its reason —
# QueriesIndexSpec requires every query (outside the current round's
# newThisRound window) to have either a measured probe_ratio_8x or an
# entry here; a silent null can no longer read as coverage (r13 verdict
# task 4). Currently empty: the probe list is derived from the registry,
# so every query gets a ratio at round close.
PROBE_EXEMPT = {}

# Exactness baselines -> their bounded production sibling (r15 verdict
# task 2). These queries exist to MONITOR a scale path, so their own probe
# ratios are quadratic/full-corpus by design; the twin is the query a
# 100 TB deployment actually serves with. "by_design" marks a monitor
# whose whole job is paying both sides (it licenses the trainer swap).
SCALE_TWINS = {
    "q_dedup_embedding": "q_dedup_embedding_ivf",
    "q_ann_rank_stability": "q_ann_rank_stability_sampled",
    "q_pq_adc_topk": "q_ivfpq_topk",
    "q_ann_kmeans_assign": "q_ann_kmeans_assign_sampled",
    "q_knn_components": "q_knn_components_sampled",
    "q_kmeans_sample_drift": "by_design",
}
ENTRY_FILE = "src/main/scala/graft/SparkEntry.scala"
ORACLE_FILE = "src/main/scala/graft/Oracle.scala"

def read(path):
    with open(os.path.join(ROOT, path)) as f:
        return f.read()

def scala_sources(root_rel):
    out = []
    for dirpath, dirs, files in os.walk(os.path.join(ROOT, root_rel)):
        dirs.sort()  # a walk order independent of the filesystem's
        for fn in sorted(files):
            if fn.endswith(".scala"):
                out.append(os.path.relpath(os.path.join(dirpath, fn), ROOT))
    return out

def strip_comment(line):
    """`line` without its `//` comment (a `//` inside a string literal is
    kept), so a comment's words never become search tokens."""
    in_str, i = False, 0
    while i < len(line):
        if line[i] == '"':
            in_str = not in_str
        elif line[i] == "\\" and in_str:
            i += 1
        elif not in_str and line.startswith("//", i):
            return line[:i]
        i += 1
    return line

def code_lines(path):
    """`path`'s lines with `//` comments stripped (line numbers kept)."""
    return [strip_comment(l) for l in read(path).split("\n")]

def parse_entries():
    """{name: (entry_line, rhs_text)} in registration order."""
    lines = code_lines(ENTRY_FILE)
    starts = []  # (idx, name)
    for i, l in enumerate(lines):
        m = re.search(r'"(q_\w+)"\s*->', l)
        if m:
            starts.append((i, m.group(1)))
    entries = {}
    # the LAST registration has no successor to bound it: slice to the end
    # of the queries map (the first subsequent top-level member/Scaladoc),
    # not a fixed window that could truncate a long final lambda
    def map_end(start):
        for k in range(start + 1, len(lines)):
            if re.match(r"^  (def |(?:lazy )?val |/\*\*|}$)", lines[k]):
                return k
        return len(lines)
    for j, (i, name) in enumerate(starts):
        end = starts[j + 1][0] if j + 1 < len(starts) else map_end(i)
        rhs = "\n".join(lines[i:end])
        entries[name] = (i + 1, rhs)
    return entries

def build_decl_index():
    """{(Object, member): 'file:line'} for every def/val in main sources."""
    decl = {}
    for path in scala_sources("src/main/scala"):
        obj = None
        for i, l in enumerate(code_lines(path)):
            m = re.search(r"\bobject\s+(\w+)", l)
            if m:
                obj = m.group(1)
            m = re.search(r"\b(?:def|(?:lazy\s+)?val)\s+(\w+)\b", l)
            if m and obj:
                decl.setdefault((obj, m.group(1)), f"{path}:{i + 1}")
    return decl

def resolve_impl(rhs, decl, entry_loc):
    # explicit Object.method calls (skip the registration helpers); the
    # (spark, dir) wrappers delegate to a testable `*Of` core — anchor there
    # when one exists
    for obj, meth in re.findall(r"\b([A-Z]\w+)\.(\w+)", rhs):
        if (obj, meth) in (("Pipeline", "of"), ("SparkEntry", "queries")):
            continue
        loc = decl.get((obj, meth + "Of")) or decl.get((obj, meth))
        if loc:
            return loc
    # Pipeline.of(s, d).member property accesses
    for meth in re.findall(r"Pipeline\.of\([^)]*\)\.(\w+)", rhs):
        loc = decl.get(("Pipeline", meth))
        if loc:
            return loc
    return entry_loc

def parse_oracle_lines():
    out = {}
    for i, l in enumerate(read(ORACLE_FILE).split("\n")):
        m = re.search(r'"(q_\w+)"\s*->', l)
        if m:
            out.setdefault(m.group(1), f"{ORACLE_FILE}:{i + 1}")
    return out

def find_spec(name, impl_loc, rhs, test_texts):
    # candidate tokens: the impl declaration's name, then every method the
    # entry's lambda calls (and its `*Of` core sibling), then the query name
    tokens = []
    m = re.search(r"/(\w+)\.scala:(\d+)$", impl_loc)
    if m:
        path = impl_loc.split(":")[0]
        line_no = int(impl_loc.split(":")[1])
        line = read(path).split("\n")[line_no - 1]
        d = re.search(r"\b(?:def|(?:lazy\s+)?val)\s+(\w+)\b", line)
        if d:
            tokens.append(d.group(1))
    for obj, meth in re.findall(r"\b([A-Z]\w+)\.(\w+)", rhs):
        if (obj, meth) != ("Pipeline", "of"):
            tokens += [meth + "Of", meth]
    tokens.append(name)
    for tok in tokens:
        pat = re.compile(r"\b" + re.escape(tok) + r"\b")
        for path, text in test_texts:
            if pat.search(text):
                return path
    return None

def parse_probe_logs(paths, tag="scale"):
    """Cross-run MIN ratio per query over `[<tag>] q_x  t1 tN ratio` rows."""
    ratios = {}
    for p in paths:
        with open(p) as f:
            for l in f:
                m = re.match(r"\[" + tag + r"\]\s+(q_\w+)\s+([\d.]+)\s+([\d.]+)\s+([\d.]+)", l)
                if m:
                    name, r = m.group(1), float(m.group(4))
                    ratios[name] = min(r, ratios.get(name, float("inf")))
    return ratios

def parse_shifted_logs(paths):
    """Shifted-builder adjudication rows: the [scale-part] per-query table,
    the [scale-cust] one-liner (`... ratio=R`), and the [scale-ss-q]
    fixed-increment substring check row (r16 verdict task 5 — the
    substring serving path's 'shifted' treatment holds the increment
    fixed while the index grows N x)."""
    ratios = parse_probe_logs(paths, tag="scale-part")
    for name, r in parse_probe_logs(paths, tag="scale-ss-q").items():
        ratios[name] = min(r, ratios.get(name, float("inf")))
    for p in paths:
        with open(p) as f:
            for l in f:
                m = re.match(r"\[scale-cust\]\s+(q_\w+)\s.*ratio=([\d.]+)", l)
                if m:
                    name, r = m.group(1), float(m.group(2))
                    ratios[name] = min(r, ratios.get(name, float("inf")))
    return ratios

def parse_split_logs(paths):
    """Per-phase split rows (`[scale-split] q_x:phase t1 tN ratio`):
    {(query, phase): min ratio}. The copurchase-split adjudication —
    which PHASE of a two-phase plan carries a shifted ratio's excess."""
    out = {}
    for p in paths:
        with open(p) as f:
            for l in f:
                m = re.match(r"\[scale-split\]\s+(q_\w+):(\w+)\s+([\d.]+)"
                             r"\s+([\d.]+)\s+([\d.]+)", l)
                if m:
                    key, r = (m.group(1), m.group(2)), float(m.group(5))
                    out[key] = min(r, out.get(key, float("inf")))
    return out

def parse_stream_logs(paths):
    """Streamed-cycle probe rows (`[scale-ss-w] w_x t1 tN ratio`) — the
    non-registry wall-clock probes (stream ingest drains) that land in
    the top-level stream_probes object."""
    out = {}
    for p in paths:
        with open(p) as f:
            for l in f:
                m = re.match(r"\[scale-ss-w\]\s+(w_\w+)\s+([\d.]+)\s+"
                             r"([\d.]+)\s+([\d.]+)", l)
                if m:
                    name, r = m.group(1), float(m.group(4))
                    out[name] = min(r, out.get(name, float("inf")))
    return out

def load_existing():
    """Previously committed index doc (probe-field merge source)."""
    path = os.path.join(ROOT, "queries_index.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)

def main():
    probe_logs, probe64_logs, shifted_logs, shifted64_logs = [], [], [], []
    split64_logs, stream_logs, stream64_logs = [], [], []
    fresh = False
    rnd = None
    args = sys.argv[1:]
    while args:
        if args[0] == "--probe":
            probe_logs.append(args[1]); args = args[2:]
        elif args[0] == "--probe64":
            probe64_logs.append(args[1]); args = args[2:]
        elif args[0] == "--probe-shifted":
            shifted_logs.append(args[1]); args = args[2:]
        elif args[0] == "--probe-shifted64":
            shifted64_logs.append(args[1]); args = args[2:]
        elif args[0] == "--probe-split64":
            split64_logs.append(args[1]); args = args[2:]
        elif args[0] == "--probe-stream":
            stream_logs.append(args[1]); args = args[2:]
        elif args[0] == "--probe-stream64":
            stream64_logs.append(args[1]); args = args[2:]
        elif args[0] == "--fresh":
            fresh = True; args = args[1:]
        elif args[0] == "--round":
            rnd = int(args[1]); args = args[2:]
        else:
            sys.exit(f"unknown arg {args[0]}")
    entries = parse_entries()
    decl = build_decl_index()
    oracle = parse_oracle_lines()
    existing_doc = {} if fresh else load_existing()
    existing = existing_doc.get("queries", {})
    ratios = parse_probe_logs(probe_logs)
    ratios64 = parse_probe_logs(probe64_logs)
    shifted = parse_shifted_logs(shifted_logs)
    shifted64 = parse_shifted_logs(shifted64_logs)
    split64 = parse_split_logs(split64_logs)
    stream = parse_stream_logs(stream_logs)
    stream64 = parse_stream_logs(stream64_logs)
    for twin in SCALE_TWINS.values():
        if twin != "by_design" and twin not in entries:
            sys.exit(f"SCALE_TWINS names unknown query {twin}")
    for base in SCALE_TWINS:
        if base not in entries:
            sys.exit(f"SCALE_TWINS key {base} is not a registered query")
    test_texts = [(p, read(p)) for p in scala_sources("src/test/scala")]
    index = {}
    for name, (line, rhs) in sorted(entries.items()):
        entry_loc = f"{ENTRY_FILE}:{line}"
        impl = resolve_impl(rhs, decl, entry_loc)
        prev = existing.get(name, {})
        index[name] = {
            "entry": entry_loc,
            "impl": impl,
            "oracle": oracle.get(name),
            "spec": find_spec(name, impl, rhs, test_texts),
            "probe_ratio_8x": ratios.get(name, prev.get("probe_ratio_8x")),
        }
        def round_stamp(tier, fresh_hit):
            """probe_round_<tier>: this round for fresh ratios, the prior
            stamp for merged ones (flat keys — the spec's per-query body
            regex stops at the first nested brace)."""
            stamp = rnd if fresh_hit else prev.get(f"probe_round_{tier}")
            if stamp is not None:
                index[name][f"probe_round_{tier}"] = stamp
        if index[name]["probe_ratio_8x"] is not None:
            round_stamp("8x", name in ratios)
        # 64x / shifted fields: emitted only where measured (fresh log or
        # committed value) — no nulls, so absence = outside the covered set
        r64 = ratios64.get(name, prev.get("probe_ratio_64x"))
        if r64 is not None:
            index[name]["probe_ratio_64x"] = r64
            round_stamp("64x", name in ratios64)
        rsh = shifted.get(name, prev.get("probe_ratio_8x_shifted"))
        if rsh is not None:
            index[name]["probe_ratio_8x_shifted"] = rsh
            round_stamp("8x_shifted", name in shifted)
        rsh64 = shifted64.get(name, prev.get("probe_ratio_64x_shifted"))
        if rsh64 is not None:
            index[name]["probe_ratio_64x_shifted"] = rsh64
            round_stamp("64x_shifted", name in shifted64)
        for (q, phase), r in sorted(split64.items()):
            if q == name:
                index[name][f"probe_ratio_64x_shifted_{phase}"] = r
                round_stamp(f"64x_shifted_{phase}", True)
        for k, v in prev.items():  # merged split rows from prior rounds
            if k.startswith("probe_ratio_64x_shifted_") and k not in index[name]:
                index[name][k] = v
                stamp_key = "probe_round_" + k[len("probe_ratio_"):]
                if stamp_key in prev:
                    index[name][stamp_key] = prev[stamp_key]
        if name in SCALE_TWINS:
            index[name]["scale_twin"] = SCALE_TWINS[name]
        if name in PROBE_EXEMPT:
            index[name]["probe_exempt"] = PROBE_EXEMPT[name]
    # non-registry wall-clock probes (streamed ingest drains): merged like
    # the per-query fields — fresh logs win, committed values persist
    streams = dict(existing_doc.get("stream_probes", {}))
    for name, r in stream.items():
        row = streams.setdefault(name, {})
        row["probe_ratio_8x"] = r
        if rnd is not None:
            row["probe_round_8x"] = rnd
    for name, r in stream64.items():
        row = streams.setdefault(name, {})
        row["probe_ratio_64x"] = r
        if rnd is not None:
            row["probe_round_64x"] = rnd
    doc = {"n_queries": len(index), "queries": index}
    if streams:
        doc["stream_probes"] = dict(sorted(streams.items()))
    out = os.path.join(ROOT, "queries_index.json")
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    n_oracle = sum(1 for v in index.values() if v["oracle"])
    n_spec = sum(1 for v in index.values() if v["spec"])
    n_probe = sum(1 for v in index.values() if v["probe_ratio_8x"] is not None)
    print(f"queries_index.json: {len(index)} queries, {n_oracle} with oracle "
          f"anchor, {n_spec} with spec, {n_probe} with probe ratio")
    if probe_logs:
        gaps = [n for n, v in index.items()
                if v["probe_ratio_8x"] is None and n not in PROBE_EXEMPT]
        if gaps:
            sys.exit("probe coverage gaps (no ratio, no PROBE_EXEMPT "
                     f"marker): {', '.join(sorted(gaps))}")

if __name__ == "__main__":
    main()
