#!/usr/bin/env python3
"""Compare VerifyMulti's per-SF dumps against the DuckDB oracle and merge
them into the committed multi-SF correctness artifact.

Usage: python3 tools/check_multi.py <outRoot> <artifact.json> [round]
                                    [--merge-into CORRECTNESS_multi_full.json]

<outRoot> is `runMain graft.VerifyMulti <outRoot> <names | ALL>`'s output
root: one check.py-layout dir per scale factor (sf0.001/sf0.01/sf0.1).
Each SF's DuckDB compare runs via check.compare; this run's statuses land
in <artifact.json> — a scratch path, not a committed file — as one row
per query:

    {"round": 13,
     "sfs": ["sf0.001", "sf0.01", "sf0.1"],
     "queries": {"q_x": {"sf0.001": "ok", "sf0.01": "ok", "sf0.1": "ok"}},
     "summary": {"n_queries": 1, "n_green": 1, "all_ok": true}}

--merge-into folds this run's per-query rows into the committed
full-registry artifact (CORRECTNESS_multi_full.json): existing rows for
the same queries are replaced, the summary recomputed, and the round
stamp updated.

Exit 1 unless every query is "ok" at every SF. VerifyMultiSpec pins that
every live query has a fully-green row in CORRECTNESS_multi_full.json.
"""
import json, os, sys
import check

SFS = ["sf0.001", "sf0.01", "sf0.1"]
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")

def merge_full(full_path, rnd, queries):
    """Fold this run's rows into the cumulative full artifact."""
    full = {"round": rnd, "sfs": SFS, "queries": {}}
    if os.path.exists(full_path):
        with open(full_path) as f:
            full = json.load(f)
    full["round"] = rnd if rnd is not None else full.get("round")
    if full["round"] is None:
        sys.exit(f"{full_path}: no round stamp — pass the round argument "
                 "(a null round in the committed artifact hides which "
                 "round last verified these rows)")
    full.setdefault("queries", {}).update(queries)
    full["queries"] = dict(sorted(full["queries"].items()))
    n_green = sum(1 for v in full["queries"].values()
                  if all(v.get(sf) == "ok" for sf in SFS))
    full["summary"] = {"n_queries": len(full["queries"]),
                       "n_green": n_green,
                       "all_ok": n_green == len(full["queries"])}
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    print(f"== merged {len(queries)} rows into {full_path} "
          f"({n_green}/{len(full['queries'])} green)")

def main():
    args = sys.argv[1:]
    full_path = None
    if "--merge-into" in args:
        i = args.index("--merge-into")
        full_path = args[i + 1]
        args = args[:i] + args[i + 2:]
    out_root, artifact = args[0], args[1]
    rnd = int(args[2]) if len(args) > 2 else None
    merged = {}
    for sf in SFS:
        outdir = f"{out_root}/{sf}"
        if not os.path.isdir(outdir):
            sys.exit(f"missing VerifyMulti dump dir: {outdir}")
        print(f"-- {sf}")
        for name, status in check.compare(f"{TESTDATA}/{sf}", outdir).items():
            merged.setdefault(name, {})[sf] = status
    n_green = sum(1 for v in merged.values()
                  if all(v.get(sf) == "ok" for sf in SFS))
    doc = {
        "round": rnd,
        "sfs": SFS,
        "queries": {k: {sf: v.get(sf, "missing") for sf in SFS}
                    for k, v in sorted(merged.items())},
        "summary": {"n_queries": len(merged), "n_green": n_green,
                    "all_ok": n_green == len(merged)},
    }
    with open(artifact, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    print(f"== {n_green}/{len(merged)} queries green at all "
          f"{len(SFS)} SFs -> {artifact}")
    if full_path:
        merge_full(full_path, rnd, doc["queries"])
    sys.exit(0 if n_green == len(merged) else 1)

if __name__ == "__main__":
    main()
