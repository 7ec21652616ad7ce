#!/usr/bin/env python3
"""Driver-artifact tripwire (r16 verdict #1, the round's lead item).

Usage: python3 tools/tripwire.py <CORRECTNESS_rN.json> [catalog dir]

Round 16's official correctness record arrived as a literal `{}` — a
driver-side artifact failure that nothing in the repo could catch, so
an empty file was indistinguishable from "no failures". This script
exits non-zero whenever a driver correctness artifact holds FEWER
entries than `SparkEntry.queries` declares, so a silently-empty (or
silently-truncated) artifact can never again read as all-green.

The expected count comes from the query keys declared in the catalog
(the `Query("qNNN_name", …)` entries in the .scala files under
src/main/scala/graft/catalog/ — the same keys Verify writes as output
dirs and compare.py judges).
Supported artifact shapes: a {name: status} map (possibly nested under
a "queries" key), or a list of per-query entries.
"""
import glob, json, os, re, sys


def expected_queries(catalog_dir):
    names = []
    for f in sorted(glob.glob(os.path.join(catalog_dir, "*.scala"))):
        src = open(f, encoding="utf-8").read()
        names += re.findall(r'\bQuery\(\s*"(q[0-9]+[a-z0-9_]*)"', src)
    return sorted(set(names))


def artifact_entries(path):
    d = json.load(open(path))
    if isinstance(d, dict) and isinstance(d.get("queries"), (dict, list)):
        d = d["queries"]
    if isinstance(d, dict):
        return sorted(d.keys())
    if isinstance(d, list):
        out = []
        for e in d:
            if isinstance(e, dict):
                out.append(e.get("query") or e.get("name") or repr(e))
            else:
                out.append(str(e))
        return sorted(out)
    return []


def main(artifact, catalog_dir="src/main/scala/graft/catalog"):
    expected = expected_queries(catalog_dir)
    if not expected:
        print(f"TRIPWIRE: could not parse any query keys from {catalog_dir}")
        return 2
    got = artifact_entries(artifact)
    missing = sorted(set(expected) - set(got))
    print(f"declared queries: {len(expected)}; artifact entries: {len(got)}")
    if missing:
        print(f"TRIPWIRE: {artifact} holds {len(got)} entries but "
              f"the catalog declares {len(expected)} — the "
              "artifact is empty or truncated, NOT all-green. "
              f"First missing: {missing[:10]}")
        return 1
    print("artifact covers every declared query")
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
