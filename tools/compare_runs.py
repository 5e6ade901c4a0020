#!/usr/bin/env python3
"""Compare two runs of the registry for an invariant-preserving change.

  compare_runs.py dumps <verify_dir_a> <verify_dir_b>
      Two `graft.Verify` dump directories. Every query must hold the same
      rows in both, compared as an order-insensitive multiset of rows
      (column names included, values exact: doubles are not rounded).
      `oracle_sql.json` must have the same keys in both, and each SQL
      string must be equal after whitespace normalization.

  compare_runs.py explain <explain_out_a> <explain_out_b>
      Two `graft.Explain` outputs (stdout, with or without sbt's `[info] `
      prefix). Each query's plan is compared after masking what varies
      between JVMs: expression ids (`#123`), plan ids, temp-dir names,
      RDD ids, lambda identities (with the class that defines the
      lambda), hash identities, and `File.scala:123` call sites. Log
      lines are dropped.

      The order of the `Expand` groups of a multi-distinct aggregate
      follows expression-id hashes, so it can move with the number of
      expressions that earlier queries in the same JVM created. Re-run a
      query that differs only there alone on both sides
      (`runMain graft.Explain <sfDir> <name>`) before calling it a change.

Each mode prints the names that differ and exits 1 if any do.
"""
import collections
import glob
import json
import os
import re
import sys


def _rows(qdir):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
    if not files:
        return None
    tables = [pq.read_table(f) for f in files]
    names = tuple(tables[0].column_names)
    rows = collections.Counter()
    for t in tables:
        if tuple(t.column_names) != names:
            return ("columns differ between files", t.column_names)
        for r in t.to_pylist():
            rows[tuple(repr(r[c]) for c in names)] += 1
    return names, rows


def _queries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def compare_dumps(a, b):
    bad = []
    qa, qb = _queries(a), _queries(b)
    for n in sorted(qa ^ qb):
        bad.append(f"{n}: dumped on one side only")
    for n in sorted(qa & qb):
        ra, rb = _rows(os.path.join(a, n)), _rows(os.path.join(b, n))
        if ra is None or rb is None:
            if ra is not rb:
                bad.append(f"{n}: no parquet on one side")
        elif ra[0] != rb[0]:
            bad.append(f"{n}: columns {list(ra[0])} != {list(rb[0])}")
        elif ra[1] != rb[1]:
            extra = sum((ra[1] - rb[1]).values())
            missing = sum((rb[1] - ra[1]).values())
            bad.append(f"{n}: rows differ ({extra} only in a, "
                       f"{missing} only in b)")
    oa = json.load(open(os.path.join(a, "oracle_sql.json")))
    ob = json.load(open(os.path.join(b, "oracle_sql.json")))
    for n in sorted(set(oa) ^ set(ob)):
        bad.append(f"oracle_sql.json: {n} on one side only")
    ws = lambda s: " ".join(s.split())
    for n in sorted(set(oa) & set(ob)):
        if ws(oa[n]) != ws(ob[n]):
            bad.append(f"oracle_sql.json: {n} SQL differs")
    print(f"{len(qa & qb)} common dumps, {len(set(oa) & set(ob))} common "
          f"oracle keys")
    return bad


HEADER = re.compile(r"^=+ (\S+) =+$")
LOG = re.compile(r"^(\[(error|warn|success)\]|\d\d/\d\d/\d\d \d\d:\d\d:\d\d )")
MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b\w+\.scala:\d+"), "X.scala:N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\brdd_\d+(_\d+)?"), "rdd_N"),
    (re.compile(r"[\w.$]*\$\$Lambda\$?[\w/$]*"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@H"),
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                r"[0-9a-f]{12}\b"), "UUID"),
    (re.compile(r"(graft|spark|blockmgr|temporary)-[\w.-]*?\d{3,}[\w.-]*"),
     r"\1-TMP"),
    (re.compile(r"/tmp/[\w./-]*"), "/tmp/PATH"),
]


def _plans(path):
    plans, cur = {}, None
    for raw in open(path, encoding="utf-8", errors="replace"):
        line = raw.rstrip("\n")
        if line.startswith("[info] "):
            line = line[len("[info] "):]
        elif line == "[info]":
            line = ""
        if LOG.match(line):
            continue
        m = HEADER.match(line.strip())
        if m:
            cur = m.group(1)
            plans[cur] = []
            continue
        if cur is None:
            continue
        for pat, rep in MASKS:
            line = pat.sub(rep, line)
        plans[cur].append(line.rstrip())
    return {n: "\n".join(ls).strip() for n, ls in plans.items()}


def compare_explain(a, b):
    pa, pb = _plans(a), _plans(b)
    bad = [f"{n}: explained on one side only" for n in sorted(set(pa) ^ set(pb))]
    bad += [f"{n}: plan differs" for n in sorted(set(pa) & set(pb))
            if pa[n] != pb[n]]
    print(f"{len(set(pa) & set(pb))} common plans")
    return bad


def main(argv):
    if len(argv) != 4 or argv[1] not in ("dumps", "explain"):
        print(__doc__)
        return 2
    mode, a, b = argv[1:]
    bad = compare_dumps(a, b) if mode == "dumps" else compare_explain(a, b)
    for line in bad:
        print("DIFF " + line)
    print(f"{len(bad)} difference(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
