#!/usr/bin/env python3
"""One-time cross-check of the expected query outputs against the DuckDB
oracle, and (with --record) the tool that writes them.

Usage: python3 perfbench/oracle_xcheck.py [--record]

1. `graft.Verify` saves every query member of every workload at the
   benchmark's data scale as parquet, with `oracle_sql.json`;
2. `tools/check.py` compares each saved result that has an oracle against
   DuckDB (column names, Arrow types, row count and values);
3. the harness digests each saved result the way a run digests it, and the
   digests are compared with `perfbench/expected/sf0.1.json`; with
   `--record` that file is written from them instead (only results that
   pass the oracle, or have none, are recorded).

Run from the root of a graft checkout. Takes several minutes.
"""
import json
import subprocess
import sys
from pathlib import Path

import run

OUT = run.BUILD / "xcheck"


def main():
    record = "--record" in sys.argv[1:]
    argfile = run.build()
    members = sorted({m for w in run.SPEC["workloads"].values()
                      for m in w.get("members", [])})
    run.prepare(OUT)
    run.remove(OUT / "verify")
    java, env = run.java(argfile, OUT)
    with open(OUT / "verify.log", "w") as log:
        subprocess.run(java + ["graft.Verify", run.SPEC["data"], str(OUT / "verify")] + members,
                       env=env, cwd=OUT, check=True, stdout=subprocess.DEVNULL, stderr=log)
    chk = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check.py"),
                          run.SPEC["data"], str(OUT / "verify")] + members,
                         capture_output=True, text=True)
    oracle = {}
    for line in chk.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL", "NEAR"):
            oracle[rest.split(":")[0].split(" ")[0]] = word
    saved = [m for m in members if (OUT / "verify" / m).is_dir()]
    _, res = run.launch(argfile, OUT, {"mode": "digest", "members": ",".join(saved),
                                       "parquet_dir": OUT / "verify"})
    digests = {c["name"]: c for c in res["checks"]}
    expected = {} if record else json.loads(run.EXPECTED.read_text())
    bad = 0
    for m in members:
        o = oracle.get(m, "no oracle")
        d = digests.get(m)
        if d is None:
            print(f"FAIL {m}: graft.Verify saved no result")
            bad += 1
        elif o not in ("PASS", "no oracle"):
            print(f"FAIL {m}: oracle {o}")
            bad += 1
        elif record:
            expected[m] = {"rows": d["rows"], "digest": d["digest"]}
        else:
            want = expected.get(m, {})
            same = (want.get("rows"), want.get("digest")) == (d["rows"], d["digest"])
            print(f"{'PASS' if same else 'FAIL'} {m}: oracle {o}, expected digest "
                  f"{'matches' if same else 'differs'}")
            bad += not same
    if record:
        run.EXPECTED.parent.mkdir(exist_ok=True)
        run.EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
        print(f"recorded {len(expected)} of {len(members)}; {bad} not recorded")
    print(f"{len(members) - bad} pass / {bad} fail of {len(members)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
