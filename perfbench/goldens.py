#!/usr/bin/env python3
"""Record and cross-check the benchmark's goldens.

    python3 perfbench/goldens.py record
        For each fixture the workloads use, digest every workload key's
        result in two fresh JVMs and write goldens/<fixture>.tsv: key, row
        count, digest, and whether the two digests agreed (`stable`). A key
        whose digest differed is kept and marked `unstable`; the benchmark
        then checks only its row count and names it in its log.

    python3 perfbench/goldens.py oracle <fixture> <verify_out_dir>
        Digest the parquet results `graft.Verify` wrote for the fixture's
        keys and compare them with the goldens. Together with
        tools/preflight.py, which compares the same results with DuckDB,
        this shows that the goldens are the oracle-checked answers.
"""
import os
import sys

import run

GOLDENS = os.path.join(run.HERE, "goldens")


def digests(mode, fixture, keys, tag, **extra):
    base = {"fixture": run.fixture_dir(fixture), "cores": run.cores(),
            "keys": ",".join(keys), **extra}
    jvm = run.Jvm(mode, base, tag).wait()
    out = {}
    for line in jvm.lines.get("PERFBENCH_DIGEST", []):
        k, rows, h = line.split()
        out[k] = (int(rows), h)
    missing = sorted(set(keys) - set(out))
    if missing:
        run.fail(f"no digest for {', '.join(missing)}")
    return out


def keys_by_fixture():
    by = {}
    for w in run.load_workloads().values():
        by.setdefault(w["fixture"], []).extend(w["keys"])
    return {f: sorted(set(ks)) for f, ks in by.items()}


def record():
    run.build()
    os.makedirs(GOLDENS, exist_ok=True)
    for fixture, keys in keys_by_fixture().items():
        a = digests("goldens", fixture, keys, f"goldens-{fixture}-a")
        b = digests("goldens", fixture, keys, f"goldens-{fixture}-b")
        unstable = [k for k in keys if a[k] != b[k]]
        for k in unstable:
            run.log(f"{fixture} {k}: digest differs between two runs: {a[k]} vs {b[k]}")
        with open(os.path.join(GOLDENS, f"{fixture}.tsv"), "w") as f:
            f.write("# key\trows\tdigest\tstable|unstable\n")
            for k in keys:
                f.write(f"{k}\t{a[k][0]}\t{a[k][1]}\t{'unstable' if k in unstable else 'stable'}\n")
        run.log(f"{fixture}: {len(keys)} goldens, {len(unstable)} unstable")


def oracle(fixture, verify_dir):
    run.build()
    with open(os.path.join(GOLDENS, f"{fixture}.tsv")) as f:
        gold = {l.split("\t")[0]: l.rstrip("\n").split("\t")[1:]
                for l in f if l.strip() and not l.startswith("#")}
    keys = sorted(k for k in gold if os.path.isdir(os.path.join(verify_dir, k)))
    got = digests("digest", fixture, keys, f"oracle-{fixture}",
                  dir=os.path.abspath(verify_dir))
    bad = [k for k in keys
           if got[k][0] != int(gold[k][0]) or (gold[k][2] == "stable" and got[k][1] != gold[k][1])]
    for k in bad:
        run.log(f"{k}: verify output {got[k]}, golden {gold[k]}")
    print(f"{len(keys) - len(bad)} of {len(keys)} Verify results match the {fixture} goldens"
          f" ({len(gold) - len(keys)} goldens without a Verify result)")
    return 1 if bad else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["record"]:
        record()
    elif sys.argv[1:2] == ["oracle"] and len(sys.argv) == 4:
        sys.exit(oracle(sys.argv[2], sys.argv[3]))
    else:
        run.fail(__doc__)
