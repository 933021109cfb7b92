#!/usr/bin/env python3
"""Layer-traced benchmark of the graft registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (a fixed set of registry keys, see workloads.json) in one
JVM with the `graft.Bench` session config, as a closed loop: one client, one
key at a time. The seed only permutes the order of the keys within a pass.
The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. README.md describes
the workloads and metrics.

The first run in a checkout builds the harness (sbt, offline) and, for the
sf1 workload, generates the sf1 fixture from the committed sf0.1 one. All
state lives under perfbench/.work; every run starts from a fresh index,
warehouse and Spark scratch directory there.
"""
import argparse
import hashlib
import json
import os
import selectors
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
FIXTURES = os.path.join(HERE, "fixtures")
LAUNCH = os.path.join(WORK, "launch.txt")

# (name, unit): reported with --trace 0, from runs with tracing off
END_TO_END = [
    ("setup_s", "s"),
    ("cold_pass_s", "s"),
    ("warm_pass_s", "s"),
    ("live_heap_peak_mb", "MB"),
]

# (name, unit): reported with --trace 1, from the traced passes of a run
PER_LAYER = [
    ("tables.register_s", "s"),
    ("scan.bytes", "bytes"),
    ("scan.rows", "count"),
    ("construct.wall_s", "s"),
    ("construct.jobs", "count"),
    ("plan.analysis_s", "s"),
    ("plan.optimization_s", "s"),
    ("plan.planning_s", "s"),
    ("plan.queries", "count"),
    ("sched.jobs", "count"),
    ("sched.stages", "count"),
    ("sched.tasks", "count"),
    ("sched.idle_s", "s"),
    ("sched.util", "ratio"),
    ("task.run_s", "s"),
    ("task.cpu_s", "s"),
    ("task.gc_s", "s"),
    ("task.failed", "count"),
    ("shuffle.write_bytes", "bytes"),
    ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"),
    ("spill.bytes", "bytes"),
    ("index.artifact_bytes", "bytes"),
    ("index.publishes", "count"),
    ("leak.persisted_rdds", "count"),
    ("leak.cached_bytes", "bytes"),
    ("leak.conf_keys", "count"),
    ("leak.temp_views", "count"),
    ("jvm.jit_s", "s"),
    ("jvm.gc_s", "s"),
    ("codegen.compilations", "count"),
    ("write_s", "s"),
    ("read_s", "s"),
    ("failed_frac", "ratio"),
    ("trace.overhead_frac", "ratio"),
]

JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def families(workloads):
    """Key prefixes across all workloads, in first-seen order."""
    seen = []
    for w in workloads.values():
        for k in w["keys"]:
            p = k.split("_")[0]
            if p not in seen:
                seen.append(p)
    return seen


def per_layer_metrics(workloads):
    return PER_LAYER + [(f"family.{p}.warm_s", "s") for p in families(workloads)]


def build_inputs():
    """Files whose content decides the build."""
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            paths += [os.path.join(d, f) for f in files]
    return sorted(paths)


def build():
    """Compile the library and the harness once per source state."""
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(LAUNCH) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    log("building the library and the harness (sbt, offline)")
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.perf_counter()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.perf_counter() - t0:.1f} s")


def md5(path):
    h = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def fixture_files(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.relpath(os.path.join(d, f), root) for f in files]
    return sorted(out)


def expected_md5s(name):
    with open(os.path.join(FIXTURES, f"{name}.md5")) as f:
        return dict(reversed(line.split()) for line in f if line.strip())


def check_fixture(name, root):
    """The fixture's files are exactly those recorded, byte for byte."""
    want = expected_md5s(name)
    got = {p: md5(os.path.join(root, p)) for p in fixture_files(root)}
    bad = sorted(p for p in set(want) | set(got) if want.get(p) != got.get(p))
    if bad:
        fail(f"fixture {name} differs from {name}.md5: {', '.join(bad[:5])}", 4)


def row_counts(root):
    import pyarrow.parquet as pq
    return {t[:-len(".parquet")]: pq.ParquetDataset(os.path.join(root, t)).read(
        columns=[]).num_rows for t in sorted(os.listdir(root)) if t.endswith(".parquet")}


def make_sf1():
    """Generate the sf1 fixture once: 10x replication of sf0.1 with fresh keys
    (the repository's tools/make_sf1.py), then check its row counts."""
    dst, done = os.path.join(WORK, "sf1"), os.path.join(WORK, "sf1.complete")
    if os.path.exists(done):
        return dst
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    log("generating the sf1 fixture")
    with open(os.path.join(WORK, "make_sf1.log"), "w") as out:
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "make_sf1.py"),
                            os.path.join(FIXTURES, "sf0.1"), tmp, "10"],
                           stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=600)
    if r.returncode != 0:
        fail("sf1 generation failed, see make_sf1.log", 4)
    small, big = row_counts(os.path.join(FIXTURES, "sf0.1")), row_counts(tmp)
    for t, n in small.items():
        want = n if t in ("region", "nation") else 10 * n
        if big.get(t) != want:
            fail(f"sf1 {t} has {big.get(t)} rows, expected {want}", 4)
    os.rename(tmp, dst)
    open(done, "w").close()
    return dst


def fixture_dir(name):
    root = make_sf1() if name == "sf1" else os.path.join(FIXTURES, name)
    check_fixture(name, root)
    return root


def driver_mem():
    """SPARK_DRIVER_MEM, else half the host's memory clamped to 2..8 GB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java_command(mode, opts):
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    sep = lines.index("--")
    cp, jvm = lines[:sep], [o for o in lines[sep + 1:] if not o.startswith("-Xmx")]
    return (["java"] + jvm + [f"-Xmx{driver_mem()}", "-cp", os.pathsep.join(cp),
            "perfbench.Harness", mode] + [f"{k}={v}" for k, v in opts.items()])


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


class Jvm:
    """One harness JVM in a fresh run directory: its own index store, Spark
    scratch space and warehouse. `setup_s` is the wall time from process
    start to the harness reporting set-up done."""

    def __init__(self, mode, opts, tag):
        self.dir = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.join(self.dir, "index"))
        env = {k: v for k, v in os.environ.items()
               if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
        env["SPARK_GRAFT_INDEX_DIR"] = os.path.join(self.dir, "index")
        self.err_path = os.path.join(WORK, "logs", f"{tag}.err")
        os.makedirs(os.path.dirname(self.err_path), exist_ok=True)
        self.err = open(self.err_path, "w")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(java_command(mode, opts), cwd=self.dir, env=env,
                                     stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                                     stderr=self.err, text=True)
        self.setup_s = None
        self.register_s = None
        self.lines = {}

    def wait(self):
        deadline = self.t0 + JVM_TIMEOUT_S
        sel = selectors.DefaultSelector()
        sel.register(self.proc.stdout, selectors.EVENT_READ)
        try:
            while True:
                left = deadline - time.perf_counter()
                if left <= 0:
                    raise TimeoutError
                if not sel.select(timeout=left):
                    continue
                line = self.proc.stdout.readline()
                if not line:
                    break
                tag, _, rest = line.rstrip("\n").partition(" ")
                if tag == "PERFBENCH_READY":
                    self.setup_s = time.perf_counter() - self.t0
                    self.register_s = float(rest)
                elif tag.startswith("PERFBENCH_"):
                    self.lines.setdefault(tag, []).append(rest)
            self.proc.wait(timeout=max(1, deadline - time.perf_counter()))
        except (TimeoutError, subprocess.TimeoutExpired):
            self.stop()
            fail(f"harness timed out after {JVM_TIMEOUT_S} s, see {self.err_path}", 5)
        except BaseException:
            self.stop()
            raise
        finally:
            sel.close()
        self.close()
        if self.proc.returncode != 0 or self.setup_s is None:
            fail(f"harness exited with {self.proc.returncode}, see {self.err_path}", 5)
        return self

    def stop(self):
        self.proc.kill()
        self.proc.wait()
        self.close()

    def close(self):
        self.err.close()
        shutil.rmtree(self.dir, ignore_errors=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no graft library beside the benchmark: run from a repository checkout")
    workloads = load_workloads()
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; one of {', '.join(workloads)}")
    w = workloads[a.workload]
    build()
    fixture = fixture_dir(w["fixture"])
    base = {"fixture": fixture, "cores": cores()}

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    out = os.path.join(WORK, "out", tag)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    run = Jvm("run", dict(base, keys=",".join(w["keys"]), seed=a.seed, seconds=a.seconds,
                          trace=a.trace, out=out,
                          goldens=os.path.join(HERE, "goldens", f"{w['fixture']}.tsv")),
              f"{tag}-run").wait()
    if "PERFBENCH_RESULT" not in run.lines:
        fail(f"harness printed no result, see {run.err_path}", 5)
    res = json.loads(run.lines["PERFBENCH_RESULT"][-1])
    m = res["metrics"]
    m["setup_s"] = run.setup_s
    m["tables.register_s"] = run.register_s

    for k, e in res["errors"].items():
        log(f"error {k}: {e}")
    for e in res["mismatches"]:
        log(f"mismatch {e}")
    if res["unstable"]:
        log(f"digest not checked (unstable at HEAD): {', '.join(res['unstable'])}")
    for k, t in sorted(res["keys"].items()):
        log(f"key {k:32s} cold {t['cold_s']:7.3f} s  warm {t['warm_s']:7.3f} s  passes "
            + " ".join(f"{x:.3f}" for x in t["warm_all_s"]))
    log("passes: " + json.dumps(res["passes"]))
    if a.trace:
        log(f"per-key layers: {out}.layers.json, spans: {out}.spans.json")

    names = per_layer_metrics(workloads) if a.trace else END_TO_END
    # a family this workload has no key of took no time; any other metric
    # the harness did not report is a harness fault, not a zero
    missing = [n for n, _ in names if n not in m and not n.startswith("family.")]
    if missing:
        fail(f"harness reported no {', '.join(missing)}", 5)
    metrics = {n: {"value": float(m.get(n, 0.0)), "unit": u} for n, u in names}
    print(json.dumps({
        "correct": res["failed"] == 0 and not res["mismatches"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
