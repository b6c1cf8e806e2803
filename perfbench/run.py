#!/usr/bin/env python3
"""samsaspark benchmark: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness with sbt into the checkout; later runs reuse that build while the
sources are unchanged. Inputs are generated from --seed. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see BENCHMARK.json and perfbench/WORKLOADS.md).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

BUILD = os.path.join(ROOT, ".bench_build")
CORES = os.cpu_count() or 4
SETUP_REPS = 3          # input generation is repeated; setup_s uses the median

# Sizes of each workload's generated input (see WORKLOADS.md for why).
WORKLOADS = {
    "iterative": dict(sf=0.01, min_passes=2),
    "state_ingest": dict(files=12, per_file=25_000, keys=200_000, values=4,
                         tombstone_p=0.01, zipf_s=1.1, warm_files=2,
                         warm_lookups=5, restores=3, restore_events=1_000, lookups=40),
}

# The heap is not pre-touched, so the peak resident set follows the
# program's memory rather than a fixed reservation. It starts at 1 GB so
# that the timed phases do not also pay for growing it.
JVM_OPTS = ["-Xms1g", "-Xmx3g", "-XX:+UseG1GC"] + [
    a for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no program sources next to the benchmark; run from a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "build.sha256"), os.path.join(BUILD, "classpath.txt")
    digest = source_hash()
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        die("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
            "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    cps = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1].strip()


# ---------------------------------------------------------------- inputs

def timed_setup(make, work):
    """Generates the inputs SETUP_REPS times from the same seed. The first
    copy is used; the others must be byte-identical (a check). Returns the
    median generation time and whether the copies matched."""
    times, digests = [], []
    for r in range(SETUP_REPS):
        d = work if r == 0 else os.path.join(BUILD, f"regen{r}")
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        expected = make(d)
        times.append(time.perf_counter() - t0)
        h = hashlib.sha256()
        for f in sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)):
            h.update(os.path.relpath(f, d).encode())
            h.update(open(f, "rb").read())
        digests.append(h.hexdigest())
        if r == 0:
            first = expected
        else:
            shutil.rmtree(d, ignore_errors=True)
    return statistics.median(times), len(set(digests)) == 1, first


def stamp_mtimes(files, base):
    """File-source order is modification-time order: give the files
    strictly increasing mtimes one second apart, in list order."""
    for i, f in enumerate(files):
        t = base + i
        os.utime(f, (t, t))


def make_batch(cfg, seed):
    import gen

    def make(d):
        gen.batch_tables(os.path.join(d, "data"), seed, cfg["sf"])
    return make


def latest_wins(keys, vals):
    """Final state of a record sequence: key -> value id, deletes removed."""
    final = {}
    for k, v in zip(keys.tolist(), vals.tolist()):
        if v < 0:
            final.pop(k, None)
        else:
            final[k] = v
    return final


def make_state(cfg, seed):
    import gen
    import numpy as np

    def make(d):
        n_keys = cfg["keys"]
        keys, vals = gen.keyed_files(os.path.join(d, "in"), seed, cfg["files"], cfg["per_file"],
                                     n_keys, cfg["values"], cfg["tombstone_p"], cfg["zipf_s"])
        # Set-up input: the warm-up drain's files, then one more file that
        # the warm-up restore adds.
        gen.keyed_files(os.path.join(d, "warm"), seed + 1, cfg["warm_files"] + 1,
                        cfg["per_file"], n_keys, cfg["values"], cfg["tombstone_p"], cfg["zipf_s"])
        os.makedirs(os.path.join(d, "warm_extra"))
        os.rename(os.path.join(d, "warm", f"f{cfg['warm_files']:05d}.parquet"),
                  os.path.join(d, "warm_extra", "w.parquet"))
        per = cfg["restore_events"]
        # One new file per timed restore, plus one for the warm-up restore.
        ek, ev = gen.keyed_files(os.path.join(d, "extra_gen"), seed + 2, cfg["restores"] + 1,
                                 per, n_keys, cfg["values"], cfg["tombstone_p"], cfg["zipf_s"])
        os.makedirs(os.path.join(d, "extra"))
        for r in range(cfg["restores"] + 1):
            os.rename(os.path.join(d, "extra_gen", f"f{r:05d}.parquet"),
                      os.path.join(d, "extra", f"e{r}.parquet"))
        os.rmdir(os.path.join(d, "extra_gen"))
        base = int(time.time()) - 10_000
        stamp_mtimes(sorted(glob.glob(os.path.join(d, "in", "*.parquet"))), base)
        stamp_mtimes(sorted(glob.glob(os.path.join(d, "warm", "*.parquet")))
                     + [os.path.join(d, "warm_extra", "w.parquet")], base)
        stamp_mtimes([os.path.join(d, "extra", f"e{r}.parquet")
                      for r in range(cfg["restores"] + 1)],
                     base + cfg["files"] + 10)
        final = latest_wins(keys, vals)
        # Lookups: half present keys, a quarter deleted or never-written
        # keys of the key space, a quarter keys outside it.
        rng = np.random.default_rng(seed + 3)
        present = sorted(final)
        absent = sorted(set(range(n_keys)) - set(final))
        n = cfg["lookups"]
        look = [f"k{k}" for k in rng.choice(present, n // 2, replace=False)]
        look += [f"k{k}" for k in rng.choice(absent, n // 4, replace=False)]
        look += [f"k{n_keys + i}" for i in range(n - len(look))]
        look = [look[i] for i in rng.permutation(len(look))]
        with open(os.path.join(d, "lookup_keys.txt"), "w") as f:
            f.write("\n".join(look) + "\n")
        restore_expect = []
        for r in range(cfg["restores"]):
            last = {}
            for k, v in zip(ek[r * per:(r + 1) * per].tolist(), ev[r * per:(r + 1) * per].tolist()):
                last[k] = v
            restore_expect.append({f"k{k}": (None if v < 0 else f"v{v}") for k, v in last.items()})
        return dict(final={f"k{k}": f"v{v}" for k, v in final.items()}, lookups=look,
                    restore=restore_expect)
    return make


# ---------------------------------------------------------------- harness

class Harness:
    """The JVM side of one run; it marks its progress on stdout."""

    def __init__(self, cp, work, args, extra):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        kv = dict(workload=args.workload, work=work, seconds=args.seconds, trace=args.trace,
                  cores=CORES, seed=args.seed, out=os.path.join(work, "result.json"), **extra)
        cmd = [java] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness"] \
            + [f"{k}={v}" for k, v in kv.items()]
        self.log = open(os.path.join(work, "harness.log"), "w")
        self.t0 = time.perf_counter()
        self.p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                                  stderr=self.log, text=True)
        self.result_path = kv["out"]

    def wait_for(self, tag, timeout):
        """Blocks until the harness prints @@<tag>; returns the elapsed seconds."""
        timer = threading.Timer(timeout, self.p.kill)
        timer.start()
        try:
            for line in self.p.stdout:
                if line.strip() == f"@@{tag}":
                    return time.perf_counter() - self.t0
            raise RuntimeError(f"harness exited before @@{tag} (see {self.log.name})")
        finally:
            timer.cancel()

    def finish(self, timeout):
        self.wait_for("DONE", timeout)
        self.p.wait(timeout=30)
        with open(self.result_path) as f:
            return json.load(f)

    def kill(self):
        if self.p.poll() is None:
            self.p.kill()
            self.p.wait()
        self.log.close()


# ---------------------------------------------------------------- checks

def read_parquet_rows(path, cols):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    rows = []
    for f in files:
        t = pq.read_table(f, columns=cols).to_pydict()
        rows += list(zip(*[t[c] for c in cols]))
    return rows


def check_batch(work):
    import oracle
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    return {f"oracle {k}": v for k, v in
            oracle.check(os.path.join(work, "data"), os.path.join(work, "dump"), sql).items()}


def check_state(work, res, exp):
    checks = {}
    state = dict(read_parquet_rows(os.path.join(work, "final_state"), ["key", "value"]))
    checks["final state equals latest-wins reference"] = (
        None if state == exp["final"] else
        f"{len(set(state.items()) ^ set(exp['final'].items()))} (key, value) pairs differ")
    log_rows = read_parquet_rows(os.path.join(work, "changelog"), ["key", "value", "batch_id"])
    last = {}
    for k, v, b in sorted(log_rows, key=lambda r: r[2]):
        last[k] = v
    replay = {k: v for k, v in last.items() if v is not None}
    checks["changelog replays to the final state"] = (
        None if replay == exp["final"] else "changelog replay differs")
    keys = exp["lookups"]
    for i, got in enumerate(res.get("lookups", [])):
        key = keys[i % len(keys)]
        want = exp["final"].get(key)
        checks[f"lookup {i} {key}"] = None if got == want else f"got {got!r}, want {want!r}"
    for r, want in enumerate(exp["restore"]):
        rows = read_parquet_rows(os.path.join(work, f"changelog_r{r}"), ["key", "value"])
        checks[f"restore {r} output"] = None if dict(rows) == want and len(rows) == len(want) \
            else "restored batch wrote a different changelog"
    return checks


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty sample."""
    s = sorted(xs)
    i = q * (len(s) - 1)
    lo = int(i)
    return s[lo] if lo + 1 >= len(s) else s[lo] + (s[lo + 1] - s[lo]) * (i - lo)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def summarize_spans(path):
    """Prints self time per span name, largest first: where the traced
    run's time went, layer by layer."""
    with open(path) as f:
        spans = json.load(f)
    by = {}
    for s in spans:
        name = "batch" if s["name"].startswith("batch ") else s["name"]
        t = by.setdefault(name, [0, 0.0, 0.0])
        t[0] += 1
        t[1] += s["dur_ms"]
        t[2] += s["self_ms"]
    print(f"{'span':32s} {'count':>6s} {'total_ms':>11s} {'self_ms':>11s}")
    for name, (n, tot, own) in sorted(by.items(), key=lambda kv: -kv[1][2])[:25]:
        print(f"{name:32s} {n:6d} {tot:11.1f} {own:11.1f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        die("--seconds must be positive")

    cp = build()
    cfg = WORKLOADS[args.workload]
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(work), exist_ok=True)

    if args.workload == "iterative":
        make = make_batch(cfg, args.seed)
        extra = dict(data=os.path.join(work, "data"), min_passes=cfg["min_passes"])
    else:
        make = make_state(cfg, args.seed)
        extra = dict(restores=cfg["restores"], warm_lookups=cfg["warm_lookups"],
                     state_bytes=cfg["keys"] * 200)
    t_start = time.perf_counter()
    gen_s, same_inputs, exp = timed_setup(make, work)
    log(f"inputs generated in {time.perf_counter() - t_start:.1f} s")

    h = Harness(cp, work, args, extra)
    try:
        ready_s = h.wait_for("READY", 170)
        log(f"harness ready after {ready_s:.1f} s")
        res = h.finish(170)
        log(f"harness done after {time.perf_counter() - h.t0:.1f} s")
    finally:
        h.kill()

    if not res.get("recover_s"):
        die("the harness did not finish: " + "; ".join(res["errors"]))
    checks = {"same seed gives the same inputs": None if same_inputs else "inputs differ"}
    if args.workload == "iterative":
        checks.update(check_batch(work))
        # The queries differ in cost by 2x, so a quantile over their pooled
        # times would just pick one query. Each query's own quantile over
        # its passes is taken instead, and the geometric mean over queries
        # weighs a change to any one query the same.
        per_query = [xs for xs in res["query_ms"].values() if xs]
        if len(per_query) != len(res["query_ms"]):
            die("a query never succeeded: " + "; ".join(res["errors"]))
        p50 = geomean([quantile(xs, 0.5) for xs in per_query])
        p90 = geomean([quantile(xs, 0.9) for xs in per_query])
        samples = sum(len(xs) for xs in per_query)
        work_per_s = res["work_units"] / res["window_s"]
    else:
        checks.update(check_state(work, res, exp))
        ops = res["ops_ms"]
        if not ops:
            die("no lookup succeeded: " + "; ".join(res["errors"]))
        p50, p90, samples = quantile(ops, 0.5), quantile(ops, 0.9), len(ops)
        # The drain's steady rate: the median over its micro-batches of
        # events per second of batch wall time. The first batch also
        # starts the query, and a single stalled batch would move a mean.
        work_per_s = statistics.median(
            rows / (ms / 1e3) for rows, ms in zip(res["batch_rows"], res["batch_ms"]))

    log(f"checks done after {time.perf_counter() - t_start:.1f} s")
    failed_checks = {k: v for k, v in checks.items() if v is not None}
    for k, v in failed_checks.items():
        log(f"CHECK FAILED {k}: {v}")
    for e in res["errors"]:
        log(f"ERROR {e}")
    failed = len(failed_checks) + len(res["errors"])
    attempted = len(checks) + res["attempted"]

    e2e = {
        "setup_s": gen_s + ready_s + res.get("warm_s", 0.0),
        "p50_ms": p50,
        "p90_ms": p90,
        "work_per_s": work_per_s,
        "recover_s": statistics.median(res["recover_s"]),
        "heap_live_mb": res["heap_live_mb"],
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for k, v in e2e.items():
        print(f"{args.workload:15s} {k:12s} {v:12.4f} {units[k]}")
    print(f"{args.workload:15s} {'error_rate':12s} {failed / attempted:12.4f} fraction")
    print(f"{args.workload:15s} {'samples':12s} {samples:12d} operations behind p50/p90")

    if args.trace:
        layers = dict(res["layers"])
        layers["state.ckpt_mb"] = res.get("ckpt_mb", 0.0)
        for k, v in e2e.items():
            layers[f"traced.{k}"] = v
        summarize_spans(os.path.join(work, "spans.json"))
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
