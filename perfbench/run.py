#!/usr/bin/env python3
"""Benchmark of the engine: three workloads, timed end to end and per layer.

    python3 perfbench/run.py --workload {iterative,report,osm_wrangle}
        --seed N --seconds S --trace {0,1} [--smoke]

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt into .bench_build/ and generates the inputs
there; later runs reuse both while the sources are unchanged.

  iterative    driver-side construction dominates: memo leaves and
               convergence loops (graph, dedup, embedding, text queries).
  report       execution dominates: TPC-H and SQL report queries, no leaves.
  osm_wrangle  the paper's pipeline on seeded synthetic OSM XML: census,
               ingest, clean-and-write (process_map), report on the star.

The tables are generated once from a fixed seed, so their query results
have fixed fingerprints (expected.json, checked-in data whose values were
each matched against DuckDB on the same tables). `--seed` sets the query
order of the run and generates the OSM XML, whose expected outputs the
generator computes alongside.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}. `--trace 0` reports the end-to-end metrics from untraced
passes; `--trace 1` makes five passes, the last four traced, untraced,
untraced, traced, and reports the per-layer metrics plus the tracing
overhead. Spans and the raw run are written to .bench_build/out/.
`--smoke` runs one short pass on the smallest inputs.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen_osm  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("iterative", "report", "osm_wrangle")
TABLE_SEED = 42
SF, SMOKE_SF = 0.01, 0.001
OSM_NODES, WARM_OSM_NODES = 6000, 600
RUN_LIMIT_S, FIRST_RUN_LIMIT_S = 170, 880
# Seconds of one warm pass on a 4-core host. A run makes a fixed number of
# passes, --seconds divided by this, because passes keep getting faster for
# a while as the JIT settles: a count that varied with host speed would mix
# slow first passes into some runs' medians and not others'.
PASS_S = {"iterative": 12, "report": 6, "osm_wrangle": 7}
EXPECTED = os.path.join(HERE, "expected.json")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_logged(cmd, cwd, env, logfile, timeout):
    """Runs `cmd` to completion (or kills it at `timeout`), output to logfile."""
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            p.kill()
            p.wait()
            raise


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "jvm.options"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compiles the engine and the benchmark once per source state; returns
    the runtime classpath."""
    cp_file = os.path.join(BUILD, "sbt-target", "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        sys.exit("perfbench: sbt not found on PATH")
    opts = ["-Dsbt.offline=true", "-Dsbt.boot.lock=false",
            f"-Dsbt.global.base={BUILD}/sbt-global", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    logfile = os.path.join(BUILD, "logs", "build.log")
    log("building engine and benchmark (sbt)")
    t0 = time.time()
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                    HERE, env, logfile, deadline - time.time())
    if rc != 0:
        sys.stderr.write(tail(logfile))
        sys.exit(f"perfbench: build failed (exit {rc}), see {logfile}")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


def inputs(seed, smoke):
    """Generates (or reuses) the run's inputs; returns paths and context."""
    data = os.path.join(BUILD, "data")
    sf = SMOKE_SF if smoke else SF
    tables = os.path.join(data, f"sf{sf}")
    gen_tables.ensure(tables, sf, TABLE_SEED)
    osm_root = os.path.join(BUILD, "osm")
    osm = os.path.join(osm_root, f"seed-{seed}{'-smoke' if smoke else ''}")
    if os.path.isdir(osm_root):
        for d in os.listdir(osm_root):
            if d not in ("warm", os.path.basename(osm)):
                shutil.rmtree(os.path.join(osm_root, d))
    gen_osm.generate(osm, seed, WARM_OSM_NODES if smoke else OSM_NODES)
    warm_osm = os.path.join(osm_root, "warm")
    gen_osm.generate(warm_osm, 7, WARM_OSM_NODES)
    return {
        "tables": tables, "tables_key": f"sf{sf}",
        "osm": osm, "warm_osm": warm_osm,
        "sizes": {"tables_bytes": dir_bytes(tables),
                  "osm_xml_bytes": gen_osm.xml_bytes(os.path.join(osm, "xml"))},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit(f"perfbench: no engine sources under {ROOT}/src/main/scala; "
                 "run from the root of a full checkout")
    for d in ("logs", "out", "tmp"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    first = not os.path.exists(os.path.join(BUILD, "build.stamp"))
    deadline = start + (FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S)
    cp = build(deadline)
    t_gen = time.time()
    inp = inputs(a.seed, a.smoke)
    gen_s = time.time() - t_gen

    cores = len(os.sched_getaffinity(0))
    passes = 1 if a.smoke else max(1, int(a.seconds // PASS_S[a.workload]))
    if a.trace:  # the first pass, then traced, untraced, untraced, traced
        passes = 5
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}{'-smoke' if a.smoke else ''}"
    raw = os.path.join(BUILD, "out", f"{tag}.json")
    work = os.path.join(BUILD, "work")
    with open(os.path.join(HERE, "jvm.options")) as f:
        jvm_opts = [line.strip() for line in f if line.strip()]
    cmd = ["java", *jvm_opts, f"-Djava.io.tmpdir={BUILD}/tmp", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--passes", str(passes), "--trace", str(a.trace),
           "--data", inp["tables"],
           "--osm", os.path.join(inp["osm"], "xml"),
           "--warm-osm", os.path.join(inp["warm_osm"], "xml"),
           "--work", work, "--out", raw, "--cores", str(cores)]
    jvm_log = os.path.join(BUILD, "logs", f"{tag}.log")
    if os.path.exists(raw):
        os.remove(raw)
    rc = run_logged(cmd, BUILD, dict(os.environ), jvm_log, deadline - time.time())
    if rc != 0 or not os.path.exists(raw):
        sys.stderr.write(tail(jvm_log))
        sys.exit(f"perfbench: benchmark JVM failed (exit {rc}), see {jvm_log}")
    with open(raw) as f:
        report = json.load(f)

    if a.workload == "osm_wrangle":
        with open(os.path.join(inp["osm"], "expected.json")) as f:
            expected = json.load(f)
    else:
        with open(EXPECTED) as f:
            expected = json.load(f).get(inp["tables_key"], {})
    attempted, failures = metrics.check(report, expected)
    for msg in failures:
        log(f"FAILED {msg}")

    values, latency = metrics.end_to_end(report)
    units = metrics.END_TO_END
    if a.trace:
        values = metrics.per_layer(report, cores, inp["sizes"]["osm_xml_bytes"]
                                   if a.workload == "osm_wrangle" else 0)
        units = metrics.PER_LAYER
    context = dict(report["context"])
    context.update({
        "workload": a.workload, "seed": a.seed, "order": report["order"],
        "passes": len(report["passes"]),
        "input_generation_s": round(gen_s, 3), "inputs": inp["sizes"],
        "latency": latency,
        "phase_shares": metrics.phase_shares(values) if a.trace else None,
        "failed_frac": len(failures) / attempted,
        "failed_queries": sorted({m.split(":")[1] for m in failures}),
    })
    with open(os.path.join(BUILD, "out", f"{tag}.spans.jsonl"), "w") as f:
        for s in report["spans"]:
            f.write(json.dumps(s) + "\n")
    for name, unit in units.items():
        print(f"# {name} = {values[name]:.6g} {unit}")
    print(f"# failed_frac = {context['failed_frac']:.6g} (1)")
    print("# context " + json.dumps(context))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))


if __name__ == "__main__":
    main()
