#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the harness from
source when they changed (``sbt compile`` in this directory), generates the
workload's inputs from the seed, runs the harness (``perfbench.Main``) in
one JVM, checks every output, and prints as its last line one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1``
the per-layer ones. Everything it writes stays under ``.bench_work/`` (and
the sbt ``target`` directories) in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pandas as pd

import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(4, os.cpu_count() or 1)
# Class-data-sharing archives of the harness JVM, one per workload, made by
# the first run of the workload after a build and used by the runs after it:
# they cut class loading out of session start and the cold first pass.
CDS_DIR = os.path.join(HERE, "target", "cds")

# Two of the twelve pin-heavy keys: a graph loop that counts per hop
# (lpa_communities) and a dedup loop that pins and probes each iteration
# (dedup_clusters). A cold JVM warms these two within the run's time
# budget; see README.md.
PIN_KEYS = ["lpa_communities", "dedup_clusters"]

# max_warm caps the warm-up passes (the cold one included) so that every
# run of every workload fits the benchmark's time budget; see README.md.
WORKLOADS = {
    "etl_orders_csv": {"kind": "etl", "rows": 100_000, "lookups": 4,
                       "max_warm": 3},
    "iterative_pins": {"kind": "keys", "sf": 0.002, "keys": PIN_KEYS,
                       "max_warm": 5},
    "stream_stateful": {"kind": "stream", "events": 8_000, "batches": 2,
                        "max_warm": 2},
}

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def spark_home():
    """The Spark installation whose jars the engine builds and runs on."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark installation: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build():
    """Compile the engine's sources and the harness; skip when unchanged."""
    src = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(src, "scala")):
        fail(f"no engine sources under {src}")
    h = hashlib.sha256()
    for top in (src, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    jar = os.path.join(HERE, "target", "perfbench.jar")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return jar
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building engine and harness (sbt package)")
    shutil.rmtree(CDS_DIR, ignore_errors=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "package"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return jar


def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_q(n):
    """The highest percentile with at least ten samples beyond it."""
    for q in (0.99, 0.95, 0.9, 0.75):
        if n * (1 - q) >= 10:
            return q
    return 0.5


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    jar = build()
    t0 = time.time()  # set-up starts once the build is done

    cfg = WORKLOADS[a.workload]
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    args = []
    if cfg["kind"] == "etl":
        info = gen.orders_csv(data, cfg["rows"], a.seed)
        lookups = gen.lookups(info.pop("product_ids"), cfg["lookups"], a.seed)
        args = ["--workload", "etl", "--lookups", ";".join(
            ",".join(map(str, [t] + c)) for t, c in lookups)]
    elif cfg["kind"] == "keys":
        info = gen.tables(data, cfg["sf"], a.seed)
        args = ["--workload", "keys", "--keys", ",".join(cfg["keys"])]
    else:
        info = gen.stream_feed(data, cfg["events"], a.seed)
        args = ["--workload", "stream", "--batches", str(cfg["batches"])]
    log(f"inputs ({time.time() - t0:.1f}s): {json.dumps(info)}")

    result = os.path.join(work, "result.json")
    cds = os.path.join(CDS_DIR, f"{a.workload}.jsa")
    os.makedirs(CDS_DIR, exist_ok=True)
    cds_opt = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
               else f"-XX:ArchiveClassesAtExit={cds}")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", cds_opt,
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in JAVA_OPENS
              for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{jar}{os.pathsep}{spark_home()}/jars/*",
              "perfbench.Main", "--data", data, "--work", work,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--t0-ms", str(int(t0 * 1000)), "--cpus", str(CPUS),
              "--max-warm", str(cfg["max_warm"]), "--out", result] + args)
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"))
    try:
        r = subprocess.run(cmd, cwd=work, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=170)
    except subprocess.TimeoutExpired:
        fail("harness timed out")
    if r.returncode != 0 or not os.path.exists(result):
        fail(f"harness exited with {r.returncode}")
    with open(result) as fh:
        res = json.load(fh)
    log(f"harness done ({time.time() - t0:.1f}s)")

    facts = res["facts"]
    out = os.path.join(work, "out")
    if cfg["kind"] == "keys":
        bad = check.keys(data, out, cfg["keys"], facts["oracle"])
    elif cfg["kind"] == "etl":
        with open(os.path.join(HERE, "golden.json")) as fh:
            golden = json.load(fh).get(f"{cfg['rows']}:{a.seed}")
        bad, digests = check.etl(data, facts, lookups, info["distinct_pairs"],
                                 golden)
        log(f"digests {a.seed}: {json.dumps(digests)}")
    else:
        bad = check.stream(data, out)
    for k, v in bad.items():
        log(f"WRONG {k}: {v}")
    log(f"checked ({time.time() - t0:.1f}s)")

    passes = res["passes"]
    ops = [o for p in passes for o in p["ops"]]
    loads = [p["load"] for p in passes if p["load"]]

    def wrong(o):
        return not o["ok"] or o["name"].split("#")[0] in bad
    failed = sum(1 for o in ops + loads if wrong(o))
    attempted = len(ops) + len(loads)

    units = {m["name"]: m["unit"] for m in
             spec["end_to_end" if a.trace == 0 else "per_layer"]}
    if a.trace == 0:
        lat = [o["seconds"] for o in ops]
        q = tail_q(len(lat))
        log(f"{len(passes)} passes, {len(lat)} operations; "
            f"op_tail_s is p{round(q * 100)}; warm-up {res['warmup_s']}")
        values = {
            "setup_s": res["setup_s"],
            "pass_s": quantile([p["seconds"] for p in passes], 0.5),
            "op_p50_s": quantile(lat, 0.5),
            "op_tail_s": quantile(lat, q),
            "ok_ratio": (attempted - failed) / attempted}
    else:
        values = {k: 0.0 for k in units}
        values.update(res["layers"])
        traced = [p["seconds"] for p in passes if p["traced"]]
        plain = [p["seconds"] for p in passes if not p["traced"]]
        values["trace.pass_s_traced"] = quantile(traced, 0.5)
        values["trace.pass_s_untraced"] = quantile(plain, 0.5)
        values["trace.overhead_ratio"] = (values["trace.pass_s_traced"]
                                          / values["trace.pass_s_untraced"])
        if cfg["kind"] == "etl":
            got = pd.read_parquet(facts["warehouse"])
            values["etl.rows_in"] = float(info["orders_rows"])
            values["etl.dedup_keep_ratio"] = len(got) / info["orders_rows"]
            sink = sum(os.path.getsize(os.path.join(d, f))
                       for d, _, fs in os.walk(facts["warehouse"])
                       for f in fs if f.endswith(".parquet"))
            values["etl.sink_bytes_per_input_byte"] = sink / (
                info["orders_bytes"] + info["products_bytes"])
            values["etl.lookup_s"] = quantile(
                [o["seconds"] for p in passes if p["traced"]
                 for o in p["ops"]], 0.5)
        log("layers " + json.dumps({k: round(v, 4) for k, v in values.items()}))
    print(json.dumps({
        "correct": failed == 0 and not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()}}))


if __name__ == "__main__":
    main()
