#!/usr/bin/env python3
"""The benchmark: one command, two workloads, every metric by name.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout of the repository. The first run
builds the program and the harness from source (sbt, offline); inputs
are generated from the seed; the JVM harness (perfbench/src) measures;
this script then checks the outputs against what gen.py derived from
the same seed, prints every metric with its unit, and prints one JSON
line last. With --trace 0 the metrics are BENCHMARK.json's end_to_end
set, with --trace 1 its per_layer set. Any wrong output makes the run
exit non-zero.

    python3 perfbench/run.py --ledger [--outputs DIR]

runs the whole 113-query inventory once and writes the per-query work
ledger (and, with --outputs, each query's output as parquet for the
DuckDB oracle, tools/check.py). See perfbench/README.md.
"""
import argparse
import fcntl
import fnmatch
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("depth_drain", "batch")
# Per-layer metrics (fnmatch patterns) of layers a workload does not
# exercise. A traced run reports them as 0; every other per-layer metric
# must be measured, or the run fails.
NOT_APPLICABLE = {
    "depth_drain": ["queries.*"],
    "batch": ["source.*", "microbatch.*", "runner.*", "pipelines.*", "sync.*",
              "sink.*", "cuts.*"],
}
TABLE_SF = 0.01
# Batches at the start of the depth drain that warm up and are not
# measured: in a fresh JVM the JIT keeps speeding a batch up over about
# the first twenty (from 4 s to about 0.7 s), and flat after them.
WARM_BATCHES = 20
# Messages measured per second of --seconds: a warm depth batch of 1000
# messages takes about 0.7 s on 4 cores.
MSGS_PER_SECOND = 1500
CPUS = 4
DEADLINE_S = 170
ADD_OPENS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log("error: " + msg)
    sys.exit(2)


# ----------------------------------------------------------------- build

def source_key():
    """Hash of every file the build reads: both builds' definitions
    (with the root build's project/ directory) and sources."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project/build.properties", "perfbench/src"]
    for top in tops:
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            files = [p]
        else:
            files = []
            for d, dirs, fs in os.walk(p):
                # sbt's own output under project/
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, f) for f in sorted(fs)]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def jar_stamp(jars):
    """Path, size and mtime of every jar on a classpath."""
    out = []
    for j in jars:
        st = os.stat(j) if os.path.exists(j) else None
        out.append([j, st.st_size if st else -1, int(st.st_mtime) if st else -1])
    return out


def cached_build(snap):
    """The classpath of a finished build snapshot, or None when there is
    none or a jar it names has changed since (the jar directory of the
    program's build is outside the hashed sources)."""
    try:
        with open(os.path.join(snap, "build.json")) as f:
            b = json.load(f)
    except OSError:
        return None
    if jar_stamp(b["jars"]) != [list(x) for x in b["stamp"]]:
        return None
    # class directories are named relative to the snapshot
    return os.pathsep.join(os.path.join(snap, e) for e in b["classpath"])


def build():
    """Compiles the program and the harness and returns a classpath that
    no later build changes: sbt's class directories (shared with the
    program's own build, and rewritten in place by any compile) are
    copied into .perfbench/build-<source key>/, and a run uses that copy.
    So one checkout can go back and forth between two versions of the
    program, and each run measures the classes of the sources it sees."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("no program source at %s (missing %s): run from the root "
                 "of a checkout of the repository" % (ROOT, need))
    os.makedirs(STATE, exist_ok=True)
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        key = source_key()
        snap = os.path.join(STATE, "build-%s" % key)
        cp = cached_build(snap)
        if cp is not None:
            return cp
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
            env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
        log("building program and harness (sbt) for sources %s" % key)
        t = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=840)
        lines = [ln for ln in p.stdout.splitlines()
                 if "scala-2.13/classes" in ln and not ln.startswith("[")]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:])
            fail("build failed")
        if source_key() != key:
            fail("sources changed during the build")
        tmp = snap + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        entries, jars = [], []
        for i, e in enumerate(lines[-1].strip().split(os.pathsep)):
            if os.path.isdir(e):
                shutil.copytree(e, os.path.join(tmp, "cp%d" % i))
                entries.append("cp%d" % i)
            else:
                entries.append(e)
                jars.append(e)
        with open(os.path.join(tmp, "build.json"), "w") as f:
            json.dump({"classpath": entries, "jars": jars,
                       "stamp": jar_stamp(jars)}, f)
        shutil.rmtree(snap, ignore_errors=True)
        os.rename(tmp, snap)
        log("built in %.0f s" % (time.time() - t))
        return cached_build(snap)


# ------------------------------------------------------------------- JVM

def run_jvm(cp, args, work, deadline, make_inputs):
    """Runs the harness. The JVM starts first, and `make_inputs` writes
    the inputs while it starts (generating a tape takes seconds); their
    directories reach the harness through inputs.json in `work`, which
    appears only once every input is complete."""
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    cmd = (["java"] + ADD_OPENS + [
        "-Xms2g", "-Xmx2g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.local.dir=" + tmp, "-Djava.io.tmpdir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(STATE, "warehouse"),
        "-cp", cp, "perfbench.Main"] + args + ["--work", work])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             cwd=ROOT, start_new_session=True)
        try:
            ins = make_inputs()
            with open(os.path.join(work, "inputs.json.tmp"), "w") as f:
                json.dump(ins, f)
            os.rename(os.path.join(work, "inputs.json.tmp"),
                      os.path.join(work, "inputs.json"))
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("harness timed out" if rc is None else "harness exited with %d" % rc)
    with open(os.path.join(work, "result.json")) as f:
        return ins, json.load(f)


# ---------------------------------------------------------------- checks

def check_depth(res, tape, seed, n_msgs):
    """The CSV, line by line against the blocks gen.py derives: a
    message is accounted for when its block sits, in order, where it
    belongs; after the first misplaced block every later one counts as
    unaccounted for."""
    exp = json.load(open(os.path.join(tape, "expected.json")))
    path = res["info"]["csv_path"]
    h = hashlib.sha256()
    with open(path, "rb") as f:
        data = f.read()
    h.update(data)
    if h.hexdigest() == exp["csv_sha256"]:
        return 0, "csv %d rows, digest ok" % exp["csv_rows"]
    lines = data.decode().split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    failed, at = 0, 1
    ok_header = bool(lines) and lines[0] == gen.CSV_HEADER
    for block in gen.depth_blocks(seed, n_msgs):
        if ok_header and lines[at:at + len(block)] == block:
            at += len(block)
        else:
            failed += 1
            ok_header = False
    return max(failed, 1), "csv digest mismatch (%d rows, %d expected)" % (
        len(lines) - 1, exp["csv_rows"])


def committed_files(out_dir):
    """Files of a streaming parquet sink that its metadata log commits:
    the newest compacted batch file and every batch log after it."""
    meta = os.path.join(out_dir, "_spark_metadata")
    logs = sorted((int(n.split(".")[0]), n) for n in os.listdir(meta)
                  if not n.startswith("."))
    start = max([i for i, n in logs if n.endswith(".compact")], default=-1)
    files = {}
    for i, name in logs:
        if i < start:
            continue
        with open(os.path.join(meta, name)) as f:
            for ln in f.read().splitlines()[1:]:
                e = json.loads(ln)
                if e.get("action") == "delete":
                    files.pop(e["path"], None)
                else:
                    files[e["path"]] = e
    return [p.replace("file://", "").replace("file:", "") for p in files]


def check_trades(res, tape):
    """The Runner cut's committed parquet rows, as a multiset digest,
    against the trades gen.py wrote (acks and corrupt lines dropped). On
    a mismatch, every expected trade missing from the output, or output
    row not expected, counts as failed."""
    import collections
    import pyarrow.parquet as pq
    exp = json.load(open(os.path.join(tape, "expected.json")))
    d = os.path.join(res["info"]["trade_out"], "%s.%s.trades" % (
        exp["symbol"], exp["market"]))
    keys = []
    for f in committed_files(d):
        t = pq.read_table(f, columns=["timestamp", "local_timestamp", "id",
                                      "price", "quantity", "side"]).to_pydict()
        keys += [gen.trade_row_key(*row) for row in zip(
            t["timestamp"], t["local_timestamp"], t["id"], t["price"],
            t["quantity"], t["side"])]
    if len(keys) == exp["rows"] and \
            sum(gen.row_hash(k) for k in keys) % (1 << 64) == exp["digest"]:
        return 0, "trade parquet %d rows, multiset ok" % len(keys)
    want = collections.Counter(gen.trade_lines(exp["seed"], exp["lines"])[1])
    got = collections.Counter(keys)
    return (max(sum((want - got).values()), sum((got - want).values()), 1),
            "trade parquet: %d rows (want %d), digest differs" % (len(keys), exp["rows"]))


def check_batch(res):
    golden = json.load(open(os.path.join(HERE, "golden.json")))
    order = res["info"]["order"].split(",")
    bad = []
    for q in order:
        got = res["info"].get("digest." + q)
        if got is None or got != golden.get(q):
            bad.append("%s: %s (golden %s)" % (q, got, golden.get(q)))
    return len(bad), "; ".join(bad) or "%d query digests match golden" % len(order)


# ------------------------------------------------------------------ main

def benchmark_spec():
    p = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(p):
        fail("BENCHMARK.json not found")
    return json.load(open(p))


def inputs_for(workload, seed, seconds, trace):
    inputs = os.path.join(STATE, "inputs")
    os.makedirs(inputs, exist_ok=True)
    if workload == "batch":
        return {"tables": gen.tables(inputs, TABLE_SF)}
    # the drain's first WARM_BATCHES batches warm up, the batches after
    # them are measured (with the ack line, the tape fills whole
    # batches); a traced run's layer cuts replay a shorter depth tape of
    # the same seed, and its Runner cut a trade tape
    n = seconds * MSGS_PER_SECOND
    ins = {"depth": gen.depth_tape(inputs, seed, n + WARM_BATCHES * 1000 - 1),
           "warm-batches": str(WARM_BATCHES)}
    if trace:
        ins["cut"] = gen.depth_tape(inputs, seed, 4999)
        ins["trade"] = gen.trade_tape(inputs, seed, 8000)
    return ins


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ledger", action="store_true")
    ap.add_argument("--outputs", default="")
    a = ap.parse_args()
    t_start = time.time()
    cp = build()
    if a.ledger:
        return ledger(cp, a)
    if not a.workload:
        fail("--workload is required")
    spec = benchmark_spec()
    # the build may take long; the measured part gets its own deadline
    deadline = time.time() + DEADLINE_S
    work = os.path.join(STATE, "runs", "%s-s%d-t%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds",
            str(a.seconds), "--trace", str(a.trace)]
    ins, res = run_jvm(cp, args, work, deadline,
                       lambda: inputs_for(a.workload, a.seed, a.seconds, a.trace))
    log("harness done at %.1f s" % (time.time() - t_start))

    if a.workload == "depth_drain":
        attempted = json.load(open(os.path.join(ins["depth"], "expected.json")))["messages"]
        failed, note = check_depth(res, ins["depth"], a.seed, attempted)
        if a.trace:
            # the Runner cut's output: each line of the trade tape is an operation
            attempted += json.load(open(os.path.join(ins["trade"], "expected.json")))["lines"]
            f2, n2 = check_trades(res, ins["trade"])
            failed += f2
            note += "; " + n2
    else:
        attempted = res["attempted"]
        failed, note = check_batch(res)
        failed = max(failed, res["failed"])
    for k, v in res["checks"].items():
        if not v["ok"]:
            failed = max(failed, 1)
            note += "; %s: %s" % (k, v["detail"])
    log("check: " + note)
    # bulky outputs go; result, spans and the JVM log stay
    for name in os.listdir(work):
        p = os.path.join(work, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)

    want = spec["per_layer" if a.trace else "end_to_end"]
    na = NOT_APPLICABLE[a.workload] if a.trace else []
    metrics = {}
    for m in want:
        got = res["metrics"].get(m["name"])
        skip = any(fnmatch.fnmatchcase(m["name"], pat) for pat in na)
        if got is not None and skip:
            fail("metric %s is listed as not applicable to %s, but was measured"
                 % (m["name"], a.workload))
        if got is None and not skip:
            fail("metric %s was not measured" % m["name"])
        metrics[m["name"]] = {"value": 0.0 if skip else got["value"], "unit": m["unit"]}
    print("%s seed=%d trace=%d (%.0f s)" % (a.workload, a.seed, a.trace,
                                             time.time() - t_start))
    for name, v in metrics.items():
        print("  %-32s %16.6f %s" % (name, v["value"], v["unit"]))
    print("  %-32s %16.6f %s" % ("fail_ratio", failed / max(1, attempted), "ratio"))
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


def ledger(cp, a):
    work = os.path.join(STATE, "runs", "ledger")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", "ledger", "--seed", "0", "--seconds", "0", "--trace", "1"]
    if a.outputs:
        args += ["--outputs", os.path.abspath(a.outputs)]
    _, res = run_jvm(cp, args, work, time.time() + 1800,
                     lambda: inputs_for("batch", 0, 0, True))
    golden = json.load(open(os.path.join(HERE, "golden.json")))
    digests = {k[len("digest."):]: v for k, v in res["info"].items()
               if k.startswith("digest.")}
    with open(os.path.join(work, "digests.json"), "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
    diff = sorted(q for q in set(golden) | set(digests) if digests.get(q) != golden.get(q))
    log("ledger: %s; %d queries, %d failed; digests differing from golden: %s" % (
        os.path.join(work, "ledger.json"), res["attempted"], res["failed"],
        ", ".join(diff) or "none"))
    return 1 if res["failed"] or diff else 0


if __name__ == "__main__":
    sys.exit(main())
