#!/usr/bin/env python3
"""Per-query floor regression gate (round-11 judge task 5).

The box's 56-92s weather band makes the SUITE TOTAL nearly useless for
regression detection (r10's 84.6 vs r9's 63.6 cost a full investigation
to clear as contention). This gate compares each query's bench reading
against its best-known quiet minimum in tools/floors.json instead:

  flagged     = min-of-3+retime reading > 3x floor (and > 0.5s absolute,
                so micro-query scheduler jitter never trips it)
  retry       = flagged queries re-timed in ONE extra JVM via
                graft.BenchOne (min-of-5, independent clock window)
  regression  = still > 3x floor after the retry -> named in the output
  ratchet     = any reading BELOW its floor lowers the floor (floors.json
                converges to the true quiet minima over rounds); a new
                query enters at its first reading

  --cores      CoresBench's numbers (keys "cores:"), same rule, no retry
  --stream     StreamBench's per-path rows/s, inverted sense: a
               regression is a reading below floor/3. Keyed by the
               run's core count (stream_key): "stream:<path>" at 32
               cores, "stream@<n>:<path>" at any other n

Usage: floors_gate.py <bench_json> [--no-retry]
       floors_gate.py --cores <cores_json>
       floors_gate.py --stream <stream_json>
Prints one JSON line {"flagged": {...}, "regressions": [...],
"floors_updated": N}; exits 1 when "regressions" is non-empty, 0
otherwise (judge.sh keeps the JSON either way and embeds the verdict in
its summary).
"""
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FLOORS = os.path.join(REPO, "tools", "floors.json")
RATIO = 3.0
ABS_MIN = 0.5


def gate(readings, higher_is_better=False, ndigits=3, retime=None):
    """Load floors.json, flag readings beyond RATIO of their floor,
    re-time the flagged ones when `retime` is given, ratchet every floor
    toward the best reading and write floors.json back. Returns the
    report. `higher_is_better` inverts the sense for rates (rows/s): a
    regression is then a reading below floor/RATIO (no ABS_MIN), and
    the ratchet raises a floor to the best (highest) reading."""
    floors = {}
    if os.path.exists(FLOORS):
        with open(FLOORS) as f:
            floors = json.load(f)

    def improves(t, floor):
        return t > floor if higher_is_better else t < floor

    def beyond(k, t):
        if higher_is_better:
            return t < floors[k] / RATIO
        return t > RATIO * floors[k] and t > ABS_MIN

    flagged = {
        k: {"bench": round(t, ndigits), "floor": floors[k]}
        for k, t in readings.items()
        if k in floors and beyond(k, t)
    }
    best = dict(readings)
    if flagged and retime:
        for k, t in retime(sorted(flagged)).items():
            flagged[k]["retry"] = round(t, ndigits)
            if improves(t, best[k]):
                best[k] = t
    regressions = sorted(k for k in flagged if beyond(k, best[k]))

    updated = 0
    for k, t in best.items():
        if k not in floors or improves(t, floors[k]):
            floors[k] = round(t, ndigits)
            updated += 1
    with open(FLOORS, "w") as f:
        json.dump(dict(sorted(floors.items())), f, indent=1)
    return {"flagged": flagged, "regressions": regressions,
            "floors_updated": updated}


# Core count of the "stream:<path>" floors, and of StreamBench JSON
# written before it recorded its "cores".
STREAM_FLOOR_CORES = 32


def stream_key(cores, path):
    """floors.json key of a StreamBench path's rows/s floor at `cores`
    session cores; StreamBench.floorKey is the same rule."""
    if cores == STREAM_FLOOR_CORES:
        return f"stream:{path}"
    return f"stream@{cores}:{path}"


def bench_one(names):
    """Re-times `names` in ONE extra JVM via graft.BenchOne (min-of-5,
    an independent clock window); returns {query: seconds}."""
    # Floors were recorded at 32 cores; retiming a flagged query on
    # the default 4-core session would make parallel-heavy queries
    # spuriously exceed 3x their floor (round-11 ADVICE).
    # (BenchOne's own SPARK_GRAFT_SF_DIR default is the bench's sf0.1.)
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    out = subprocess.run(
        [os.path.join(REPO, "tools", "run.sh"), "graft.BenchOne",
         ",".join(names), "5"],
        capture_output=True, text=True, env=env, cwd=REPO).stdout
    m = re.search(r"^FLOORGATE (\{.*\})$", out, re.M)
    return json.loads(m.group(1)) if m else {}


def main() -> None:
    mode = sys.argv[1] if sys.argv[1] in ("--cores", "--stream") else None
    with open(sys.argv[2] if mode else sys.argv[1]) as f:
        data = json.load(f)
    if mode == "--cores":
        # CoresBench (the materialized deployment shape the default
        # bench cannot show) is already min-of-runs: no retry leg
        readings = {
            "cores:self": data["self_min"],
            "cores:shared": data["shared_min"],
            "cores:lsh_self": data.get("lsh_self_min"),
            "cores:lsh_shared": data.get("lsh_shared_min"),
        }
        report = gate({k: v for k, v in readings.items() if v is not None})
    elif mode == "--stream":
        # StreamBench's per-path throughput in rows/s. StreamBench
        # applies the same check in-process (fails loudly unless
        # SPARK_GRAFT_STREAM_NOGATE=1); this mode does the ratchet +
        # report leg so judge.sh reads one format for every gate.
        cores = data.get("cores", STREAM_FLOOR_CORES)
        report = gate({stream_key(cores, k): v["rows_per_sec"]
                       for k, v in data["paths"].items()},
                      higher_is_better=True, ndigits=1)
    else:
        report = gate(
            {k: v for k, v in data["queries"].items() if v is not None},
            retime=None if "--no-retry" in sys.argv[2:] else bench_one)
    print(json.dumps(report))
    sys.exit(1 if report["regressions"] else 0)


if __name__ == "__main__":
    main()
