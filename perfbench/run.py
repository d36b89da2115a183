#!/usr/bin/env python3
"""Run one benchmark workload with one seed.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 10 --trace 0

Builds the engine and the JVM client from source on first use, generates
the fixture tables, writes the seeded operations to a plan, runs the plan
in one JVM (one closed-loop client at local[N]), checks every result
against DuckDB, writes the full record to `perfbench/.work/results/` and
prints one JSON line: end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`. Run from the repository root.
"""
import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, ".data")

# scale factor, whether the tables are pooled in memory, warm-up passes,
# and the nominal length of a warm pass on 4 cores (s): a run times
# max(2, round(--seconds / pass_s)) whole passes, so that every run with
# the same --seconds times the same operations, however fast they run
CONFIG = {
    "analytic": {"sf": "0.1", "pool": True, "warm": 1, "pass_s": 4.5},
    "etl": {"sf": "0.1", "pool": False, "warm": 1, "pass_s": 12.0},
}
SETUPS = 2
MAX_CORES = 4
RUN_LIMIT_S = 170  # every run but a checkout's first (which builds) ends by then

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def ensure_data(sf):
    out = os.path.join(DATA, f"sf{sf}")
    stamp = os.path.join(out, ".done")
    if not os.path.exists(stamp):
        import gen_data
        shutil.rmtree(out, ignore_errors=True)
        gen_data.generate(out, float(sf))
        open(stamp, "w").close()
    return out


def ensure_catalog(cp):
    """The engine's oracle SQL by query name, dumped once per build."""
    path = os.path.join(build.OUT, "catalog.json")
    if not os.path.exists(path):
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Client", "--catalog", path],
                       check=True, stdout=subprocess.DEVNULL, timeout=120)
    with open(path) as fh:
        return json.load(fh)


def number(passes, start):
    """Give every operation of the passes a sequence number from `start`."""
    seq = start
    for p in passes:
        for op in p:
            op["seq"] = seq
            op.setdefault("sql", "")
            op.setdefault("after", [])
            op.setdefault("readback", "")
            seq += 1
    return seq


def cpu_times():
    """(busy, steal) seconds of all CPUs since boot, where /proc/stat exists:
    steal is time the host gave this machine's CPUs to others."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    tick = os.sysconf("SC_CLK_TCK")
    return (sum(f[:3]) + sum(f[5:7])) / tick, f[7] / tick


def git_commit():
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel"],
                             capture_output=True, text=True, timeout=10).stdout.strip()
        if os.path.realpath(top) != os.path.realpath(ROOT):
            return "unknown"
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    cfg = CONFIG[args.workload]

    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "a") as blog:
        first_build = not os.path.exists(build.STAMP)
        cp = build.build(log=blog)
    data_dir = ensure_data(cfg["sf"])

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    rdir = os.path.join(WORK, run_id)
    shutil.rmtree(rdir, ignore_errors=True)
    for d in ("out", "tmp", "local", "copy"):
        os.makedirs(os.path.join(rdir, d))
    cores = min(MAX_CORES, os.cpu_count() or 1)

    n_timed = max(2, round(args.seconds / cfg["pass_s"]))
    n_passes = cfg["warm"] + n_timed
    check, prep = [], []
    if args.workload == "etl":
        passes = workloads.etl_passes(args.seed, n_passes, os.path.join(rdir, "copy"))
        prep = workloads.ETL_PREP
    else:
        check = [{"kind": "query", "name": n} for n in workloads.ANALYTIC]
        passes = workloads.query_passes(list(workloads.ANALYTIC), args.seed, n_passes)
    number(passes, number([check], 0))
    plan = {
        "conf": {"workload": args.workload, "data": data_dir, "cores": cores,
                 "trace": bool(args.trace), "setups": SETUPS, "pool": cfg["pool"],
                 "warehouse": os.path.join(rdir, "warehouse"),
                 "local_dir": os.path.join(rdir, "local")},
        "prep": prep, "check": check,
        "warm": passes[:cfg["warm"]], "timed": passes[cfg["warm"]:],
    }
    with open(os.path.join(rdir, "plan.json"), "w") as fh:
        json.dump(plan, fh)
    ops_by_seq = {op["seq"]: op for p in [check] + passes for op in p}

    limit = RUN_LIMIT_S - (0 if first_build else time.time() - t_start)
    # a fixed heap, and a metaspace large enough that generated query classes
    # never force a full collection mid-window
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
            "-XX:MetaspaceSize=512m", "-Xss8m", "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(rdir, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + build.share_flags()
           + ["-cp", cp, "perfbench.Client", os.path.join(rdir, "plan.json"),
              os.path.join(rdir, "out")])
    with open(os.path.join(rdir, "jvm.log"), "w") as jlog:
        try:
            res = subprocess.run(cmd, stdout=jlog, stderr=jlog, timeout=max(30, limit - 15))
        except subprocess.TimeoutExpired:
            res = None
    if res is None or res.returncode != 0:
        if "-XX:ArchiveClassesAtExit=" + build.ARCHIVE in cmd and os.path.exists(build.ARCHIVE):
            os.remove(build.ARCHIVE)  # written by a failed run: not to be reused
        log(f"JVM client {'timed out' if res is None else f'failed ({res.returncode})'}; "
            f"see {rdir}/jvm.log")
        return 1
    with open(os.path.join(rdir, "out", "run.json")) as fh:
        run = json.load(fh)

    # -- correctness: every operation against the DuckDB oracle ------------
    errors = {}
    if args.workload == "etl":
        replay = oracle.EtlReplay(oracle.connect(data_dir), workloads.ETL_PREP)
        for rec in sorted(run["ops"], key=lambda r: r["start_ns"]):
            op = ops_by_seq[rec["seq"]]
            try:
                rec["changed_bytes"] = replay.apply(op)
            except Exception as e:  # the oracle itself rejected the statement
                rec["changed_bytes"] = 0
                errors.setdefault(rec["seq"], f"oracle: {e}")
            if rec["ok"]:
                why = replay.check(op, rec["cols"], rec["cells"])
                if why:
                    errors.setdefault(rec["seq"], why)
    else:
        oracle_sql = ensure_catalog(cp)["oracle"]
        answers = oracle.Answers(data_dir)
        bad = {}
        for rec in run["ops"]:
            if rec["phase"] == "check" and rec["ok"]:
                why = answers.check(oracle_sql[rec["name"]],
                                    os.path.join(rdir, "out", "results", rec["name"]))
                if why:
                    bad[rec["name"]] = why
        for rec in run["ops"]:
            if rec["name"] in bad:
                errors[rec["seq"]] = bad[rec["name"]]
    for rec in run["ops"]:
        if not rec["ok"]:
            errors.setdefault(rec["seq"], rec["err"])
        rec["ok"] = rec["seq"] not in errors
        rec["err"] = errors.get(rec["seq"], "")

    m = (metrics.end_to_end(run) if args.trace == 0
         else metrics.per_layer(run, cores))
    cpu_end = cpu_times()
    attempted = len(run["ops"])
    failed = sum(1 for r in run["ops"] if not r["ok"])
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cores": cores,
        "commit": git_commit(), "host": platform.node(),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "cpu_busy_s": cpu_end[0] - cpu_start[0] if cpu_start and cpu_end else None,
        "cpu_steal_s": cpu_end[1] - cpu_start[1] if cpu_start and cpu_end else None,
        "wall_s": time.time() - t_start, "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted if attempted else 1.0,
        "sample": [op["name"] for op in check] or workloads.ETL_KINDS,
        "timeline_s": run["timeline_s"],
        "setups": run["setups"], "prep": run["prep"], "passes": run["passes"], "metrics": m,
        "ops": [{"seq": r["seq"], "name": r["name"], "phase": r["phase"], "pass": r["pass"],
                 "ms": (r["end_ns"] - r["start_ns"]) / 1e6, "stmt_ms": r["stmt_ms"],
                 "rows": r["rows"], "ok": r["ok"]} for r in run["ops"]],
        "errors": [{"seq": s, "name": ops_by_seq.get(s, {}).get("name", ""), "why": w}
                   for s, w in sorted(errors.items())][:50],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", run_id + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(rdir, ignore_errors=True)
    for e in record["errors"][:5]:
        log(f"error in {e['name']}: {e['why'][:200]}")
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in m.items()}}
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
