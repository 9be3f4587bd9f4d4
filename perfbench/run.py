#!/usr/bin/env python3
"""The repo benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload kin_daily --seed 1 --seconds 30 --trace 0

It builds the program and the benchmark's JVM side from source (once per
source state), derives the seeded inputs, runs one JVM that drives the
program's public entry points, checks every output against DuckDB, and
prints one JSON object as the last line of stdout. See README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from datetime import date, timedelta
from pathlib import Path

import duckdb

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import checks  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DEADLINE_S = 170          # the whole run after the build
JVM_HEAP = "3g"           # fixed: -Xms = -Xmx
WORKLOADS = ("kin_daily", "warehouse_queries")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

# kin_daily calendar: events are shifted so their 30 days end on D0 (the
# last closed day of the final run at D0 + 1); the TPC-H lineitem calendar
# keeps its last LINEITEM_DAYS days, shifted to end on the same day.
D0 = date(2024, 1, 14)
EVENT_SHIFT_DAYS = -16
LINEITEM_DAYS = 120


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def testdata():
    d = Path(os.environ.get("PERFBENCH_TESTDATA", Path.home() / "testdata"))
    if not (d / "sf0.01" / "events.parquet").exists():
        fail(f"no test data under {d} (set PERFBENCH_TESTDATA)")
    return d


# ---------------------------------------------------------------- build

def source_key():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the JVM side; return the runtime classpath."""
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        fail("no program sources in this checkout (build.sbt, src/main)")
    out = HERE / ".build"
    stamp = out / f"classpath-{source_key()}.txt"
    if stamp.exists():
        return stamp.read_text().strip()
    out.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true "
                        "-Dsbt.server.autostart=false -Xmx2g")
    log = out / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if r.returncode != 0 or "perfbench" not in cp or cp.startswith("["):
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed")
    stamp.write_text(cp)
    return cp


# --------------------------------------------------------------- inputs

def shuffled(src, seed, select="*"):
    """`src` in a seed-chosen row order (same rows, same values)."""
    return (f"SELECT {select} FROM read_parquet('{src}', file_row_number=true) "
            f"ORDER BY md5(concat(file_row_number, ':', {seed}))")


def derive_kin(con, sf, dst, seed):
    con.sql(f"COPY ({shuffled(sf / 'events.parquet', seed, f'* EXCLUDE (file_row_number) REPLACE (ts + INTERVAL ({EVENT_SHIFT_DAYS}) DAY AS ts)')}) "
            f"TO '{dst / 'events.parquet'}' (FORMAT parquet)")
    li = sf / "lineitem.parquet"
    last = con.sql(f"SELECT max(l_shipdate)::DATE FROM '{li}'").fetchone()[0]
    shift = (D0 - last).days
    con.sql(f"COPY (SELECT * FROM ({shuffled(li, seed, f'* EXCLUDE (file_row_number) REPLACE (l_shipdate + INTERVAL ({shift}) DAY AS l_shipdate)')}) "
            f"WHERE l_shipdate > TIMESTAMP '{D0}' - INTERVAL ({LINEITEM_DAYS}) DAY) "
            f"TO '{dst / 'lineitem.parquet'}' (FORMAT parquet)")
    con.sql(f"COPY ({shuffled(sf / 'nation.parquet', seed, '* EXCLUDE (file_row_number)')}) "
            f"TO '{dst / 'nation.parquet'}' (FORMAT parquet)")
    rng = random.Random(seed)
    wallets = [r[0] for r in con.sql(
        f"SELECT DISTINCT user_id FROM '{dst / 'events.parquet'}' "
        "WHERE event_type <> 'error' ORDER BY 1").fetchall()]
    lo = D0 - timedelta(days=LINEITEM_DAYS - 2) + timedelta(days=rng.randrange(10))
    return {
        "serve_day": str(date(2023, 12, 18) + timedelta(days=rng.randrange(26))),
        "wallet": str(rng.choice(wallets)),
        "range_lo": str(lo),
        "range_hi": str(lo + timedelta(days=45)),
    }


WAREHOUSE_TABLES = ["region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events", "documents", "embeddings"]


def derive_queries(con, sf, dst, seed):
    for t in WAREHOUSE_TABLES:
        con.sql(f"COPY ({shuffled(sf / f'{t}.parquet', seed, '* EXCLUDE (file_row_number)')}) "
                f"TO '{dst / f'{t}.parquet'}' (FORMAT parquet)")
    return {}


# ------------------------------------------------------------ processes

def children():
    """Live child processes of this process."""
    kids = set()
    for task in Path(f"/proc/{os.getpid()}/task").iterdir():
        try:
            kids.update(int(p) for p in (task / "children").read_text().split())
        except OSError:
            pass
    return kids


def reap_leftovers():
    """Kill any child still running; True if there was one."""
    left = children()
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass
    return bool(left)


def run_jvm(classpath, scratch, jvm_args, deadline):
    log = scratch / "jvm.log"
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            f"-Djava.io.tmpdir={scratch / 'tmp'}",
            f"-Dspark.local.dir={scratch / 'spark-local'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"]
           + [f"{k}={v}" for k, v in jvm_args.items()])
    with open(log, "w") as f:
        launched = time.time()
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=scratch)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        lines = log.read_text().splitlines(True)
        first = next((i for i, l in enumerate(lines) if "Exception" in l), len(lines))
        ours = [l for l in lines if "at graft." in l or "at perfbench." in l]
        sys.stderr.write("".join(lines[first:first + 3] + ours[:10] + lines[-3:]))
        fail(f"the benchmark JVM ended with {code}", 1)
    return launched


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # a run does one fixed round of work, so its work never depends on how
    # fast it went; --seconds is accepted and not used
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    td = testdata()
    classpath = build()
    start = time.monotonic()

    scratch = HERE / ".scratch" / f"run-{os.getpid()}"
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        shutil.rmtree(scratch, ignore_errors=True)
        for d in ("input", "tmp", "spark-local"):
            (scratch / d).mkdir(parents=True)
        con = duckdb.connect()
        con.sql("SET threads = 4")
        if a.workload == "kin_daily":
            params = derive_kin(con, td / "sf0.01", scratch / "input", a.seed)
        else:
            params = derive_queries(con, td / "sf0.1", scratch / "input", a.seed)
        jvm_args = dict(workload=a.workload, root=scratch, input=scratch / "input",
                        trace=a.trace, **params)
        launched = run_jvm(classpath, scratch, jvm_args, start + DEADLINE_S)
        res = json.loads((scratch / "result.json").read_text())
        problems = checks.check(a.workload, res, scratch / "input", con)
        con.close()
        for p in problems + res["errors"]:
            print(f"perfbench: {p}", file=sys.stderr)

        phases = res["phases"]
        e2e = {
            "setup_s": res["nums"]["setup_done_epoch_us"] / 1e6 - launched,
            "cold_s": phases["cold"],
            "warm_s": phases["warm"],
            "round_s": sum(phases.values()),
        }
        if a.trace:
            wanted = spec["per_layer"]
            values = {m["name"]: res["layers"].get(m["name"], 0.0) for m in wanted}
        else:
            wanted = spec["end_to_end"]
            values = {m["name"]: e2e[m["name"]] for m in wanted}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in wanted}
        result = {"correct": not problems, "attempted": res["attempted"],
                  "failed": res["failed"], "metrics": metrics}
    finally:
        leaked = reap_leftovers()
        shutil.rmtree(scratch, ignore_errors=True)
        if scratch.parent.is_dir() and not any(scratch.parent.iterdir()):
            scratch.parent.rmdir()
    if leaked:
        fail("a child process was still running at exit", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
