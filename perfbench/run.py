#!/usr/bin/env python3
"""Layered benchmark of the brontes pipeline on Spark.

    python3 perfbench/run.py --workload range_cold --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program and the harness
from source (perfbench/build.sbt; the first run compiles), cuts the input
for the seed, runs the workload in one JVM (`local[nproc]`, one client, a
closed loop), compares every output of the warm operation with the DuckDB
oracle through tools/check.py, and checks every timed operation's outputs
against the warm ones. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the end-to-end metrics with
--trace 0, the per-layer metrics of one traced unit with --trace 1. The
same object with the details (input window, samples, failures, oracle
results, spans) is written to .perfbench/results/.

Everything it writes stays under .perfbench/ in the checkout; the run's
own directory is deleted at the end.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep __pycache__ out of the checkout
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))
import lib  # noqa: E402

WORKLOADS = ("range_cold", "analyst_warm", "tip_stream")
DEADLINE_S = 175  # the whole run, build excluded
ORACLE_RESERVE_S = 10
SBT_OPTS = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={Path.home()}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx4g")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp() -> str:
    h = hashlib.sha256()
    files = [p for d in (ROOT / "src" / "main", HERE / "src") for p in d.rglob("*") if p.is_file()]
    files += [p for d in (ROOT, ROOT / "project", HERE, HERE / "project")
              for p in d.glob("*") if p.suffix in (".sbt", ".scala", ".properties")]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build() -> tuple:
    """Compiles program + harness unless the sources are unchanged since
    the last build; returns the runtime classpath and the program's JVM
    options."""
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "tools" / "check.py").is_file():
        raise SystemExit("perfbench: the program's sources (src/main/scala, tools/check.py) "
                         "are not in this directory; run from the root of a checkout")
    stamp, out = sources_stamp(), HERE / "target"
    cp, opts, stamp_file = (out / "runtime-classpath.txt", out / "java-options.txt",
                            out / "sources.sha256")
    if not (stamp_file.is_file() and stamp_file.read_text() == stamp):
        sbt_build()
        stamp_file.write_text(stamp)
    return cp.read_text().strip(), opts.read_text().split()


def sbt_build() -> None:
    log("building program and harness with sbt")
    tmp = WORK / "tmp"
    # every JVM sbt starts keeps its temp files inside the checkout
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=str(tmp),
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS),
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}")
    tmp.mkdir(parents=True, exist_ok=True)
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                    f"-Dsbt.global.base={WORK / 'sbt-global'}", "exportClasspath"],
                   cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, check=True, timeout=800)


def run_harness(jvm: tuple, args, spec: dict, run_dir: Path, data: Path, deadline: float) -> dict:
    tmp, out = run_dir / "tmp", run_dir / "harness.json"
    tmp.mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    cp, java_options = jvm
    cmd = ["java", *java_options, "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "graft.perfbench.Harness",
           "--workload", args.workload, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--seed", str(args.seed), "--cpus", str(cpus),
           "--data", str(data), "--work", str(run_dir), "--dump", str(run_dir / "dump"),
           "--out", str(out),
           "--range", ",".join(f"{q}:{layer}" for q, layer in spec["range"]),
           "--mix", ",".join(f"{m}:{q}" for m, q in spec["analyst_mix"]),
           "--tip", ",".join(spec["tip"])]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            env=dict(os.environ, TMPDIR=str(tmp)))
    try:
        code = proc.wait(timeout=max(1.0, deadline - ORACLE_RESERVE_S - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: the harness ran out of time")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise SystemExit(f"perfbench: the harness exited with {code}")
    return json.loads(out.read_text())


def oracle_check(data: Path, dump: Path, res: dict) -> dict:
    """Compares each dumped output with its DuckDB oracle on the same input,
    using tools/check.py's normalisation and comparison."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, str(ROOT / "tools"))
    import check
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{dump.parent / 'tmp'}'")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    verdicts = {}
    for q in res["dumped"]:
        sql = res["oracle_sql"].get(q)
        if sql is None:
            verdicts[q] = "no oracle"
            continue
        s = check.norm(pd.read_parquet(dump / q))
        o = check.norm(con.execute(sql).fetchdf())
        verdicts[q] = f"PASS {len(s)} rows"
        if len(s) != len(o) or list(s.columns) != list(o.columns):
            verdicts[q] = f"FAIL rows {len(s)}/{len(o)} columns {list(s.columns)}/{list(o.columns)}"
            continue
        dtypes_ok, column, _, _ = check.dtypes_match(s, o)
        if not dtypes_ok:
            verdicts[q] = f"FAIL dtype of column {column}"
            continue
        values_ok, _, row = check.values_match(s, o)
        if not values_ok:
            verdicts[q] = f"FAIL values at row {row}"
    con.close()
    return verdicts


def hygiene(res: dict, run_dir: Path) -> list:
    """What an operation left behind that it should not have."""
    bad = []
    for op in res["ops"]:
        if op.get("store_left"):
            bad.append(f"{op['name']}: its store root survived")
        if op.get("tmp_left"):
            bad.append(f"{op['name']}: temp dirs survived: {op['tmp_left']}")
    sizes = [op["tmp_bytes_after"] for op in res["ops"]]
    if sizes and max(sizes) > sizes[0] + (1 << 20):
        bad.append(f"temp dir grew across operations: {sizes[0]} -> {max(sizes)} bytes")
    left = sorted(p.name for p in (run_dir / "mat").glob("*") if p.name != "setup")
    if left:
        bad.append(f"store roots survived: {left}")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--source", help="input tables to cut (default: workloads.json)")
    ap.add_argument("--window", type=int, help="orderkeys in the window (default: workloads.json)")
    args = ap.parse_args()

    spec = json.loads((HERE / "workloads.json").read_text())
    jvm = build()
    deadline = time.monotonic() + DEADLINE_S
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data = run_dir / "input"
        source = Path(args.source or spec["source"]).expanduser()
        win = lib.cut_input(source, data, args.seed, args.window or spec["window_orderkeys"])
        t0 = time.monotonic()
        res = run_harness(jvm, args, spec, run_dir, data, deadline)
        t1 = time.monotonic()
        verdict = lib.judge(res)
        oracle = oracle_check(data, run_dir / "dump", res)
        log(f"harness {t1 - t0:.1f} s, oracle check {time.monotonic() - t1:.1f} s")
        problems = [f"oracle {q}: {v}" for q, v in oracle.items() if v.startswith("FAIL")]
        if not res["dumped"]:
            problems.append("no output was dumped for the oracle comparison")
        problems += hygiene(res, run_dir)
        cover = {op["name"]: lib.coverage(op) for op in res["ops"] if op["kind"] == "range"}
        for name, (share, (gap_s, after, before)) in cover.items():
            if share < 0.9:
                problems.append(f"{name}: spans cover {share:.1%} of the operation; largest gap "
                                f"{gap_s:.3f} s between {after} and {before}")
        if args.trace:
            metrics = lib.per_layer(res, [m for m, _ in spec["analyst_mix"]])
        else:
            metrics = lib.end_to_end(res)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems + verdict["failures"]:
        log(p)
    walls = lib.timed_walls(res)
    line = {"correct": not problems and verdict["failed"] == 0,
            "attempted": verdict["attempted"], "failed": verdict["failed"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    details = dict(line, workload=args.workload, seed=args.seed, seconds=args.seconds,
                   trace=args.trace, input=win, problems=problems,
                   failures=verdict["failures"], oracle=oracle,
                   samples=len(walls), p90_s=lib.percentile(walls, 0.9) if walls else None,
                   beyond_p90=lib.beyond(walls, 0.9) if walls else 0,
                   ops_per_s=len(walls) / res["loop_s"],
                   session_s=res["session_s"], loop_s=res["loop_s"], span_coverage=cover,
                   ops=[{k: op.get(k) for k in ("name", "kind", "role", "module", "wall_s", "ok",
                                                "error", "store_files", "store_bytes", "spans",
                                                "plan_phases", "progress", "storage_bytes_after")}
                        for op in res["ops"]],
                   counts=res["counts"])
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(details, indent=1))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
