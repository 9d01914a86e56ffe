#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload fk_sales --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the repository's main
sources together with the harness (`perfbench/build.sbt`, offline sbt) into
`perfbench/target`; later runs reuse that build while the sources are
unchanged. Each run then:

  1. makes its inputs from the seed in a scratch root of its own
     (`.bench_run/`, deleted at exit): FreshKart files in the JVM, or the
     `orders` table with DuckDB (`tables.py`);
  2. starts one JVM with a fixed maximum heap, one `local[nproc]` session,
     warms up and times a closed loop with one client (`Main.scala`);
  3. checks the outputs of the last op against the oracle SQL in DuckDB;
  4. writes every figure, the spans and an environment stamp to
     `.bench_out/<workload>-seed<seed>-trace<trace>.json`, and prints as its
     last line {"correct", "attempted", "failed", "metrics"}: the end-to-end
     metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
"""
import argparse
import atexit
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

# The maximum heap only: no -Xms and no pre-touch, so resident memory
# follows what the program uses.
HEAP = "3g"
DEADLINE_S = 170  # the whole run, build excluded

# Every workload is a closed loop with one client. `records` is the input
# size that `records_per_s` divides by.
WORKLOADS = {
    # SalesPipeline.run over generated FreshKart files: executor-bound
    # (JSON scan, posexplode, window dedup, rollups, CSV and Parquet sinks).
    # The JIT keeps compiling the planner and scheduler code (Catalyst,
    # DAGScheduler) for dozens of ops, and timing the steep start of that
    # slope is noise. Warmup ops over a fixture-size input (`warm_scale`) run
    # the same jobs, so they compile the same planner code at half the cost;
    # three full-size ops then compile the per-row code. The warmup count is
    # bounded by the run budget: every run must fit in about a minute.
    "fk_sales": {"kind": "fk", "scale": 25, "warm_scale": 1, "warmup_small": 5, "warmup": 3},
    # Queries whose wall is mostly jobs launched while the DataFrame is
    # built: the Formats merge and deletion-vector writes and commits.
    "eager_ops": {"kind": "queries", "sf": 0.01, "warmup": 3,
                  "queries": ["io_merge", "io_dv_delete"]},
}

ALL_QUERIES = [q for w in WORKLOADS.values() for q in w.get("queries", [])]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest(root: Path) -> str:
    h = hashlib.sha256()
    files = sorted([*(root / "src/main/scala").rglob("*.scala"), *(HERE / "src").rglob("*.scala"),
                    HERE / "build.sbt", HERE / "project/build.properties"])
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_home() -> str:
    """SPARK_HOME, else the first `spark-submit` on the PATH that sits in a
    Spark installation (one with `jars/spark-core_*.jar`)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = (Path(d) / "spark-submit").resolve().parent.parent
        if any(home.glob("jars/spark-core_*.jar")):
            return str(home)
    raise SystemExit("perfbench: no Spark installation found; set SPARK_HOME")


def build(root: Path) -> list:
    """Compiles once per source digest; returns the runtime classpath."""
    digest = source_digest(root)
    target = HERE / "target"
    cp_file, stamp = target / "classpath.txt", target / "source.sha256"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().split(os.pathsep)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    # sbt's own state (zinc bridge, staging) stays in the checkout; only the
    # launcher and the dependency cache are read from the user's home.
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dsbt.global.base={root / '.bench_build' / 'sbt-global'}",
            f"-Djava.io.tmpdir={root / '.bench_build' / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    (root / ".bench_build" / "tmp").mkdir(parents=True, exist_ok=True)
    log("building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    stamp.write_text(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp_file.read_text().split(os.pathsep)


def git_commit(root: Path) -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# ---- output checks ---------------------------------------------------------

def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b or str(a) == str(b)


def _compare(got, want, ordered: bool) -> str:
    """'' when equal (columns by name, values exact), else the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    cols = sorted(got.columns)
    got, want = got[cols], want[cols]
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    a = [tuple(r) for r in got.itertuples(index=False)]
    b = [tuple(r) for r in want.itertuples(index=False)]
    if not ordered:
        a, b = sorted(a, key=repr), sorted(b, key=repr)
    for i, (x, y) in enumerate(zip(a, b)):
        for c, u, v in zip(cols, x, y):
            if not _same(u, v):
                return f"row {i} col {c}: spark={u!r} oracle={v!r}"
    return ""


def check_outputs(checks: list, tables: Path) -> list:
    """Replays each oracle in DuckDB over the same inputs, like
    tools/check_oracle.py; a rows-only query must return rows."""
    import duckdb
    con = duckdb.connect()
    if tables is not None:
        for t in sorted(tables.glob("*.parquet")):
            con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    results = []
    for c in checks:
        name, path = c["name"], c["path"]
        try:
            if c["kind"] == "csv":
                # Sinks.writeSingleCsv: ';' separated, floats as %.2f.
                got = con.execute(f"SELECT * FROM read_csv('{path}', delim=';', header=true, "
                                  "all_varchar=true)").fetchdf()
                want = con.execute(c["oracle"]).fetchdf()
                for col in want.columns:
                    if want[col].dtype.kind == "f":
                        want[col] = want[col].map(lambda x: "%.2f" % x)
                    else:
                        want[col] = want[col].map(lambda x: None if x is None else str(x))
                err = _compare(got, want, c["ordered"])
            else:
                got = con.execute(f"SELECT * FROM '{path}/*.parquet'").fetchdf()
                if "oracle" in c:
                    want = con.execute(c["oracle"]).fetchdf()
                    err = _compare(got, want, c["ordered"])
                else:
                    err = "" if len(got) > 0 else "rows-only query returned no rows"
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            err = f"{type(e).__name__}: {e}"
        results.append({"name": name, "ok": not err, "error": err,
                        "kind": "oracle" if "oracle" in c else "rows"})
        if err:
            log(f"check FAILED {name}: {err}")
    con.close()
    return results


# ---- metrics -----------------------------------------------------------------

END_TO_END = {"run_p50_s": "s", "records_per_s": "1/s", "retained_heap_mb": "MB", "setup_s": "s"}


def per_layer_names() -> dict:
    names = {
        "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
        "driver.construct_s": "s", "driver.construct_jobs": "count", "driver.action_s": "s",
        "driver.idle_s": "s", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
        "exec.slot_use": "ratio", "exec.gc_s": "s", "jvm.jit_s": "s", "jvm.cpu_s": "s",
        "jvm.peak_rss_mb": "MB",
        "shuffle.read_mb": "MB", "shuffle.write_mb": "MB", "shuffle.spill_mb": "MB",
        "io.input_mb": "MB", "io.output_mb": "MB", "cache.plans_left": "count",
    }
    for mod in ["freshkart.SalesPipeline", "freshkart.Sinks", "operators.Formats",
                "operators.Dedup", "operators.Similarity", "operators.GraphAnn",
                "operators.Graph", "operators.TextAnalysis", "streaming.Events",
                "queries.Relational", "QueryDef", "action", "other"]:
        names[f"{mod}.jobs"] = "count"
        names[f"{mod}.task_s"] = "s"
    for q in ALL_QUERIES:
        names[f"q.{q}.wall_s"] = "s"
        names[f"q.{q}.construct_s"] = "s"
        names[f"q.{q}.jobs"] = "count"
    names.update({"memo.cold_build_s": "s", "trace.run_p50_s": "s", "trace.overhead": "ratio"})
    return names


def tail(walls: list) -> dict:
    """Highest percentile with at least ten samples beyond it, if any."""
    n = len(walls)
    for p in (99, 95, 90, 75, 50):
        beyond = n - math.ceil(n * p / 100)
        if beyond >= 10:
            return {"percentile": p, "value_s": sorted(walls)[math.ceil(n * p / 100) - 1],
                    "samples": n, "beyond": beyond}
    return {"percentile": None, "samples": n, "note": "fewer than 10 samples beyond p50"}


def remove_scratch(scratch: Path) -> None:
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        scratch.parent.rmdir()  # only when no other run is using it
    except OSError:
        pass


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    root = Path.cwd().resolve()
    if not (root / "src/main/scala/graft/SparkEntry.scala").is_file():
        log(f"{root} holds no graft sources (src/main/scala/graft); run from a checkout root")
        return 2
    classpath = build(root)

    t_start = time.time()
    scratch = root / ".bench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    atexit.register(remove_scratch, scratch)

    inputs, tables = {}, None
    if wl["kind"] == "queries":
        import tables as tablegen
        tables = scratch / "tables"
        rows = tablegen.generate(tables, args.seed, wl["sf"])
        inputs = {"sf": wl["sf"], "rows": rows, "records": sum(rows.values()),
                  "bytes": sum(f.stat().st_size for f in tables.glob("*.parquet"))}
    gen_s = time.time() - t_start

    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={scratch / 'tmp'}", f"-Dderby.system.home={scratch}",
           "-Dspark.ui.enabled=false", "-cp", os.pathsep.join(classpath), "perfbench.Main",
           "--scratch", str(scratch), "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--warmup", str(wl["warmup"]),
           "--all-queries", ",".join(ALL_QUERIES)]
    if wl["kind"] == "fk":
        cmd += ["--kind", "fk", "--scale", str(wl["scale"]), "--warm-scale", str(wl["warm_scale"]),
                "--warmup-small", str(wl["warmup_small"])]
    else:
        cmd += ["--kind", "queries", "--queries", ",".join(wl["queries"]), "--tables", str(tables)]
    env = dict(os.environ, GRAFT_FK_DIR=str(scratch / "fk_input"))
    jvm_log = scratch / "jvm.log"
    spawn = time.time()
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(10, DEADLINE_S - (spawn - t_start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log("JVM exceeded the deadline and was killed")
    log(f"JVM ran {time.time() - spawn:.1f} s (started {spawn - t_start:.1f} s into the run)")
    if proc.returncode != 0 or not (scratch / "result.json").exists():
        sys.stderr.write(jvm_log.read_text()[-6000:])
        log(f"JVM exited with {proc.returncode}")
        return 1
    r = json.loads((scratch / "result.json").read_text())
    t_check = time.time()
    checks = check_outputs(r["checks"], tables)
    check_s = time.time() - t_check
    if wl["kind"] == "fk":
        inputs = r["inputs"]
        records = inputs["order_records"]
    else:
        records = inputs["records"]

    ops = r["ops"]
    walls = [o["wall_s"] for o in ops if o["ok"]]
    failed = sum(not o["ok"] for o in ops) + r["warmup_failed"] + sum(not c["ok"] for c in checks)
    p50 = statistics.median(walls) if walls else 0.0
    # Set-up: input generation, JVM and session start, warmup (with any
    # per-JVM memo builds and the checked outputs), and the check.
    setup_s = gen_s + (r["loop_start_ms"] / 1000 - spawn) + check_s
    end_to_end = {"run_p50_s": p50, "records_per_s": records / p50 if p50 else 0.0,
                  "retained_heap_mb": r["retained_heap_mb"], "setup_s": setup_s}

    traced = [o for o in ops if o["traced"] and o["ok"]]
    untraced = [o["wall_s"] for o in ops if not o["traced"] and o["ok"]]
    layer = {}
    if traced:
        for k in per_layer_names():
            vals = [o["layers"][k] for o in traced if k in o["layers"]]
            if vals:
                layer[k] = statistics.median(vals)
        layer["memo.cold_build_s"] = sum(r["cold_builds"].values())
        layer["trace.run_p50_s"] = statistics.median(o["wall_s"] for o in traced)
        layer["trace.overhead"] = (layer["trace.run_p50_s"] / statistics.median(untraced) - 1
                                   if untraced else 0.0)

    units = per_layer_names() if args.trace else END_TO_END
    values = layer if args.trace else end_to_end
    metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()}

    stamp = {"nproc": os.cpu_count(), "cores_used": r["cores"], "heap": HEAP,
             "heap_max_mb": r["heap_max_mb"], "spark_version": r["spark_version"],
             "spark_conf": r["spark_conf"], "workload": args.workload, "seed": args.seed,
             "seconds": args.seconds, "trace": args.trace, "inputs": inputs,
             "git_commit": git_commit(root), "source_sha256": source_digest(root),
             "java": shutil.which("java"), "python": platform.python_version(),
             "host": platform.node(), "loop": "closed, 1 client"}
    detail = {"environment": stamp, "end_to_end": end_to_end, "per_layer": layer,
              "run_tail": tail(walls), "peak_rss_mb": r["peak_rss_mb"], "op_walls_s": walls, "warmup_walls_s": r["warmup_walls"],
              "cold_builds": r["cold_builds"], "checks": checks, "ops": ops,
              "setup_parts_s": {"input_generation": gen_s,
                                "jvm_session_warmup": r["loop_start_ms"] / 1000 - spawn,
                                "check": check_s}}
    out_dir = root / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(detail, indent=1))
    log(f"{args.workload} seed={args.seed} ops={len(ops)} p50={p50:.3f}s setup={setup_s:.1f}s "
        f"checks={sum(c['ok'] for c in checks)}/{len(checks)} stamp={json.dumps(stamp)}")
    attempted = len(ops) + len(r["warmup_walls"]) + len(checks)
    print(json.dumps({"correct": failed == 0 and bool(walls), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
