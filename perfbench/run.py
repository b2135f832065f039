#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and the
harness with sbt, makes the large fixture, builds every fit-or-load
artifact (untimed) and computes the DuckDB oracle digests; later runs
reuse all of that from `.bench_build/perfbench/`.

Workloads (METRICS.md says what each metric means on each):
  batch_small  6 registry rows on the committed sf0.01 fixture
  batch_large  d6_neardup_lsh and the IndexStore build/upsert/delete/
               query/compact sequence on the 5-copy fixture
  serve        the in-process serving tiers: one client per tier, then
               one client per core over the tiers and their 4-shard routers

The seed draws only the serving requests and the IndexStore batches; the
batch rows read fixed fixtures. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Everything
else a run observed (per-tier latencies, box load, spans) is written to
`.bench_build/perfbench/runs/` and summarised on stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
STATE = ROOT / ".bench_build" / "perfbench"
SMALL = HERE / "fixtures" / "sf0.01"
COPIES = 5
LARGE = STATE / "fixtures" / f"x{COPIES}"
WORKLOADS = ("batch_small", "batch_large", "serve")
# A run must end within 180 s; the first run in a checkout also builds
# and prepares, which may take longer.
RUN_DEADLINE = 175
BUILD_TIMEOUT = 400
PREPARE_TIMEOUT = 400
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Spark on JDK 17 outside spark-submit needs these (as in graft's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_key() -> str:
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted((ROOT / "src" / "main").rglob("*.scala"))
    files += sorted((HERE / "src").rglob("*.scala"))
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(key: str) -> list:
    """Compile graft and the harness; return the runtime classpath."""
    stamp = STATE / "build.json"
    if stamp.exists():
        got = json.loads(stamp.read_text())
        if got["key"] == key:
            return got["classpath"]
    log("building graft and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    cp = [ln for ln in out.stdout.splitlines()
          if ln.startswith("/") and "classes" in ln][-1].split(":")
    STATE.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"key": key, "classpath": cp}))
    return cp


def jvm(classpath: list, args: list, out: Path, timeout: float) -> dict:
    """Run the harness JVM; return the record it wrote to `out`."""
    (STATE / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={STATE / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(classpath), "perfbench.Main"] + args + [
        "--small", str(SMALL), "--large", str(LARGE), "--state", str(STATE),
        "--out", str(out)]
    if out.exists():
        out.unlink()
    proc = subprocess.Popen(cmd, cwd=STATE, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True)
    try:
        stdout, stderr = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise SystemExit("perfbench: the harness JVM timed out")
    if proc.returncode != 0 or not out.exists():
        sys.stderr.write(stderr[-6000:])
        raise SystemExit(f"perfbench: the harness JVM exited {proc.returncode}")
    return json.loads(out.read_text())


# ---- oracle digests (the repository's check.py convention) ----

def canon(df):
    """Columns sorted by name, rows sorted, integer kinds widened."""
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    df = df.reset_index(drop=True)
    for c in df.columns:
        if df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df


def digest(df) -> dict:
    import pandas as pd
    c = canon(df)
    return {"rows": len(c), "columns": list(c.columns),
            "kinds": "".join(c[x].dtype.kind for x in c.columns),
            "hash": str(int(pd.util.hash_pandas_object(c, index=False).sum()))}


def duck(fixture: Path):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = fixture / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def oracle_digests(fixture: Path, rows: list, sql: dict, path: Path) -> dict:
    """Digest of each row's oracle result, computed once per fixture."""
    if path.exists():
        return json.loads(path.read_text())
    con = duck(fixture)
    out = {r: digest(con.execute(sql[r]).df()) for r in rows}
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(out))
    return out


def fixture_sig(d: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(d.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def prepare(classpath: list, key: str) -> dict:
    """Untimed, once per build: the large fixture, every fit-or-load
    artifact, and the oracle digests of every benchmark row."""
    stamp = STATE / "prepared.json"
    if stamp.exists():
        got = json.loads(stamp.read_text())
        if got["key"] == key:
            return got
    if not LARGE.exists():
        log(f"making the {COPIES}-copy fixture")
        sys.path.insert(0, str(HERE))
        import fixture
        shutil.rmtree(str(LARGE) + ".partial", ignore_errors=True)
        fixture.build(str(SMALL), str(LARGE), COPIES)
    log("building fit-or-load artifacts (untimed)")
    rec = jvm(classpath, ["prepare"], STATE / "prepare.json", PREPARE_TIMEOUT)
    if rec["failures"]:
        raise SystemExit("perfbench: prepare failed: " + "; ".join(rec["failures"]))
    log("computing oracle digests")
    sql = rec["oracle"]
    got = {"key": key, "oracle": {}}
    for name, d in (("small", SMALL), ("large", LARGE)):
        sig = fixture_sig(d)
        got["oracle"][name] = oracle_digests(
            d, sorted(sql), sql, STATE / "oracle" / f"{sig}.json")
    stamp.write_text(json.dumps(got))
    return got


def check_rows(rec: dict, oracle: dict) -> list:
    """Compare each row's output with its oracle digest; return failures."""
    import duckdb
    bad = []
    con = duckdb.connect()
    for op in rec["ops"]:
        name = op["name"]
        if name not in oracle:
            continue
        files = Path(rec["row_outputs"]) / name
        try:
            got = digest(con.execute(f"SELECT * FROM '{files}/*.parquet'").df())
        except Exception as e:  # missing or unreadable output
            bad.append(f"{name}: output unreadable: {e}")
            continue
        want = oracle[name]
        if got["rows"] == 0:
            bad.append(f"{name}: no rows")
        elif got != want:
            bad.append(f"{name}: rows {got['rows']} vs oracle {want['rows']}, "
                       f"hash {got['hash']} vs {want['hash']}")
    return bad


# ---- metrics ----

def end_to_end(rec: dict, failed_ops: set) -> dict:
    ops = [o for o in rec["ops"] if o["walls_s"] and o["name"] not in failed_ops
           and o["failed"] == 0]
    # wall_s: per operation class, its median wall times how often one
    # pass runs it (once per batch row or IndexStore step; the request
    # pool size per serving tier), summed over the classes
    per_pass = rec["pool"] if rec["workload"] == "serve" else 1
    wall = sum(per_pass * statistics.median(o["walls_s"]) for o in ops)
    if rec["workload"] == "serve":
        rate = rec["qps"]
    else:
        rate = sum(len(o["walls_s"]) for o in ops) / rec["window_s"]
    m = {"setup_s": (rec["setup_s"], "s"), "heap_mb": (rec["heap_mb"], "MB"),
         "wall_s": (wall, "s"), "ops_per_s": (rate, "1/s")}
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_layer(rec: dict, units: dict) -> dict:
    return {k: {"value": v if v is not None else 0.0, "unit": units[k]}
            for k, v in rec["layers"].items() if k in units}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log("no graft sources here: run from the root of a graft checkout")
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    key = sources_key()
    classpath = build(key)
    prep = prepare(classpath, key)
    started = time.monotonic()

    out = STATE / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    rec = jvm(classpath, ["run", "--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace)], out,
              RUN_DEADLINE - (time.monotonic() - started))

    problems = list(rec["problems"]) + [
        f"{o['name']}: {o['error']}" for o in rec["ops"] if o["error"]]
    failed_ops = set()
    if rec["row_outputs"]:
        oracle = prep["oracle"]["small" if a.workload == "batch_small" else "large"]
        for p in check_rows(rec, oracle):
            problems.append(p)
            failed_ops.add(p.split(":")[0])
    attempted = int(rec["attempted"])
    failed = int(rec["failed"]) + sum(
        o["attempted"] - o["failed"] for o in rec["ops"] + rec["untraced_ops"]
        if o["name"] in failed_ops)

    if a.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = per_layer(rec, units)
        for name, unit in units.items():
            metrics.setdefault(name, {"value": 0.0, "unit": unit})
    else:
        metrics = end_to_end(rec, failed_ops)
    for p in problems:
        log(f"FAILED {p}")
    box = rec["layers"]
    log(f"{a.workload} seed={a.seed}: attempted={attempted} failed={failed} "
        f"passes={rec['passes']} window={rec['window_s']:.1f}s "
        f"load {box['box.load_avg_start']:.2f}->{box['box.load_avg_end']:.2f} "
        f"steal {box['box.steal_share']:.3f} "
        f"executor cpu/wall {box['engine.cpu_util']:.3f} "
        f"jvm gc {box['jvm.gc_ms']:.0f} ms; record: {out}")
    print(json.dumps({"correct": not problems and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
