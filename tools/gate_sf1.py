#!/usr/bin/env python3
"""sf1 (10x) scale gate: full-registry DuckDB compare with a JSON artifact.

Runs AFTER:
  python3 tools/make_sf1.py                      # /tmp/sf1 fixture
  sbt "runMain graft.Verify /tmp/sf1 /tmp/verify_sf1"

Then:
  python3 tools/gate_sf1.py /tmp/sf1 /tmp/verify_sf1 CORRECTNESS_sf1.json

Same registry-driven comparison as tools/check.py (imported), plus:
  - a per-query status JSON artifact for the round record;
  - NAMED exclusions for oracles that exceed the sandbox's disk: the
    g1/v12 DuckDB recursive/hybrid SQL spills >79 GB temp at sf1 (the
    machine has 79 GB free; both queries are hash-green at sf0.01 and
    sf0.1, and their Spark side completes at sf1 — the exclusion is an
    oracle-resource limit, not an engine failure). Excluded oracles
    still get a rows-only check on the Spark output.
"""
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent))
import check  # noqa: E402

# r10 carried 4 oracle-resource exclusions here (g1/v12/kc1/rk1: the
# 10x-verbatim-copy fixture squared the near-dup pair graph and their
# DuckDB oracles spilled past the sandbox's 79 GB temp disk). The r11
# fixture de-degeneration (make_sf1.py per-copy token suffixing) plus
# the MATERIALIZED-CTE oracle fixes close ALL of them at sf1, so the
# base set ships EMPTY. Per-rung exclusions (sf10's brute-force tiers)
# live in a JSON file named by GRAFT_GATE_EXCLUSIONS — every entry
# must carry a named reason. An excluded row's Spark output is still
# checked rows-only, so a failed or missing dump fails the gate.
EXCLUDE: dict = {}


def main(sf_dir: str, out_dir: str, artifact: str,
         shard: int = 0, nshards: int = 1) -> int:
    # per-rung named exclusions (env GRAFT_GATE_EXCLUSIONS = json file
    # of {query: reason}) merge into the base set
    excl_path = os.environ.get("GRAFT_GATE_EXCLUSIONS")
    if excl_path:
        EXCLUDE.update(json.loads(Path(excl_path).read_text()))
    # threads/memory tunable per rung: the v19 sf10 oracle's 426M-key
    # aggregate overshot the 48GB limit to ~100GB RSS (DuckDB's
    # high-cardinality agg accounting) and drew the kernel OOM killer —
    # a TIGHTER limit forces earlier radix spill and survives.
    con = check.connect(
        sf_dir,
        f"SET threads={os.environ.get('GRAFT_GATE_THREADS', '16')}",
        f"SET memory_limit='{os.environ.get('GRAFT_GATE_MEM', '48GB')}'",
        "SET temp_directory='/tmp/duckdb_gate_spill'",
        "SET preserve_insertion_order=false")

    # resumable: re-running re-checks only rows not yet recorded or
    # recorded as fail (a row Verify has not finished is a fail), so
    # the gate can chase a still-running Verify
    statuses = {}
    if Path(artifact).exists():
        prior = json.loads(Path(artifact).read_text()).get("queries", {})
        statuses.update(prior)
    def flush():
        # concurrent-shard safe: re-read + merge the artifact under this
        # process's view before writing (two shards share one file; a
        # blind write would drop the other shard's rows), and write via
        # tmp+rename so a crash mid-flush never corrupts the resumable
        # artifact. Races between the read and the rename can still lose
        # a peer's LAST in-flight row, but re-running the gate is
        # idempotent and re-checks anything missing.
        try:
            on_disk = json.loads(Path(artifact).read_text()).get("queries", {})
            for k, v in on_disk.items():
                statuses.setdefault(k, v)
        except (FileNotFoundError, json.JSONDecodeError):
            pass
        n = len(statuses)
        summary = {
            "sf": sf_dir, "n": n,
            "pass": sum(1 for v in statuses.values() if v["status"] == "pass"),
            "rows_only": sum(1 for v in statuses.values()
                             if v["status"] == "rows_only"),
            "excluded": sum(1 for v in statuses.values()
                            if v["status"] == "excluded"),
            "fail": sum(1 for v in statuses.values() if v["status"] == "fail"),
            "queries": statuses}
        tmp = Path(artifact).with_suffix(".tmp")
        tmp.write_text(json.dumps(summary, indent=1))
        tmp.replace(Path(artifact))
        return summary

    def want(name: str) -> bool:
        return (sum(ord(c) for c in name) % nshards == shard
                and statuses.get(name, {}).get("status", "fail") == "fail")

    for name, v in check.gate(con, Path(out_dir), want, EXCLUDE):
        statuses[name] = v
        flush()

    summary = flush()
    print(f"\n{summary['pass']}/{summary['n']} pass, "
          f"{summary['fail']} failure(s) -> {artifact}")
    return 1 if summary["fail"] else 0


if __name__ == "__main__":
    a = sys.argv[1:]
    sys.exit(main(a[0] if a else "/tmp/sf1",
                  a[1] if len(a) > 1 else "/tmp/verify_sf1",
                  a[2] if len(a) > 2 else "CORRECTNESS_sf1.json",
                  int(a[3]) if len(a) > 3 else 0,
                  int(a[4]) if len(a) > 4 else 1))
