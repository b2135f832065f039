#!/bin/bash
# Scale rung: synthesize the fixture, verify the rung's representative
# subset, gate it against DuckDB, and bench the same subset into
# BENCH_<rung>.json. Everything is resumable: re-running skips recorded
# gate rows, and Verify only re-dumps the queries passed. A failed gate
# stops the run before the bench overwrites the rung's BENCH file.
# Run gates one at a time: two concurrent DuckDB gates have eaten the
# node's temp disk twice.
#
#   sf10  (100x sf0.1,  tools/repr50.txt)
#   sf30  (300x sf0.1,  tools/repr_sf30.txt)
#   sf100 (1000x sf0.1, tools/repr_sf100.txt)
#
# Usage: tools/run_rung.sh sf10|sf30|sf100 [fixture_dir]
set -u
cd "$(dirname "$0")/.."
RUNG=${1:?usage: tools/run_rung.sh sf10|sf30|sf100 [fixture_dir]}
FIXTURE=${2:-/tmp/$RUNG}

# 16g heap, NOT bigger: a large heap lets Spark's unified memory buffer
# ~0.6*heap before spilling, and full-GC pauses on a 70 GB heap exceed
# the 10 s executor heartbeat (observed: a1_asof GC death spiral at
# 72g; clean early-spill run at 16g). Early spill is the right
# behavior at rung scale. sf30+ also raise the shuffle partitions (see
# graft/Session.scala).
case "$RUNG" in
  sf10)
    # the pair-LSH family is N-adaptive (pairBits ~ log2(N/32)), so
    # kg1/hg1/hg2 run Spark-side within the node budget — no query skips
    COPIES=100 REPR=tools/repr50.txt
    VERIFY_ENV=() BENCH_ENV=(SPARK_DRIVER_MEM=16g) GATE_ENV=() ;;
  sf30)
    COPIES=300 REPR=tools/repr_sf30.txt
    VERIFY_ENV=(SPARK_DRIVER_MEM=16g SPARK_GRAFT_SHUFFLE_PARTITIONS=256)
    BENCH_ENV=("${VERIFY_ENV[@]}") GATE_ENV=() ;;
  sf100)
    COPIES=1000 REPR=tools/repr_sf100.txt
    VERIFY_ENV=(SPARK_DRIVER_MEM=16g SPARK_GRAFT_SHUFFLE_PARTITIONS=256)
    BENCH_ENV=("${VERIFY_ENV[@]}")
    # 72GB: d8's 5M-doc components oracle needs ~95GB working set; at
    # the default 48GB it spills >42GB and outruns the node's free
    # disk. 72GB in-RAM + ~24GB spill fits both budgets.
    GATE_ENV=(GRAFT_GATE_MEM=${GRAFT_GATE_MEM:-72GB}) ;;
  *) echo "unknown rung '$RUNG' (sf10|sf30|sf100)" >&2; exit 2 ;;
esac
CPUS=${SPARK_GRAFT_CPUS:-24}

if [ ! -f "$FIXTURE/lineitem.parquet" ]; then
  python3 tools/make_sfN.py "$COPIES" /root/testdata/sf0.1 "$FIXTURE" || exit 1
fi

QUERIES=$(grep -v '^#' "$REPR" | grep -v '^$' | paste -sd' ')
env "${VERIFY_ENV[@]}" SPARK_GRAFT_CPUS="$CPUS" \
  sbt "runMain graft.Verify $FIXTURE /tmp/verify_$RUNG $QUERIES" || exit 1

env "${GATE_ENV[@]}" GRAFT_GATE_EXCLUSIONS="tools/exclusions_$RUNG.json" \
  python3 tools/gate_sf1.py "$FIXTURE" "/tmp/verify_$RUNG" "CORRECTNESS_$RUNG.json" || exit 1

env "${BENCH_ENV[@]}" SPARK_GRAFT_SF_DIR="$FIXTURE" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_QUERIES="${QUERIES// /,}" \
  sbt "runMain graft.Bench" | grep '"metric"' | sed 's/^\[info\] //' \
  > "BENCH_$RUNG.json"
cat "BENCH_$RUNG.json"
