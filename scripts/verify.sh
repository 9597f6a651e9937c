#!/usr/bin/env bash
# One-command verification, in increasing cost order (stop at any tier):
#   1. fast pytest tier          (~11 min at local[4]) — unit + plan-shape
#                                             + contract
#   2. driver sim at sf0.01      (~25 min)  — every gate vs its DuckDB oracle,
#                                             adversarial vanilla session
#   3. headline bench at sf0.1   (~3 min)   — ONE JSON line; compare to
#                                             BASELINE.md (r1 bar: 7.162 s;
#                                             valid only at load < 1)
# Heavier tiers when needed:
#   python -m pytest tests/ -q -m ""                # full suite (~20 min)
#   python scripts/driver_sim.py /root/testdata/sf0.1   # full sweep at sf0.1
# The first Spark session on a machine (or after a JDK or Spark upgrade)
# writes the driver's class-data-sharing archive to the user cache when
# its JVM exits: that start is slower and its exit waits 8-11 s more;
# every later session starts about twice as fast (csv2db_spark/session.py).
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== tier 1: fast pytest =="
python -m pytest tests/ -q -m "not slow" -p no:warnings
python3 -m pytest perfbench/test_tracing.py -q -p no:warnings

echo "== tier 2: driver sim (sf0.01) =="
python scripts/driver_sim.py

echo "== tier 3: headline bench (sf0.1) =="
uptime
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} python bench.py
