#!/bin/sh
# Full round gate, in dependency order. The registry rotation keeps
# only 50 queries inside the driver's correctness window, so a
# regression in a rotated-out query would ride on stale green rows —
# THIS script is the guard: the local mirror runs every registry
# entry, every round, before work ships.
set -e
echo "== pytest (ROADMAP tier-1 command) =="
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local
timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
echo "== full oracle mirror (all registry entries, sf0.01) =="
python scripts/check_correctness.py
echo "== bench (sf0.1) =="
python bench.py
