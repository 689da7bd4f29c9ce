#!/usr/bin/env bash
# Full-test-battery runner with durable per-test logging.
# Each run writes battery_<label>.log (full sbt output, per-test
# durations, then the tools/ unit tests) and target/test-reports/*.xml
# (JUnit XML: every test name, time, and failure detail) so a
# once-per-battery flake names itself.
#
# sbt runs offline with the tier-1 defaults (ROADMAP.md) for every
# setting the caller has not set. The battery also runs the Python
# tests of tools/; it exits non-zero if either suite fails.
#
# Usage: tools/battery.sh <label> [workdir]
set -u
label="${1:?usage: battery.sh <label> [workdir]}"
dir="${2:-$(cd "$(dirname "$0")/.." && pwd)}"
cd "$dir" || exit 2
export COURSIER_MODE="${COURSIER_MODE:-offline}"
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-${TMPDIR:-/tmp}/spark-local}"
log="battery_${label}.log"
start=$(date +%s)
sbt -batch test >"$log" 2>&1
rc=$?
echo "== tools unit tests ==" >>"$log"
python3 -m unittest discover -s tools -p 'test_*.py' >>"$log" 2>&1
prc=$?
end=$(date +%s)
echo "== battery $label: sbt rc=$rc tools rc=$prc wall=$((end - start))s log=$dir/$log =="
grep -E "Tests: succeeded|All tests passed|\*\*\* [0-9]+ TESTS? FAILED|\*\*\* [0-9]+ SUITES? ABORTED" "$log" | tail -5
grep -E "\*\*\* FAILED \*\*\*|\*\*\* ABORTED \*\*\*" "$log" | head -40
grep -E "^Ran [0-9]+ tests?|^OK|^FAILED \(" "$log" | tail -3
[ "$rc" -eq 0 ] && [ "$prc" -eq 0 ]
