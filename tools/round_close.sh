#!/usr/bin/env bash
# Round-close checks: run before the end-of-round commit.
#  1. inventory_check  — SparkEntry.registry / SURVEY §2 stay 1:1 (the
#     compiler keeps every registry entry paired with its oracle)
#  2. gen_readme_index — README operator index regenerated from the registry
#  3. reminder of the two measurement gates the driver replays
set -euo pipefail
cd "$(dirname "$0")/.."
python3 tools/inventory_check.py
python3 tools/gen_readme_index.py
# the §8 ledger must not skip a round: by the time round N+1 closes,
# BENCH_r{N}.json exists and SURVEY must carry "### Round N"
python3 - <<'EOF'
import glob, re, sys
ns = [int(re.search(r'BENCH_r(\d+)', f).group(1))
      for f in glob.glob('BENCH_r*.json')]
n = max(ns)
survey = open('SURVEY.md').read()
if f'### Round {n}' not in survey:
    sys.exit(f'SURVEY.md §8 is missing "### Round {n}" — add the round ledger entry')
print(f'§8 ledger check OK (through Round {n})')
EOF
if ! git diff --quiet README.md; then
  echo "README.md index regenerated — review and commit it"
fi
echo "round-close checks OK. Remaining gates (run if source changed):"
echo "  sbt -batch test"
echo "  sbt -batch 'runMain graft.Verify /root/testdata/sf0.01 /tmp/v' && python3 tools/check.py /root/testdata/sf0.01 /tmp/v"
echo "  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch 'runMain graft.Bench'"
