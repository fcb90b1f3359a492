#!/usr/bin/env bash
# Pre-snapshot gate: one command whose green output means the tree is
# correct under the exact-hash oracle and no slower than its reference
# commit on the repo benchmark.
#
#   bash scripts/preflight.sh [sf_dir ...]
#
# Runs (1) the registry-count consistency check of the docs, (2) the
# interleaved perfbench A/B of the working tree against its reference
# commit (scripts/bench_ab.py at 8 pairs, about 35 min on 4 cores: HEAD
# when the tree differs from it, the ledger aside, else HEAD's parent;
# fails past any BENCHMARK.json end-to-end bound or on a failed or
# incorrect run; fewer pairs read same-code noise near the bounds),
# (3) the full pytest suite and (4) the exact-hash, signed-zero-sensitive
# oracle sweep of every corpus query at each given SF dir (default:
# sf0.001 and sf0.01; add sf0.1 before a round snapshot —
# distribution-sensitive bugs live there, see SCALE.md). Exits nonzero on the first failing stage.
# Snapshot commit messages should cite the preflight run.
set -u

cd "$(dirname "$0")/.."

SFS=("$@")
if [ ${#SFS[@]} -eq 0 ]; then
  SFS=(/root/testdata/sf0.001 /root/testdata/sf0.01)
fi

echo "== preflight: registry-count consistency (README/SCALE/COVERAGE) =="
python scripts/check_counts.py || { echo "PREFLIGHT FAIL: stale corpus count in docs"; exit 1; }

echo "== preflight: perfbench A/B against the reference commit =="
python scripts/bench_ab.py --pairs 8 || { echo "PREFLIGHT FAIL: bench A/B (see above)"; exit 1; }

echo "== preflight: pytest =="
python -m pytest tests/ -x -q || { echo "PREFLIGHT FAIL: pytest"; exit 1; }

for sf in "${SFS[@]}"; do
  echo "== preflight: exact-hash oracle sweep at ${sf} =="
  python scripts/check_oracle.py "$sf" || {
    echo "PREFLIGHT FAIL: oracle sweep at ${sf}"
    exit 1
  }
done

# Per-family artifact for the never-driver-sampled families (streaming,
# sources/multimodal, ml) — refresh every round so the committed
# FAMILY_CHECK_r0N.txt evidence stays current (VERDICT r6 task 7).
ROUND="${SPARK_GRAFT_ROUND:-}"
if [ -n "${ROUND}" ]; then
  out="FAMILY_CHECK_r$(printf %02d "${ROUND}").txt"
  echo "== preflight: family check -> ${out} =="
  {
    echo "# Per-family oracle exact-hash check (refreshed by preflight, round ${ROUND})"
    echo "# cmd: python scripts/check_oracle.py /root/testdata/sf0.01 --families=streaming,sources_multimodal,ml,ml_data"
    echo "# date: $(date -u +%Y-%m-%dT%H:%MZ)  grade: driver-equivalent exact-hash"
    python scripts/check_oracle.py /root/testdata/sf0.01 \
      --families=streaming,sources_multimodal,ml,ml_data 2>/dev/null
  } > "${out}" || { echo "PREFLIGHT FAIL: family check"; exit 1; }
  grep -q "^0 failures" "${out}" || { echo "PREFLIGHT FAIL: family check"; exit 1; }
fi

echo "PREFLIGHT OK: pytest green + exact-hash sweep green at: ${SFS[*]}"
