#!/usr/bin/env bash
# The round ritual: full driver gate (Verify dump + DuckDB compare) at
# ALL THREE scale factors, serially — distribution-dependent oracle bugs
# are invisible at a single SF (round 6 caught three at sf0.1 alone).
# Run with NOTHING else touching sbt or executing queries: IO queries
# write their read-back artifacts at frame-construction time, and a
# concurrent suite can clobber an artifact between a leg's dump and its
# compare (SCALE.md "gate-concurrency lesson").
#
# Usage: tools/sweep.sh [outdir-prefix]   (default /tmp/vsweep)
set -euo pipefail
cd "$(dirname "$0")/.."
prefix="${1:-/tmp/vsweep}"
for sf in sf0.001 sf0.01 sf0.1; do
  out="${prefix}_${sf}"
  rm -rf "$out"
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
    sbt -batch "runMain graft.Verify /root/testdata/$sf $out" \
    > "${out}.log" 2>&1
  python3 tools/check_oracle.py "/root/testdata/$sf" "$out" \
    > "${out}.oracle.txt" 2>&1 || true
  echo "=== $sf: $(grep -c '^OK ' "${out}.oracle.txt" || true) OK / $(grep -c '^FAIL' "${out}.oracle.txt" || true) FAIL  (${out}.oracle.txt)"
  # dumped/declared from Verify's manifest, and the Exception lines in the
  # Verify log: a passing run logs none
  python3 -c 'import json, sys; m = json.load(open(sys.argv[1])); print("    dumped %d/%d" % (m["dumped"], m["declared"]))' \
    "$out/_verify_manifest.json" || echo "    no manifest in $out"
  echo "    $(grep -c 'Exception' "${out}.log" || true) Exception lines  (${out}.log)"
  # q_s8_netcdf_roundtrip's cube: a writer change that moves a byte shows here
  echo "    cube.nc sha256 $(sha256sum target/verify-fixtures/cube.nc 2>/dev/null | cut -d' ' -f1 || echo missing)"
done
