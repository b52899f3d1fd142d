#!/usr/bin/env bash
# The sf0.01 oracle gate in one command: dump every registered query with
# graft.Verify into a temp dir, compare each result with its DuckDB oracle
# through tools/verify_local.py, and exit non-zero on any FAIL, when the
# pass count is not the full registry, or when the JVM left a graft-* temp
# directory behind (graft.Verify runs with its own java.io.tmpdir, so every
# asset and scratch directory the engine creates lands where it can be
# counted after the JVM exits).
#
# Usage (from anywhere in the repo):
#   tools/gate.sh SF_DIR          # SF_DIR: the sf0.01 test tables
#
# Spark runs local[$SPARK_GRAFT_CPUS] (default: nproc). Takes a few minutes.
set -euo pipefail

EXPECTED=290
repo="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
if [[ $# -ne 1 ]]; then
  echo "usage: tools/gate.sh SF_DIR" >&2
  exit 2
fi
sf="$(cd "$1" && pwd)"
out="$(mktemp -d "${TMPDIR:-/tmp}/graft-gate.XXXXXX")"
trap 'rm -rf "$out"' EXIT

mkdir "$out/tmp"
cd "$repo"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:+$JAVA_TOOL_OPTIONS }-Djava.io.tmpdir=$out/tmp" \
  sbt --batch -Dsbt.log.noformat=true "runMain graft.Verify $sf $out/dump" \
  > "$out/verify.log" 2>&1 || {
    tail -n 40 "$out/verify.log" >&2
    echo "gate: graft.Verify did not finish" >&2
    exit 1
  }
grep -F '[verify]' "$out/verify.log" >&2 || true

leftover="$(find "$out/tmp" -mindepth 1 -maxdepth 1 -name 'graft-*' | sort)"
if [[ -n "$leftover" ]]; then
  echo "gate: FAILED (temp directories left after the JVM exited:)" >&2
  echo "$leftover" >&2
  exit 1
fi

python3 tools/verify_local.py "$sf" "$out/dump" | tee "$out/compare.txt"

summary="$(grep -E '^== [0-9]+ pass, [0-9]+ fail ==$' "$out/compare.txt" || true)"
pass="$(sed -E 's/^== ([0-9]+) pass.*/\1/' <<<"$summary")"
if [[ -z "$summary" ]] || grep -q '^FAIL ' "$out/compare.txt" || [[ "$pass" != "$EXPECTED" ]]; then
  echo "gate: FAILED (${summary:-no summary}; expected $EXPECTED pass, 0 fail)" >&2
  exit 1
fi
echo "gate: ok ($EXPECTED/$EXPECTED oracle-exact at $sf)"
