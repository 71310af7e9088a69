#!/usr/bin/env bash
# Both-regime oracle gate: graft.Verify once at the session defaults and
# once with every scale gate forced onto its distributed path, each run
# checked against the DuckDB oracle by scripts/check_oracle.py.
#
# usage: scripts/verify_regimes.sh <tablesDir> [GRAFT_ONLY list]
#   tablesDir  the catalog's parquet tables, e.g. perfbench/data/sf0.01;
#              read only
#   list       comma-separated query-name prefixes (Verify's GRAFT_ONLY);
#              every catalog query when omitted
#
# Exits 1 when either regime has a failing query (a query that throws
# leaves no output, which check_oracle.py counts as a failure), and 2
# before running anything when a key of the forced list is read nowhere
# under src/main/scala: a deleted knob must not linger in the list,
# forcing nothing. Both runs' output is left in a new temporary
# directory, named at the end.
set -u
[ $# -ge 1 ] && [ -d "$1" ] || {
  echo "usage: $0 <tablesDir> [GRAFT_ONLY list]" >&2; exit 2; }
tables=$(realpath "$1")
cd "$(dirname "$0")/.."
forced="graft.broadcastMaxEdges=0;graft.kmeansDriverMaxRows=0;graft.spectralDriverMaxRows=0;graft.mmrDriverMaxCandidates=0"
for kv in ${forced//;/ }; do
  key=${kv%%=*}
  grep -rqF "\"$key\"" src/main/scala || {
    echo "forced key $key is read nowhere under src/main/scala" >&2; exit 2; }
done
if [ $# -ge 2 ]; then export GRAFT_ONLY="$2"; else unset GRAFT_ONLY; fi
out=$(mktemp -d "${TMPDIR:-/tmp}/verify_regimes.XXXXXX")

status=0
for regime in default forced; do
  if [ "$regime" = forced ]; then export GRAFT_CONF="$forced"
  else unset GRAFT_CONF; fi
  sbt --batch "runMain graft.Verify $tables $out/$regime" \
    > "$out/$regime.log" 2>&1 || { echo "$regime: Verify exited non-zero" \
      "(log: $out/$regime.log)"; status=1; }
  python3 scripts/check_oracle.py "$tables" "$out/$regime" \
    > "$out/$regime.txt" || status=1
  grep '^FAIL' "$out/$regime.txt"
  echo "$regime: $(tail -n 1 "$out/$regime.txt")"
done
echo "output: $out"
exit $status
