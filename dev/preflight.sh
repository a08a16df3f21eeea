#!/usr/bin/env bash
# Pre-snapshot gate: NEVER end a round (or land a milestone commit) without
# this exiting 0. Rounds 3 and 6 were forfeited because the final commit did
# not compile — this script makes that structurally impossible.
#
#   dev/preflight.sh            # compile + QueriesSpec/NativeColumnsSpec smoke (<2 min)
#   dev/preflight.sh full       # compile + the entire ScalaTest suite
set -euo pipefail
cd "$(dirname "$0")/.."

if [[ "${1:-smoke}" == "full" ]]; then
  sbt -batch compile Test/compile test
else
  sbt -batch compile Test/compile "testOnly graft.QueriesSpec graft.NativeColumnsSpec"
fi
echo "[preflight] OK — safe to commit"
