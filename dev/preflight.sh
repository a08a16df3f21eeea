#!/usr/bin/env bash
# Pre-snapshot gate: NEVER end a round (or land a milestone commit) without
# this exiting 0. Rounds 3 and 6 were forfeited because the final commit did
# not compile — this script makes that structurally impossible.
#
#   dev/preflight.sh            # compile + QueriesSpec/NativeColumnsSpec/ReadMemoSpec/RetrievalJobsSpec smoke (<3 min)
#   dev/preflight.sh full       # compile + the entire ScalaTest suite
set -euo pipefail
cd "$(dirname "$0")/.."

# One parquet reader: every engine read of a path goes through
# Caches.readParquet, which memoizes the inferred schema by file fingerprint.
stray=$(grep -rn '\.read\.parquet(' src/main/scala | grep -v '^src/main/scala/graft/Caches\.scala:' || true)
if [[ -n "$stray" ]]; then
  echo "[preflight] parquet read outside Caches.readParquet:" >&2
  echo "$stray" >&2
  exit 1
fi
readers=$(grep -c '\.read\.parquet(' src/main/scala/graft/Caches.scala || true)
if [[ "$readers" != 1 ]]; then
  echo "[preflight] Caches.scala must hold exactly one parquet read, found $readers" >&2
  exit 1
fi

# One artifact store: only IndexStore reads the artifact roots and tests an
# entry's meta.json commit marker; only FileSwap defines the recursive delete.
store='^src/main/scala/graft/sources/IndexStore\.scala:'
check() { # <message> <pattern> <allowed-file regex> [root, default src/main/scala]
  local hits
  hits=$(grep -rnE "$2" "${4:-src/main/scala}" | grep -Ev "$3" || true)
  if [[ -n "$hits" ]]; then
    echo "[preflight] $1:" >&2
    echo "$hits" >&2
    exit 1
  fi
}
check "artifact root conf read outside IndexStore" '"graft\.(ivf|screen)\.cacheDir"' "$store"
check "meta.json commit marker tested outside IndexStore" '"meta\.json"' "$store"
check "recursive delete defined outside FileSwap" 'def rm\(' '^src/main/scala/graft/sources/FileSwap\.scala:'

# One set encoding: exact Jaccard and containment run over Llm.raritySets,
# dispatched by named constants — no set-similarity conf, no doc-level
# prefix join.
check "set-similarity conf or doc-level prefix join" 'graft\.setsim\.|prefixJaccardPairs' '^$'

# One profiler: jobs and gate decisions are recorded by graft.QueryProfile,
# the only SparkListener in the engine and its tests. Gate decisions are
# never logged through session confs, and the listener-bus drain under
# src/main keeps a name of its own (the benchmark's build compiles src/main
# beside its own org.apache.spark.ListenerBusDrain).
check "gate decision logged through a session conf" 'graft\.ivf\.(lastPairsPath|pairsPathLog|pairsPathSeq)' '^$' src
check "SparkListener outside QueryProfile" 'new SparkListener' '^src/main/scala/graft/QueryProfile\.scala:' src
check "ListenerBusDrain defined under src/main" 'object ListenerBusDrain' '^$' src/main

# One top-k path: IvfIndex ranks every per-query list with the bounded
# top-k aggregate (IvfIndex.topKPerQuery), never a window.
ranked=$(grep -nE 'row_number|Window\.' src/main/scala/graft/operators/IvfIndex.scala || true)
if [[ -n "$ranked" ]]; then
  echo "[preflight] window ranking in IvfIndex (use topKPerQuery):" >&2
  echo "$ranked" >&2
  exit 1
fi

if [[ "${1:-smoke}" == "full" ]]; then
  sbt -batch compile Test/compile test
else
  sbt -batch compile Test/compile "testOnly graft.QueriesSpec graft.NativeColumnsSpec graft.ReadMemoSpec graft.RetrievalJobsSpec"
fi
echo "[preflight] OK — safe to commit"
