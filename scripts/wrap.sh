#!/usr/bin/env bash
# End-of-round wrap gate: NO snapshot commit may land without this passing.
#
#   scripts/wrap.sh            # Test/compile + full sf0.001 gate, default
#                              # and forced-path dispatch (~15 min)
#   scripts/wrap.sh --fast     # guards + Test/compile only (~30 s)
#
# Exit 0 = safe to commit. Any red build or gate failure exits non-zero.
set -euo pipefail
cd "$(dirname "$0")/.."

# resolve dependencies from the local caches only, as the test suite does
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"

# shared inputs are staged through graft.Staged only: no per-file memo maps
if grep -nE 'computeIfAbsent|ConcurrentHashMap' src/main/scala/graft/Queries*.scala; then
  echo "[wrap] per-file memo in Queries*.scala — stage through graft.Staged"
  exit 1
fi

# lake files are written and published through graft.sources.LakeWriter only
if grep -nE 'createTempDirectory' src/main/scala/graft/sources/{DeltaLog,DeltaWrite,IcebergCatalog}.scala; then
  echo "[wrap] temp-dir write in a lake file — write through graft.sources.LakeWriter"
  exit 1
fi
if grep -nE 'writeSingleParquet' src/main/scala/graft/Queries*.scala; then
  echo "[wrap] fixture parquet copy in Queries*.scala — use LakeWriter.writeParquetFile"
  exit 1
fi

# streams are staged, drained and read back through Streams.run only
if grep -rn 'processAllAvailable' src/main --include='*.scala' \
     | grep -v '^src/main/scala/graft/streaming/Streams.scala:' \
   || awk '/private def run\(/ { h = 1 } h && /^  }$/ { h = 0 }
           !h && /processAllAvailable/ { print FILENAME ":" FNR ": " $0; f = 1 }
           END { exit !f }' src/main/scala/graft/streaming/Streams.scala; then
  echo "[wrap] stream drain outside Streams.run — replay through the harness"
  exit 1
fi

# replication has one FK scheduler: Pipeline.replicateScheduled
if grep -rn 'replicateParallel' src --include='*.scala' \
   || (( $(grep -c 'TopoSort\.' src/main/scala/graft/cdc/Pipeline.scala) > 1 )); then
  echo "[wrap] second FK scheduler in graft.cdc.Pipeline — run tables through replicateScheduled"
  exit 1
fi

# lake replicas validate and split a merge batch through Cdc.splitMerge
# only: no parquet read-modify-write target, and no second duplicate-key
# check in graft.sources
if grep -rnE 'ParquetTarget|mergeReplica|alignSchemas' src \
   || grep -rniE 'count_?distinct|count\(distinct|duplicate pk' src/main/scala/graft/sources; then
  echo "[wrap] second soft-delete merge step — validate and split through graft.cdc.Cdc.splitMerge"
  exit 1
fi

# deletion vectors are written by DeltaLog.markDeleted only (the encode,
# the deletion_vector_*.bin write and the action lines) and applied by
# DeltaLog.minusDvs only (the one DV anti-join in DeltaLog.scala)
if awk '/def markDeleted\(/ { h = 1 } h && /^  }$/ { h = 0 }
        !h && ((/encodePortable64\(/ && !/def encodePortable64\(/) ||
               (/deletion_vector_/ && /Files\.write|writeParquetFile|publishNew|replaceAtomic/)) {
          print FILENAME ":" FNR ": " $0; f = 1 }
        END { exit !f }' src/main/scala/graft/sources/*.scala \
   || (( $(grep -c '"left_anti"' src/main/scala/graft/sources/DeltaLog.scala) > 1 )); then
  echo "[wrap] second DV write or apply step in graft.sources — use DeltaLog.markDeleted / minusDvs"
  exit 1
fi

# the _delta_log format has one codec, sources/DeltaActions.scala: no
# Spark JSON replay of the log, no hand-built action line and no regex
# over a log field anywhere else in graft.sources
CODEC=src/main/scala/graft/sources/DeltaActions.scala
if grep -n 'spark\.read\.json' src/main/scala/graft/sources/DeltaLog.scala \
   || grep -nE '\{\\?"(add|remove|cdc|metaData|protocol|commitInfo)\\?":' \
        src/main/scala/graft/sources/*.scala | grep -v "^$CODEC:" \
   || grep -nE '\\\\s\*:|(storageType|pathOrInlineDv|sizeInBytes|cardinality|inCommitTimestamp).*(\.r\b|findFirstMatchIn|Regex)' \
        src/main/scala/graft/sources/*.scala | grep -v "^$CODEC:"; then
  echo "[wrap] second _delta_log parser or writer in graft.sources — use DeltaActions"
  exit 1
fi

echo "[wrap] sbt Test/compile ..."
sbt -batch Test/compile

if [[ "${1:-}" != "--fast" ]]; then
  OUT=/tmp/wrap_vout
  rm -rf "$OUT"
  echo "[wrap] Verify dump at sf0.001 ..."
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" sbt -batch "runMain graft.Verify /root/testdata/sf0.001 $OUT"
  echo "[wrap] check.py gate ..."
  RES=$(python3 scripts/check.py /root/testdata/sf0.001 "$OUT" | tail -1)
  echo "[wrap] $RES"
  echo "$RES" | grep -q " 0 failed" || { echo "[wrap] GATE RED — do not commit"; exit 1; }

  # forced-path pass: every wave twin off, so the graph / dedup / CC
  # gates run their distributed loops against the same oracles
  SF=/root/testdata/sf0.001
  OUT_FORCED=/tmp/wrap_vout_forced
  rm -rf "$OUT_FORCED"
  echo "[wrap] Verify dump at sf0.001, forced distributed paths ..."
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" sbt -batch \
    'set javaOptions ++= Seq("-Dspark.graft.graph.waveRows=-1","-Dspark.graft.graph.waveLabels=-1")' \
    "runMain graft.Verify $SF $OUT_FORCED"
  echo "[wrap] check.py gate (forced) ..."
  RES=$(python3 scripts/check.py "$SF" "$OUT_FORCED" | tail -1)
  echo "[wrap] forced: $RES"
  echo "$RES" | grep -q " 0 failed" || { echo "[wrap] FORCED GATE RED — do not commit"; exit 1; }
fi
echo "[wrap] GREEN — safe to commit"
