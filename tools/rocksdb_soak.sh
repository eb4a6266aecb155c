#!/bin/bash
# RocksDB state-backend reliability soak: N consecutive full
# 14-query streaming-family Bench runs + the 10M-key statestore
# point, all on the rocksdb provider, failing if any run crashes the
# JVM (hs_err_pid*.log appearing in the repo root or /tmp) or exits
# non-zero. This is the crash-free record the round-14 verdict asked
# for after three rocksdbjni LoggerJniCallback::Logv SIGSEGVs — the
# fix under test is StateBackend.quietNativeLogger.
set -u
cd /root/repo
RUNS=${RUNS:-5}
FAMILY=q_stream_asof,q_stream_cms,q_stream_dedup,q_stream_heat,q_stream_heavy,q_stream_heavy_pressure,q_stream_neardup,q_stream_replication,q_stream_replication_recovery,q_stream_retention,q_stream_sample,q_stream_sessions,q_stream_sketch,q_stream_windows
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
JOPTS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx8g -XX:ReservedCodeCacheSize=1g"
crashes() { ls /root/repo/hs_err_pid*.log /tmp/hs_err_pid*.log 2>/dev/null | wc -l; }
BASE=$(crashes)
for i in $(seq 1 "$RUNS"); do
  echo "=== family run $i/$RUNS $(date +%H:%M:%S) ==="
  SPARK_GRAFT_STATE_PROVIDER=rocksdb SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    SPARK_GRAFT_CPUS=32 SPARK_GRAFT_BENCH_PASSES=1 \
    SPARK_GRAFT_BENCH_ONLY=$FAMILY \
    java -cp "$CP" $JOPTS graft.Bench 2>/dev/null | grep '"metric"'
  # PIPESTATUS[0] = java's exit status; plain $? would be grep's, which
  # masks a JVM that printed metric lines and then died non-zero
  rc=${PIPESTATUS[0]}
  now=$(crashes)
  if [ "$rc" -ne 0 ] || [ "$now" -gt "$BASE" ]; then
    echo "FAIL run $i: rc=$rc hs_err_delta=$((now-BASE))"; exit 1
  fi
done
echo "=== statestore 10M-key rocksdb point $(date +%H:%M:%S) ==="
SPARK_GRAFT_STATE_PROVIDER=rocksdb \
  SPARK_GRAFT_CPUS=32 \
  java -cp "$CP" $JOPTS graft.Profile --statestore --rocksdb 2>/dev/null \
  | grep statestore
rc=${PIPESTATUS[0]}
now=$(crashes)
if [ "$rc" -ne 0 ] || [ "$now" -gt "$BASE" ]; then
  echo "FAIL statestore: rc=$rc hs_err_delta=$((now-BASE))"; exit 1
fi
echo "SOAK OK: $RUNS family runs + statestore, zero new hs_err files"
