#!/bin/bash
# Round-19 serialized close-out pipeline. One JVM
# at a time — the two-run host-interference protocol bans concurrent heavy
# work. Status lines to target/bench_r19_status.txt; ALL_DONE marker at end.
#
# Second launch of the round: the first launch built the corpora and then
# ran the sf0.1 pair IMMEDIATELY AFTER the 1.9 GB ×100 corpus write — the
# writeback tax inflated that pair (113.3/122.6 s with untouched queries
# like q141/q198/q199 inflated alongside touched ones). This launch skips
# the corpus step (ScaleCorpus output is code-independent and already on
# disk) and runs the pair first in a clean window.
set -u
cd /root/repo
S=target/bench_r19_status.txt
echo "start $(date -u +%H:%M:%S)" > $S
X=/root/repo/target/scale_suite

step() { echo "$1 $(date -u +%H:%M:%S)" >> $S; }

if [ ! -d "$X/sf0.1_x100" ]; then
  step "corpus_x10:begin"
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    sbt -batch "runMain graft.ScaleCorpus 10 $X/sf0.1_x10" \
    > target/corpus_x10.out 2>target/corpus_x10.err
  step "corpus_x10:done rc=$?"
  step "corpus_x100:begin"
  SPARK_DRIVER_MEM=24g SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    sbt -batch "runMain graft.ScaleCorpus 100 $X/sf0.1_x100" \
    > target/corpus_x100.out 2>target/corpus_x100.err
  step "corpus_x100:done rc=$?"
fi

# 1. sf0.1 settled pair at HEAD — the artifact of record, run FIRST while
#    the host window is known-clean
step "pair_run1:begin"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_BENCH_OUT=BENCH_full.json \
  sbt -batch "runMain graft.Bench" > target/bench_pair1.out 2>target/bench_pair1.err
step "pair_run1:done rc=$?"
step "pair_run2:begin"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_BENCH_OUT=BENCH_r19_confirm.json \
  sbt -batch "runMain graft.Bench" > target/bench_pair2.out 2>target/bench_pair2.err
step "pair_run2:done rc=$?"

# 2. 8-core full sweep — the scaling-inversion evidence the r18 verdict asked
#    to re-check (8 cores beat 32 at sf0.1; did the barrier cuts shrink it?)
step "c8_sweep:begin"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=8 \
  SPARK_GRAFT_BENCH_OUT=BENCH_r19_c8.json \
  sbt -batch "runMain graft.Bench" > target/bench_c8.out 2>target/bench_c8.err
step "c8_sweep:done rc=$?"

# 3. x10 suite at HEAD
step "suite_x10:begin"
SPARK_GRAFT_SF_DIR=$X/sf0.1_x10 \
  SPARK_GRAFT_BENCH_OUT=BENCH_sfx10_r19.json \
  sbt -batch "runMain graft.Bench" > target/bench_x10.out 2>target/bench_x10.err
step "suite_x10:done rc=$?"

# 4. x100 cluster 4x18g at HEAD — the scale artifact of record (r17 decision)
step "cluster_x100:begin"
SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  SPARK_GRAFT_MASTER='local-cluster[4,8,20480]' SPARK_GRAFT_EXEC_MEM=18g \
  SPARK_DRIVER_MEM=24g SPARK_GRAFT_SF_DIR=$X/sf0.1_x100 \
  SPARK_GRAFT_BENCH_OUT=BENCH_cluster_x100_r19.json \
  sbt -batch "runMain graft.Bench" > target/bench_clx100.out 2>target/bench_clx100.err
step "cluster_x100:done rc=$?"

# 5. x100 single-JVM 64g — the secondary ceiling probe
step "suite_x100:begin"
SPARK_DRIVER_MEM=64g SPARK_GRAFT_SF_DIR=$X/sf0.1_x100 \
  SPARK_GRAFT_BENCH_OUT=BENCH_sfx100_r19.json \
  sbt -batch "runMain graft.Bench" > target/bench_x100.out 2>target/bench_x100.err
step "suite_x100:done rc=$?"

step "ALL_DONE"
