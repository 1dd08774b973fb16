#!/usr/bin/env bash
# End-of-round snapshot gate: the contract drift class that hit rounds
# 4-7 (a query ships without its SURVEY §2 row / README count / smoke
# coverage) is refused HERE, by tooling, before any snapshot commit.
#
#   scripts/snapshot.sh           # run the gate (<1 min)
#   scripts/snapshot.sh && git commit ...
#
# ContractSpec parses SURVEY.md §2 + README.md and asserts both mirror
# SparkEntry exactly (keys, ✅SQL marks, derived counts, the latest §7x
# narrative); QueriesSmokeSpec runs every registered query end to end
# at sf0.001; ScaleContractSpec (round 10) refuses the comment-only
# 100 TB-swap class — an exact percentile/count-distinct query without
# a sketch sibling or a justified allowlist entry cannot land either;
# CodegenGateSpec (round 11) re-runs the registry with codegen
# fallback disabled — a janino compile failure in any expression is a
# silent 10×+ interpreted fallback in production and a red gate here;
# ToolsSpec covers the dev mains' shared scaffolding (Profile's
# per-stage counts, the plan census, the median-of-3 failure rule);
# GraftConfSpec checks every conf knob's parse and range refusal and the
# oracle-dump rule across two live sessions; CcPathsSpec pins the CC
# loop's driver-side and distributed paths row-identical; ParquetReadSpec
# pins the one-footer parquet reader to Spark's inferred schemas, with
# no job launched while frames are constructed; ServingRouteSpec builds
# every serving artifact and pins that each conf-routed query's final
# plan scans its artifact; AdmissionSpec pins that every reader and
# writer admitting an old artifact below its cut refuses an edited or
# backfilled old slice with the same named message.
# Exit is nonzero on any failure — wire it in front of the commit and
# a stale contract cannot land.
set -euo pipefail
cd "$(dirname "$0")/.."
if sbt -batch 'testOnly graft.ContractSpec graft.QueriesSmokeSpec graft.ScaleContractSpec graft.CodegenGateSpec graft.ToolsSpec graft.GraftConfSpec graft.CcPathsSpec graft.ParquetReadSpec graft.ServingRouteSpec graft.AdmissionSpec' \
    > /tmp/snapshot_gate.log 2>&1; then
  echo "snapshot gate OK (Contract + QueriesSmoke + ScaleContract + CodegenGate + Tools + GraftConf + CcPaths + ParquetRead + ServingRoute + Admission green)"
else
  tail -40 /tmp/snapshot_gate.log >&2
  echo "snapshot gate FAILED — contract drift or a broken query; do NOT commit" >&2
  exit 1
fi
