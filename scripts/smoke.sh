#!/usr/bin/env bash
# Pre-handoff smoke gate: run this as the LAST action of any working
# session. It catches testdata drift (schema/dtype changes in the
# driver-generated parquet) and declaration-level breaks in minutes, so
# a one-function regression can never reach the driver unseen again
# (round 7 post-mortem: a ts dtype change broke 25 queries and nobody
# ran the declared surface against the refreshed testdata before
# handoff).
#
# QueriesSpec = every declared query constructs AND returns rows on the
# CURRENT sf0.001 testdata + the scalar-schema invariant the driver's
# comparator needs + oracle-key/query-key consistency.
#
# PipelineSpec + ApiSpec = the ledger path end to end (ingest → normalize →
# by-wallet reads, as library calls and as served HTTP routes), so a break
# in the reference's own product path is caught before handoff too.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch "testOnly graft.QueriesSpec graft.PipelineSpec graft.ApiSpec"
