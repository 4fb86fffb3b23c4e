#!/bin/sh
# Pre-commit gate (round 16, VERDICT r15 Next #3): r15 session 3
# committed a red HEAD (q323 failing FlatOutputSpec) because no suite
# ran before the commit — make the discipline mechanical, not a habit.
#
# Usage:
#   scripts/precommit.sh                 # compile + FlatOutputSpec
#   scripts/precommit.sh graft.AnalyticsSpec graft.FunctionsSpec
#                                        # compile + FlatOutputSpec +
#                                        # the touched specs
#   scripts/precommit.sh --full          # the benchmark's build, then
#                                        # the whole suite (session end),
#                                        # with each test's and suite's
#                                        # wall time (ScalaTest -oD)
#
# Every session's LAST commit must follow a --full run; record the run
# in NOTES_r{N}.md.
set -e
cd "$(dirname "$0")/.."
if [ "$1" = "--full" ]; then
  # the benchmark compiles src/main with the scalac bundled in Spark's
  # jars, which rejects some code sbt's compiler accepts; build it the
  # same way, in a directory of its own, clear of run.py's build cache
  perfbench/build.sh .bench_build/precommit
  exec sbt -batch 'set Test / testOptions += Tests.Argument("-oD")' test
fi
SPECS="graft.FlatOutputSpec $*"
exec sbt -batch compile "testOnly $SPECS"
