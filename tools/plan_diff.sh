#!/usr/bin/env bash
# Compare two `PlanDigest dump` output directories plan by plan.
#
#   tools/plan_diff.sh <dirA> <dirB>
#
# Each side is one `sbt "runMain graft.run.PlanDigest dump <dir> <tag> <sfDir>"`
# run (use the same <tag> for both, so the file names pair up). Before
# diffing, every identity that changes from run to run is normalised:
# expression ids (`#123`, `#123L`), `plan_id=`, lambda variable names
# (`lambda x_471`), lambda-variable ids, JVM lambda class identities
# (`$$Lambda$3473/0x00007f27…@48c5a07d`), UUIDs and the session's temp-dir
# names. Prints the diff of every plan that still differs and the files
# present on one side only; exits 0 when all plans match, 1 otherwise.
set -euo pipefail

if [ $# -ne 2 ] || [ ! -d "$1" ] || [ ! -d "$2" ]; then
  echo "usage: $0 <dirA> <dirB>   (two PlanDigest dump directories)" >&2
  exit 2
fi

norm() {
  sed -E \
    -e 's/\$Lambda\$[0-9]+\/0x[0-9a-f]+@[0-9a-f]+/$Lambda$N/g' \
    -e 's/lambda ([A-Za-z]+)_[0-9]+/lambda \1_N/g' \
    -e 's/(lambdavariable\([^)]*\), (true|false), )-?[0-9]+/\1N/g' \
    -e 's/#[0-9]+L?/#N/g' \
    -e 's/plan_id=[0-9]+/plan_id=N/g' \
    -e 's/[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}/UUID/g' \
    -e 's/graft_bucketed-?[0-9]+/graft_bucketedTMP/g' \
    "$1"
}

status=0
for a in "$1"/*; do
  f=$(basename "$a")
  b="$2/$f"
  if [ ! -f "$b" ]; then
    echo "only in $1: $f"; status=1; continue
  fi
  if ! diff -u --label "$1/$f" --label "$b" <(norm "$a") <(norm "$b"); then
    status=1
  fi
done
for b in "$2"/*; do
  f=$(basename "$b")
  [ -f "$1/$f" ] || { echo "only in $2: $f"; status=1; }
done
if [ "$status" -eq 0 ]; then
  echo "plans match: $(ls "$1" | wc -l) file(s)"
fi
exit "$status"
