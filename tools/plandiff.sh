#!/bin/bash
# Plan identity between two checkouts: dumps the formatted physical plan
# of each query key (`graft.DevTime '<key>!explain'`) in ONE JVM per
# checkout, same key order on both sides, normalizes both dumps and
# compares them key by key. Prints the keys whose plans differ and exits
# non-zero if any do.
#
#   tools/plandiff.sh <other-checkout> [key...]
#
# With no keys, every key `graft.Verify` dumps (SparkEntry.queries) is
# explained. The data directory is DevTime's: set SPARK_GRAFT_SF_DIR.
# Normalized away: expression ids (#12L), exchange ids (plan_id=), RDD
# ids ([34]), source line numbers (X.scala:56), checkpoint call sites
# (`localCheckpoint at TextPipeline.scala:N`), lambda and object
# identities (`$$Lambda$81/0x7f..@1a2b`), the checkout's own path (the
# file indexes under its target/) and log lines. Keys
# explained in one JVM share its session artifacts, so compare dumps
# made from the same key list. Dumps and diffs stay in $PLANDIFF_OUT
# (default: a fresh temporary directory, printed at the end).
set -u
[ $# -ge 1 ] || { sed -n '2,17p' "$0"; exit 2; }
other=$(cd "$1" && pwd) || exit 2
shift
here=$(cd "$(dirname "$0")/.." && pwd)
out=${PLANDIFF_OUT:-$(mktemp -d -t plandiff.XXXXXX)}
mkdir -p "$out"
sbt_run() { (cd "$1" && sbt --batch -Dsbt.log.noformat=true "$2"); }

if [ $# -gt 0 ]; then
  printf '%s\n' "$@" > "$out/keys"
else
  cp=$(sbt_run "$here" "export Runtime/fullClasspath" | tail -n 1)
  printf '%s\n' \
    'var it = graft.SparkEntry.queries().keysIterator();' \
    'while (it.hasNext()) System.out.println("@key@ " + it.next());' '/exit' |
    jshell -q --class-path "$cp" 2>/dev/null | sed -n 's/.*@key@ //p' | LC_ALL=C sort > "$out/keys"
  [ -s "$out/keys" ] || { echo "plandiff: could not list the query keys" >&2; exit 2; }
fi
args=$(sed 's/$/!explain/' "$out/keys" | tr '\n' ' ')

normalize() {
  sed -E -e "s#$1#<checkout>#g" -e 's/#[0-9]+L?/#/g' -e 's/plan_id=[0-9]+/plan_id=/g' \
    -e 's/\[[0-9]+\]/[N]/g' -e 's/\.scala:[0-9]+/.scala:N/g' \
    -e 's/ at (local)?[cC]heckpoint at [A-Za-z]+\.scala:N//g' \
    -e 's/(Lambda|anon)\$[0-9]+(\/0x[0-9a-f]+)?@[0-9a-f]+/\1/g' \
    -e '/^(\[error\] )?[0-9]{2}\/[0-9]{2}\/[0-9]{2} /d' -e '/^\[(info|warn|success)\]/d'
}

for side in here other; do
  dir=$here; [ $side = other ] && dir=$other
  sbt_run "$dir" "runMain graft.DevTime $args" > "$out/$side.log" 2>&1
  mkdir -p "$out/$side"
  normalize "$dir" < "$out/$side.log" |
    awk -v d="$out/$side" '/^DEVPLAN /{k=$2} k!=""{print > (d "/" k)}'
done

differ=0
while read -r k; do
  if [ ! -s "$out/here/$k" ] || [ ! -s "$out/other/$k" ]; then
    echo "$k: no plan dumped (see $out/here.log, $out/other.log)"; differ=1
  elif ! diff -u "$out/other/$k" "$out/here/$k" > "$out/$k.diff"; then
    echo "$k"; differ=1
  else
    rm -f "$out/$k.diff"
  fi
done < "$out/keys"
echo "plandiff: $(wc -l < "$out/keys") keys compared, dumps and diffs in $out" >&2
exit $differ
