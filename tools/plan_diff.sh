#!/usr/bin/env bash
# Compare two graft.tools.ExplainAll dump directories (one <query>.txt
# formatted physical plan per query), typically the parent commit's and a
# change's. Run-specific tokens are replaced before comparing: expression
# ids (#123), object identity hashes (@1a2b3c4d), lambda class names, RDD
# ids, source line numbers, plan_id=, application ids and part-file UUIDs.
# Prints every query whose normalized plan differs (with a unified diff
# and its shuffle Exchange and Sort node counts on each side) or that
# exists on one side only, then the Exchange and Sort totals over the
# differing queries; exits 1 on any difference, 0 when the two
# directories hold the same plans. A formatted plan prints one
# Subquery:N section, with the whole subquery plan, per reference to a
# scalar subquery, while execution runs it once (ReusedSubquery), so the
# counts skip a section whose body repeats an earlier one.
#
# Usage: tools/plan_diff.sh <dirA> <dirB>
set -uo pipefail
A=${1:?usage: tools/plan_diff.sh <dirA> <dirB>}
B=${2:?usage: tools/plan_diff.sh <dirA> <dirB>}

normalize() {
  sed -E \
    -e 's/#[0-9]+/#N/g' \
    -e 's/Lambda[$0-9]*\/0x[0-9a-f]+/Lambda/g' \
    -e 's/@[0-9a-f]{4,}\b/@H/g' \
    -e 's/RDD\[[0-9]+\]/RDD[N]/g' \
    -e 's/\.scala:[0-9]+/.scala:N/g' \
    -e 's/plan_id=[0-9]+/plan_id=N/g' \
    -e 's/(local|app)-[0-9]{6,}(-[0-9]+)?/\1-N/g' \
    -e 's/part-[0-9]+-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}/part-N-UUID/g' \
    "$1"
}

# the normalized plan without the Subquery:N sections whose body (with
# operator numbers replaced, blank lines ignored) repeats an earlier
# section's
distinct_subqueries() {
  normalize "$1" | awk '
    function flush() { if (insec && !(key in seen)) { seen[key] = 1; printf "%s", buf } }
    /^Subquery:[0-9]+ / { flush(); insec = 1; buf = $0 "\n"; key = ""; next }
    insec { buf = buf $0 "\n"; k = $0; gsub(/\([0-9]+\)/, "(N)", k); if (k != "") key = key k "\n"; next }
    { print }
    END { flush() }'
}

# physical nodes named exactly $2 (a shuffle "Exchange", not
# "BroadcastExchange"; "Sort", not "SortMergeJoin"), by their numbered
# detail headers in the formatted plan, each distinct subquery once
count() {
  distinct_subqueries "$1" | grep -cE "^\([0-9]+\) $2( \[codegen id : [0-9]+\])?\$"
}

differ=0
exA=0 exB=0 sortA=0 sortB=0 changed=0
for q in $( (ls "$A"; ls "$B") | grep '\.txt$' | sort -u); do
  name=${q%.txt}
  if [ ! -f "$A/$q" ]; then echo "only in $B: $name"; differ=1; continue; fi
  if [ ! -f "$B/$q" ]; then echo "only in $A: $name"; differ=1; continue; fi
  if ! out=$(diff -u --label "$A/$q" --label "$B/$q" \
      <(normalize "$A/$q") <(normalize "$B/$q")); then
    echo "plan differs: $name"
    echo "$out"
    ea=$(count "$A/$q" Exchange) eb=$(count "$B/$q" Exchange)
    sa=$(count "$A/$q" Sort) sb=$(count "$B/$q" Sort)
    echo "counts $name: Exchange $ea -> $eb, Sort $sa -> $sb"
    exA=$((exA + ea)) exB=$((exB + eb)) sortA=$((sortA + sa)) sortB=$((sortB + sb))
    changed=$((changed + 1))
    differ=1
  fi
done
if [ "$changed" -gt 0 ]; then
  echo "totals over $changed differing plans: Exchange $exA -> $exB ($((exA - exB)) removed)," \
    "Sort $sortA -> $sortB ($((sortA - sortB)) removed)"
fi
exit $differ
