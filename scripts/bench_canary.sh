#!/bin/bash
# A/B drift canary (BASELINE.md methodology): run a small set of gate
# queries (graft.RunOne) on the CURRENT tree AND on a reference commit —
# same box, same hour — and emit one JSON object with both series. A
# cross-round wall-time delta that shows up in BENCH_LOCAL but NOT in
# this A/B is measurement-day environment, not code; a delta that
# reproduces here is real. Writes CANARY_<tag>.json in the repo root.
#
# Usage: scripts/bench_canary.sh [ref-commit] [tag]
#   ref-commit  commit to A/B against (default: the latest driver
#               round-stamp commit, message "round N: ...")
#   tag         artifact suffix (default: r<N+1> derived from that stamp)
# Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
#      CANARY_QUERIES (default: the list below),
#      CANARY_REPS (default 3), SPARK_GRAFT_CPUS (default 32)
#
# The ref is exported with `git archive` into $TMPDIR/bench_canary-<sha>/
# (default /tmp) and built there once; later calls with the same ref
# reuse it. Each query runs once per side, the side that goes first
# alternating from query to query, so box drift hits both sides alike.
#
# Every rep's wall time is kept per side ("reps"); the per-side minimum
# is a summary field only ("summary"). Each query run stamps its start
# conditions with the rule of benchmark/run.py: wait up to 10 s for the
# 1-minute load to fall below 1.25 x nproc, then record
# "load_at_start", the run's "steal_frac" (steal jiffies over all
# jiffies from /proc/stat while it ran) and "contended" (the wait
# expired, or steal_frac > 0.05).
set -euo pipefail
cd "$(dirname "$0")/.."

REF=${1:-$(git log --format='%H %s' | awk '$2 ~ /^round$/ {print $1; exit}')}
ROUND=$(git log --format='%s' -1 "$REF" | sed -n 's/^round \([0-9]*\).*/\1/p')
TAG=${2:-r$((${ROUND:-0}+1))}
# one canary per family the rounds have touched plus one per otherwise
# untouched family (export, sketch, spatial), so a harness change can
# never masquerade as a family-wide win
QUERIES=${CANARY_QUERIES:-"q_bm25 q_bigram_lm q_ngram_jaccard q_ivfpq_persisted q_remap_conservation q_bm25_append q_hybrid_persisted q_stream_frequency q_hourly_dist q_hll_cardinality q_add_inventories q_pagerank"}
REPS=${CANARY_REPS:-3}
SF=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
SHA=$(git rev-parse --verify "$REF^{commit}")
REF_DIR="${TMPDIR:-/tmp}/bench_canary-${SHA:0:12}"
NPROC=$(nproc)
LIMIT=$(awk -v n="$NPROC" 'BEGIN {print 1.25 * n}')

echo "[canary] ref=$SHA tag=$TAG sf=$SF queries=$QUERIES" >&2
if [ ! -d "$REF_DIR" ]; then
  mkdir -p "$REF_DIR.tmp"
  git archive "$SHA" | tar -x -C "$REF_DIR.tmp"
  mv "$REF_DIR.tmp" "$REF_DIR"
fi
for tree in "$REF_DIR" .; do
  (cd "$tree" && sbt -batch compile >/dev/null 2>&1)
done

above_limit() { awk -v l="$1" -v m="$LIMIT" 'BEGIN {exit !(l >= m)}'; }
load1() { awk '{print $1}' /proc/loadavg; }
# "steal total" jiffies of all CPUs (the aggregate cpu line)
ticks() { awk '/^cpu / {t = 0; for (i = 2; i <= NF; i++) t += $i; print $9 + 0, t; exit}' /proc/stat; }

# one query in one tree: a JSON object of its reps and start conditions
run_query() { # $1=tree dir, $2=query
  local t0=$SECONDS load expired=false reps s0 a0 s1 a1 steal contended
  load=$(load1)
  while above_limit "$load" && [ $((SECONDS - t0)) -lt 10 ]; do
    sleep 1
    load=$(load1)
  done
  above_limit "$load" && expired=true
  read -r s0 a0 < <(ticks)
  reps=$( (cd "$1" && SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
    sbt -batch "runMain graft.RunOne $2 $SF $REPS" 2>/dev/null) \
    | awk '/\[runone\].* rep[0-9]+ / {print $(NF-1)}' | paste -sd, - || true)
  read -r s1 a1 < <(ticks)
  steal=$(awk -v s="$((s1 - s0))" -v a="$((a1 - a0))" \
    'BEGIN {if (a < 1) a = 1; printf "%.4f", s / a}')
  contended=$expired
  awk -v s="$steal" 'BEGIN {exit !(s > 0.05)}' && contended=true
  printf '{"reps":[%s],"load_at_start":%s,"load_limit":%s,"steal_frac":%s,"contended":%s}' \
    "$reps" "$load" "$LIMIT" "$steal" "$contended"
}

# the minimum of a side's reps, or null when the query produced none
min_rep() { sed -n 's/.*"reps":\[\([^]]*\)\].*/\1/p' <<<"$1" \
  | tr , '\n' | sort -g | awk 'NF {print; found = 1; exit} END {if (!found) print "null"}'; }

RUNS=""
SUMMARY=""
i=0
for q in $QUERIES; do
  if [ $((i % 2)) -eq 0 ]; then
    CUR=$(run_query . "$q"); REFR=$(run_query "$REF_DIR" "$q")
  else
    REFR=$(run_query "$REF_DIR" "$q"); CUR=$(run_query . "$q")
  fi
  i=$((i + 1))
  echo "[canary] $q cur=$CUR ref=$REFR" >&2
  RUNS="$RUNS\"$q\":{\"cur\":$CUR,\"ref\":$REFR},"
  SUMMARY="$SUMMARY\"$q\":{\"cur_min\":$(min_rep "$CUR"),\"ref_min\":$(min_rep "$REFR")},"
done

OUT="CANARY_${TAG}.json"
printf '{"ref":"%s","sf_dir":"%s","reps":%s,"nproc":%s,"queries":{%s},"summary":{%s}}\n' \
  "$SHA" "$SF" "$REPS" "$NPROC" "${RUNS%,}" "${SUMMARY%,}" > "$OUT"
echo "[canary] wrote $OUT" >&2
cat "$OUT"
