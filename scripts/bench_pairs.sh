#!/bin/bash
# Paired before/after run of the end-to-end benchmark (benchmark/run.py):
# the working tree against a git ref, same box, same hour.
#
# Usage: scripts/bench_pairs.sh <ref> <workload> [pairs=10] [seconds=22] [first_seed=1000]
#
# The ref is exported with `git archive` into $TMPDIR/bench_pairs-<sha>/
# (default /tmp; sbt's socket path must stay short) and built there once,
# so later calls with the same ref reuse that build; the working tree
# builds into its own .bench_build/. Pair i runs both sides on seed first_seed+i with
# --trace 0, alternating which side runs first, so box drift over the
# series hits both sides alike. Pick seeds that were not used while the
# change was written.
#
# Prints, per end-to-end metric of BENCHMARK.json: each side's median
# and quartiles, the change of the medians, how many pairs the change
# won (ties count for neither), and whether the gain rule holds: the
# change wins >= 9/10 of the pairs and the medians differ by more than
# the ref's interquartile distance. Also prints failed output checks and
# contended runs, and each side's median and quartiles of the workload's
# own figures (for maintain: bm25_cycle_p50_s, ann_cycle_p50_s, ...),
# which are reported, not gated. Every run's JSON line is kept in
# .bench_build/pairs/<workload>-<sha>-<time>/runs.txt, its figures in
# figures.txt.
#
# After the series, one traced pair (--trace 1) runs on seed
# first_seed+pairs, continuing the alternation, and the per-layer
# metrics of BENCHMARK.json are printed for both sides next to each
# other (reported, not gated): the layer a change touched is where its
# saving should show. Their JSON lines are kept in traced.txt.
set -euo pipefail
cd "$(dirname "$0")/.."

usage="usage: $0 <ref> <workload> [pairs=10] [seconds=22] [first_seed=1000]"
REF=${1:?$usage}
WORKLOAD=${2:?$usage}
PAIRS=${3:-10}
RUN_SECONDS=${4:-22}
SEED0=${5:-1000}
SHA=$(git rev-parse --verify "$REF^{commit}")
REF_DIR="${TMPDIR:-/tmp}/bench_pairs-${SHA:0:12}"
OUT=".bench_build/pairs/$WORKLOAD-${SHA:0:12}-$(date +%s)"
mkdir -p "$OUT"
: >"$OUT/figures.txt"

# sbt's boot server listens on a unix socket under the build's
# temporary directory (run.py points it at <tree>/.bench_build/tmp;
# $XDG_RUNTIME_DIR wins when set): <dir>/.sbt/sbt-socket<hash>/sbt-load.sock,
# <hash> a signed 64-bit number of up to 20 characters. sbt 1.10's socket
# library holds the name in a 104-byte buffer with its NUL, so a longer
# name kills the build with ServerAlreadyBootingException, reported only
# in build.log. Check both trees before building either.
for tree in "$REF_DIR" "$PWD"; do
  sock="${XDG_RUNTIME_DIR:-$tree/.bench_build/tmp}/.sbt/sbt-socket-0000000000000000000/sbt-load.sock"
  if [ "$(printf %s "$sock" | LC_ALL=C wc -c)" -gt 103 ]; then
    echo "$0: sbt's socket path $sock can exceed the 103-byte limit." \
      "The ref tree goes under TMPDIR=${TMPDIR:-/tmp}: pick a shorter" \
      "TMPDIR, or set XDG_RUNTIME_DIR to a short directory." >&2
    exit 2
  fi
done

if [ ! -d "$REF_DIR" ]; then
  mkdir -p "$REF_DIR.tmp"
  git archive "$SHA" | tar -x -C "$REF_DIR.tmp"
  mv "$REF_DIR.tmp" "$REF_DIR"
fi

# build one tree (run.py reuses a build whose sources hash the same)
build() {
  (cd "$1" && python3 -B -c '
import os, sys
sys.path.insert(0, "benchmark")
import run
env = dict(os.environ, SPARK_HOME=run.spark_home())
run.build(os.path.join(run.ROOT, ".bench_build"), env)
') >&2
}

# one run; appends "<side> <seed> <json line>" to runs.txt
run_side() { # $1=side (ref|change) $2=tree $3=seed [$4=trace]
  local trace=${4:-0} line
  local log="$OUT/$1-$3-trace$trace.log"
  (cd "$2" && python3 -B benchmark/run.py \
    --workload "$WORKLOAD" --seed "$3" --seconds "$RUN_SECONDS" --trace "$trace") \
    >"$log" 2>&1 || true
  line=$(grep '^{' "$log" | tail -n 1 || true)
  if [ "$trace" = 1 ]; then
    echo "$1 $3 ${line:-null}" >>"$OUT/traced.txt"
    if [ -n "$line" ]; then echo "[pairs] traced $1 seed=$3 done" >&2
    else echo "[pairs] traced $1 seed=$3 FAILED (see $log)" >&2; fi
    return
  fi
  echo "$1 $3 ${line:-null}" >>"$OUT/runs.txt"
  local cond
  cond=$(sed -n 's/^\[bench\] conditions //p' "$log" | tail -n 1)
  echo "$1 $3 ${cond:-null}" >>"$OUT/conditions.txt"
  # workload figures: "[bench] <workload> <name> = <value> <unit>"
  sed -n "s/^\[bench\] $WORKLOAD \([A-Za-z0-9_]*\) = \([^ ]*\) .*/$1 $3 \1 \2/p" \
    "$log" >>"$OUT/figures.txt"
  echo "[pairs] $1 seed=$3 ${line:-FAILED (see $log)}" >&2
}

echo "[pairs] ref=$SHA workload=$WORKLOAD pairs=$PAIRS seconds=$RUN_SECONDS seeds=$SEED0.. out=$OUT" >&2
build "$REF_DIR"
build .
for ((i = 0; i < PAIRS; i++)); do
  seed=$((SEED0 + i))
  if ((i % 2 == 0)); then
    run_side ref "$REF_DIR" "$seed"; run_side change . "$seed"
  else
    run_side change . "$seed"; run_side ref "$REF_DIR" "$seed"
  fi
done
: >"$OUT/traced.txt"
seed=$((SEED0 + PAIRS))
if ((PAIRS % 2 == 0)); then
  run_side ref "$REF_DIR" "$seed" 1; run_side change . "$seed" 1
else
  run_side change . "$seed" 1; run_side ref "$REF_DIR" "$seed" 1
fi

python3 -B - "$OUT" BENCHMARK.json <<'EOF'
import json, statistics, sys

out, spec_path = sys.argv[1], sys.argv[2]
with open(spec_path) as f:
    full_spec = json.load(f)
spec = full_spec["end_to_end"]
runs = {}
with open(f"{out}/runs.txt") as f:
    for ln in f:
        side, seed, js = ln.rstrip("\n").split(" ", 2)
        runs[(side, int(seed))] = json.loads(js)
with open(f"{out}/conditions.txt") as f:
    conds = [ln.split(" ", 2) for ln in f]
seeds = sorted({s for _, s in runs})
ok = lambda r: r is not None and r.get("correct") and "metrics" in r
pairs = [s for s in seeds if ok(runs.get(("ref", s))) and ok(runs.get(("change", s)))]
bad = [f"{side}@{s}" for (side, s), r in sorted(runs.items()) if not ok(r)]
contended = [f"{c[0]}@{c[1]}" for c in conds
             if c[2].strip() != "null" and json.loads(c[2]).get("contended")]
print(f"pairs complete: {len(pairs)} of {len(seeds)}; "
      f"failed or incorrect runs: {bad or 'none'}; contended runs: {contended or 'none'}")
if not pairs:
    sys.exit(1)

def q(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3

print(f"{'metric':<14} {'ref q1 / median / q3':>30} {'change q1 / median / q3':>30} "
      f"{'median chg':>10} {'bound':>6} {'wins':>6}  gain rule")
for m in spec:
    name, lower = m["name"], m["better"] == "lower"
    ref = [runs[("ref", s)]["metrics"][name]["value"] for s in pairs]
    chg = [runs[("change", s)]["metrics"][name]["value"] for s in pairs]
    wins = sum((c < r) if lower else (c > r) for r, c in zip(ref, chg))
    (r1, rm, r3), (c1, cm, c3) = q(ref), q(chg)
    rel = (cm - rm) / rm if rm else 0.0
    better = (cm < rm) if lower else (cm > rm)
    holds = wins * 10 >= 9 * len(pairs) and better and abs(cm - rm) > (r3 - r1)
    fmt = lambda a, b, c: f"{a:.4g} / {b:.4g} / {c:.4g}"
    print(f"{name:<14} {fmt(r1, rm, r3):>30} {fmt(c1, cm, c3):>30} "
          f"{rel:>+10.1%} {m['bound']:>6} {wins:>3}/{len(pairs):<2}  "
          f"{'holds' if holds else 'no'}")

figs = {}
with open(f"{out}/figures.txt") as f:
    for ln in f:
        side, seed, name, value = ln.split()
        if int(seed) in pairs:
            figs.setdefault(name, {}).setdefault(side, []).append(float(value))
if figs:
    print("workload figures (reported, not gated):")
for name, by in figs.items():
    ref, chg = by.get("ref", []), by.get("change", [])
    if not ref or not chg:
        continue
    (r1, rm, r3), (c1, cm, c3) = q(ref), q(chg)
    rel = (cm - rm) / rm if rm else 0.0
    print(f"{name:<22} {r1:.4g} / {rm:.4g} / {r3:.4g}  ->  "
          f"{c1:.4g} / {cm:.4g} / {c3:.4g}  {rel:+.1%}")

traced = {}
with open(f"{out}/traced.txt") as f:
    for ln in f:
        side, seed, js = ln.rstrip("\n").split(" ", 2)
        traced[side] = (seed, json.loads(js))
tr = {side: r["metrics"] for side, (_, r) in traced.items()
      if r is not None and "metrics" in r}
seeds = sorted({seed for seed, _ in traced.values()})
print(f"traced pair, seed {'/'.join(seeds) or '-'} (reported, not gated): "
      f"{'ok' if len(tr) == 2 else 'a side failed, see its trace1 log'}")
if len(tr) == 2:
    print(f"{'per-layer metric':<56} {'ref':>12} {'change':>12} {'chg':>8}")
    for m in full_spec["per_layer"]:
        name = m["name"]
        if name not in tr["ref"] or name not in tr["change"]:
            continue
        r, c = tr["ref"][name]["value"], tr["change"][name]["value"]
        rel = f"{(c - r) / r:+.1%}" if r else "-"
        print(f"{name:<56} {r:>12.5g} {c:>12.5g} {rel:>8}")
EOF
