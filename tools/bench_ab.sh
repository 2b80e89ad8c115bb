#!/usr/bin/env bash
# Paired A/B of the snapshot benchmark (snapbench/run.py): a parent commit
# against this checkout, in alternating pairs, on the same seeds.
#
# Usage: tools/bench_ab.sh [-r REV] [-n PAIRS] [-s FIRST_SEED] [-d PARENT_DIR] [WORKLOAD ...]
#   -r REV         parent commit (default HEAD^; pass HEAD to compare
#                  uncommitted changes against the last commit)
#   -n PAIRS       pairs per workload (default 10)
#   -s FIRST_SEED  pair i uses seed FIRST_SEED+i on both sides (default 1000)
#   -d PARENT_DIR  where REV's files are unpacked (default
#                  ${TMPDIR:-/tmp}/bench_ab-<rev>); reused if present and
#                  stamped with REV's sha, refused (exit 2) otherwise
#   WORKLOAD       default: every workload in BENCHMARK.json
#
#   tools/bench_ab.sh -r HEAD -n 10 -s 301 ingest_8y
#
# The parent is a plain `git archive` of REV, so each side builds its own
# source with its own snapbench, as a fresh checkout would. Even pairs run
# the parent first, odd pairs the change first. Each run's last stdout line,
# with the `host` block (steal_pct, loadavg_start, loadavg_end, cpus) of its
# `snapbench-run` line, is appended to .bench_build/ab.jsonl here; the
# summary gives, per workload, each side's range of loadavg_start and, per
# end-to-end metric, each side's median and quartiles, the change's wins
# (ties count for neither) and the parent's IQR, and whether the median gap
# exceeds that IQR. It exits 1, naming the seeds and sides,
# when any run of this invocation is incorrect (including a run that did
# not finish) or a pair lacks a side.
#
# One A/B at a time per checkout: snapbench runs share .bench_build/work,
# so two at once fail each other's digest checks. The script holds an
# exclusive flock on .bench_build/bench_ab.lock while it runs and exits 2,
# naming the holder, if another invocation already holds it.
set -euo pipefail
here="$(cd "$(dirname "$0")/.." && pwd)"
invocation="$0 $*"
rev=HEAD^ pairs=10 seed0=1000 pdir=
while getopts "r:n:s:d:" o; do
  case "$o" in
    r) rev=$OPTARG ;; n) pairs=$OPTARG ;; s) seed0=$OPTARG ;; d) pdir=$OPTARG ;;
    *) sed -n '2,14p' "$0" >&2; exit 2 ;;
  esac
done
shift $((OPTIND - 1))
mkdir -p "$here/.bench_build"
lock="$here/.bench_build/bench_ab.lock"
exec 9<>"$lock"
if ! flock -n 9; then
  echo "bench_ab: another A/B runs in this checkout ($(cat "$lock"));" \
    "wait for it or stop it" >&2
  exit 2
fi
echo "pid $$ since $(date -u +%FT%TZ): $invocation" >"$lock"
sha="$(git -C "$here" rev-parse --short "$rev")"
full="$(git -C "$here" rev-parse "$rev^{commit}")"
pdir="${pdir:-${TMPDIR:-/tmp}/bench_ab-$sha}"
# the stamp names the commit unpacked in PARENT_DIR, written only once the
# unpack has finished, so a reused directory is known to hold REV
stamp="$pdir/.bench_ab-sha"
if [ ! -d "$pdir" ]; then
  mkdir -p "$pdir"
  git -C "$here" archive "$full" | tar -x -C "$pdir"
  echo "$full" >"$stamp"
elif [ "$(cat "$stamp" 2>/dev/null)" != "$full" ]; then
  echo "bench_ab: $pdir holds $(cat "$stamp" 2>/dev/null || echo "no stamped commit")," \
    "not $rev ($full); remove it or pass another -d" >&2
  exit 2
fi
seconds="$(python3 -c 'import json,sys; print(json.load(open(sys.argv[1]))["run_seconds"])' "$here/BENCHMARK.json")"
workloads=("$@")
[ ${#workloads[@]} -gt 0 ] || read -r -a workloads <<<"$(python3 -c \
  'import json,sys; print(" ".join(w["name"] for w in json.load(open(sys.argv[1]))["workloads"]))' \
  "$here/BENCHMARK.json")"
log="$here/.bench_build/ab.jsonl"
started="$(date +%s)"

run_side() { # side dir workload seed pair
  local out
  out="$(cd "$2" && python3 snapbench/run.py --workload "$3" --seed "$4" \
    --seconds "$seconds" --trace 0 2>"$here/.bench_build/ab-$1.stderr.log")" || true
  python3 -c 'import json,sys
side, w, seed, pair, ab, out = sys.argv[1:7]
lines = out.splitlines()
try:
    r = json.loads(lines[-1])
except (IndexError, ValueError):
    r = {"correct": False, "metrics": {}}
host = None
for l in lines:
    if l.startswith("snapbench-run "):
        host = json.loads(l[len("snapbench-run "):]).get("host")
print(json.dumps({"ab": int(ab), "side": side, "workload": w, "seed": int(seed),
                  "pair": int(pair), "host": host, **r}))
ok, pipe = r.get("correct"), r["metrics"].get("pipeline_s", {}).get("value")
print(f"  {side} {w} seed {seed}: correct={ok} pipeline_s={pipe}", file=sys.stderr)' \
    "$1" "$3" "$4" "$5" "$started" "$out" >>"$log"
}

for w in "${workloads[@]}"; do
  for ((i = 0; i < pairs; i++)); do
    seed=$((seed0 + i))
    if ((i % 2 == 0)); then
      run_side parent "$pdir" "$w" "$seed" "$i"; run_side change "$here" "$w" "$seed" "$i"
    else
      run_side change "$here" "$w" "$seed" "$i"; run_side parent "$pdir" "$w" "$seed" "$i"
    fi
  done
done

python3 - "$log" "$started" "$here/BENCHMARK.json" "$sha" "$pairs" "$seed0" "${workloads[@]}" <<'EOF'
import json, statistics, sys
log, ab, bench, sha = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
npairs, seed0, workloads = int(sys.argv[5]), int(sys.argv[6]), sys.argv[7:]
better = {m["name"]: m["better"] for m in json.load(open(bench))["end_to_end"]}
rows = [json.loads(l) for l in open(log)]
rows = [r for r in rows if r.get("ab") == ab]
def quart(v):
    return tuple(statistics.quantiles(v, n=4, method="inclusive")) if len(v) > 1 else (v[0],) * 3
print(f"parent {sha} vs this checkout")
failed = []
for w in workloads:
    by = {(r["side"], r["pair"]): r for r in rows if r["workload"] == w}
    pairs = [p for p in range(npairs) if ("parent", p) in by and ("change", p) in by]
    bad = [f"{s} seed {seed0 + p}" for (s, p), r in sorted(by.items(), key=lambda kv: kv[0][1])
           if not r.get("correct")]
    missing = [f"{s} seed {seed0 + p}" for p in range(npairs)
               for s in ("parent", "change") if (s, p) not in by]
    failed += [f"{w}: {x} incorrect" for x in bad] + [f"{w}: {x} missing" for x in missing]
    print(f"\n{w}: {len(pairs)} of {npairs} pairs, seeds {seed0}-{seed0 + npairs - 1}, "
          f"incorrect runs: {', '.join(bad) or 'none'}, missing runs: {', '.join(missing) or 'none'}")
    for s in ("parent", "change"):
        loads = [r["host"]["loadavg_start"] for (side, _), r in by.items()
                 if side == s and r.get("host")]
        print(f"  {s} loadavg_start: " +
              (f"{min(loads):.2f}-{max(loads):.2f} over {len(loads)} runs" if loads else "not recorded"))
    print(f"  {'metric':<11} {'parent median [q1, q3]':>27} {'change median [q1, q3]':>27}"
          f" {'wins':>6} {'parent IQR':>10} {'gap > IQR':>9}")
    for m, b in better.items():
        ok = [p for p in pairs if m in by[("parent", p)]["metrics"] and m in by[("change", p)]["metrics"]]
        if not ok:
            continue
        pv = [by[("parent", p)]["metrics"][m]["value"] for p in ok]
        cv = [by[("change", p)]["metrics"][m]["value"] for p in ok]
        sign = 1 if b == "lower" else -1
        wins = sum(1 for x, y in zip(pv, cv) if sign * (x - y) > 0)
        (p1, pm, p3), (c1, cm, c3) = quart(pv), quart(cv)
        print(f"  {m:<11} {pm:>9.3f} [{p1:>7.3f}, {p3:>7.3f}] {cm:>9.3f} [{c1:>7.3f}, {c3:>7.3f}]"
              f" {wins:>3}/{len(ok):<2} {p3 - p1:>10.3f} {str(sign * (pm - cm) > p3 - p1):>9}")
if failed:
    print("\nFAILED A/B:\n  " + "\n  ".join(failed), file=sys.stderr)
    sys.exit(1)
EOF
