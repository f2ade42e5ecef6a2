#!/usr/bin/env bash
# Paired A/B of the benchmark: this checkout (the change) against a parent
# revision, on one workload.
#
#   scripts/perf_ab.sh <parent-rev> <workload> <pairs> [first-seed]
#
# The parent revision's files are exported with `git archive` into a
# temporary directory (under $TMPDIR, default /tmp), removed on exit.
# Each pair runs `python3 perfbench/run.py --workload <workload> --seed
# <s> --seconds 10 --trace 0` once in each checkout with the same seed;
# pair i uses seed first-seed + i (default 101) and the side that runs
# first alternates from pair to pair. Each run is one line of a .jsonl
# file whose path is printed at the end: side, seed, run.py's exit code,
# the last 20 lines of its stderr, its run record and its result line.
#
# A run is malformed when its last stdout line is not a strict-JSON
# object (NaN and Infinity rejected) holding `correct`, `attempted`,
# `failed` and `metrics`. A malformed run is never counted as failed
# operations: it is reported on its own line per side, with seed, exit
# code and reason, and its pair is left out of the metric table.
#
# Output: per end-to-end metric of BENCHMARK.json, each side's median
# [first–third quartile], the relative change of the medians, the pairs
# the change won and a verdict, the first of these that applies:
#   gain holds        at least 10 pairs, the change won at least 9 in 10
#                     of them and the medians differ by more than the
#                     parent's quartile distance;
#   worse than bound  the change's median is worse than the parent's by
#                     more than the metric's BENCHMARK.json bound;
#   unresolved        the parent's quartile distance exceeds the bound
#                     and not every change run beats every parent run;
#   within bound      otherwise.
# Then each side's range of calib.cpu_ms,
# calib.mt_ms and host.steal_pct and its total of failed operations;
# then each side's malformed runs.
set -euo pipefail

if [ $# -lt 3 ] || [ $# -gt 4 ]; then
  echo "usage: $0 <parent-rev> <workload> <pairs> [first-seed]" >&2
  exit 2
fi
rev=$1 workload=$2 pairs=$3 seed0=${4:-101}

change=$(git rev-parse --show-toplevel)
parent=$(mktemp -d "${TMPDIR:-/tmp}/perf_ab.XXXXXX")
out=$(mktemp "${TMPDIR:-/tmp}/perf_ab.$workload.XXXXXX.jsonl")
cleanup() { rm -rf "$parent"; }
trap cleanup EXIT
git -C "$change" archive "$rev" | tar -x -C "$parent"

run_side() { # side dir seed
  local so se rc=0
  so=$(mktemp "${TMPDIR:-/tmp}/perf_ab.stdout.XXXXXX")
  se=$(mktemp "${TMPDIR:-/tmp}/perf_ab.stderr.XXXXXX")
  (cd "$2" && python3 perfbench/run.py --workload "$workload" \
    --seed "$3" --seconds 10 --trace 0 >"$so" 2>"$se") || rc=$?
  python3 - "$1" "$3" "$rc" "$so" "$se" >> "$out" <<'PY'
import json, sys

side, seed, rc, so, se = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4], sys.argv[5]
lines = open(so, errors="replace").read().splitlines()
run = {"side": side, "seed": seed, "exit_code": rc,
       "stderr_tail": open(se, errors="replace").read().splitlines()[-20:],
       "record": {}, "result": None, "malformed": None}

def reject(name):
    raise ValueError(f"non-finite number {name}")

try:
    if not lines:
        raise ValueError("no stdout")
    result = json.loads(lines[-1], parse_constant=reject)
    if not isinstance(result, dict):
        raise ValueError("last line is not a JSON object")
    missing = [k for k in ("correct", "attempted", "failed", "metrics") if k not in result]
    if missing:
        raise ValueError(f"result line lacks {missing}")
    if type(result["failed"]) is not int or not isinstance(result["metrics"], dict):
        raise ValueError("result line has a non-integer failed or non-object metrics")
    run["result"] = result
except ValueError as e:
    run["malformed"] = f"{e}; last line: {lines[-1][:200] if lines else ''}"
try:
    run["record"] = json.loads(lines[-2])["record"]
except Exception:
    pass
print(json.dumps(run))
PY
  rm -f "$so" "$se"
}

for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then
    run_side parent "$parent" "$seed"; run_side change "$change" "$seed"
  else
    run_side change "$change" "$seed"; run_side parent "$parent" "$seed"
  fi
  echo "pair $((i + 1))/$pairs done (seed $seed)" >&2
done

python3 - "$change/BENCHMARK.json" "$out" "$workload" <<'PY'
import json, sys

bench, path, workload = sys.argv[1], sys.argv[2], sys.argv[3]
metrics = json.load(open(bench))["end_to_end"]
runs = [json.loads(l) for l in open(path)]
by = {"parent": {}, "change": {}}
for r in runs:
    by[r["side"]][r["seed"]] = r

def quart(xs):
    xs = sorted(xs)
    def q(p):
        k = (len(xs) - 1) * p
        lo = int(k)
        hi = min(lo + 1, len(xs) - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)
    return q(0.5), q(0.25), q(0.75)

def e2e(r, name):
    return (r.get("record") or {}).get("end_to_end", {}).get(name)

def fmt(v):
    return f"{v:.4g}"

ok = lambda r: r["malformed"] is None
seeds = sorted(s for s in set(by["parent"]) & set(by["change"])
               if ok(by["parent"][s]) and ok(by["change"][s]))
print(f"{workload}: {len(seeds)} pairs, seeds {', '.join(map(str, seeds))}" if seeds
      else f"{workload}: no complete pair")
print()
print("| metric | parent | change | Δ | won | verdict |")
print("| --- | --- | --- | --- | --- | --- |")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    pairs = [(e2e(by["parent"][s], name), e2e(by["change"][s], name)) for s in seeds]
    pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
    if not pairs:
        print(f"| `{name}` | – | – | | | |")
        continue
    (pm, p1, p3), (cm, c1, c3) = quart([p for p, _ in pairs]), quart([c for _, c in pairs])
    beats = lambda c, p: c < p if lower else c > p
    won = sum(1 for p, c in pairs if beats(c, p))
    delta = (cm / pm - 1.0) * 100.0 if pm else float("nan")
    worse = (cm - pm if lower else pm - cm) / abs(pm) if pm else 0.0
    if len(pairs) >= 10 and won >= 0.9 * len(pairs) and beats(cm, pm) \
            and abs(cm - pm) > p3 - p1:
        verdict = "gain holds"
    elif worse > m["bound"]:
        verdict = "worse than bound"
    elif pm and (p3 - p1) / abs(pm) > m["bound"] and not all(
            beats(c, p) for _, c in pairs for p, _ in pairs):
        verdict = "unresolved"
    else:
        verdict = "within bound"
    print(f"| `{name}` | {fmt(pm)} [{fmt(p1)}–{fmt(p3)}] | {fmt(cm)} [{fmt(c1)}–{fmt(c3)}] "
          f"| {delta:+.1f}% (bound {m['bound'] * 100:.0f}%) | {won}/{len(pairs)} | {verdict} |")
print()
for side in ("parent", "change"):
    rs = [by[side][s] for s in seeds]
    def rng(get):
        xs = [v for v in (get(r) for r in rs) if v is not None]
        return f"{min(xs):.4g}–{max(xs):.4g}" if xs else "–"
    cal = lambda k: (lambda r: ((r.get("record") or {}).get("calibration") or {}).get(k))
    steal = lambda r: (r.get("record") or {}).get("host_steal_pct")
    failed = sum(r["result"]["failed"] for r in rs)
    print(f"{side}: calib.cpu_ms {rng(cal('cpu_ms'))}, calib.mt_ms {rng(cal('mt_ms'))}, "
          f"host.steal_pct {rng(steal)}, failed {failed}")
for side in ("parent", "change"):
    bad = [r for _, r in sorted(by[side].items()) if not ok(r)]
    print(f"{side}: malformed {len(bad)}" + "".join(
        f"; seed {r['seed']} (exit {r['exit_code']}): {r['malformed']}" for r in bad))
PY
echo "raw runs: $out"
