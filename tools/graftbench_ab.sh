#!/usr/bin/env bash
# Paired A/B runs of graftbench: a base revision against the working tree.
#
#   tools/graftbench_ab.sh <base-rev> <workload> <pairs> [seed] [workdir]
#
# Exports <base-rev> with `git archive` into <workdir>/base and the working
# tree (tracked and untracked, .gitignore'd files left out) into
# <workdir>/head, then runs
#   python3 graftbench/run.py --workload W --seed S --seconds 15 --trace 0
# in both trees, pair by pair, alternating which side goes first (pair 1:
# base first). Each tree builds its own jar on its first run. Prints each
# pair's setup_s and op_p50_ms with the run's check status, then each side's
# failed and attempted operations summed over its runs, and per metric the
# medians, the base's interquartile range and how many pairs the head won
# (lower is better for both metrics), and per request kind (search,
# phrase) and per loop position (op-0, op-1, ...) each side's median
# operation time over the operations of all its runs, so the kind a p50
# change comes from shows, and whether it moves the JVM's cold first
# requests or every request. Every run's last output
# line (the run.py JSON) is kept in <workdir>/runs.jsonl, and its full
# artifact (run.py --out) in <workdir>/<side>-<pair>.json.
#
# Defaults: seed 1, workdir ${TMPDIR:-/tmp}/graftbench_ab. The script only
# calls graftbench; it changes nothing in either tree's graftbench/.
set -euo pipefail

if [ $# -lt 3 ]; then
  echo "usage: $0 <base-rev> <workload> <pairs> [seed] [workdir]" >&2
  exit 2
fi
base_rev=$1 workload=$2 pairs=$3 seed=${4:-1}
work=${5:-${TMPDIR:-/tmp}/graftbench_ab}
repo=$(git rev-parse --show-toplevel)
base_sha=$(git -C "$repo" rev-parse --verify "$base_rev^{commit}")

mkdir -p "$work"
work=$(cd "$work" && pwd)
rm -rf "$work/base" "$work/head"
mkdir -p "$work/base" "$work/head"
git -C "$repo" archive "$base_sha" | tar -x -C "$work/base"
(cd "$repo" && git ls-files -z --cached --others --exclude-standard \
  | tar --null --ignore-failed-read -T - -cf - 2>/dev/null) | tar -x -C "$work/head"
: > "$work/runs.jsonl"
rm -f "$work"/base-*.json "$work"/head-*.json
echo "base $base_rev ($base_sha) vs working tree; workload $workload, seed $seed, $pairs pairs"

run() { # <side> <pair>: one run.py pass; appends {side, pair, result} to runs.jsonl
  local out
  out=$(cd "$work/$1" && python3 graftbench/run.py --workload "$workload" \
    --seed "$seed" --seconds 15 --trace 0 --out "$work/$1-$2.json" \
    2>"$work/$1.stderr" | tail -n 1) || true
  python3 - "$1" "$2" "$out" >>"$work/runs.jsonl" <<'PY'
import json, sys
side, pair, line = sys.argv[1], int(sys.argv[2]), sys.argv[3]
try:
    res = json.loads(line)
except ValueError:
    res = {"correct": False, "failed": None, "metrics": {}, "error": line[-300:]}
print(json.dumps({"side": side, "pair": pair, "result": res}))
PY
}

for ((i = 1; i <= pairs; i++)); do
  if ((i % 2)); then order="base head"; else order="head base"; fi
  for side in $order; do run "$side" "$i"; done
  python3 - "$work/runs.jsonl" "$i" <<'PY'
import json, sys
rows = [json.loads(l) for l in open(sys.argv[1])]
pair = int(sys.argv[2])
cells = []
for side in ("base", "head"):
    r = next(x["result"] for x in rows if x["pair"] == pair and x["side"] == side)
    m = r.get("metrics", {})
    val = lambda k: m.get(k, {}).get("value", float("nan"))
    ok = "ok" if r.get("correct") and r.get("failed") == 0 else "FAILED"
    cells.append(f"{side} setup_s {val('setup_s'):8.3f} op_p50_ms {val('op_p50_ms'):9.1f} {ok}")
print(f"pair {pair:2d}: " + " | ".join(cells), flush=True)
PY
done

python3 - "$work/runs.jsonl" "$work" <<'PY'
import glob, json, os, re, statistics, sys
rows = [json.loads(l) for l in open(sys.argv[1])]
def vals(side, k):
    return {x["pair"]: x["result"].get("metrics", {}).get(k, {}).get("value")
            for x in rows if x["side"] == side}
bad = [f"{x['side']}#{x['pair']}" for x in rows
       if not (x["result"].get("correct") and x["result"].get("failed") == 0)]
print("runs with a failed check or operation: " + (", ".join(bad) or "none"))
for side in ("base", "head"):
    res = [x["result"] for x in rows if x["side"] == side]
    failed = sum(r.get("failed") or 0 for r in res)
    attempted = sum(r.get("attempted") or 0 for r in res)
    print(f"{side}: {failed} of {attempted} operations failed over {len(res)} runs")
for k in ("setup_s", "op_p50_ms"):
    b, h = vals("base", k), vals("head", k)
    both = sorted(p for p in b if p in h and b[p] is not None and h[p] is not None)
    if not both:
        print(f"{k}: no complete pair")
        continue
    bs, hs = [b[p] for p in both], [h[p] for p in both]
    mb, mh = statistics.median(bs), statistics.median(hs)
    q1, _, q3 = statistics.quantiles(bs, n=4, method="inclusive") if len(bs) > 1 else (bs[0],) * 3
    wins = sum(1 for p in both if h[p] < b[p])
    print(f"{k}: median base {mb:.3f} head {mh:.3f} ({(mh - mb) / mb * 100:+.1f}%); "
          f"base quartiles {q1:.3f}-{q3:.3f} (IQR {q3 - q1:.3f}); "
          f"head won {wins}/{len(both)} pairs; |median diff| {abs(mh - mb):.3f} "
          f"{'>' if abs(mh - mb) > q3 - q1 else '<='} base IQR")
# per request kind and per loop position (op-0, op-1, ...), from the
# artifacts' measured operations (ok ones only); serve runs no warm-up, so
# the first positions are the JVM's cold requests
kinds, positions = {}, {}
for side in ("base", "head"):
    for path in sorted(glob.glob(os.path.join(sys.argv[2], f"{side}-*.json"))):
        try:
            passes = json.load(open(path))["passes"]
        except (OSError, ValueError, KeyError):
            continue
        for p in passes:
            for o in p.get("ops", []):
                if not o.get("ok"):
                    continue
                if "kind" in o:
                    kinds.setdefault(o["kind"], {}).setdefault(side, []).append(o["ms"])
                at = re.match(r"op-(\d+)#", o.get("id", ""))
                if at:
                    positions.setdefault(int(at.group(1)), {}).setdefault(side, []).append(o["ms"])
def cells(by_side):
    out = []
    for side in ("base", "head"):
        ms = by_side.get(side, [])
        out.append(f"{side} {statistics.median(ms):9.1f} ms ({len(ms)} ops)" if ms
                   else f"{side} no ops")
    return " | ".join(out)
for kind in sorted(kinds):
    print(f"op ms by kind, {kind}: " + cells(kinds[kind]))
for i in sorted(positions):
    print(f"op ms by loop position, op-{i}: " + cells(positions[i]))
PY
