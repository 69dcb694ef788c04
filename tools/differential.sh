#!/bin/bash
# Differential check of the working tree against a git revision: the
# query results, the graph-pack plans and the chat reads' plans and job
# counts of both builds, printing only what differs.
#
# Usage: tools/differential.sh <rev>
#
# <rev> is built from `git archive` in a temporary directory, with this
# tree's PlanDump.scala copied in so both builds dump the same records;
# both builds use the offline sbt. On each build it runs
#   graft.Verify and graft.devtools.PlanDump '^g' at sf0.001 and sf0.01;
#   graft.devtools.PlanDump --statements twice, over the kg_etl_chat
#   seed-1 chat session (tools/chat_statements.py) on one store that
#   <rev>'s EtlMain builds.
# Verify outputs are compared by schema, rows and row order. A PlanDump
# record is printed when its plan or job counts differ. A job-count
# difference is printed as unstable, and not counted, when one build's
# counts disagree: a record's two warm repetitions (`jobs_unstable`) or,
# for statements, its two runs, since the count can move between JVM
# runs of one build.
# Exit 0 when nothing differs, 1 otherwise. The corpus is read from
# ../testdata beside the checkout (as tools/pregate.sh does).
set -euo pipefail
[ "$#" -eq 1 ] || { echo "usage: tools/differential.sh <rev>" >&2; exit 2; }
DIR="$(cd "$(dirname "$0")/.." && pwd)"
DATA="$(cd "$DIR/.." && pwd)/testdata"
REV="$(git -C "$DIR" rev-parse --verify "$1^{commit}")"
WORK="$(mktemp -d "${TMPDIR:-/tmp}/differential.XXXXXX")"
trap 'rm -rf "$WORK"' EXIT
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"

mkdir "$WORK/base"
git -C "$DIR" archive "$REV" | tar -x -C "$WORK/base"
cp "$DIR/src/main/scala/graft/devtools/PlanDump.scala" "$WORK/base/src/main/scala/graft/devtools/"
for b in "$WORK/base" "$DIR"; do
  # run.sh's classpath is target/scala-2.13/classes: resources too
  (cd "$b" && sbt --batch compile Compile/copyResources 2>&1 | tail -1 | grep -q '\[success\]') \
    || { echo "differential: compile failed in $b" >&2; exit 2; }
done

python3 "$DIR/tools/chat_statements.py" 1 "$WORK/chat" > /dev/null
"$WORK/base/tools/run.sh" graft.etl.EtlMain --store "$WORK/chat/store" --schema \
  --facilities "$WORK/chat/disposal_map_db.json" --waste-items "$WORK/chat/Abfall-ABC.csv" \
  > "$WORK/etl.log" 2>&1

for side in base change; do
  b="$WORK/base"; [ "$side" = change ] && b="$DIR"
  out="$WORK/$side"-out; mkdir -p "$out"
  for sf in sf0.001 sf0.01; do
    "$b/tools/run.sh" graft.Verify "$DATA/$sf" "$out/verify-$sf" 2> "$out/verify-$sf.log"
    "$b/tools/run.sh" graft.devtools.PlanDump "$DATA/$sf" '^g' > "$out/g-$sf.jsonl" 2> /dev/null
  done
  for run in 1 2; do
    "$b/tools/run.sh" graft.devtools.PlanDump --statements "$WORK/chat/store" \
      "$WORK/chat/statements.jsonl" > "$out/statements-$run.jsonl" 2> /dev/null
  done
done

python3 - "$WORK/base-out" "$WORK/change-out" "$REV" <<'PY'
import json, os, sys
import pyarrow.parquet as pq

base, change, rev = sys.argv[1:]
diffs = 0

def report(line):
    global diffs
    diffs += 1
    print(line)

for sf in ("sf0.001", "sf0.01"):
    a, b = f"{base}/verify-{sf}", f"{change}/verify-{sf}"
    names = lambda d: {n for n in os.listdir(d) if os.path.isdir(f"{d}/{n}")}
    for n in sorted(names(a) | names(b)):
        if n not in names(a) or n not in names(b):
            report(f"verify {sf} {n}: only in {'change' if n in names(b) else rev[:12]}")
            continue
        x, y = pq.read_table(f"{a}/{n}"), pq.read_table(f"{b}/{n}")
        if not x.schema.equals(y.schema, check_metadata=False):
            report(f"verify {sf} {n}: schema {x.schema.to_string()!r} -> {y.schema.to_string()!r}")
        elif x.num_rows != y.num_rows:
            report(f"verify {sf} {n}: rows {x.num_rows} -> {y.num_rows}")
        elif not x.equals(y):
            same = sorted(map(repr, x.to_pylist())) == sorted(map(repr, y.to_pylist()))
            report(f"verify {sf} {n}: {'row order' if same else 'values'} differ")

def records(path, key):
    with open(path) as f:
        return {r[key]: r for r in map(json.loads, filter(str.strip, f))}

FIELDS = ("error", "build_jobs", "jobs", "nodes", "plan")

def compare(label, x, y, unstable):
    for k in sorted(x.keys() | y.keys(), key=str):
        if k not in x or k not in y:
            report(f"{label} {k}: only in {'change' if k in y else rev[:12]}")
            continue
        moved = [f for f in FIELDS if x[k].get(f) != y[k].get(f)]
        if not moved:
            continue
        shown = {f: [x[k].get(f), y[k].get(f)] for f in moved if f != "plan"}
        shown.update({f"{s}_jobs_unstable": r["jobs_unstable"]
                      for s, r in (("base", x[k]), ("change", y[k])) if "jobs_unstable" in r})
        line = f"{label} {k}: {'plan, ' if 'plan' in moved else ''}{json.dumps(shown)}"
        noisy = k in unstable or "jobs_unstable" in x[k] or "jobs_unstable" in y[k]
        if noisy and set(moved) <= {"build_jobs", "jobs"}:
            print(f"{line} unstable {json.dumps(unstable.get(k, {}))}")  # noise, not a change
        else:
            report(line)

for sf in ("sf0.001", "sf0.01"):
    compare(f"plandump {sf}", records(f"{base}/g-{sf}.jsonl", "query"),
            records(f"{change}/g-{sf}.jsonl", "query"), {})
runs = {s: [records(f"{d}/statements-{r}.jsonl", "statement") for r in (1, 2)]
        for s, d in (("base", base), ("change", change))}
unstable = {}
for side, (r1, r2) in runs.items():
    for k in r1.keys() & r2.keys():
        if (r1[k].get("build_jobs"), r1[k].get("jobs")) != (r2[k].get("build_jobs"), r2[k].get("jobs")):
            unstable.setdefault(k, {})[side] = [r1[k].get("jobs"), r2[k].get("jobs")]
compare("statements", runs["base"][0], runs["change"][0], unstable)
print(f"differential vs {rev[:12]}: {diffs} difference(s)")
sys.exit(1 if diffs else 0)
PY
