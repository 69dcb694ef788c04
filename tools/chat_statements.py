#!/usr/bin/env python3
"""Write one seeded chat session of the `kg_etl_chat` benchmark as files.

    python3 tools/chat_statements.py <seed> <dir>

Writes into <dir>:
  disposal_map_db.json, Abfall-ABC.csv  the ETL inputs, as the benchmark
                                        generates them for <seed>
  statements.jsonl                      the session's warm-up block, then
                                        its first timed block: one
                                        {"tpl", "kind", "cypher", "params"}
                                        object per line

The inputs and requests come from perfbench/kgen.py at the benchmark's
sizes (perfbench/run.py CONFIG), so they are the ones the benchmark runs.
Build the store and dump each read's plan and job counts with:

    tools/run.sh graft.etl.EtlMain --store <dir>/store --schema \\
      --facilities <dir>/disposal_map_db.json --waste-items <dir>/Abfall-ABC.csv
    tools/run.sh graft.devtools.PlanDump --statements <dir>/store <dir>/statements.jsonl
"""
import json
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ beside the benchmark
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))

import kgen  # noqa: E402
from run import CONFIG  # noqa: E402


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: chat_statements.py <seed> <dir>")
    seed, out = int(sys.argv[1]), Path(sys.argv[2])
    out.mkdir(parents=True, exist_ok=True)
    cfg = CONFIG["kg_etl_chat"]
    _, names = kgen.kg_inputs(seed, cfg["items"], cfg["facilities"],
                              out / "disposal_map_db.json", out / "Abfall-ABC.csv")
    requests, warm = kgen.chat_requests(seed, names, n_blocks=1)
    with open(out / "statements.jsonl", "w", encoding="utf-8") as f:
        for r in warm + requests:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")
    print(f"{len(warm) + len(requests)} statements in {out / 'statements.jsonl'}")


if __name__ == "__main__":
    main()
