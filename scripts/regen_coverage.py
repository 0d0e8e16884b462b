"""Regenerate COVERAGE.md's qid table + counts from the registry.

Run from the repo root: python scripts/regen_coverage.py
The prose header is preserved verbatim except for the count line.
"""

import os
import re
import sys

# runnable as `python scripts/regen_coverage.py` from anywhere: the
# repo root (the script's parent's parent) must be importable
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import aprsdb_spark.registry as R

R.load_all()
n = len(R.QUERIES)

with open("COVERAGE.md") as f:
    text = f.read()

head, _, _ = text.partition("| qid |")
head = re.sub(
    r"\d+ registered qids, each DuckDB-oracle-checked",
    f"{n} registered qids, each DuckDB-oracle-checked",
    head,
)

rows = ["| qid | module | summary |", "| --- | --- | --- |"]
for qid in sorted(R.QUERIES):
    fn = R.QUERIES[qid]
    mod = fn.__module__.replace("aprsdb_spark.", "")
    summary = (fn.__doc__ or "").strip().split("\n")[0][:60].replace("|", "\\|")
    rows.append(f"| `{qid}` | {mod} | {summary} |")

with open("COVERAGE.md", "w") as f:
    f.write(head + "\n".join(rows) + "\n")
print(f"COVERAGE.md: {n} qids")
