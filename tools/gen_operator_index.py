#!/usr/bin/env python3
"""Generate OPERATORS.md — the operator index (query -> implementation
file -> oracle presence) — from the source registrations.

Rows name the file only, never a line number, so an edit elsewhere in
the file cannot leave the index stale.

A query's implementation row is its registration in a `queries` map
(`"qNN_name" -> (fn _)` style); oracle presence is a registration in
an `oracleSql` map (the entry whose value is SQL text). Run from the
repo root:  python3 tools/gen_operator_index.py
Cross-check the emitted count against SparkEntry.queries.size (the
OperatorIndexSpec does this in CI).
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(ROOT, "src/main/scala/graft")

reg = re.compile(r'"(q\d+[a-z0-9_]*)"\s*->')

impl = {}    # name -> file
oracle = set()

for dirpath, _, files in os.walk(SRC):
    for fn in sorted(files):
        if not fn.endswith(".scala"):
            continue
        path = os.path.join(dirpath, fn)
        rel = os.path.relpath(path, ROOT)
        if rel.endswith("SparkEntry.scala"):
            continue  # aggregation map re-lists every name
        with open(path) as f:
            lines = f.readlines()
        in_oracle = False
        for line in lines:
            # block tracking: oracleSql maps hold SQL strings; queries
            # maps hold function refs. Switch on the val declarations.
            if re.search(r"val\s+oracleSql", line):
                in_oracle = True
            elif re.search(r"val\s+queries", line):
                in_oracle = False
            m = reg.search(line)
            if not m:
                continue
            name = m.group(1)
            if in_oracle:
                oracle.add(name)
            elif name not in impl:
                impl[name] = rel

def key(name):
    m = re.match(r"q(\d+)", name)
    return (int(m.group(1)), name)

missing_impl = sorted(oracle - set(impl))
if missing_impl:
    sys.exit(f"oracle entries without a queries registration: {missing_impl}")

out = [
    "# Operator index",
    "",
    "One row per registered query: the operator's `SparkEntry.queries`",
    "name, the file that registers it (the implementation is in the",
    "same file), and whether a DuckDB oracle mirror exists",
    "(`SparkEntry.oracleSql`). Generated by `tools/gen_operator_index.py`;",
    "`OperatorIndexSpec` pins it against the live registry.",
    "",
    f"**{len(impl)} queries, {len(oracle)} with a DuckDB oracle.**",
    "",
    "| query | registered at | oracle |",
    "|---|---|---|",
]
for name in sorted(impl, key=key):
    out.append(f"| {name} | `{impl[name]}` | {'yes' if name in oracle else '—'} |")

with open(os.path.join(ROOT, "OPERATORS.md"), "w") as f:
    f.write("\n".join(out) + "\n")
print(f"wrote OPERATORS.md: {len(impl)} queries, {len(oracle)} oracled")
