#!/usr/bin/env python3
"""Cross-check the query registry against SURVEY §2 so they cannot drift
(VERDICT r11 task #6):

  1. every key in the `SparkEntry.registry` is cited by >= 1 SURVEY §2 row;
  2. every backticked query key a §2 row cites exists in the registry
     (spec gates — names ending in `Spec` — resolve to test files).

Every registry entry carries its DuckDB oracle, so the compiler (not
this script) guarantees each query has one.

Exit 0 = consistent; nonzero prints each violation. Run from anywhere:
    python3 tools/inventory_check.py
"""
import os, re, sys, glob

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")
SURVEY = os.path.join(ROOT, "SURVEY.md")

src = open(ENTRY).read().split("\n")
# the registry literal: from `val registry:` to its closing `  )`
q_start = next(i for i, l in enumerate(src) if "val registry:" in l)
q_end = next(i for i in range(q_start, len(src)) if src[i] == "  )")
key_re = re.compile(r'^    "([\w.]+)" ->')
queries = {m.group(1) for l in src[q_start:q_end] for m in [key_re.match(l)] if m}

sec = open(SURVEY).read()
s2 = sec.split("## §2", 1)[1].split("\n## ", 1)[0]
cited = set()
spec_gates = set()
labels = []
for row in re.finditer(r"^\| *[\w.,+-]+ *\|.*$", s2, re.M):
    # cells split on unescaped pipes (descriptions carry \|-escaped ones)
    cells = [c.strip() for c in re.split(r"(?<!\\)\|", row.group(0))]
    if len(cells) < 5 or cells[1] in ("#", "---"):
        continue
    labels.append(cells[1])
    for key in re.findall(r"`([\w.]+)`", cells[3]):
        (spec_gates if key.endswith("Spec") else cited).add(key)
# row labels must be UNIQUE (VERDICT r14 #8): a colliding label makes
# row citations ("see §2 row 17a7") ambiguous
label_dups = sorted({l for l in labels if labels.count(l) > 1})
# a cited token only counts as a (possibly stale) query reference when it
# shares a name prefix with the registry — `done`, file names etc. don't
prefixes = {k.split("_")[0] for k in queries}
cited = {k for k in cited if k.split("_")[0] in prefixes}

specs = {os.path.basename(p)[:-6]
         for p in glob.glob(os.path.join(ROOT, "src/test/scala/graft/*.scala"))}

errs = []
for q in sorted(queries - cited):
    errs.append(f"driver query `{q}` is cited by NO SURVEY §2 row")
for q in sorted(cited - queries):
    errs.append(f"SURVEY §2 cites `{q}` but SparkEntry.queries has no such key")
for s in sorted(spec_gates - specs):
    errs.append(f"SURVEY §2 cites spec gate `{s}` but no such test file exists")
for l in label_dups:
    errs.append(f"SURVEY §2 row label `{l}` is used by more than one row")

print(f"queries={len(queries)} "
      f"survey_cited={len(cited)} spec_gates={len(spec_gates)}")
if errs:
    print("\n".join("FAIL: " + e for e in errs))
    sys.exit(1)
print("OK: inventories consistent")
