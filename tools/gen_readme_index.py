#!/usr/bin/env python3
"""Regenerate the README operator index from SparkEntry.queries.

Parses the registry in src/main/scala/graft/SparkEntry.scala (from
`val registry:` to its closing `  )`): every
`"key" -> ` entry is listed under the `// ---- ... ----` section it
appears in, with its SparkEntry line and the operator object(s) its body
calls (resolved to source files by scanning for `object X`). The block
between the INDEX markers in README.md is replaced in place.

Usage: python3 tools/gen_readme_index.py
"""
import os, re, glob

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")
README = os.path.join(ROOT, "README.md")
BEGIN = "<!-- OPERATOR INDEX BEGIN (generated by tools/gen_readme_index.py) -->"
END = "<!-- OPERATOR INDEX END -->"

# object name -> defining file (repo-relative)
obj_file = {}
for p in glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True):
    rel = os.path.relpath(p, ROOT)
    for m in re.finditer(r"^object (\w+)", open(p).read(), re.M):
        obj_file.setdefault(m.group(1), rel)

src = open(ENTRY).read().split("\n")
q_start = next(i for i, l in enumerate(src) if "val registry:" in l)
q_end = next(i for i in range(q_start, len(src)) if src[i] == "  )")

section = "misc"
entries = []  # (section, key, line, files)
key_re = re.compile(r'^    "([\w.]+)" -> ')  # top-level map indent only
sec_re = re.compile(r"// ---- (.+?) ----")
i = q_start
while i < q_end:
    l = src[i]
    ms = sec_re.search(l)
    if ms:
        section = ms.group(1)
    mk = key_re.match(l)
    if mk:
        key, line = mk.group(1), i + 1
        # scan the entry body (until the next key or section) for object calls
        j, body = i, []
        while True:
            body.append(src[j])
            j += 1
            if j >= q_end or key_re.match(src[j]) or sec_re.search(src[j]):
                break
        calls = set()
        for b in body:
            for m in re.finditer(r"\b([A-Z]\w+)\.\w+\(", b):
                name = m.group(1)
                if name in obj_file and name not in (
                        "Seq", "Map", "Window", "Params"):
                    calls.add(obj_file[name])
        files = sorted(calls - {"src/main/scala/graft/SparkEntry.scala",
                                "src/main/scala/graft/Oracles.scala",
                                "src/main/scala/graft/Tables.scala"})
        entries.append((section, key, line,
                        files or ["src/main/scala/graft/SparkEntry.scala"]))
        i = j - 1
    i += 1

out = [BEGIN, "", f"{len(entries)} driver-checked queries "
       "(`SparkEntry.queries`), grouped as declared; line numbers are "
       "clickable entry points, files are the implementing operators.", ""]
cur = None
for section, key, line, files in entries:
    if section != cur:
        out += [f"### {section}", ""]
        cur = section
    fs = ", ".join(f"`{f}`" for f in files)
    out.append(f"- `{key}` — `src/main/scala/graft/SparkEntry.scala:{line}` → {fs}")
out += ["", END]

readme = open(README).read()
if BEGIN in readme:
    pre = readme.split(BEGIN)[0]
    post = readme.split(END)[1]
    readme = pre + "\n".join(out) + post
else:
    readme = readme.rstrip() + "\n\n## Operator index\n\n" + "\n".join(out) + "\n"
open(README, "w").write(readme)
print(f"indexed {len(entries)} queries into README.md")
