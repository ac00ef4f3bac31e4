#!/usr/bin/env python3
"""Design metrics of the program, read from the sources under src/ only.
Prints one JSON line:

  main_lines            lines of src/main (*.scala + *.java)
  session_builders      `SparkSession.builder` calls under src/
  duplicate_private_defs
                        private defs whose whole definition (signature and
                        body, whitespace-normalized) appears verbatim in
                        more than one file: {"count": <copies beyond the
                        first>, "names": {<name>: <files holding a copy>}}
  memory_drains         `processAllAvailable` calls that drain a memory
                        sink (one started within the 8 lines above)

Usage: python3 tools/design_metrics.py [repo_root]
"""
import json
import os
import re
import sys

DEF = re.compile(r"^(\s*)private(?:\[\w+\])? def (\w+)")


def sources(root, sub, exts=(".scala", ".java")):
    for d, _, files in os.walk(os.path.join(root, sub)):
        for f in sorted(files):
            if f.endswith(exts):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    yield os.path.relpath(p, root), fh.read().split("\n")


def private_defs(lines):
    """(name, normalized text) of each private def: its line plus every
    following line indented deeper, and a closing brace at its indent."""
    for i, line in enumerate(lines):
        m = DEF.match(line)
        if not m:
            continue
        indent, body = len(m.group(1)), [line.strip()]
        for nxt in lines[i + 1:]:
            stripped = nxt.strip()
            depth = len(nxt) - len(nxt.lstrip())
            if stripped and depth > indent:
                body.append(stripped)
            elif stripped == "}" and depth == indent:
                body.append(stripped)
                break
            else:
                break
        yield m.group(2), " ".join(body)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.getcwd()
    main_lines = builders = drains = 0
    seen = {}
    for rel, lines in sources(root, "src"):
        text = "\n".join(lines)
        if rel.startswith(os.path.join("src", "main")):
            main_lines += len(lines) - (1 if lines[-1] == "" else 0)
        builders += len(re.findall(r"SparkSession\s*\.builder\b", text))
        for i, line in enumerate(lines):
            if "processAllAvailable" in line and any(
                    'format("memory")' in prev
                    for prev in lines[max(0, i - 8):i + 1]):
                drains += 1
        for name, body in private_defs(lines):
            seen.setdefault((name, body), set()).add(rel)
    dups, extra = {}, 0
    for (name, _), files in seen.items():
        if len(files) > 1:
            dups[name] = dups.get(name, 0) + len(files)
            extra += len(files) - 1
    print(json.dumps({
        "main_lines": main_lines,
        "session_builders": builders,
        "duplicate_private_defs": {
            "count": extra,
            "names": dict(sorted(dups.items())),
        },
        "memory_drains": drains,
    }, sort_keys=False))


if __name__ == "__main__":
    main()
