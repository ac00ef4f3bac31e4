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
  gate_files            files under src/main that declare gates: a
                        `Gate(` row or a map of gate rows
  gate_maps             `Map(` literals of `"q..." ->` rows (the
                        per-file `entries` / `oracles` maps)
  gates                 `Gate("q..."` rows plus the rows of the gate
                        maps that hold DataFrame builders
  eager_gates           `Gate` rows that declare an `eager` reason
  decimal4_inline       `DecimalType(25, 4)` literals under src/main: exact
                        sums and scaled values written inline rather than
                        through `dsum` / `Functional.decimal4Unscaled`

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


GATE = re.compile(r'^\s*Gate\("q\w+"')
ROW = re.compile(r'^\s*"q\w+"\s*->')


def gate_counts(lines):
    """(maps, gates, eager) declared in one file. A gate map is a `Map(`
    literal whose rows are `"q..." ->` pairs; its gates are the rows of
    the maps typed to DataFrame builders. A `Gate` row may wrap: its
    `eager` reason is looked for until the next row starts."""
    maps = gates = eager = 0
    opened = builders = in_row = False
    for line in lines:
        stripped = line.strip()
        if opened and stripped and not stripped.startswith("//"):
            if ROW.match(line):
                maps += 1
                gates += 1 if builders else 0
            else:
                builders = False
            opened = False
        elif builders and ROW.match(line):
            gates += 1
        if stripped == ")":
            builders = False
        if line.rstrip().endswith("Map("):
            opened, builders = True, "DataFrame" in line
            in_row = False
        if GATE.match(line):
            gates += 1
            in_row = True
        if in_row and "eager = Some(" in line:
            eager += 1
            in_row = False
    return maps, gates, eager


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.getcwd()
    main_lines = builders = drains = 0
    gate_files = gate_maps = gates = eager_gates = decimal4 = 0
    seen = {}
    for rel, lines in sources(root, "src"):
        text = "\n".join(lines)
        if rel.startswith(os.path.join("src", "main")):
            main_lines += len(lines) - (1 if lines[-1] == "" else 0)
            maps, n, e = gate_counts(lines)
            if maps or n:
                gate_files += 1
            gate_maps, gates, eager_gates = \
                gate_maps + maps, gates + n, eager_gates + e
            decimal4 += len(re.findall(r"DecimalType\(25,\s*4\)", text))
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
        "gate_files": gate_files,
        "gate_maps": gate_maps,
        "gates": gates,
        "eager_gates": eager_gates,
        "decimal4_inline": decimal4,
    }, sort_keys=False))


if __name__ == "__main__":
    main()
