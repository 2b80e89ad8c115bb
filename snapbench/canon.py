"""Canonical digests of a snapshot's artifacts.

An artifact's digest covers its content, not its bytes: rows are sorted,
numbers are rounded to 6 significant digits, and the run's timestamp (the
`**Generated**` line of RUN_REPORT.md and every `generated_at` field or
column) is dropped. The copy of the input under `extracted/`, Hadoop's
`.crc` side files and `.prev` backups are not artifacts.

    python3 snapbench/canon.py <outDir>                # prints the digests
    python3 snapbench/canon.py <outDir> <workload>     # records them as the
                                                       # workload's expectation
"""

import csv
import hashlib
import io
import json
import os
import re
import sys

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
NUMBER = re.compile(r"-?\d+\.\d+(?:[eE][-+]?\d+)?")


def _num(s):
    try:
        return format(float(s), ".6g")
    except ValueError:
        return s


def _json(v):
    if isinstance(v, dict):
        return {k: _json(x) for k, x in v.items() if k != "generated_at"}
    if isinstance(v, list):
        return [_json(x) for x in v]
    if isinstance(v, float):
        return _num(v)
    return v


def canonical(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    if path.endswith(".csv"):
        rows = list(csv.reader(io.StringIO(text)))
        header = rows[0] if rows else []
        keep = [i for i, c in enumerate(header) if c != "generated_at"]
        body = sorted(",".join(_num(r[i]) for i in keep) for r in rows[1:])
        return "\n".join([",".join(header[i] for i in keep), *body])
    if path.endswith(".json"):
        return json.dumps(_json(json.loads(text)), sort_keys=True)
    lines = [line for line in text.splitlines() if "**Generated**" not in line]
    return "\n".join(sorted(NUMBER.sub(lambda m: _num(m.group()), line)
                            for line in lines))


def tree_digest(out):
    digests = {}
    for d, _, files in os.walk(out):
        rel_dir = os.path.relpath(d, out)
        if rel_dir == "extracted" or rel_dir.startswith("extracted" + os.sep):
            continue
        for name in files:
            if name.startswith(".") or name.endswith((".crc", ".prev")) \
                    or "__tmp__" in name:
                continue
            p = os.path.join(d, name)
            digests[os.path.relpath(p, out)] = hashlib.sha256(
                canonical(p).encode("utf-8")).hexdigest()[:16]
    return digests


def expected():
    with open(EXPECTED) as f:
        return json.load(f)


if __name__ == "__main__":
    got = tree_digest(sys.argv[1])
    if len(sys.argv) > 2:
        want = expected() if os.path.exists(EXPECTED) else {}
        want[sys.argv[2]] = got
        with open(EXPECTED, "w") as f:
            json.dump(want, f, indent=1, sort_keys=True)
            f.write("\n")
    print(json.dumps(got, indent=1, sort_keys=True))
