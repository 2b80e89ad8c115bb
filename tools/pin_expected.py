#!/usr/bin/env python3
"""Regenerate the pinned expected tables used by fixture-comparison
oracles. Dev tool (driver-side python), not part of the Spark engine.

Run a fresh Verify dump first, then:
    python3 tools/pin_expected.py /tmp/verify_out

The queries to pin are read from the dump's oracle_sql.json: every
oracle that reads `src/test/resources/expected/<name>_sf0.01.parquet`
(the SQL `graft.queries.Query.pinned` writes) is regenerated from the
dump's `<name>` output. The pinned table is the engine's own
deterministic output — the oracle entry turns the driver's rows-only
check into a rows+schema+hash regression gate. Regenerate ONLY after
deliberately changing a pinned query or the sf0.01 fixtures, and
eyeball the diff before committing.
"""
import json
import os
import re
import sys

import duckdb

EXPECTED = "src/test/resources/expected"


def pins(verify_out: str) -> dict:
    """name -> repo-relative parquet path, for each pinned oracle."""
    with open(os.path.join(verify_out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = {}
    for name, sql in sorted(oracles.items()):
        rel = f"{EXPECTED}/{name}_sf0.01.parquet"
        if re.search(r"read_parquet\('(?:[^']*/)?" + re.escape(rel) + r"'\)", sql):
            out[name] = rel
    return out


def main(verify_out: str) -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    con = duckdb.connect()
    for name, rel in pins(verify_out).items():
        dest = os.path.join(root, rel)
        con.execute(
            # ORDER BY ALL: (col1, col2) is not a total order for
            # d2_ks_exact (two feature rows per boundary), and a partial
            # order makes regeneration byte-nondeterministic
            f"COPY (SELECT * FROM read_parquet('{verify_out}/{name}/*.parquet') "
            f"ORDER BY ALL) TO '{dest}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM read_parquet('{dest}')").fetchone()[0]
        print(f"pinned {name} -> {rel} ({n} rows)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/verify_out"))
