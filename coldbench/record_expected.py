"""Record the expected result fingerprints of the batch workloads.

    python3 coldbench/record_expected.py [--oracle]

Runs every workload's queries once, cold, on the sf0.1 tables
and writes their fingerprints to ``expected.json``. With ``--oracle``,
each ``match_etl`` fingerprint must also equal the fingerprint of the
query's DuckDB twin (``__spark_entry__.oracle_sql()``) on the same
tables, or nothing is written. The ``corpus_curation`` fingerprints are
regression fingerprints of the commit that records them: their DuckDB
twins take minutes each at this scale and some run out of memory.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import fingerprint as fp  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def oracle_fingerprints(sf_dir: Path, names) -> dict:
    import duckdb

    sys.path.insert(0, str(run.ROOT))
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    out = {}
    for name in names:
        con = duckdb.connect()
        for t in sf_dir.glob("*.parquet"):
            con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
        out[name] = fp.fingerprint_arrow(con.execute(oracles[name]).arrow())
        con.close()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--oracle", action="store_true")
    args = ap.parse_args()

    sf_dir = datagen.SF_DIR
    got: dict[str, dict] = {}
    for name, wl in workloads.WORKLOADS.items():
        pass_dir = run.STATE / "runs" / f"record-{name}-{uuid.uuid4().hex[:8]}"
        spec = {
            "workload": name, "cpus": run.CPUS, "run_id": "record",
            "ops": workloads.queries(wl), "sf_dir": str(sf_dir), "expected": {},
            "trace": False, "parent_span": None,
        }
        try:
            report = run.run_pass(spec, pass_dir, time.monotonic() + 1800)
        finally:
            shutil.rmtree(pass_dir, ignore_errors=True)
        for op in report["ops"]:
            if "fingerprint" not in op:
                print(f"{op['name']} failed:\n{op['error']}", file=sys.stderr)
                return 1
            got[op["name"]] = op["fingerprint"]

    if args.oracle:
        names = workloads.queries(workloads.WORKLOADS["match_etl"])
        want = oracle_fingerprints(sf_dir, names)
        bad = [n for n in names if want[n] != got[n]]
        for n in bad:
            print(f"{n}: spark {got[n]} != duckdb {want[n]}", file=sys.stderr)
        print(f"oracle agreement: {len(names) - len(bad)}/{len(names)}")
        if bad:
            return 1
    (HERE / "expected.json").write_text(json.dumps(got, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(got)} fingerprints")
    return 0


if __name__ == "__main__":
    sys.exit(main())
