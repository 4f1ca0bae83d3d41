#!/usr/bin/env python3
"""Cross-check the q44 Squeeze oracle beyond the gate input: substitute a
probe injection into the generated q44_squeeze.sql and diff DuckDB's
prediction strings against `sbt "runMain graft.runner.OracleProbe <sf> squeeze
<m1> [b2 r2 m2]"` (PRED lines; TR trace lines are ignored here but useful for
manual stage-by-stage debugging when this script reports MISMATCH;
tools/run_probes.sh splits the scenario's lines out of the matrix run).

Usage:
  python3 tools/check_squeeze_probe.py <sfdir> <m1> [b2 r2 m2] < probe_out.txt
Driver-side tooling only.
"""
import sys, duckdb

GATE_CASE = "CASE WHEN brand = abrand AND rf = arf THEN 2.0 ELSE 1.0 END"


def main():
    sf = sys.argv[1]
    m1 = sys.argv[2]
    case = f"CASE WHEN brand = 'Brand#19' AND rf = 'R' THEN {m1}"
    if len(sys.argv) >= 6:
        b2, r2, m2 = sys.argv[3:6]
        conds = [c for c in (
            f"brand = '{b2}'" if b2 != "*" else None,
            f"rf = '{r2}'" if r2 != "*" else None) if c]
        case += f" WHEN {' AND '.join(conds) or 'true'} THEN {m2}"
    case += " ELSE 1.0 END"

    sql = open("src/main/resources/graft/oracles/q44_squeeze.sql").read()
    assert GATE_CASE in sql, "gate injection CASE not found — regenerate oracle"
    sql = sql.replace(GATE_CASE, case)

    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracle = sorted(r[0] for r in con.execute(sql).fetchall())

    spark = sorted(line.rstrip("\n").split("\t", 1)[1]
                   for line in sys.stdin if line.startswith("PRED\t"))

    print("spark :", spark)
    print("oracle:", oracle)
    if spark == oracle:
        print("MATCH")
    else:
        print("MISMATCH")
        sys.exit(1)


if __name__ == "__main__":
    main()
