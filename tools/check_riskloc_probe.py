#!/usr/bin/env python3
"""Cross-check the q40 RiskLoc oracle beyond the gate input: substitute a
probe injection (primary multiplier m1, optional second anomaly) into the
generated q40_riskloc.sql and diff DuckDB's root causes against the
output of `sbt "runMain graft.runner.OracleProbe <sf> riskloc <m1> [b2 r2 m2]"`
(tools/run_probes.sh splits the scenario's lines out of the matrix run).

Usage:
  python3 tools/check_riskloc_probe.py <sfdir> <m1> [b2 r2 m2] < probe_out.txt
The probe's lines `RC\tlabel\tlayer\trisk` arrive on stdin.
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

    sql = open("src/main/resources/graft/oracles/q40_riskloc.sql").read()
    assert GATE_CASE in sql, "gate injection CASE not found — regenerate oracle"
    sql = sql.replace(GATE_CASE, case)

    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracle = [(r[0], int(r[1]), float(r[2]))
              for r in con.execute(sql).fetchall()]
    # Sort with the same tuple key as the spark list below: the SQL orders
    # by root_cause alone, so two root causes with identical label strings
    # at different layers could otherwise arrive in a different row order
    # and produce a spurious MISMATCH (ADVICE r12).
    oracle.sort()

    spark = []
    for line in sys.stdin:
        if line.startswith("RC\t"):
            _, label, layer, risk = line.rstrip("\n").split("\t")
            spark.append((label, int(layer), float(risk)))
    spark.sort()

    print("spark :", spark)
    print("oracle:", oracle)
    if spark == oracle:
        print("MATCH")
    else:
        print("MISMATCH")
        sys.exit(1)


if __name__ == "__main__":
    main()
