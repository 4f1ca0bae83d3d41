#!/usr/bin/env python3
"""Cross-check a BATCH algorithm oracle (q47/q48/q49) beyond the gate
input: substitute per-instance anomaly multipliers into the generated
batch SQL (the gate uses m=2.0 for all three instances) and diff DuckDB's
per-instance results against `sbt "runMain graft.runner.OracleProbe <sf>
batch <family> <m1> <m2> <m3>"` output arriving on stdin (tools/run_probes.sh
splits the scenario's lines out of the matrix run).

The substitution threads a `mult` column through the inst() VALUES list
and replaces the injection CASE's constant 2.0 with it, so every
per-instance guard/prune/removal path downstream of `instance_id` runs
against genuinely divergent instances (including mi=1.0 = no anomaly).

Usage:
  python3 tools/check_batch_probe.py <riskloc|squeeze|autoroot> <sfdir> \
      <m1> <m2> <m3> < probe_out.txt
Driver-side tooling only.
"""
import sys, duckdb

ORACLE = {
    "riskloc": "q47_batch_riskloc.sql",
    "squeeze": "q48_batch_squeeze.sql",
    "autoroot": "q49_batch_autoroot.sql",
}
INST_HEAD = "inst(iid, abrand, arf) AS ("
INST_VALS = ("VALUES ('i1', 'Brand#19', 'R'), ('i2', 'Brand#25', 'A'),"
             " ('i3', 'Brand#31', 'N'))")
GATE_CASE = "CASE WHEN brand = abrand AND rf = arf THEN 2.0 ELSE 1.0 END"


def main():
    family, sf, m1, m2, m3 = sys.argv[1:6]
    sql = open(f"src/main/resources/graft/oracles/{ORACLE[family]}").read()
    for marker in (INST_HEAD, INST_VALS, GATE_CASE):
        assert sql.count(marker) == 1, f"marker not found once: {marker}"
    sql = sql.replace(INST_HEAD, "inst(iid, abrand, arf, mult) AS (")
    sql = sql.replace(INST_VALS,
        f"VALUES ('i1', 'Brand#19', 'R', {m1}), ('i2', 'Brand#25', 'A', {m2}),"
        f" ('i3', 'Brand#31', 'N', {m3}))")
    sql = sql.replace(GATE_CASE,
        "CASE WHEN brand = abrand AND rf = arf THEN mult ELSE 1.0 END")

    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    raw = con.execute(sql).fetchall()
    if family == "squeeze":
        oracle = sorted((r[0], r[1]) for r in raw)
    else:
        oracle = sorted((r[0], r[1], float(r[2])) for r in raw)

    spark = []
    for line in sys.stdin:
        if line.startswith(("RC\t", "PRED\t")):
            parts = line.rstrip("\n").split("\t")[1:]
            spark.append(tuple(parts[:2]) if family == "squeeze"
                         else (parts[0], parts[1], float(parts[2])))
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
