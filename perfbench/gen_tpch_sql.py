#!/usr/bin/env python3
"""Regenerates perfbench/tpch_sql/tpch_q{1..22}.sql, the Impala-dialect
texts of the tpch_sql workload, from the program's DuckDB oracle SQL
(`SparkEntry.oracleSql`).

The oracle texts are plain SQL that both engines accept, with one
exception: DuckDB's `strftime(x, '%Y-%m-%d')` (tpch_q3, tpch_q18) is
swapped for Impala's `from_timestamp(x, 'yyyy-MM-dd')`.

Usage: python3 perfbench/gen_tpch_sql.py
"""
import json
import os
import re
import subprocess

import build

HERE = os.path.dirname(os.path.abspath(__file__))
NAMES = [f"tpch_q{i}" for i in range(1, 23)]
STRFTIME = re.compile(r"strftime\(\s*([A-Za-z_][A-Za-z0-9_.]*)\s*,\s*'%Y-%m-%d'\s*\)")


def impala_text(sql):
    out = STRFTIME.sub(r"from_timestamp(\1, 'yyyy-MM-dd')", sql)
    if "strftime" in out:
        raise SystemExit("gen_tpch_sql: a strftime form is left that has no translation")
    return out.strip() + "\n"


def main():
    classes = build.build(build.build_dir())
    cp = ":".join([classes] + build.spark_jars())
    out = subprocess.run(["java", "-cp", cp, "perfbench.DumpOracle"] + NAMES,
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    texts = json.loads(out.strip().splitlines()[-1])
    missing = [n for n in NAMES if n not in texts]
    if missing:
        raise SystemExit(f"gen_tpch_sql: no oracle SQL for {missing}")
    for n in NAMES:
        with open(os.path.join(HERE, "tpch_sql", f"{n}.sql"), "w") as f:
            f.write(impala_text(texts[n]))


if __name__ == "__main__":
    main()
