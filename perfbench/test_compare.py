#!/usr/bin/env python3
"""Self-test of the result comparator (compare.py).

Usage: python3 perfbench/test_compare.py   (exit code 0 when it passes)
"""
import decimal
import sys

import pandas as pd

from compare import compare

BASE = pd.DataFrame({
    "l_returnflag": ["A", "N", "N", "R"],
    "sum_qty": [37734107.0, 991417.0, 74476040.0, 37719753.0],
    "avg_disc": [0.05, 0.05, 0.05, 0.04],
    "count_order": [1478493, 38854, 2920374, 1478870],
})


def cases():
    changed = BASE.copy()
    changed.loc[2, "sum_qty"] = 74476041.0
    dropped = BASE.drop(index=1)
    renamed = BASE.rename(columns={"avg_disc": "avg_discount"})
    permuted = BASE.iloc[[3, 1, 0, 2]].reset_index(drop=True)
    reordered_cols = BASE[["count_order", "avg_disc", "l_returnflag", "sum_qty"]]
    decimals = BASE.copy()
    decimals["avg_disc"] = [decimal.Decimal("0.050000")] * 3 + [decimal.Decimal("0.040000")]
    return [
        ("one changed value", changed, False),
        ("one dropped row", dropped, False),
        ("one renamed column", renamed, False),
        ("row-permuted copy", permuted, True),
        ("column-permuted copy", reordered_cols, True),
        ("decimal strings against doubles", decimals, False),
        ("identical copy", BASE.copy(), True),
    ]


def main():
    bad = 0
    for name, actual, should_agree in cases():
        diff = compare(BASE, actual)
        ok = (diff is None) == should_agree
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {name}: {diff or 'agrees'}")
    print(f"{len(cases()) - bad} of {len(cases())} comparator cases pass")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
