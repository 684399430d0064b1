#!/usr/bin/env python3
"""Fixture tests for `parity.py --against`: two tiny Verify-shaped dumps
(one parquet directory per query) compared query by query, array
columns included.

Run: python3 tools/test_parity.py   (exit 0 = all pass)
"""
import os, sys, tempfile
import pandas as pd
sys.path.insert(0, os.path.dirname(__file__))
import parity


def dump(root, frames):
    """Write {query: DataFrame} as <root>/<query>/part-0.parquet."""
    os.makedirs(root)
    for name, df in frames.items():
        os.makedirs(os.path.join(root, name))
        df.to_parquet(os.path.join(root, name, "part-0.parquet"), index=False)
    return root


def run():
    failures = []

    def check(label, cond):
        print(f"{'ok  ' if cond else 'FAIL'} {label}")
        if not cond:
            failures.append(label)

    base = pd.DataFrame({"id": [1, 2, 3], "score": [0.5, None, 1.5], "tag": ["a", None, "c"]})
    with tempfile.TemporaryDirectory() as tmp:
        a = dump(os.path.join(tmp, "a"), {"q_one": base, "q_two": base[["id"]]})
        # same frames with rows and columns shuffled: equal after norm
        b = dump(os.path.join(tmp, "b"), {"q_one": base.iloc[[2, 0, 1]][["tag", "score", "id"]],
                                          "q_two": base[["id"]].iloc[::-1]})
        check("row and column order do not matter", parity.against(a, b))

        changed = base.copy()
        changed.loc[1, "score"] = 0.25
        c = dump(os.path.join(tmp, "c"), {"q_one": changed, "q_two": base[["id"]]})
        check("one changed value differs", not parity.against(a, c))
        check("the changed column is named",
              parity.differs(parity.norm(base), parity.norm(changed)) == "values[score]")

        d = dump(os.path.join(tmp, "d"), {"q_one": base.astype({"id": "int32"}), "q_two": base[["id"]]})
        check("a dtype change differs", not parity.against(a, d))

        e = dump(os.path.join(tmp, "e"), {"q_one": base})
        check("a query missing from one side differs", not parity.against(a, e))

        # an array<bigint> column: rows match up to order, then one element changes
        arrs = pd.DataFrame({"id": [1, 2, 3], "toks": [[5, 6], [1, 2, 3], [5, 6]]})
        f = dump(os.path.join(tmp, "f"), {"q_arr": arrs})
        g = dump(os.path.join(tmp, "g"), {"q_arr": arrs.iloc[[2, 1, 0]]})
        check("array cells compare up to row order", parity.against(f, g))
        bumped = arrs.copy()
        bumped.at[1, "toks"] = [1, 2, 4]
        h = dump(os.path.join(tmp, "h"), {"q_arr": bumped})
        check("one changed array element differs", not parity.against(f, h))

    if failures:
        print(f"\n{len(failures)} FAILED: {failures}")
        return 1
    print("\nall parity --against fixtures pass")
    return 0


if __name__ == "__main__":
    sys.exit(run())
