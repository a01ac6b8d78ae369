"""Self-tests of the benchmark's own parts; no Spark needed.

    python3 perfbench/selftest.py

- the listings generator: one seed gives identical bytes, another seed
  different bytes;
- the checks: a deliberately wrong query result and a wrong ETL batch are
  both reported as failed, and the right ones pass.
"""

from __future__ import annotations

import filecmp
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen_listings  # noqa: E402


def same_files(a: list[str], b: list[str]) -> bool:
    return all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))


def test_generator_is_seeded(tmp: str) -> None:
    runs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        runs[tag] = gen_listings.generate(f"{tmp}/{tag}", seed, 3, 200)["paths"]
    assert same_files(runs["a"], runs["b"]), "same seed, different bytes"
    assert not same_files(runs["a"], runs["c"]), "listings ignore seed"
    text = open(runs["a"][0], encoding="utf-8").read()
    header = text.splitlines()[0].split(",")
    assert len(header) == 18 and header == gen_listings.HEADER
    assert "\\N" in text and '",' in text, "no NULL sentinels or quoted commas"


def test_wrong_query_result_fails() -> None:
    cols = ["k", "v"]
    rows = [(1, 2.5), (2, None), (3, 4.0)]
    expected = (cols, check.norm_rows(cols, rows))
    assert check.compare(cols, rows, expected) is None
    assert check.compare(["v", "k"], [(2.5, 1), (None, 2), (4.0, 3)],
                         expected) is None, "column order must not matter"
    assert check.compare(cols, rows[:-1], expected) is not None
    assert check.compare(cols, [(1, 2.5), (2, None), (3, 4.5)],
                         expected) is not None
    assert check.compare(["k", "w"], rows, expected) is not None
    assert check.compare(cols, [], None) is not None, "empty rows-only passed"
    assert check.compare(cols, rows, None) is None


def test_wrong_etl_batch_fails(tmp: str) -> None:
    wh, exp = f"{tmp}/wh", f"{tmp}/exp"
    os.makedirs(f"{wh}/load_date=2024-01-01")
    os.makedirs(exp)
    pq.write_table(pa.table({"price": [1.0, None, 3.0]}),
                   f"{wh}/load_date=2024-01-01/part-0.parquet")
    with open(f"{exp}/part-0.csv", "w") as fh:
        fh.write('id,name,price\n1,"a, \\"b\\"",1.00\n2,c,\\N\n3,d,3.00\n')
    assert check.etl_batch(wh, exp, "2024-01-01", 3, 1) is None
    assert check.etl_batch(wh, exp, "2024-01-01", 4, 1) is not None
    assert check.etl_batch(wh, exp, "2024-01-01", 3, 0) is not None
    os.makedirs(f"{wh}/load_date=2024-01-02")
    pq.write_table(pa.table({"price": [1.0]}),
                   f"{wh}/load_date=2024-01-02/part-0.parquet")
    assert check.etl_batch(wh, exp, "2024-01-01", 3, 1) is not None, (
        "a partition with the wrong row count passed")


def main() -> int:
    tmp = os.path.join(os.path.dirname(HERE), ".bench_work", "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        test_generator_is_seeded(f"{tmp}/gen")
        test_wrong_query_result_fails()
        test_wrong_etl_batch_fails(f"{tmp}/etl")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest ok")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
