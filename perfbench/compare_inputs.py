"""Compare the generated inputs with another directory of the same tables.

    python3 perfbench/compare_inputs.py DIR [--seed 1] [--sf 0.01]

For every table and column it prints, for the generated inputs and for
``DIR``: rows, distinct values, nulls, minimum, maximum and mean (of the
value, or of the length of a string or list).  On ``documents`` it also
prints the vocabulary, the token count and the share of texts that are
another text plus one token.  The per-op comparison (rows, time, shuffle
and Arrow bytes) is ``opstats.py --data DIR``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

import duckdb

import inputgen


def column_stats(con, path: str, col: str, type_: str) -> tuple:
    q = f'"{col}"'
    if "[]" in type_:
        v = f"len({q})"
    elif type_ == "VARCHAR":
        v = f"length({q})"
    elif type_.startswith("TIMESTAMP") or type_ == "DATE":
        v = f"epoch({q}) / 86400"
    else:
        v = q
    distinct = f"count(DISTINCT {q})" if "[]" not in type_ else "NULL"
    return con.execute(
        f"SELECT count(*), {distinct}, count(*) - count({q}), min({v}), max({v}), avg({v}) "
        f"FROM read_parquet('{path}')"
    ).fetchone()


def document_stats(con, path: str) -> tuple:
    return con.execute(
        f"""
        WITH t AS (SELECT text FROM read_parquet('{path}')),
        tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM t)
        SELECT (SELECT count(DISTINCT w) FROM tok), (SELECT count(*) FROM tok),
               (SELECT avg((EXISTS (SELECT 1 FROM t b WHERE a.text LIKE b.text || ' %'
                                    AND a.text <> b.text))::int) FROM t a)
        """
    ).fetchone()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("other")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--sf", type=float, default=0.01)
    args = p.parse_args(argv)
    gen = tempfile.mkdtemp(prefix="perfbench-inputs-", dir=os.getcwd())
    try:
        inputgen.write(gen, args.seed, args.sf)
        con = duckdb.connect(config={"threads": 1})
        fmt = lambda r: " ".join(  # noqa: E731
            "-" if x is None else f"{x:.4g}" if isinstance(x, float) else str(x) for x in r
        )
        print("table.column: generated (rows distinct nulls min max mean) | other (same)")
        for table in inputgen.row_counts(args.sf):
            g, o = (os.path.join(d, f"{table}.parquet") for d in (gen, args.other))
            schema = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{o}')").fetchall()
            for col, type_, *_ in schema:
                print(f"{table}.{col}: {fmt(column_stats(con, g, col, type_))} | "
                      f"{fmt(column_stats(con, o, col, type_))}")
            if table == "documents":
                print(f"documents vocabulary tokens near-duplicate share: "
                      f"{fmt(document_stats(con, g))} | {fmt(document_stats(con, o))}")
    finally:
        shutil.rmtree(gen, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
