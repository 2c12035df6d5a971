"""Side-by-side profile of two sets of query tables, to compare the
generated tables with a reference set (row counts, and per numeric or
timestamp column the mean and quartiles; per string column the distinct
count and the most common value's share).

    python3 profile_tables.py <generated_dir> <reference_dir>
"""
import sys

import duckdb

import oracle


def profile(con, path):
    out = {"rows": con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]}
    for col, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall():
        if typ.endswith("[]"):
            out[col] = "dims %d" % con.execute(
                f"SELECT min(len({col})) FROM '{path}'").fetchone()[0]
        elif typ == "VARCHAR":
            n, top = con.execute(
                f"SELECT count(DISTINCT {col}), max(c) / sum(c) FROM "
                f"(SELECT {col}, count(*) AS c FROM '{path}' GROUP BY 1)").fetchone()
            out[col] = f"distinct {n}, top share {top:.2f}"
        else:
            v = f"epoch({col})" if typ.startswith("TIMESTAMP") else col
            mean, q = con.execute(
                f"SELECT avg({v}), quantile_cont({v}, [0.25, 0.5, 0.75]) FROM '{path}'").fetchone()
            out[col] = "mean %.4g, q1/q2/q3 %.4g / %.4g / %.4g" % (mean, *q)
    return out


def main():
    gen, ref = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    print("| table | column | generated | reference |")
    print("|---|---|---|---|")
    for t in oracle.TABLES:
        a = profile(con, f"{gen}/{t}.parquet")
        b = profile(con, f"{ref}/{t}.parquet")
        for k in a:
            print(f"| {t} | {k} | {a[k]} | {b.get(k)} |")


if __name__ == "__main__":
    main()
