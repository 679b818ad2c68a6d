#!/usr/bin/env python3
"""Dev-side oracle self-check (mimics the driver's t2 correctness gate).

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir> [query ...]

Reads each <verify_out_dir>/<name>/ parquet (written by graft.Verify),
runs the matching oracle SQL from <verify_out_dir>/oracle_sql.json in
DuckDB over the same source tables, and compares: row count, column
names, and cell values (after sorting columns by name and rows by all
columns). Reports per-query PASS/FAIL with the first few diffs.

Each oracle SQL runs with its CTEs materialized (`name AS MATERIALIZED (`):
DuckDB 1.0 inlines a CTE at every reference, so a recursive CTE read more
than once re-runs per reference and can outgrow the host's memory. Where
the rewrite does not parse (it also hits the second definition of a
multi-window `WINDOW a AS (...), b AS (...)` clause), the original text
runs. The connection gets a memory limit and a spill directory.
"""
import sys, os, re, json, glob, tempfile
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


MEMORY_LIMIT = "4GB"
# `name AS (` opening a CTE body; a WINDOW clause's first definition is
# left alone, a later one in the same clause makes the rewrite unparsable
CTE_DEF = re.compile(r"(?<!WINDOW )\b(\w+\s+AS\s+)\(", re.IGNORECASE)


def materialized(con, sql):
    """`sql` with every CTE materialized, or `sql` itself when the
    rewrite does not parse."""
    rewritten = CTE_DEF.sub(r"\1MATERIALIZED (", sql)
    try:
        con.extract_statements(rewritten)
        return rewritten
    except duckdb.ParserException:
        return sql


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
        elif df[c].dtype.kind == "f":
            df[c] = df[c].astype("float64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


INTEGRAL = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
            "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
FLOATING = {"FLOAT", "DOUBLE"}


def duck_types(con, sql):
    """Column -> DuckDB type for a query, BEFORE pandas coercion (a
    nullable BIGINT becomes float64 in pandas, hiding int-vs-double
    schema splits that the driver's byte-hash gate rejects)."""
    return {r[0]: str(r[1]).upper() for r in con.execute(f"DESCRIBE {sql}").fetchall()}


def dtype_kind_problems(stypes, otypes):
    problems = []
    for c in sorted(set(stypes) & set(otypes)):
        st, ot = stypes[c], otypes[c]
        if (st in INTEGRAL and ot in FLOATING) or (st in FLOATING and ot in INTEGRAL):
            problems.append(f"col {c}: dtype kind mismatch spark={st} oracle={ot}")
        elif st in FLOATING and ot in FLOATING and st != ot:
            problems.append(f"col {c}: float width mismatch spark={st} oracle={ot}")
        elif st in INTEGRAL and ot in INTEGRAL and st != ot:
            # The driver's gate hashes raw arrow bytes, so HUGEINT (from an
            # uncast DuckDB sum()) vs Spark BIGINT fails there even though
            # pandas int64 coercion makes the values compare equal here.
            problems.append(f"col {c}: int width mismatch spark={st} oracle={ot}"
                            " (add CAST(... AS BIGINT) to the oracle)")
    return problems


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    spill = tempfile.TemporaryDirectory(prefix="check_oracle_")
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT,
                                 "temp_directory": spill.name})
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not spark_files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        sql = materialized(con, sql)
        try:
            spark_sql = f"SELECT * FROM read_parquet({spark_files!r})"
            sdf = norm(con.execute(spark_sql).fetchdf())
            odf = norm(con.execute(sql).fetchdf())
            stypes = duck_types(con, spark_sql)
            otypes = duck_types(con, sql)
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = dtype_kind_problems(stypes, otypes)
        if list(sdf.columns) != list(odf.columns):
            problems.append(f"cols spark={list(sdf.columns)} oracle={list(odf.columns)}")
        elif len(sdf) != len(odf):
            problems.append(f"rows spark={len(sdf)} oracle={len(odf)}")
        else:
            for c in sdf.columns:
                a, b = sdf[c], odf[c]
                if a.dtype.kind == "f" or b.dtype.kind == "f":
                    af = a.astype("float64").to_numpy()
                    bf = b.astype("float64").to_numpy()
                    # signbit-strict: the driver hashes raw bytes, so
                    # -0.0 != +0.0 there even though IEEE == says equal.
                    eq = (np.isnan(af) & np.isnan(bf)) | (
                        (af == bf) & (np.signbit(af) == np.signbit(bf)))
                    neq = ~eq
                else:
                    neq = (a != b) & ~(a.isna() & b.isna())
                if neq.any():
                    i = int(np.argmax(np.asarray(neq)))
                    problems.append(
                        f"col {c}: {int(np.sum(neq))} diffs, first@{i}: "
                        f"spark={a.iloc[i]!r} oracle={b.iloc[i]!r}")
        if problems:
            n_fail += 1
            print(f"FAIL {name}: " + " | ".join(problems[:3]))
        else:
            n_pass += 1
            print(f"PASS {name} ({len(sdf)} rows)")
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
