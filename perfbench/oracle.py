"""Correctness gates.  Each returns a list of problems; any problem makes the
run incorrect.

- submission_cold: both submissions hold 5 rows per series (series counted
  independently in DuckDB), pass SubmissionValidator, and hash identically
  in every op and in every run of the same seed.
- curate_corpus: every op's per-source summary equals the q138_curate
  oracle SQL run in DuckDB over the same corpus, and is pinned per seed.
"""
import json
import os

import duckdb
import pandas as pd


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("lineitem", "part", "documents"):
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def norm(df):
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
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def pin(build_dir, workload, seed, sf, values):
    """The first run of a seed records its output hashes; every later run of
    that seed must reproduce them."""
    d = os.path.join(build_dir, "pins")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-sf{sf}-seed{seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            pinned = json.load(f)
        return [f"{k}: {values.get(k)} differs from the value pinned for seed {seed} "
                f"({pinned[k]})" for k in pinned if values.get(k) != pinned[k]]
    with open(path, "w") as f:
        json.dump(values, f, sort_keys=True)
    return []


def check_submission(rec, data_dir, shape, build_dir, seed):
    con = connect(data_dir)
    series = con.execute("""
        SELECT count(*) FROM (SELECT DISTINCT l_partkey, l_suppkey FROM (
          SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_partkey, l_linenumber
                                       ORDER BY l_quantity, l_extendedprice) AS rn
          FROM lineitem
          WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
            AND coalesce(l_quantity, 0) > 0) WHERE rn = 1)""").fetchone()[0]
    out, hashes = [], set()
    for o in rec["ops"]:
        if not o["ok"]:
            continue
        c = o["checks"]
        if not c["valid"]:
            out.append("submission failed SubmissionValidator")
        for k in ("submission_rows", "champion_rows"):
            if c[k] != 5 * series:
                out.append(f"{k} {c[k]} != 5 x {series} series")
        hashes.add((c["submission_hash"], c["champion_hash"]))
    if len(hashes) > 1:
        out.append(f"submission hashes differ across ops: {sorted(hashes)}")
    if len(hashes) == 1:
        sub, champ = hashes.pop()
        out += pin(build_dir, "submission_cold", seed, shape["sf"],
                   {"submission_hash": sub, "champion_hash": champ})
    return out


def check_curate(rec, data_dir, shape, build_dir, seed):
    con = connect(os.path.join(data_dir, "corpus"))
    sql = rec["oracle_sql"]["q138_curate"]
    want = norm(con.execute(sql).fetchdf())
    out, seen = [], set()
    for o in rec["ops"]:
        if not o["ok"]:
            continue
        got = pd.DataFrame(o["summary"])
        for c in got.columns:
            if c != "source":
                got[c] = got[c].astype("int64")
        got = norm(got)
        key = got.to_json()
        seen.add(key)
        if list(got.columns) != list(want.columns) or len(got) != len(want) or \
                not (got.values == want.values).all():
            out.append(f"curate summary differs from the oracle: spark={got.values.tolist()} "
                       f"oracle={want.values.tolist()}")
    if len(seen) > 1:
        out.append("curate summary differs across ops")
    if len(seen) == 1:
        out += pin(build_dir, "curate_corpus", seed, shape["sf"], {"summary": seen.pop()})
    return out


def check(workload, rec, data_dir, shape, build_dir, seed):
    return {"submission_cold": check_submission,
            "curate_corpus": check_curate}[workload](rec, data_dir, shape, build_dir, seed)
