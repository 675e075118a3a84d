"""Canonical answer digests for analytics_suite.

`canon` is the canonical form of the engine's correctness check
(tools/check.py): columns sorted by name, timestamps as naive µs, narrow
ints widened to int64, numeric-looking object columns parsed, strings
otherwise, rows sorted by every column; floats stay exact. A digest is
the SHA-256 of that frame's CSV rendering (full float precision), so
two answers share a digest exactly when check.py would call them equal
up to dtype. Queries without a DuckDB oracle record their row count.

    python3 perfbench/digests.py record <tables_dir> <results_dir> <oracle_sql.json>

`record` recomputes every digest from a results directory written by the
harness (one Parquet directory per query), cross-checks each oracle
query against DuckDB on the same tables, and rewrites digests.json.
"""
import glob
import hashlib
import json
import os
import sys

import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            if getattr(df[c].dtype, "tz", None) is not None:
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = df[c].astype("datetime64[us]")
        elif str(df[c].dtype) in ("int32", "int16", "int8"):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def digest(df):
    text = canon(df).to_csv(index=False, float_format="%.17g")
    return hashlib.sha256(text.encode()).hexdigest()


def read_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no result files in {path}")
    return pd.concat([pd.read_parquet(f) for f in files])


def digest_dir(path, kind):
    df = read_dir(path)
    return digest(df) if kind == "digest" else f"rows:{len(df)}"


def record(tables_dir, results_dir, oracle_path):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t + '.parquet')}')")
    oracles = json.load(open(oracle_path))
    out, disagree = {}, []
    for q in sorted(os.listdir(results_dir)):
        if not os.path.isdir(os.path.join(results_dir, q)):
            continue
        df = read_dir(os.path.join(results_dir, q))
        if q in oracles:
            got, want = canon(df), canon(con.execute(oracles[q]).df())
            try:
                assert list(got.columns) == list(want.columns), "columns differ"
                pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            except AssertionError as e:
                disagree.append(f"{q}: {str(e).splitlines()[0] if str(e) else e}")
                continue
            out[q] = {"kind": "digest", "digest": digest(df), "rows": len(df)}
        else:
            out[q] = {"kind": "rows", "digest": f"rows:{len(df)}", "rows": len(df)}
    return out, disagree


if __name__ == "__main__":
    if len(sys.argv) != 5 or sys.argv[1] != "record":
        sys.exit(__doc__)
    recorded, disagree = record(*sys.argv[2:])
    for d in disagree:
        print(f"DISAGREES WITH DUCKDB {d}", file=sys.stderr)
    n_oracle = sum(1 for v in recorded.values() if v["kind"] == "digest")
    print(f"{n_oracle} oracle-checked digests, {len(recorded) - n_oracle} row counts, "
          f"{len(disagree)} disagreements", file=sys.stderr)
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
    with open(path, "w") as f:
        json.dump({"tables": "gen_tables.py sf0.01 seed 42", "queries": recorded},
                  f, indent=1, sort_keys=True)
        f.write("\n")
    sys.exit(1 if disagree else 0)
