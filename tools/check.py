#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <outDir>
       python3 tools/check.py --compare <dumpA> <dumpB>

Reads <outDir>/oracle_sql.json (written by graft.Verify), registers every
parquet table in <sfDir> as a DuckDB view, runs each oracle SQL, and compares
against the Spark result parquet at <outDir>/<name>/ — column names (sorted),
row count, and a hash over row-sorted, column-name-sorted values.

With --compare, diffs two graft.Verify dumps the same way, query by query
(the plan-invariance check: one dump per planner setting, e.g. AQE off or one
shuffle partition, must match another row for row).
"""
import gc, json, sys, hashlib, math, os
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        else:
            df[c] = s
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def h(df: pd.DataFrame) -> str:
    m = hashlib.md5()
    for row in df.itertuples(index=False):
        m.update(("|".join(str(v) for v in row)).encode())
    return m.hexdigest()


def _oracle_child(sf_dir, sql, out_path):
    # runs in a spawned child: any DuckDB leak/fragmentation dies with
    # the process, so one monster oracle cannot poison the next
    con = _setup_con(sf_dir)
    con.execute(sql).fetchdf().to_parquet(out_path, index=False)


def run_oracle(sf_dir, sql):
    """Replay one oracle. With GRAFT_CHECK_ISOLATE=1 (the sf1 gate), each
    oracle runs in its own spawned process — at sf1 the heavy replays
    (per-char CDC chunking + recursive closures) have peaked past what
    one long-lived process can keep absorbing (r10 gate: a 48 GB OOM on
    one oracle left the process unable to malloc 4 KB for the next)."""
    if os.environ.get("GRAFT_CHECK_ISOLATE") != "1":
        con = _setup_con(sf_dir)
        try:
            return con.execute(sql).fetchdf()
        finally:
            con.close()
    import tempfile
    from multiprocessing import get_context
    with tempfile.TemporaryDirectory() as td:
        out = os.path.join(td, "o.parquet")
        p = get_context("spawn").Process(
            target=_oracle_child, args=(sf_dir, sql, out))
        p.start()
        p.join()
        if p.exitcode != 0 or not os.path.exists(out):
            raise RuntimeError(f"oracle child exited {p.exitcode}")
        return pd.read_parquet(out)


def _setup_con(sf_dir):
    # one connection PER ORACLE: at sf1 the heavy replays (per-char CDC
    # chunking, recursive closures) otherwise accumulate buffer-pool and
    # fragmentation across 190 queries until a 16 KB malloc fails (seen
    # in the r10 sf1 gate). A fresh connection + explicit limit + spill
    # dir keeps each oracle's footprint independent and out-of-core.
    con = duckdb.connect()
    # isolated children (sf1 gate) run one-at-a-time on an otherwise idle
    # 125 GB box and the byte-CDC/closure replays hold non-spillable
    # operator state past 32 GB (r10 gate: d_byte_incremental child OOM
    # at the 32 GB cap with 119 GB free) — give them the machine; the
    # long-lived sf0.01 path keeps the conservative cap
    lim = "100GB" if os.environ.get("GRAFT_CHECK_ISOLATE") == "1" else "32GB"
    con.execute(f"SET memory_limit='{lim}'")
    con.execute("SET temp_directory='/tmp/duck_spill'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def main(sf_dir, out_dir):
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    names = sorted(os.listdir(out_dir))
    only = os.environ.get("GRAFT_CHECK_ONLY")
    if only:
        keep = set(only.split(","))
        names = [n for n in names if n in keep]
    ok = fail = 0
    for name in names:
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        spark_df = pq.read_table(d).to_pandas()
        if name not in oracles:
            print(f"  {name}: NO-ORACLE rows={len(spark_df)} "
                  f"{'ok' if len(spark_df) > 0 else 'EMPTY!'}")
            continue
        try:
            duck_df = run_oracle(sf_dir, oracles[name])
        except Exception as e:
            print(f"✗ {name}: oracle SQL failed: {e}")
            fail += 1
            continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"✗ {name}: columns {list(a.columns)} != {list(b.columns)}")
            fail += 1
            continue
        if len(a) != len(b):
            print(f"✗ {name}: rows {len(a)} != {len(b)}")
            fail += 1
            continue
        if h(a) != h(b):
            print(f"✗ {name}: value hash mismatch")
            merged = a.compare(b) if a.shape == b.shape else None
            if merged is not None and not merged.empty:
                print(merged.head(10))
            fail += 1
            continue
        print(f"✓ {name}: {len(a)} rows")
        ok += 1
        del spark_df, duck_df, a, b
        gc.collect()
    print(f"\n{ok} ok, {fail} failed")
    sys.exit(1 if fail else 0)


def compare(dump_a, dump_b):
    def queries(d):
        return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}
    qa, qb = queries(dump_a), queries(dump_b)
    same = diff = 0
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            print(f"✗ {name}: only in {dump_a if name in qa else dump_b}")
            diff += 1
            continue
        a, b = (canon(pq.read_table(os.path.join(d, name)).to_pandas())
                for d in (dump_a, dump_b))
        if list(a.columns) != list(b.columns):
            print(f"✗ {name}: columns {list(a.columns)} != {list(b.columns)}")
        elif len(a) != len(b):
            print(f"✗ {name}: rows {len(a)} != {len(b)}")
        elif h(a) != h(b):
            print(f"✗ {name}: value hash mismatch")
        else:
            print(f"✓ {name}: {len(a)} rows identical")
            same += 1
            continue
        diff += 1
    print(f"\n{same} identical, {diff} differ")
    sys.exit(1 if diff else 0)


if __name__ == "__main__":
    if sys.argv[1] == "--compare":
        compare(sys.argv[2], sys.argv[3])
    else:
        main(sys.argv[1], sys.argv[2])
