"""Output checks: DuckDB references computed once per input and compared
outside the timed region.

The reference SQL comes from the harness (`--mode oracle-sql`): the
project workloads' twins are composed from the repo's oracle builders
(graft.queries.PerfbenchOracle), the heads' twins are
`SparkEntry.oracleSql`. References are cached as parquet with a content
hash that every run re-checks before it compares.
"""
import hashlib
import json
import os
import re
import shutil

import sys

import duckdb
import pandas as pd

# the heads are checked under the repo's own oracle-compare rule
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from compare import TABLES, norm  # noqa: E402
KEYS = {"ts_train": ["user_id", "sample_time"],
        "corpus_curate": ["doc_id", "chunk_id"]}


def _sha(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _connect(data_dir):
    # the thread count is set at connect: DuckDB otherwise starts one
    # worker per host CPU before a SET could lower it
    con = duckdb.connect(config={"threads": 4})
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{p}/*.parquet')")
        elif os.path.isfile(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _cached(ref_dir, make):
    """`ref_dir/ref.parquet` with its hash in `ref_dir/ref.sha256`; a
    missing or mismatching hash recomputes the reference."""
    ref = os.path.join(ref_dir, "ref.parquet")
    sha = os.path.join(ref_dir, "ref.sha256")
    if os.path.isfile(ref) and os.path.isfile(sha):
        if open(sha).read().strip() == _sha(ref):
            return ref
        print("[perfbench] reference hash mismatch: recomputing", flush=True)
    os.makedirs(ref_dir, exist_ok=True)
    make(ref + ".tmp")
    os.replace(ref + ".tmp", ref)
    with open(sha, "w") as fh:
        fh.write(_sha(ref))
    return ref


def materialized(sql):
    """Mark every non-recursive CTE MATERIALIZED: DuckDB otherwise inlines
    a CTE at each reference, and the corpus twin references its minhash
    chain from inside the recursive closure."""
    return re.sub(r"(?m)^(\s*,?\s*\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def reference(build, kind, data_dir, sql):
    key = hashlib.sha256(sql.encode()).hexdigest()[:12]
    ref_dir = os.path.join(build, "ref", f"{os.path.basename(data_dir)}-{key}")

    def make(out):
        with _connect(data_dir) as con:
            con.execute(f"COPY ({materialized(sql)}) TO '{out}' "
                        "(FORMAT PARQUET)")
    return _cached(ref_dir, make)


def stage_tables(build, src_dir):
    """Copy the read-only test tables into the checkout as one-file
    directories: graft's stream readers stream a directory in place
    instead of staging a single file elsewhere."""
    dst = os.path.join(build, "tables", os.path.basename(src_dir.rstrip("/")))
    marker = os.path.join(dst, "_staged")
    if os.path.isfile(marker):
        return dst
    if not os.path.isdir(src_dir):
        raise SystemExit(f"perfbench: test tables not found at {src_dir}")
    shutil.rmtree(dst, ignore_errors=True)
    for t in TABLES:
        src = os.path.join(src_dir, f"{t}.parquet")
        if os.path.isfile(src):
            os.makedirs(os.path.join(dst, f"{t}.parquet"))
            shutil.copyfile(src, os.path.join(dst, f"{t}.parquet",
                                              "part-00000.parquet"))
    open(marker, "w").close()
    return dst


def head_references(build, data_dir, heads):
    out = {}
    con = None
    for name, h in sorted(heads.items()):
        def make(path, sql=h["sql"]):
            nonlocal con
            con = con or _connect(data_dir)
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        key = hashlib.sha256(h["sql"].encode()).hexdigest()[:12]
        out[name] = _cached(os.path.join(build, "ref", "heads",
                                         os.path.basename(data_dir),
                                         f"{name}-{key}"), make)
    if con is not None:
        con.close()
    return out


# ---------------------------------------------------------------- compare

def _compare_head(out_dir, ref_path):
    files = [os.path.join(out_dir, f) for f in os.listdir(out_dir)
             if f.endswith(".parquet")] if os.path.isdir(out_dir) else []
    if not files:
        return "no output"
    s = norm(pd.concat([pd.read_parquet(f) for f in files]))
    o = norm(pd.read_parquet(ref_path))
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} vs {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} vs {len(o)}"
    for c in s.columns:
        if not (s[c].astype(str).values == o[c].astype(str).values).all():
            return f"column {c} differs"
    return None


def _normalized(rel, cols):
    exprs = []
    for name, typ in cols:
        q = f'"{name}"'
        if typ.startswith("TIMESTAMP"):
            exprs.append(f"epoch_us({q}) AS {q}")
        elif typ in ("DOUBLE", "FLOAT"):
            exprs.append(f"round({q}, 6) AS {q}")
        else:
            exprs.append(q)
    return f"SELECT {', '.join(exprs)} FROM {rel}"


def _compare_project(workload, out_dir, ref_path):
    with duckdb.connect(config={"threads": 2}) as con:
        return _compare_tables(con, workload, out_dir, ref_path)


def _compare_tables(con, workload, out_dir, ref_path):
    con.execute(f"CREATE VIEW s_raw AS SELECT * FROM "
                f"read_parquet('{out_dir}/**/*.parquet')")
    con.execute(f"CREATE VIEW o_raw AS SELECT * FROM read_parquet('{ref_path}')")
    sc = [(r[0], r[1]) for r in con.execute("DESCRIBE s_raw").fetchall()]
    oc = [(r[0], r[1]) for r in con.execute("DESCRIBE o_raw").fetchall()]
    if sorted(c for c, _ in sc) != sorted(c for c, _ in oc):
        return f"columns {sorted(c for c, _ in sc)} vs {sorted(c for c, _ in oc)}"
    names = sorted(c for c, _ in sc)
    sc = sorted(sc)
    oc = sorted(oc)
    con.execute(f"CREATE TABLE s AS {_normalized('s_raw', sc)}")
    con.execute(f"CREATE TABLE o AS {_normalized('o_raw', oc)}")
    ns = con.execute("SELECT count(*) FROM s").fetchone()[0]
    no = con.execute("SELECT count(*) FROM o").fetchone()[0]
    if ns != no:
        return f"rows {ns} vs {no}"
    cols = ", ".join(f'"{c}"' for c in names)
    diff = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM s EXCEPT ALL "
                       f"SELECT {cols} FROM o)").fetchone()[0]
    if diff == 0:
        return None
    # a value one unit off in the 6th place after rounding is the two
    # engines' last-bit difference, not a wrong result (compare.py's CLOSE)
    keys = KEYS[workload]
    on = " AND ".join(f's."{k}" = o."{k}"' for k in keys)
    conds = []
    for c, t in sc:
        if c in keys:
            continue
        if t in ("DOUBLE", "FLOAT"):
            conds.append(f'NOT (s."{c}" IS NOT DISTINCT FROM o."{c}" OR '
                         f'abs(s."{c}" - o."{c}") <= 1.01e-6)')
        else:
            conds.append(f's."{c}" IS DISTINCT FROM o."{c}"')
    joined = con.execute(f"SELECT count(*) FROM s JOIN o ON {on}").fetchone()[0]
    if joined != ns:
        return f"{diff} rows differ; key join matched {joined} of {ns}"
    bad = con.execute(f"SELECT count(*) FROM s JOIN o ON {on} WHERE "
                      f"{' OR '.join(conds) or 'false'}").fetchone()[0]
    return f"{bad} rows differ" if bad else None


def compare(workload, out_dir, ref):
    """(ok, detail) for the run's output against its reference."""
    if workload == "head_sweep":
        bad = {}
        for name, ref_path in ref.items():
            err = _compare_head(os.path.join(out_dir, name), ref_path)
            if err:
                bad[name] = err
        if bad:
            return False, json.dumps(bad)[:2000]
        return True, f"{len(ref)} heads match their oracle twins"
    err = _compare_project(workload, out_dir, ref)
    if err:
        return False, err
    return True, "output matches the DuckDB reference"
