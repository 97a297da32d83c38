#!/usr/bin/env python3
"""Which side of graft's bounded driver gates each workload's input falls
on, from reference-side counts (DuckDB over the generated inputs):

- graft.cc.driver_max_edges (1,048,576): corpus_curate's verified
  near-duplicate edges (the fuzzy-dedup CC input);
- graft.classifier.driver_max_feature_rows (4,194,304): an upper bound on
  the classify step's feature rows (documents × (buckets + 1));
- graft.graph.driver_max_edges (1,048,576): an upper bound on
  head_sweep's host-graph edges (distinct hosts squared; pagerank_hosts).

    python3 perfbench/gates.py [--seeds 1,2,3]

Run it from the checkout root after one benchmark run has built the
harness (it reads the cached reference SQL).
"""
import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(os.path.dirname(HERE), ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

CC_MAX = 1 << 20
CLS_MAX = 4 * 1024 * 1024
GRAPH_MAX = 1 << 20
CLS_BUCKETS = 64


def side(n, limit):
    return "driver" if n <= limit else "distributed"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2,3")
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)["workloads"]
    oracles = sorted(glob.glob(os.path.join(BUILD, "oracle-*.json")),
                     key=os.path.getmtime)
    if not oracles:
        sys.exit("gates: run the benchmark once first (no cached oracle SQL)")
    with open(oracles[-1]) as fh:
        edges_sql = json.load(fh)["corpus_edges"]
    out = {"corpus_curate": {}, "head_sweep": {}}
    inputs = os.path.join(BUILD, "inputs")
    for seed in [int(s) for s in args.seeds.split(",")]:
        d = gen.documents(inputs, seed, spec["corpus_curate"]["params"])
        con = check._connect(d)
        edges = con.execute(check.materialized(edges_sql)).fetchone()[0]
        docs = con.execute("SELECT count(*) FROM documents").fetchone()[0]
        feats = docs * (CLS_BUCKETS + 1)
        out["corpus_curate"][f"seed {seed}"] = {
            "graft.cc.driver_max_edges": f"{edges} edges: {side(edges, CC_MAX)}",
            "graft.classifier.driver_max_feature_rows":
                f"<= {feats} rows: {side(feats, CLS_MAX)}"}
    tables = check.stage_tables(BUILD, spec["head_sweep"]["params"]["data_dir"])
    hosts = check._connect(tables).execute(
        "SELECT count(DISTINCT source) FROM documents").fetchone()[0]
    out["head_sweep"]["graft.graph.driver_max_edges"] = (
        f"<= {hosts * hosts} host edges: {side(hosts * hosts, GRAPH_MAX)}")
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
