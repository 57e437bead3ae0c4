"""Replays the graph loops' generated SQL twins in DuckDB and compares them
with what the engine returned (written by the harness under <run>/twins)."""
import json
import os

import duckdb


def _components(con, edges):
    """Smallest id of each connected component, by union-find."""
    parent = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    rows = con.execute(
        f"SELECT src, dst FROM read_parquet('{edges}/*.parquet') "
        "WHERE src <> dst").fetchall()
    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((x, find(x)) for x in {v for r in rows for v in r})


def check(run_dir):
    """Returns (call, reason) for every output that differs from its twin."""
    d = os.path.join(run_dir, "twins")
    spec = json.load(open(os.path.join(d, "twins.json")))
    edges = spec.pop("edges")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    bad = []
    for call, sql in sorted(spec.items()):
        want_rel = con.execute(sql)
        cols = [c[0] for c in want_rel.description]
        want = sorted(want_rel.fetchall())
        got = sorted(con.execute(
            f"SELECT {', '.join(cols)} FROM read_parquet('{d}/{call}/*.parquet')"
        ).fetchall())
        if got != want:
            diff = len(set(got) ^ set(want))
            bad.append((call, f"{diff} rows differ from the SQL twin "
                              f"({len(got)} vs {len(want)} rows)"))
    if sorted(_read_components(con, d)) != _components(con, edges):
        bad.append(("dedup.linkComponents", "labels differ from union-find"))
    return bad


def _read_components(con, d):
    rel = con.execute(
        f"SELECT * FROM read_parquet('{d}/dedup.linkComponents/*.parquet')")
    cols = [c[0] for c in rel.description]
    idc = [c for c in cols if c != "component"][0]
    return con.execute(
        f"SELECT {idc}, component "
        f"FROM read_parquet('{d}/dedup.linkComponents/*.parquet')").fetchall()
