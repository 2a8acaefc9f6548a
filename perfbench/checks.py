"""Correctness checks on a run's outputs, computed apart from the program.

Each check returns a list of problems; an empty list means the outputs are
correct. Expected values come from `webs.py` (the generators written again
without program code), from the serial reference simulator's trace, or from
DuckDB reading the files the program wrote.
"""
import collections
import glob
import json
from pathlib import Path

import webs


def read_trace(path):
    rows = []
    for line in Path(path).read_text().splitlines():
        seq, rnd, url, state = line.split("\t")
        rows.append((int(seq), int(rnd), url, state))
    return rows


def check_rounds(res, web, engine_trace, sim_trace):
    """Rounds over the Zipf web: politeness (no host twice in one round),
    the engine's trace equals the serial simulator's, and the seen set is
    the seeds plus every URI of every fetched page."""
    c = res["check"]
    bad = []
    if not engine_trace:
        bad.append("rounds: empty trace")
    per_round = collections.Counter((r, web.host(u)) for _, r, u, _ in engine_trace)
    twice = [k for k, v in per_round.items() if v > 1]
    if twice:
        bad.append(f"rounds: host fetched twice in one round: {twice[:3]}")
    if engine_trace != sim_trace:
        diff = next((i for i, (a, b) in enumerate(zip(engine_trace, sim_trace))
                     if a != b), min(len(engine_trace), len(sim_trace)))
        bad.append(f"rounds: trace differs from the simulator's at row {diff} "
                   f"({len(engine_trace)} vs {len(sim_trace)} rows)")
    expected = set(web.seed_urls())
    for _, _, url, _ in engine_trace:
        d = web.doc(url)
        if d is not None:
            expected |= webs.uris(web.body(d))
    want = webs.digest(expected)
    if c["seen"] != want:
        bad.append(f"rounds: seen set {c['seen']} != expected {want}")
    sf = c.get("seen_filter")
    if sf is not None and sf["new"] != sf["last_round_discovered"]:
        bad.append(f"seen filter: {sf['new']} new candidates but the round "
                   f"inserted {sf['last_round_discovered']}")
    return bad


def check_resumed(durable_trace, sim_trace, rounds):
    """After the restart, the stored trace plus the new rounds equals the
    simulator's trace of the same rounds."""
    want = [row for row in sim_trace if row[1] < rounds]
    if not durable_trace or durable_trace != want:
        return [f"resume: trace after restart ({len(durable_trace)} rows) differs "
                f"from the simulator's first {rounds} rounds ({len(want)} rows)"]
    return []


def check_store(store, frontier_rows):
    """The latest manifest's frontier files hold each url_hash once, and as
    many rows as the resumed driver reports."""
    import duckdb
    manifests = sorted(Path(store).glob("snapshots/v[0-9][0-9][0-9][0-9][0-9][0-9].json"))
    if not manifests:
        return [f"store: no manifest under {store}"]
    latest = json.loads(manifests[-1].read_text())
    dirs = list(latest["cow"].get("frontier", {}).values())
    files = [f for d in dirs for f in sorted(glob.glob(f"{d}/*.parquet"))]
    if not files:
        return [f"store: {manifests[-1].name} references no frontier files"]
    rows, keys = duckdb.sql(
        "SELECT count(*), count(DISTINCT url_hash) FROM read_parquet($files)",
        params={"files": files}).fetchone()
    bad = []
    if rows != keys:
        bad.append(f"store: {rows - keys} duplicate url_hash rows in "
                   f"{manifests[-1].name}")
    if rows != frontier_rows:
        bad.append(f"store: {rows} frontier rows on disk, resumed driver "
                   f"reports {frontier_rows}")
    return bad


TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _canon(df):
    df = df[sorted(df.columns)].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_queries(tables_dir, results_dir, oracle, skip=()):
    """Each query's parquet output equals its oracle SQL run by DuckDB over
    the same tables (columns by name, rows in any order, values as text)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{tables_dir}/{t}.parquet')")
    bad = []
    for name, sql in sorted(oracle.items()):
        if name in skip:
            continue
        files = sorted(glob.glob(f"{results_dir}/{name}/*.parquet"))
        if not files:
            bad.append(f"{name}: no output")
            continue
        got = _canon(pd.concat([pd.read_parquet(f) for f in files]))
        want = _canon(con.sql(sql).df())
        if list(got.columns) != list(want.columns):
            bad.append(f"{name}: columns {list(got.columns)} != {list(want.columns)}")
        elif len(got) != len(want):
            bad.append(f"{name}: {len(got)} rows, oracle has {len(want)}")
        elif not got.equals(want):
            n = int((got != want).any(axis=1).sum())
            bad.append(f"{name}: {n} of {len(got)} rows differ from the oracle")
    return bad
