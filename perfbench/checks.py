"""Correctness checks on one pipeline run's output directory, done with
duckdb straight from the parquet/text files (no Spark involved)."""

from __future__ import annotations

import glob
import hashlib
import os
from typing import Dict, List, Tuple

import duckdb

TRIPLE_COLS = "subj, pred, obj, obj_is_literal, obj_datatype, doc_iri, src_repo, src_path, src_commit, src_sha256"

# table -> (file glob under the output dir, columns that define it).
# run ids and the per-task _metrics rows differ on every run by design.
TABLES = {
    "triples": ("triples/*/*.parquet", TRIPLE_COLS),
    "errors": ("errors/*/*.parquet", "src_repo, src_path, src_commit, src_sha256, stage, message"),
    "progress": ("_progress/*.parquet", "src_repo, src_path, src_commit, src_sha256, n_triples, n_errors"),
    "nodes": ("nodes/*.parquet", "*"),
    "edges": ("edges/*.parquet", "*"),
    "inferred": ("inferred/*/*.parquet", "*"),
    "canonical_nodes": ("canonical_nodes/*.parquet", "*"),
    "canonical_edges": ("canonical_edges/*.parquet", "*"),
}


def _source(out_dir: str, pattern: str) -> str:
    files = sorted(glob.glob(os.path.join(out_dir, pattern)))
    if not files:
        raise FileNotFoundError(f"no files for {pattern} under {out_dir}")
    quoted = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    return f"read_parquet([{quoted}], hive_partitioning=false)"


def digests(con: duckdb.DuckDBPyConnection, out_dir: str) -> Dict[str, str]:
    """Order-independent digest per output table: row count plus the
    md5 of the sorted row md5s."""
    out = {}
    for name, (pattern, cols) in TABLES.items():
        src = _source(out_dir, pattern)
        n, h = con.execute(
            f"SELECT count(*), md5(coalesce(string_agg(h, '' ORDER BY h), '')) "
            f"FROM (SELECT md5(CAST(r AS VARCHAR)) AS h FROM (SELECT {cols} FROM {src}) r)"
        ).fetchone()
        out[name] = f"{n}:{h}"
    lines = []
    for f in sorted(glob.glob(os.path.join(out_dir, "ntriples", "*.txt"))):
        with open(f, encoding="utf-8") as fh:
            lines += fh.read().splitlines()
    row_md5s = sorted(hashlib.md5(line.encode()).hexdigest() for line in lines)
    out["ntriples"] = f"{len(lines)}:{hashlib.md5(''.join(row_md5s).encode()).hexdigest()}"
    return out


def check_run(con, out_dir: str, wl) -> List[str]:
    """Every failed check on one run's output, as a message."""
    fails = []
    onto = {(r[0], r[1]): r for r in wl.corpus.ontology_rows}
    progress = con.execute(
        f"SELECT src_repo, src_path, src_commit, n_triples, n_errors FROM {_source(out_dir, TABLES['progress'][0])}"
    ).fetchall()
    seen = {(r[0], r[1]) for r in progress}
    if len(progress) != len(onto) or seen != set(onto):
        fails.append(f"_progress has {len(progress)} rows for {len(seen)} docs, input has {len(onto)} ontology docs")
    bad = {(r[0], r[1]) for r in progress if r[4]}
    if bad != set(wl.corpus.malformed):
        fails.append(f"error docs {sorted(bad)} != injected malformed docs {sorted(wl.corpus.malformed)}")
    errors = con.execute(f"SELECT src_repo, src_path FROM {_source(out_dir, TABLES['errors'][0])}").fetchall()
    if sorted(errors) != sorted(wl.corpus.malformed):
        fails.append(f"error rows {sorted(errors)} != injected malformed docs")
    per_doc = {
        (r, p): n
        for r, p, n in con.execute(
            f"SELECT src_repo, src_path, count(*) FROM {_source(out_dir, TABLES['triples'][0])} GROUP BY ALL"
        ).fetchall()
    }
    progress_n = {(r[0], r[1]): r[3] for r in progress}
    wrong = [k for k, n in wl.expected_triples.items() if per_doc.get(k) != n or progress_n.get(k) != n]
    if wrong or set(per_doc) != set(wl.expected_triples):
        fails.append(f"{len(wrong)} docs whose triple count differs from DocumentParser, e.g. {wrong[:3]}")
    return fails


def query_twins(con, out_dir: str, queries) -> Dict[str, List[Tuple]]:
    """Each query's expected rows: its SQL twin over the triples table."""
    con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM {_source(out_dir, TABLES['triples'][0])}")
    return {q.name: normalize(con.execute(q.sql).fetchall(), ordered="LIMIT" in q.sql) for q in queries}


def normalize(rows, ordered: bool = False) -> List[Tuple]:
    out = [tuple(None if v is None else str(v) for v in r) for r in rows]
    return out if ordered else sorted(out, key=repr)
