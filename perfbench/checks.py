"""Output checks: replayed in DuckDB over the files the pipeline job
committed, or against the counts the seeded curate corpus implies.

Each check returns a list of failure strings; empty means the output
is correct.  No Spark here, so a wrong Spark plan cannot also be the
oracle.
"""

from __future__ import annotations

from pathlib import Path

import duckdb


def _data(base: Path, stage: str) -> str:
    return f"read_parquet('{base}/{stage}/data/*/*.parquet', hive_partitioning=true)"


def pipeline(base: Path, job_id: str, n_pages: int) -> list[str]:
    """Row counts of the ingest and geocode stages on disk and in the
    lineage, and every geocoded page's stored quadgrid cell against the
    SQL mirror of the cell formula."""
    from jobs.pipeline import CELL_RES

    from earth_data_kit_spark.functions.columns import cell_id_sql

    fails: list[str] = []
    con = duckdb.connect()
    try:
        # part_key is int for some stages and bigint for others: unify by name
        lin = dict(
            con.execute(
                f"SELECT stage, sum(row_count) FROM read_parquet('{base}/lineage/*.parquet', union_by_name=true) "
                f"WHERE job_id = ? GROUP BY stage",
                [job_id],
            ).fetchall()
        )
        n_ingest = con.execute(f"SELECT count(*) FROM {_data(base, 'ingest')}").fetchone()[0]
        n_geo, n_bad_cell, n_no_leaf = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE cell <> {cell_id_sql('lon', 'lat', CELL_RES)}), "
            f"count(*) FILTER (WHERE s2_leaf IS NULL) FROM {_data(base, 'geocode')}"
        ).fetchone()
    finally:
        con.close()
    if n_ingest != n_pages or lin.get("ingest") != n_pages:
        fails.append(f"ingest rows {n_ingest} (lineage {lin.get('ingest')}) != {n_pages} pages")
    if not 0 < n_geo <= n_pages or lin.get("geocode") != n_geo:
        fails.append(f"geocode rows {n_geo} (lineage {lin.get('geocode')}) outside (0, {n_pages}]")
    if n_bad_cell or n_no_leaf:
        fails.append(f"geocode: {n_bad_cell} cells differ from the SQL replay, {n_no_leaf} pages lack an S2 leaf")
    if set(lin) != {"ingest", "geocode"}:
        fails.append(f"lineage stages {sorted(lin)}, expected ingest and geocode")
    return fails


def curate(out: dict, expected: dict, passage_chars: int, n_passage_cuts: int) -> list[str]:
    """Funnel counts against the planted cases.  The substring stage
    must cut each non-keeper copy of a planted passage: the passage
    chars, plus at most one separator per cut."""
    fails = [
        f"{k} = {out.get(k)}, planted corpus implies {v}"
        for k, v in expected.items()
        if out.get(k) != v
    ]
    removed = out.get("substring_removed_chars")
    if removed is None or not passage_chars <= removed <= passage_chars + n_passage_cuts:
        fails.append(f"substring stage removed {removed} chars, planted passages imply {passage_chars}")
    if out.get("sequences", 0) <= 0 or not 0.0 < out.get("fill_rate", 0.0) <= 1.0:
        fails.append(f"packing: {out.get('sequences')} sequences, fill rate {out.get('fill_rate')}")
    return fails
