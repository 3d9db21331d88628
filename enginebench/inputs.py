"""Seeded benchmark inputs.

Every table comes from the distribution family of ``tools/gen_sf.py``
with the benchmark's ``--seed`` substituted for the tool's fixed seed
(the tool itself is not edited). Row counts depend only on the scale
factor, so every seed gives the same row counts and query shapes.

The ``dedup_ingest`` arrivals (documents with ``doc_id % 10 = 9``) are
also written here, as fixed-size parquet files in ``doc_id`` order with
ascending modification times, so the streaming file source replays one
file per trigger in arrival order. So is the history band index of the
other documents, computed in DuckDB by the engine's own SQL twin of
``minhash_band_rows`` (``dedup.sql_band_rows_cte``), so that no Spark work
precedes a run's cold pass.

Inputs are cached per (scale factor, seed) under the checkout and are
made before, and outside, every timed region.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import shutil
import sys
import time

#: lineitem 60k rows, orders 15k, documents 500, embeddings 500.
SCALE_FACTOR = 0.01
#: Documents per streamed arrival file (one file per trigger).
INGEST_BATCH_DOCS = 25
#: Bump when the layout below changes, so stale caches are not reused.
LAYOUT_VERSION = 2


def _load_generator(root: str):
    path = os.path.join(root, "tools", "gen_sf.py")
    spec = importlib.util.spec_from_file_location("enginebench_gen_sf", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _write_arrivals(tables_dir: str, out_dir: str) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(
        os.path.join(tables_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    ids = docs["doc_id"].to_numpy()
    arrivals = docs.filter(pa.array(ids % 10 == 9)).sort_by("doc_id")
    os.makedirs(out_dir)
    now = time.time()
    n_files = 0
    for start in range(0, arrivals.num_rows, INGEST_BATCH_DOCS):
        path = os.path.join(out_dir, f"arrivals-{n_files:04d}.parquet")
        pq.write_table(arrivals.slice(start, INGEST_BATCH_DOCS), path)
        # the file source orders a trigger's candidates by mtime
        os.utime(path, (now + n_files, now + n_files))
        n_files += 1
    return n_files


def _write_history_index(tables_dir: str, out_dir: str) -> None:
    import duckdb

    from mrjob_spark.operators.dedup import sql_band_rows_cte

    docs = os.path.join(tables_dir, "documents.parquet")
    os.makedirs(out_dir)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW history AS SELECT doc_id, text FROM "
            f"read_parquet('{docs}') WHERE doc_id % 10 != 9")
        con.execute(
            f"COPY (WITH {sql_band_rows_cte('history')} SELECT doc_id, "
            "CAST(band_idx AS INTEGER) AS band_idx, band_hash FROM bands) "
            f"TO '{os.path.join(out_dir, 'part-00000.parquet')}' (FORMAT PARQUET)")
    finally:
        con.close()


def ensure_inputs(root: str, cache_dir: str, seed: int) -> tuple[str, float, bool]:
    """Return ``(inputs_dir, generation_seconds, was_cached)``.

    ``inputs_dir`` holds ``tables/<name>.parquet``, ``arrivals/`` and
    ``history_index/``.
    """
    final = os.path.join(
        cache_dir, f"v{LAYOUT_VERSION}-sf{SCALE_FACTOR:g}-seed{seed}"
    )
    if os.path.isdir(final):
        return final, 0.0, True
    t0 = time.monotonic()
    staging = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    gen = _load_generator(root)
    gen.SEED = seed
    tables = os.path.join(staging, "tables")
    # the generator reports each file on stdout, which carries only the
    # benchmark's result line
    with contextlib.redirect_stdout(sys.stderr):
        gen.gen(SCALE_FACTOR, tables)
    _write_arrivals(tables, os.path.join(staging, "arrivals"))
    _write_history_index(tables, os.path.join(staging, "history_index"))
    try:
        os.replace(staging, final)
    except OSError:  # a concurrent run published the same seed first
        shutil.rmtree(staging, ignore_errors=True)
    return final, time.monotonic() - t0, False
