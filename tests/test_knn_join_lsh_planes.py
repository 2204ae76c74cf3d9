"""``knn-join-lsh`` answers to an oracle that re-derives 6 hyperplanes.
``knn_join``'s ``planes=None`` auto-size picks 7 planes from 4 033 right
rows on, so the key must state its plane count: past that size an
auto-sized key buckets differently from its oracle and returns other
neighbours."""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from reverse_etl_homebrew_spark import queries as Q

from test_oracle_parity import _rowset


def _write_embeddings(path, n: int, dim: int = 64, seed: int = 7) -> None:
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(np.zeros(n, dtype=np.int32), pa.int32()),
            }
        ),
        str(path / "embeddings.parquet"),
    )


def test_knn_join_lsh_matches_oracle_past_auto_size(spark, tmp_path):
    # 4 100 right rows: the auto-size would read 7 planes here
    _write_embeddings(tmp_path, 4100)
    sdf = Q.QUERIES["knn-join-lsh"](spark, str(tmp_path))
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{tmp_path}/embeddings.parquet')"
        )
        res = con.execute(Q.ORACLE["knn-join-lsh"])
        dcols, drows = [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()

    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows), f"row count {len(srows)} vs {len(drows)}"
    assert _rowset(scols, srows) == _rowset(dcols, drows)
