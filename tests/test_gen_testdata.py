"""The sf1 scaling probe rests on tools/gen_testdata.py producing a
faithful DISTRIBUTIONAL twin of the driver's testdata — these tests pin
the twin to the driver's actual files so silent drift (a dtype change, a
renamed column, a broken scaling constant) fails loudly instead of
quietly invalidating the sf1 column in SCALING.md."""

import json
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def twin_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("twin") / "sf0.001"
    subprocess.run(
        [sys.executable,
         str(Path(__file__).resolve().parents[1] / "tools/gen_testdata.py"),
         "0.001",
         str(out)], check=True, capture_output=True)
    return str(out)


def test_twin_schemas_match_driver(twin_dir):
    for t in TABLES:
        drv = pq.read_schema(f"/root/testdata/sf0.001/{t}.parquet")
        twn = pq.read_schema(f"{twin_dir}/{t}.parquet")
        assert [(f.name, str(f.type)) for f in drv] == \
               [(f.name, str(f.type)) for f in twn], t


def test_twin_row_counts_scale(twin_dir):
    expect = {"region": 5, "nation": 25, "customer": 150,
              "supplier": 10, "part": 200, "orders": 1500,
              "events": 1000, "documents": 500, "embeddings": 500}
    for t, n in expect.items():
        assert pq.read_metadata(f"{twin_dir}/{t}.parquet").num_rows == n, t
    # lineitem is Poisson(4) per order: mean 4*1500 within 5 sigma
    n_li = pq.read_metadata(f"{twin_dir}/lineitem.parquet").num_rows
    assert abs(n_li - 6000) < 5 * (4 * 1500) ** 0.5


def test_twin_value_domains(twin_dir):
    import duckdb

    con = duckdb.connect()
    one = lambda s: con.execute(s).fetchone()  # noqa: E731
    # part: the 64-name property jw_part_pairs' scale story depends on
    nn, brands, types = one(
        f"select count(distinct p_name), count(distinct p_brand), "
        f"count(distinct p_type) from '{twin_dir}/part.parquet'")
    assert nn <= 64 and brands <= 25 and types == 6
    # events: 30-day window, json props, 5 types
    lo, hi, k0, k1 = one(
        f"select min(ts), max(ts), "
        f"min(cast(json_extract(props,'$.k') as int)), "
        f"max(cast(json_extract(props,'$.k') as int)) "
        f"from '{twin_dir}/events.parquet'")
    assert str(lo)[:7] == "2024-01" and str(hi)[:10] <= "2024-01-31"
    assert 0 <= k0 and k1 <= 99
    # documents: driver vocab only, source = src{id%20}
    extra, = one(
        f"select count(*) from (select unnest(string_split(text,' ')) w "
        f"from '{twin_dir}/documents.parquet') where w not in (select "
        f"unnest(string_split(text,' ')) from "
        f"'/root/testdata/sf0.001/documents.parquet')")
    assert extra == 0
    bad_src, = one(
        f"select count(*) from '{twin_dir}/documents.parquet' "
        f"where source != 'src' || cast(doc_id % 20 as varchar)")
    assert bad_src == 0
    # embeddings: unit-norm 64-dim
    import numpy as np
    t = pq.read_table(f"{twin_dir}/embeddings.parquet")
    emb = np.array(t.column("embedding").to_pylist())
    assert emb.shape[1] == 64
    assert np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-5)
