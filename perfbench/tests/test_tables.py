import hashlib
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import catalog, run, tables
from vmware_sd_wan_velocloud_bi_intake_spark.queries import all_queries
from vmware_sd_wan_velocloud_bi_intake_spark.queries.base import Q
from vmware_sd_wan_velocloud_bi_intake_spark.sources.tables import TABLE_NAMES


def _file_digests(out_dir) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(out_dir, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(out_dir))
    }


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = tables.write(3, tmp_path / "a")
    assert a == tables.write(3, tmp_path / "b")
    assert _file_digests(tmp_path / "a") == _file_digests(tmp_path / "b")
    assert a != tables.write(4, tmp_path / "c")


def test_every_catalog_table_is_written_as_one_row_group(tmp_path):
    tables.write(1, tmp_path)
    assert sorted(os.listdir(tmp_path)) == sorted(f"{n}.parquet" for n in TABLE_NAMES)
    for name in TABLE_NAMES:
        assert pq.ParquetFile(tmp_path / f"{name}.parquet").metadata.num_row_groups == 1


def test_types_and_keys():
    t = tables.build(1)
    assert t["lineitem"].schema.field("l_linenumber").type == pa.int32()
    assert t["lineitem"].schema.field("l_shipdate").type == pa.timestamp("us")
    assert t["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    assert t["orders"].num_rows == tables.N["orders"]
    li = t["lineitem"].to_pandas()
    assert li["l_orderkey"].between(0, tables.N["orders"] - 1).all()
    assert li["l_partkey"].between(0, tables.N["part"] - 1).all()
    ev = t["events"].to_pandas()
    assert ev["ts"].is_monotonic_increasing


def test_documents_hold_near_but_no_exact_duplicates():
    docs = tables.build(2)["documents"].to_pandas()
    assert not docs["text"].duplicated().any()
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    shingles = [set(zip(w, w[1:], w[2:])) for w in (t.split() for t in docs["text"])]
    near = sum(
        1
        for i in range(len(shingles))
        for j in range(i + 1, len(shingles))
        if len(shingles[i] & shingles[j]) > 0.8 * len(shingles[i] | shingles[j])
    )
    assert 10 <= near <= 100


def test_probe_takes_one_query_per_module_each_with_an_oracle():
    cat = all_queries()
    mods = [catalog.module_of(cat[n]) for n in catalog.QUERIES]
    assert sorted(mods) == sorted(catalog.MODULES)
    assert all(cat[n].oracle for n in catalog.QUERIES)
    assert {f"queries.{m}_s" for m in catalog.MODULES} <= set(run.PER_LAYER)


class _Frame:
    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _probe(tmp_path, fn):
    probe = object.__new__(catalog.CatalogProbe)
    probe.spark, probe.sf_dir = None, str(tmp_path)
    probe.queries = {"n_orders": Q(fn=fn, oracle="SELECT COUNT(*) AS n FROM orders")}
    return probe


def test_oracle_check_accepts_the_right_result_and_rejects_a_wrong_one(tmp_path):
    tables.write(5, tmp_path)
    n = tables.N["orders"]
    assert _probe(tmp_path, lambda s, d: _Frame(pd.DataFrame({"n": [n]}))).oracle_issues() == []
    issues = _probe(tmp_path, lambda s, d: _Frame(pd.DataFrame({"n": [n - 1]}))).oracle_issues()
    assert len(issues) == 1 and issues[0].startswith("n_orders: values differ")


def test_seed_permutes_the_query_order(tmp_path):
    def order(seed):
        return list(catalog.CatalogProbe(None, seed, str(tmp_path), None).queries)

    assert order(1) == order(1)
    assert sorted(order(1)) == sorted(catalog.QUERIES)
    assert len({tuple(order(s)) for s in range(1, 5)}) > 1
