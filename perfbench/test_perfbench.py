"""Tests of the benchmark's own parts: the generator, the output check and
the traced run's skew prediction.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import os
import shutil
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import gen  # noqa: E402
import workloads  # noqa: E402

# ~54k orders x 37 spans the 1e6 coordinate range twice, so uniform
# coverage is flat and no uniform (chr, reg) bin comes near 2x the mean
SMALL = 216_000


def _files(d):
    return sorted(os.listdir(d))


def test_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        gen.write_tables(d, seed, 20_000, hotspot=True)
        gen.write_fastq(os.path.join(d, "fq"), seed, 4, 100)
    for sub in ("", "fq"):
        names = _files(os.path.join(a, sub))
        assert names == _files(os.path.join(b, sub))
        match, mismatch, errors = filecmp.cmpfiles(
            os.path.join(a, sub), os.path.join(b, sub),
            [n for n in names if n != "fq"], shallow=False,
        )
        assert not mismatch and not errors
    assert not filecmp.cmp(f"{a}/lineitem.parquet", f"{c}/lineitem.parquet", shallow=False)


def test_generated_schemas_keys_and_hotspot(tmp_path):
    d = str(tmp_path)
    m = gen.write_tables(d, 3, 20_000, hotspot=True)
    assert m["rows"]["lineitem"] == 20_000
    assert pq.read_schema(f"{d}/lineitem.parquet").field("l_shipdate").type == pa.timestamp("us")
    con = duckdb.connect()
    n, distinct = con.execute(
        f"SELECT count(*), count(DISTINCT (l_orderkey, l_linenumber)) FROM '{d}/lineitem.parquet'"
    ).fetchone()
    assert n == distinct == 20_000
    # the planted reads land in the planted bins, through the fixture's
    # own pos and chr formulas
    li = pq.read_table(f"{d}/lineitem.parquet").to_pandas()
    c = li["l_partkey"] % 25
    pos = (li["l_orderkey"] * 37 + li["l_linenumber"] * 101) % 1_000_000 + 1
    reg = pos // (20_000 + 1_000 * c)
    planted = set(map(tuple, m["hot_regions"]))
    hot = sum((ci, ri) in planted for ci, ri in zip(c, reg))
    assert hot >= 20_000 * gen.HOT_SHARE


def test_fastq_corrupt_chunk_is_skipped(tmp_path):
    from sparkga1_spark.sources.fastq import parse_fastq_bytes

    m = gen.write_fastq(str(tmp_path), 5, 3, 50)
    for name in sorted(os.listdir(tmp_path)):
        with open(tmp_path / name, "rb") as f:
            pdf = parse_fastq_bytes(f.read(), name)
        if name == m["corrupt"]:
            assert len(pdf) == 0
        else:
            assert (len(pdf), int(pdf["read_len"].sum())) == m["expected"][name]


def test_output_check_fails_on_one_corrupted_row(tmp_path):
    from sparkga1_spark.plans.registry import get

    data = str(tmp_path / "data")
    gen.write_tables(data, 1, 20_000, hotspot=True)
    sql = get("pipeline_end_to_end")[1]
    expected = workloads.oracle_digest(data, sql)
    con = duckdb.connect()
    for t in workloads.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    vcf = con.execute(sql).df().sort_values(workloads.VCF_ORDER).reset_index(drop=True)

    def check(*parts):
        out = tmp_path / "vcf"
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir()
        for i, df in enumerate(parts):
            df.to_parquet(out / f"part-{i:05d}.parquet", index=False)
        return workloads.check_vcf(str(out), expected)

    assert check(vcf) is None
    bad = vcf.copy()
    bad.loc[len(bad) // 2, "depth"] += 1
    assert "digest" in check(bad)
    swapped = vcf.copy()
    swapped.iloc[[10, 11]] = swapped.iloc[[11, 10]].to_numpy()
    assert "order" in check(swapped)
    # rows in order and complete, but split over two files
    half = len(vcf) // 2
    assert "part files" in check(vcf.iloc[:half], vcf.iloc[half:])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import procstat
    import run

    run.pin_env(ROOT, str(tmp_path_factory.mktemp("spark")))
    from sparkga1_spark.session import get_spark

    s = get_spark("perfbench-test")
    yield s
    run.shutdown(s, procstat)


def _traced(spark, tmp_path, name):
    from tracing import Tracer

    wl = workloads.WORKLOADS[name](str(tmp_path), 1, n_reads=SMALL)
    wl.prepare()
    tr = Tracer(spark)
    tr.run_id = name
    result = wl.traced(spark, tr)
    assert wl.check(result) is None
    wl.reset()
    return workloads.layer_metrics(tr, name)


def test_traced_runs_confirm_skew_and_transform_predictions(spark, tmp_path):
    hot = _traced(spark, tmp_path / "hot", "wgs_hotspot")
    uniform = _traced(spark, tmp_path / "uni", "wgs_uniform")
    queries = _traced(spark, tmp_path / "q", "region_queries")
    assert hot["skew.heavy_keys"] > 0
    assert uniform["skew.heavy_keys"] == 0
    assert hot["skew.max_over_mean_group_rows"] > 1
    assert hot["transform.groups"] > uniform["transform.groups"]
    assert hot["fastq.bad_chunks_skipped"] == 1
    assert hot["sinks.files_written"] >= 2  # reads checkpoint + VCF
    assert all(v == 0 for k, v in queries.items() if k.startswith(("transform.", "skew.")))
    assert queries["joins.pairs_out"] > 0
    assert all(queries[f"query.{q}_s"] > 0 for q in workloads.MIX)
    assert queries["spark.jobs"] > 0 and queries["spark.tasks"] > 0
    assert hot["jvm.heap_live_mb"] > 0 and queries["jvm.heap_live_mb"] > 0
