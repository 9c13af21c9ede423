"""io seam (parquet branch) + spark-submit CLI end-to-end."""

import json

import numpy as np
import pytest

from linkgraph import cli, datagen
from linkgraph import io as lgio
import oracles


@pytest.fixture(scope="module")
def pages_path(spark, pages30, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("io") / "pages.parquet")
    pages30.write.mode("overwrite").parquet(d)
    return d


def test_read_pages_roundtrip(spark, pages30, pages_path):
    got = lgio.read_pages(spark, pages_path)
    assert got.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert got.count() == pages30.count()


def test_write_table_bucketed_path(spark, edges30, tmp_path):
    p = str(tmp_path / "edges.parquet")
    lgio.write_table(edges30, p, buckets=4, bucket_cols=["src"])
    back = lgio.read_edges(spark, p)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, edges30.collect())
    )


def test_is_path_vs_table():
    assert lgio.is_path("/tmp/x.parquet")
    assert lgio.is_path("rel/dir")
    assert not lgio.is_path("catalog.db.pages")


def test_cli_ingest_then_pagerank(spark, pages_path, tmp_path):
    edges_out = str(tmp_path / "edges.parquet")
    s1 = cli.main(["ingest", "--input", pages_path, "--output", edges_out,
                   "--partitions", "8"])
    assert s1["num_edges"] > 0 and s1["num_vertices"] == 30

    ranks_out = str(tmp_path / "ranks.parquet")
    metrics_out = str(tmp_path / "metrics.json")
    s2 = cli.main(["pagerank", "--input", edges_out, "--output", ranks_out,
                   "--partitions", "8", "--tol", "1e-6",
                   "--metrics-out", metrics_out])
    assert s2["final_l1_delta"] < 1e-6

    got = {r["id"]: r["rank"]
           for r in lgio.read_table(spark, ranks_out).collect()}
    exp = oracles.pagerank_oracle(30, datagen.expected_edges(30))
    assert np.allclose([got[i] for i in range(30)],
                       [exp[i] for i in range(30)], atol=1e-6)
    ms = json.load(open(metrics_out))
    assert ms[-1]["l1_delta"] < 1e-6


def test_cli_triangles(spark, tmp_path, edges30):
    p = str(tmp_path / "e.parquet")
    edges30.write.parquet(p)
    s = cli.main(["triangles", "--input", p])
    assert s["triangles"] == oracles.triangle_count_oracle(
        datagen.expected_edges(30))


def test_cli_new_graph_jobs(spark, tmp_path, edges30):
    p = str(tmp_path / "e2.parquet")
    edges30.write.mode("overwrite").parquet(p)
    rows = datagen.expected_edges(30)

    s = cli.main(["scc", "--input", p])
    assert s["rounds"] >= 1
    s = cli.main(["bfs", "--input", p, "--sources", "0",
                  "--output", str(tmp_path / "bfs.parquet")])
    got = {r["id"]: r["dist"]
           for r in lgio.read_table(spark, str(tmp_path / "bfs.parquet")).collect()}
    assert got == oracles.bfs_oracle(rows, [0])
    s = cli.main(["corenums", "--input", p])
    assert s["rounds"] >= 1
    s = cli.main(["walks", "--input", p, "--sources", "0,1,2",
                  "--walk-length", "4",
                  "--output", str(tmp_path / "walks.parquet")])
    w = lgio.read_table(spark, str(tmp_path / "walks.parquet")).collect()
    assert {r["walk_id"] for r in w} == {0, 1, 2}
    s = cli.main(["closeness", "--input", p, "--sources", "0,5",
                  "--output", str(tmp_path / "cl.parquet")])
    cl = lgio.read_table(spark, str(tmp_path / "cl.parquet")).collect()
    assert {r["s"] for r in cl} == {0, 5}
    s = cli.main(["components-star", "--input", p,
                  "--output", str(tmp_path / "ccs.parquet")])
    labs = {r["id"]: r["component"]
            for r in lgio.read_table(spark, str(tmp_path / "ccs.parquet")).collect()}
    comp = oracles.components_oracle(30, rows)
    verts = {v for e in rows for v in e}
    assert labs == {v: int(comp[v]) for v in verts}


def test_spark_submit_py_files_launch(spark, edges30, tmp_path):
    """The north rule's literal launch mode: spark-submit --py-files
    linkgraph.zip from a NEUTRAL cwd (the package is importable only
    from the shipped zip), fresh driver JVM, output read back and
    checked against the pure-python PageRank oracle."""
    import os
    import shutil
    import subprocess
    import zipfile

    import linkgraph

    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    if not os.path.exists(submit):
        pytest.skip("spark-submit not on PATH")

    pkg = os.path.dirname(os.path.abspath(linkgraph.__file__))
    zpath = str(tmp_path / "linkgraph.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.join(
                        "linkgraph", os.path.relpath(full, pkg)))

    edges_path = str(tmp_path / "edges.parquet")
    edges30.write.mode("overwrite").parquet(edges_path)
    main_py = str(tmp_path / "submit_job.py")
    shutil.copy(
        os.path.join(os.path.dirname(pkg), "tools", "submit_job.py"), main_py)

    ranks_path = str(tmp_path / "ranks.parquet")
    metrics_path = str(tmp_path / "metrics.json")
    proc = subprocess.run(
        [submit, "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.driver.memory=2g",
         "--py-files", zpath, main_py,
         "pagerank", "--input", edges_path, "--output", ranks_path,
         "--tol", "1e-6", "--max-iter", "60",
         "--metrics-out", metrics_path],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    got = {r["id"]: r["rank"]
           for r in lgio.read_table(spark, ranks_path).collect()}
    exp = oracles.pagerank_oracle(30, datagen.expected_edges(30))
    assert np.allclose([got[i] for i in range(30)],
                       [exp[i] for i in range(30)], atol=1e-6)
    ms = json.load(open(metrics_path))
    assert ms[-1]["l1_delta"] < 1e-6
