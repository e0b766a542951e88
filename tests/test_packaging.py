"""Deployment-surface tests: the --py-files zip is importable on its own,
and the corpus reader accepts both paths and catalog table names."""

import subprocess
import sys

from tetrex_spark.sources.corpus import read_corpus, webtext_small


def test_pyfiles_zip_imports_standalone(tmp_path):
    """Zip built by scripts/make_pyfiles.py must be self-sufficient for a
    fresh interpreter with ONLY the zip on sys.path (what executors see
    under spark-submit --py-files)."""
    out = tmp_path / "tetrex_spark.zip"
    subprocess.run(
        [sys.executable, "scripts/make_pyfiles.py", str(out)],
        check=True, capture_output=True,
    )
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import tetrex_spark.kernel.bloom as b, tetrex_spark.plans.rx as rx; "
        "f = b.BloomFilter(m_bits=64, n_hashes=2); "
        "import numpy as np; f.update(np.array([1, 2], dtype=np.uint64)); "
        "assert f.contains(np.array([1], dtype=np.uint64)).all(); "
        "assert rx.to_postfix('ab|c'); print('ZIPOK')"
    )
    r = subprocess.run(
        [sys.executable, "-c", probe, str(out)],
        capture_output=True, text=True, cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr
    assert "ZIPOK" in r.stdout


def test_pyfiles_zip_deterministic(tmp_path):
    a, b = tmp_path / "a.zip", tmp_path / "b.zip"
    for out in (a, b):
        subprocess.run(
            [sys.executable, "scripts/make_pyfiles.py", str(out)],
            check=True, capture_output=True,
        )
    assert a.read_bytes() == b.read_bytes()


def test_read_corpus_path_and_table(spark, tmp_path):
    df = webtext_small(spark)
    p = str(tmp_path / "corpus.parquet")
    df.write.mode("overwrite").parquet(p)
    by_path = read_corpus(spark, p)
    assert by_path.count() == 64
    # catalog-table route (how an Iceberg table arrives on a real cluster)
    df.createOrReplaceTempView("pages_view")
    by_table = read_corpus(spark, "pages_view")
    assert by_table.count() == 64
    assert by_table.columns == by_path.columns


def test_read_corpus_warehouse_table_roundtrip(spark, tmp_path):
    """read_corpus against a REAL catalog table (saveAsTable-managed files
    under a warehouse location + catalog metadata), not just a session
    view — the closest this sandbox gets to the Iceberg route (no Iceberg
    jars here; on a cluster the same spark.read.table call resolves
    catalog.db.pages through the Iceberg catalog)."""
    df = webtext_small(spark)
    loc = (tmp_path / "warehouse_db").as_uri()
    spark.sql(f"create database if not exists tetrex_wh location '{loc}'")
    try:
        df.write.mode("overwrite").saveAsTable("tetrex_wh.pages")
        got = read_corpus(spark, "tetrex_wh.pages")
        assert got.count() == 64
        assert sorted(got.columns) == sorted(df.columns)
        # the table is file-backed under the warehouse location, and the
        # round-trip preserves content (url set identical)
        files = list((tmp_path / "warehouse_db").rglob("*.parquet"))
        assert files, "managed table must materialize parquet files"
        assert {r["url"] for r in got.select("url").collect()} == {
            r["url"] for r in df.select("url").collect()
        }
    finally:
        spark.sql("drop database if exists tetrex_wh cascade")


def test_rebalance_is_noop_when_splits_suffice(spark, tmp_path):
    from tetrex_spark.sources.corpus import rebalance

    df = spark.range(1000).repartition(64)
    out = rebalance(df, min_partitions=8)
    assert out is df  # no extra shuffle added
    few = spark.range(1000).coalesce(1)
    out2 = rebalance(few, min_partitions=8)
    assert out2.rdd.getNumPartitions() >= 8
    assert out2.count() == 1000


def test_grouped_python_work_has_one_shape():
    """Grouped Python work in the library runs as the sorted-run Arrow
    fold (operators/runs.py): no pandas group UDF or cogroup is called
    outside streaming/, whose applyInPandasWithState has no batch
    counterpart."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "tetrex_spark"
    calls = re.compile(r"\.(applyInPandas|cogroup)\(")
    found = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        if "streaming" not in path.relative_to(root).parts
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if calls.search(line)
    ]
    assert found == []


def test_storage_is_scoped():
    """Every library function that persists a frame also releases it on
    every exit — in a `finally`, or through an ExitStack callback — so a
    failure cannot leave a cached table behind; a context manager whose
    block yields the frame releases it in its own `finally`. No library
    function takes a `release` parameter: callers never carry finisher
    lists to drain."""
    import ast
    import pathlib

    def calls(node, attr):
        return any(
            isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == attr
            for n in ast.walk(node)
        )

    def releases(fn):
        return any(
            isinstance(n, ast.Try) and any(calls(s, "unpersist") for s in n.finalbody)
            or isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == "callback" and "unpersist" in ast.unparse(n)
            for n in ast.walk(fn)
        )

    root = pathlib.Path(__file__).resolve().parent.parent / "tetrex_spark"
    unscoped, release = [], []
    for path in sorted(root.rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            where = f"{path.relative_to(root)}:{fn.lineno} {fn.name}"
            a = fn.args
            if any(p.arg == "release" for p in a.posonlyargs + a.args + a.kwonlyargs):
                release.append(where)
            if calls(fn, "persist") and not releases(fn):
                unscoped.append(where)
    assert unscoped == []
    assert release == []
